package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Change-feed compaction: the Spark-native form of the reference's upsert /
  * delete sink.
  *
  * The reference applies each change row-by-row against the target DB:
  * `REPLACE INTO` for upserts (last writer wins by primary key `id`,
  * `lib/sqlite.js:82`), `DELETE FROM … WHERE id=?` for tombstones
  * (`lib/sqlite.js:95-98`), and drops `_design/` documents
  * (`lib/sqlite.js:70`). Because the feed is at-least-once, idempotence
  * comes from the PK replace.
  *
  * Distributed equivalent: one shuffle on `id` resolves ALL of that —
  * `row_number` over (id, ordered by seqNum desc) picks the last writer,
  * and keeping the `deleted` flag through compaction turns delete
  * application into a trailing filter (semantically the anti-join of A11
  * but with zero extra shuffle, since the tombstone and the row land in the
  * same partition). Replayed duplicates collapse in the same window, giving
  * exactly-once table state from at-least-once delivery.
  *
  * Scale note: this is a single hash-partitioned shuffle on the document id
  * — the natural key distribution of a CDC stream. No broadcast, no
  * driver-side state; skewed ids cannot exist (one doc = one id), so no
  * salting is needed.
  */
object Compact {

  /** Latest state per document id from a batch of changes.
    *
    * @param changes columns must include `id`, `seqNum`, `deleted`.
    * @return one row per surviving (non-deleted, non-design) document,
    *         metadata columns retained.
    */
  def apply(changes: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("id")).orderBy(col("seqNum").desc)
    changes
      .where(!col("id").startsWith("_design"))
      .withColumn("_rn", row_number().over(w))
      .where(col("_rn") === 1 && !col("deleted"))
      .drop("_rn")
  }

  /** Latest change per id with TOMBSTONES RETAINED (design docs still
    * dropped) — the CDC form of [[apply]]: consumers of an outbound
    * change feed need the delete events, not just the survivors. Same
    * single shuffle on id. `within`: columns that are functions of id,
    * added to the window's key so that input already partitioned on them
    * needs no second exchange.
    */
  def latestChanges(changes: DataFrame, within: Column*): DataFrame = {
    val w = Window.partitionBy(within :+ col("id"): _*).orderBy(col("seqNum").desc)
    changes
      .where(!col("id").startsWith("_design"))
      .withColumn("_rn", row_number().over(w))
      .where(col("_rn") === 1)
      .drop("_rn")
  }

  /** Delete application as an explicit anti-join (reference A11) — used when
    * tombstones arrive separately from the base table (e.g. applying an
    * incremental batch to an existing warehouse table).
    */
  def applyDeletes(base: DataFrame, tombstones: DataFrame): DataFrame =
    base.join(tombstones.select("id"), Seq("id"), "left_anti")

  /** Merge an incremental compacted batch into an existing table:
    * last-writer-wins union then recompact. Both sides must carry
    * `id`/`seqNum`/`deleted`.
    */
  def merge(existing: DataFrame, batch: DataFrame): DataFrame =
    apply(existing.unionByName(batch, allowMissingColumns = true))
}
