package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Change-feed compaction: the warehouse's rules, in ONE place that the
  * batch build ([[graft.Warehouse]]) and the monitor
  * ([[graft.streaming.StreamIngest]]) both call, so that a feed gives the
  * same tables however its batches fall.
  *
  * The reference applies each change row-by-row against the table of its
  * doc's type (`lib/sqlite.js:72,81`): `REPLACE INTO` for upserts (last
  * writer wins by primary key `id`, `lib/sqlite.js:82`), `DELETE FROM …
  * WHERE id=?` for tombstones (`lib/sqlite.js:95-98`); it drops `_design/`
  * documents (`lib/sqlite.js:70`), and the first doc of a type fixes that
  * type's schema (A6). Because the feed is at-least-once, idempotence comes
  * from the PK replace. Three rules follow:
  *
  *   1. last writer wins per `(id, docType)`: the latest live row of each
  *      `(id, docType)` survives unless a tombstone of that id carries a
  *      higher seq; the latest tombstone of an id is retained, so a delete
  *      wins over a late replay and a re-created doc wins by its higher
  *      seq. A doc that changes type stays in its old type's table until a
  *      tombstone removes it from all of them ([[byType]], and
  *      [[latestByType]] on the driver);
  *   2. a docType's schema donor is its first live doc in the feed by seq,
  *      even when a later change supersedes or deletes it ([[donor]], and
  *      [[firstDocs]] on the driver);
  *   3. the type set is the types with a donor: a type whose every doc was
  *      deleted keeps its (empty) table.
  *
  * Distributed form: ONE hash shuffle on `id` lands a tombstone with the
  * rows of its id, so delete application (A11's anti-join) is a filter and
  * replayed duplicates collapse in the window: exactly-once table state
  * from at-least-once delivery, with no broadcast and no skewed key.
  */
object Compact {

  /** Latest state per document id from a batch of changes of one type:
    * one row per surviving (non-deleted, non-design) document, metadata
    * columns retained (`changes` must carry `id`, `seqNum`, `deleted`).
    */
  def apply(changes: DataFrame): DataFrame = latestChanges(changes).where(!col("deleted"))

  /** Latest change per id with TOMBSTONES RETAINED (design docs dropped):
    * the outbound change feed's form of [[apply]], one shuffle on id.
    */
  def latestChanges(changes: DataFrame): DataFrame =
    changes.where(!design)
      .withColumn("_rn", row_number().over(Window.partitionBy(col("id")).orderBy(col("seqNum").desc)))
      .where(col("_rn") === 1)
      .drop("_rn")

  private def design: Column = col("id").startsWith("_design")

  /** A row a table can show: not deleted, not a `_design/` doc. */
  def liveDoc: Column = !col("deleted") && !design

  /** A document's tombstone: rule 1 retains the latest of each id. */
  def tombstone: Column = col("deleted") && !design

  /** A row's `(seqNum, doc)`: a docType's least is its donor (rule 2). */
  def donor: Column = when(col("doc").isNotNull, struct(col("seqNum"), col("doc")))

  /** Rule 1 over `changes` (`id`, `seqNum`, `deleted`, `doc`, any other
    * column carried along): ONE row per `(id, t)` group, `t` being
    * `liveType` on [[liveDoc]] rows and null on the rest (tombstones and
    * design docs), with every input column of the group's latest row and
    *   - `t`;
    *   - `live`: whether that row survives — it is live and no tombstone of
    *     its id has a higher seq;
    *   - `first`: the group's least [[donor]], kept even when compaction
    *     discards that version.
    * `within`: columns that are functions of id, added to both windows'
    * keys so that input already partitioned on them needs no second
    * exchange. `t` is derived after the exchange, so it is never shuffled.
    */
  def byType(changes: DataFrame, liveType: Column, within: Column*): DataFrame = {
    val group = Window.partitionBy(within ++ Seq(col("id"), col("t")): _*).orderBy(col("seqNum").desc)
    val first = min(donor).over(group.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
    changes
      .withColumn("_tomb", max(when(col("deleted"), col("seqNum")))
        .over(Window.partitionBy(within :+ col("id"): _*)))
      .withColumn("t", when(liveDoc, liveType))
      .select(col("*"), row_number().over(group).as("_rn"), first.as("first"))
      .where(col("_rn") === 1)
      .withColumn("live", col("t").isNotNull && (col("_tomb").isNull || col("seqNum") > col("_tomb")))
      .drop("_rn", "_tomb")
  }

  /** A change as the driver-side rules read it: `docType` is the type of a
    * live change (null for any other, and where no split applies).
    */
  trait Change {
    def id: String
    def seqNum: Long
    def deleted: Boolean
    def docType: String
  }

  /** Rule 1 on the driver, for changes already free of `_design/` docs:
    * each id's latest tombstone, and per `(id, docType)` the latest live
    * change above it — what [[byType]] keeps of them — ordered by id.
    */
  def latestByType[C <: Change](changes: Seq[C]): Seq[C] =
    changes.groupBy(_.id).toSeq.sortBy(_._1).flatMap { case (_, cs) =>
      val (tombs, docs) = cs.partition(_.deleted)
      val tomb = tombs.maxByOption(_.seqNum)
      tomb.toSeq ++ docs.groupBy(c => Option(c.docType)).values.map(_.maxBy(_.seqNum))
        .filter(c => tomb.forall(_.seqNum < c.seqNum)).toSeq.sortBy(_.seqNum)
    }

  /** Rule 2 on the driver: each docType's donor among live changes given
    * as `(docType, seqNum, doc)` — the least `(seqNum, doc)`, as [[donor]]
    * orders them.
    */
  def firstDocs(docs: Seq[(String, Option[Long], String)]): Map[String, String] =
    docs.filter(_._3 != null).groupBy(_._1).map { case (t, ds) => t -> ds.minBy(d => (d._2, d._3))._3 }
}
