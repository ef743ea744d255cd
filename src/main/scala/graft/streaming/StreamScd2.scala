package graft.streaming

import graft.ops.Scd2
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery

/** Continuous SCD2 dimension maintenance — the streaming twin of
  * [[graft.ops.Scd2.applyCdc]]. The reference's monitor mode implies continuously maintained dimensions (every
  * upsert of a doc id opens a new version and closes the previous one,
  * `index.js:143-170`); batch `applyCdc` proves apply ≡ full rebuild
  * once, this class keeps that equality true UNDER A STREAM of version
  * batches.
  *
  * Per micro-batch (`foreachBatch`): read the current dimension, run
  * the O(batch + touched-history) CDC apply, land the result as a new
  * `data-<batchId>` directory, and commit it by creating the
  * `_commit-<batchId>` marker.
  *
  * Exactly-once under at-least-once delivery: `applyCdc` is NOT
  * idempotent (re-applying an absorbed batch would re-union its version
  * rows and double-number the history), so the dimension data and the
  * batch id that built it must become visible TOGETHER. The commit
  * point is the CREATION of a marker file whose NAME carries the batch
  * id (`_commit-<batchId>`, content irrelevant): file creation is
  * atomic on every filesystem of interest — an HDFS/POSIX create, and
  * even an object-store PUT of a new key — so there is no torn state
  * and, unlike an overwrite-rename pointer file, no filesystem is
  * excluded (see [[StateFs]] for the full atomicity boundary). The live
  * dimension is the HIGHEST committed marker's `data-` directory.
  * Crash before the marker lands: the replay re-applies onto the
  * previous marker's data — correct; the abandoned directory is swept
  * at the next apply. Crash after: the replay reads
  * `batchId <= applied` and skips — correct, the data already includes
  * it. A batch id further back than the replay margin means the
  * streaming checkpoint was reset against an existing dimension — fail
  * loudly rather than silently fork the history
  * ([[StateFs.alreadyApplied]], the policy every exactly-once owner shares).
  *
  * Scale shape: identical to batch `applyCdc` — untouched entities pass
  * through the size-gated broadcast anti join and never re-shuffle;
  * touched entities re-window over their own history only;
  * `timeShards`/`autoThreshold` forward to [[graft.ops.TimeShard]] for
  * bot entities. Nothing driver-side grows with the dimension: the
  * commit marker is an empty file, the sweep walks ≤ a handful of
  * directory names, and the state root lives on whatever (Hadoop-
  * resolvable) filesystem the caller names — cluster storage included.
  */
final class StreamScd2(
    spark: SparkSession, dimDir: String,
    entityCol: String = "user_id", tieCol: String = "event_id",
    tsCol: String = "ts", timeShards: Int = 1, autoThreshold: Long = 0L,
    broadcastThreshold: Long = 4000000L) {

  private val root = new Path(dimDir)
  private val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
  fs.mkdirs(root)

  private val CommitPrefix = "_commit-"

  /** The batch id a `data-`/`_commit-` name carries, None for names that
    * are not the protocol's (a manual `data-backup` copy, editor debris)
    * — those are SKIPPED by [[current]] and the sweep rather than
    * crashing the stream, mirroring `StateFs.versionOf`'s tolerance.
    */
  private def idOf(name: String, prefix: String): Option[Long] =
    if (name.startsWith(prefix)) name.stripPrefix(prefix).toLongOption
    else None

  /** `(directory, batchId)` of the live dimension — the highest
    * committed marker — None before batch 0.
    */
  private def current(): Option[(Path, Long)] = {
    val ids = StateFs.listNames(fs, root).flatMap(idOf(_, CommitPrefix))
    if (ids.isEmpty) None
    else { val id = ids.max; Some((new Path(root, s"data-$id"), id)) }
  }

  /** Last batch id the live dimension includes (−1 before batch 0). */
  def appliedBatch(): Long = current().map(_._2).getOrElse(-1L)

  /** The live dimension table, None before the first batch lands. */
  def dim(): Option[DataFrame] =
    current().map { case (dir, _) => spark.read.parquet(dir.toString) }

  /** Point-in-time-correct enrichment of `events` against the LIVE
    * dimension ([[graft.ops.Scd2.lookup]]): each event joins the
    * version valid at its own timestamp, so a micro-batch enriched
    * mid-stream gets exactly the rows a batch lookup over the final
    * dimension would give it for the same events — the feature-store
    * join that prevents label leakage (today's dimension row must never
    * decorate yesterday's event). None before the first batch lands.
    * `events` must not carry dimension column names other than the
    * entity key (rename first — [[graft.ops.Scd2.lookup]] enforces it);
    * the dimension's tie column surfaces as `version_<tieCol>`. The
    * instance's `timeShards`/`autoThreshold` forward to the lookup: a
    * deployment whose entities need sharded MAINTENANCE has the same
    * bot profile at enrichment time, and the two lookup forms are
    * bit-identical (Scd2Spec), so forwarding changes plans, never rows.
    */
  def lookup(events: DataFrame, eventTsCol: String = "ts",
             joinType: String = "left"): Option[DataFrame] =
    dim().map { d =>
      graft.ops.Scd2.lookup(events,
        d.withColumnRenamed(tieCol, s"version_$tieCol"),
        entityCol, eventTsCol, joinType = joinType,
        timeShards = timeShards, autoThreshold = autoThreshold)
    }

  /** One micro-batch application; also callable directly for replay
    * tests. The batch must carry `(entityCol, tieCol, tsCol)`.
    */
  def applyBatch(batch: DataFrame, batchId: Long): Unit = {
    if (StateFs.alreadyApplied(spark, batchId, appliedBatch(), "dimension",
        "The streaming checkpoint was likely reset against an existing " +
          s"dimension. Delete $dimDir to rebuild from the stream, or " +
          "restore the original checkpointLocation.")) return
    // sweep abandoned directories and retired markers (a crashed write,
    // the committed-away previous dimension) BEFORE reading current —
    // never after the commit, when a crash window would leave the live
    // marker naming a swept dir. Stale ids are all < the live id (the
    // live marker is the listing's max), so no deletion order here can
    // change what current() resolves mid-sweep.
    val keep = current().map(_._2)
    StateFs.listNames(fs, root).foreach { n =>
      val stale =
        idOf(n, "data-").exists(id => !keep.contains(id)) ||
        idOf(n, CommitPrefix).exists(id => !keep.contains(id))
      if (stale) StateFs.deleteRecursively(fs, new Path(root, n))
    }
    val versions = batch.select(col(entityCol), col(tieCol), col(tsCol))
    val next = dim() match {
      case Some(d) => Scd2.applyCdc(d, versions, entityCol, tieCol, tsCol,
        timeShards, broadcastThreshold, autoThreshold)
      case None => Scd2.build(versions, entityCol, tieCol, tsCol,
        timeShards, autoThreshold)
    }
    val target = new Path(root, s"data-$batchId")
    next.write.parquet(target.toString)
    // the commit: create the marker whose NAME is the batch id. Never
    // overwritten (a replay returns above before reaching here), so
    // overwrite=false keeps a protocol bug loud instead of silent.
    fs.create(new Path(root, s"$CommitPrefix$batchId"), false).close()
  }

  /** Wire a streaming version feed through [[applyBatch]]. */
  def start(versions: DataFrame, checkpointDir: String): StreamingQuery =
    versions.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch((b: DataFrame, id: Long) => applyBatch(b, id))
      .start()
}
