package graft.streaming

import graft.functions.{CountMin, CountMinSketchAgg}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Exactly-once maintenance of a count-min frequency sketch over a
  * micro-batch stream — streaming heavy hitters ("what's trending")
  * without per-key state: per-batch work is one fixed-size partial
  * sketch, and history length never grows the state.
  *
  * CMS is a counter monoid, so maintenance is a vector add of the
  * batch's partial into the persisted sketch. Crucially the merge is NOT
  * idempotent (re-adding a replayed batch double-counts), so the
  * exactly-once mechanism is the versioned-file commit ([[StateFs]],
  * Hadoop `FileSystem` — the state lives wherever the data lives): the
  * persisted file's NAME carries the batchId that built it, a replay of
  * that batchId is skipped, and a batchId further back than the replay
  * margin (a reset streaming checkpoint) fails loudly instead of
  * silently double- or under-counting ([[StateFs.alreadyApplied]]). The commit is a
  * staging write + dst-absent rename — a crash leaves either the old or
  * the new sketch, never a torn one.
  *
  * Scale shape: the executor side reduces the batch to `depth × width`
  * longs ([[CountMinSketchAgg]] partials merge map-side); only that one
  * vector reaches the driver, which owns the (tiny) persisted file.
  *
  * Wire into a stream with
  * `df.writeStream.foreachBatch(sm.applyBatch _)`.
  */
final class SketchMaintenance(dir: String, keyCol: String,
                              depth: Int = 4, width: Int = 2048) {

  private def root = new Path(dir)
  private def fs = root.getFileSystem(StateFs.activeHadoopConf())

  /** Apply one micro-batch (also callable directly in batch replays). */
  def applyBatch(batch: DataFrame, batchId: Long): Unit = {
    val (applied, counters) = readState()
    if (StateFs.alreadyApplied(batch.sparkSession, batchId, applied, "sketch",
        "The streaming checkpoint was likely reset against an existing " +
          s"sketch — delete $dir to rebuild from the stream's retained " +
          "history, or restore the checkpoint.")) return
    val partial = batch
      .agg(CountMinSketchAgg(col(keyCol), depth, width).as("sk"))
      .collect()(0).getSeq[Long](0).toArray
    val merged = new Array[Long](partial.length)
    merged(0) = depth.toLong; merged(1) = width.toLong
    var i = 2
    while (i < merged.length) {
      merged(i) = partial(i) + (if (counters.isEmpty) 0L else counters(i))
      i += 1
    }
    write(batchId, merged)
  }

  /** The maintained sketch `[depth, width, counters…]`, if any batch
    * has been applied.
    */
  def sketch(): Option[Array[Long]] = {
    val (applied, counters) = readState()
    if (applied < 0) None else Some(counters)
  }

  /** Frequency estimate for `key` from the maintained sketch (0 before
    * any batch lands).
    */
  def estimate(key: Long): Long =
    sketch().map(CountMin.estimate(_, key)).getOrElse(0L)

  /** `(appliedBatchId, [depth, width, counters…])`; (-1, empty) when no
    * sketch is persisted yet.
    */
  private def readState(): (Long, Array[Long]) =
    StateFs.readVersioned(fs, root, "cms", ".bin") match {
      case None => (-1L, Array.empty)
      case Some((applied, bytes)) =>
        val bb = java.nio.ByteBuffer.wrap(bytes)
        val counters = new Array[Long](bb.remaining() / 8)
        var i = 0
        while (bb.remaining() >= 8) { counters(i) = bb.getLong; i += 1 }
        require(counters.length == 2 + depth * width &&
          counters(0) == depth && counters(1) == width,
          s"persisted sketch at $dir has different depth/width than this " +
            s"instance (${if (counters.length >= 2) s"${counters(0)}x${counters(1)}"
            else "truncated"} vs ${depth}x$width)")
        (applied, counters)
    }

  private def write(batchId: Long, counters: Array[Long]): Unit = {
    val bb = java.nio.ByteBuffer.allocate(8 * counters.length)
    counters.foreach(bb.putLong)
    StateFs.writeVersioned(fs, root, "cms", ".bin", batchId, bb.array())
  }
}
