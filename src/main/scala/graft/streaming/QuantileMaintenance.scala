package graft.streaming

import graft.functions.{QuantileSketch, QuantileSketchAgg, QuantileSketchOps}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.col
import org.apache.hadoop.fs.Path

/** Exactly-once maintenance of a [[graft.functions.QuantileSketchAgg]]
  * quantile sketch over a micro-batch stream — maintained percentiles
  * ("p50/p99 latency right now") without per-value state: per-batch work
  * is one fixed-size partial sketch, the persisted state is
  * `O(k log(n/k))` doubles regardless of stream history.
  *
  * Sketch merge is associative but NOT idempotent (re-merging a replayed
  * batch double-counts its mass), so exactly-once uses the same
  * versioned-file commit as [[SketchMaintenance]] ([[StateFs]], Hadoop
  * `FileSystem`): the persisted file's NAME carries the batchId that
  * built it, a replay is skipped, a batchId behind the replay margin
  * (reset checkpoint) fails loudly ([[StateFs.alreadyApplied]]), and
  * the commit is a staging write + dst-absent rename — a crash leaves
  * the old or the new sketch, never a torn one. The certified
  * rank-error bound ([[QuantileSketchOps.bound]]) survives maintenance:
  * merging only adds the parts' errors.
  *
  * Scale shape: executors reduce each batch to one sketch (partials
  * merge map-side inside the agg); only that sketch reaches the driver,
  * which owns the tiny persisted file.
  *
  * Wire into a stream with
  * `df.writeStream.foreachBatch(qm.applyBatch _)`.
  */
final class QuantileMaintenance(dir: String, valCol: String, k: Int = 512) {

  private def root = new Path(dir)
  private def fs = root.getFileSystem(StateFs.activeHadoopConf())

  /** Apply one micro-batch (also callable directly in batch replays). */
  def applyBatch(batch: DataFrame, batchId: Long): Unit = {
    val (applied, state) = readState()
    if (StateFs.alreadyApplied(batch.sparkSession, batchId, applied,
        "quantile-sketch", "The streaming checkpoint was likely reset " +
          s"against an existing sketch — delete $dir to rebuild from the " +
          "stream's retained history, or restore the checkpoint.")) return
    val arr = batch
      .agg(QuantileSketchAgg(col(valCol), k).as("sk"))
      .collect()(0).getSeq[Double](0).toArray
    val partial = QuantileSketch.fromEvalArray(arr, k)
    // merge into a FRESH sketch at the configured k: the receiving
    // buffer's k governs compaction, and a deserialized state sketch
    // only carries a level0-length HEURISTIC for k — merging into it
    // directly could silently compact at a k far below the configured
    // one (precision loss the error bound would book but the operator
    // never intended)
    val merged = state match {
      case Some(s) =>
        val target = new QuantileSketch(k)
        target.mergeIn(s)
        target.mergeIn(partial)
        target
      case None => partial
    }
    write(batchId, merged.serialize())
  }

  /** The maintained sketch, if any batch has been applied. */
  def sketch(): Option[QuantileSketch] = readState()._2

  /** Estimated `p`-quantile of everything the stream has delivered
    * (None before any batch lands).
    */
  def quantile(p: Double): Option[Double] =
    sketch().map(s => QuantileSketchOps.quantile(new GenericArrayData(s.toArray), p))

  /** Certified worst-case rank error of [[quantile]] probes. */
  def bound(): Option[Long] =
    sketch().map(s => QuantileSketchOps.bound(new GenericArrayData(s.toArray)))

  private def readState(): (Long, Option[QuantileSketch]) =
    StateFs.readVersioned(fs, root, "qsketch", ".bin") match {
      case None => (-1L, None)
      case Some((applied, bytes)) =>
        (applied, Some(QuantileSketch.deserialize(bytes)))
    }

  private def write(batchId: Long, sketchBytes: Array[Byte]): Unit =
    StateFs.writeVersioned(fs, root, "qsketch", ".bin", batchId, sketchBytes)
}
