package graft.streaming

import graft.functions.TextAnalysis
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.charset.StandardCharsets
import org.apache.hadoop.fs.Path

/** Exactly-once maintenance of the source-distribution drift monitor
  * (the streaming twin of [[graft.TrainingQueries.sourceDrift]]): per
  * micro-batch, count the batch's hashed-unigram feature cells
  * (source × bucket — map-side-combinable, at most `sources × buckets`
  * rows ever reach the driver) and merge them into a persisted cell
  * table; [[drift]] then reports each source's total variation distance
  * from the corpus mix in the same milli fixed point as the batch
  * operator — the two agree EXACTLY on the same data (integer math both
  * sides; the spec pins the parity).
  *
  * Cell counts are an additive monoid, so maintenance is a vector add —
  * NOT idempotent under replays, hence the same batchId-marker +
  * atomic-rename pattern as [[SketchMaintenance]]/[[StreamIngest]]:
  * replayed batches are skipped, a batchId further back than the replay
  * margin (a reset streaming checkpoint) fails loudly
  * ([[StateFs.alreadyApplied]]).
  *
  * State size: `sources × buckets` longs regardless of stream history —
  * the drift monitor a 100 TB/day multi-source ingest can afford to keep
  * forever. Wire into a stream with
  * `df.writeStream.foreachBatch(dm.applyBatch _)`.
  */
final class DriftMaintenance(dir: String, buckets: Int = 1024,
                             sourceCol: String = "source",
                             textCol: String = "text") {

  private def root = new Path(dir)
  private def fs = root.getFileSystem(StateFs.activeHadoopConf())

  /** Apply one micro-batch (also callable directly in batch replays). */
  def applyBatch(batch: DataFrame, batchId: Long): Unit = {
    val (applied, cells) = readState()
    if (StateFs.alreadyApplied(batch.sparkSession, batchId, applied, "drift",
        "The streaming checkpoint was likely reset against existing drift " +
          s"state — delete $dir to rebuild, or restore the checkpoint.")) return
    val partial = batch
      // docs with no source are outside per-source monitoring (the
      // batch twin filters identically); a null key would NPE the
      // deterministic sort at persist time and wedge the stream
      .where(col(sourceCol).isNotNull)
      .select(col(sourceCol).as("source"),
        explode(TextAnalysis.tokens(col(textCol))).as("token"))
      .select(col("source"),
        TextAnalysis.featureBucket(col("token"), buckets).as("b"))
      .groupBy("source", "b").agg(count(lit(1)).as("c"))
      .collect()
    val merged = scala.collection.mutable.Map.empty[(String, Long), Long] ++= cells
    partial.foreach { r =>
      val k = (r.getString(0), r.getLong(1))
      merged(k) = merged.getOrElse(k, 0L) + r.getLong(2)
    }
    write(batchId, merged.toMap)
  }

  /** Per-source TVD from the corpus mix over the maintained cells, in
    * milli fixed point — identical integer arithmetic to the batch
    * [[graft.TrainingQueries.sourceDrift]] (BigInt widening mirrors its
    * decimal(38,0)). Empty before any batch lands.
    */
  def drift(): Map[String, Long] = {
    val cells = readState()._2
    if (cells.isEmpty) return Map.empty
    val srcTot = cells.groupMapReduce(_._1._1)(_._2)(_ + _)
    val allBucket = cells.groupMapReduce(_._1._2)(_._2)(_ + _)
    val allTot = cells.valuesIterator.sum
    val M = BigInt(1000000)
    srcTot.map { case (s, st) =>
      val sum = allBucket.iterator.map { case (b, ac) =>
        val c = cells.getOrElse((s, b), 0L)
        ((M * c / st) - (M * ac / allTot)).abs
      }.sum
      s -> (sum / 2).toLong
    }
  }

  /** `(appliedBatchId, cells)`; (-1, empty) before the first batch. The
    * header also pins the bucket count the cells were hashed with —
    * restarting with a different `buckets` would vector-add two
    * incompatible feature spaces into silently wrong TVDs, so it fails
    * loudly instead (the [[SketchMaintenance]] dimension-guard rule).
    */
  private def readState(): (Long, Map[(String, Long), Long]) =
    StateFs.readVersioned(fs, root, "cells", ".tsv") match {
      case None => (-1L, Map.empty)
      case Some((applied, bytes)) =>
        val lines = new String(bytes, StandardCharsets.UTF_8)
          .split("\n", -1).toIndexedSeq.filter(_.nonEmpty)
        val persisted = lines.head.toInt
        if (persisted != buckets)
          throw new IllegalStateException(
            s"drift state at $dir was built with $persisted buckets but " +
              s"this instance uses $buckets — merging the two feature " +
              s"spaces would be silently wrong. Delete $dir to rebuild, " +
              "or restore the original bucket count.")
        val cells = lines.tail.map { line =>
          // keys are sanitized on write: tabs cannot appear in `source`
          val Array(s, b, c) = line.split("\t", 3)
          ((s, b.toLong), c.toLong)
        }.toMap
        (applied, cells)
    }

  private def write(batchId: Long, cells: Map[(String, Long), Long]): Unit = {
    // header pins the bucket count; the batch id rides the file NAME
    val sb = new StringBuilder
    sb.append(buckets).append('\n')
    // deterministic order — the persisted file is diffable across runs
    cells.toSeq.sortBy { case ((s, b), _) => (s, b) }.foreach { case ((s, b), c) =>
      require(!s.contains('\t') && !s.contains('\n'),
        s"source value contains a tab/newline and cannot be persisted: $s")
      sb.append(s).append('\t').append(b).append('\t').append(c).append('\n')
    }
    StateFs.writeVersioned(fs, root, "cells", ".tsv", batchId,
      sb.toString.getBytes(StandardCharsets.UTF_8))
  }
}
