package graft.sources

import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory, Scan}
import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, MicroBatchStream, Offset, ReadLimit, ReadMaxFiles, SupportsTriggerAvailableNow}
import org.apache.spark.sql.types.StructType
import CouchChangesSource.chunkFiles

/** Streaming half of the couch-changes source (reference A2, the monitor
  * longpoll loop `index.js:143-170`): a [[MicroBatchStream]] over a
  * directory that a spooler appends chunk files to — each chunk is one
  * `_changes` response body.
  *
  * Offsets are file counts over the lexicographically-sorted chunk list
  * (spoolers name chunks monotonically: `00001.json`, `00002.json`, …) —
  * a micro-batch is the half-open file range `(start, end]`. This is the
  * same recovery contract as the reference's checkpoint seq: restarting
  * from offset N replays nothing and misses nothing as long as chunks are
  * append-only. Readers reuse [[ChangesReader]], so Mango selector
  * evaluation and column pruning work identically in batch and streaming.
  *
  * Rate control (reference A3, slow-mode batched polling
  * `index.js:93-100,232-234`): `.option("maxChunksPerTrigger", n)` caps
  * every micro-batch at `n` chunk files via Spark's admission-control
  * contract, so a backlog drains in bounded batches instead of one giant
  * first batch. [[SupportsTriggerAvailableNow]] snapshots the chunk count
  * when a `Trigger.AvailableNow` query starts: the query drains exactly
  * what existed at start (in rate-capped batches) and terminates, even
  * while a live spooler keeps appending — no
  * may-not-process-all-data fallback.
  *
  * `spark.readStream.format("couch-changes").load(dir)`.
  */
final case class ChangesFileOffset(fileCount: Int) extends Offset {
  override def json(): String = s"""{"fileCount":$fileCount}"""
}

final class CouchChangesMicroBatch(path: String, selector: Option[String],
                                   schema: StructType,
                                   maxChunksPerTrigger: Option[Int] = None)
    extends MicroBatchStream with SupportsTriggerAvailableNow {

  /** Chunk count frozen by `Trigger.AvailableNow` at query start; batches
    * never read past it so the query terminates on a live directory.
    */
  @volatile private var availableNowCap: Option[Int] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(chunkFiles(path).size)

  override def getDefaultReadLimit: ReadLimit =
    maxChunksPerTrigger.map(ReadLimit.maxFiles).getOrElse(ReadLimit.allAvailable())

  override def initialOffset(): Offset = ChangesFileOffset(0)

  // Spark drives admission-control sources exclusively through the
  // two-argument form below (same contract as the built-in file source).
  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) should be called for this source")

  /** The effective per-trigger file cap inside `limit`, if any. Spark can
    * hand a [[CompositeReadLimit]] (e.g. under `Trigger.AvailableNow`
    * combined with a default limit, version-dependent); flattening it and
    * taking the tightest ReadMaxFiles mirrors the built-in file source —
    * matching only the top-level ReadMaxFiles would silently disable the
    * rate cap.
    */
  private def maxFilesIn(limit: ReadLimit): Option[Int] = limit match {
    case mf: ReadMaxFiles      => Some(mf.maxFiles())
    case c: CompositeReadLimit =>
      c.getReadLimits.toSeq.flatMap(maxFilesIn).reduceOption(math.min)
    case _                     => None
  }

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val avail = availableNowCap.getOrElse(chunkFiles(path).size)
    val s = start.asInstanceOf[ChangesFileOffset].fileCount
    val end = maxFilesIn(limit) match {
      case Some(mf) => math.min(avail, s + mf)
      case None     => avail
    }
    ChangesFileOffset(math.max(end, s))
  }

  /** True head of the feed for progress reporting, independent of any
    * rate cap or AvailableNow snapshot.
    */
  override def reportLatestOffset(): Offset = ChangesFileOffset(chunkFiles(path).size)

  override def deserializeOffset(json: String): Offset = {
    val n = "\\d+".r.findFirstIn(json).map(_.toInt).getOrElse(0)
    ChangesFileOffset(n)
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[ChangesFileOffset].fileCount
    val e = end.asInstanceOf[ChangesFileOffset].fileCount
    chunkFiles(path).slice(s, e).map(p => ChangesPartition(p): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new ChangesReaderFactory(schema, Array.empty, selector)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}
