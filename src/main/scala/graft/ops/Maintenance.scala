package graft.ops

import graft.streaming.StateFs
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Warehouse maintenance operators: the housekeeping a long-lived
  * parquet warehouse needs at scale, kept out of the query path.
  *
  * Small-file compaction: streaming ingestion and per-batch exports leave
  * directories of many small parquet files; each file costs a task, a
  * footer read, and an open at scan time, so a 100 TB warehouse that
  * accretes micro-batch outputs degrades until files are re-binned. The
  * reference never needs this (its warehouse is one SQLite file); any
  * file-based warehouse does.
  *
  * The swap drives the Hadoop `FileSystem` resolved from `dir` — the
  * same filesystem Spark reads and writes the table through — so the
  * compaction works wherever the warehouse lives (the read and the swap
  * can never target different filesystems). Renames are dst-absent and
  * atomic on HDFS/POSIX; see [[graft.streaming.StateFs]] for the
  * object-store atomicity boundary (rename there is copy+delete — run
  * compaction against rename-capable storage, or commit via a manifest
  * as [[graft.streaming.StreamIngest.ManifestDir]] does for streaming
  * state).
  */
object Maintenance {

  /** Rewrite the parquet directory at `dir` into ≈`targetBytes` files:
    * read, re-bin to `ceil(bytes/targetBytes)` partitions, write to a
    * staging sibling, atomically swap. Readers never observe a PARTIAL
    * directory, but the swap is two renames, so a concurrent read that
    * lists `dir` in the instant between them sees a MISSING directory and
    * fails with path-not-found — schedule compaction when no readers are
    * active (a manifest-committed layout,
    * [[graft.streaming.StreamIngest.ManifestDir]], removes even that
    * window). Crash recovery is complete: a crash
    * before the swap strands only the staging dir (cleared on the next
    * call), and a crash BETWEEN the two renames leaves the data in the
    * retired dir, which the next call moves back before doing anything
    * else. Returns the new file count.
    *
    * Round-robin repartition (not coalesce): coalesce(1..n) chains the
    * upstream parallelism into the write tasks, so a big compaction would
    * read with the same (tiny) parallelism it writes with; repartition
    * keeps the read side wide. Column order and values are preserved;
    * intra-file row order is not promised (parquet consumers must not
    * rely on it — the warehouse's own readers never do).
    */
  def compactFiles(spark: SparkSession, dir: String,
                   targetBytes: Long = 128L << 20): Int = {
    require(targetBytes > 0, "targetBytes must be positive")
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // object-store "rename" is a copy+delete that reports success: a
    // crash mid-swap would strand rows between root and retired, and the
    // next call's recovery (which keys off root being ABSENT) would then
    // delete the retired half — refuse up front instead (r13 review)
    StateFs.requireAtomicDirRename(fs, "compactFiles",
      "Re-bin object-store tables by writing to a NEW prefix and " +
        "switching readers via a manifest (see StreamIngest.ManifestDir).")
    val staging = new Path(dir + ".compact_staging")
    val retired = new Path(dir + ".compact_retired")
    // crash recovery FIRST: a death between the two swap renames leaves
    // the table dir absent and the data stranded in retired — restore it
    // before anything else
    if (!fs.exists(root) && fs.exists(retired) &&
        fs.getFileStatus(retired).isDirectory)
      StateFs.renameInto(fs, retired, root)
    require(fs.exists(root) && fs.getFileStatus(root).isDirectory,
      s"$dir is not a directory")
    StateFs.deleteRecursively(fs, staging)
    StateFs.deleteRecursively(fs, retired)

    val bytes = parquetFiles(fs, root).map(_.getLen).sum
    val parts = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    spark.read.parquet(dir).repartition(parts)
      .write.mode("overwrite").parquet(staging.toString)

    StateFs.renameInto(fs, root, retired)
    StateFs.renameInto(fs, staging, root)
    StateFs.deleteRecursively(fs, retired)
    parquetFiles(fs, root).size
  }

  private def parquetFiles(fs: org.apache.hadoop.fs.FileSystem,
                           root: Path): Seq[org.apache.hadoop.fs.FileStatus] = {
    val out = Seq.newBuilder[org.apache.hadoop.fs.FileStatus]
    val it = fs.listFiles(root, true)
    while (it.hasNext) {
      val s = it.next()
      if (s.isFile && s.getPath.getName.endsWith(".parquet")) out += s
    }
    out.result()
  }

  /** Interleave the bits of `cols` (each first rank-normalized to `bits`
    * unsigned bits by the caller) into one Z-order (Morton) key. Sorting
    * or range-partitioning a table by this key before writing makes
    * parquet row-group/file min-max stats selective on EVERY interleaved
    * dimension at once — a predicate on any of them prunes — instead of
    * only the leading column of a lexicographic sort. Pure expression
    * tree, fully codegen'd, no UDF.
    *
    * `bits` ≤ 21 keeps `n × bits` ≤ 63 for up to 3 columns (the long
    * never overflows); inputs outside `[0, 2^bits)` are clamped, and a
    * NULL places at the origin cell (least/greatest would otherwise skip
    * it and silently send nulls to the curve's max corner), so callers
    * can feed raw small ints or precomputed ranks alike.
    */
  def zOrderKey(bits: Int, cols: org.apache.spark.sql.Column*): org.apache.spark.sql.Column = {
    require(cols.nonEmpty, "need at least one column")
    require(bits >= 1 && bits * cols.size <= 63,
      s"bits*cols must fit a long, got $bits x ${cols.size}")
    val n = cols.size
    val clamped = cols.map(c =>
      greatest(lit(0L), least(coalesce(c.cast("long"), lit(0L)),
        lit((1L << bits) - 1))))
    // bit b of column i lands at interleaved position b*n + i
    (0 until bits).flatMap { b =>
      clamped.zipWithIndex.map { case (c, i) =>
        shiftleft(shiftright(c, b).bitwiseAND(lit(1L)), b * n + i)
      }
    }.reduce(_.bitwiseOR(_))
  }

  /** Rewrite `df` into `parts` files laid out along the Z-order curve of
    * `dims` (range-partition + in-partition sort by the key): each output
    * file covers a compact hyper-rectangle of the dim space, so its
    * parquet min-max stats prune scans filtered on ANY dim.
    */
  def zOrderWrite(df: DataFrame, path: String, parts: Int, bits: Int,
                  dims: String*): Unit = {
    val z = Sampling.fresh(df, "_graft_z") // never clobber a caller column
    df.withColumn(z, zOrderKey(bits, dims.map(col): _*))
      .repartitionByRange(parts, col(z))
      .sortWithinPartitions(z)
      .drop(z)
      .write.mode("overwrite").parquet(path)
  }
}
