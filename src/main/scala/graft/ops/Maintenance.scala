package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Warehouse layout operators: the housekeeping a long-lived parquet
  * warehouse needs at scale, kept out of the query path. A Z-order write
  * lays a table out so that parquet min-max stats prune scans filtered on
  * any of several columns at once.
  */
object Maintenance {

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
