package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Vector-similarity kernels over `array<float>` embedding columns.
  *
  * Two formulations:
  *
  *   - [[dotExact]]/[[cosineExact]]: per-element products are widened to
  *     double (exact for float inputs) then accumulated as decimals, making
  *     the reduction order-independent — bit-identical across engines and
  *     partitionings. Used by the driver-scored queries so Spark and the
  *     DuckDB oracle hash-match.
  *   - [[dotFast]]/[[cosineFast]]: plain double fold — the throughput
  *     kernel for 100 TB runs where last-bit reproducibility across engines
  *     is not required.
  *
  * Both are pure `functions._` expression trees (no UDF): they stay inside
  * whole-stage codegen, require no shuffle, and vectorize over the parquet
  * list column. At cluster scale a brute-force top-k is one scan +
  * TakeOrderedAndProject; the IVF path in [[graft.ops.Ann]] cuts the scan
  * by the centroid fan-out.
  */
object Similarity {

  // Scale 9, not higher: DuckDB's double→decimal cast scales in floating
  // point, so at scale s the rounding of x*10^s can misround once
  // ulp(x*10^s) approaches 0.5 — at scale 15 that bit us (~0.5% of
  // products), at scale 9 with |x|≈1e-2 the error window is ~1e-8 of a
  // rounding unit. Precision 20 keeps addition under the 38-cap so NO
  // scale is ever dropped and the fold below stays exact; the cast-back
  // keeps the accumulator type fixed (aggregate() requires it).
  private val Dec = DecimalType(20, 9)

  /** Exact (order-independent) dot product of two float arrays. */
  def dotExact(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => (x.cast("double") * y.cast("double")).cast(Dec)),
      lit(java.math.BigDecimal.ZERO).cast(Dec),
      (acc, x) => (acc + x).cast(Dec)
    ).cast("double")

  /** Exact squared L2 norm. */
  def norm2Exact(a: Column): Column = dotExact(a, a)

  /** Exact cosine similarity (double division at the end — a single
    * deterministic IEEE op given exact operands).
    */
  def cosineExact(a: Column, b: Column): Column =
    dotExact(a, b) / (sqrt(norm2Exact(a)) * sqrt(norm2Exact(b)))

  /** Throughput cosine: the native codegen'd [[CosineSimilarity]]
    * expression — one fused primitive loop, no boxing (see its docs for
    * the measured margin over the fold/zip_with formulation).
    */
  def cosineFast(a: Column, b: Column): Column = CosineSimilarity(a, b)

  /** Sign-LSH bucket over the first `bits` dimensions: bit b set iff
    * element b is >= 0. Deterministic (no random hyperplanes) so engines
    * agree; at scale substitute persisted random projections.
    */
  def signBucket(a: Column, bits: Int): Column =
    (0 until bits).map { b =>
      when(element_at(a, b + 1) >= 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
}
