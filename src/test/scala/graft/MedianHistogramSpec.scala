package graft

import org.apache.spark.sql.functions._

/** Edge cases for q_median's histogram-rank formulation that the fixture
  * may not hit: even/odd group sizes, both middle ranks inside ONE
  * histogram bucket (duplicate middle values), and a 2-element group.
  */
class MedianHistogramSpec extends SparkSpec {
  import spark.implicits._

  private def medians(rows: (String, Long, Double)*): Map[String, Double] = {
    val dir = java.nio.file.Files.createTempDirectory("median").toString
    rows.toDF("event_type", "event_id", "value")
      .withColumn("ts", col("event_id")) // schema compat with t()
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    SparkEntry.queries("q_median")(spark, dir)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
  }

  test("odd n picks the single middle; even n averages the two middles") {
    val m = medians(
      ("odd", 1L, 1.0), ("odd", 2L, 9.0), ("odd", 3L, 5.0),
      ("even", 1L, 1.0), ("even", 2L, 2.0), ("even", 3L, 10.0), ("even", 4L, 20.0))
    assert(m("odd") == 5.0)
    assert(m("even") == 6.0) // (2+10)/2
  }

  test("duplicate middle values land in one bucket covering both ranks") {
    // even n=4, middles are both 7.0 → one histogram bucket must carry k=2
    val m = medians(
      ("dup", 1L, 1.0), ("dup", 2L, 7.0), ("dup", 3L, 7.0), ("dup", 4L, 9.0))
    assert(m("dup") == 7.0)
    // all-equal group: every rank in one bucket
    val m2 = medians(("flat", 1L, 3.0), ("flat", 2L, 3.0), ("flat", 3L, 3.0))
    assert(m2("flat") == 3.0)
  }

  test("two-element group averages both") {
    val m = medians(("two", 1L, 1.5), ("two", 2L, 2.5))
    assert(m("two") == 2.0)
  }

  test("NULL values are excluded from the rank, not silently rank-shifting") {
    // Before the shardedCum isNotNull guard, a NULL value dropped its own
    // histogram row at the shard join but still inflated _off/tot via the
    // nulls-first shard window — here that would shift n from 3 to 5 and
    // report the wrong middle. SQL semantics: median over {1,5,9} = 5.
    val dir = java.nio.file.Files.createTempDirectory("mednull").toString
    Seq[(String, Long, Option[Double])](
      ("g", 1L, Some(1.0)), ("g", 2L, None), ("g", 3L, Some(5.0)),
      ("g", 4L, Some(9.0)), ("g", 5L, None))
      .toDF("event_type", "event_id", "value")
      .withColumn("ts", col("event_id"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val m = SparkEntry.queries("q_median")(spark, dir)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(m("g") == 5.0)
  }

  test("trimmed mean weights partial buckets at the trim boundaries") {
    val dir = java.nio.file.Files.createTempDirectory("trim").toString
    // n=10, trim = ceil(10/10)=1 each side → kept ranks 2..9. The value
    // 1.0 fills ranks 1..3: its bucket must contribute k=2 (ranks 2,3),
    // NOT 0 or 3. Kept sum = 1+1 + 2+3+4+5+6+7 = 29, /8
    val rows = Seq.tabulate(10) { i =>
      val v = if (i < 3) 1.0 else (i - 1).toDouble // 1,1,1,2,3,4,5,6,7,8
      ("g", (i + 1).toLong, v)
    }
    rows.toDF("event_type", "event_id", "value")
      .withColumn("ts", col("event_id"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = SparkEntry.queries("q_trimmed_mean")(spark, dir)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got("g") == 29.0 / 8)
  }

  private def wmedians(rows: (String, Double, Long)*): Map[String, Double] = {
    val dir = java.nio.file.Files.createTempDirectory("wmedian").toString
    rows.toDF("l_returnflag", "l_extendedprice", "l_quantity")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    SparkEntry.queries("q_weighted_median")(spark, dir)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
  }

  test("weighted median: weight mass, not row count, locates the middle") {
    val m = wmedians(
      // W=10, threshold (10+1) div 2 = 5: cum(1.0)=4 < 5, cum(2.0)=7 ≥ 5
      ("a", 1.0, 4L), ("a", 2.0, 3L), ("a", 3.0, 3L),
      // a heavy single value dominates many light ones
      ("b", 5.0, 1L), ("b", 6.0, 1L), ("b", 100.0, 10L))
    assert(m("a") == 2.0)
    assert(m("b") == 100.0)
  }

  test("weighted median: exact half boundary picks the LOWER value; dup values merge") {
    // W=4, threshold (4+1) div 2 = 2: cum(1.0)=2 ≥ 2 → lower median 1.0
    val m = wmedians(("e", 1.0, 2L), ("e", 5.0, 2L))
    assert(m("e") == 1.0)
    // same value split across rows must aggregate before ranking:
    // v=7 carries w=3 of W=5 → threshold 3 → cum(3.0)=2 < 3, cum(7.0)=5 ≥ 3
    val m2 = wmedians(("d", 7.0, 1L), ("d", 3.0, 2L), ("d", 7.0, 2L))
    assert(m2("d") == 7.0)
  }

  test("weighted median with unit weights is the lower plain median") {
    val m = wmedians(("u", 1.0, 1L), ("u", 2.0, 1L), ("u", 10.0, 1L), ("u", 20.0, 1L))
    assert(m("u") == 2.0) // even n: LOWER median by definition, no averaging
  }

  test("fixed-width monotone shard == data-driven bounds shard (randomized)") {
    import spark.implicits._
    // r14: callers with a-priori-known domains skip shardedCum's bounds
    // pre-pass via a caller-supplied fixed shard width. The width only
    // changes the internal bucketization — cum/tot must be bit-identical
    // for ANY positive width, including widths that put a whole group in
    // one shard, split ties across shard boundaries, or produce negative
    // shard ids (negative values).
    val rnd = new scala.util.Random(7)
    val rows = (1 to 400).map { _ =>
      val g = s"g${rnd.nextInt(3)}"
      // values on a coarse grid so duplicates (histogram weight > 1) and
      // shard-boundary collisions both occur; negatives included
      val v = math.floor(rnd.nextGaussian() * 50) / 2.0
      (g, v)
    }
    val hist = rows.toDF("g", "v").groupBy("g", "v").agg(count(lit(1)).as("c"))
    val ref = Queries.shardedCum(hist, "g", "v", "c")
      .select("g", "v", "cum", "tot").as[(String, Double, Long, Long)]
      .collect().toSet
    for (w <- Seq(0.5, 4.0, 1000.0)) {
      val got = Queries.shardedCum(hist, "g", "v", "c", Some(w))
        .select("g", "v", "cum", "tot").as[(String, Double, Long, Long)]
        .collect().toSet
      assert(got == ref, s"width $w diverges: extra=${(got -- ref).take(3)} " +
        s"missing=${(ref -- got).take(3)}")
    }
  }

  test("q_median is exact with negative values under the fixed-width shard") {
    // floor(v / w) yields NEGATIVE shard ids for negative values — the
    // offset window must still order shards correctly.
    val m = medians(
      ("neg", 1L, -10.0), ("neg", 2L, -3.0), ("neg", 3L, 5.0),
      ("neg", 4L, 7.5), ("neg", 5L, 40.0))
    assert(m("neg") == 5.0)
  }

  test("fixed-width shard: a non-positive or NaN width, or too fine a width, fails loudly") {
    import spark.implicits._
    val hist = Seq(("g", 1.0, 1L), ("g", 2.0, 1L)).toDF("g", "v", "c")
    for (w <- Seq(0.0, -4.0, Double.NaN))
      intercept[IllegalArgumentException](Queries.shardedCum(hist, "g", "v", "c", Some(w)))
    // 70k distinct values one unit apart at width 1: 70k non-empty shards
    val wide = spark.range(70000).select(lit("g").as("g"), col("id").cast("double").as("v"),
      lit(1L).as("c"))
    val e = intercept[Exception](
      Queries.shardedCum(wide, "g", "v", "c", Some(1.0)).agg(max("cum")).collect())
    assert(e.getMessage.contains("non-empty shards"), e.getMessage)
    // the same data at a width that fits its scale still ranks exactly
    assert(Queries.shardedCum(wide, "g", "v", "c", Some(64.0)).agg(max("cum"))
      .as[Long].head() == 70000L)
  }
}
