package graft

import graft.functions.{CountMinEstimate, CountMinSketchAgg}
import org.apache.spark.sql.functions._

class CountMinSpec extends SparkSpec {
  import spark.implicits._

  private def sketchOf(values: Seq[Long], depth: Int = 4, width: Int = 64,
                       partitions: Int = 4) =
    spark.sparkContext.parallelize(values, partitions).toDF("v")
      .agg(CountMinSketchAgg(col("v"), depth, width).as("sk"))

  test("estimates never underestimate and are exact for well-spread keys") {
    val values = Seq.tabulate(300)(i => (i % 10).toLong) // 10 keys × 30 each
    val probes = (0L until 10L).toDF("key")
    val got = sketchOf(values).crossJoin(probes)
      .select(col("key"), CountMinEstimate(col("sk"), col("key")).as("est"))
      .as[(Long, Long)].collect().toMap
    (0L until 10L).foreach { k =>
      assert(got(k) >= 30L, s"CMS must never underestimate (key $k)")
      assert(got(k) <= 30L + 300L * 3 / 64,
        s"estimate for key $k outside the e/width*N bound")
    }
  }

  test("partial sketches merge across partitions to the single-partition result") {
    val values = Seq.fill(50)(7L) ++ Seq.tabulate(40)(i => (100 + i).toLong)
    val onePart = sketchOf(values, partitions = 1)
      .select(col("sk")).collect()(0).getSeq[Long](0)
    val manyPart = sketchOf(values, partitions = 8)
      .select(col("sk")).collect()(0).getSeq[Long](0)
    assert(onePart == manyPart, "counter merge must be partition-invariant")
    assert(onePart.take(2) == Seq(4L, 64L), "header carries depth and width")
    assert(onePart.drop(2).sum == 90L * 4, "each value increments one counter per row")
  }

  test("CMS property: estimates never fall below exact counts (random streams)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val gen = for {
      n <- Gen.choose(1, 400)
      vs <- Gen.listOfN(n, Gen.choose(0L, 25L)) // heavy collisions
      d <- Gen.choose(1, 5)
      w <- Gen.oneOf(4, 16, 64)
    } yield (vs, d, w)
    val prop = Prop.forAll(gen) { case (vs, d, w) =>
      val sk = sketchOf(vs, depth = d, width = w)
        .select(col("sk")).collect()(0).getSeq[Long](0).toArray
      val exact = vs.groupBy(identity).view.mapValues(_.size.toLong)
      exact.forall { case (k, n) =>
        graft.functions.CountMin.estimate(sk, k) >= n
      }
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(25), prop)
    assert(res.passed, res.status.toString)
  }

  test("nulls are ignored; an unseen key estimates only collision mass") {
    val df = Seq(Some(1L), None, Some(1L), None).toDF("v")
    val sk = df.agg(CountMinSketchAgg(col("v"), 4, 64).as("sk"))
    val est = sk.select(
        CountMinEstimate(col("sk"), lit(1L)).as("seen"),
        CountMinEstimate(col("sk"), lit(999L)).as("unseen"))
      .as[(Long, Long)].collect()(0)
    assert(est._1 == 2L)
    assert(est._2 <= 2L) // at worst full collision with the only key
  }
}
