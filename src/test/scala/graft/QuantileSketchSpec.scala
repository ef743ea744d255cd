package graft

import graft.functions.{QuantileSketch, QuantileSketchAgg, QuantileSketchQuantile}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._

/** [[graft.functions.QuantileSketchAgg]] — the certified-error contract:
  * every probe's exact rank must sit within the sketch's own reported
  * bound, small inputs are EXACT (no compaction), and serde round-trips.
  */
class QuantileSketchSpec extends SparkSpec {
  import spark.implicits._

  private def rankOf(sorted: Seq[Double], v: Double): Long =
    sorted.count(_ <= v).toLong

  private def certifiedCheck(values: Seq[Double], k: Int): Unit = {
    val sk = new QuantileSketch(k)
    values.foreach(sk.add)
    val arr = new GenericArrayData(sk.toArray)
    val bound = graft.functions.QuantileSketchOps.bound(arr)
    val sorted = values.sorted
    for (p <- Seq(0.1, 0.25, 0.5, 0.75, 0.9, 0.99)) {
      val est = graft.functions.QuantileSketchOps.quantile(arr, p)
      val target = math.ceil(p * values.size).toLong.max(1L)
      val r = rankOf(sorted, est)
      assert(math.abs(r - target) <= bound,
        s"p=$p: exact rank $r vs target $target exceeds certified bound $bound (k=$k, n=${values.size})")
    }
  }

  test("small inputs are exact (no compaction, err = 0)") {
    val sk = new QuantileSketch(64)
    val vs = Seq(5.0, 1.0, 9.0, 3.0, 7.0)
    vs.foreach(sk.add)
    assert(sk.err == 0)
    val arr = new GenericArrayData(sk.toArray)
    assert(graft.functions.QuantileSketchOps.quantile(arr, 0.5) == 5.0)
    assert(graft.functions.QuantileSketchOps.quantile(arr, 0.1) == 1.0)
    assert(graft.functions.QuantileSketchOps.quantile(arr, 1.0) == 9.0)
  }

  test("certified bound holds on adversarial-ish streams") {
    val asc = (1 to 20000).map(_.toDouble)
    certifiedCheck(asc, 64)
    certifiedCheck(asc.reverse, 64)
    // heavy duplication
    certifiedCheck((1 to 20000).map(i => (i % 7).toDouble), 64)
    // interleaved shuffle-ish (deterministic)
    certifiedCheck(asc.grouped(97).toSeq.reverse.flatten, 32)
  }

  test("bound is tight enough to be useful (err << n at k=512)") {
    val n = 100000
    val sk = new QuantileSketch(512)
    (1 to n).map(_.toDouble).foreach(sk.add)
    val arr = new GenericArrayData(sk.toArray)
    val bound = graft.functions.QuantileSketchOps.bound(arr)
    assert(bound < n / 20, s"bound $bound too loose for n=$n") // < 5% of n
  }

  test("merge certifies the same contract and preserves n") {
    val a = new QuantileSketch(64)
    val b = new QuantileSketch(64)
    (1 to 10000).foreach(i => a.add(i.toDouble))
    (10001 to 25000).foreach(i => b.add(i.toDouble))
    a.mergeIn(b)
    assert(a.n == 25000)
    val arr = new GenericArrayData(a.toArray)
    val bound = graft.functions.QuantileSketchOps.bound(arr)
    val sorted = (1 to 25000).map(_.toDouble)
    for (p <- Seq(0.25, 0.5, 0.9)) {
      val est = graft.functions.QuantileSketchOps.quantile(arr, p)
      val target = math.ceil(p * 25000).toLong
      assert(math.abs(rankOf(sorted, est) - target) <= bound)
    }
  }

  test("serde round-trips the full state") {
    val sk = new QuantileSketch(32)
    (1 to 5000).foreach(i => sk.add((i * 37 % 101).toDouble))
    val back = QuantileSketch.deserialize(sk.serialize())
    assert(back.n == sk.n && back.err == sk.err)
    assert(back.toArray.toSeq == sk.toArray.toSeq)
  }

  test("aggregate end-to-end over a DataFrame with groups") {
    val df = (1 to 30000).map(i => (if (i % 2 == 0) "even" else "odd", i.toDouble))
      .toDF("g", "v").repartition(8)
    val out = df.groupBy("g")
      .agg(QuantileSketchAgg(col("v"), 128).as("sk"), count(lit(1)).as("n"))
      .select(col("g"), col("n"),
        QuantileSketchQuantile(col("sk"), lit(0.5)).as("p50"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(out("even")._1 == 15000L && out("odd")._1 == 15000L)
    // p50 of evens ~15000, odds ~14999 — within a generous relative band
    assert(math.abs(out("even")._2 - 15000.0) < 1500.0)
    assert(math.abs(out("odd")._2 - 15000.0) < 1500.0)
  }
}
