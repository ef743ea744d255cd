package graft

import graft.ops.Maintenance
import org.apache.spark.sql.functions._
import java.nio.file.Files

class MaintenanceSpec extends SparkSpec {
  import spark.implicits._

  test("zOrderKey interleaves bits as a Morton code") {
    val rows = Seq((0L, 0L), (1L, 0L), (0L, 1L), (1L, 1L), (3L, 3L), (2L, 1L))
      .toDF("x", "y")
    val got = rows.select(Maintenance.zOrderKey(2, $"x", $"y").as("z"))
      .as[Long].collect().toSeq
    // bit b of x at position 2b, of y at 2b+1
    assert(got == Seq(0L, 1L, 2L, 3L, 15L, 6L))
    // clamping: negative -> 0, overflow -> max
    val edge = Seq((-5L, 1L << 40)).toDF("x", "y")
      .select(Maintenance.zOrderKey(2, $"x", $"y").as("z")).as[Long].head()
    assert(edge == 10L) // x clamps to 0, y to 3: y's bits at odd positions = 8+2
  }

  test("z-order layout keeps every file's bounding box tight on BOTH dims") {
    val grid = for { x <- 0 until 256; y <- 0 until 256 } yield (x.toLong, y.toLong)
    val df = grid.toDF("x", "y")
    val zdir = Files.createTempDirectory("zorder").resolve("z").toString
    val xdir = Files.createTempDirectory("zorder").resolve("x").toString
    Maintenance.zOrderWrite(df, zdir, parts = 16, bits = 8, "x", "y")
    // baseline: lexicographic sort by x only
    df.repartitionByRange(16, $"x").sortWithinPartitions("x")
      .write.parquet(xdir)

    // per-file (minX, maxX, minY, maxY) — exactly the stats a min-max
    // pruning scan consults
    def boxes(dir: String): Seq[(Long, Long, Long, Long)] = {
      val s = Files.walk(java.nio.file.Paths.get(dir))
      val fs = try {
        val it = s.iterator(); val b = Seq.newBuilder[String]
        while (it.hasNext) { val p = it.next()
          if (p.toString.endsWith(".parquet") && Files.isRegularFile(p)) b += p.toString }
        b.result()
      } finally s.close()
      fs.map { f =>
        val r = spark.read.parquet(f)
          .agg(min($"x"), max($"x"), min($"y"), max($"y")).head()
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      }
    }
    // the data-skipping claim, measured the way a scan uses the stats:
    // how many of the 16 files can a point predicate on ONE dim touch,
    // averaged over probe points? (A couple of curve-segment files cross
    // a quadrant boundary and go wide — the average is the honest metric.)
    def avgTouched(ranges: Seq[(Long, Long)]): Double = {
      val probes = 0L until 256L by 17
      probes.map(c => ranges.count { case (lo, hi) => lo <= c && c <= hi })
        .sum.toDouble / probes.size
    }
    val z = boxes(zdir); val lex = boxes(xdir)
    assert(z.size == 16 && lex.size == 16)
    // baseline: every x-sorted file spans all of y — zero pruning on y
    assert(avgTouched(lex.map(b => (b._3, b._4))) == 16.0)
    // z-order: a predicate on EITHER dim skips most files
    val zy = avgTouched(z.map(b => (b._3, b._4)))
    val zx = avgTouched(z.map(b => (b._1, b._2)))
    assert(zy < 8.0, s"avg files touched by a y predicate: $zy")
    assert(zx < 8.0, s"avg files touched by an x predicate: $zx")
  }
}
