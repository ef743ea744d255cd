package graft.tools

import org.apache.spark.sql.SparkSession

/** Optimization-round measurement aid and plan auditor: dump the
  * FORMATTED physical plan of every declared query (or a named subset) to
  * one file per query, plus a one-line-per-query shape summary on stdout:
  * exchange / scan / sort / join-strategy counts and the scale properties
  * we require — filter pushdown to the parquet scan (`pushedFilters`),
  * top-k as `TakeOrderedAndProject`, no driver-side `CollectLimit`.
  * Session configs mirror graft.Bench so the plans are the ones the
  * driver's bench actually executes.
  *
  * Run: `sbt "runMain graft.tools.PlanDump <outDir> [sfDir] [query ...]"`
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("/tmp/plans")
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val names = if (args.length > 2) args.drop(2).toSeq
                else graft.SparkEntry.queries.keys.toSeq.sorted
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    new java.io.File(outDir).mkdirs()

    val qs = graft.SparkEntry.queries
    names.foreach { n =>
      val plan =
        try qs(n)(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        catch { case e: Throwable => s"PLAN FAILED: ${e.getMessage}" }
      val w = new java.io.PrintWriter(s"$outDir/$n.txt", "UTF-8")
      try w.println(plan) finally w.close()
      def c(tok: String) = tok.r.findAllIn(plan).length
      // "(?<!Reused)Exchange " — a bare "Exchange " token also matches
      // inside "ReusedExchange [" and inflated the count by exactly the
      // reused-exchange count (ADVICE r13).
      println(s"PLANSTAT $n exchanges=${c("(?<!Reused)Exchange ")} scans=${c("Scan parquet")} " +
        s"sorts=${c("\\bSort \\[")} smj=${c("SortMergeJoin")} bhj=${c("BroadcastHashJoin")} " +
        s"bnl=${c("BroadcastNestedLoop")} cartesian=${c("CartesianProduct")} " +
        s"window=${c("\\bWindow\\b")} codegen=${c("WholeStageCodegen")} " +
        s"reusedExchange=${c("ReusedExchange")} rowscan=${c("Scan ExistingRDD")} " +
        s"pushedFilters=${c("PushedFilters: \\[[^\\]]")} " +
        s"takeOrdered=${c("TakeOrderedAndProject")} collectLimit=${c("CollectLimit")}")
      // Drop any cache a query pinned so later plans aren't InMemoryScans
      // of a prior query's pin.
      graft.ops.Caching.releaseAll(spark)
    }
    spark.stop()
  }
}
