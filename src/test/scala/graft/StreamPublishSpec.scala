package graft

import graft.model.ChangeFeed
import graft.streaming.StreamIngest
import org.apache.hadoop.fs.Path
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, GraftSqlBridge}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import java.nio.file.Files
import scala.collection.mutable.ArrayBuffer

/** What one `StreamIngest` sync costs and what its views show: the job
  * budget of a small batch on a 64-bucket state, the `publish()` skip
  * (never stale), and per-type schemas that only a live doc can freeze.
  * Every feed is built in-process.
  */
class StreamPublishSpec extends SparkSpec {

  private def tempDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def change(seq: Int, id: String, doc: String): String =
    s"""{"seq":"$seq-x","id":"$id","changes":[{"rev":"$seq-r"}],"doc":$doc}"""

  private def deletion(seq: Int, id: String): String =
    s"""{"seq":"$seq-x","id":"$id","changes":[{"rev":"$seq-r"}],"deleted":true,"doc":{"_id":"$id","_rev":"$seq-r","_deleted":true}}"""

  private def typed(seq: Int, id: String, t: String, v: Int): String =
    change(seq, id, s"""{"_id":"$id","_rev":"$seq-r","type":"$t","v":$v}""")

  private def mk(rows: Seq[String]): DataFrame = ChangeFeed.fromLines(
    { import spark.implicits._; rows.toDF("value") }, "value")

  private val types = Seq("order", "product", "user")

  /** `n` typed creates, seq 1..n. */
  private def base(n: Int): Seq[String] =
    (1 to n).map(i => typed(i, s"d$i", types(i % 3), i))

  private def rows(view: String): Seq[String] =
    spark.table(view).collect().map(_.toString).toSeq.sorted

  /** Every job started while `body` runs, as the task count of each of
    * its stages.
    */
  private def jobsDuring(body: => Unit): Seq[Seq[Int]] =
    eventsDuring(body) { case e: SparkListenerJobStart => e.stageInfos.map(_.numTasks) }

  /** The description of every SQL execution started while `body` runs. */
  private def sqlDuring(body: => Unit): Seq[String] =
    eventsDuring(body) { case e: SparkListenerSQLExecutionStart => e.description }

  private def eventsDuring[T](body: => Unit)(pick: PartialFunction[SparkListenerEvent, T]): Seq[T] = {
    val seen = ArrayBuffer.empty[T]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = onOtherEvent(e)
      override def onOtherEvent(e: SparkListenerEvent): Unit =
        pick.lift(e).foreach(t => seen.synchronized { seen += t })
    }
    GraftSqlBridge.drainListeners(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      GraftSqlBridge.drainListeners(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    seen.synchronized(seen.toList)
  }

  test("a 10-change sync on a 64-bucket state runs a fixed handful of jobs; publish after it none") {
    val wh = tempDir("budget-wh")
    val ingest = new StreamIngest(spark,
      WarehouseOptions(database = "jb", split = Some("type")), wh)
    ingest.applyBatch(mk(base(2000)), 0L)
    ingest.publish()
    val fs = new Path(wh).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val buckets = new StreamIngest.ManifestDir(fs, new Path(s"$wh/_state_v")).live().get.files
      .map(_.bucket).distinct.size
    // above spark.sql.sources.parallelPartitionDiscovery.threshold (32):
    // a listing of every bucket dir would be a Spark job of one task per dir
    assert(buckets == 64)

    val sync = mk(Seq(deletion(2001, "d1"), typed(2002, "d2001", "user", 7)) ++
      (2 to 9).map(i => typed(2001 + i, s"d$i", types(i % 3), 1000 + i)))
    var publishJobs: Seq[Seq[Int]] = Nil
    var publishSql, syncSql: Seq[String] = Nil
    val jobs = jobsDuring {
      syncSql = sqlDuring(ingest.applyBatch(sync, 1L))
      publishSql = sqlDuring { publishJobs = jobsDuring(ingest.publish()) }
    }
    // the batch lands as a delta in the manifest commit: the one job that
    // collects it, no shuffle, no state read or bucket write; the views
    // read the manifest's files with no listing
    assert(jobs.size <= 1, s"${jobs.size} jobs: $jobs")
    assert(jobs.forall(_.size == 1), s"a job with a shuffle: $jobs")
    assert(!jobs.contains(Seq(buckets)), s"listing jobs: $jobs")
    assert(publishJobs.isEmpty, s"publish right after a batch ran $publishJobs")
    // one SQL execution, the collect: the views are stored as analyzed
    // plans, with no view command
    assert(syncSql.size == 1, s"SQL executions of the sync: $syncSql")
    assert(publishSql.isEmpty, s"SQL executions of publish: $publishSql")

    assert(ingest.checkpoint == 2010L)
    assert(spark.table("jb_user").count() == (1 to 2000).count(_ % 3 == 2) + 1)
    assert(spark.table("jb_order").where("id = 'd9'").select("v").head().getDouble(0) == 1009.0)
    assert(spark.table("jb_product").where("id = 'd1'").isEmpty)

    // a type's first doc still gets its view
    ingest.applyBatch(mk(Seq(typed(2011, "r1", "refund", 3))), 2L)
    ingest.publish()
    assert(rows("jb_refund") == Seq("[refund,3.0,r1,2011-r]"))
    assert(spark.table("jb_user").count() == (1 to 2000).count(_ % 3 == 2) + 1)
  }

  test("publish() re-registers a dropped or replaced view") {
    val wh = tempDir("stale-wh")
    val opts = WarehouseOptions(database = "sv", split = Some("type"))
    val ingest = new StreamIngest(spark, opts, wh)
    ingest.applyBatch(mk(base(30)), 0L)
    ingest.publish()
    val before = types.map(t => rows(s"sv_$t"))

    spark.catalog.dropTempView("sv_order")
    ingest.publish()
    assert(types.map(t => rows(s"sv_$t")) == before)

    // the same view name registered by someone else is not this
    // instance's view any more
    spark.range(1).createOrReplaceTempView("sv_user")
    ingest.publish()
    assert(types.map(t => rows(s"sv_$t")) == before)
  }

  test("a fresh StreamIngest on the same directory publishes every view") {
    val wh = tempDir("fresh-wh")
    val opts = WarehouseOptions(database = "fv", split = Some("type"))
    val first = new StreamIngest(spark, opts, wh)
    first.applyBatch(mk(base(30)), 0L)
    first.applyBatch(mk(Seq(deletion(31, "d3"), typed(32, "d4", "order", 40))), 1L)
    first.publish()
    val before = types.map(t => rows(s"fv_$t"))
    types.foreach(t => spark.catalog.dropTempView(s"fv_$t"))

    new StreamIngest(spark, opts, wh).publish()
    assert(types.map(t => rows(s"fv_$t")) == before)
  }

  test("after three batches a restarted StreamIngest publishes equal views") {
    val batches = Seq(
      base(40) :+ change(41, "_design/v", """{"_id":"_design/v","views":{}}"""),
      Seq(deletion(42, "d5"), typed(43, "d6", "user", 60), typed(44, "d41", "order", 1)),
      Seq(typed(45, "d5", "product", 5), deletion(46, "d41"), typed(47, "d7", "order", 70)))
    val wh = tempDir("rs-wh")
    val opts = WarehouseOptions(database = "rs", split = Some("type"))
    val ingest = new StreamIngest(spark, opts, wh)
    batches.zipWithIndex.foreach { case (b, i) =>
      ingest.applyBatch(mk(b), i.toLong)
      ingest.publish()
    }
    val running = types.map(t => rows(s"rs_$t"))
    types.foreach(t => spark.catalog.dropTempView(s"rs_$t"))
    new StreamIngest(spark, opts, wh).publish()
    assert(types.map(t => rows(s"rs_$t")) == running)
    // d6 (order) and d7 (product) changed type: each stays in its old
    // type's view as well
    assert(running.map(_.size) == Seq(14, 15, 13))
  }

  test("a design doc in an earlier batch does not freeze an empty _default schema") {
    val wh = tempDir("design-wh")
    val opts = WarehouseOptions(database = "dd", split = Some("type"))
    val ingest = new StreamIngest(spark, opts, wh)
    ingest.applyBatch(mk(Seq(
      change(1, "_design/x", """{"_id":"_design/x","views":{}}"""),
      typed(2, "a", "order", 1))), 0L)
    ingest.applyBatch(mk(Seq(
      change(3, "b", """{"_id":"b","_rev":"3-r","name":"untyped"}"""))), 1L)
    ingest.publish()

    assert(ingest.discoveredSchemas("_default").leaves.map(_.name) == Seq("name", "id", "rev"))
    assert(rows("dd__default") == Seq("[untyped,b,3-r]"))
    // a restarted instance agrees with the running one
    spark.catalog.dropTempView("dd__default")
    val restarted = new StreamIngest(spark, opts, wh)
    restarted.publish()
    assert(restarted.discoveredSchemas == ingest.discoveredSchemas)
    assert(rows("dd__default") == Seq("[untyped,b,3-r]"))
  }

  test("a type created and deleted inside one batch takes its schema from its first live doc") {
    val wh = tempDir("gone-wh")
    val ingest = new StreamIngest(spark,
      WarehouseOptions(database = "gd", split = Some("type")), wh)
    ingest.applyBatch(mk(Seq(
      typed(1, "a", "order", 1),
      change(2, "g", """{"_id":"g","_rev":"2-r","type":"ghost","w":1}"""),
      deletion(3, "g"))), 0L)
    // the type keeps its donor and its (empty) view, as the batch build does
    assert(spark.table("gd_ghost").columns.toSeq == Seq("type", "w", "id", "rev"))
    assert(rows("gd_ghost").isEmpty)

    ingest.applyBatch(mk(Seq(
      change(4, "h", """{"_id":"h","_rev":"4-r","type":"ghost","z":"zz"}"""))), 1L)
    ingest.publish()
    assert(spark.table("gd_ghost").columns.toSeq == Seq("type", "w", "id", "rev"))
    assert(rows("gd_ghost") == Seq("[ghost,null,h,4-r]"))
  }
}
