package graft

import com.fasterxml.jackson.databind.ObjectMapper
import graft.model.SchemaDiscovery
import graft.model.SchemaDiscovery.DocSchema
import graft.ops.{Compact, Flatten, Split, Transform}
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, GraftSqlBridge}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._
import java.util.concurrent.atomic.AtomicLong
import scala.util.Random

/** `Warehouse.ingest`'s one-pass build (one compaction shuffle for every
  * type, one metadata job, one materialization) against what the per-type
  * build did: `Flatten(Compact(Split.ofType(...)))` per discovered type,
  * each with the first doc of its type in feed order as schema donor. All
  * feeds are built in-process.
  */
class OnePassIngestSpec extends SparkSpec {
  import spark.implicits._

  private val mapper = new ObjectMapper()

  /** One change line; `doc` is the body without `_id`/`_rev`. */
  private def change(seq: Long, id: String, doc: String, deleted: Boolean = false): String = {
    val body =
      if (deleted) s"""{"_id":"$id","_rev":"$seq-r","_deleted":true}"""
      else if (doc == "{}") s"""{"_id":"$id","_rev":"$seq-r"}"""
      else s"""{"_id":"$id","_rev":"$seq-r",${doc.stripPrefix("{")}"""
    val del = if (deleted) ""","deleted":true""" else ""
    s"""{"seq":"$seq-x","id":"$id","changes":[{"rev":"$seq-r"}]$del,"doc":$body}"""
  }

  private def feed(lines: Seq[String], selector: Option[String] = None): DataFrame =
    CouchFixtures.feed(spark, lines, selector)

  /** The per-type build as it was: type discovery, a first-doc fetch per
    * type, then one compaction and flatten per type.
    */
  private def perType(changes: DataFrame, opts: WarehouseOptions): Map[String, DataFrame] = {
    val all = opts.transform(changes)
    val types = opts.split.fold(Seq(Split.DefaultType))(f => Split.discoverTypes(all, f))
    types.flatMap { t =>
      val ofType = opts.split.fold(all)(f => all.where(Split.docType(f, col("doc")) === t))
      val donor = ofType
        .where(!col("deleted") && !col("id").startsWith("_design") && col("doc").isNotNull)
        .orderBy("seqNum").select("doc").limit(1).collect().headOption.map(_.getString(0))
      val schema = donor.fold(DocSchema(Seq.empty))(SchemaDiscovery.discover)
      val slice = opts.split.fold(all)(f => Split.ofType(all, f, t))
      if (schema.leaves.isEmpty) None
      else Some(Split.tableName(opts.database, opts.split.map(_ => t)) ->
        Flatten(Compact(slice.select("id", "seqNum", "deleted", "doc")), schema))
    }.toMap
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSeq.sorted

  private def assertSameTables(got: Map[String, DataFrame], want: Map[String, DataFrame]): Unit = {
    assert(got.keySet == want.keySet)
    want.foreach { case (t, w) =>
      assert(got(t).columns.toSeq == w.columns.toSeq, s"$t columns")
      assert(rows(got(t)) == rows(w), s"$t rows")
    }
  }

  private def ids(w: Warehouse, table: String): Seq[String] =
    w.query(s"SELECT id FROM $table").collect().map(_.getString(0)).toSeq.sorted

  test("a doc whose type changes stays in both type tables until a tombstone removes it") {
    val w = new Warehouse(spark, WarehouseOptions(database = "tc", split = Some("type")))
    w.ingest(feed(Seq(
      change(1, "a", """{"type":"x","v":1}"""),
      change(2, "b", """{"type":"y","v":2}"""),
      change(3, "a", """{"type":"y","v":3}"""))))
    assert(w.tableNames.sorted == Seq("tc_x", "tc_y"))
    assert(w.query("SELECT id, v FROM tc_x").collect().map(r => (r.getString(0), r.getDouble(1)))
      .toSeq == Seq(("a", 1.0)))
    assert(w.query("SELECT id, v FROM tc_y ORDER BY id").collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSeq == Seq(("a", 3.0), ("b", 2.0)))
    w.ingest(feed(Seq(change(4, "a", "{}", deleted = true))))
    assert(ids(w, "tc_x").isEmpty && ids(w, "tc_y") == Seq("b"))
    assert(w.checkpoint == 4L)
  }

  test("replayed duplicates collapse; design docs drop but their seqs count") {
    val lines = Seq(
      change(1, "a", """{"v":1}"""),
      change(2, "b", """{"v":2}"""),
      change(1, "a", """{"v":1}"""),
      change(3, "_design/app", """{"views":{}}"""),
      change(2, "b", """{"v":2}"""))
    val w = new Warehouse(spark, WarehouseOptions(database = "rp"))
    w.ingest(feed(lines))
    assert(w.query("SELECT id, v FROM rp ORDER BY id").collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSeq == Seq(("a", 1.0), ("b", 2.0)))
    assert(w.checkpoint == 3L, "the design doc's seq is the last applied")
    assertSameTables(Map("rp" -> w.query("SELECT * FROM rp")),
      perType(feed(lines), WarehouseOptions(database = "rp")))
  }

  test("the donor is the first doc ever seen, even when compaction discards it") {
    val w = new Warehouse(spark, WarehouseOptions(database = "dn", split = Some("type")))
    w.ingest(feed(Seq(
      change(1, "a", """{"type":"x","p":1}"""),
      change(2, "a", "{}", deleted = true),
      change(3, "b", """{"type":"x","p":2,"late":7}"""),
      change(4, "c", """{"type":"y","q":"s"}"""),
      change(5, "c", """{"type":"y","q":"t","late":8}"""))))
    assert(w.discoveredSchemas("x").leaves.map(_.name).toSet == Set("id", "rev", "type", "p"))
    assert(!w.query("SELECT * FROM dn_x").columns.contains("late"))
    assert(!w.query("SELECT * FROM dn_y").columns.contains("late"))
    assert(w.query("SELECT id, q FROM dn_y").collect().map(r => (r.getString(0), r.getString(1)))
      .toSeq == Seq(("c", "t")))
    // a later ingest never re-derives a frozen schema
    w.ingest(feed(Seq(change(6, "d", """{"type":"x","p":3,"late2":1}"""))))
    assert(!w.query("SELECT * FROM dn_x").columns.contains("late2"))
    assert(ids(w, "dn_x") == Seq("b", "d"))
  }

  /** A seeded feed over ids that change type, get deleted, come back,
    * replay and carry late fields; design docs and null-typed docs mixed in.
    */
  private def randomFeed(seed: Long, n: Int): Seq[String] = {
    val rnd = new Random(seed)
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var seq = 0L
    while (out.size < n) {
      seq += 1
      val id = s"d${rnd.nextInt(n / 3)}"
      val r = rnd.nextDouble()
      out += {
        if (r < 0.12) change(seq, id, "{}", deleted = true)
        else if (r < 0.15) change(seq, s"_design/v${rnd.nextInt(3)}", """{"views":{"a":1}}""")
        else if (r < 0.22 && out.nonEmpty) out(rnd.nextInt(out.size)) // replay
        else {
          val tpe = if (rnd.nextDouble() < 0.05) "" else s""""type":"${"xyz"(rnd.nextInt(3))}","""
          val late = if (seq > n / 2) s""","late":$seq""" else ""
          val nested = s""""addr":{"n":${rnd.nextInt(100)},"s":"st$seq"},"tags":[${rnd.nextInt(9)}]"""
          change(seq, id, s"""{$tpe"v":${rnd.nextInt(1000)},$nested$late}""")
        }
      }
    }
    out.toSeq
  }

  test("seeded random feeds: tables row-for-row equal to the per-type build") {
    for (seed <- Seq(7L, 11L, 2026L)) {
      val lines = randomFeed(seed, 600)
      val opts = WarehouseOptions(database = s"rnd$seed", split = Some("type"))
      val w = new Warehouse(spark, opts)
      val got = w.ingest(feed(lines))
      assert(got.size == 4, s"seed $seed: ${got.keys}") // x, y, z and _default
      assertSameTables(got, perType(feed(lines), opts))
      val seqs = lines.map(l => mapper.readTree(l).get("seq").asText.takeWhile(_ != '-').toLong)
      assert(w.checkpoint == seqs.max)
    }
  }

  test("two incremental ingests equal one ingest of the whole feed") {
    val lines = randomFeed(99L, 500)
    val (first, second) = lines.splitAt(260)
    val opts = WarehouseOptions(database = "inc", split = Some("type"))
    val w = new Warehouse(spark, opts)
    w.ingest(feed(first))
    val got = w.ingest(feed(second))
    assertSameTables(got, perType(feed(lines), opts))
  }

  test("split = None, a Mango selector and a Transform hook match the per-type build") {
    val lines = randomFeed(5L, 400)
    val upper: Transform.Hook = Transform.jsonDocTransform(d =>
      if (d == null) null else d.replace("\"st", "\"ST"))
    val variants = Seq(
      WarehouseOptions(database = "nosplit"),
      WarehouseOptions(database = "mango", split = Some("type"),
        mangoSelector = Some("""{"v":{"$gt":400}}""")),
      WarehouseOptions(database = "hook", split = Some("type"), transform = upper))
    variants.foreach { opts =>
      // the selector runs in the reader, on both sides
      val read = feed(lines, opts.mangoSelector)
      val w = new Warehouse(spark, opts)
      assertSameTables(w.ingest(read), perType(read, opts))
    }
    val hooked = spark.table("hook_x").select("addr_s").as[String].collect()
    assert(hooked.nonEmpty && hooked.forall(_.startsWith("ST")))
  }

  test("one hash exchange compacts every type") {
    val w = new Warehouse(spark, WarehouseOptions(database = "ex", split = Some("type")))
    val got = w.ingest(feed(randomFeed(3L, 200)))
    val cached = got.values.head.queryExecution.analyzed.collect {
      case r: InMemoryRelation => r.cachedPlan
    }
    assert(cached.size == 1)
    val exchanges = new AdaptiveSparkPlanHelper {}.collect(cached.head) {
      case e: ShuffleExchangeLike => e
    }
    assert(exchanges.size == 1, cached.head.treeString)
  }

  // ------------------------------------------------------------ lifecycle

  private def persistentIds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("a second ingest releases the first materialization: at most one stays live") {
    val before = persistentIds
    val w = new Warehouse(spark, WarehouseOptions(database = "life", split = Some("type")))
    w.ingest(feed(Seq(change(1, "a", """{"type":"x","v":1}"""), change(2, "b", """{"type":"x","v":2}"""))))
    val first = persistentIds -- before
    assert(first.size == 1, s"one materialization after the first ingest, got $first")
    w.ingest(feed(Seq(change(3, "a", "{}", deleted = true), change(4, "c", """{"type":"x","v":4}"""))))
    val second = persistentIds -- before
    assert(second.size == 1 && second != first, s"first $first, then $second")
    assert(ids(w, "life_x") == Seq("b", "c"))
  }

  /** Ingest into a warehouse nobody keeps and return its materialization's
    * RDD id; its views are dropped so no plan refers to it afterwards.
    */
  private def abandonedIngest(): Int = {
    val before = persistentIds
    val w = new Warehouse(spark, WarehouseOptions(database = "abandoned"))
    w.ingest(feed(Seq(change(1, "a", """{"v":1}"""))))
    assert(w.query("SELECT count(*) FROM abandoned").as[Long].head() == 1L)
    spark.catalog.dropTempView("abandoned")
    spark.catalog.dropTempView("couchwarehouse_checkpoints")
    val made = persistentIds -- before
    assert(made.size == 1)
    made.head
  }

  test("an abandoned warehouse's materialization is not pinned by the session") {
    val id = abandonedIngest()
    val deadline = System.nanoTime() + 60L * 1000000000L
    while (persistentIds(id) && System.nanoTime() < deadline) {
      System.gc()
      Thread.sleep(200)
    }
    assert(!persistentIds(id), "the ContextCleaner never released the abandoned materialization")
  }

  test("ingest plus export of every table reads each input record once") {
    val dir = java.nio.file.Files.createTempDirectory("onepass")
    val lines = randomFeed(31L, 900)
    java.nio.file.Files.writeString(dir.resolve("spool.txt"),
      lines.mkString("{\"results\":[\n", ",\n", "\n],\n\"last_seq\":\"0\"}\n"))
    val records = new AtomicLong()
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m => records.addAndGet(m.inputMetrics.recordsRead))
    }
    val changes = spark.read.format("couch-changes").load(dir.resolve("spool.txt").toString)
    GraftSqlBridge.drainListeners(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      val w = new Warehouse(spark, WarehouseOptions(database = "once", split = Some("type")))
      w.ingest(changes)
      w.tableNames.foreach(t => w.export(t, dir.resolve(t).toString))
      GraftSqlBridge.drainListeners(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    // the materialization is read in cached batches, one record per batch
    val batches = records.get - lines.size
    assert(batches >= 0 && batches <= 4 * 4, s"${records.get} records read for ${lines.size} changes")
  }
}
