package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.sinks.ElasticsearchSink
import graft.sources.ChangesSpooler
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** End-to-end coverage for the two HTTP endpoints of the pipeline:
  * [[ChangesSpooler]] (fake CouchDB `_changes` server → chunk dir → DSv2
  * source → warehouse) and [[ElasticsearchSink]] (warehouse → fake ES
  * `_bulk` server), mirroring the reference's ingest and ES-target halves
  * (`/root/reference/index.js:75-170`, `lib/elasticsearch.js`).
  */
class SpoolerEsSinkSpec extends SparkSpec {

  private val mapper = new ObjectMapper()

  private def tempDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private lazy val sampleChanges: Seq[JsonNode] = CouchFixtures.results

  test("spooler: pages the full feed into chunks; warehouse replays to the 99 golden rows") {
    val couch = new FakeHttp.FakeCouch(sampleChanges)
    val spool = tempDir("spool")
    try {
      val sp = new ChangesSpooler(couch.url, "sampledata", spool, batchSize = 30)
      val seq = sp.spool("0")
      assert(FakeHttp.seqNum(seq) == 104L, s"final seq token $seq")
      val chunks = new java.io.File(spool).listFiles().map(_.getName).sorted
      assert(chunks.length == 4, s"100 changes / 30 per page -> 4 chunks, got ${chunks.toSeq}")
      assert(chunks.forall(_.matches("chunk-\\d{6}\\.json")))

      val w = Warehouse.start(spark, spool, WarehouseOptions(database = "spooled"))
      assert(w.query("SELECT COUNT(*) AS n FROM spooled").collect()(0).getLong(0) == 99L)
      assert(w.checkpoint == 104L)

      // resuming from the returned checkpoint finds nothing and writes nothing
      assert(sp.spool(seq) == seq)
      assert(new java.io.File(spool).listFiles().length == 4)
    } finally couch.stop()
  }

  test("spooler: Mango selector is pushed to the server via filter=_selector") {
    val couch = new FakeHttp.FakeCouch(sampleChanges)
    val spool = tempDir("spool-sel")
    try {
      val sel = """{"age":{"$gt":30}}"""
      new ChangesSpooler(couch.url, "sampledata", spool, batchSize = 1000,
        selector = Some(sel)).spool("0")
      val parsed = graft.ops.Mango.parse(sel)
      val expected = sampleChanges.count { c =>
        val deleted = Option(c.get("deleted")).exists(_.asBoolean(false))
        deleted || Option(c.get("doc")).exists(d => graft.ops.Mango.evalDoc(parsed, d))
      }
      val n = spark.read.format("couch-changes").load(spool).count()
      assert(n == expected && n < 100, s"server-filtered feed: $n of 100")
    } finally couch.stop()
  }

  test("spooler: transient 5xx outages are retried without gapping the chunk sequence") {
    val couch = new FakeHttp.FakeCouch(sampleChanges)
    val spool = tempDir("spool-retry")
    try {
      val sp = new ChangesSpooler(couch.url, "sampledata", spool, batchSize = 30,
        retryBackoffMillis = 10)
      couch.failNext.set(2) // first page fails twice, then heals
      val seq = sp.spool("0")
      assert(FakeHttp.seqNum(seq) == 104L)
      assert(new java.io.File(spool).listFiles().length == 4, "no gap, no duplicate chunk")
      assert(spark.read.format("couch-changes").load(spool)
        .where(!org.apache.spark.sql.functions.col("deleted")).count() == 99L)

      // a persistent outage (> maxRetries) surfaces instead of spinning
      couch.failNext.set(100)
      val e = intercept[java.io.IOException] {
        new ChangesSpooler(couch.url, "sampledata", tempDir("spool-dead"),
          maxRetries = 1, retryBackoffMillis = 10).spool("0")
      }
      assert(e.getMessage.contains("after 1 retries"))
      couch.failNext.set(0)
    } finally couch.stop()
  }

  test("spooler: monitor longpolls — drains an immediate change, then one arriving mid-poll") {
    val couch = new FakeHttp.FakeCouch(sampleChanges)
    val spool = tempDir("spool-mon")
    try {
      val sp = new ChangesSpooler(couch.url, "sampledata", spool, batchSize = 1000,
        longpollTimeoutMillis = 2000)
      val seq = sp.spool("0")

      // change already waiting: the longpoll returns immediately
      couch.append(mapper.readTree(
        """{"seq":"105-x","id":"zzz1","changes":[{"rev":"1-r"}],"doc":{"_id":"zzz1","_rev":"1-r","name":"Live One","age":50,"verified":true,"description":"d","address":{"street":"s","location":{"long":0.1,"lat":0.2}},"tags":["a"]}}"""))
      val seq2 = sp.monitor(seq, maxBatches = 1)
      assert(FakeHttp.seqNum(seq2) == 105L)

      // change arriving while the longpoll is parked
      val fut = scala.concurrent.Future(sp.monitor(seq2, maxBatches = 1))(
        scala.concurrent.ExecutionContext.global)
      Thread.sleep(300)
      couch.append(mapper.readTree(
        """{"seq":"106-x","id":"zzz2","changes":[{"rev":"1-r"}],"doc":{"_id":"zzz2","_rev":"1-r","name":"Live Two","age":51,"verified":false,"description":"d","address":{"street":"s","location":{"long":0.3,"lat":0.4}},"tags":["b"]}}"""))
      val seq3 = scala.concurrent.Await.result(fut, scala.concurrent.duration.Duration(20, "s"))
      assert(FakeHttp.seqNum(seq3) == 106L)

      val w = Warehouse.start(spark, spool, WarehouseOptions(database = "monitored"))
      assert(w.query("SELECT COUNT(*) AS n FROM monitored").collect()(0).getLong(0) == 101L)
      assert(w.checkpoint == 106L)
    } finally couch.stop()
  }

  test("live pipeline: HTTP monitor feeds Structured Streaming ingest across restarts") {
    val couch = new FakeHttp.FakeCouch(sampleChanges)
    val spool = tempDir("live-spool")
    val wh = tempDir("live-wh")
    val ck = tempDir("live-ck")
    try {
      val sp = new graft.sources.ChangesSpooler(couch.url, "sampledata", spool,
        batchSize = 40, longpollTimeoutMillis = 2000)
      val seq = sp.spool("0")

      val ingest = new graft.streaming.StreamIngest(spark,
        WarehouseOptions(database = "live"), wh)
      ingest.start(spool, ck).awaitTermination()
      ingest.publish()
      assert(spark.table("live").count() == 99L)

      // a change lands in CouchDB; the monitor spools it; a new
      // AvailableNow run drains ONLY the new chunk (offset resume)
      couch.append(mapper.readTree(
        """{"seq":"105-x","id":"zzz3","changes":[{"rev":"1-r"}],"doc":{"_id":"zzz3","_rev":"1-r","name":"Live Three","age":40,"verified":true,"description":"d","address":{"street":"s","location":{"long":0.5,"lat":0.6}},"tags":["c"]}}"""))
      sp.monitor(seq, maxBatches = 1)

      val resumed = new graft.streaming.StreamIngest(spark,
        WarehouseOptions(database = "live"), wh)
      resumed.start(spool, ck).awaitTermination()
      resumed.publish()
      assert(spark.table("live").count() == 100L)
      assert(resumed.checkpoint == 105L)
    } finally couch.stop()
  }

  test("ES sink: warehouse export lands 99 docs, strips id/rev from source, checkpoints") {
    val es = new FakeHttp.FakeEs
    try {
      val w = Warehouse.start(spark, CouchFixtures.path("samplechanges.txt"),
        WarehouseOptions(database = "sampledata"))
      w.exportElasticsearch("sampledata", es.url, "couchwarehouse")
      val docs = es.store.asScala.filter(_._1.startsWith("couchwarehouse/"))
      assert(docs.size == 99, s"expected 99 indexed docs, got ${docs.size}")
      val one = w.query("SELECT id, name, age FROM sampledata LIMIT 1").collect()(0)
      val src = es.store.get(s"couchwarehouse/${one.getString(0)}")
      assert(src.get("name").asText == one.getString(1))
      assert(math.abs(src.get("age").asDouble - one.getDouble(2)) < 1e-9)
      // reference parity: _id/_rev never appear in the source body
      assert(!src.has("id") && !src.has("rev"))
      // checkpoint doc is keyed by TABLE name (reference
      // writeCheckpoint(tablename, seq)), independent of the target index
      assert(ElasticsearchSink.getCheckpoint(es.url, "sampledata").contains(104L))
    } finally es.stop()
  }

  test("ES sink: deletes remove docs; small batches flush repeatedly; bad seqCol fails fast") {
    val es = new FakeHttp.FakeEs
    try {
      import spark.implicits._
      val df = (1 to 25).map(i => (s"doc$i", s"v$i", false)).toDF("id", "val", "deleted")
      ElasticsearchSink.bulkUpsert(df, es.url, "t", deletedCol = Some("deleted"),
        batchSize = 7)
      assert(es.store.asScala.count(_._1.startsWith("t/")) == 25)
      assert(es.bulkPosts > 1, "batchSize=7 over 25 rows must flush more than once")

      // tombstone for doc3 + replay of doc4 (idempotent overwrite)
      val upd = Seq(("doc3", null.asInstanceOf[String], true), ("doc4", "v4b", false))
        .toDF("id", "val", "deleted")
      ElasticsearchSink.bulkUpsert(upd, es.url, "t", deletedCol = Some("deleted"))
      assert(!es.store.containsKey("t/doc3"))
      assert(es.store.get("t/doc4").get("val").asText == "v4b")

      val withSeq = Seq(("a", 7L)).toDF("id", "seqNum")
      ElasticsearchSink.foreachBatchUpserter(es.url, "t2", seqCol = Some("seqNum"))(withSeq, 0L)
      assert(ElasticsearchSink.getCheckpoint(es.url, "t2").contains(7L))

      val badSeq = Seq(("a", "7-tok")).toDF("id", "seq")
      val e = intercept[IllegalArgumentException] {
        ElasticsearchSink.foreachBatchUpserter(es.url, "t3", seqCol = Some("seq"))(badSeq, 0L)
      }
      assert(e.getMessage.contains("integral"))
    } finally es.stop()
  }

  test("ES sink: arrays, structs, and timestamps serialize as real JSON, not toString") {
    val es = new FakeHttp.FakeEs
    try {
      import spark.implicits._
      val df = Seq(("v1", Seq(0.5f, 1.5f), ("nested", 7L),
          java.sql.Timestamp.valueOf("2020-01-02 03:04:05")))
        .toDF("id", "vec", "meta", "ts")
      ElasticsearchSink.bulkUpsert(df, es.url, "typed")
      val src = es.store.get("typed/v1")
      assert(src.get("vec").isArray && src.get("vec").get(1).asDouble == 1.5)
      assert(src.get("meta").isObject && src.get("meta").get("_2").asLong == 7L)
      // ISO-8601 instant, not java.sql.Timestamp's space-separated form
      assert(src.get("ts").asText.contains("T") && src.get("ts").asText.endsWith("Z"))
    } finally es.stop()
  }
}
