package graft

import com.fasterxml.jackson.databind.ObjectMapper
import graft.sources.ChangesSpooler
import java.nio.file.Files

/** The SpoolerEsSinkSpec pipeline at three orders of magnitude more
  * changes than the reference fixture: 12k docs + updates + deletes
  * through HTTP spooling (many pages), DSv2 replay, LWW compaction,
  * type split, and the ES bulk sink — the shapes that only break with
  * volume (page boundaries mid-update, tombstones in later chunks than
  * their doc, per-type schema freeze across chunks).
  */
class ScaleIngestSpec extends SparkSpec {

  private val mapper = new ObjectMapper()

  private val nDocs = 12000
  private val types = Seq("user", "order", "product")

  /** Synthetic feed: one create per doc; every 10th doc later re-written
    * with bumped value (rev 2); every 100th doc deleted last. CouchDB
    * wire shape matches the `couch/samplechanges.txt` fixture.
    */
  private lazy val feed: Seq[com.fasterxml.jackson.databind.JsonNode] = {
    var seq = 0
    def change(id: String, rev: Int, doc: Option[String]): com.fasterxml.jackson.databind.JsonNode = {
      seq += 1
      val d = doc.map(b => s""""doc":$b,""").getOrElse(
        s""""doc":{"_id":"$id","_rev":"$rev-fake","_deleted":true},"deleted":true,""")
      mapper.readTree(
        s"""{"seq":"$seq-fake","id":"$id","changes":[{"rev":"$rev-fake"}],$d"ignore":0}""")
    }
    def body(i: Int, rev: Int) =
      s"""{"_id":"d$i","_rev":"$rev-fake","type":"${types(i % 3)}","n":$i,"v":${rev * 1000 + i}}"""
    val creates = (0 until nDocs).map(i => change(s"d$i", 1, Some(body(i, 1))))
    val updates = (0 until nDocs by 10).map(i => change(s"d$i", 2, Some(body(i, 2))))
    val deletes = (0 until nDocs by 100).map(i => change(s"d$i", 3, None))
    creates ++ updates ++ deletes
  }

  test("12k-change feed: spool pages, split tables, LWW + deletes, ES sink") {
    val couch = new FakeHttp.FakeCouch(feed)
    val spool = Files.createTempDirectory("scale-spool").toString
    try {
      val sp = new ChangesSpooler(couch.url, "big", spool, batchSize = 1000)
      val lastSeq = sp.spool("0")
      assert(FakeHttp.seqNum(lastSeq) == feed.size.toLong)
      val chunks = new java.io.File(spool).listFiles()
      assert(chunks.length >= feed.size / 1000,
        s"expected >=${feed.size / 1000} pages, got ${chunks.length}")

      val w = Warehouse.start(spark, spool,
        WarehouseOptions(database = "big", split = Some("type")))
      assert(w.checkpoint == feed.size.toLong)
      assert(w.tableNames.sorted == Seq("big_order", "big_product", "big_user"))

      // live docs: 12000 - 120 deletes; 100 ≡ 1 (mod 3) so the deleted ids
      // d0,d100,... cycle across all three types — 40 each
      val live = nDocs - nDocs / 100
      val counts = types.map(tp =>
        tp -> w.query(s"SELECT COUNT(*) AS n FROM big_$tp").collect()(0).getLong(0)).toMap
      types.foreach(tp =>
        assert(counts(tp) == nDocs / 3 - nDocs / 300, counts.toString))
      assert(counts.values.sum == live)

      // LWW: surviving updated docs (i%10==0, i%100!=0) carry the rev-2
      // value v = 2000+i; everything else rev-1
      val rev2 = w.query(
        "SELECT COUNT(*) AS n FROM (SELECT * FROM big_user UNION ALL " +
        "SELECT * FROM big_order UNION ALL SELECT * FROM big_product) " +
        "WHERE v = 2000 + n").collect()(0).getLong(0)
      assert(rev2 == nDocs / 10 - nDocs / 100, s"rev-2 winners: $rev2")

      // ES sink at volume: every live user doc lands exactly once by _id
      val es = new FakeHttp.FakeEs
      try {
        w.exportElasticsearch("big_user", es.url, "users")
        assert(es.store.size == counts("user") + 1, // +1 checkpoint doc
          s"ES docs: ${es.store.size}")
        assert(es.bulkPosts > 1, "expected multiple bulk batches")
      } finally es.stop()
    } finally couch.stop()
  }
}
