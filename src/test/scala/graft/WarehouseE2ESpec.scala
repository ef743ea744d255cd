package graft

import com.fasterxml.jackson.databind.ObjectMapper
import graft.ops.Transform
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** End-to-end parity with the reference's mocha e2e suites:
  *   - run.js: 104-change feed → 99 golden rows (test/samplequery.json),
  *     SELECT * ORDER BY id;
  *   - run_mixed.js: split on `type` → counts 20 product / 200 order /
  *     10 user;
  *   - run_evolve.js: frozen schema → 30 rows, 10 with NULL
  *     dispatchCourierRef.
  * The feeds and golden rows are the in-repo fixtures of [[CouchFixtures]].
  */
class WarehouseE2ESpec extends SparkSpec {

  val mapper = new ObjectMapper()

  test("run.js parity: changes feed → 99 golden rows") {
    val w = Warehouse.start(spark, CouchFixtures.path("samplechanges.txt"),
      WarehouseOptions(database = "sampledata"))
    val got = w.query("SELECT * FROM sampledata ORDER BY id").collect()
    val golden = mapper.readTree(
      new java.io.File(CouchFixtures.path("samplequery.json")))
    assert(got.length == golden.size(), s"row count ${got.length} != ${golden.size()}")

    val cols = w.query("SELECT * FROM sampledata").columns
    // golden column order must match exactly (§1.3 ordering rule)
    val goldenCols = golden.get(0).fieldNames().asScala.toSeq
    assert(cols.toSeq == goldenCols, s"columns $cols != $goldenCols")

    got.zip(golden.elements().asScala.toSeq).foreach { case (row, g) =>
      goldenCols.zipWithIndex.foreach { case (c, i) =>
        val gv = g.get(c)
        if (gv.isNull) assert(row.isNullAt(i), s"$c expected null")
        else row.get(i) match {
          case b: Boolean => assert((if (b) 1 else 0) == gv.asInt, s"$c bool")
          case d: Double  => assert(math.abs(d - gv.asDouble) < 1e-9, s"$c num $d != ${gv.asDouble}")
          case s: String  => assert(s == gv.asText, s"$c: '$s' != '${gv.asText}'")
          case other      => fail(s"unexpected type for $c: $other")
        }
      }
    }
  }

  test("run_mixed.js parity: split mode counts 20/200/10") {
    val w = Warehouse.start(spark, CouchFixtures.path("samplechanges2.txt"),
      WarehouseOptions(database = "sampledata", split = Some("type")))
    assert(w.query("SELECT COUNT(*) as x FROM sampledata_product").collect()(0).getLong(0) == 20L)
    assert(w.query("SELECT COUNT(*) as x FROM sampledata_order").collect()(0).getLong(0) == 200L)
    assert(w.query("SELECT COUNT(*) as x FROM sampledata_user").collect()(0).getLong(0) == 10L)
  }

  test("run_evolve.js parity: frozen schema, late fields NULL") {
    val w = Warehouse.start(spark, CouchFixtures.path("samplechanges3.txt"),
      WarehouseOptions(database = "sampledata"))
    assert(w.query("SELECT COUNT(*) as x FROM sampledata").collect()(0).getLong(0) == 30L)
    assert(w.query(
      "SELECT COUNT(*) as x FROM sampledata WHERE dispatchCourierRef IS NULL")
      .collect()(0).getLong(0) == 10L)
  }

  test("mango selector filters the feed (A4)") {
    val w = Warehouse.start(spark, CouchFixtures.path("samplechanges.txt"),
      WarehouseOptions(database = "mangodb",
        mangoSelector = Some("""{"age":{"$gt":50}}""")))
    val n = w.query("SELECT COUNT(*) x FROM mangodb").collect()(0).getLong(0)
    val all = Warehouse.start(spark, CouchFixtures.path("samplechanges.txt"),
      WarehouseOptions(database = "alldb"))
    val total = all.query("SELECT COUNT(*) x FROM alldb").collect()(0).getLong(0)
    assert(n > 0 && n < total)
    assert(w.query("SELECT MIN(age) m FROM mangodb").collect()(0).getDouble(0) > 50.0)
  }

  test("transform hook applies before the warehouse lands (A5)") {
    // a doc-level hook upper-cases `name` before flatten and compaction
    val upper = Transform.jsonDocTransform { doc =>
      val m = new ObjectMapper()
      Option(doc).map(m.readTree) match {
        case Some(o: com.fasterxml.jackson.databind.node.ObjectNode) if o.has("name") =>
          m.writeValueAsString(o.put("name", o.get("name").asText.toUpperCase))
        case _ => doc
      }
    }
    val w = Warehouse.start(spark, CouchFixtures.path("samplechanges.txt"),
      WarehouseOptions(database = "sampledata", transform = upper))
    val id = "001g6v3h2hrgcP45xCdc343JmY4X0qHA"
    val name = CouchFixtures.results.find(_.get("id").asText == id).get
      .get("doc").get("name").asText
    assert(name != name.toUpperCase, s"fixture name '$name' must be mixed case")
    val landed = w.query(s"SELECT name FROM sampledata WHERE id = '$id'").collect()
    assert(landed.map(_.getString(0)).toSeq == Seq(name.toUpperCase))
  }

  test("checkpoint tracks last applied seq (A13/A14)") {
    val w = Warehouse.start(spark, CouchFixtures.path("samplechanges.txt"),
      WarehouseOptions(database = "sampledata"))
    assert(w.checkpoint == 104L)
  }

  test("repeated ingest merges batches (update/delete across batches)") {
    def batch(rows: String*) = CouchFixtures.feed(spark, rows)
    val w = new Warehouse(spark, WarehouseOptions(database = "incdb"))
    w.ingest(batch(
      """{"seq":"1-x","id":"a","changes":[{"rev":"1"}],"doc":{"_id":"a","_rev":"1","v":1}}""",
      """{"seq":"2-x","id":"b","changes":[{"rev":"1"}],"doc":{"_id":"b","_rev":"1","v":2}}"""))
    assert(w.query("SELECT COUNT(*) x FROM incdb").collect()(0).getLong(0) == 2L)
    w.ingest(batch(
      """{"seq":"3-x","id":"b","changes":[{"rev":"2"}],"doc":{"_id":"b","_rev":"2","v":20}}""",
      """{"seq":"4-x","id":"a","changes":[{"rev":"2"}],"deleted":true,"doc":{"_id":"a","_rev":"2","_deleted":true}}""",
      """{"seq":"5-x","id":"c","changes":[{"rev":"1"}],"doc":{"_id":"c","_rev":"1","v":3}}"""))
    val rows = w.query("SELECT id, v FROM incdb ORDER BY id").collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(rows == Seq(("b", 20.0), ("c", 3.0)))
    assert(w.checkpoint == 5L)

    // outbound change feed: latest-per-id with tombstones, resumable by seq
    val all = w.changesSince(0L).orderBy("id").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getBoolean(2))).toSeq
    assert(all == Seq(("a", 4L, true), ("b", 3L, false), ("c", 5L, false)),
      "a delete must surface as a tombstone event, not disappear")
    val tail = w.changesSince(3L).orderBy("id").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(tail == Seq(("a", 4L), ("c", 5L)),
      "resuming past b's last change must not replay it")
  }
}
