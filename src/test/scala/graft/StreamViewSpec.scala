package graft

import graft.ops.{Flatten, Split}
import graft.streaming.StreamIngest
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.JsonToStructs
import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The views `StreamIngest` publishes read the stored `_type` and the
  * state's `id`: a point read filters on plain columns below the doc
  * parse, and every view equals the definition that parses each doc for
  * its type and id on the couch fixtures. A warehouse reopened under
  * another split field than the one its `_type`s were computed under
  * fails at construction, and a doc whose `_id` is not its change id
  * fails its sync. Every warehouse is built in-process.
  */
class StreamViewSpec extends SparkSpec {

  private val helper = new AdaptiveSparkPlanHelper {}

  private def change(seq: Int, id: String, doc: String): String =
    s"""{"seq":"$seq-x","id":"$id","changes":[{"rev":"$seq-r"}],"doc":$doc}"""

  private def deletion(seq: Int, id: String): String =
    s"""{"seq":"$seq-x","id":"$id","changes":[{"rev":"$seq-r"}],"deleted":true,"doc":{"_id":"$id","_rev":"$seq-r","_deleted":true}}"""

  /** A doc typed twice over: `type` one of three, `kind` one of two. */
  private def typed(seq: Int, id: String, v: Int): String = change(seq, id,
    s"""{"_id":"$id","_rev":"$seq-r","type":"${Seq("order", "product", "user")(v % 3)}","kind":"k${v % 2}","v":$v}""")

  private def mk(rows: Seq[String]): DataFrame = CouchFixtures.feed(spark, rows)

  private def tempDir(prefix: String): String = Files.createTempDirectory(prefix).toString

  private def fsOf(wh: String) = new Path(wh).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def manifest(wh: String) = new StreamIngest.ManifestDir(fsOf(wh), new Path(s"$wh/_state_v"))

  /** An instance on a state of 4 buckets, so that a few dozen docs hold
    * several changes per bucket and small syncs land as a delta (its
    * bound is one average bucket of the base's rows).
    */
  private def ingestOf(wh: String, db: String, split: Option[String]): StreamIngest =
    withConf("graft.state.buckets" -> "4")(
      new StreamIngest(spark, WarehouseOptions(database = db, split = split), wh))

  /** The change lines of the couch fixture `name`. */
  private def fixture(name: String): Seq[String] =
    Files.readAllLines(Paths.get(CouchFixtures.path(name))).asScala.toSeq
      .map(_.trim.stripSuffix(",")).filter(_.startsWith("{\"seq\""))

  /** Every view of `ingest` against the definition that parses the doc for
    * its type and its id: `Flatten` over the live rows of `lines` whose
    * doc-derived docType is the view's (last writer wins per
    * `(id, docType)`), with the instance's frozen schema.
    */
  private def assertViews(ingest: StreamIngest, db: String, split: Option[String],
                          lines: Seq[String], clue: String): Unit = {
    ingest.publish()
    val live = ByTypeOracle.live(mk(lines),
      split.fold(lit(Split.DefaultType))(f => Split.docType(f, col("doc"))))
    val types = live.select("t").distinct().collect().map(_.getString(0)).toSeq
    assert(types.nonEmpty, clue)
    types.foreach { t =>
      val want = Flatten(live.where(col("t") === t), ingest.discoveredSchemas(t))
      val view = spark.table(Split.tableName(db, split.map(_ => t)))
      assert(view.schema == want.schema, s"$clue: $t")
      assert(view.collect().map(_.toString).sorted.toSeq ==
        want.collect().map(_.toString).sorted.toSeq, s"$clue: $t")
    }
  }

  /** Each node of `plan` that parses a doc with `from_json`. */
  private def parses(plan: SparkPlan): Seq[SparkPlan] =
    helper.collect(plan) { case p if p.expressions.exists(_.exists(_.isInstanceOf[JsonToStructs])) => p }

  /** The plan of a point read of `id` through `view`: no `get_json_object`
    * anywhere, and every `from_json` above a filter on `id` and `_type`.
    */
  private def assertPointRead(view: String, id: String, v: Double): Unit = {
    val read = spark.table(view).where(col("id") === id).select("v")
    assert(read.collect().map(_.getDouble(0)).toSeq == Seq(v))
    val plan = read.queryExecution.executedPlan
    assert(!plan.toString.toLowerCase.contains("get_json_object") &&
      !plan.toString.contains("GetJsonObject"), plan)
    assert(parses(plan).nonEmpty, plan)
    parses(plan).foreach { p =>
      val below = helper.collect(p) { case f: FilterExec => f.condition.references.map(_.name).toSet }
      assert(below.exists(r => r.contains("id") && r.contains("_type")), plan)
    }
  }

  test("a point read on a view filters on id and _type below from_json, folded and with a delta") {
    val wh = tempDir("point-wh")
    val ingest = ingestOf(wh, "ptdb", Some("type"))
    ingest.applyBatch(mk((1 to 600).map(i => typed(i, s"d$i", i))), 0L)
    ingest.publish()
    assert(manifest(wh).live().get.delta.isEmpty)
    assertPointRead("ptdb_order", "d42", 42.0)

    ingest.applyBatch(mk(Seq(typed(601, "d42", 45), typed(602, "d7", 7), deletion(603, "d3"))), 1L)
    ingest.publish()
    assert(manifest(wh).live().get.delta.size == 3)
    assertPointRead("ptdb_order", "d42", 45.0)
    assertPointRead("ptdb_product", "d7", 7.0)
    assert(spark.table("ptdb_order").where(col("id") === "d3").isEmpty)
  }

  test("every view equals the doc-parsing definition on the couch fixtures, split and not") {
    for {
      (name, split) <- Seq("samplechanges.txt" -> None, "samplechanges2.txt" -> Some("type"),
        "samplechanges2.txt" -> None, "samplechanges3.txt" -> Some("type"))
    } {
      val lines = fixture(name).zipWithIndex
      val db = s"fx${split.size}${name.filter(_.isDigit)}"
      val wh = tempDir("fixture-wh")
      val ingest = ingestOf(wh, db, split)
      // a base of the first half, then syncs of 7 changes: deltas and folds
      val (base, rest) = lines.splitAt(lines.size / 2)
      ingest.applyBatch(mk(base.map(_._1)), 0L)
      assertViews(ingest, db, split, base.map(_._1), s"$name $split base")
      rest.grouped(7).zipWithIndex.foreach { case (sync, b) =>
        ingest.applyBatch(mk(sync.map(_._1)), b + 1L)
        val applied = lines.take(sync.last._2 + 1).map(_._1)
        assertViews(ingest, db, split, applied, s"$name $split sync $b")
      }
    }
  }

  test("a warehouse reopened under another split field, or none, fails at construction") {
    val wh = tempDir("resplit-wh")
    val first = ingestOf(wh, "rsp", Some("type"))
    val applied = (1 to 90).map(i => typed(i, s"d$i", i)) :+ typed(91, "d1", 2)
    first.applyBatch(mk(applied.init), 0L)
    // a delta typed by `type`, left pending
    first.applyBatch(mk(applied.takeRight(1)), 1L)
    assert(manifest(wh).live().get.delta.nonEmpty)
    // every file under the state root with its bytes
    def state(): Map[String, Seq[Byte]] = {
      val s = Files.walk(Paths.get(wh, "_state_v"))
      try s.iterator.asScala.filter(Files.isRegularFile(_))
        .map(p => p.toString -> Files.readAllBytes(p).toSeq).toMap
      finally s.close()
    }
    val before = state()
    for ((split, named) <- Seq(Some("kind") -> "--split 'kind'", None -> "no --split")) {
      val e = intercept[IllegalStateException](ingestOf(wh, "rsp2", split))
      assert(e.getMessage.contains("--split 'type'") && e.getMessage.contains(named) &&
        e.getMessage.contains("--reset"), e.getMessage)
      assert(state() == before, s"$split: the refused instance touched the state")
    }
    // the original split field still opens it
    assertViews(ingestOf(wh, "rsp", Some("type")), "rsp", Some("type"), applied, "reopened")
  }

  test("a live change whose doc _id is not its id fails its sync, small batch or large") {
    val wh = tempDir("idguard-wh")
    val ingest = ingestOf(wh, "igdb", Some("type"))
    ingest.applyBatch(mk((1 to 20).map(i => typed(i, s"d$i", i))), 0L)
    val before = manifest(wh).live().get
    val forged = change(21, "d3", """{"_id":"other","_rev":"21-r","type":"order","v":1}""")
    val small = intercept[IllegalStateException](ingest.applyBatch(mk(Seq(typed(22, "d4", 4), forged)), 1L))
    assert(small.getMessage.contains("'d3'") && small.getMessage.contains("'other'"), small.getMessage)
    val large = (23 to 23 + StreamIngest.SmallBatchRows).map(i => typed(i, s"n$i", i)) :+ forged
    val e = intercept[IllegalStateException](ingest.applyBatch(mk(large), 1L))
    assert(e.getMessage.contains("'d3'") && e.getMessage.contains("'other'"), e.getMessage)
    assert(manifest(wh).live().get == before, "a refused batch must not commit")
    // a tombstone's doc and a design doc are not checked
    ingest.applyBatch(mk(Seq(deletion(30, "d5"),
      change(31, "_design/x", """{"_id":"_design/y","views":{}}"""))), 1L)
    assert(ingest.checkpoint == 31L)
  }
}
