package graft

import graft.ops.Compact
import graft.streaming.{StateFs, StreamIngest}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, LocalTableScanExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import java.nio.file.Files
import scala.collection.mutable.ArrayBuffer
import scala.util.Random

/** The pending delta of `StreamIngest`: a small batch above the state's
  * `maxSeq` lands in the manifest commit, and readers resolve it over the
  * bucket files. On seeded random feeds the state always equals
  * `Compact.latestChanges` over every change applied, across the delta
  * path, the folds it triggers and the bucketed merge of replays and
  * large batches; plus restarts, a second reading instance and a reset
  * checkpoint with a delta pending. Every feed is built in-process.
  */
class StreamDeltaSpec extends SparkSpec {

  private val types = Seq("order", "product", "user")

  private def change(seq: Int, id: String, doc: String): String =
    s"""{"seq":"$seq-x","id":"$id","changes":[{"rev":"$seq-r"}],"doc":$doc}"""

  private def deletion(seq: Int, id: String): String =
    s"""{"seq":"$seq-x","id":"$id","changes":[{"rev":"$seq-r"}],"deleted":true,"doc":{"_id":"$id","_rev":"$seq-r","_deleted":true}}"""

  private def typed(seq: Int, id: String, t: String, v: Int): String =
    change(seq, id, s"""{"_id":"$id","_rev":"$seq-r","type":"$t","v":$v}""")

  /** A `StreamIngest` on a state of 4 buckets, so that a base of a few
    * dozen docs holds a few changes per bucket: the delta bound is one
    * average bucket of the base's rows.
    */
  private def fewBuckets(opts: WarehouseOptions, wh: String): StreamIngest =
    withConf("graft.state.buckets" -> "4")(new StreamIngest(spark, opts, wh))

  private def mk(rows: Seq[String]): DataFrame = CouchFixtures.feed(spark, rows)

  private def tempDir(prefix: String): String = Files.createTempDirectory(prefix).toString

  private def manifest(wh: String) = new StreamIngest.ManifestDir(
    new Path(wh).getFileSystem(spark.sparkContext.hadoopConfiguration), new Path(s"$wh/_state_v"))

  private def sorted(df: DataFrame): Seq[String] =
    df.select("id", "seqNum", "deleted", "doc").collect().map(_.toString).toSeq.sorted

  /** The state a full recompute gives: the latest change per id over
    * every line ever applied, tombstones kept, design docs dropped.
    */
  private def recompute(lines: Seq[String]): Seq[String] =
    sorted(Compact.latestChanges(mk(lines)))

  /** Per-type live row counts, as the views must hold: last writer wins
    * per `(id, docType)`, so a doc that changed type stays counted in its
    * old type until deleted.
    */
  private def liveCounts(lines: Seq[String]): Map[String, Long] = {
    import org.apache.spark.sql.functions._
    ByTypeOracle.live(mk(lines), coalesce(get_json_object(col("doc"), "$.type"), lit("_default")))
      .groupBy("t").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  test("base + delta equals a full LWW recompute on seeded random feeds, across folds") {
    var deltaCommits, foldsOfDelta, merges = 0
    for (seed <- Seq(11, 12, 13)) {
      val rnd = new Random(seed)
      val wh = tempDir(s"prop-wh-$seed")
      val db = s"pdb$seed"
      val ingest = fewBuckets(WarehouseOptions(database = db, split = Some("type")), wh)
      val m = manifest(wh)
      val ids = (1 to 24).map(i => s"k$i")
      val applied = ArrayBuffer.empty[String]
      var seq = 0
      def next(): String = {
        seq += 1
        rnd.nextInt(10) match {
          case 0 => deletion(seq, ids(rnd.nextInt(ids.size)))
          case 1 => change(seq, s"_design/d${rnd.nextInt(2)}", s"""{"_id":"_design/d","views":{}}""")
          // creates, updates, re-creates after a delete, and type changes
          case _ => typed(seq, ids(rnd.nextInt(ids.size)), types(rnd.nextInt(3)), rnd.nextInt(1000))
        }
      }
      for (b <- 0 until 14) {
        val n =
          if (b == 0) 30
          else if (seed == 13 && b == 7) StreamIngest.SmallBatchRows + 5
          else 1 + rnd.nextInt(6)
        val fresh = Seq.fill(n)(next())
        // at-least-once: some batches re-deliver older changes
        val replays =
          if (b > 0 && rnd.nextInt(4) == 0) Seq.fill(1 + rnd.nextInt(2))(applied(rnd.nextInt(applied.size)))
          else Nil
        val before = m.live()
        ingest.applyBatch(mk(rnd.shuffle(fresh ++ replays)), b.toLong)
        applied ++= fresh
        val after = m.live().get
        if (after.delta.nonEmpty) deltaCommits += 1
        if (before.exists(_.delta.nonEmpty) && after.delta.isEmpty) foldsOfDelta += 1
        if (before.exists(_.files != after.files)) merges += 1
        if (replays.nonEmpty || n > StreamIngest.SmallBatchRows)
          assert(after.delta.isEmpty, s"seed $seed batch $b: a replay or large batch must merge")

        assert(sorted(ingest.changesSince(-1L)) == recompute(applied.toSeq), s"seed $seed batch $b")
        ingest.publish()
        val expect = liveCounts(applied.toSeq)
        types.foreach { t =>
          if (spark.catalog.tableExists(s"${db}_$t"))
            assert(spark.table(s"${db}_$t").count() == expect.getOrElse(t, 0L), s"seed $seed batch $b $t")
        }
      }
      // a restarted instance reads the same state and views
      val restarted = fewBuckets(WarehouseOptions(database = db, split = Some("type")), wh)
      assert(sorted(restarted.changesSince(-1L)) == recompute(applied.toSeq))
    }
    assert(deltaCommits > 5 && foldsOfDelta > 2 && merges > foldsOfDelta,
      s"delta commits $deltaCommits, folds of a delta $foldsOfDelta, merges $merges")
  }

  test("a base of known row count folds at the first sync that takes the delta past rows per bucket") {
    val wh = tempDir("rows-wh")
    val ingest = new StreamIngest(spark, WarehouseOptions(database = "rbdb"), wh)
    ingest.applyBatch(mk((1 to 640).map(i => typed(i, s"d$i", "order", i))), 0L)
    val base = manifest(wh).live().get
    val files = base.files.map(_.rel).distinct
    val rows = base.files.distinctBy(_.rel).map(_.rows).sum
    val buckets = base.files.map(_.bucket).distinct.size
    // the manifest's row count is the file's
    assert(rows == 640L && spark.read.parquet(files.map(f => s"$wh/_state_v/$f"): _*).count() == rows)
    // one new doc per sync: the delta may hold rows / buckets rows
    val bound = (rows / buckets).toInt
    assert(bound >= 5, s"$rows rows in $buckets buckets")
    for (k <- 1 to bound + 1) {
      ingest.applyBatch(mk(Seq(typed(640 + k, s"n$k", "order", k))), k.toLong)
      val m = manifest(wh).live().get
      if (k.toLong * buckets <= rows) assert(m.delta.size == k && m.files == base.files, s"sync $k")
      else assert(m.delta.isEmpty && m.files.map(_.rel).distinct != files, s"sync $k did not fold")
    }
  }

  test("a small sync rewrites no bucket and writes no data file") {
    val wh = tempDir("nowrite-wh")
    val ingest = fewBuckets(WarehouseOptions(database = "nwdb"), wh)
    ingest.applyBatch(mk((1 to 40).map(i => typed(i, s"d$i", "order", i))), 0L)
    val fs = new Path(wh).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dataDirs() = StateFs.listNames(fs, new Path(s"$wh/_state_v")).filterNot(_.startsWith("manifest-")).toSet
    val (files, dirs) = (manifest(wh).live().get.files, dataDirs())
    ingest.applyBatch(mk(Seq(deletion(41, "d1"), typed(42, "d2", "order", 200), typed(43, "n1", "order", 1))), 1L)
    val now = manifest(wh).live().get
    assert(now.batchId == 1L && now.maxSeq == 43L)
    assert(now.files == files && dataDirs() == dirs)
    assert(now.delta.map(d => (d.id, d.seqNum, d.deleted)) ==
      Seq(("d1", 41L, true), ("d2", 42L, false), ("n1", 43L, false)))
    ingest.publish()
    assert(spark.sql("SELECT COUNT(*) FROM nwdb").head().getLong(0) == 40L)
    assert(spark.sql("SELECT v FROM nwdb WHERE id = 'd2'").head().getDouble(0) == 200.0)
  }

  test("with a pending delta the state is one scan and a local relation, no broadcast") {
    val wh = tempDir("plan-wh")
    val ingest = fewBuckets(WarehouseOptions(database = "pldb"), wh)
    ingest.applyBatch(mk((1 to 40).map(i => typed(i, s"d$i", "order", i))), 0L)
    ingest.applyBatch(mk(Seq(deletion(41, "d1"), typed(42, "d2", "order", 200))), 1L)
    assert(manifest(wh).live().get.delta.size == 2)
    val feed = ingest.changesSince(0L)
    val got = feed.collect()
    val plan = feed.queryExecution.executedPlan
    val helper = new AdaptiveSparkPlanHelper {}
    assert(helper.collect(plan) { case s: FileSourceScanExec => s }.size == 1, plan)
    assert(helper.collect(plan) { case s: LocalTableScanExec => s }.size == 1, plan)
    assert(helper.collect(plan) { case b: BroadcastExchangeExec => b }.isEmpty, plan)
    assert(got.length == 40)
    assert(got.filter(_.getString(0) == "d1").map(r => (r.getLong(1), r.getBoolean(2))).toSeq ==
      Seq((41L, true)))
  }

  test("a restart with a pending delta reads it back, escaped fields included, and folds it") {
    val wh = tempDir("restart-wh")
    val opts = WarehouseOptions(database = "rdb", split = Some("type"))
    val first = fewBuckets(opts, wh)
    val base = (1 to 30).map(i => typed(i, s"d$i", types(i % 3), i))
    first.applyBatch(mk(base), 0L)
    // ids with a raw tab and newline, a doc with backslash escapes and a
    // literal \N: the manifest's delta lines must carry them exactly
    val odd = Seq(
      change(31, "t\\tab", """{"_id":"t\tab","type":"user","s":"a\\N\nb"}"""),
      change(32, "n\\nl", """{"_id":"n\nl","type":"user","v":3}"""),
      typed(33, "d4", "user", 400),
      deletion(34, "d5"))
    first.applyBatch(mk(odd), 1L)
    val delta = manifest(wh).live().get.delta
    assert(delta.map(_.id) == Seq("d4", "d5", "n\nl", "t\tab"))
    assert(delta.find(_.id == "t\tab").get.doc.contains("a\\\\N\\nb"))
    first.publish()
    val views = types.map(t => spark.table(s"rdb_$t").count())
    val expected = recompute(base ++ odd)

    val restarted = fewBuckets(opts, wh)
    assert(sorted(restarted.changesSince(-1L)) == expected)
    types.foreach(t => spark.catalog.dropTempView(s"rdb_$t"))
    restarted.publish()
    assert(types.map(t => spark.table(s"rdb_$t").count()) == views)

    // the restarted writer grows the persisted delta, then a replayed
    // change folds it into the buckets
    val more = Seq(typed(35, "d6", "order", 600))
    restarted.applyBatch(mk(more), 2L)
    assert(manifest(wh).live().get.delta.map(_.id).toSet == Set("t\tab", "n\nl", "d4", "d5", "d6"))
    restarted.applyBatch(mk(Seq(typed(36, "d7", "order", 700), base(2))), 3L)
    assert(manifest(wh).live().get.delta.isEmpty)
    assert(sorted(restarted.changesSince(-1L)) ==
      recompute(base ++ odd ++ more :+ typed(36, "d7", "order", 700)))
  }

  test("a second instance's changesSince sees the writer's delta") {
    val wh = tempDir("reader-wh")
    val writer = fewBuckets(WarehouseOptions(database = "wdb"), wh)
    writer.applyBatch(mk((1 to 20).map(i => typed(i, s"d$i", "order", i))), 0L)
    val reader = fewBuckets(WarehouseOptions(database = "wdb2"), wh)
    assert(reader.changesSince(20L).isEmpty)
    writer.applyBatch(mk(Seq(typed(21, "d3", "order", 300), deletion(22, "d4"))), 1L)
    assert(manifest(wh).live().get.delta.nonEmpty)
    assert(reader.changesSince(20L).orderBy("id").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getBoolean(2))).toSeq ==
      Seq(("d3", 21L, false), ("d4", 22L, true)))
  }

  test("a reset checkpoint's new seqs fail loudly with a delta pending, never skipped") {
    val wh = tempDir("reset-wh")
    val opts = WarehouseOptions(database = "rsdb")
    val ingest = fewBuckets(opts, wh)
    ingest.applyBatch(mk((1 to 20).map(i => typed(i, s"d$i", "order", i))), 0L)
    val b1 = Seq(typed(21, "d1", "order", 100), typed(22, "n1", "order", 1))
    ingest.applyBatch(mk(b1), 1L)
    val m = manifest(wh).live().get
    assert(m.delta.size == 2 && m.maxSeq == 22L)
    val fs = new Path(wh).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def names() = StateFs.listNames(fs, new Path(s"$wh/_state_v")).sorted
    val before = names()
    // a fresh checkpoint re-delivers batch 1 with a newer change: within
    // the margin, but past the seqs the delta commit recorded
    val restarted = fewBuckets(opts, wh)
    val e = intercept[IllegalStateException] {
      restarted.applyBatch(mk(b1 :+ typed(23, "n2", "order", 2)), 1L)
    }
    assert(e.getMessage.contains("state batchId went backwards") &&
      e.getMessage.contains("seq 23") && e.getMessage.contains("up to 22"), e.getMessage)
    val e0 = intercept[IllegalStateException](restarted.applyBatch(mk(b1), 0L))
    assert(e0.getMessage.contains("state batchId went backwards"), e0.getMessage)
    assert(names() == before, "a refused batch must not touch state")
    // the true replay of batch 1 is still skipped
    restarted.applyBatch(mk(b1), 1L)
    assert(names() == before && manifest(wh).live().get == m)
  }
}
