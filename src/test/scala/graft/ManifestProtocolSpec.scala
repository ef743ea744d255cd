package graft

import graft.streaming.{StateFs, StreamIngest}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.execution.{FileSourceScanExec, UnionExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The state's manifest commit path: the whole bucketed ingest running
  * on a filesystem whose DIRECTORY renames fail ([[NoRenameFileSystem]] —
  * the object-store simulation) with no conf set, plus the crash windows
  * the manifest layout claims to close and the loud refusal of earlier
  * manifest formats, which would otherwise read the state wrong.
  */
class ManifestProtocolSpec extends SparkSpec {

  spark.sparkContext.hadoopConfiguration.set(
    "fs.norename.impl", classOf[NoRenameFileSystem].getName)

  private def noRenameDir(prefix: String): String =
    "norename://" + Files.createTempDirectory(prefix).toString

  private def change(seq: Int, id: String, doc: String): String =
    s"""{"seq":"$seq-x","id":"$id","changes":[{"rev":"$seq-r"}],"doc":$doc}"""

  private def deletion(seq: Int, id: String): String =
    s"""{"seq":"$seq-x","id":"$id","changes":[{"rev":"$seq-r"}],"deleted":true,"doc":{"_id":"$id","_rev":"$seq-r","_deleted":true}}"""

  private def mk(rows: Seq[String]) = CouchFixtures.feed(spark, rows)

  test("e2e on a no-directory-rename FS: merge, delete, replay, restart") {
    val wh = noRenameDir("manifest-wh")
    val ingest = new StreamIngest(spark, WarehouseOptions(database = "mdb"), wh)

    ingest.applyBatch(mk(Seq(
      change(1, "a", """{"_id":"a","_rev":"1","type":"x","amount":10.5}"""),
      change(2, "b", """{"_id":"b","_rev":"1","type":"x","amount":2.25}"""),
      change(3, "c", """{"_id":"c","_rev":"1","type":"y","amount":4.0}"""))), 0L)

    val b1 = Seq(
      change(4, "b", """{"_id":"b","_rev":"2","type":"y","amount":2.25}"""),
      deletion(5, "c"))
    ingest.applyBatch(mk(b1), 1L)

    // replay of an applied batch: the manifest version skips it
    ingest.applyBatch(mk(b1), 1L)

    // outbound feed sees the tombstone; publish sees live rows only
    val all = ingest.changesSince(0L).orderBy("id").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getBoolean(2))).toSeq
    assert(all == Seq(("a", 1L, false), ("b", 4L, false), ("c", 5L, true)))
    ingest.publish()
    assert(spark.sql("SELECT COUNT(*) FROM mdb").collect()(0).getLong(0) == 2L)

    // a restarted instance reads the same state
    val again = new StreamIngest(spark, WarehouseOptions(database = "mdb"), wh)
    again.publish()
    assert(spark.sql("SELECT COUNT(*) FROM mdb").collect()(0).getLong(0) == 2L)
  }

  test("crash window: data written, manifest never committed -> swept, replay lands clean") {
    val wh = noRenameDir("crash-wh")
    val ingest = new StreamIngest(spark, WarehouseOptions(database = "cwdb"), wh)
    ingest.applyBatch(mk(Seq(
      change(1, "a", """{"_id":"a","_rev":"1","v":1}"""),
      change(2, "b", """{"_id":"b","_rev":"1","v":2}"""))), 0L)
    val fs = new Path(wh).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val versRoot = new Path(s"$wh/_state_v")
    // simulate a crashed attempt: a data dir no manifest references
    val orphan = new Path(versRoot, "b9-0")
    fs.mkdirs(new Path(orphan, "_bucket=0"))
    val junk = fs.create(new Path(orphan, "_bucket=0/junk"), true)
    try junk.write("torn write".getBytes("UTF-8")) finally junk.close()
    // readers are unaffected (the manifest never named it) …
    val restarted = new StreamIngest(spark, WarehouseOptions(database = "cwdb"), wh)
    restarted.publish()
    assert(spark.sql("SELECT COUNT(*) FROM cwdb").collect()(0).getLong(0) == 2L)
    // … and the next write sweeps it before landing
    restarted.applyBatch(mk(Seq(
      change(3, "c", """{"_id":"c","_rev":"1","v":3}"""))), 1L)
    assert(!fs.exists(orphan), "unreferenced crash orphan must be swept")
    restarted.publish()
    assert(spark.sql("SELECT COUNT(*) FROM cwdb").collect()(0).getLong(0) == 3L)
  }

  test("partially retired batch dirs drop exactly their superseded buckets") {
    // a 256-byte scan split: batch 0's dir holds several files of a few
    // buckets each
    withConf("spark.sql.files.maxPartitionBytes" -> "256") {
      val wh = noRenameDir("sweep-wh")
      val ingest = new StreamIngest(spark, WarehouseOptions(database = "swdb"), wh)
      // enough ids to land several buckets in batch 0's dir
      ingest.applyBatch(mk((1 to 40).map(i =>
        change(i, s"doc$i", s"""{"_id":"doc$i","_rev":"1","v":$i}"""))), 0L)
      val fs = new Path(wh).getFileSystem(spark.sparkContext.hadoopConfiguration)
      val manifest = new StreamIngest.ManifestDir(fs, new Path(s"$wh/_state_v"))
      // bucket -> its file, derived from the manifest's file entries
      def live() = manifest.live().map { m =>
        m.batchId -> m.files.map(f => f.bucket -> f.rel).toMap
      }.get
      val (v0, map0) = live()
      assert(v0 == 0L && map0.size > 3, s"expected several buckets, got $map0")
      assert(map0.values.toSet.size > 1, s"expected several files, got $map0")

      // touch exactly one id: exactly the entries of one file move to the
      // new batch dir; every other entry still points into batch 0's dir
      // (each batch re-delivers an applied change, which sends it down the
      // bucketed merge)
      ingest.applyBatch(mk(Seq(
        change(99, "doc1", """{"_id":"doc1","_rev":"2","v":100}"""),
        change(1, "doc1", """{"_id":"doc1","_rev":"1","v":1}"""))), 1L)
      val (v1, map1) = live()
      assert(v1 == 1L)
      val moved = map0.keySet.filter(k => map1(k) != map0(k))
      val superseded = moved.map(map0)
      assert(superseded.size == 1, s"exactly one file should move, got $superseded")
      assert(moved == map0.keySet.filter(k => superseded(map0(k))))

      // the NEXT write sweeps the superseded file out of batch 0's dir
      // while its still-live siblings stay
      ingest.applyBatch(mk(Seq(
        change(100, "doc1", """{"_id":"doc1","_rev":"3","v":101}"""),
        change(99, "doc1", """{"_id":"doc1","_rev":"2","v":100}"""))), 2L)
      val (_, map2) = live()
      assert(!fs.exists(new Path(s"$wh/_state_v/${superseded.head}")),
        "the superseded file must be swept")
      val dir0 = superseded.head.split("/")(0)
      assert(map2.values.exists(_.startsWith(s"$dir0/")), s"batch 0's dir is fully retired: $map2")
      map2.filter(_._2.startsWith(s"$dir0/")).foreach {
        case (_, rel) => assert(fs.exists(new Path(s"$wh/_state_v/$rel")))
      }
      ingest.publish()
      val v = spark.sql("SELECT v FROM swdb WHERE id = 'doc1'").collect()(0).getDouble(0)
      assert(v == 101.0)
      assert(spark.sql("SELECT COUNT(*) FROM swdb").collect()(0).getLong(0) == 40L)
    }
  }

  test("the state is read as one scan of the manifest's files") {
    // a 256-byte scan split, so that the live files span several dirs
    withConf("spark.sql.files.maxPartitionBytes" -> "256") {
      val wh = Files.createTempDirectory("one-scan-wh").toString
      val ingest = new StreamIngest(spark, WarehouseOptions(database = "osdb"), wh)
      // three batches touching different buckets: the live files span
      // three batch directories (the later two re-deliver an applied
      // change, which sends them down the bucketed merge)
      ingest.applyBatch(mk((1 to 40).map(i =>
        change(i, s"doc$i", s"""{"_id":"doc$i","_rev":"1","v":$i}"""))), 0L)
      ingest.applyBatch(mk(Seq(
        change(41, "doc1", """{"_id":"doc1","_rev":"2","v":100}"""),
        change(1, "doc1", """{"_id":"doc1","_rev":"1","v":1}"""))), 1L)
      ingest.applyBatch(mk(Seq(deletion(42, "doc2"),
        change(43, "doc41", """{"_id":"doc41","_rev":"1","v":41}"""),
        change(2, "doc2", """{"_id":"doc2","_rev":"1","v":2}"""))), 2L)
      val fs = new Path(wh).getFileSystem(spark.sparkContext.hadoopConfiguration)
      val files = new StreamIngest.ManifestDir(fs, new Path(s"$wh/_state_v")).live().get.files
      assert(files.map(_.rel.split("/")(0)).distinct.size == 3, s"$files")

      val feed = ingest.changesSince(0L)
      val got = feed.collect().map(_.toString).sorted.toSeq
      val plan = feed.queryExecution.executedPlan
      val helper = new AdaptiveSparkPlanHelper {}
      assert(helper.collect(plan) { case s: FileSourceScanExec => s }.size == 1, plan)
      assert(helper.collect(plan) { case u: UnionExec => u }.isEmpty, plan)

      val plain = spark.read.schema("id STRING, seqNum LONG, deleted BOOLEAN, doc STRING")
        .parquet(files.map(f => s"$wh/_state_v/${f.rel}").distinct: _*)
      assert(got == plain.collect().map(_.toString).sorted.toSeq)
      assert(got.size == 41)
    }
  }

  test("a directory-level manifest fails loudly, naming the manifest file") {
    val wh = Files.createTempDirectory("dir-manifest-wh").toString
    val versRoot = new java.io.File(s"$wh/_state_v")
    assert(new java.io.File(versRoot, "b0-1/_bucket=3").mkdirs())
    // the directory-level format, then the format with no bucket count in
    // its `maxSeq⇥N⇥split` header
    for (manifest <- Seq("3\tb0-1/_bucket=3\n", "maxSeq\t4\t\\N\n3\tb0-1/part-0.parquet\t9\t4\n")) {
      Files.write(versRoot.toPath.resolve("manifest-0.tsv"), manifest.getBytes("UTF-8"))
      val e = intercept[IllegalStateException] {
        new StreamIngest(spark, WarehouseOptions(database = "dmdb"), wh)
      }
      assert(e.getMessage.contains("manifest-0.tsv") && e.getMessage.contains("--reset"),
        e.getMessage)
    }
  }

  test("a header with no donor count fails at construction, touching nothing") {
    val wh = Files.createTempDirectory("donorless-wh").toString
    val versRoot = new java.io.File(s"$wh/_state_v")
    assert(versRoot.mkdirs())
    // the `maxSeq⇥N⇥buckets⇥split` header of the format before the donors
    // joined the manifest, and one file line
    Files.write(versRoot.toPath.resolve("manifest-0.tsv"),
      "maxSeq\t4\t64\t\\N\n3\tb0-1/part-00000-x.parquet\t9\t4\n".getBytes("UTF-8"))
    def snapshot() = {
      val paths = Files.walk(Paths.get(wh))
      try paths.iterator().asScala.toSeq.map(p =>
        p.toString -> (if (Files.isRegularFile(p)) Files.readAllBytes(p).toSeq else Nil)).sortBy(_._1)
      finally paths.close()
    }
    val before = snapshot()
    val e = intercept[IllegalStateException] {
      new StreamIngest(spark, WarehouseOptions(database = "dldb"), wh)
    }
    assert(e.getMessage.contains("manifest-0.tsv") && e.getMessage.contains("--reset"), e.getMessage)
    assert(snapshot() == before, "a refused manifest must leave the directory as it was")
  }

  test("a replayed committed batch never re-commits the manifest (r13 review)") {
    val wh = noRenameDir("replay-wh")
    val ingest = new StreamIngest(spark, WarehouseOptions(database = "rpdb"), wh)
    val b = Seq(change(1, "a", """{"_id":"a","_rev":"1","v":1}"""))
    ingest.applyBatch(mk(b), 0L)
    val fs = new Path(wh).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val versRoot = new Path(s"$wh/_state_v")
    def names() = StateFs.listNames(fs, versRoot).sorted
    val before = names()
    // the replay must SKIP: re-committing deletes the only live
    // manifest before renaming the rewrite in — a crash there reads
    // the warehouse as EMPTY and the next sweep deletes everything
    ingest.applyBatch(mk(b), 0L)
    assert(names() == before,
      "a replayed batch must not rewrite state or re-commit the manifest")
    // a batchId behind the margin (reset checkpoint) fails loudly: its
    // low ids carry NEW changes
    ingest.applyBatch(mk(Seq(
      change(2, "b", """{"_id":"b","_rev":"1","v":2}"""))), 1L)
    val e = intercept[IllegalStateException] {
      ingest.applyBatch(mk(Seq(
        change(3, "c", """{"_id":"c","_rev":"1","v":3}"""))), 0L)
    }
    assert(e.getMessage.contains("state batchId went backwards"))
  }

  test("a reset checkpoint's batch 0 with newer changes fails loudly, never skipped") {
    val wh = Files.createTempDirectory("reset-wh").toString
    val b0 = Seq(change(1, "a", """{"_id":"a","_rev":"1","v":1}"""))
    new StreamIngest(spark, WarehouseOptions(database = "rsdb"), wh).applyBatch(mk(b0), 0L)
    val fs = new Path(wh).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val versRoot = new Path(s"$wh/_state_v")
    def names() = StateFs.listNames(fs, versRoot).sorted
    val before = names()
    // a fresh checkpoint re-reads the whole feed, now with a newer
    // change, as batch 0 again: within the margin, but not a replay
    val restarted = new StreamIngest(spark, WarehouseOptions(database = "rsdb"), wh)
    val e = intercept[IllegalStateException] {
      restarted.applyBatch(mk(b0 :+ change(2, "b", """{"_id":"b","_rev":"1","v":2}""")), 0L)
    }
    assert(e.getMessage.contains("state batchId went backwards") &&
      e.getMessage.contains("seq 2") && e.getMessage.contains("up to 1"), e.getMessage)
    assert(names() == before, "a refused batch must not touch state")
    assert(restarted.checkpoint == 1L, "the checkpoint must not report an unabsorbed seq")
    // the true replay of batch 0 is still skipped
    restarted.applyBatch(mk(b0), 0L)
    assert(names() == before)
  }
}
