package graft

import graft.model.ChangeFeed
import graft.streaming.{StateFs, StreamIngest}
import org.apache.hadoop.fs.Path
import java.nio.file.Files

/** The `graft.state.protocol=manifest` commit path: the whole bucketed
  * ingest running on a filesystem
  * whose DIRECTORY renames fail ([[NoRenameFileSystem]] — the
  * object-store simulation), plus the crash windows the manifest layout
  * claims to close and the protocol guard that keeps the two layouts
  * from silently reading each other as empty.
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

  private def mk(rows: Seq[String]) = ChangeFeed.fromLines(
    { import spark.implicits._; rows.toDF("value") }, "value")

  private def withManifest[T](body: => T): T = {
    spark.conf.set("graft.state.protocol", "manifest")
    try body finally spark.conf.unset("graft.state.protocol")
  }

  test("e2e on a no-directory-rename FS: merge, delete, replay, restart") {
    withManifest {
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
  }

  test("the default rename protocol genuinely needs directory renames here") {
    val wh = noRenameDir("rename-wh")
    val ingest = new StreamIngest(spark, WarehouseOptions(database = "rfdb"), wh)
    // the bucket swap's dst-absent directory rename is refused -> loud
    intercept[Exception] {
      ingest.applyBatch(mk(Seq(
        change(1, "a", """{"_id":"a","_rev":"1","v":1}"""))), 0L)
    }
  }

  test("crash window: data written, manifest never committed -> swept, replay lands clean") {
    withManifest {
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
      StateFs.writeString(fs, new Path(orphan, "_bucket=0/junk"), "torn write")
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
  }

  test("partially retired batch dirs drop exactly their superseded buckets") {
    withManifest {
      val wh = noRenameDir("sweep-wh")
      val ingest = new StreamIngest(spark, WarehouseOptions(database = "swdb"), wh)
      // enough ids to land several buckets in batch 0's dir
      ingest.applyBatch(mk((1 to 40).map(i =>
        change(i, s"doc$i", s"""{"_id":"doc$i","_rev":"1","v":$i}"""))), 0L)
      val fs = new Path(wh).getFileSystem(spark.sparkContext.hadoopConfiguration)
      val manifest = new StateFs.ManifestDir(fs, new Path(s"$wh/_state_v"))
      val (v0, map0) = manifest.live().get
      assert(v0 == 0L && map0.size > 3, s"expected several buckets, got $map0")

      // touch exactly one id: exactly one manifest entry moves to the new
      // batch dir; every other entry still points into batch 0's dir
      ingest.applyBatch(mk(Seq(
        change(99, "doc1", """{"_id":"doc1","_rev":"2","v":100}"""))), 1L)
      val (v1, map1) = manifest.live().get
      assert(v1 == 1L)
      val moved = map0.keySet.filter(k => map1(k) != map0(k))
      assert(moved.size == 1, s"exactly one bucket should move, got $moved")

      // the NEXT write sweeps the superseded sub-directory out of batch
      // 0's dir while its still-live siblings stay
      ingest.applyBatch(mk(Seq(
        change(100, "doc1", """{"_id":"doc1","_rev":"3","v":101}"""))), 2L)
      val (_, map2) = manifest.live().get
      val supersededRel = map0(moved.head)
      assert(!fs.exists(new Path(s"$wh/_state_v/$supersededRel")),
        "the superseded bucket sub-dir must be swept")
      map2.filter(_._2.startsWith(map0(moved.head).split("/")(0))).foreach {
        case (_, rel) => assert(fs.exists(new Path(s"$wh/_state_v/$rel")))
      }
      ingest.publish()
      val v = spark.sql("SELECT v FROM swdb WHERE id = 'doc1'").collect()(0).getDouble(0)
      assert(v == 101.0)
      assert(spark.sql("SELECT COUNT(*) FROM swdb").collect()(0).getLong(0) == 40L)
    }
  }

  test("protocol guard: the layouts refuse to read each other") {
    // manifest warehouse reopened under the default protocol
    val wh1 = withManifest {
      val wh = noRenameDir("guard1-wh")
      new StreamIngest(spark, WarehouseOptions(database = "g1db"), wh)
        .applyBatch(mk(Seq(
          change(1, "a", """{"_id":"a","_rev":"1","v":1}"""))), 0L)
      wh
    }
    val e1 = intercept[IllegalStateException] {
      new StreamIngest(spark, WarehouseOptions(database = "g1db"), wh1)
    }
    assert(e1.getMessage.contains("protocol"))

    // a PRE-MARKER rename-layout warehouse (the upgrade case) opened as
    // manifest: must fail loudly, not read the state as empty
    val wh2 = Files.createTempDirectory("guard2-wh").toString
    new StreamIngest(spark, WarehouseOptions(database = "g2db"), wh2)
      .applyBatch(mk(Seq(
        change(1, "a", """{"_id":"a","_rev":"1","v":1}"""))), 0L)
    val fs2 = new Path(wh2).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs2.delete(new Path(s"$wh2/_state_protocol"), false) // pre-r13 layout
    withManifest {
      val e2 = intercept[IllegalStateException] {
        new StreamIngest(spark, WarehouseOptions(database = "g2db"), wh2)
      }
      assert(e2.getMessage.contains("rename-layout"))
    }
  }

  test("a replayed committed batch never re-commits the manifest (r13 review)") {
    withManifest {
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
  }

  test("the rename protocol and compactFiles refuse copy-rename object stores") {
    spark.sparkContext.hadoopConfiguration.set(
      "fs.s3a.impl", classOf[FakeS3aFileSystem].getName)
    val wh = "s3a://" + Files.createTempDirectory("s3a-wh").toString
    // default (rename) protocol: refused up front — S3A's rename is a
    // copy+delete that REPORTS SUCCESS, so nothing downstream would fail
    val e1 = intercept[IllegalArgumentException] {
      new StreamIngest(spark, WarehouseOptions(database = "s3db"), wh)
    }
    assert(e1.getMessage.contains("copy+delete"))
    // the manifest protocol is exactly the escape the message names:
    // the same warehouse constructs cleanly under it (the full manifest
    // ingest on a no-directory-rename FS is the e2e test above — the
    // fake s3a scheme only exists to exercise the guard, RawLocalFS
    // cannot carry Spark parquet IO under a foreign scheme)
    withManifest {
      new StreamIngest(spark, WarehouseOptions(database = "s3db"), wh)
      ()
    }
    // compaction's two-rename swap has the same boundary, checked before
    // any IO touches the table
    val e2 = intercept[IllegalArgumentException] {
      graft.ops.Maintenance.compactFiles(spark,
        "s3a://" + Files.createTempDirectory("s3a-tbl").resolve("t").toString)
    }
    assert(e2.getMessage.contains("copy+delete"))
  }
}
