package graft

import graft.model.ChangeFeed
import graft.ops.Compact
import graft.streaming.{StateFs, StreamIngest}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import java.nio.file.Files
import java.util.zip.CRC32

/** The ingest state's files are sized by bytes, not one per bucket: a
  * merge writes the buckets it rewrites as groups of consecutive buckets,
  * one file per group and one group per scan split
  * (`spark.sql.files.maxPartitionBytes`), and the manifest names each file
  * once per bucket it holds. Every feed is built in-process.
  */
class StateGroupsSpec extends SparkSpec {

  private val SplitKey = "spark.sql.files.maxPartitionBytes"

  private def change(seq: Int, id: String, doc: String): String =
    s"""{"seq":"$seq-x","id":"$id","changes":[{"rev":"$seq-r"}],"doc":$doc}"""

  private def typed(seq: Int, id: String, v: Int): String =
    change(seq, id, s"""{"_id":"$id","_rev":"$seq-r","type":"order","v":$v}""")

  private def mk(rows: Seq[String]): DataFrame = ChangeFeed.fromLines(
    { import spark.implicits._; rows.toDF("value") }, "value")

  private def tempDir(prefix: String): String = Files.createTempDirectory(prefix).toString

  private def fsOf(wh: String) = new Path(wh).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def manifest(wh: String) = new StreamIngest.ManifestDir(fsOf(wh), new Path(s"$wh/_state_v"))

  /** The raw lines of the live manifest. */
  private def manifestLines(wh: String): Seq[String] =
    new String(StateFs.readVersioned(fsOf(wh), new Path(s"$wh/_state_v"), "manifest", ".tsv").get._2,
      "UTF-8").split("\n").toSeq

  /** The bucket the writer hashes `id` to, at the default 64 buckets. */
  private def bucketOf(id: String): Int = {
    val c = new CRC32
    c.update(id.getBytes("UTF-8"))
    (c.getValue % 64).toInt
  }

  private def sorted(df: DataFrame): Seq[String] =
    df.select("id", "seqNum", "deleted", "doc").collect().map(_.toString).toSeq.sorted

  private def recompute(lines: Seq[String]): Seq[String] =
    sorted(Compact.latestChanges(mk(lines)))

  /** The non-hidden data files in the state directory `dir`. */
  private def dataFiles(wh: String, dir: String): Seq[String] =
    StateFs.listNames(fsOf(wh), new Path(s"$wh/_state_v/$dir"))
      .filterNot(n => n.startsWith(".") || n.startsWith("_"))

  private def base(n: Int): Seq[String] = (1 to n).map(i => typed(i, s"d$i", i))

  test("under a lowered scan split several groups form, each row in a bucket its file's lines name") {
    withConf(SplitKey -> "1k") {
      val wh = tempDir("groups-wh")
      val ingest = new StreamIngest(spark, WarehouseOptions(database = "gdb"), wh)
      ingest.applyBatch(mk(base(300)), 0L)
      val files = manifest(wh).live().get.files
      val named = files.groupMap(_.rel)(_.bucket).map { case (rel, bs) => rel -> bs.toSet }
      assert(named.size > 1, s"one file: $named")
      assert(named.values.flatten.size == named.values.flatten.toSet.size,
        s"a bucket named by two files: $named")
      named.values.foreach(bs => assert(bs.size > 1, s"a one-bucket group: $named"))
      val rows = spark.read.schema("id STRING, seqNum LONG, deleted BOOLEAN, doc STRING")
        .parquet(named.keys.map(rel => s"$wh/_state_v/$rel").toSeq: _*)
        .select(input_file_name(), col("id")).collect()
      assert(rows.length == 300)
      rows.foreach { r =>
        val rel = named.keys.find(r.getString(0).endsWith).get
        assert(named(rel)(bucketOf(r.getString(1))), s"${r.getString(1)} in $rel, named ${named(rel)}")
      }
    }
  }

  test("a merge touching one bucket rewrites only its group; the other lines carry forward byte-identical") {
    withConf(SplitKey -> "1k") {
      val wh = tempDir("carry-wh")
      val ingest = new StreamIngest(spark, WarehouseOptions(database = "cfdb"), wh)
      ingest.applyBatch(mk(base(300)), 0L)
      val before = manifestLines(wh)
      val files = manifest(wh).live().get.files
      val holder = files.find(_.bucket == bucketOf("d7")).get.rel
      val held = files.filter(_.rel == holder).map(_.bucket).toSet
      assert(files.map(_.rel).distinct.size > 1 && held.size < files.map(_.bucket).distinct.size)
      // the re-delivered seq-7 change sends the batch down the bucketed merge
      ingest.applyBatch(mk(Seq(typed(301, "d7", 700), typed(7, "d7", 7))), 1L)
      val after = manifestLines(wh)
      val (kept, retired) = before.tail.partition(l => !l.contains(holder))
      assert(retired.nonEmpty && kept.nonEmpty)
      assert(kept.forall(after.contains), "a line of an untouched group changed")
      val added = after.tail.filterNot(before.contains)
      assert(added.map(_.split("\t")(0).toInt).toSet == held, s"$added against $held")
      assert(after.tail.size == kept.size + added.size)
      assert(sorted(ingest.changesSince(-1L)) == recompute(base(300) :+ typed(301, "d7", 700)))
    }
  }

  test("at the default split a fold of a small warehouse writes one data file; a read-back scans one") {
    val wh = tempDir("fold-wh")
    val ingest = new StreamIngest(spark, WarehouseOptions(database = "fdb"), wh)
    ingest.applyBatch(mk(base(1000)), 0L)
    val first = manifest(wh).live().get.files
    assert(first.map(_.rel).distinct.size == 1 && first.size > 32, s"$first")
    assert(dataFiles(wh, first.head.dir).size == 1)
    // one-change syncs grow the delta until one folds it
    var seq = 1000
    var folded = false
    while (!folded) {
      assert(seq < 1100, "no sync folded the delta")
      val pending = manifest(wh).live().get.delta.nonEmpty
      seq += 1
      ingest.applyBatch(mk(Seq(typed(seq, s"n$seq", seq))), seq.toLong)
      folded = pending && manifest(wh).live().get.delta.isEmpty
    }
    val now = manifest(wh).live().get.files
    assert(now.map(_.rel).distinct.size == 1, s"$now")
    assert(dataFiles(wh, now.head.dir) == Seq(now.head.rel.split("/")(1)),
      "the fold wrote more than one data file")
    assert(sorted(ingest.changesSince(-1L)) ==
      recompute(base(1000) ++ (1001 to seq).map(s => typed(s, s"n$s", s))))

    ingest.publish()
    val read = spark.table("fdb").where(col("id") === "d42").select("v")
    assert(read.collect().map(_.getDouble(0)).toSeq == Seq(42.0))
    val scans = new AdaptiveSparkPlanHelper {}.collect(read.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s
    }
    assert(scans.map(_.metrics("numFiles").value) == Seq(1L), scans)
  }

  test("a large batch with no ids merges nothing and leaves the files as they were") {
    val wh = tempDir("noid-wh")
    val ingest = new StreamIngest(spark, WarehouseOptions(database = "nidb"), wh)
    ingest.applyBatch(mk(base(50)), 0L)
    val before = manifest(wh).live().get.files
    // more rows than a small batch, so it takes the merge, with no bucket
    // to rewrite
    val last = 51 + StreamIngest.SmallBatchRows
    ingest.applyBatch(mk((51 to last).map(i => s"""{"seq":"$i-x","changes":[{"rev":"$i-r"}],"doc":{}}""")), 1L)
    assert(manifest(wh).live().get.files.toSet == before.toSet)
    assert(ingest.checkpoint == last.toLong)
    assert(sorted(ingest.changesSince(-1L)) == recompute(base(50)))
  }
}
