package graft

import graft.model.ChangeFeed
import graft.streaming.StreamIngest
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** The replay rule of the exactly-once ingest state: a re-delivery of the
  * applied batch id is skipped with the state untouched, and a lower id (a
  * reset streaming checkpoint) fails loudly. Every batch is built
  * in-process.
  */
class ReplayGuardSpec extends SparkSpec {
  import spark.implicits._

  private val Applied = 5L

  private def change(seq: Int, id: String, doc: String): String =
    s"""{"seq":"$seq-x","id":"$id","changes":[{"rev":"$seq-r"}],"doc":$doc}"""

  private def feed = ChangeFeed.fromLines(Seq(
    change(1, "a", """{"_id":"a","_rev":"1","type":"x","amount":10.5}"""),
    change(2, "b", """{"_id":"b","_rev":"1","type":"y","amount":2.0}""")
  ).toDF("value"), "value")

  /** A warehouse after applying batch [[Applied]], as its state root and a
    * function that re-runs the same batch under another id.
    */
  private def applied(): (Path, Long => Unit) = {
    val wh = Files.createTempDirectory("rg-manifest")
    val ingest = new StreamIngest(spark, WarehouseOptions(database = "rgmdb"), wh.toString)
    ingest.applyBatch(feed, Applied)
    (wh.resolve("_state_v"), ingest.applyBatch(feed, _))
  }

  /** Every file under `root` with its bytes, and every directory. */
  private def snapshot(root: Path): Map[String, Seq[Byte]] = {
    val s = Files.walk(root)
    try s.iterator.asScala.map { p =>
      root.relativize(p).toString ->
        (if (Files.isDirectory(p)) Seq.empty[Byte] else Files.readAllBytes(p).toSeq)
    }.toMap
    finally s.close()
  }

  test("StreamIngest manifest state: a replay of the applied batch leaves state byte-identical") {
    val (root, apply) = applied()
    val before = snapshot(root)
    assert(before.size > 1, s"no state landed under $root")
    apply(Applied)
    assert(snapshot(root) == before)
  }

  test("StreamIngest manifest state: an id 1 behind the applied batch fails loudly") {
    val (root, apply) = applied()
    val before = snapshot(root)
    val e = intercept[IllegalStateException](apply(Applied - 1))
    assert(e.getMessage.contains("state batchId went backwards"), e.getMessage)
    assert(snapshot(root) == before)
  }
}
