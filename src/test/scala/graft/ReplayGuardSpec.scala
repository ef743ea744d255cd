package graft

import graft.model.ChangeFeed
import graft.streaming.{StreamIngest, StreamScd2}
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** The replay policy of the exactly-once state owners, the dimension of
  * `StreamScd2` and the manifest state of `StreamIngest`
  * (`StateFs.alreadyApplied`), held owner by owner: a re-delivered batch
  * id within `graft.agg.replayMargin` of the applied marker is skipped
  * with the state untouched, one further behind (a reset streaming
  * checkpoint) fails loudly, and a margin that is negative or not a
  * number is refused with the conf key named. Every batch is built
  * in-process.
  */
class ReplayGuardSpec extends SparkSpec {
  import spark.implicits._

  /** An owner after applying batch [[Applied]]: `apply` re-runs the same
    * batch under another id; `root` holds the state the guard protects;
    * `what` is the owner's name in the guard's message.
    */
  private final class Owner(val what: String, val root: Path, val apply: Long => Unit)

  private val Applied = 5L
  private val MarginKey = "graft.agg.replayMargin"

  private def change(seq: Int, id: String, doc: String): String =
    s"""{"seq":"$seq-x","id":"$id","changes":[{"rev":"$seq-r"}],"doc":$doc}"""

  private def feed = ChangeFeed.fromLines(Seq(
    change(1, "a", """{"_id":"a","_rev":"1","type":"x","amount":10.5}"""),
    change(2, "b", """{"_id":"b","_rev":"1","type":"y","amount":2.0}""")
  ).toDF("value"), "value")

  private def owner(what: String, root: Path)(apply: Long => Unit): Owner = {
    apply(Applied)
    new Owner(what, root, apply)
  }

  private val owners: Seq[(String, () => Owner)] = Seq(
    "StreamScd2" -> { () =>
      val dir = Files.createTempDirectory("rg-scd2")
      val s = new StreamScd2(spark, dir.toString)
      val versions = Seq((1L, 1L, 100L), (1L, 2L, 200L), (2L, 3L, 150L))
        .toDF("user_id", "event_id", "ts")
      owner("dimension", dir)(s.applyBatch(versions, _))
    },
    "StreamIngest manifest state" -> { () =>
      val wh = Files.createTempDirectory("rg-manifest")
      val ingest = new StreamIngest(spark, WarehouseOptions(database = "rgmdb"), wh.toString)
      owner("state", wh.resolve("_state_v"))(ingest.applyBatch(feed, _))
    })

  /** Every file under `root` with its bytes, and every directory. */
  private def snapshot(root: Path): Map[String, Seq[Byte]] = {
    val s = Files.walk(root)
    try s.iterator.asScala.map { p =>
      root.relativize(p).toString ->
        (if (Files.isDirectory(p)) Seq.empty[Byte] else Files.readAllBytes(p).toSeq)
    }.toMap
    finally s.close()
  }

  for ((name, mk) <- owners) {
    test(s"$name: a replay of the applied batch leaves state byte-identical") {
      val o = mk()
      val before = snapshot(o.root)
      assert(before.size > 1, s"no state landed under ${o.root}")
      o.apply(Applied)
      assert(snapshot(o.root) == before)
    }

    test(s"$name: with the default margin an id 1 behind fails loudly") {
      val o = mk()
      val before = snapshot(o.root)
      val e = intercept[IllegalStateException](o.apply(Applied - 1))
      assert(e.getMessage.contains(s"${o.what} batchId went backwards"), e.getMessage)
      assert(e.getMessage.contains("more than the replay margin of 0"), e.getMessage)
      assert(snapshot(o.root) == before)
    }

    test(s"$name: a margin of 2 skips an id 2 behind and fails one 3 behind") {
      val o = mk()
      val before = snapshot(o.root)
      withConf(MarginKey -> "2") {
        o.apply(Applied - 2)
        assert(snapshot(o.root) == before, "a skipped replay must not touch state")
        val e = intercept[IllegalStateException](o.apply(Applied - 3))
        assert(e.getMessage.contains(s"${o.what} batchId went backwards"), e.getMessage)
        assert(e.getMessage.contains("more than the replay margin of 2"), e.getMessage)
      }
      assert(snapshot(o.root) == before)
    }

    test(s"$name: a negative or non-numeric margin is rejected, naming the key") {
      val o = mk()
      val before = snapshot(o.root)
      for (bad <- Seq("-1", "2x")) withConf(MarginKey -> bad) {
        // the crash-window replay of the marker batch must not wedge the
        // owner behind a misleading "went backwards" error
        val e = intercept[IllegalArgumentException](o.apply(Applied))
        assert(e.getMessage.contains(MarginKey) && e.getMessage.contains(s"'$bad'"),
          e.getMessage)
      }
      assert(snapshot(o.root) == before)
    }
  }
}
