package graft

import graft.streaming.StreamIngest
import org.apache.spark.sql.DataFrame
import java.nio.file.Files
import scala.collection.mutable.ArrayBuffer
import scala.util.Random

/** The batch build (`Warehouse.ingest` over the whole feed) and the monitor
  * (`StreamIngest.applyBatch`, batch by batch) give the same tables under
  * `--split`, wherever the batch boundaries fall: equal table sets, equal
  * columns, equal rows, and equal outbound change feeds. The monitor runs
  * on a state of 4 buckets, so its small batches land as a delta and fold;
  * a replayed older seq sends a batch down the bucketed merge; a restart
  * between batches is a fresh instance over the same directory and an
  * empty set of views. Every feed is built in-process.
  */
class BatchMonitorParitySpec extends SparkSpec {

  private def change(seq: Int, id: String, doc: String): String =
    s"""{"seq":"$seq-x","id":"$id","changes":[{"rev":"$seq-r"}],"doc":$doc}"""

  private def deletion(seq: Int, id: String): String =
    s"""{"seq":"$seq-x","id":"$id","changes":[{"rev":"$seq-r"}],"deleted":true,"doc":{"_id":"$id","_rev":"$seq-r","_deleted":true}}"""

  /** A doc of `id` with type `t` and the given fields. */
  private def doc(seq: Int, id: String, t: String, fields: (String, String)*): String =
    change(seq, id, (Seq("_id" -> s""""$id"""", "_rev" -> s""""$seq-r"""", "type" -> s""""$t"""") ++ fields)
      .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}"))

  private def mk(rows: Seq[String]): DataFrame = CouchFixtures.feed(spark, rows)

  private val split = Some("type")

  /** Each table of `db` (its temp views named `<db>_<type>`) by type, as
    * its columns and its sorted rows.
    */
  private def tablesOf(db: String): Map[String, (Seq[String], Seq[String])] =
    spark.catalog.listTables().collect().toSeq.map(_.name).filter(_.startsWith(s"${db}_")).map { n =>
      val t = spark.table(n)
      n.stripPrefix(s"${db}_") -> (t.columns.toSeq, t.collect().map(_.toString).toSeq.sorted)
    }.toMap

  private def dropViews(db: String): Unit =
    spark.catalog.listTables().collect().map(_.name).filter(_.startsWith(s"${db}_"))
      .foreach(spark.catalog.dropTempView)

  private def feedOf(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  private var run = 0

  /** Build `lines` both ways — the monitor with the batches `cuts` (their
    * sizes, in order), restarted before batch `restartAt` — and assert the
    * two agree.
    */
  private def assertParity(lines: Seq[String], cuts: Seq[Int], restartAt: Option[Int], clue: String): Unit = {
    run += 1
    val (bdb, mdb) = (s"pb${run}x", s"pm${run}x")
    val batch = new Warehouse(spark, WarehouseOptions(database = bdb, split = split))
    batch.ingest(mk(lines))
    val want = tablesOf(bdb)

    val wh = Files.createTempDirectory("parity-wh").toString
    def open() = withConf("graft.state.buckets" -> "4")(
      new StreamIngest(spark, WarehouseOptions(database = mdb, split = split), wh))
    var ingest = open()
    val bounds = cuts.scanLeft(0)(_ + _)
    cuts.indices.foreach { b =>
      if (restartAt.contains(b)) { dropViews(mdb); ingest = open() }
      ingest.applyBatch(mk(lines.slice(bounds(b), bounds(b + 1))), b.toLong)
    }
    if (restartAt.contains(cuts.size)) { dropViews(mdb); ingest = open() }
    ingest.publish()
    val got = tablesOf(mdb)
    val why = s"$clue, cuts $cuts, restart before ${restartAt.getOrElse("none")}"
    assert(got.keySet == want.keySet, s"$why: table sets")
    want.foreach { case (t, (cols, rows)) =>
      assert(got(t)._1 == cols, s"$why: columns of $t")
      assert(got(t)._2 == rows, s"$why: rows of $t")
    }
    assert(feedOf(ingest.changesSince(-1L)) == feedOf(batch.changesSince(-1L)), s"$why: changesSince")
    dropViews(bdb)
    dropViews(mdb)
  }

  /** Every cut of `n` lines into consecutive non-empty batches. */
  private def cutsOf(n: Int): Seq[Seq[Int]] =
    if (n == 0) Seq(Nil) else (1 to n).flatMap(k => cutsOf(n - k).map(k +: _))

  /** `lines` under every cut, without a restart and with one after the
    * last batch or, where there are two or more, before it.
    */
  private def everyCut(lines: Seq[String], clue: String): Unit =
    cutsOf(lines.size).foreach { cuts =>
      (Seq(None, Some(cuts.size)) ++ Option.when(cuts.size > 1)(Some(cuts.size - 1)))
        .foreach(r => assertParity(lines, cuts, r, clue))
    }

  test("a doc that changes type stays in its old type's table, however the batches fall") {
    everyCut(Seq(doc(1, "a", "x", "u" -> "1"), doc(2, "b", "y", "v" -> "2"), doc(3, "a", "y", "v" -> "3")),
      "type change")
  }

  test("a type's donor is its first live doc, even one a later change supersedes") {
    everyCut(Seq(doc(1, "a", "x", "v" -> "1", "name" -> "\"n\""), doc(2, "a", "x", "v" -> "2")), "donor")
  }

  test("a type whose every doc is deleted keeps its empty table, across a restart") {
    everyCut(Seq(doc(1, "a", "x", "u" -> "1"), doc(2, "b", "y", "v" -> "2"), deletion(3, "a")),
      "all deleted")
  }

  test("seeded feeds with type changes, deletes, re-creates, design docs and replays agree at random cuts") {
    val types = Seq("x", "y", "z")
    val fields = Seq("u" -> "1", "v" -> "2.5", "name" -> "\"n\"", "ok" -> "true")
    for (seed <- 1 to 8) {
      val rnd = new Random(seed)
      val ids = (1 to 6).map(i => s"k$i")
      val lines = ArrayBuffer.empty[String]
      // seed 8 is a feed larger than a small batch: the one-batch cut of
      // it takes the large-batch aggregation
      val n = if (seed == 8) StreamIngest.SmallBatchRows + 20 else 40
      var seq = 0
      while (lines.size < n) {
        rnd.nextInt(12) match {
          case 0 | 1 => seq += 1; lines += deletion(seq, ids(rnd.nextInt(ids.size)))
          case 2 => seq += 1; lines += change(seq, "_design/d", s"""{"_id":"_design/d","type":"x","views":{}}""")
          // at-least-once: an earlier change re-delivered
          case 3 if lines.nonEmpty => lines += lines(rnd.nextInt(lines.size))
          case _ =>
            seq += 1
            lines += doc(seq, ids(rnd.nextInt(ids.size)), types(rnd.nextInt(types.size)),
              fields.filter(_ => rnd.nextBoolean()): _*)
        }
      }
      val feed = lines.toSeq
      for (k <- 0 until 3) {
        val cuts = if (k == 0) Seq(feed.size) else {
          val bounds = (Seq.fill(1 + rnd.nextInt(5))(1 + rnd.nextInt(feed.size - 1)) :+ 0 :+ feed.size)
            .distinct.sorted
          bounds.zip(bounds.tail).map { case (a, b) => b - a }
        }
        val restart = Option.when(cuts.size > 1)(1 + rnd.nextInt(cuts.size - 1))
        assertParity(feed, cuts, restart, s"seed $seed")
      }
    }
  }
}
