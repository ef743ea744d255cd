package graft

import graft.tools.CouchWarehouseCli
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** The reference's headline workflow end-to-end through the CLI: a live
  * CouchDB URL in (`--url`, spooled over HTTP), warehouse tables built,
  * Elasticsearch out (`--es-url`) — `bin/couchwarehouse.bin.js` with
  * `databaseType=elasticsearch`, no mocks inside the engine; and the
  * monitor mode over a spool of chunk files, the refused flags, and a
  * selector that gives the same rows through the CLI and
  * `Warehouse.start`.
  */
class CliSpec extends SparkSpec {

  private val feed = CouchFixtures.path("samplechanges.txt")

  test("CLI: --url spools over HTTP, builds the warehouse, exports to Elasticsearch") {
    val couch = new FakeHttp.FakeCouch(CouchFixtures.results)
    val es = new FakeHttp.FakeEs
    val spool = Files.createTempDirectory("cli-spool").toString
    try {
      spark // init the shared session first so the CLI reuses (and keeps) it
      val out = new java.io.ByteArrayOutputStream()
      keepsLogLevel(Console.withOut(new java.io.PrintStream(out, true, "UTF-8")) {
        CouchWarehouseCli.main(Array(
          "--url", couch.url, "--database", "sampledata",
          "--spool-dir", spool, "--es-url", es.url, "--verbose"))
      })
      print(out.toString("UTF-8")) // pass the captured CLI output through
      assert(out.toString("UTF-8").linesIterator.exists(
        _.matches("""spooled \d+ changes \(.*\) seq=.*""")),
        "verbose mode must print the reference-style spool progress line")
      assert(new java.io.File(spool).listFiles().nonEmpty, "spool dir has chunks")
      assert(es.store.asScala.count(_._1.startsWith("sampledata/")) == 99,
        "99 golden docs exported")
      assert(graft.sinks.ElasticsearchSink.getCheckpoint(es.url, "sampledata")
        .contains(104L))
      assert(!spark.sparkContext.isStopped, "embedded run must not stop the session")
    } finally { couch.stop(); es.stop() }
  }

  test("CLI: COUCH_URL + COUCH_DATABASE env vars drive a flagless run") {
    // reference bin/couchwarehouse.bin.js:4-5 — both settings come from
    // the environment; no --url/--database flags at all.
    val couch = new FakeHttp.FakeCouch(CouchFixtures.results)
    val spool = Files.createTempDirectory("cli-env-spool").toString
    val saved = CouchWarehouseCli.env
    try {
      spark // init the shared session first so the CLI reuses (and keeps) it
      CouchWarehouseCli.env =
        Map("COUCH_URL" -> couch.url, "COUCH_DATABASE" -> "cli_env").get
      CouchWarehouseCli.main(Array("--spool-dir", spool))
      assert(new java.io.File(spool).listFiles().nonEmpty, "spooled from env URL")
      assert(spark.sql("SELECT COUNT(*) FROM cli_env").collect()(0).getLong(0) == 99L,
        "warehouse built for the env-named database")
      // an explicit --feed must not be shadowed by a lingering COUCH_URL
      CouchWarehouseCli.main(Array(
        "--feed", feed,
        "--database", "cli_env_feed"))
      assert(spark.sql("SELECT COUNT(*) FROM cli_env_feed")
        .collect()(0).getLong(0) == 99L)
    } finally { CouchWarehouseCli.env = saved; couch.stop() }
  }

  test("CLI: --transform loads a Hook reflectively and composes with --drop-fields") {
    spark // reuse (and keep) the shared session
    CouchWarehouseCli.main(Array(
      "--feed", feed,
      "--database", "cli_tf",
      "--transform", "graft.CliTestTransform",
      "--drop-fields", "verified"))
    val cols = spark.table("cli_tf").columns.toSet
    assert(cols.contains("label"), "hook-added field must survive to the table")
    assert(!cols.contains("description"), "--transform removed description")
    assert(!cols.contains("verified"), "--drop-fields composes after the hook")
    val label = spark.sql(
      "SELECT label FROM cli_tf WHERE id = '001g6v3h2hrgcP45xCdc343JmY4X0qHA'")
      .collect()(0).getString(0)
    assert(label == "Garfield Jamieson (38)")
    assert(spark.sql("SELECT COUNT(*) FROM cli_tf").collect()(0).getLong(0) == 99L)

    // a class that is not a Hook fails with a clear message, not an exit
    val e = intercept[IllegalArgumentException] {
      CouchWarehouseCli.main(Array(
        "--feed", feed,
        "--database", "cli_bad", "--transform", "java.lang.StringBuilder"))
    }
    assert(e.getMessage.contains("does not implement"))
    // a Function1 of the WRONG element type is caught despite erasure
    val e2 = intercept[IllegalArgumentException] {
      CouchWarehouseCli.main(Array(
        "--feed", feed,
        "--database", "cli_bad", "--transform", "graft.CliBadTransform"))
    }
    assert(e2.getMessage.contains("does not implement"))
    val e3 = intercept[IllegalArgumentException] {
      CouchWarehouseCli.main(Array(
        "--feed", feed,
        "--database", "cli_bad", "--transform", "graft.CliWrongReturnTransform"))
    }
    assert(e3.getMessage.contains("does not implement"),
      "a DataFrame => Long must be rejected despite the Dataset parameter")
    intercept[ClassNotFoundException] {
      CouchWarehouseCli.main(Array(
        "--feed", feed,
        "--database", "cli_bad", "--transform", "no.such.Hook"))
    }
  }

  /** `body`, a CLI call on the shared session, asserted to leave the root
    * log level as it found it: the session is borrowed.
    */
  private def keepsLogLevel[T](body: => T): T = {
    val level = org.apache.logging.log4j.LogManager.getRootLogger.getLevel
    val result = body
    assert(org.apache.logging.log4j.LogManager.getRootLogger.getLevel == level,
      "the CLI changed the log level of a session it did not build")
    result
  }

  /** `args` run through the CLI: its exit status and what it printed to
    * stdout and stderr.
    */
  private def cli(args: String*): (Int, String, String) = {
    spark // init the shared session first so the CLI reuses (and keeps) it
    val out, err = new java.io.ByteArrayOutputStream()
    val status = keepsLogLevel(Console.withOut(new java.io.PrintStream(out, true, "UTF-8")) {
      Console.withErr(new java.io.PrintStream(err, true, "UTF-8")) {
        CouchWarehouseCli.run(args.toArray)
      }
    })
    (status, out.toString("UTF-8"), err.toString("UTF-8"))
  }

  private def checkpointSeq(out: String): Long =
    out.linesIterator.collectFirst { case s"checkpoint seq: $n" => n.toLong }
      .getOrElse(fail(s"no checkpoint line in:\n$out"))

  private def ids(table: String): Seq[String] =
    if (!spark.catalog.tableExists(table)) Nil
    else spark.table(table).select("id").collect().map(_.getString(0)).toSeq.sorted

  /** Writes `changes` as chunk file `name` of `spool`, one change a line. */
  private def chunk(spool: Path, name: String, changes: Seq[String]): Unit =
    Files.write(spool.resolve(name), changes.asJava)

  test("CLI --monitor: syncs the spool's chunks, a rerun applies a new chunk, " +
       "--reset rebuilds, --query reaches the stream reader") {
    val spool = Files.createTempDirectory("cli-mon-spool")
    val wh = Files.createTempDirectory("cli-mon-wh").resolve("wh").toString
    val (head, tail) = CouchFixtures.results.map(_.toString).splitAt(60)
    chunk(spool, "chunk-000001.json", head)
    chunk(spool, "chunk-000002.json", tail)
    def monitor(extra: String*) = {
      val (status, out, err) = cli(Seq("--feed", spool.toString, "--database", "cli_mon",
        "--monitor", "--warehouse-dir", wh) ++ extra: _*)
      assert(status == 0, err)
      checkpointSeq(out)
    }
    assert(monitor() == 104L)
    assert(ids("cli_mon").size == 99)

    chunk(spool, "chunk-000003.json", Seq(
      """{"seq":"105-x","id":"zzz1","changes":[{"rev":"1-r"}],"doc":{"_id":"zzz1","_rev":"1-r","name":"New Doc","age":61}}"""))
    assert(monitor() == 105L, "the rerun applies the new chunk")
    assert(ids("cli_mon").size == 100 && ids("cli_mon").contains("zzz1"))

    // without chunk 1 only --reset can give the warehouse of the spool
    // (the stream's offsets count chunk files): it rebuilds from scratch
    Files.delete(spool.resolve("chunk-000001.json"))
    val batch = Warehouse.start(spark, spool.toString, WarehouseOptions(database = "cli_mon_batch"))
    assert(monitor("--reset") == batch.checkpoint)
    assert(ids("cli_mon") == ids("cli_mon_batch") && ids("cli_mon").size < 99)

    val sel = """{"age":{"$gt":50}}"""
    Warehouse.start(spark, spool.toString,
      WarehouseOptions(database = "cli_mon_sel", mangoSelector = Some(sel)))
    monitor("--reset", "--query", sel)
    assert(ids("cli_mon") == ids("cli_mon_sel"))
    assert(ids("cli_mon").nonEmpty && ids("cli_mon").size < ids("cli_mon_batch").size)
  }

  test("CLI --monitor refuses the export flags with exit 2, naming the flag") {
    val wh = Files.createTempDirectory("cli-mon-refuse").resolve("wh")
    for (flag <- Seq("es-url", "jdbc-url", "es-index", "jdbc-table")) {
      val (status, _, err) = cli("--feed", feed, "--database", "cli_refuse", "--monitor",
        "--warehouse-dir", wh.toString, s"--$flag", "x")
      assert(status == 2, s"--$flag")
      assert(err.contains(s"--$flag") && err.contains("--monitor"), err)
    }
    assert(!Files.exists(wh), "a refused run builds nothing")
  }

  test("a feed path that does not exist fails at planning, naming the path") {
    val missing = Files.createTempDirectory("cli-missing").resolve("no-such-feed").toString
    def named(e: Throwable): Boolean =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null).exists(c =>
        c.isInstanceOf[java.io.FileNotFoundException] && c.getMessage.contains(missing))
    val batch = intercept[Exception](
      Warehouse.start(spark, missing, WarehouseOptions(database = "cli_missing")))
    assert(named(batch), batch)
    val monitor = intercept[Exception](cli("--feed", missing, "--database", "cli_missing",
      "--monitor", "--warehouse-dir", Files.createTempDirectory("cli-missing-wh").toString))
    assert(named(monitor), monitor)
  }

  test("a selector gives the same rows through Warehouse.start and the CLI: " +
       "type-strict, dotted names are subfields") {
    val file = Files.createTempFile("cli-sel", ".json")
    def change(seq: Int, id: String, age: String, city: String) =
      s"""{"seq":"$seq-x","id":"$id","changes":[{"rev":"1-r"}],""" +
        s""""doc":{"_id":"$id","_rev":"1-r","age":$age,"address":{"city":"$city"}}}"""
    Files.write(file, Seq(change(1, "a", "30", "x"), change(2, "b", "\"30\"", "y"),
      change(3, "c", "70", "x")).asJava)
    val cases = Seq(
      """{"age":"30"}""" -> Seq("b"),
      """{"age":30}""" -> Seq("a"),
      """{"age":{"$type":"number"}}""" -> Seq("a", "c"),
      """{"address.city":"x"}""" -> Seq("a", "c"),
      """{"age":{"$regex":"^3"}}""" -> Seq("b"),
      """{"age":{"$gt":"4"}}""" -> Nil)
    cases.zipWithIndex.foreach { case ((sel, want), i) =>
      Warehouse.start(spark, file.toString,
        WarehouseOptions(database = s"sel_start_$i", mangoSelector = Some(sel)))
      assert(ids(s"sel_start_$i") == want, s"Warehouse.start $sel")
      val (status, _, err) = cli("--feed", file.toString, "--database", s"sel_cli_$i",
        "--query", sel)
      assert(status == 0, err)
      assert(ids(s"sel_cli_$i") == want, s"CLI $sel")
    }
  }
}
