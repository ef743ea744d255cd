package graft

import graft.tools.CouchWarehouseCli
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** The reference's headline workflow end-to-end through the CLI: a live
  * CouchDB URL in (`--url`, spooled over HTTP), warehouse tables built,
  * Elasticsearch out (`--es-url`) — `bin/couchwarehouse.bin.js` with
  * `databaseType=elasticsearch`, no mocks inside the engine.
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
      Console.withOut(new java.io.PrintStream(out, true, "UTF-8")) {
        CouchWarehouseCli.main(Array(
          "--url", couch.url, "--database", "sampledata",
          "--spool-dir", spool, "--es-url", es.url, "--verbose"))
      }
      spark.sparkContext.setLogLevel("ERROR") // undo the CLI's --verbose INFO
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
}
