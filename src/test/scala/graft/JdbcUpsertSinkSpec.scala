package graft

import graft.sinks.JdbcUpsertSink
import org.apache.spark.sql.functions._

/** JDBC upsert sink against embedded Derby (on the Spark classpath) — the
  * e2e the reference runs against SQLite (`test/run.js`): replay the
  * 104-change fixture feed, land the warehouse table over JDBC, read the
  * 99 golden rows back out of the database.
  */
class JdbcUpsertSinkSpec extends SparkSpec {
  import spark.implicits._

  private def derbyUrl(name: String) = s"jdbc:derby:memory:$name;create=true"

  private def queryAll(url: String, sql: String): Seq[Seq[Any]] = {
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val rs = conn.createStatement().executeQuery(sql)
      val n = rs.getMetaData.getColumnCount
      val out = scala.collection.mutable.ArrayBuffer[Seq[Any]]()
      while (rs.next()) out += (1 to n).map(rs.getObject)
      out.toSeq
    } finally conn.close()
  }

  test("e2e: samplechanges feed -> JDBC target holds the 99 golden rows " +
       "and the checkpoint row") {
    val url = derbyUrl("e2e")
    val w = Warehouse.start(spark, CouchFixtures.path("samplechanges.txt"),
      WarehouseOptions(database = "sampledata"))
    w.exportJdbc("sampledata", url, "sampledata")
    val rows = queryAll(url, "SELECT COUNT(*) FROM sampledata")
    assert(rows.head.head.asInstanceOf[Number].longValue() == 99L)
    // spot-check one golden row's scalar columns survive the JDBC hop
    val kristy = queryAll(url,
      "SELECT name, age, verified FROM sampledata WHERE name = 'Kristy George'")
    assert(kristy.head(1).asInstanceOf[Number].doubleValue() == 36.0)
    assert(kristy.head(2).asInstanceOf[Boolean] == true)
    val ckpt = queryAll(url,
      "SELECT seq FROM couchwarehouse_checkpoints WHERE tablename = 'sampledata'")
    assert(ckpt.head.head.asInstanceOf[Number].longValue() == 104L)
  }

  test("upsert is idempotent and last-writer-wins on replay") {
    val url = derbyUrl("lww")
    val v1 = Seq(("a", 1L, "x"), ("b", 2L, "y")).toDF("id", "n", "s")
    JdbcUpsertSink.upsert(v1, url, "t", "id")
    JdbcUpsertSink.upsert(v1, url, "t", "id") // replay: no dup, no error
    assert(queryAll(url, "SELECT COUNT(*) FROM t").head.head
      .asInstanceOf[Number].longValue() == 2L)
    val v2 = Seq(("a", 10L, "x2")).toDF("id", "n", "s")
    JdbcUpsertSink.upsert(v2, url, "t", "id")
    val got = queryAll(url, "SELECT n, s FROM t WHERE id = 'a'").head
    assert(got(0).asInstanceOf[Number].longValue() == 10L && got(1) == "x2")
    assert(queryAll(url, "SELECT COUNT(*) FROM t").head.head
      .asInstanceOf[Number].longValue() == 2L)
  }

  test("deleted rows are applied as DELETEs; NULLs round-trip") {
    val url = derbyUrl("del")
    val v1 = Seq(("a", Some(1.5), false), ("b", None, false), ("c", Some(3.0), false))
      .toDF("id", "score", "deleted")
    JdbcUpsertSink.upsert(v1, url, "t", "id", deletedCol = Some("deleted"))
    assert(queryAll(url, "SELECT COUNT(*) FROM t").head.head
      .asInstanceOf[Number].longValue() == 3L)
    assert(queryAll(url, "SELECT score FROM t WHERE id = 'b'").head.head == null)
    val tomb = Seq(("a", None: Option[Double], true)).toDF("id", "score", "deleted")
    JdbcUpsertSink.upsert(tomb, url, "t", "id", deletedCol = Some("deleted"))
    assert(queryAll(url, "SELECT COUNT(*) FROM t").head.head
      .asInstanceOf[Number].longValue() == 2L)
  }

  test("foreachBatchUpserter lands micro-batches transactionally with " +
       "checkpoint rows (streaming parity, A12)") {
    val url = derbyUrl("stream")
    val fn = JdbcUpsertSink.foreachBatchUpserter(url, "t", "id",
      deletedCol = Some("deleted"), seqCol = Some("seqNum"))
    fn(Seq(("a", 1L, false, 1L), ("b", 2L, false, 2L))
      .toDF("id", "n", "deleted", "seqNum"), 0L)
    fn(Seq(("a", 5L, false, 3L), ("b", 0L, true, 4L))
      .toDF("id", "n", "deleted", "seqNum"), 1L)
    val rows = queryAll(url, "SELECT id, n FROM t")
    assert(rows.map(r => (r(0), r(1).asInstanceOf[Number].longValue())).toSet
      == Set(("a", 5L)))
    assert(queryAll(url, "SELECT seq FROM couchwarehouse_checkpoints")
      .head.head.asInstanceOf[Number].longValue() == 4L)
  }

  test("unsafe identifiers are rejected before reaching SQL") {
    val df = Seq(("a", 1L)).toDF("id", "n")
    intercept[IllegalArgumentException] {
      JdbcUpsertSink.upsert(df, derbyUrl("bad"), "t; DROP TABLE x", "id")
    }
  }

  test("hasUniqueKey: PK and unique-index keys qualify; bare tables do not") {
    val url = derbyUrl("uniq")
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.executeUpdate("CREATE TABLE with_pk (id VARCHAR(32) NOT NULL, n BIGINT, PRIMARY KEY (id))")
      st.executeUpdate("CREATE TABLE bare (id VARCHAR(32), n BIGINT)")
      st.executeUpdate("CREATE TABLE with_uidx (id VARCHAR(32) NOT NULL, n BIGINT)")
      st.executeUpdate("CREATE UNIQUE INDEX uidx ON with_uidx (id)")
      st.executeUpdate("CREATE TABLE composite (a VARCHAR(32) NOT NULL, b VARCHAR(32) NOT NULL, PRIMARY KEY (a, b))")
      st.close()
      assert(JdbcUpsertSink.hasUniqueKey(conn, "with_pk", "id"))
      assert(JdbcUpsertSink.hasUniqueKey(conn, "with_uidx", "id"))
      assert(!JdbcUpsertSink.hasUniqueKey(conn, "bare", "id"),
        "no constraint: native upsert would silently duplicate — must fall back")
      assert(!JdbcUpsertSink.hasUniqueKey(conn, "composite", "a"),
        "a composite key does not make a single column unique")
      assert(!JdbcUpsertSink.hasUniqueKey(conn, "no_such_table", "id"))
    } finally conn.close()
  }

  test("upsert statement is dialect-native for PG/MySQL/SQLite, neutral otherwise") {
    val cols = Seq("id", "n", "s")
    assert(JdbcUpsertSink.upsertStatement(
      "jdbc:postgresql://h/db", "t", cols, "id") ==
      (("INSERT INTO t (id, n, s) VALUES (?, ?, ?) " +
        "ON CONFLICT (id) DO UPDATE SET n = EXCLUDED.n, s = EXCLUDED.s", true)))
    // key-only table: nothing to update on conflict
    assert(JdbcUpsertSink.upsertStatement(
      "jdbc:postgresql://h/db", "t", Seq("id"), "id") ==
      (("INSERT INTO t (id) VALUES (?) ON CONFLICT (id) DO NOTHING", true)))
    assert(JdbcUpsertSink.upsertStatement("jdbc:mysql://h/db", "t", cols, "id") ==
      (("REPLACE INTO t (id, n, s) VALUES (?, ?, ?)", true)))
    assert(JdbcUpsertSink.upsertStatement("jdbc:mariadb://h/db", "t", cols, "id") ==
      (("REPLACE INTO t (id, n, s) VALUES (?, ?, ?)", true)))
    assert(JdbcUpsertSink.upsertStatement("jdbc:sqlite:/tmp/x.db", "t", cols, "id") ==
      (("INSERT OR REPLACE INTO t (id, n, s) VALUES (?, ?, ?)", true)))
    // Derby (and anything unrecognized) keeps the two-statement form
    assert(JdbcUpsertSink.upsertStatement("jdbc:derby:memory:d", "t", cols, "id") ==
      (("INSERT INTO t (id, n, s) VALUES (?, ?, ?)", false)))
  }
}
