package graft

import graft.streaming.StreamIngest
import java.nio.file.{Files, Paths}

class StreamIngestSpec extends SparkSpec {

  def tempDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  def writeChanges(dir: String, name: String, lines: Seq[String]): Unit =
    Files.write(Paths.get(dir, name),
      lines.mkString("\n").getBytes("UTF-8"))

  def change(seq: Int, id: String, doc: String): String =
    s"""{"seq":"$seq-x","id":"$id","changes":[{"rev":"$seq-r"}],"doc":$doc}"""

  def deletion(seq: Int, id: String): String =
    s"""{"seq":"$seq-x","id":"$id","changes":[{"rev":"$seq-r"}],"deleted":true,"doc":{"_id":"$id","_rev":"$seq-r","_deleted":true}}"""

  test("streaming ingest: spool + incremental micro-batches with updates and deletes") {
    val input = tempDir("stream-in")
    val wh = tempDir("stream-wh")
    val ckpt = tempDir("stream-ckpt")

    writeChanges(input, "batch1.jsonl", Seq(
      change(1, "a", """{"_id":"a","_rev":"1-r","name":"Ada","score":1}"""),
      change(2, "b", """{"_id":"b","_rev":"1-r","name":"Bob","score":2}"""),
      change(3, "c", """{"_id":"c","_rev":"1-r","name":"Cy","score":3}""")))

    val ingest = new StreamIngest(spark, WarehouseOptions(database = "sdb"), wh)
    val q1 = ingest.start(input, ckpt)
    q1.awaitTermination()
    ingest.publish()

    assert(spark.sql("SELECT COUNT(*) FROM sdb").collect()(0).getLong(0) == 3L)
    assert(ingest.checkpoint == 3L)

    // second micro-batch: update b, delete c, insert d
    writeChanges(input, "batch2.jsonl", Seq(
      change(4, "b", """{"_id":"b","_rev":"2-r","name":"Bobby","score":20}"""),
      deletion(5, "c"),
      change(6, "d", """{"_id":"d","_rev":"1-r","name":"Dee","score":4}""")))

    val q2 = ingest.start(input, ckpt)
    q2.awaitTermination()
    ingest.publish()

    val rows = spark.sql("SELECT id, name, score FROM sdb ORDER BY id").collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("a", "b", "d"))
    assert(rows(1).getString(1) == "Bobby" && rows(1).getDouble(2) == 20.0)
    assert(ingest.checkpoint == 6L)
  }

  test("replayed batch is idempotent (at-least-once delivery)") {
    val wh = tempDir("replay-wh")
    val ingest = new StreamIngest(spark, WarehouseOptions(database = "rdb"), wh)
    val batch = CouchFixtures.feed(spark, Seq(
      change(1, "x", """{"_id":"x","_rev":"1-r","v":1}"""),
      change(2, "y", """{"_id":"y","_rev":"1-r","v":2}""")))
    ingest.applyBatch(batch, 0L)
    ingest.applyBatch(batch, 1L) // replay
    ingest.publish()
    assert(spark.sql("SELECT COUNT(*) FROM rdb").collect()(0).getLong(0) == 2L)
    assert(ingest.checkpoint == 2L)
  }

  test("a second instance on the same warehouse reports the writer's checkpoint") {
    val wh = tempDir("ckpt-wh")
    val mk = (rows: Seq[String]) => CouchFixtures.feed(spark, rows)
    val writer = new StreamIngest(spark, WarehouseOptions(database = "cpdb"), wh)
    val reader = new StreamIngest(spark, WarehouseOptions(database = "cpdb2"), wh)
    assert(writer.checkpoint == 0L && reader.checkpoint == 0L)
    writer.applyBatch(mk((1 to 3).map(i =>
      change(i, s"k$i", s"""{"_id":"k$i","_rev":"1","v":$i}"""))), 0L)
    assert(reader.checkpoint == 3L)
    // a small batch lands as a delta in the manifest commit: the reader
    // sees its seq too
    writer.applyBatch(mk(Seq(change(4, "k1", """{"_id":"k1","_rev":"2","v":10}"""))), 1L)
    assert(writer.checkpoint == 4L && reader.checkpoint == 4L)
    assert(new StreamIngest(spark, WarehouseOptions(database = "cpdb3"), wh).checkpoint == 4L)
  }

  test("schema registry survives restart (frozen first-doc-wins)") {
    val wh = tempDir("restart-wh")
    val ingest = new StreamIngest(spark, WarehouseOptions(database = "xdb"), wh)
    val mk = (s: String) => CouchFixtures.feed(spark, Seq(s))
    ingest.applyBatch(mk(change(1, "p", """{"_id":"p","_rev":"1","a":1,"b":"t"}""")), 0L)
    ingest.publish()
    // new instance over same warehouse dir = restart; later doc carries an
    // extra field which must stay dropped
    val ingest2 = new StreamIngest(spark, WarehouseOptions(database = "xdb"), wh)
    ingest2.applyBatch(mk(change(2, "q", """{"_id":"q","_rev":"1","a":2,"b":"u","extra":9}""")), 1L)
    ingest2.publish()
    val cols = spark.sql("SELECT * FROM xdb").columns.toSeq
    assert(cols == Seq("a", "b", "id", "rev"))
  }

  test("bucketed state: untouched buckets are not rewritten") {
    // a 256-byte scan split: the state is several files of a few buckets
    withConf("spark.sql.files.maxPartitionBytes" -> "256") {
      val wh = tempDir("bucket-wh")
      val ingest = new StreamIngest(spark, WarehouseOptions(database = "bdb"), wh)
      val mk = (rows: Seq[String]) => CouchFixtures.feed(spark, rows)
      // enough ids to populate several buckets
      ingest.applyBatch(mk((1 to 40).map(i =>
        change(i, s"doc$i", s"""{"_id":"doc$i","_rev":"1","v":$i}"""))), 0L)

      val manifest = new StreamIngest.ManifestDir(
        new org.apache.hadoop.fs.Path(wh).getFileSystem(spark.sparkContext.hadoopConfiguration),
        new org.apache.hadoop.fs.Path(s"$wh/_state_v"))
      // bucket -> its live parquet files, as the manifest names them
      def snapshot(): Map[Int, Set[String]] =
        manifest.live().get.files.groupBy(_.bucket).map { case (b, fs) => b -> fs.map(_.rel).toSet }

      val before = snapshot()
      assert(before.size > 3, s"expected several buckets, got ${before.keys}")
      assert(before.values.flatten.toSet.size > 1, s"expected several files, got $before")

      // touch exactly one id → exactly the buckets of the one file holding
      // its bucket; the re-delivered seq-1 change (at-least-once) sends the
      // batch down the bucketed merge
      ingest.applyBatch(mk(Seq(
        change(99, "doc1", """{"_id":"doc1","_rev":"2","v":100}"""),
        change(1, "doc1", """{"_id":"doc1","_rev":"1","v":1}"""))), 1L)
      val after = snapshot()

      val changed = before.keySet.filter(k => before(k) != after.getOrElse(k, Set.empty))
      val holders = changed.flatMap(before)
      assert(holders.size == 1, s"exactly one file should be rewritten, got $holders")
      assert(changed == before.collect { case (b, fs) if fs.exists(holders) => b }.toSet)
      assert(changed.size < before.size, s"every bucket changed: $changed")
      // and the data is correct
      ingest.publish()
      val v = spark.sql("SELECT v FROM bdb WHERE id = 'doc1'").collect()(0).getDouble(0)
      assert(v == 100.0)
      assert(spark.sql("SELECT COUNT(*) FROM bdb").collect()(0).getLong(0) == 40L)
    }
  }

  test("state-backed outbound change feed: tombstones included, resumable") {
    val wh = tempDir("feed-wh")
    val mk = (rows: Seq[String]) => CouchFixtures.feed(spark, rows)
    val ingest = new StreamIngest(spark, WarehouseOptions(database = "feeddb"), wh)
    ingest.applyBatch(mk(Seq(
      change(1, "a", """{"_id":"a","_rev":"1","v":1}"""),
      change(2, "b", """{"_id":"b","_rev":"1","v":2}"""))), 0L)
    ingest.applyBatch(mk(Seq(
      deletion(3, "a"),
      change(4, "b", """{"_id":"b","_rev":"2","v":20}"""))), 1L)
    val all = ingest.changesSince(0L).orderBy("id").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getBoolean(2))).toSeq
    assert(all == Seq(("a", 3L, true), ("b", 4L, false)))
    val tail = ingest.changesSince(3L).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(tail == Seq(("b", 4L)))
  }

  test("an all-filtered first batch does not poison the state directory") {
    val wh = tempDir("empty-wh")
    val ingest = new StreamIngest(spark, WarehouseOptions(database = "edb"), wh)
    val empty = CouchFixtures.feed(spark, Seq.empty)
    ingest.applyBatch(empty, 0L) // no rows -> no buckets land
    // the warehouse must still accept a real batch afterwards
    val real = CouchFixtures.feed(spark, Seq(
      change(1, "a", """{"_id":"a","_rev":"1-r","name":"Ada","score":1}""")))
    ingest.applyBatch(real, 1L)
    ingest.publish()
    assert(spark.sql("SELECT COUNT(*) FROM edb").collect()(0).getLong(0) == 1L)
  }

  test("restarting with a different bucket count fails loudly, not silently") {
    val wh = tempDir("buckets-wh")
    val ingest = new StreamIngest(spark, WarehouseOptions(database = "bdb"), wh)
    val batch = CouchFixtures.feed(spark, Seq(
      change(1, "a", """{"_id":"a","_rev":"1-r","name":"Ada","score":1}""")))
    ingest.applyBatch(batch, 0L)
    spark.conf.set("graft.state.buckets", "128")
    try {
      val e = intercept[IllegalStateException] {
        new StreamIngest(spark, WarehouseOptions(database = "bdb"), wh)
      }
      assert(e.getMessage.contains("bucket"))
    } finally spark.conf.unset("graft.state.buckets")
  }

  test("a torn manifest write is recovered by a restart, with the first doc's schema") {
    spark.sparkContext.hadoopConfiguration.set(
      "fs.tornwrite.impl", classOf[TornWriteFileSystem].getName)
    val wh = "tornwrite://" + tempDir("torn-wh")
    val mk = (rows: Seq[String]) => CouchFixtures.feed(spark, rows)
    val batch = Seq(change(1, "a", """{"_id":"a","_rev":"1","v":1}"""),
      change(2, "b", """{"_id":"b","_rev":"1","v":2,"w":3}"""))
    TornWriteFileSystem.armed.set(true)
    // the crash: the first sync dies while staging its manifest, after
    // its data write and before its commit
    intercept[java.io.IOException] {
      new StreamIngest(spark, WarehouseOptions(database = "torndb"), wh)
        .applyBatch(mk(batch), 0L)
    }
    assert(!TornWriteFileSystem.armed.get, "the manifest write was never attempted")
    // the restart constructs, applies the re-delivered batch and publishes
    // the view
    val restarted = new StreamIngest(spark, WarehouseOptions(database = "torndb"), wh)
    assert(restarted.checkpoint == 0L && restarted.discoveredSchemas.isEmpty)
    restarted.applyBatch(mk(batch), 0L)
    restarted.publish()
    assert(spark.sql("SELECT COUNT(*) FROM torndb").collect()(0).getLong(0) == 2L)
    assert(spark.table("torndb").columns.toSeq == Seq("v", "id", "rev"))
    assert(restarted.discoveredSchemas.keySet == Set("_default"))
  }

  test("a warehouse synced through start holds only _state_v and _spark_checkpoint") {
    val input = tempDir("only-in")
    val wh = tempDir("only-wh")
    val ingest = new StreamIngest(spark, WarehouseOptions(database = "odb", split = Some("type")), wh)
    def typed(seq: Int, id: String, t: String) =
      change(seq, id, s"""{"_id":"$id","_rev":"$seq-r","type":"$t","v":$seq}""")
    writeChanges(input, "batch1.jsonl", Seq(typed(1, "a", "x"), typed(2, "b", "y")))
    ingest.start(input, s"$wh/_spark_checkpoint").awaitTermination()
    writeChanges(input, "batch2.jsonl", Seq(typed(3, "c", "z"), deletion(4, "a")))
    ingest.start(input, s"$wh/_spark_checkpoint").awaitTermination()
    assert(new java.io.File(wh).list().toSet == Set("_state_v", "_spark_checkpoint"))
    assert(ingest.discoveredSchemas.keySet == Set("x", "y", "z") && ingest.checkpoint == 4L)
  }

  test("a second instance publishes the types a writer's later commit brought") {
    val wh = tempDir("second-wh")
    val mk = (rows: Seq[String]) => CouchFixtures.feed(spark, rows)
    val writer = new StreamIngest(spark, WarehouseOptions(database = "w2db", split = Some("type")), wh)
    writer.applyBatch(mk(Seq(change(1, "a", """{"_id":"a","_rev":"1","type":"x","u":1}"""))), 0L)
    val reader = new StreamIngest(spark, WarehouseOptions(database = "r2db", split = Some("type")), wh)
    assert(reader.discoveredSchemas.keySet == Set("x"))
    writer.applyBatch(mk(Seq(change(2, "b", """{"_id":"b","_rev":"1","type":"y","v":2}"""))), 1L)
    reader.publish()
    assert(reader.discoveredSchemas.keySet == Set("x", "y"))
    assert(spark.sql("SELECT id, v FROM r2db_y").collect().map(_.toString).toSeq == Seq("[b,2.0]"))
  }

  test("graft.state.buckets must be a positive integer, checked before any state is touched") {
    for (bad <- Seq("0", "-1", "abc")) {
      val wh = tempDir("buckets-bad")
      spark.conf.set("graft.state.buckets", bad)
      try {
        val e = intercept[IllegalArgumentException] {
          new StreamIngest(spark, WarehouseOptions(database = "bbad"), wh)
        }
        assert(e.getMessage.contains("graft.state.buckets") &&
          e.getMessage.contains(s"'$bad'"), e.getMessage)
        assert(new java.io.File(wh).list().isEmpty, s"$bad: nothing written")
      } finally spark.conf.unset("graft.state.buckets")
    }
  }
}
