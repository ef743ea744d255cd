package graft

import graft.ops.Scd2
import graft.streaming.StreamScd2
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import java.nio.file.Files

/** The streaming SCD2 twin: after ANY batch sequence the maintained
  * dimension must equal a full `Scd2.build` over every version seen —
  * the same oracle the batch `applyCdc` spec uses, held continuously —
  * and replays must be absorbed exactly-once (applyCdc is not
  * idempotent, so this is the pointer-flip contract under test, not the
  * merge's).
  */
class StreamScd2Spec extends SparkSpec {
  import spark.implicits._

  private def versions(rows: (Long, Long, Long)*): DataFrame =
    rows.toDF("event_id", "user_id", "ts")
      .select(col("user_id"), col("event_id"), col("ts"))

  private def canon(df: DataFrame): Set[(Long, Long, Long, Option[Long], Long, Boolean)] =
    df.collect().map { r =>
      (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)),
        r.getLong(4), r.getBoolean(5))
    }.toSet

  private val b0 = versions((1L, 1L, 100L), (2L, 1L, 200L), (3L, 2L, 150L))
  private val b1 = versions((4L, 1L, 300L), (5L, 3L, 250L))
  private val b2 = versions((6L, 3L, 400L), (7L, 2L, 500L), (8L, 2L, 500L))

  test("maintained dimension equals a full rebuild after every batch") {
    val dir = Files.createTempDirectory("scd2-stream").toString
    val s = new StreamScd2(spark, dir)
    assert(s.dim().isEmpty && s.appliedBatch() == -1L)
    var seen = b0.limit(0)
    for ((b, id) <- Seq(b0, b1, b2).zipWithIndex) {
      s.applyBatch(b, id.toLong)
      seen = seen.unionByName(b)
      assert(canon(s.dim().get) == canon(Scd2.build(seen)),
        s"divergence after batch $id")
      assert(s.appliedBatch() == id.toLong)
    }
    // versions continued across batches: u1 has 3 versions, one current
    val u1 = canon(s.dim().get).filter(_._1 == 1L)
    assert(u1.map(_._5) == Set(1L, 2L, 3L) && u1.count(_._6) == 1)
  }

  test("a replayed batch is absorbed exactly once") {
    val dir = Files.createTempDirectory("scd2-replay").toString
    val s = new StreamScd2(spark, dir)
    s.applyBatch(b0, 0L)
    s.applyBatch(b1, 1L)
    val before = canon(s.dim().get)
    // at-least-once delivery replays exactly the LAST batch after a
    // restart (Spark commits batch N before running N+1, so only the
    // crash-window batch can reappear — anything older is a reset and
    // trips the margin guard below)
    s.applyBatch(b1, 1L)
    assert(canon(s.dim().get) == before, "replay must be a no-op")
  }

  test("a batch id past the replay margin fails loudly (checkpoint reset)") {
    val dir = Files.createTempDirectory("scd2-reset").toString
    val s = new StreamScd2(spark, dir)
    for (id <- 0 to 2) s.applyBatch(versions((100L + id, 5L, 1000L + id)), id.toLong)
    val e = intercept[IllegalStateException] { s.applyBatch(b0, 0L) }
    assert(e.getMessage.contains("batchId went backwards"))
  }

  test("crash before the pointer flip replays onto the old dimension") {
    val dir = Files.createTempDirectory("scd2-crash").toString
    val s = new StreamScd2(spark, dir)
    s.applyBatch(b0, 0L)
    // simulate batch 1 crashing after its data write but before the flip:
    // a data-1 directory exists, the pointer still names data-0
    Scd2.build(b0.unionByName(b1))
      .write.parquet(java.nio.file.Paths.get(dir, "data-1").toString)
    assert(s.appliedBatch() == 0L)
    // the replayed batch must re-apply cleanly (the abandoned dir sweeps)
    s.applyBatch(b1, 1L)
    assert(canon(s.dim().get) == canon(Scd2.build(b0.unionByName(b1))))
  }

  test("lookup against the live dimension matches the batch lookup at every point") {
    val dir = Files.createTempDirectory("scd2-lookup").toString
    // sharded maintenance => the lookup forwards to the as-of form; its
    // parity against the plain batch lookup below is what pins the
    // forwarding as plan-only
    val s = new StreamScd2(spark, dir, timeShards = 3, autoThreshold = 2L)
    // events to enrich: one per interesting position in u1/u2/u3 history
    val events = Seq(
      (10L, 1L, 50L), (11L, 1L, 150L), (12L, 1L, 250L), (13L, 1L, 999L),
      (14L, 2L, 150L), (15L, 3L, 300L), (16L, 9L, 100L)
    ).toDF("eid", "user_id", "ts")
    assert(s.lookup(events).isEmpty, "no dimension yet -> no lookup")
    var seen = b0.limit(0)
    for ((b, id) <- Seq(b0, b1, b2).zipWithIndex) {
      s.applyBatch(b, id.toLong)
      seen = seen.unionByName(b)
      // batch-parity: enriching against the LIVE dimension must equal the
      // batch lookup over a full rebuild of every version seen so far
      val live = s.lookup(events).get
        .select("eid", "version", "version_event_id", "valid_from")
      val batchDim = Scd2.build(seen)
        .select(col("user_id"), col("event_id").as("version_event_id"),
          col("valid_from"), col("valid_to"), col("version"))
      val expect = Scd2.lookup(events, batchDim, "user_id", "ts")
        .select("eid", "version", "version_event_id", "valid_from")
      def c(df: DataFrame) = df.collect().map(r =>
        (r.getLong(0),
          if (r.isNullAt(1)) None else Some(r.getLong(1)),
          if (r.isNullAt(2)) None else Some(r.getLong(2)),
          if (r.isNullAt(3)) None else Some(r.getLong(3)))).toSet
      assert(c(live) == c(expect), s"lookup divergence after batch $id")
    }
    // spot-check the temporal semantics on the final dimension: u1 has
    // versions at ts 100/200/300 -> the 250-ts event sees version 2
    val got = s.lookup(events).get.select("eid", "version").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .toMap
    assert(got(10L) == None && got(11L) == Some(1L) &&
      got(12L) == Some(2L) && got(13L) == Some(3L) && got(16L) == None)
  }

  test("stray non-protocol names are tolerated") {
    val dir = Files.createTempDirectory("scd2-stray").toString
    val s0 = new StreamScd2(spark, dir)
    s0.applyBatch(b0, 0L)
    val expect = canon(s0.dim().get)
    val root = java.nio.file.Paths.get(dir)
    // a manual backup copy: the name does not parse as a batch id
    Files.createDirectory(root.resolve("data-backup"))
    Files.writeString(root.resolve("data-backup/note"), "manual copy")
    val s1 = new StreamScd2(spark, dir)
    assert(s1.appliedBatch() == 0L, "stray names must not crash current()")
    s1.applyBatch(b1, 1L) // the sweep must skip the unparsable name
    assert(Files.exists(root.resolve("data-backup/note")),
      "the sweep must not delete a non-protocol name")
    assert(canon(s1.dim().get) == canon(Scd2.build(b0.unionByName(b1))))
    assert(expect.nonEmpty)
  }

  test("end-to-end: a file stream of version batches maintains the dimension") {
    val in = Files.createTempDirectory("scd2-in").toString
    val dimDir = Files.createTempDirectory("scd2-dim").toString
    val ckpt = Files.createTempDirectory("scd2-ckpt").toString
    val s = new StreamScd2(spark, dimDir, timeShards = 3, autoThreshold = 2L)
    val schema = StructType(Seq(StructField("user_id", LongType),
      StructField("event_id", LongType), StructField("ts", LongType)))
    b0.coalesce(1).write.mode("append").parquet(in)
    val feed = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(in)
    val q = s.start(feed, ckpt)
    q.processAllAvailable()
    b1.coalesce(1).write.mode("append").parquet(in)
    b2.coalesce(1).write.mode("append").parquet(in)
    q.processAllAvailable()
    q.stop()
    val all = b0.unionByName(b1).unionByName(b2)
    assert(canon(s.dim().get) == canon(Scd2.build(all)))
    // restarting against the same checkpoint replays nothing new
    val q2 = s.start(spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(in), ckpt)
    q2.processAllAvailable()
    q2.stop()
    assert(canon(s.dim().get) == canon(Scd2.build(all)))
  }
}
