package graft

import org.apache.spark.sql.streaming.Trigger
import java.nio.file.{Files, Paths}

class CouchMicroBatchSpec extends SparkSpec {

  def change(seq: Int, id: String, v: Int): String =
    s"""{"seq":"$seq-x","id":"$id","changes":[{"rev":"$seq-r"}],"doc":{"_id":"$id","_rev":"$seq-r","v":$v}}"""

  test("streaming couch-changes source: chunk files become micro-batches") {
    val dir = Files.createTempDirectory("mb-in")
    val ckpt = Files.createTempDirectory("mb-ck").toString
    Files.write(dir.resolve("00001.jsonl"),
      Seq(change(1, "a", 1), change(2, "b", 2)).mkString("\n").getBytes)

    val out = Files.createTempDirectory("mb-out").toString
    val stream = spark.readStream.format("couch-changes").load(dir.toString)
    def run(): Unit = {
      val q = stream.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    run()
    assert(spark.read.parquet(out).count() == 2)

    // a new spool chunk arrives; restart resumes from the file offset —
    // only the new chunk is read (no duplicates of chunk 1)
    Files.write(dir.resolve("00002.jsonl"),
      Seq(change(3, "c", 3), change(4, "a", 10)).mkString("\n").getBytes)
    run()

    val seqs = spark.read.parquet(out).select("seqNum")
      .collect().map(_.getLong(0)).sorted
    assert(seqs.toSeq == Seq(1L, 2L, 3L, 4L),
      s"expected exactly seqs 1-4 (resume without replay), got ${seqs.toSeq}")
  }

  test("maxChunksPerTrigger bounds every micro-batch; AvailableNow drains " +
       "the backlog in rate-capped batches and terminates") {
    val dir = Files.createTempDirectory("mb-rate")
    val ckpt = Files.createTempDirectory("mb-rate-ck").toString
    // 5 chunk files of 2 changes each
    (1 to 5).foreach { c =>
      Files.write(dir.resolve(f"$c%05d.jsonl"),
        Seq(change(c * 2 - 1, s"d${c * 2 - 1}", c), change(c * 2, s"d${c * 2}", c))
          .mkString("\n").getBytes)
    }
    val batchSizes = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val q = spark.readStream.format("couch-changes")
      .option("maxChunksPerTrigger", "2")
      .load(dir.toString)
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        batchSizes.add(b.count()): Unit
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val sizes = batchSizes.toArray(Array.empty[java.lang.Long]).map(_.toLong).toSeq
    // 5 chunks at <=2 chunks (4 rows) per trigger -> batches 4,4,2
    assert(sizes.sum == 10, s"all rows drained, got $sizes")
    assert(sizes.forall(_ <= 4), s"every batch capped at 2 chunks, got $sizes")
    assert(sizes.count(_ > 0) == 3, s"expected 3 bounded batches, got $sizes")
  }

  test("streaming source honors the mango selector option") {
    val dir = Files.createTempDirectory("mb-sel")
    val ckpt = Files.createTempDirectory("mb-sel-ck").toString
    Files.write(dir.resolve("c1.jsonl"),
      (1 to 10).map(i => change(i, s"d$i", i)).mkString("\n").getBytes)
    val q = spark.readStream.format("couch-changes")
      .option("selector", """{"v":{"$gt":7}}""")
      .load(dir.toString)
      .writeStream.format("memory").queryName("mbsel")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(spark.table("mbsel").count() == 3) // v in {8,9,10}
  }

  test("maxChunksPerTrigger must be a positive integer, checked at load") {
    val dir = Files.createTempDirectory("mb-cap")
    Files.write(dir.resolve("00001.jsonl"), change(1, "a", 1).getBytes)
    def load(cap: String) = spark.readStream.format("couch-changes")
      .option("maxChunksPerTrigger", cap).load(dir.toString)
    for (bad <- Seq("0", "-1", "x")) {
      val e = intercept[IllegalArgumentException](load(bad))
      assert(e.getMessage.contains("maxChunksPerTrigger") && e.getMessage.contains(s"'$bad'"),
        e.getMessage)
    }
    assert(load("2").isStreaming)
  }
}
