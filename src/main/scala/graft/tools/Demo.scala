package graft.tools

import graft.{Warehouse, WarehouseOptions}
import org.apache.spark.sql.SparkSession

/** Usage example / smoke driver for the library surface: build a warehouse
  * from a CouchDB `_changes` feed file and query it with Spark SQL — the
  * end-to-end flow a couchwarehouse user runs
  * (reference README.md:28-67, 205-226).
  *
  * Run: `sbt "runMain graft.tools.Demo src/test/resources/couch"`
  */
object Demo {
  def main(args: Array[String]): Unit = {
    val fixtures = args.headOption.getOrElse("src/test/resources/couch")
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-demo")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // Flow 1: single-table warehouse + SQL
    val w = Warehouse.start(spark, s"$fixtures/samplechanges.txt",
      WarehouseOptions(database = "mydb"))
    println("TABLES=" + w.tableNames.mkString(","))
    w.query("SELECT name, age, address_street FROM mydb ORDER BY id LIMIT 3").show(false)
    w.query("SELECT COUNT(*) AS n, ROUND(AVG(age),2) AS avg_age FROM mydb").show(false)

    // Flow 2: split mode + the README's cross-table LEFT JOIN
    val w2 = Warehouse.start(spark, s"$fixtures/samplechanges2.txt",
      WarehouseOptions(database = "shop", split = Some("type")))
    println("TABLES2=" + w2.tableNames.mkString(","))
    w2.query(
      """SELECT u.name, COUNT(o.id) AS orders
        |FROM shop_user u LEFT JOIN shop_order o ON o.customerId = u.id
        |GROUP BY u.name ORDER BY orders DESC, u.name LIMIT 3""".stripMargin).show(false)

    // Flow 3: the DSv2 source with reader-side Mango selector pushdown
    val seniors = spark.read.format("couch-changes")
      .option("selector", """{"age":{"$gte":90},"verified":true}""")
      .load(s"$fixtures/samplechanges.txt")
    println("DSV2_SELECTED=" + seniors.where(!seniors("deleted")).count())

    // Flow 4: native cosine_similarity from pure SQL (GraftExtensions
    // registers it session-wide; here via the function registry)
    graft.functions.CosineSimilarity.register(spark)
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .createOrReplaceTempView("emb")
    spark.sql(
      """SELECT e.vec_id,
           cosine_similarity(e.embedding, q.embedding) AS cos
         FROM emb e JOIN emb q ON q.vec_id = 0
         ORDER BY cos DESC, e.vec_id LIMIT 3""").show(false)

    // Flow 5: training-data pipeline over the documents corpus — dedup
    // clusters from LSH candidate pairs, deterministic split assignment,
    // context packing
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val pairs = graft.ops.Dedup.minhashCandidates(graft.ops.Dedup.minhash(docs))
    println("DEDUP_CLUSTERS=" + graft.ops.Dedup.clusters(pairs).count())
    val split = graft.ops.Sampling.assignSplit(docs, "doc_id")
      .groupBy("split").count().collect()
      .map(r => r.getString(0) + ":" + r.getLong(1)).sorted.mkString(",")
    println("SPLITS=" + split)
    println("PACK_BINS=" + graft.ops.Sampling.packSequences(
      docs.select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.lit("all").as("shard"),
        graft.functions.TextAnalysis.tokenCount(
          org.apache.spark.sql.functions.col("text")).as("n")),
      "shard", "doc_id", "n", 512L)
      .agg(org.apache.spark.sql.functions.max("bin")).collect()(0).getLong(0))

    // Flow 6: as-of join — each event tagged with the user's latest order
    import org.apache.spark.sql.functions.{col, unix_micros}
    val ev = graft.Queries.tsToNanos(
        spark.read.parquet("/root/testdata/sf0.001/events.parquet"))
      .select(col("event_id"), col("user_id"), col("ts"))
    val ord = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .select(col("o_custkey"),
        (unix_micros(col("o_orderdate").cast("timestamp")) * 1000).as("ots"),
        col("o_orderkey"))
    println("ASOF_MATCHED=" + graft.ops.AsOfJoin.asOf(ev, ord,
      "user_id", "o_custkey", "ts", "ots", Seq("o_orderkey"), "o_orderkey").count())

    // Flow 7 (round 5): curation pipeline, systematic PPS sample, and a
    // persistent IVF index searched with partition pruning
    val curated = graft.TrainingQueries.curate(docs)
      .agg(org.apache.spark.sql.functions.sum("n_kept")).collect()(0).getLong(0)
    println("CURATE_KEPT=" + curated)
    println("PPS_SAMPLE=" + graft.ops.Sampling
      .systematicSample(docs.select("doc_id", "n_chars"), "doc_id", "n_chars", 25)
      .count())
    val ivfDir = java.nio.file.Files.createTempDirectory("demo-ivf").toString
    // the "emb" view registered in Flow 4 — one read, one path to keep in sync
    val emb = spark.table("emb").select(col("vec_id"), col("embedding"))
    graft.ops.Ann.buildIvfIndex(emb, ivfDir, k = 4, iterations = 3)
    val q0 = emb.where(col("vec_id") === 0)
      .select(col("embedding").as("qv"))
    println("IVF_INDEX_TOP1=" + graft.ops.Ann
      .searchIvfIndex(spark, ivfDir, q0, k = 1, nprobe = 1)
      .collect()(0).getLong(0))

    // BPE tokenizer end-to-end: learn merges from the sf0.001 documents
    // corpus (one word-count pass + vocab-sized learning), encode with
    // the codegen'd broadcast-rank expression
    {
      val docsTbl = spark.read
        .parquet("/root/testdata/sf0.001/documents.parquet")
      val merges = graft.functions.BpeTokenizer.learnFromCorpus(docsTbl, numMerges = 50)
      val toks = docsTbl
        .select(org.apache.spark.sql.functions.explode(graft.functions.BpeTokenizer
          .encode(col("text"), merges)).as("t"))
      println(s"BPE_MERGES=${merges.length} SUBWORDS=${toks.count()} " +
        s"DISTINCT=${toks.distinct().count()}")
    }

    // Real image decode end-to-end: a planted in-memory PNG through the
    // partition-batched pipeline (decode → luma features → meta probe)
    {
      val img = new java.awt.image.BufferedImage(
        8, 6, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 6; x <- 0 until 8)
        img.setRGB(x, y, if ((x + y) % 2 == 0) 0xffffff else 0x000000)
      val buf = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", buf)
      val media = spark.createDataFrame(
        java.util.Arrays.asList(org.apache.spark.sql.Row(
          1L, "image", buf.toByteArray, null, null, null, null)),
        graft.ops.Multimodal.mediaSchema)
      val f = graft.ops.Multimodal.extractFeatures(media, dims = 2).collect()(0)
      val m = graft.ops.Multimodal.enrichMeta(media).collect()(0)
      println(s"MEDIA_DECODED=${f.getBoolean(4)} dims=${m.getInt(4)}x${m.getInt(5)} " +
        s"mime=${m.getString(3)} luma=${f.getSeq[Float](3).map(v => f"$v%.2f").mkString(",")}")

      // and a planted 250 ms PCM WAV through the same pipeline
      val rate = 8000
      val frames = rate / 4
      val raw = new Array[Byte](frames * 2)
      for (i <- 0 until frames) {
        val v: Short = if (i % 2 == 0) 16384 else -16384
        raw(2 * i) = (v & 0xff).toByte
        raw(2 * i + 1) = ((v >> 8) & 0xff).toByte
      }
      val afmt = new javax.sound.sampled.AudioFormat(rate.toFloat, 16, 1, true, false)
      val abuf = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(
        new javax.sound.sampled.AudioInputStream(
          new java.io.ByteArrayInputStream(raw), afmt, frames.toLong),
        javax.sound.sampled.AudioFileFormat.Type.WAVE, abuf)
      val audio = spark.createDataFrame(
        java.util.Arrays.asList(org.apache.spark.sql.Row(
          2L, "audio", abuf.toByteArray, null, null, null, null)),
        graft.ops.Multimodal.mediaSchema)
      val af = graft.ops.Multimodal.extractFeatures(audio, dims = 2).collect()(0)
      val am = graft.ops.Multimodal.enrichMeta(audio).collect()(0)
      println(s"AUDIO_DECODED=${af.getBoolean(4)} duration=${am.getLong(6)}ms " +
        s"mime=${am.getString(3)}")

      // and a 2-frame MJPEG AVI (RIFF walk + per-frame JPEG decode)
      def u32le(v: Long): Array[Byte] = Array((v & 0xff).toByte,
        ((v >> 8) & 0xff).toByte, ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
      def chunk(id: String, body: Array[Byte]): Array[Byte] =
        id.getBytes("US-ASCII") ++ u32le(body.length) ++ body ++
          (if (body.length % 2 == 1) Array(0.toByte) else Array.empty[Byte])
      def list(form: String, body: Array[Byte]): Array[Byte] =
        "LIST".getBytes("US-ASCII") ++ u32le(4 + body.length) ++
          form.getBytes("US-ASCII") ++ body
      val jbuf = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", jbuf)
      val jpeg = jbuf.toByteArray
      val vbody = list("hdrl", chunk("avih",
        u32le(40000L) ++ new Array[Byte](12) ++ u32le(2L) ++ new Array[Byte](36))) ++
        list("movi", chunk("00dc", jpeg) ++ chunk("00dc", jpeg))
      val avi = "RIFF".getBytes("US-ASCII") ++ u32le(4 + vbody.length) ++
        "AVI ".getBytes("US-ASCII") ++ vbody
      val video = spark.createDataFrame(
        java.util.Arrays.asList(org.apache.spark.sql.Row(
          3L, "video", avi, null, null, null, null)),
        graft.ops.Multimodal.mediaSchema)
      val vf = graft.ops.Multimodal.extractFeatures(video, dims = 2).collect()(0)
      val vm = graft.ops.Multimodal.enrichMeta(video).collect()(0)
      println(s"VIDEO_DECODED=${vf.getBoolean(4)} frames=2 " +
        s"dims=${vm.getInt(4)}x${vm.getInt(5)} duration=${vm.getLong(6)}ms " +
        s"mime=${vm.getString(3)}")

      // perceptual image dedup: the PNG, its JPEG re-encode, and the
      // unrelated inverse image — only the re-encode pair survives
      val inv = new java.awt.image.BufferedImage(
        8, 6, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 6; x <- 0 until 8)
        inv.setRGB(x, y, (x * 255 / 7) << 8)
      val ibuf = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(inv, "png", ibuf)
      val gallery = spark.createDataFrame(java.util.Arrays.asList(
        org.apache.spark.sql.Row(1L, "image", buf.toByteArray, null, null, null, null),
        org.apache.spark.sql.Row(2L, "image", jpeg, null, null, null, null),
        org.apache.spark.sql.Row(3L, "image", ibuf.toByteArray, null, null, null, null)),
        graft.ops.Multimodal.mediaSchema)
      val pd = graft.ops.Multimodal.perceptualDedupPairs(gallery)
        .collect().map(r => s"${r.getLong(0)}-${r.getLong(1)}").sorted
      println(s"DHASH_PAIRS=${pd.mkString(",")}")
    }

    // Round 13: the PRODUCTION-POSTURE rehearsal — the training-data
    // chain on the sf0.1 corpus with every guard/auto switch ON (the
    // SCALE.md policy-table defaults): quality gate → GUARDED near-dedup
    // (LSH blocking + Jaccard verify + connected components + quality
    // keep-best, boilerplate bands diverted at maxBandPopulation) →
    // leakage-safe split (hash of the duplicate CLUSTER id, so near-dup
    // twins never straddle train/test) → per-split sequence packing; the
    // event side runs the funnel with its data-driven hot-key escape at
    // the fixture-median threshold. One corpus, multiple consumers, all
    // deterministic — the printed counts are fingerprints.
    {
      val corpus = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
      val quality = graft.functions.TextAnalysis.qualityScore(col("text"))
      val cleaned = corpus.where(quality >= 0.5)
      val resolved = graft.ops.Dedup.nearDedup(cleaned, quality,
        maxBandPopulation = 500L)
      val keptIds = resolved.where(col("kept"))
        .select("doc_id", "cluster_id")
      val split = graft.ops.Sampling.assignSplit(
        cleaned.join(keptIds, Seq("doc_id")), "cluster_id")
      val splits = split.groupBy("split").count().collect()
        .map(r => r.getString(0) + ":" + r.getLong(1)).sorted.mkString(",")
      val packed = graft.ops.Sampling.packSequences(
        split.select(col("doc_id"), col("split").as("shard"),
          graft.functions.TextAnalysis.tokenCount(col("text")).as("n")),
        "shard", "doc_id", "n", 2048L)
        .groupBy("shard").agg(org.apache.spark.sql.functions.max("bin").as("b"))
        .agg(org.apache.spark.sql.functions.sum(col("b") + 1)).collect()(0).getLong(0)
      println(s"PIPELINE=docs=${corpus.count()} clean=${cleaned.count()} " +
        s"kept=${keptIds.count()} splits=$splits bins=$packed")

      val ev01 = graft.Queries.tsToNanos(
        spark.read.parquet("/root/testdata/sf0.1/events.parquet"))
      val ft = graft.ops.Funnel.firstTimes(
        ev01.select("user_id", "ts", "event_type"), "user_id", "ts",
        "event_type", Seq("view", "click", "purchase"),
        timeShards = 4, autoThreshold = 66L)
      println(s"FUNNEL=${ft.count()} converted=" +
        ft.where(col("t2").isNotNull).count())
    }

    // Probes: bad selector and missing column fail cleanly
    try Warehouse.start(spark, s"$fixtures/samplechanges.txt",
      WarehouseOptions(database = "x", mangoSelector = Some("{bad")))
    catch { case e: Exception => println("PROBE_BAD_MANGO=" + e.getMessage) }
    try w.query("SELECT nickname FROM mydb").show()
    catch { case e: Exception =>
      println("PROBE_MISSING_COL=" + e.getMessage.linesIterator.next()) }

    println("CHECKPOINT=" + w.checkpoint)
    spark.stop()
  }
}
