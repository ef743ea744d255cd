package graft.tools
import graft.ops.Caching
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale probes (experiment tool only; inputs stay synthetic replicas of
  * the driver data, written under /tmp):
  *
  *   - `linear`: replicate sf0.1 inputs 10× in-memory and compare runtimes
  *     vs 1× — checks the scored plans scale linearly with no cliffs.
  *   - `pairs` (default): the empirical check behind the "every pair stage
  *     is bucket-local" claim. Materializes a 10× documents/embeddings
  *     corpus to /tmp parquet with a PLANTED HOT BUCKET (1,000 identical
  *     texts → one degenerate MinHash band + SimHash block; 1,000
  *     identical vectors → one degenerate sign-LSH bucket), then runs the
  *     scored pair-stage queries against it recording wall time AND max
  *     single-task time. The hot bucket is the adversarial case: a
  *     bucket-local design degrades to one fat task (visible in max-task),
  *     never to an all-pairs job; the opt-in `maxBandPopulation` guard
  *     ([[graft.ops.Dedup.minhashCandidates]]) is the escape hatch when a
  *     real corpus plants one. Results → SCALE.md.
  *   - one mode per planted-skew probe below (`graph` … `funnel`), and
  *     `all` for every one of them in turn.
  *   - `prof`, `aqe`, `floor`: per-query measurement aids over
  *     `SPARK_GRAFT_SF_DIR` (default sf0.1) — a per-stage profile, an AQE
  *     sub-feature ablation, and the per-query bench floor.
  *
  * Every mode runs on one [[Probe]]: each reading is the fastest of its
  * timed samples after a warm run, on dropped state, and each probe's
  * session settings end with the probe.
  *
  * Run: `sbt "runMain graft.tools.ScaleProbe [mode] [query ...]"`
  */
object ScaleProbe {
  private val Sf01 = "/root/testdata/sf0.1"
  /** 2024-01-01T00:00Z in ns: where every planted bot timeline starts. */
  private val T0ns = 1704067200000000000L
  private val NoCoalesce = "spark.sql.adaptive.coalescePartitions.enabled" -> "false"
  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong" -> "true"

  /** The probes `all` runs, in its order. */
  private val probes: Seq[(String, Probe => Unit)] = Seq(
    "linear" -> (linearProbe _), "pairs" -> (pairsProbe _),
    "graph" -> (graphProbe _), "stats" -> (statsProbe _),
    "asof" -> (asofProbe _), "intervals" -> (intervalsProbe _),
    "markpin" -> (markPinProbe _), "sessions" -> (sessionsProbe _),
    "auto" -> (autoProbe _), "carry" -> (carryProbe _),
    "guard" -> (guardProbe _), "policy" -> (policyProbe _),
    "lookup" -> (lookupProbe _), "funnel" -> (funnelProbe _))

  val modes: Seq[String] = probes.map(_._1) ++ Seq("all", "prof", "aqe", "floor")

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("pairs")
    require(modes.contains(mode),
      s"unknown mode '$mode'; usage: ScaleProbe [${modes.mkString("|")}] [query ...]")
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions","32")
      .config("spark.sql.adaptive.enabled","true")
      .config("spark.ui.enabled","false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val p = new Probe(spark)
    mode match {
      case "all"   => probes.foreach { case (_, probe) => probe(p) }
      case "prof"  => profProbe(p, args.toSeq.drop(1))
      case "aqe"   => aqeProbe(p, args.toSeq.drop(1))
      case "floor" => floorProbe(p)
      case _       => probes.toMap.apply(mode)(p)
    }
    p.close()
    spark.stop()
  }

  private def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()

  private def fingerprint(df: DataFrame, e: Column): Long =
    df.agg(sum(e)).collect()(0).getLong(0)

  /** The sf0.1 events replicated 10×, replica i re-keyed by i·10⁸ on
    * `event_id` and i·10⁶ on `user_id`, with `ts` in ns and `extra`
    * columns carried along.
    */
  private def events10(spark: SparkSession, extra: String*): DataFrame = {
    val base = graft.Queries.tsToNanos(spark.read.parquet(s"$Sf01/events.parquet"))
    (0 until 10).map(i =>
      base.select(Seq(
        (col("event_id") + lit(i.toLong * 100000000L)).as("event_id"),
        (col("user_id") + lit(i.toLong * 1000000L)).as("user_id"),
        col("ts")) ++ extra.map(col): _*))
      .reduce(_ unionByName _)
  }

  /** The planted bot: `n` events of ONE user (4242424242), event ids from
    * `idBase` up, timestamps `ts` (over the range's `id`), plus `extra`
    * columns.
    */
  private def bot(spark: SparkSession, n: Long, ts: Column, extra: Seq[Column] = Nil,
                  idBase: Long = 900000000L): DataFrame =
    spark.range(n).select(Seq(
      (col("id") + idBase).as("event_id"),
      lit(4242424242L).as("user_id"),
      ts.as("ts")) ++ extra: _*)

  /** view/click/purchase in turn, so every funnel stage sees the bot. */
  private def cycledType: Column =
    expr("element_at(array('view','click','purchase'), cast(id % 3 as int) + 1)")
      .as("event_type")

  private def pairsProbe(p: Probe): Unit = {
    val spark = p.spark
    val src = Sf01
    val out = "/tmp/graft-scale"

    // --- build the 10×+hot corpus (materialized so scans are realistic) ---
    val docs = spark.read.parquet(s"$src/documents.parquet")
    val docs10 = (0 until 10).map(i =>
      docs.withColumn("doc_id", col("doc_id") + lit(i.toLong * 100000000L)))
      .reduce(_ unionByName _)
    val hotText = ("the quick brown fox jumps over the lazy dog and keeps running " +
      "through this long synthetic paragraph that exists only to plant one " +
      "degenerate minhash band bucket and one simhash block bucket in the " +
      "scale probe corpus so the pair stages see their adversarial case") // > 8-gram shingles
    // hot ids live at 2e9 — clear of every replica band (band i re-keys
    // by +i*1e8, so band 9 occupies 9e8+orig; a 9e8 hot base ALIASED the
    // first 1,000 band-9 ids, silently merging hot and replica rows in
    // every id-keyed stage — caught by the round-10 guard probe)
    val hotDocs = spark.range(1000).select(
      (col("id") + 2000000000L).as("doc_id"),
      lit(hotText).as("text"),
      lit("en").as("lang"),
      lit("hotsource").as("source"),
      lit(hotText.length.toLong).as("n_chars"))
    docs10.unionByName(hotDocs).repartition(32)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")

    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    val emb10 = (0 until 10).map(i =>
      emb.withColumn("vec_id", col("vec_id") + lit(i.toLong * 100000000L)))
      .reduce(_ unionByName _)
    val hotVec = emb.orderBy("vec_id").limit(1)
      .select("embedding").collect()(0).getSeq[Float](0).toArray
    val hotEmb = spark.range(1000).select(
      (col("id") + 2000000000L).as("vec_id"),
      typedLit(hotVec).as("embedding"),
      lit(0).as("label"))
    emb10.unionByName(hotEmb).repartition(32)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")

    // customer for the edit-distance join probe: 10× replicas keep their
    // ORIGINAL names (so every name is a 10-member exact-duplicate group
    // — the duplicate-collapse path carries the whole corpus), plus a
    // 1,000-identical-name clique in the probed nation. Without the
    // collapse, the clique alone puts a 1,000-deep bucket on every
    // deletion variant of that name (~26 variants × C(1000,2) collisions).
    val cust = spark.read.parquet(s"$src/customer.parquet")
    val cust10 = (0 until 10).map(i =>
      cust.withColumn("c_custkey", col("c_custkey") + lit(i.toLong * 100000000L)))
      .reduce(_ unionByName _)
    val hotCust = cust.where(col("c_nationkey") === 1).limit(1)
      .crossJoin(spark.range(1000).select((col("id") + 2000000000L).as("_hk")))
      .withColumn("c_custkey", col("_hk")).drop("_hk")
      .withColumn("c_name", lit("Customer#HOTCLIQUE0000"))
    cust10.unionByName(hotCust).repartition(32)
      .write.mode("overwrite").parquet(s"$out/customer.parquet")

    // --- probe the scored pair-stage queries at 1× and 10×+hot ---
    val names = Seq("q_dedup_minhash_pairs", "q_dedup_simhash_pairs",
      "q_dedup_embed_pairs", "q_dedup_clusters",
      // round-6 pair stages: intra-cluster cosine (hot sign/centroid
      // bucket) and repeated-span ranking (every 8-gram of the planted
      // text occurs 1000x — hot gram hashes)
      "q_dedup_semantic", "q_dedup_spans",
      // cluster-consuming argmax: the planted band yields one 1000-doc
      // cluster whose keep-best reduction must stay a single agg
      "q_dedup_keep_best",
      // exact-recall PPJoin: the 1,000 identical docs give every prefix
      // shingle a 1,000-deep bucket (df joined back, never a per-shingle
      // window) — C(1000,2) candidates must stay bucket-local
      "q_dedup_prefix",
      // symmetric-delete edit-distance join: 10× replicas duplicate every
      // customer name 10-fold and the planted clique 1,000-fold — all of
      // it must collapse to one representative per distinct string before
      // the variant self-join (pairs re-enter output-sized)
      "q_fuzzy_join",
      // directed containment join: the 1,000-doc clique collapses to one
      // representative (its C(1000,2) ordered pairs re-enter output-sized)
      // and the 10x replicas collapse 10-fold, so probe-prefix x full-index
      // candidate work must track DISTINCT content — the full index side
      // (irreducible for exact containment) is the edge under test
      "q_containment")
    val only = sys.env.get("SPARK_GRAFT_PROBE_ONLY").map(_.split(",").toSet)
    for (name <- names if only.forall(_.contains(name));
         (label, dir) <- Seq("1x" -> src, "10x+hot" -> out)) {
      val fn = graft.SparkEntry.queries(name)
      // every timed run rebuilds its own pinned caches (signature/docSet
      // tables) — same contract as the bench
      val (wall, maxTask) = p.measure()(noop(fn(spark, dir)))
      val rows = fn(spark, dir).count()
      spark.catalog.clearCache()
      println(f"PAIRS $name%-24s $label%-8s wall=$wall%6.2fs maxTask=$maxTask%6.2fs rows=$rows")
    }
  }

  /** The LSH population guard on the pairs corpus (requires the `pairs`
    * probe's 10×+hot corpus at /tmp/graft-scale — built here if absent):
    * `crossSourceMatrix` unguarded (the 1,000-doc boilerplate clique
    * rides the quadratic band bucket, C(1000,2) pairs enumerated and
    * Jaccard-verified) vs guarded at `maxBandPopulation = 500` (the hot
    * bands divert; the clique's cells come back as LINEAR count
    * products per identical-full-signature group). Cells must be EQUAL
    * — identical docs verify at J = 1.0 in the unguarded run, so the
    * guard's signature-equality core covers exactly the same pairs.
    */
  private def guardProbe(p: Probe): Unit = {
    val spark = p.spark
    val out = "/tmp/graft-scale"
    if (!new java.io.File(s"$out/documents.parquet").exists()) pairsProbe(p)
    val docs = spark.read.parquet(s"$out/documents.parquet")
    var cells = Map.empty[String, Map[(String, String), Long]]
    for ((label, cap) <- Seq("unguarded" -> Long.MaxValue, "cap=500" -> 500L)) {
      def run() = graft.ops.Dedup
        .crossSourceMatrix(docs, threshold = 0.5, maxBandPopulation = cap)
      val (wall, maxTask) = p.measure()(noop(run()))
      cells += label -> run().collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      spark.catalog.clearCache()
      println(f"GUARD dup_matrix $label%-10s wall=$wall%6.2fs maxTask=$maxTask%6.2fs cells=${cells(label).size}")
    }
    val eq = cells("unguarded") == cells("cap=500")
    println(s"GUARD cells_equal=$eq")
    if (!eq) {
      val a = cells("unguarded"); val b = cells("cap=500")
      (a.keySet ++ b.keySet).toSeq.sorted.take(10).foreach { k =>
        if (a.get(k) != b.get(k))
          println(s"GUARD diff $k unguarded=${a.get(k)} guarded=${b.get(k)}")
      }
    }
  }

  /** PageRank at 10× edges with a planted skewed in-degree: one node
    * receiving 100k edges from distinct sources. The per-iteration
    * groupBy(dst) is map-side combinable, so the hot node must collapse
    * to one row per map partition pre-shuffle — visible as a bounded
    * max-task, never a single task absorbing 100k rows per round.
    */
  private def graphProbe(p: Probe): Unit = {
    val spark = p.spark
    val orders = spark.read.parquet(s"$Sf01/orders.parquet")
      .select("o_orderkey", "o_custkey")
    val li = spark.read.parquet(s"$Sf01/lineitem.parquet")
      .select("l_orderkey", "l_suppkey")
    val e1 = orders.join(li, col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("src"),
        (col("l_suppkey") + 1000000000L).as("dst"))
    val e10 = (0 until 10).map(i =>
      e1.select((col("src") + lit(i.toLong * 100000000L)).as("src"), col("dst")))
      .reduce(_ unionByName _)
    val hot = spark.range(100000).select(
      (col("id") + 5000000000L).as("src"), lit(9999999999L).as("dst"))
    for ((label, edges) <- Seq("1x" -> e1, "10x+hot" -> e10.unionByName(hot))) {
      val (wall, maxTask) = p.measure(samples = 1)(
        noop(graft.ops.Graph.pageRankPpm(edges, iters = 3)))
      spark.catalog.clearCache()
      println(f"GRAPH pagerank $label%-8s wall=$wall%6.2fs maxTask=$maxTask%6.2fs")
    }
    // deep power iteration on the hot corpus: the eager checkpoint
    // policy (auto past 4 rounds) must hold pinned RDDs FLAT — the
    // count after 20 rounds equals the count after 6 — while wall
    // grows linearly in rounds (no lineage blowup, no analyzer drift).
    // HITS at depth: same flat-pins contract, both directions' rounds
    // released as their last readers run
    val deepEdges = e10.unionByName(hot)
    def deep(label: String, iters: Int)(op: => DataFrame): Unit = {
      Caching.releaseAll(spark)
      val wall = p.wall(noop(op))
      val pins = spark.sparkContext.getPersistentRDDs.size
      Caching.releaseAll(spark)
      println(f"GRAPH $label%-13s iters=$iters%-3d 10x+hot wall=$wall%6.2fs pinnedRDDs=$pins")
    }
    for (iters <- Seq(6, 20))
      deep("pagerank-deep", iters)(graft.ops.Graph.pageRankPpm(deepEdges, iters = iters))
    for (iters <- Seq(6, 15))
      deep("hits-deep", iters)(graft.ops.Graph.hitsPpm(deepEdges, iters = iters))
  }

  /** As-of join under a planted hot key: one user holding a third of the
    * left timeline (4M events) and 400k right rows — the bot-user shape
    * that puts an entire timeline through ONE window task in a plain
    * per-key as-of. Probes both forms: `timeShards = 1` (the legacy
    * single-window plan) vs the default time-sharded plan, same inputs.
    */
  private def asofProbe(p: Probe): Unit =
    // isolate the skew behavior: at this corpus size AQE coalesces the
    // whole shuffle into a few fat partitions (rows are cheap in BYTES
    // but the window sort is CPU-bound), which hides the per-(key,shard)
    // spread this probe exists to measure — a real 100 TB shuffle sits
    // far above the advisory size and never coalesces across it
    p.withConf(NanosAsLong, NoCoalesce) {
    val spark = p.spark
    def rep(name: String, idCol: String, n: Int): DataFrame = {
      val base = graft.Queries.tsToNanos(spark.read.parquet(s"$Sf01/$name.parquet"))
      (0 until n).map(i =>
        base.withColumn(idCol, col(idCol) + lit(i.toLong * 100000000L)))
        .reduce(_ unionByName _)
    }
    val ev10 = rep("events", "event_id", 10)
    val or10 = rep("orders", "o_orderkey", 10)
    // hot key: 4M events + 400k orders on ONE user, timestamps spread
    // over the fixture's date range (ns since epoch, 2024-01-01 + i sec)
    val hotEv = bot(spark, 4000000, lit(T0ns) + col("id") * 5000000000L)
    val hotOrd = spark.range(400000).select(
      (col("id") + 900000000L).as("o_orderkey"),
      lit(4242424242L).as("o_custkey"),
      (lit(T0ns) + col("id") * 25000000000L).as("ots"),
      (col("id") % 1000).cast("double").as("o_totalprice"))
    // materialize both sides (same policy as pairsProbe): the sharded
    // plan legitimately scans its input 3x, and probing it against an
    // unmaterialized 10-way union would charge it 3 union rebuilds a
    // real table never pays
    val out = "/tmp/graft-scale-asof"
    ev10.select(col("event_id"), col("user_id"), col("ts"))
      .unionByName(hotEv).repartition(32)
      .write.mode("overwrite").parquet(s"$out/left.parquet")
    or10.select(col("o_custkey"),
      (unix_micros(col("o_orderdate").cast("timestamp")) * 1000).as("ots"),
      col("o_orderkey"), col("o_totalprice"))
      .unionByName(hotOrd.select(col("o_custkey"), col("ots"),
        col("o_orderkey"), col("o_totalprice")))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/right.parquet")
    val left = spark.read.parquet(s"$out/left.parquet")
    val right = spark.read.parquet(s"$out/right.parquet")
    for ((label, shards, thr) <- Seq(
           ("1-shard(window)", 1, 0L), ("32-shard", 32, 0L),
           ("auto(32,thr=1M)", 32, 1000000L))) {
      val (wall, maxTask) = p.measure()(noop(
        graft.ops.AsOfJoin.asOf(left, right, "user_id", "o_custkey",
          "ts", "ots", Seq("o_orderkey", "o_totalprice"),
          tieBreak = "o_orderkey", joinType = "left", timeShards = shards,
          autoThreshold = thr)))
      println(f"ASOF $label%-16s wall=$wall%6.2fs maxTask=$maxTask%6.2fs")
    }
  }

  /** The intervals plant under `out`: 10× events plus a 4M-event bot at
    * 5 s spacing, each event a 30-minute `[s, e]` lease.
    */
  private def leases(spark: SparkSession, out: String): DataFrame = {
    events10(spark).unionByName(bot(spark, 4000000, lit(T0ns) + col("id") * 5000000000L))
      .select(col("user_id"), col("event_id"), col("ts").as("s"),
        (col("ts") + 1800000000000L).as("e"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/iv.parquet")
    spark.read.parquet(s"$out/iv.parquet")
  }

  private def leaseFp(islands: DataFrame): Long =
    fingerprint(islands, expr("island + s % 1000000007 + e % 1000000007 + n_rows"))

  private def sessionFp(sessions: DataFrame): Long =
    fingerprint(sessions, expr("session_id + n_events + session_start % 1000000007" +
      " + session_end % 1000000007"))

  /** Interval coalescing under a planted bot key: one user holding 4M
    * 30-minute leases across the timeline — the shape where the default
    * per-key gaps-and-islands window funnels the whole timeline through
    * one sort task. Measures [[graft.ops.Intervals.coalesce]] at
    * `timeShards` 1 vs 32 (wall + max single task), plus an output-sum
    * fingerprint proving the two forms agree.
    */
  private def intervalsProbe(p: Probe): Unit = p.withConf(NoCoalesce) {
    val iv = leases(p.spark, "/tmp/graft-scale-intervals")
    for ((label, shards) <- Seq("1-shard(window)" -> 1, "32-shard" -> 32)) {
      def run() = graft.ops.Intervals
        .coalesce(iv, "user_id", "s", "e", "event_id", timeShards = shards)
      val (wall, maxTask) = p.measure()(noop(run()))
      println(f"INTERVALS $label%-16s wall=$wall%6.2fs maxTask=$maxTask%6.2fs fp=${leaseFp(run())}")
    }
  }

  /** Pin-vs-recompute A/B for the sharded coalesce's `marked` timeline
    * (VERDICT r13 item 8): a manual ALL-KEYS 32-shard run over the
    * intervals plant (10× events + a 4M-interval bot) materializes the
    * full event timeline to executor storage when pinned, or re-runs the
    * carry-join + running-max window chain once per consumer when not.
    * Reports wall, max single task, and the result fingerprint for both
    * sides so the boundary lands in SCALE.md.
    */
  private def markPinProbe(p: Probe): Unit = p.withConf(NoCoalesce) {
    val iv = leases(p.spark, "/tmp/graft-scale-markpin")
    for (pin <- Seq(true, false)) {
      def run() = graft.ops.Intervals
        .coalesce(iv, "user_id", "s", "e", "event_id", 32, 0L, pinMarked = pin)
      val (wall, maxTask) = p.measure()(noop(run()))
      p.spark.catalog.clearCache()
      println(f"MARKPIN pin=$pin%-5s wall=$wall%6.2fs maxTask=$maxTask%6.2fs fp=${leaseFp(run())}")
    }
  }

  /** Gap sessionization under a planted bot user: one user holding 4M
    * events at 5 s spacing with a 30-minute gap rule — the shape where
    * the classic lag + cumulative-sum window puts that user's entire
    * timeline through ONE sort task. q_sessionize rides
    * [[graft.ops.Sessionize.viaIntervals]] (= Intervals.coalesce on
    * `[ts, ts+gap]` leases), so this measures the same operator the
    * scored query runs, at `timeShards` 1 vs 32, with an output-sum
    * fingerprint proving the sharded form is bit-identical.
    */
  private def sessionsProbe(p: Probe): Unit = p.withConf(NoCoalesce) {
    val spark = p.spark
    // 4M events, 5 s apart: every ~360 consecutive events form one
    // session (30-min gap never fires within the run), ~11k sessions —
    // the realistic always-on bot, not a single giant session
    val hot = bot(spark, 4000000,
      // 5 s spacing plus a >30-min silence every 360 events so sessions
      // actually split inside the bot timeline
      expr(s"$T0ns + id * 5000000000 + (id div 360) * 2000000000000"))
    val out = "/tmp/graft-scale-sessions"
    events10(spark).unionByName(hot).repartition(32)
      .write.mode("overwrite").parquet(s"$out/events.parquet")
    val ev = spark.read.parquet(s"$out/events.parquet")
    for ((label, shards) <- Seq("1-shard(window)" -> 1, "32-shard" -> 32)) {
      def run() = graft.ops.Sessionize
        .viaIntervals(ev, "user_id", "ts", "event_id",
          gap = 1800000000000L, timeShards = shards)
      val (wall, maxTask) = p.measure()(noop(run()))
      println(f"SESSIONS $label%-16s wall=$wall%6.2fs maxTask=$maxTask%6.2fs fp=${sessionFp(run())}")
    }
  }

  /** The data-driven hybrid (`autoThreshold`, [[graft.ops.TimeShard]])
    * under BOTH regimes it must win:
    *
    *   - UNIFORM corpus (10× events, no bot): auto's overhead over the
    *     plain single window is the bounds pre-pass + count-gated hash
    *     join only — no key crosses the threshold, so every row rides
    *     the cold path. The reading to watch is wall(auto) ≈ wall(1-shard).
    *   - BOT corpus (same + one 4M-event user): the bot alone crosses
    *     the threshold and takes the carry-lifted shards while everyone
    *     else stays on the single window — max task must drop to the
    *     manual-32-shard level WITHOUT anyone opting in, and the output
    *     fingerprint must equal the single-window form's.
    */
  private def autoProbe(p: Probe): Unit = p.withConf(NoCoalesce) {
    val spark = p.spark
    val ev10 = events10(spark)
    val hot = bot(spark, 4000000,
      expr(s"$T0ns + id * 5000000000 + (id div 360) * 2000000000000"))
    val out = "/tmp/graft-scale-auto"
    ev10.repartition(32)
      .write.mode("overwrite").parquet(s"$out/uniform/events.parquet")
    ev10.unionByName(hot).repartition(32)
      .write.mode("overwrite").parquet(s"$out/bot/events.parquet")
    for (corpus <- Seq("uniform", "bot");
         (label, shards, thr) <- Seq(
           ("1-shard(window)", 1, 0L),
           ("32-shard(manual)", 32, 0L),
           ("auto(32,thr=1M)", 32, 1000000L))) {
      val ev = spark.read.parquet(s"$out/$corpus/events.parquet")
      def run() = graft.ops.Sessionize
        .viaIntervals(ev, "user_id", "ts", "event_id",
          gap = 1800000000000L, timeShards = shards, autoThreshold = thr)
      val (wall, maxTask) = p.measure()(noop(run()))
      println(f"AUTO $corpus%-8s $label%-17s wall=$wall%6.2fs maxTask=$maxTask%6.2fs fp=${sessionFp(run())}")
    }
  }

  /** The remaining per-user running-carry shapes under a planted bot
    * user (the SCALE.md audit's funnel/retention/SCD2 bucket):
    *
    *   - `q_funnel` / `q_retention` run in their SCORED form — the claim
    *     under test is that they need no escape: funnel's stage mins are
    *     groupBy aggregates (map-side combinable, the bot collapses to
    *     one row per map partition pre-shuffle) and retention's window
    *     rides the distinct (user, week) table (≤ #weeks rows per user
    *     regardless of event volume). Bounded max-task IS the result.
    *   - `Scd2.build` genuinely windows per entity (a version row per
    *     event — the bot's 4M-version history is one sort task), so it
    *     gets the carry-lifted `timeShards` escape, probed 1 vs 32 with
    *     an output fingerprint proving bit-equality.
    */
  private def carryProbe(p: Probe): Unit = p.withConf(NanosAsLong, NoCoalesce) {
    val spark = p.spark
    // the bot cycles view/click/purchase so every funnel stage and
    // retention week sees it; 5 s spacing over ~7 months of weeks
    val hot = bot(spark, 4000000, expr(s"$T0ns + id * 5000000000"),
      Seq(cycledType, (col("id") % 1000).cast("double").as("value")))
    val out = "/tmp/graft-scale-carry"
    events10(spark, "event_type", "value").unionByName(hot).repartition(32)
      .write.mode("overwrite").parquet(s"$out/events.parquet")
    // scored forms straight off SparkEntry: the probe dir substitutes
    // for the sf dir (same schema), so the bot rides the real plans
    for (name <- Seq("q_funnel", "q_retention")) {
      val fn = graft.SparkEntry.queries(name)
      val (wall, maxTask) = p.measure()(noop(fn(spark, out)))
      val label = s"$name 10x+bot"
      println(f"CARRY $label%-24s wall=$wall%6.2fs maxTask=$maxTask%6.2fs")
    }
    val ev = spark.read.parquet(s"$out/events.parquet")
      .select("user_id", "event_id", "ts")
    for ((label, shards, thr) <- Seq(
           ("scd2 1-shard(window)", 1, 0L), ("scd2 32-shard", 32, 0L),
           ("scd2 auto(32,thr=1M)", 32, 1000000L))) {
      def run() = graft.ops.Scd2.build(ev, "user_id", "event_id", "ts",
        timeShards = shards, autoThreshold = thr)
      val (wall, maxTask) = p.measure()(noop(run()))
      println(f"CARRY $label%-24s wall=$wall%6.2fs maxTask=$maxTask%6.2fs")
      val fp = fingerprint(run(), expr("version + valid_from % 1000000007" +
        " + coalesce(valid_to % 1000000007, -42)" +
        " + if(is_current, 7, 0)"))
      println(f"CARRY $label%-24s fp=$fp")
    }
  }

  /** Histogram-rank stats under a planted hot group: one event_type
    * holding HALF the corpus with EVERY value distinct — the shape where
    * a naive `rank over (partition by group order by value)` funnels a
    * million distinct values through one task. `shardedCum` claims no
    * task sees more than ~1/256 of a group's distinct values; this
    * measures it (wall + max single task at 1× vs 20×+hot).
    */
  private def statsProbe(p: Probe): Unit = {
    val spark = p.spark
    val src = Sf01
    val out = "/tmp/graft-scale-stats"
    val ev = spark.read.parquet(s"$src/events.parquet")
    val ev10 = (0 until 10).map(i =>
      ev.withColumn("event_id", col("event_id") + lit(i.toLong * 100000000L)))
      .reduce(_ unionByName _)
    // hot group: 10× replicas re-typed into ONE group with all-distinct
    // values (event_id-derived); adversarial for any per-group rank.
    val hot = ev10
      .withColumn("event_id", col("event_id") + lit(2000000000L))
      .withColumn("event_type", lit("hot_grp"))
      .withColumn("value", col("event_id").cast("double") / 1000.0d)
    ev10.unionByName(hot).repartition(32)
      .write.mode("overwrite").parquet(s"$out/events.parquet")

    for (name <- Seq("q_median", "q_quantiles", "q_mad");
         (label, dir) <- Seq("1x" -> src, "20x+hot" -> out)) {
      val fn = graft.SparkEntry.queries(name)
      val (wall, maxTask) = p.measure()(noop(fn(spark, dir)))
      spark.catalog.clearCache()
      println(f"STATS $name%-16s $label%-8s wall=$wall%6.2fs maxTask=$maxTask%6.2fs")
    }
  }

  private def linearProbe(p: Probe): Unit = {
    val spark = p.spark
    val d = Sf01
    def rep(name: String, idCols: Seq[String], n: Int): DataFrame = {
      val base = graft.Queries.tsToNanos(spark.read.parquet(s"$d/$name.parquet"))
      (0 until n).map { i =>
        idCols.foldLeft(base)((df, c) => df.withColumn(c, col(c) + lit(i.toLong * 100000000L)))
      }.reduce(_ unionByName _)
    }
    def time(label: String)(df: => DataFrame): Unit =
      println(f"PROBE $label ${p.wall(noop(df))}%.1f s")
    // 6M-row lineitem TPC-H Q1 (10x)
    val li1 = spark.read.parquet(s"$d/lineitem.parquet")
    val li10 = rep("lineitem", Seq("l_orderkey"), 10)
    def q1(li: DataFrame) = li.groupBy("l_returnflag","l_linestatus").agg(
      (sum(round(col("l_quantity")*100).cast("long"))/100.0).as("sum_qty"), count(lit(1)).as("n"))
    time("q1_1x (600k)") { q1(li1) }
    time("q1_10x (6M)") { q1(li10) }
    // minhash on 50k docs (10x)
    val docs10 = rep("documents", Seq("doc_id"), 10)
    time("minhash_1x (5k docs)") { graft.ops.Dedup.minhash(spark.read.parquet(s"$d/documents.parquet")) }
    time("minhash_10x (50k docs)") { graft.ops.Dedup.minhash(docs10) }
    // brute ANN on 20k vectors (10x)
    val emb10 = rep("embeddings", Seq("vec_id"), 10)
    val q = spark.read.parquet(s"$d/embeddings.parquet").limit(1).select(col("embedding").as("qv"))
    time("ann_1x (2k)") { graft.ops.Ann.bruteTopK(spark.read.parquet(s"$d/embeddings.parquet"), q, 10) }
    time("ann_10x (20k)") { graft.ops.Ann.bruteTopK(emb10, q, 10) }
    // as-of join: 100k events x 1.5M orders (10x both sides)
    def prep(ev: DataFrame, ord: DataFrame) = {
      val e = ev.select(col("event_id"), col("user_id"), col("ts"))
      val o = ord.select(col("o_custkey"),
        (unix_micros(col("o_orderdate").cast("timestamp")) * 1000).as("ots"),
        col("o_orderkey"), col("o_totalprice"))
      graft.ops.AsOfJoin.asOf(e, o, "user_id", "o_custkey", "ts", "ots",
        Seq("o_orderkey", "o_totalprice"), tieBreak = "o_orderkey")
    }
    p.withConf(NanosAsLong) {
      val ev1 = graft.Queries.tsToNanos(spark.read.parquet(s"$d/events.parquet"))
      val or1 = spark.read.parquet(s"$d/orders.parquet")
      time("asof_1x (100k x 150k)") { prep(ev1, or1) }
      time("asof_10x (1M x 1.5M)") { prep(rep("events", Seq("event_id"), 10),
        rep("orders", Seq("o_orderkey"), 10)) }
    }
    // duplicate clustering over LSH candidate pairs (10x docs)
    time("clusters_1x (5k docs)") {
      graft.ops.Dedup.clusters(graft.ops.Dedup.minhashCandidates(
        graft.ops.Dedup.minhash(spark.read.parquet(s"$d/documents.parquet"))))
    }
    time("clusters_10x (50k docs)") {
      graft.ops.Dedup.clusters(graft.ops.Dedup.minhashCandidates(
        graft.ops.Dedup.minhash(docs10)))
    }
  }

  /** The PRODUCTION-DEFAULT policy probe for `autoThreshold` (SCALE.md
    * "when to turn auto on"): over a UNIFORM 10× corpus — no key ever
    * crosses the threshold — auto pays exactly its bounds pre-pass (one
    * map-side-combinable aggregate + a count-gated decision) and
    * short-circuits to the single-window plan, so
    * `wall(auto) − wall(timeShards=1)` IS the standing cost of leaving
    * auto on when the skew never materializes. Measured across the
    * three hybrid families because the RELATIVE overhead differs with
    * how much work the operator does per scanned row:
    *
    *   - `sessionize` (interval algebra: scan → window → merge) — the
    *     pre-pass re-aggregates the same scan the operator reads once;
    *   - `as-of` (two-sided join: the pre-pass covers only the probed
    *     timeline side, the build side is untouched);
    *   - `scd2` (pure per-entity window: cheapest downstream, so the
    *     extra aggregate is its largest relative share);
    *   - `funnel` (r13 — chained threshold joins: the pre-pass covers
    *     the whole event table once while the stages re-filter it, so
    *     the relative overhead sits between as-of and scd2).
    *
    * Best-of-3 walls after a warm run; fingerprints are compared by the
    * `auto` probe (this one measures cost, not correctness).
    */
  private def policyProbe(p: Probe): Unit = p.withConf(NoCoalesce) {
    val spark = p.spark
    val out = "/tmp/graft-scale-policy"
    // crossJoin-with-range replication (NOT a deep union): one scan per
    // factor, re-keyed so no key crosses the threshold at any factor
    def replicate(df: DataFrame, idCol: String, keyCol: String,
                  factor: Int): DataFrame =
      df.crossJoin(spark.range(factor).select(col("id").as("_rep")))
        .withColumn(idCol, col(idCol) + col("_rep") * 100000000L)
        .withColumn(keyCol, col(keyCol) + col("_rep") * 1000000L)
        .drop("_rep")
    val base = graft.Queries.tsToNanos(spark.read.parquet(s"$Sf01/events.parquet"))
      .select("event_id", "user_id", "ts", "event_type")
    val orders = spark.read.parquet(s"$Sf01/orders.parquet")
      .select(col("o_orderkey"), col("o_custkey"),
        (unix_micros(col("o_orderdate").cast("timestamp")) * 1000).as("ots"),
        col("o_totalprice"))
    for (factor <- Seq(10, 100)) {
      replicate(base, "event_id", "user_id", factor).repartition(32)
        .write.mode("overwrite").parquet(s"$out/$factor/events.parquet")
      replicate(orders, "o_orderkey", "o_custkey", factor).repartition(32)
        .write.mode("overwrite").parquet(s"$out/$factor/orders.parquet")
      val ev = spark.read.parquet(s"$out/$factor/events.parquet")
      // the original three shapes read the same 3 columns as the r12
      // table (the projection prunes event_type at the parquet scan, so
      // their rows stay comparable across rounds); only funnel reads it
      val ev3 = ev.select("event_id", "user_id", "ts")
      val orx = spark.read.parquet(s"$out/$factor/orders.parquet")
      def shapes(shards: Int, thr: Long): Seq[(String, () => DataFrame)] = Seq(
        ("sessionize", () => graft.ops.Sessionize
          .viaIntervals(ev3, "user_id", "ts", "event_id",
            gap = 1800000000000L, timeShards = shards, autoThreshold = thr)),
        ("asof", () => graft.ops.AsOfJoin.asOf(ev3, orx, "user_id", "o_custkey",
          "ts", "ots", Seq("o_orderkey", "o_totalprice"),
          tieBreak = "o_orderkey", joinType = "left", timeShards = shards,
          autoThreshold = thr)),
        ("scd2", () => graft.ops.Scd2
          .build(ev3.select("user_id", "event_id", "ts"), "user_id",
            "event_id", "ts", timeShards = shards, autoThreshold = thr)),
        ("funnel", () => graft.ops.Funnel
          .firstTimes(ev, "user_id", "ts", "event_type",
            Seq("view", "click", "purchase"),
            timeShards = shards, autoThreshold = thr)))
      val walls = scala.collection.mutable.LinkedHashMap.empty[(String, String), Double]
      for ((label, shards, thr) <- Seq(("single", 1, 0L), ("auto", 32, 1000000L));
           (shape, run) <- shapes(shards, thr))
        walls((shape, label)) = p.measure(samples = 3)(noop(run()))._1
      for (shape <- Seq("sessionize", "asof", "scd2", "funnel")) {
        val s1 = walls((shape, "single")); val sa = walls((shape, "auto"))
        val over = sa - s1
        println(f"POLICY ${factor}x $shape%-10s single=$s1%6.2fs auto=$sa%6.2fs " +
          f"overhead=$over%+5.2fs (${over / s1 * 100}%+.0f%%)")
      }
    }
  }

  /** The point-in-time SCD2 lookup ([[graft.ops.Scd2.lookup]]) under a
    * planted bot: 10× uniform events enriched against a purchase-built
    * dimension, then the same plus ONE user carrying 4M events and 4k
    * versions. The claim under test (the lookup scaladoc's scale
    * argument): the join stays the entity equi-key shape, the output
    * stays EVENT-sized (each event matches ≤ 1 version — checked), and
    * the bot's cost is the per-event probe over its own versions inside
    * one hash-join task — a linear funnel like any equi-join, not a
    * versions×events cross-product (4M × 4k pairs would be 16G rows;
    * the probed task stays seconds).
    */
  private def lookupProbe(p: Probe): Unit = p.withConf(NoCoalesce) {
    val spark = p.spark
    val ev10 = events10(spark, "event_type")
    def plant(n: Long, spacing: String, idBase: Long, eventType: String) =
      bot(spark, n, expr(s"$T0ns + id * $spacing"), Seq(lit(eventType).as("event_type")),
        idBase)
    val botEv = plant(4000000, "5000000000", 900000000L, "click")
    val botVers = plant(4000, "5000000000000", 950000000L, "purchase")
    // the INVERTED plant (round 13): the DIMENSION is the skewed side —
    // 4k events against a 4M-version history on one entity. The join
    // form's per-entity work is events × versions regardless of which
    // side is fat (the same 16G interval checks in one hash task); the
    // as-of form shards the UNION spine (events + versions), so a hot
    // dimension triggers the escape exactly like a hot event side.
    val botEvInv = plant(4000, "5000000000000", 900000000L, "click")
    val botVersInv = plant(4000000, "5000000000", 950000000L, "purchase")
    val out = "/tmp/graft-scale-lookup"
    ev10.repartition(32)
      .write.mode("overwrite").parquet(s"$out/uniform/events.parquet")
    ev10.unionByName(botEv).unionByName(botVers).repartition(32)
      .write.mode("overwrite").parquet(s"$out/bot/events.parquet")
    ev10.unionByName(botEvInv).unionByName(botVersInv).repartition(32)
      .write.mode("overwrite").parquet(s"$out/botdim/events.parquet")
    for (corpus <- Seq("uniform", "bot", "botdim");
         (label, shards, thr) <- Seq(
           ("join", 1, 0L), ("asof-auto(32,thr=1M)", 32, 1000000L))) {
      val ev = spark.read.parquet(s"$out/$corpus/events.parquet")
      // the dim BUILD rides its own proven auto escape (bit-parity is
      // the q_scd2_auto contract) — only botdim's 4M-version entity
      // actually triggers it; the lookup under test is unaffected
      val dim = graft.ops.Scd2.build(
          ev.where(col("event_type") === "purchase")
            .select(col("user_id"), col("event_id"), col("ts")),
          "user_id", "event_id", "ts",
          timeShards = 32, autoThreshold = 1000000L)
        .select(col("user_id"), col("event_id").as("version_event"),
          col("valid_from"), col("valid_to"), col("version"))
      val events = ev.where(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      def run() = graft.ops.Scd2.lookup(events, dim, "user_id", "ts",
        timeShards = shards, autoThreshold = thr)
      val (wall, maxTask) = p.measure()(noop(run()))
      // event-sized output: every click row appears exactly once; the
      // output fingerprint must agree across the two forms
      val nClicks = events.count()
      val nOut = run().count()
      val fp = fingerprint(run(), coalesce(col("version"), lit(0L)) +
        coalesce(col("version_event") % 1000000007L, lit(0L)))
      println(f"LOOKUP $corpus%-8s $label%-21s wall=$wall%6.2fs " +
        f"maxTask=$maxTask%6.2fs clicks=$nClicks out=$nOut " +
        f"eventSized=${nClicks == nOut} fp=$fp")
    }
  }

  /** The funnel's THRESHOLD JOINS under a planted bot (round 13). The
    * round-10 carry probe pinned the scored form's aggregates as safe —
    * stage mins are map-side combinable, the bot collapses per map task
    * — but the per-user threshold join (stage i's events vs the user's
    * stage-(i−1) first time) still streams the bot's whole stage
    * timeline through ONE hash partition: linear, single-task,
    * unbounded. [[graft.ops.Funnel.firstTimes]]'s escape spreads it on
    * (user, shard) with the thresholds replicated per shard; this
    * measures single vs auto at a 32M-event bot (8× the carry probe's —
    * at 8M the single join task still hides inside scan-task noise,
    * which is itself the point: the hazard GROWS linearly with the bot
    * while every other task stays fixed) with output fingerprints
    * proving bit-equality.
    *
    * RETENTION needs no analogous escape, and the bound is structural,
    * not fixture luck: its window rides the DISTINCT (user, week)
    * table, so a user's window rows are capped by the week horizon
    * (~52/year) no matter how many events it emits, and the distinct
    * itself is a map-side-combinable hash aggregate that collapses the
    * bot before the shuffle — the carry probe's scored-form row
    * measures exactly that (max task flat under the 4M bot).
    */
  private def funnelProbe(p: Probe): Unit = p.withConf(NoCoalesce) {
    val spark = p.spark
    val hot = bot(spark, 32000000, expr(s"$T0ns + id * 5000000000"), Seq(cycledType))
    val out = "/tmp/graft-scale-funnel"
    events10(spark, "event_type").unionByName(hot).repartition(32)
      .write.mode("overwrite").parquet(s"$out/events.parquet")
    val ev = spark.read.parquet(s"$out/events.parquet")
      .select("user_id", "ts", "event_type")
    for ((label, shards, thr) <- Seq(
           ("funnel single", 1, 0L),
           ("funnel auto(32,thr=1M)", 32, 1000000L))) {
      def run() = graft.ops.Funnel.firstTimes(ev, "user_id", "ts",
        "event_type", Seq("view", "click", "purchase"),
        timeShards = shards, autoThreshold = thr)
      val (wall, maxTask) = p.measure()(noop(run()))
      val fp = fingerprint(run(),
        coalesce(col("t0") % 1000000007L, lit(-1L)) +
          coalesce(col("t1") % 1000000007L, lit(-2L)) +
          coalesce(col("t2") % 1000000007L, lit(-3L)))
      val users = run().count()
      println(f"FUNNEL $label%-23s wall=$wall%6.2fs maxTask=$maxTask%6.2fs " +
        f"users=$users fp=$fp")
    }
  }

  private def sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", Sf01)

  /** Per-stage wall/task profile of a query run: one timed run through
    * the noop sink after a warm run at the same SF (so codegen/JIT are
    * paid), then each stage's start offset, wall span, task count, summed
    * task time, max task time, input and shuffle bytes — the local
    * stand-in for the Spark UI's stage table.
    */
  private def profProbe(p: Probe, queries: Seq[String]): Unit =
    for (n <- if (queries.isEmpty) Seq("q_dedup_spans") else queries) {
      val fn = graft.SparkEntry.queries(n)
      val (wall, _) = p.measure(samples = 1)(noop(fn(p.spark, sfDir)))
      val stages = p.stages
      println(f"\n== $n total=$wall%.3f s, ${stages.size} stages")
      val t0n = stages.map(_._2.submitted).filter(_ > 0).minOption.getOrElse(0L)
      stages.sortBy(_._2.submitted).foreach { case (id, s) =>
        val span = (s.completed - s.submitted) / 1e9
        val off = (s.submitted - t0n) / 1e9
        println(f"  stage $id%-4d +$off%6.3f span=$span%6.3f tasks=${s.tasks}%-3d " +
          f"taskSum=${s.taskMillis / 1e3}%7.3f max=${s.maxTaskMillis / 1e3}%6.3f " +
          f"in=${s.input / 1024}%8dK sr=${s.shuffleRead / 1024}%6dK " +
          f"sw=${s.shuffleWrite / 1024}%6dK  ${s.name.take(60)}")
      }
      Caching.releaseAll(p.spark)
    }

  /** Ablate AQE sub-features one at a time over the given queries to
    * find WHICH runtime-adaptation path costs the wall difference the
    * on/off A-B shows (the flag is read at execution time, so setting
    * session conf between runs is enough).
    */
  private def aqeProbe(p: Probe, queries: Seq[String]): Unit = {
    val on = "spark.sql.adaptive.enabled" -> "true"
    val variants: Seq[(String, Seq[(String, String)])] = Seq(
      "aqe=on" -> Seq(on),
      "aqe=off" -> Seq("spark.sql.adaptive.enabled" -> "false"),
      "on,noCoalesce" -> Seq(on, NoCoalesce),
      "on,noRuntimeBhj" -> Seq(on, "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1"),
      "on,noLocalReader" -> Seq(on, "spark.sql.adaptive.localShuffleReader.enabled" -> "false"),
      "on,noSkewJoin" -> Seq(on, "spark.sql.adaptive.skewJoin.enabled" -> "false"),
      "on,cacheUncompressed" -> Seq(on, "spark.sql.inMemoryColumnarStorage.compressed" -> "false"),
      "on,cacheBatch100k" -> Seq(on, "spark.sql.inMemoryColumnarStorage.batchSize" -> "100000"),
      "on,minPart32" -> Seq(on, "spark.sql.adaptive.coalescePartitions.minPartitionNum" -> "32"),
      "on,minPart8" -> Seq(on, "spark.sql.adaptive.coalescePartitions.minPartitionNum" -> "8"))
    for (n <- if (queries.isEmpty) Seq("q_dedup_prefix") else queries;
         (label, conf) <- variants) {
      val fn = graft.SparkEntry.queries(n)
      val (wall, maxTask) = p.withConf(conf: _*)(p.measure(samples = 3)(noop(fn(p.spark, sfDir))))
      println(f"$n%-20s $label%-18s min=$wall%.2f  maxTask=$maxTask%.2f")
    }
  }

  /** Decompose the per-query bench floor: scheduling, single-row-group
    * scan serialization, shuffle, and the effect of a parallelizing
    * repartition after the scan.
    */
  private def floorProbe(p: Probe): Unit = {
    def time(label: String)(f: => Unit): Unit = {
      val (wall, maxTask) = p.measure(samples = 3)(f)
      println(f"$label: min=$wall%.3f s  maxTask=$maxTask%.3f s")
    }
    val li = p.spark.read.parquet(s"$sfDir/lineitem.parquet")
    val docs = p.spark.read.parquet(s"$sfDir/documents.parquet")
    time("noop(range1)") { noop(p.spark.range(1).toDF()) }
    time("scan count(lineitem)") { li.agg(count(lit(1))).collect(): Unit }
    time("scan all cols noop") { noop(li) }
    def aggShape(df: DataFrame) = df
      .groupBy("l_returnflag", "l_linestatus")
      .agg(sum(round(col("l_quantity") * 100).cast("long")).as("sq"),
        sum(round(col("l_extendedprice") * 100).cast("long")).as("sb"),
        count(lit(1)).as("n"))
    time("agg_group (1-task scan)") { noop(aggShape(li)) }
    time("agg_group (repartition 32)") { noop(aggShape(li.repartition(32))) }
    time("minhash sig (1-task scan)") { noop(graft.ops.Dedup.minhash(docs)) }
    time("minhash sig (repartition 32)") { noop(graft.ops.Dedup.minhash(docs.repartition(32))) }
  }
}
