package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Shared machinery for the per-key TIME-SHARDED window escapes — the
  * hot-key plan the running-carry operators ([[AsOfJoin]],
  * [[Intervals]], [[Sessionize]], [[Scd2]], and — for its threshold
  * joins rather than a window — [[Funnel]]) use when one key (a bot
  * user, a null-ish default id) would funnel its entire timeline
  * through ONE window or join task: split each key's timeline into
  * time-range blocks on the window's primary sort key, run the window
  * within (key, shard), and lift in-shard results to the full timeline
  * with shard-granularity carries (each operator's own carry algebra;
  * Funnel's degenerates to per-shard replication of a per-key
  * constant — see its scaladoc).
  *
  * Centralised here because the machinery embeds two rules that are
  * easy to re-derive wrongly:
  *
  *   - NULL TIMESTAMPS: `least()` SKIPS NULLs, so a naive
  *     `least(floor((ts - lo) / width), n-1)` routes NULL timestamps to
  *     the LAST shard — while every window ORDER BY sorts them NULLS
  *     FIRST — silently reordering them after every real timestamp (a
  *     real bug, caught by CarryPropertySpec's NULL cases in round 10
  *     when three operators each hand-derived the expression).
  *     [[assign]] owns the NULL→first-shard rule.
  *   - NULL KEYS: `Window.partitionBy(key)` treats NULL as ONE ordinary
  *     group, but the `USING`-style equi-joins the sharded paths used
  *     for bounds and carries drop NULL keys — a NULL-key timeline (the
  *     "null-ish default key" this escape exists for!) silently lost
  *     its rows (a real bug, caught in round 11 while centralising the
  *     joins). [[hybrid]] and [[joinCarry]] own the null-safe (`<=>`)
  *     key matching.
  *
  * Any new sharded escape must build its shard ids and joins here and
  * extend CarryPropertySpec's randomized-NULL properties (timestamps
  * AND keys).
  *
  * [[hybrid]] additionally owns the bounds pre-pass and the
  * data-driven `auto` split: the pre-pass already pays one per-key
  * aggregate for the shard bounds, so a per-key ROW COUNT rides the
  * same aggregate for free and decides — per key, at runtime — which
  * keys actually need the escape. Cold keys ride the plain
  * single-window plan; only keys above the threshold pay the carry
  * joins. Both forms are bit-identical to the single window
  * (CarryPropertySpec), so their union over a disjoint key split is
  * too: per-key-grouped outputs never mix across keys.
  *
  * PRODUCTION DEFAULT POLICY (measured — ScaleProbe `policy`/`auto`
  * modes, table in SCALE.md "production default policy"):
  *
  *   - `timeShards = 1` when the key domain STRUCTURALLY bounds
  *     per-key rows (revisions per doc id, bounded device cadence,
  *     enumerated dimensions) — skew cannot materialize, the pre-pass
  *     would be pure overhead.
  *   - auto (`timeShards ≈ cores`, `autoThreshold > 0`) when per-key
  *     volume is UNBOUNDED or user-generated — the 100 TB default
  *     posture. The uniform-corpus cost is one map-side-combinable
  *     aggregate pass (+29–69% on 10M-row local corpora, RATIO FALLING
  *     as data grows — the absolute cost is one extra scan), against an
  *     un-escaped bot whose single task grows linearly without bound.
  *     Size `autoThreshold` from TASK CAPACITY (the rows one window
  *     task sorts inside the straggler SLO, ≈1M at these fixtures),
  *     not from key statistics — then it never needs re-tuning as the
  *     corpus grows.
  *   - manual (`autoThreshold = 0`) only when hot keys are known a
  *     priori AND dominate the corpus: it skips the decision pass but
  *     shards every key (uniform manual probes 6–9× worse than
  *     single).
  */
object TimeShard {

  /** Default [[hybrid]] `collectGate`: max hot-key bounds rows that are
    * still collected+broadcast (≈ a few hundred MB of broadcast hash
    * relation at typical key widths — the same sizing argument as
    * [[Scd2.applyCdc]]'s `broadcastThreshold`). Deployments with a small
    * driver or very wide keys lower it at the call site; past it the
    * hot/cold split degrades to a planner-chosen join instead of a
    * discovered driver OOM.
    */
  val DefaultCollectGate = 4000000L

  /** Hot-bounds rows [[hybrid]] blind-collects in its FIRST pass: small
    * enough to be harmless at any key width (64Ki rows × even KB-wide
    * keys ≈ tens of MB of driver heap), large enough that real corpora
    * never overflow it — hot keys are structurally ≤ N/autoThreshold,
    * so 64Ki hot keys at a production threshold (~10⁶) implies a
    * ≥ 6×10¹⁰-row timeline. Overflow falls back to count-then-decide.
    */
  val SafeProbeRows = 65536L

  /** Shard-id column [[hybrid]] hands to each operator's sharded body. */
  val ShardCol = "_sh"
  private val LoCol = "_lo"
  private val HiCol = "_hi"
  private val CntCol = "_cnt"
  private val CarryKeyCol = "_ck"
  private val CarryShardCol = "_cs"

  /** Internal names [[hybrid]]/[[joinCarry]] append during their joins —
    * caller frames must not already use them.
    */
  val reservedCols: Set[String] =
    Set(LoCol, HiCol, CntCol, ShardCol, CarryKeyCol, CarryShardCol)

  /** Join a sharded main frame to its per-(key, shard) carry table with
    * NULL-SAFE key equality. The per-key window semantics treat NULL as
    * ONE ordinary group (`Window.partitionBy` puts all NULL keys in one
    * partition), but a plain equi-join drops NULL keys — a sharded
    * NULL-key timeline would silently lose its carries (or, on a
    * `USING` join, its rows). `<=>` keeps hash-join planning (Spark
    * coalesces null-safe keys) while matching the window's grouping.
    * The carry side is SHUFFLE_HASH-hinted: it is shard-granularity
    * (≤ timeShards rows per key) and the hot key's partition must
    * stream through an O(1) probe, not re-sort for a merge join.
    */
  private[ops] def joinCarry(main: DataFrame, carry: DataFrame,
                             keyCol: String): DataFrame = {
    val c = carry
      .withColumnRenamed(keyCol, CarryKeyCol)
      .withColumnRenamed(ShardCol, CarryShardCol)
      .hint("SHUFFLE_HASH")
    main.join(c, col(keyCol) <=> col(CarryKeyCol) &&
        col(ShardCol) === col(CarryShardCol))
      .drop(CarryKeyCol, CarryShardCol)
  }

  /** NULL-safe per-key time-shard assignment on the window's primary
    * sort key: shard ids `[0, nShards)` partition `[lo, hi]` into equal
    * blocks (assignment monotone NON-DECREASING in `ts`; equal
    * timestamps always share a shard; double-cast collisions beyond
    * 2^53 only merge adjacent shards, never reorder), and NULL
    * timestamps take a dedicated FIRST shard `-1`, matching the
    * window's NULLS FIRST order — see the object doc for why this
    * cannot be inlined with a bare `least()`.
    *
    * `lo`/`hi` are the per-key min/max of `ts` cast to double;
    * `nShards` may vary per key (it only needs to be ≥ 1).
    */
  def assign(ts: Column, lo: Column, hi: Column, nShards: Column): Column = {
    val width = when(hi > lo, (hi - lo) / nShards.cast("double")).otherwise(lit(1.0))
    when(ts.isNull, lit(-1)).otherwise(
      least(floor((ts.cast("double") - lo) / width),
        nShards.cast("double") - lit(1.0)).cast("int"))
  }

  /** Run `single` / `sharded` per key by data-driven choice.
    *
    *   - `timeShards == 1`: the plain single-window plan (`single(df)`),
    *     no pre-pass — right whenever per-key activity is bounded.
    *   - `timeShards > 1, autoThreshold == 0` (manual): every key
    *     shards. One bounds pre-pass (per-key min/max of `ts`,
    *     map-side combinable) SHUFFLE_HASH-joined back NULL-SAFELY —
    *     the hot key's partition streams through an O(1) hash probe (a
    *     sort-merge join would re-sort the funnel the escape exists to
    *     break), and `<=>` keeps NULL-key rows, which the window
    *     semantics treat as one ordinary group — then `sharded` over
    *     the frame with [[ShardCol]] appended.
    *   - `timeShards > 1, autoThreshold > 0` (auto): keys with more
    *     than `autoThreshold` rows take the sharded path, the rest ride
    *     the single window; outputs union (per-key-grouped outputs
    *     never mix across keys, so the union of two proven-bit-identical
    *     forms is too). The bounds table is filtered to HOT KEYS ONLY —
    *     structurally ≤ N/autoThreshold rows — and the decision is
    *     TWO-TIER under `collectGate`: the first pass blind-collects at
    *     most `min(collectGate, SafeProbeRows)` rows — a prefix sized
    *     to be harmless at ANY key width, so the driver can never be
    *     exhausted by rows it would then discard. Empty prefix — the
    *     uniform corpus, the production common case — short-circuits to
    *     `single(df)`; a complete prefix (≤ the cap, i.e. every real
    *     skewed corpus: hot keys are structurally rare) broadcasts it —
    *     both after exactly ONE map-side-combinable aggregate pass
    *     (ScaleProbe `auto`/`policy` modes measure it). Only a corpus
    *     with MORE hot keys than the blind cap re-aggregates: a
    *     LIMIT-gated count ships one long to the driver and decides
    *     between a checked full collect (≤ `collectGate`) and leaving
    *     the hot-bounds filter in-plan, where the planner/AQE picks the
    *     join — the same chosen-not-discovered degradation as
    *     [[Scd2.applyCdc]]; that second aggregate is the price of never
    *     shipping an unchecked row set through the driver, paid only on
    *     a 10¹⁰-row-scale skew profile that is about to pay carry joins
    *     anyway. Nothing is persisted at any tier, so a caller that
    *     runs it once per micro-batch stays leak-free per
    *     invocation. A hot key's window task sees ~1/`timeShards` of
    *     its timeline; every cold window task is bounded by
    *     `autoThreshold` rows.
    *
    * `sharded` receives the frame WITH [[ShardCol]] assigned but NOT
    * yet redistributed — each operator keeps its own explicit
    * `repartition(key, ShardCol)` (EnsureRequirements would otherwise
    * elide the exchange, HashPartitioning(key) already satisfying the
    * (key, shard) clustering, and silently restore the funnel).
    *
    * @param collectGate max hot-key bounds rows that still collect and
    *        broadcast (default [[DefaultCollectGate]]); above it the
    *        auto split degrades to a planner-chosen join (see the auto
    *        bullet above)
    */
  def hybrid(df: DataFrame, keyCol: String, ts: Column, timeShards: Int,
             autoThreshold: Long,
             collectGate: Long = DefaultCollectGate)(
             single: DataFrame => DataFrame)(
             sharded: DataFrame => DataFrame): DataFrame = {
    require(timeShards >= 1, s"timeShards must be >= 1, got $timeShards")
    require(autoThreshold >= 0, s"autoThreshold must be >= 0, got $autoThreshold")
    require(collectGate >= 0, s"collectGate must be >= 0, got $collectGate")
    if (timeShards == 1) single(df)
    else {
      val clash = df.columns.filter(reservedCols)
      require(clash.isEmpty,
        s"columns ${clash.mkString(", ")} collide with time-shard internal " +
          s"names (${reservedCols.mkString(", ")}) — rename them first")
      // bounds rename the key so the join condition can be null-safe
      // without self-join ambiguity (`Seq(keyCol)` USING-joins are
      // null-DROPPING equi-joins — the window treats NULL as a group)
      val bounds = df.groupBy(col(keyCol)).agg(
          min(ts.cast("double")).as(LoCol), max(ts.cast("double")).as(HiCol),
          count(lit(1)).as(CntCol))
        .withColumnRenamed(keyCol, CarryKeyCol)
      val keyMatch = col(keyCol) <=> col(CarryKeyCol)
      def shardAssigned(base: DataFrame): DataFrame = base
        .withColumn(ShardCol, assign(ts, col(LoCol), col(HiCol), lit(timeShards)))
        .drop(CarryKeyCol, LoCol, HiCol, CntCol)
      if (autoThreshold == 0L)
        sharded(shardAssigned(df.join(bounds.hint("SHUFFLE_HASH"), keyMatch)))
      else {
        val hotPlan = bounds.where(col(CntCol) > autoThreshold)
        // two-tier decision (see the scaladoc): blindly collect only a
        // PREFIX whose size is harmless at any key width; a corpus with
        // more hot keys than that re-aggregates for a counted decision
        val probeCap = math.min(collectGate, SafeProbeRows).toInt
        val probe = hotPlan.limit(probeCap + 1).collect()
        def split(hinted: DataFrame): DataFrame = {
          val j = df.join(hinted, keyMatch, "left_outer")
          val cold = single(j.where(col(CntCol).isNull)
            .drop(CarryKeyCol, LoCol, HiCol, CntCol))
          val hot = sharded(shardAssigned(j.where(col(CntCol).isNotNull)))
          cold.unionByName(hot)
        }
        def local(rows: Array[org.apache.spark.sql.Row]): DataFrame =
          broadcast(df.sparkSession.createDataFrame(
            java.util.Arrays.asList(rows: _*), hotPlan.schema))
        if (probe.isEmpty) single(df) // nothing hot: zero extra joins
        else if (probe.length <= probeCap) split(local(probe)) // complete
        else {
          // more hot bounds than the blind-collect cap: count before
          // deciding (ONE long to the driver, never an unchecked row set)
          val limitN = (math.min(collectGate, Int.MaxValue - 1L) + 1L).toInt
          val nHot = hotPlan.limit(limitN).count()
          val hinted =
            if (nHot <= collectGate) local(hotPlan.limit(limitN).collect())
            else hotPlan // enormous hot side: planner/AQE picks the join
                         // (deliberate re-aggregate — see the scaladoc)
          split(hinted)
        }
      }
    }
  }
}
