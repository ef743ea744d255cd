package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Slowly-changing-dimension Type-2 maintenance: build validity-interval
  * history from a version stream, and MERGE a later change batch into an
  * existing history without rebuilding it — the batch CDC-apply path of
  * the warehouse's dimension tables.
  *
  * Interval convention (same as the scored `q_scd2`): one row per
  * version, `[valid_from, valid_to)` with a NULL-open current row,
  * `version` = 1-based rank, `is_current` = open-ended.
  */
object Scd2 {

  /** SCD2 history from a version stream: one shuffle on the entity key,
    * a lead window for interval ends, a rank for version numbers.
    * `tsCol`/`tieCol` order versions (the tie key makes the ordering —
    * and therefore the history — deterministic under same-ts versions).
    *
    * Scale shape: the default (`timeShards = 1`) rides one per-entity
    * window sort — optimal until a degenerate hot entity (a bot user
    * with 10⁹ versions) funnels its whole history through one task.
    * `timeShards > 1` is the [[Intervals.coalesce]] escape applied to
    * this window's two carries: each entity's history splits into
    * per-entity time blocks on `tsCol` (equal timestamps never split,
    * so shard concatenation reproduces the `(ts, tie)` order exactly),
    * the lead/row_number windows run within (entity, shard), and two
    * shard-granularity carries lift local results to the full history —
    * a running row-count offset continues version numbers, and the next
    * non-empty shard's first timestamp closes each shard's last
    * interval (NULL only for the globally last version, which is also
    * what `is_current` tests). Bit-identical to the single-window form;
    * opt-in by default because the carries cost two extra shard-key
    * joins; `autoThreshold > 0` makes the choice DATA-DRIVEN per entity
    * (only entities with more versions than the threshold shard — see
    * [[TimeShard.hybrid]]). The ScaleProbe `carry`/`auto` modes measure
    * the forms under a planted bot; when to turn auto on is the
    * measured production policy in the [[TimeShard]] object doc /
    * SCALE.md.
    */
  def build(versions: DataFrame, entityCol: String = "user_id",
            tieCol: String = "event_id", tsCol: String = "ts",
            timeShards: Int = 1, autoThreshold: Long = 0L): DataFrame = {
    val ts = col(tsCol)
    TimeShard.hybrid(versions, entityCol, ts, timeShards, autoThreshold) { base =>
      val w = Window.partitionBy(entityCol).orderBy(col(tsCol), col(tieCol))
      base.select(col(entityCol), col(tieCol),
        col(tsCol).as("valid_from"),
        lead(col(tsCol), 1).over(w).as("valid_to"),
        row_number().over(w).cast("long").as("version"),
        lead(col(tsCol), 1).over(w).isNull.as("is_current"))
    } { assigned =>
      // explicit redistribution on (entity, shard): the bounds join
      // leaves HashPartitioning(entity), which would satisfy the window's
      // clustering and let EnsureRequirements elide the exchange —
      // silently restoring the funnel (the AsOfJoin lesson, SCALE.md)
      val sharded = assigned.repartition(col(entityCol), col("_sh"))
      // shard-granularity carries (≤ timeShards rows per entity, never a
      // funnel; both aggregates are map-side combinable): version offset
      // = rows in strictly-earlier shards; _nxt = the next non-empty
      // shard's first timestamp (empty shards simply don't appear, so
      // lead skips them naturally)
      val shardOrder = Window.partitionBy(col(entityCol)).orderBy(col("_sh"))
      val carry = sharded.groupBy(col(entityCol), col("_sh"))
        .agg(count(lit(1)).as("_n"), min(ts).as("_ft"))
        .select(col(entityCol), col("_sh"),
          coalesce(sum(col("_n"))
            .over(shardOrder.rowsBetween(Window.unboundedPreceding, -1)), lit(0L))
            .as("_off"),
          lead(col("_ft"), 1).over(shardOrder).as("_nxt"))
      val wLoc = Window.partitionBy(col(entityCol), col("_sh"))
        .orderBy(ts, col(tieCol))
      // positional last-of-shard test (lead of a literal): `lead(ts)`
      // alone cannot distinguish "no next version in this shard" from
      // "next version has a NULL ts" — the reference window's valid_to
      // IS the next version's ts, NULL included, so the carry must only
      // substitute on the true last row of the shard
      val hasNext = lead(lit(1), 1).over(wLoc).isNotNull
      // joinCarry, not a USING join: a NULL entity is a window group and
      // an equi-join would drop its rows (the r11 NULL-key lesson)
      TimeShard.joinCarry(sharded, carry, entityCol)
        .select(col(entityCol), col(tieCol),
          ts.as("valid_from"),
          when(hasNext, lead(ts, 1).over(wLoc)).otherwise(col("_nxt"))
            .as("valid_to"),
          (row_number().over(wLoc) + col("_off")).cast("long").as("version"),
          when(hasNext, lead(ts, 1).over(wLoc).isNull)
            .otherwise(col("_nxt").isNull).as("is_current"))
    }
  }

  /** Point-in-time-correct enrichment against an SCD2 dimension: each
    * event row joins the dimension version VALID AT ITS TIMESTAMP
    * (`valid_from <= ts` and `ts < valid_to`, the NULL-open current row
    * matching everything from its start) — the feature-store lookup
    * that prevents label leakage in training data (enriching with
    * today's dimension row would leak post-event attribute changes into
    * features computed for past events). The reference's monitor mode
    * keeps the warehouse continuously current for exactly this kind of
    * consumer (`index.js:143-170`).
    *
    * Join shape — ONE shuffle on the entity key, never a cross-product:
    * the entity equality is the join's equi-key (hash/merge planned),
    * and the interval predicate evaluates as the join's extra condition
    * inside it, exactly the `q_join_interval` shape. Because SCD2
    * intervals partition each entity's timeline, every event matches AT
    * MOST ONE version — the output is event-sized, and a left join
    * keeps events before their entity's first version (and events with
    * a NULL timestamp, which no interval can contain) with NULL
    * dimension columns. NULL entities match the dimension's NULL-entity
    * history (`<=>`): the window that BUILT the dimension treats NULL
    * as one ordinary group, so the lookup must too, or a NULL-key
    * timeline would silently lose its enrichment (the r11 TimeShard
    * lesson). Per-event probe cost is O(versions(entity)) inside the
    * matched hash bucket, so the default plan's total work is
    * O(events(entity) × versions(entity)) per entity — fine for real
    * dimensions (versions per entity are small) and probed at 10×
    * (ScaleProbe `lookup` mode), but a BOT entity holding millions of
    * both grows it quadratically in one task — and a hot DIMENSION side
    * is strictly WORSE than a hot event side, not symmetric: the probed
    * inverted plant (4k events × 4M versions, the same 16G interval
    * checks) degrades this form 32× further (325 s vs 8.26 s max task,
    * SCALE.md lookup table) because the single-key multi-million-entry
    * hash chain falls out of cache and every probe streams it from
    * memory. So whenever EITHER side can be skewed, the production
    * default is the as-of auto form below, which shards the union spine
    * and is indifferent to which side is fat. `timeShards > 1` switches
    * to the as-of form: an SCD2 lookup over a well-formed interval
    * partition is EXACTLY "latest version at-or-before the event"
    * ([[AsOfJoin.asOf]] — union + running window, O((events + versions)
    * log) per entity, with the [[TimeShard]] sharded/auto escape for
    * the bot), plus an expiry check that the carried version's
    * `validToCol` still covers the event (a history whose final row is
    * CLOSED — a deleted entity — leaves later events unmatched, which
    * the pure as-of carry alone would miss); same-`validFromCol` ties
    * resolve by greatest `validToCol` NULLS-greatest, which is the one
    * non-empty interval of a same-ts version chain. Both forms are
    * bit-identical (Scd2Spec randomized property, NULL keys AND NULL
    * timestamps included); `autoThreshold` makes the escape data-driven
    * per entity as everywhere else.
    *
    * `dim` must carry `entityCol`, `validFromCol`, `validToCol` plus
    * its payload; every other dim column must be disjoint from the
    * event columns (rename before the call — enforced, because a silent
    * Spark auto-alias would make the output schema ambiguous).
    */
  def lookup(events: DataFrame, dim: DataFrame, entityCol: String = "user_id",
             tsCol: String = "ts", validFromCol: String = "valid_from",
             validToCol: String = "valid_to",
             joinType: String = "left",
             timeShards: Int = 1, autoThreshold: Long = 0L): DataFrame = {
    val dimKey = "_dim_key"
    // validated on BOTH paths: the default path would otherwise accept
    // any Spark join type (an outer alias returns unmatched DIMENSION
    // rows — the output stops being event-sized) while the sharded path
    // rejected it from inside AsOfJoin, making the data-driven escape
    // change which arguments a call accepts
    require(joinType == "inner" || joinType == "left",
      s"lookup supports inner|left, got $joinType")
    require(!events.columns.contains(dimKey) && !dim.columns.contains(dimKey),
      s"column $dimKey collides with the lookup's internal key name")
    val overlap = events.columns.toSet
      .intersect(dim.columns.toSet - entityCol)
    require(overlap.isEmpty,
      s"dimension columns ${overlap.mkString(", ")} collide with event " +
        "columns — rename one side before the lookup")
    if (timeShards == 1) {
      val d = dim.withColumnRenamed(entityCol, dimKey)
      events.join(d,
          col(entityCol) <=> col(dimKey) &&
            col(validFromCol) <= col(tsCol) &&
            (col(validToCol).isNull || col(tsCol) < col(validToCol)),
          joinType)
        .drop(dimKey)
    } else {
      // as-of form (see scaladoc). NULL-validFrom versions are invisible
      // to the interval predicate (NULL <= ts is never true), so they
      // must not enter the as-of spine where NULLS-FIRST order would
      // make them visible to every event.
      val payload = dim.columns.filterNot(_ == entityCol).toSeq
      val carried = AsOfJoin.asOf(events, dim.where(col(validFromCol).isNotNull),
        entityCol, entityCol, tsCol, validFromCol,
        payload, tieBreak = validToCol, joinType = joinType,
        timeShards = timeShards, autoThreshold = autoThreshold)
      // expiry: the carried (latest-at-or-before) version only matches if
      // its interval still covers the event — a closed final row (deleted
      // entity) or an interval gap must read as NO match, exactly like
      // the join form's predicate
      val ok = col(validToCol).isNull || col(tsCol) < col(validToCol)
      if (joinType == "inner") carried.where(ok)
      else
        // ONE projection: every payload column nulls against the
        // ORIGINAL validTo (a sequential withColumn chain would null
        // validTo first and then read the nulled value as "still valid"
        // for the remaining columns)
        carried.select(events.columns.map(col) ++
          payload.map(c => when(ok, col(c)).as(c)): _*)
    }
  }

  /** Merge a change batch into an existing SCD2 history. Exactly
    * equivalent to rebuilding over (old versions ∪ batch) — the parity
    * the scored `q_scd2_merge` proves by hash against a full-rebuild
    * oracle — but the work touches ONLY entities present in the batch:
    *
    *   - untouched entities pass through an anti join — map-side while
    *     the touched-entity set broadcasts (the common CDC batch), a
    *     shuffle join past `broadcastThreshold` (see below);
    *   - touched entities re-window over their own versions only
    *     (reconstructed from the dimension rows themselves — `valid_from`
    *     IS the version timestamp — unioned with the batch), so their
    *     open rows close and version numbers continue correctly.
    *
    * O(batch + touched-entity history) per apply, never O(dimension).
    * The batch must carry `(entityCol, tieCol, tsCol)`.
    *
    * The broadcast hint is SIZE-GATED, not assumed: "batch-sized" is a
    * contract the caller can break (a backfill touching 10⁷–10⁸
    * entities at 100 TB), and an unconditional `broadcast()` would then
    * blow the driver / the 8 GB broadcast-relation cap instead of
    * degrading. The gate counts the distinct touched entities off a
    * MATERIALIZED set (`localCheckpoint`): the batch's distinct-entity
    * plan runs exactly once — the count and both joins read the
    * checkpointed blocks — so an expensive upstream batch plan is never
    * rescanned per consumer (count + anti + semi would otherwise pay it
    * three times). The materialization is executor-local and
    * lineage-truncating; an executor loss during the apply fails the
    * batch and the caller's replay re-applies it, and the blocks are
    * reclaimed by the context cleaner once the apply's frames are
    * unreferenced — no per-batch cache pin
    * accumulates. Past `broadcastThreshold` (default 4M entities ≈ a
    * few hundred MB of broadcast hash relation for typical key widths)
    * the gate drops the hint and lets the planner (and AQE, from
    * runtime sizes) pick the join strategy: the failure mode is now a
    * chosen shuffle, not a discovered OOM.
    *
    * @param broadcastThreshold max distinct touched entities that still
    *        broadcast; above it both joins fall back to planner choice
    */
  def applyCdc(dim: DataFrame, batch: DataFrame,
               entityCol: String = "user_id", tieCol: String = "event_id",
               tsCol: String = "ts", timeShards: Int = 1,
               broadcastThreshold: Long = 4000000L,
               autoThreshold: Long = 0L): DataFrame = {
    require(broadcastThreshold >= 0,
      s"broadcastThreshold must be >= 0, got $broadcastThreshold")
    val touchedSet = batch.select(col(entityCol)).distinct().localCheckpoint()
    val nTouched = touchedSet.count()
    val touched =
      if (nTouched <= broadcastThreshold) broadcast(touchedSet)
      else {
        org.slf4j.LoggerFactory.getLogger(getClass).info(
          s"applyCdc: $nTouched touched entities exceed " +
            s"broadcastThreshold=$broadcastThreshold; using shuffle joins")
        touchedSet
      }
    val untouched = dim.join(touched, Seq(entityCol), "left_anti")
    val oldVersions = dim.join(touched, Seq(entityCol), "left_semi")
      .select(col(entityCol), col(tieCol), col("valid_from").as(tsCol))
    val allVersions = oldVersions
      .unionByName(batch.select(col(entityCol), col(tieCol), col(tsCol)))
    untouched.unionByName(
      build(allVersions, entityCol, tieCol, tsCol, timeShards, autoThreshold))
  }
}
