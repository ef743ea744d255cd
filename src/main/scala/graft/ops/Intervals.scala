package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Interval algebra over per-key validity/activity ranges — the temporal
  * warehouse complement of [[Scd2]]'s versioned dimensions: SCD2 *builds*
  * non-overlapping history from point events, while real interval data
  * (session leases, maintenance windows, per-document availability
  * ranges, contract validity) arrives overlapping and fragmented and has
  * to be COALESCED before duration accounting or point-in-time joins mean
  * anything.
  */
object Intervals {

  /** Merge overlapping-or-touching `[start, end]` intervals per key into
    * maximal islands — the gaps-and-islands coalesce: an interval starts
    * a new island exactly when its start exceeds the running maximum end
    * of every earlier interval (ordered by `(start, end, tieCol)`; the
    * running max — not `lag(end)` — is what makes an interval fully
    * CONTAINED in an earlier one extend nothing). Bounds are treated
    * inclusively: `start == prior end` merges (use half-open inputs by
    * pre-decrementing `end` if touching must not merge).
    *
    * Returns one row per island: `(key, island, start, end, n_rows)`
    * with `island` numbering islands 1..k per key in time order.
    *
    * Scale shape: the default (`timeShards = 1`) is ONE shuffle on the
    * key, both windows riding that single per-key sort — optimal until a
    * degenerate hot key (a bot user with 10⁹ leases) funnels its whole
    * timeline through one window task. `timeShards > 1` is the as-of
    * join's time-sharded escape ([[AsOfJoin]]) applied to the coalesce's
    * running carries: each key's timeline splits into per-key time-range
    * blocks ([[TimeShard]] bounds pre-pass; equal starts never split),
    * the running-max and island windows run within (key, shard), and two
    * shard-granularity carries — the max end of all strictly-earlier
    * shards, and the count of islands opened in them — lift in-shard
    * results to the full timeline, bit-identical to the single-window
    * form (islands keep their exact numbering). Sharding pays the carry
    * tables and a second pass over the marked rows, so by default it is
    * opt-in; `autoThreshold > 0` makes the choice DATA-DRIVEN per key
    * (only keys with more rows than the threshold shard — see
    * [[TimeShard.hybrid]]). The ScaleProbe `intervals`/`auto` modes
    * measure the forms under a planted hot key; when to turn auto on is
    * the measured production policy in the [[TimeShard]] object doc /
    * SCALE.md.
    */
  def coalesce(df: DataFrame, keyCol: String, startCol: String,
               endCol: String, tieCol: String,
               timeShards: Int = 1, autoThreshold: Long = 0L): DataFrame =
    coalesce(df, keyCol, startCol, endCol, tieCol, timeShards, autoThreshold,
      pinMarked = true)

  /** [[coalesce]] with the sharded form's `marked` pin as a parameter, for
    * [[graft.tools.ScaleProbe]]'s `markpin` pin-vs-recompute A/B only:
    * production always pins, the measured-cheaper side at every scale
    * probed (SCALE.md markpin row).
    */
  private[graft] def coalesce(df: DataFrame, keyCol: String, startCol: String,
                              endCol: String, tieCol: String, timeShards: Int,
                              autoThreshold: Long, pinMarked: Boolean): DataFrame = {
    val s = col(startCol)
    val e = col(endCol)
    TimeShard.hybrid(df, keyCol, s, timeShards, autoThreshold) { base =>
      val ord: Seq[Column] = Seq(s, e, col(tieCol))
      val w = Window.partitionBy(keyCol).orderBy(ord: _*)
      val prevMax = max(e).over(w.rowsBetween(Window.unboundedPreceding, -1))
      base
        .withColumn("_new", when(prevMax.isNull || s > prevMax, 1L).otherwise(0L))
        .withColumn("island", sum(col("_new"))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col(keyCol), col("island"))
        .agg(min(s).as(startCol), max(e).as(endCol), count(lit(1)).as("n_rows"))
    } { assigned =>
      // EXPLICIT redistribution on (key, shard): the bounds join leaves
      // HashPartitioning(key), which SATISFIES the (key, shard) window's
      // clustering — EnsureRequirements would elide the exchange and
      // silently restore the funnel this plan exists to break (the
      // AsOfJoin lesson, SCALE.md asof probe).
      val sharded = assigned.repartition(col(keyCol), col("_sh"))
      // Carry 1: the max end of every strictly-earlier shard — per-shard
      // max is map-side-combinable, the running max windows at SHARD
      // granularity (≤ timeShards rows per key, never a funnel).
      val shardOrder = Window.partitionBy(col(keyCol)).orderBy(col("_sh"))
      val carry = sharded.groupBy(col(keyCol), col("_sh")).agg(max(e).as("_me"))
        .select(col(keyCol), col("_sh"),
          max(col("_me")).over(shardOrder.rowsBetween(Window.unboundedPreceding, -1))
            .as("_cm"))
      val wLoc = Window.partitionBy(col(keyCol), col("_sh"))
        .orderBy(s, e, col(tieCol))
      // In-shard marking against the LIFTED running max: greatest(...)
      // skips nulls, so a carry-free first shard degrades to the local rule.
      // joinCarry, not a USING join: NULL keys are a window group and an
      // equi-join would drop their rows (the r11 NULL-key lesson).
      // Pinned: marked feeds BOTH the island-offset carry below and the
      // final carry join — unpinned, the carry-join + running-max window
      // chain executes once per consumer (exchange reuse stops at the
      // shuffle; the window and null-safe hash join re-run). The pin is
      // bounded by what shards at all: the auto path caches only hot-key
      // timelines, and a manual all-keys shard was already paying the
      // second window pass this replaces (disk-backed blocks vs a full
      // re-sort — the cheaper side at every scale we measured).
      val marked0 = TimeShard.joinCarry(sharded, carry, keyCol)
        .withColumn("_pm", greatest(
          max(e).over(wLoc.rowsBetween(Window.unboundedPreceding, -1)),
          col("_cm")))
        .withColumn("_new", when(col("_pm").isNull || s > col("_pm"), 1L)
          .otherwise(0L))
        .withColumn("_li", sum(col("_new"))
          .over(wLoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val marked = if (pinMarked) Caching.cached(marked0) else marked0
      // Carry 2: islands opened in strictly-earlier shards (per-shard
      // count = the monotone _li's max — map-side-combinable; running sum
      // again at shard granularity). A row continuing the previous
      // shard's open island has _li = 0 and lands exactly on that
      // island's id (_off), keeping the 1..k numbering bit-identical.
      val offs = marked.groupBy(col(keyCol), col("_sh")).agg(max(col("_li")).as("_ni"))
        .select(col(keyCol), col("_sh"),
          org.apache.spark.sql.functions.coalesce(
            sum(col("_ni")).over(shardOrder.rowsBetween(Window.unboundedPreceding, -1)),
            lit(0L)).as("_off"))
      TimeShard.joinCarry(marked, offs, keyCol)
        .withColumn("island", col("_off") + col("_li"))
        .groupBy(col(keyCol), col("island"))
        .agg(min(s).as(startCol), max(e).as(endCol), count(lit(1)).as("n_rows"))
    }
  }
}
