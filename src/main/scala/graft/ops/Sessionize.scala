package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Batch gap sessionization expressed as interval algebra: an event at
  * `ts` holds a lease `[ts, ts + gap]`, and a session is exactly a
  * maximal island of overlapping-or-touching leases — so "split each
  * key's stream at > gap silences" IS [[Intervals.coalesce]] on the
  * lease intervals. (Same semantics as the lag + cumulative-sum window
  * idiom: with equal-length leases the running max end is the previous
  * event's `ts + gap`, so `start > prevMaxEnd` ⇔ `ts − prev_ts > gap`,
  * ties on `ts` always merge, and island numbering reproduces the
  * cumulative session counter 1..k bit-for-bit.)
  *
  * Why the re-expression matters: the window idiom funnels a key's
  * whole timeline through ONE sort task — the bot-user hazard. Riding
  * [[Intervals.coalesce]] inherits its probed `timeShards` escape (each
  * key's timeline splits into time blocks, carries lift in-shard
  * results; bit-identical, SCALE.md intervals/sessions probes) instead
  * of re-deriving a second sharded running-carry proof.
  */
object Sessionize {

  /** Sessions per key: returns `(key, session_id, n_events,
    * session_start, session_end)` with `session_id` numbering sessions
    * 1..k per key in time order and start/end in the units of `tsCol`.
    *
    * @param gap        max intra-session silence, in `tsCol` units;
    *                   a gap of exactly `gap` stays in-session (the
    *                   strict-`>` split of the lag idiom)
    * @param timeShards opt-in hot-key escape, see [[Intervals.coalesce]]
    * @param autoThreshold with `timeShards > 1`, shard only keys with
    *                   more than this many events (data-driven hybrid,
    *                   [[TimeShard.hybrid]]); 0 shards every key.
    *                   When to turn it on: the measured production
    *                   policy in the [[TimeShard]] object doc / SCALE.md
    */
  def viaIntervals(events: DataFrame, keyCol: String, tsCol: String,
                   tieCol: String, gap: Long, timeShards: Int = 1,
                   autoThreshold: Long = 0L): DataFrame = {
    require(gap >= 0, s"gap must be >= 0, got $gap")
    val leases = events.select(col(keyCol), col(tieCol),
      col(tsCol).as("_s"), (col(tsCol) + gap).as("_e"))
    Intervals.coalesce(leases, keyCol, "_s", "_e", tieCol, timeShards,
      autoThreshold)
      .select(col(keyCol), col("island").as("session_id"),
        col("n_rows").as("n_events"), col("_s").as("session_start"),
        // equal-length leases: max end is max ts + gap, so subtracting
        // the gap recovers the last event's timestamp exactly
        (col("_e") - gap).as("session_end"))
  }
}
