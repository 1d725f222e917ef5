package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.broadcast

/** The limit-probe guard behind every "edge-bounded, so it broadcasts"
  * join: above the limit the caller gets an unhinted (shuffle, AQE
  * skew-split eligible) join instead of force-broadcasting an unbounded
  * frame into the driver. */
object BroadcastGuard {

  /** True iff `df` holds at most `limit` rows — a limit-probe, never a
    * full count of an oversized set. Materialize `df` first
    * (cache/localCheckpoint) so the probe is a scan, not a recompute. */
  def withinLimit(df: DataFrame, limit: Int): Boolean = {
    val l = math.min(limit, Int.MaxValue - 1) // limit + 1 must not overflow
    df.limit(l + 1).count() <= l
  }

  /** `df` hinted for broadcast iff [[withinLimit]], unhinted otherwise. */
  def hintIfSmall(df: DataFrame, limit: Int): DataFrame =
    if (withinLimit(df, limit)) broadcast(df) else df
}
