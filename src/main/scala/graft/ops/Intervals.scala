package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Interval-overlap join — "which sessions were hit by which incident
  * windows" — planned bucket-first so it scales.
  *
  * A naive overlap join is a pure inequality join (`s_start < i_end AND
  * i_start < s_end`): Spark can only plan that as a nested-loop over the
  * cross product. Instead, each interval explodes to the fixed-width time
  * buckets it covers, the two sides equi-join on the bucket (an ordinary
  * hash join: shuffle O(rows × avg buckets/interval), work proportional to
  * per-bucket density), and the true overlap predicate verifies the
  * candidates. The same shape as the LSH dedup family: bucket, pair,
  * verify — except dedup needs NO distinct: a pair colliding in several
  * buckets is emitted only from the bucket containing the overlap's start,
  * a per-row filter instead of a full candidate shuffle (the dedup trick
  * every partition-based spatial join uses; measured 3.0 s → ~1 s at
  * sf0.1). */
object Intervals {

  /** All (left, right) row pairs whose [start, end) intervals overlap.
    * `bucketSeconds` trades candidate volume against bucket-explode fanout —
    * pick it near the typical interval length. A row with a NULL endpoint
    * explodes to no bucket and joins nothing, as under the inequality
    * predicate. */
  def overlapJoin(left: DataFrame, lStart: String, lEnd: String,
      right: DataFrame, rStart: String, rEnd: String,
      bucketSeconds: Long = 3600L): DataFrame = {
    // bucketSeconds = 0 divides every bucket bound by zero: both sides land
    // in the single Inf-cast bucket and the join SILENTLY degenerates into
    // the all-pairs nested loop this operator exists to avoid
    require(bucketSeconds >= 1,
      s"overlapJoin: bucketSeconds must be >= 1, got $bucketSeconds")
    val us = bucketSeconds * 1000000L
    def bucketed(df: DataFrame, s: String, e: String) = df.withColumn("_b",
      // [start, end): the bucket of the last contained microsecond
      explode(sequence(floor(unix_micros(col(s)) / us).cast("long"),
        floor((unix_micros(col(e)) - 1) / us).cast("long"))))
    bucketed(left, lStart, lEnd)
      .join(bucketed(right, rStart, rEnd), "_b")
      .where(col(lStart) < col(rEnd) && col(rStart) < col(lEnd))
      // report-once: only the bucket where the overlap STARTS emits the pair
      .where(floor(unix_micros(greatest(col(lStart), col(rStart))) / us) === col("_b"))
      .drop("_b")
  }

  /** The query: 30-minute user sessions (session_window semantics — end =
    * last event + gap) overlapped against 1-hour incident windows opened by
    * every error event. Emits the exact overlap length in microseconds —
    * integer arithmetic the oracle reproduces bit-for-bit. */
  def sessionIncidentOverlap(events: DataFrame): DataFrame = {
    val sessions = events
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("w.start").as("s_start"), col("w.end").as("s_end"))
    val incidents = events
      .where(col("event_type") === "error")
      .select(col("event_id").as("incident_id"), col("ts").as("i_start"),
        (col("ts") + expr("INTERVAL 1 HOUR")).as("i_end"))
    overlapJoin(sessions, "s_start", "s_end", incidents, "i_start", "i_end")
      .select(col("user_id"), col("s_start"), col("incident_id"),
        (unix_micros(least(col("s_end"), col("i_end")))
          - unix_micros(greatest(col("s_start"), col("i_start")))).as("overlap_us"))
      .orderBy("user_id", "s_start", "incident_id")
  }
}
