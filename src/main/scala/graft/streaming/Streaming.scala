package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.plans.Natives

/** Structured Streaming surface (SURVEY.md §2.6). The reference is pure
  * batch — its "Previous Three Months" dataset implies re-execution-as-
  * refresh; these operators are the streaming re-expression of the same
  * aggregations, taking any streaming DataFrame with the `events` schema
  * (`readStream` source → transform → `writeStream` sink).
  *
  * All transforms are source-agnostic: they accept the streaming DataFrame
  * rather than creating it, so the same code runs on files, Kafka-style
  * sources, or MemoryStream in tests. Watermarks bound the state the way the
  * reference bounded input (drop-and-log late/malformed rows, SURVEY §2.2-P4):
  * rows later than the watermark are dropped, and window state older than it
  * is evicted — the property that keeps state finite on an unbounded stream
  * (the 100 TB-scale requirement).
  */
object Streaming {

  /** Streaming analog of the weekly histogram (A2): tumbling event-time
    * window counts per event type, watermarked so state is bounded. Emits
    * (window_start, window_end, event_type, n). */
  def tumblingCounts(
      events: DataFrame,
      windowLength: String = "1 day",
      watermark: String = "1 day"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLength).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("w_start"), col("w.end").as("w_end"),
        col("event_type"), col("n"))

  /** Sliding event-time windows (each event lands in size/slide windows). */
  def slidingCounts(
      events: DataFrame,
      windowLength: String = "6 hours",
      slide: String = "3 hours",
      watermark: String = "1 day"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLength, slide).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("w_start"), col("event_type"), col("n"))

  /** Gap-based session windows per user — state merges as events arrive and
    * a session finalizes once the watermark passes its close. */
  def sessionCounts(
      events: DataFrame,
      gap: String = "30 minutes",
      watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap).as("w"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"), col("w.start").as("session_start"), col("n"))

  /** Stateful streaming dedup by event_id: duplicates arriving within the
    * watermark horizon are dropped; state for ids older than the watermark
    * is evicted (unbounded-stream-safe, unlike plain dropDuplicates whose
    * state grows forever). */
  def dedupWithinWatermark(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** Stream-static enrichment join: attach a static dimension (broadcast
    * per micro-batch) to a stream — the streaming analog of the reference's
    * dictionary side-input lookups (SURVEY §2.4). The static side may be
    * any batch DataFrame; Spark re-plans it each micro-batch, so a small
    * dim table broadcasts exactly like in the batch star join. */
  def enrich(events: DataFrame, dim: DataFrame, streamKey: String,
      dimKey: String): DataFrame =
    events.join(broadcast(dim), events(streamKey) === dim(dimKey), "left")

  /** Stream-stream inner join with event-time bounds: each purchase joins
    * the same user's views from the preceding `horizon`. BOTH sides carry
    * watermarks and the join predicate bounds `v_ts` to a window around
    * `p_ts` — the two conditions together let the engine evict buffered
    * rows once the watermark passes their horizon; an unbounded-time
    * stream-stream join would buffer both streams forever. */
  def purchaseViewJoin(purchases: DataFrame, views: DataFrame,
      horizon: String = "1 hour", watermark: String = "1 hour"): DataFrame = {
    val p = purchases
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("p_event"))
      .withWatermark("p_ts", watermark)
    val v = views
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"),
        col("event_id").as("v_event"))
      .withWatermark("v_ts", watermark)
    p.join(v,
      col("p_user") === col("v_user") &&
        col("v_ts") <= col("p_ts") &&
        col("v_ts") >= col("p_ts") - expr(s"INTERVAL $horizon"))
      .select(col("p_user").as("user_id"), col("p_event"), col("v_event"),
        col("p_ts"), col("v_ts"))
  }

  /** Streaming dedup against a STATIC historical corpus: incoming documents
    * whose content fingerprint already exists in the corpus are dropped —
    * the incremental-ingest form of exact dedup (new crawl data vs a 100 TB
    * frozen corpus). Stream-static left-anti joins are stateless (the
    * static side re-plans per micro-batch and its fingerprint projection
    * broadcasts like any dim), so no watermark state is needed; fused with
    * [[dedupWithinWatermark]]-style in-stream dedup upstream it covers
    * within-stream AND against-history duplicates. Fingerprints are the
    * cross-engine polynomial `poly_fp` (one long per doc — the only column
    * of the corpus that ships). */
  def dedupAgainstCorpus(docs: DataFrame, corpus: DataFrame): DataFrame = {
    val corpusFps = corpus
      .select(Natives.polyFp(col("text")).as("fp")).distinct()
    docs
      .withColumn("fp", Natives.polyFp(col("text")))
      .join(broadcast(corpusFps), Seq("fp"), "left_anti")
      .drop("fp")
  }

  /** Streaming JDBC append sink via `foreachBatch` — the reference's
    * `LoadStarDB` ETL re-expressed as an incremental stream: each
    * micro-batch's rows are appended to the warehouse table, stamped with
    * the micro-batch id (the key a production sink uses for exactly-once
    * dedup on retry — a replayed batch re-appends under the SAME id and is
    * idempotent to an id-aware reader). Returns the writer so callers pick
    * trigger/checkpoint. */
  def jdbcAppendSink(stream: DataFrame, url: String, table: String,
      user: String, password: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val props = new java.util.Properties()
    props.setProperty("user", user)
    props.setProperty("password", password)
    stream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      batch.withColumn("batch_id", lit(batchId))
        .write.mode("append").jdbc(url, table, props)
    }
  }

  /** One closed validity interval emitted by [[scd2Intervals]]. */
  case class ClosedInterval(user_id: Long, state: String,
      valid_from: java.sql.Timestamp, valid_to: java.sql.Timestamp)

  /** Streaming SCD2 — the incremental form of [[graft.ops.Star.scd2]]:
    * per-key state holds the OPEN interval (current attribute value +
    * valid_from); each arriving change closes it, emits the closed row, and
    * opens the next. Batch rows are sorted by (ts, tiebreak) before folding
    * (micro-batch iterators carry no order guarantee); consecutive equal
    * states extend the open interval exactly like the batch operator.
    * State is one small tuple per key. Emitted rows match the batch
    * operator's non-current rows on the same prefix of the stream
    * (spec-asserted); events arriving out of event-time order ACROSS
    * micro-batches are the standard SCD2 correction problem — handle with
    * watermarked sources or periodic batch rebuilds. */
  def scd2Intervals(spark: SparkSession, events: DataFrame): Dataset[ClosedInterval] = {
    import spark.implicits._
    events
      .select(col("user_id"), col("ts"), col("event_type"), col("event_id"))
      .as[(Long, java.sql.Timestamp, String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[(String, java.sql.Timestamp), ClosedInterval](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (user, rows, state: GroupState[(String, java.sql.Timestamp)]) =>
          val sorted = rows.toSeq.sortBy(r => (r._2.getTime, r._4))
          var cur = state.getOption
          val out = Seq.newBuilder[ClosedInterval]
          for ((_, ts, st, _) <- sorted) cur match {
            case Some((s0, from)) if s0 != st =>
              out += ClosedInterval(user, s0, from, ts)
              cur = Some((st, ts))
            case None => cur = Some((st, ts))
            case _ => // same state re-observed: interval extends, no emit
          }
          cur.foreach(state.update)
          out.result().iterator
      }
  }

  /** One top-k snapshot row emitted when a group's leaderboard changes. */
  case class TopKEntry(event_type: String, rank: Int, event_id: Long,
      value: Double)

  /** The leaderboard fold both [[topKPerKey]] stages share: collapse to
    * ONE entry per event_id (max value wins — a replayed event whose
    * value changed must not occupy two ranks), then order by the board's
    * total order (value desc, event_id asc — STRICT, ids are distinct
    * after the collapse) and keep k. Deterministic regardless of input
    * order.
    * .toSeq BEFORE the map: mapping a Map to (v, id) pairs would rebuild
    * a Map KEYED BY v, silently collapsing tied values to one arbitrary
    * survivor (caught round 10 by an 8x-scale sweep, where replicated
    * data ties every value 8 ways; gate-scale values happened to be
    * distinct, so every earlier round passed). */
  private def boardOf(entries: Seq[(Double, Long)],
      k: Int): Seq[(Double, Long)] =
    entries
      .groupBy { case (_, id) => id }
      .toSeq
      .map { case (_, vs) => vs.maxBy { case (v, _) => v } }
      .sortBy { case (v, id) => (-v, id) }
      .take(k)

  /** Streaming per-key top-k — the incremental form of the batch
    * TopKPerKey operator (graft.plans.topk): per-key state holds the
    * current k-element leaderboard (a bounded heap's contents — state
    * size is O(k), never the stream), each micro-batch folds its rows in,
    * and a fresh snapshot of the leaderboard is emitted ONLY when it
    * changed. Ties break on event_id (lower wins), same as the batch
    * operator's required tiebreak. */
  def topKPerKey(spark: SparkSession, events: DataFrame, k: Int = 3):
      Dataset[TopKEntry] = {
    // k = 0 would keep the board permanently empty-and-unchanged: the
    // stream runs forever and never emits — a silent no-op query
    require(k >= 1, s"topKPerKey: k must be >= 1, got $k")
    import spark.implicits._
    // PARTIAL top-k per input partition BEFORE the stateful shuffle — the
    // map-side combine the batch TopKPerKey physical operator uses, in
    // streaming form. Without it, flatMapGroupsWithState hash-partitions
    // the WHOLE stream onto event_type (5 distinct keys in this corpus):
    // at a 256x replica the probe showed 4 of 23 state tasks doing 94% of
    // the stage's 143.9 taskSec (max task 52.2 s ~ the entire 59.7 s
    // wall), and at 100 TB a 5-key stateful stage IS the job. The
    // pre-combine is EXACT, not approximate: every pruned row has k
    // distinct-id rows strictly before it in the board's total order
    // within its partition, all of which reach the state fold, and the
    // cross-partition collapse (max per id) only moves survivors EARLIER
    // in that order — so the global board can never need a pruned row.
    // The buffer compacts through the same boardOf fold every 4k rows:
    // memory O(keys·4k) per task, shuffle volume k rows per key per
    // partition per micro-batch instead of the stream.
    val compactAt = math.max(k, 1024) * 4
    val partial = events
      .select(col("event_type"), col("event_id"), col("value"))
      .as[(String, Long, Double)]
      .mapPartitions { it =>
        val boards = scala.collection.mutable.HashMap
          .empty[String, scala.collection.mutable.ArrayBuffer[(Double, Long)]]
        it.foreach { case (key, id, v) =>
          val buf = boards.getOrElseUpdate(key,
            scala.collection.mutable.ArrayBuffer.empty)
          buf += ((v, id))
          if (buf.length >= compactAt) {
            val c = boardOf(buf.toSeq, k); buf.clear(); buf ++= c
          }
        }
        boards.iterator.flatMap { case (key, buf) =>
          boardOf(buf.toSeq, k).map { case (v, id) => (key, id, v) }
        }
      }
    partial
      .groupByKey(_._1)
      .flatMapGroupsWithState[Seq[(Double, Long)], TopKEntry](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (key, rows, state: GroupState[Seq[(Double, Long)]]) =>
          val prev = state.getOption.getOrElse(Seq.empty)
          // fold the batch into the bounded board (boardOf: id-collapse,
          // strict total order, take k) and emit a snapshot only on change
          val board = boardOf(prev ++ rows.map(r => (r._3, r._2)), k)
          if (board == prev) Iterator.empty
          else {
            state.update(board)
            board.iterator.zipWithIndex.map { case ((v, id), i) =>
              TopKEntry(key, i + 1, id, v)
            }
          }
      }
  }

  /** Per-user running stats emitted on every update. */
  case class UserRunning(user_id: Long, n_events: Long, n_milestones: Long)

  /** Custom arbitrary state via `flatMapGroupsWithState` (the escape hatch
    * when windowed built-ins can't express the semantics): per-user running
    * event counter with a milestone counter that grows each time the count
    * crosses a multiple of `every`. The updated running record is emitted on
    * EVERY micro-batch the user appears in — not only on milestone batches —
    * so the latest emitted record always carries the user's total count
    * regardless of how the source splits into micro-batches (milestone-only
    * emission understated `n_events` whenever a user's trailing events
    * landed in a batch that crossed no milestone; a consumer wanting
    * milestone rows alone filters on `n_milestones` growth). State = one
    * (count, milestones) pair per user. Pass `ProcessingTimeTimeout` +
    * `inactivityTimeout` in production to evict idle users and keep the map
    * bounded (NOTE: with a timeout configured the engine schedules
    * continuous timeout-check micro-batches, so tests that wait for idleness
    * must use the NoTimeout default). */
  def runningUserStats(spark: SparkSession, events: DataFrame,
      every: Long = 10L,
      timeoutConf: GroupStateTimeout = GroupStateTimeout.NoTimeout,
      inactivityTimeout: String = "1 hour"): Dataset[UserRunning] = {
    // every = 0 is an executor-side ArithmeticException (n1 / every) that
    // would kill the stream mid-batch instead of failing at build time
    require(every >= 1, s"runningUserStats: every must be >= 1, got $every")
    import spark.implicits._
    events
      .select(col("user_id"), col("event_id"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long), UserRunning](
        OutputMode.Append, timeoutConf) {
        case (user, rows, state: GroupState[(Long, Long)]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val (n0, _) = state.getOption.getOrElse((0L, 0L))
            val n1 = n0 + rows.size
            val m1 = n1 / every
            state.update((n1, m1))
            if (timeoutConf == GroupStateTimeout.ProcessingTimeTimeout)
              state.setTimeoutDuration(inactivityTimeout)
            // emit whenever this batch carried rows for the user: the
            // latest record then always holds the running total, whatever
            // the micro-batch split (see scaladoc)
            if (n1 > n0) Iterator(UserRunning(user, n1, m1)) else Iterator.empty
          }
      }
  }
}
