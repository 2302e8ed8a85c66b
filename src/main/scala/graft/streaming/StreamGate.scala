package graft.streaming

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.Tables
import graft.sources.Scratch

/** Driver-gate adapters for the streaming operators: run a Structured
  * Streaming query over the bounded `events` table to completion
  * (`foreachBatch` → parquet), read the end-state table back, and return it
  * as a plain DataFrame — so the streaming family, previously covered only
  * by batch-parity specs, gets real DuckDB-oracled CORRECTNESS rows.
  *
  * The stream source is the same parquet the batch operators read
  * (`spark.readStream.parquet`), so the end state of each query is exactly
  * the batch answer and the oracle SQL is the batch SQL. On an unbounded
  * production source the same code runs incrementally — nothing here is
  * test-only except reading the finite directory.
  *
  * Each run takes fresh checkpoint/output dirs from [[graft.sources.Scratch]]:
  * the gate must be re-runnable in one session without state collisions
  * (Verify runs the inventory, then specs may run the same queries again).
  * Checkpoint and input dirs are scoped to the gate; the end-state dir,
  * which the returned frame reads lazily, lives until JVM exit.
  */
object StreamGate {

  /** `events` as a STREAMING DataFrame with the same encoding-dependent
    * timestamp normalization as [[graft.Tables.events]] — the raw schema and
    * the normalization both come from Tables (the single normalization
    * point), so stream and batch agree under every on-disk encoding. */
  def eventsStream(spark0: SparkSession, dir: String): DataFrame = {
    val spark = gateSession(spark0, dir)
    val raw = Tables.eventsRaw(spark, dir)
    // The file-stream source monitors a DIRECTORY; TESTDATA ships events as
    // a single file, so stream the parent dir with a glob filter selecting
    // just that file (works unchanged when events is a real directory of
    // parts on a cluster store).
    Tables.normalizeEventsTs(
      spark.readStream.schema(raw.schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(dir))
  }

  /** A cloned session for a gate's streaming query: same SparkContext, own
    * conf with an INPUT-SIZED state-partition count. Stateful streaming
    * cost at gate scale is dominated by per-partition state-store
    * load/commit (a stream-stream join runs four stores per partition),
    * and the state partitioning is fixed by `spark.sql.shuffle.partitions`
    * at the query's first batch — 32 batch-sized partitions means 128
    * store commits per batch for state that fits comfortably in 4
    * (measured: purchase-view join 5.9 s → 2.6 s; past 8 → 4 the curve
    * flattens into the ~1.2 s fixed query-lifecycle cost). But a FIXED 4
    * becomes the serialization at replica scale: the r19 top-4 probe
    * audit caught the 128× session/purchase-view gates running 4-way
    * parallel on 32 cores (4 tasks carrying 58 of 113 taskSec over a
    * 266 MB shuffle — the few-straggler wall the max-task verdict
    * missed). [[statePartitions]] sizes the count from the stream
    * source's on-disk bytes instead: the toy-scale floor of 4, one
    * partition per ~16 MB of source, capped at the core count (state
    * partitioning is fixed at the first batch; more partitions than
    * cores buys nothing and pays per-partition commit cost forever).
    * Cloning (not mutating) keeps the caller's session untouched: Verify
    * runs gates concurrently on one session. */
  private def gateSession(spark: SparkSession, dir: String,
      table: String = "events"): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions",
      statePartitions(spark, dir, table).toString)
    s
  }

  /** See [[gateSession]]. */
  private def statePartitions(spark: SparkSession, dir: String,
      table: String): Int = {
    val f = new java.io.File(Tables.path(dir, table))
    val bytes =
      if (f.isDirectory)
        Option(f.listFiles).map(_.map(_.length).sum).getOrElse(0L)
      else f.length
    val cores = spark.sparkContext.defaultParallelism
    math.max(4L, math.min(cores.toLong, bytes / (16L << 20))).toInt
  }

  /** Runs the query to completion and returns the engine's own late-data
    * accounting: the sum of `numRowsDroppedByWatermark` over every state
    * operator and micro-batch — the number Spark itself says it silently
    * discarded. `ck` is a checkpoint shared across query lifetimes (the
    * checkpoint-recovery gate); by default each run gets its own, scoped
    * to the run. */
  private def run(writer: DataStreamWriter[Row],
      ck: Option[Path] = None): Long = {
    def drain(ck: Path): Long = {
      // AvailableNow: drain everything available, then STOP — versus
      // processAllAvailable on the default trigger, which keeps the
      // micro-batch scheduler polling (empty-batch planning cycles) until
      // the explicit stop. Same end state, less machinery.
      val q = writer
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", ck.toString).start()
      try {
        q.awaitTermination()
        q.recentProgress.iterator
          .flatMap(_.stateOperators.iterator)
          .map(_.numRowsDroppedByWatermark).sum
      } finally q.stop()
    }
    ck.fold(Scratch.withDir("graft_stream_ck")(drain))(drain)
  }

  /** Drain `stream` through `foreachBatch` → parquet into a fresh end-state
    * dir and return (end-state frame read with `spark`, the engine's
    * watermark-drop count). The output mode fixes the write mode: each
    * complete-mode batch is the whole aggregate (overwrite); append and
    * update batches add rows (append). `stampBatchId` adds each batch's
    * micro-batch id as `batch_id`, the exactly-once key a production sink
    * would use.
    *
    * An EMPTY bounded source fires zero micro-batches under AvailableNow,
    * so `foreachBatch` never runs and the sink dir is never created — that
    * IS the empty end state, returned as a 0-row frame with the schema each
    * batch would have written. Without this, an empty source — routine at
    * 100 TB, e.g. a date-range with no events — turns into PATH_NOT_FOUND
    * instead of an empty result. */
  private def endState(spark: SparkSession, stream: DataFrame,
      outputMode: String, stampBatchId: Boolean = false,
      ck: Option[Path] = None): (DataFrame, Long) = {
    val out = Scratch.untilExit("graft_stream_out").resolve("end_state")
    val writeMode = if (outputMode == "complete") "overwrite" else "append"
    val dropped = run(stream.writeStream.outputMode(outputMode).foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        (if (stampBatchId) batch.withColumn("batch_id", lit(batchId))
         else batch).write.mode(writeMode).parquet(out.toString)
    }, ck)
    val schema =
      if (stampBatchId) stream.withColumn("batch_id", lit(0L)).schema
      else stream.schema
    val end =
      if (Files.exists(out)) spark.read.parquet(out.toString)
      else spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    (end, dropped)
  }

  /** [[Streaming.tumblingCounts]] end state. Complete output mode: every
    * micro-batch rewrites the full aggregate, so the final parquet is the
    * whole-history answer regardless of where the watermark stopped (with
    * a bounded source the watermark never passes the newest window, so
    * append mode would hold back the tail windows forever — complete mode
    * is the correct end-state semantics). */
  def tumblingDailyEndState(spark: SparkSession, dir: String): DataFrame = {
    val (end, _) = endState(spark,
      Streaming.tumblingCounts(eventsStream(spark, dir)), "complete")
    end.select(to_date(col("w_start")).as("day"), col("event_type"), col("n"))
      .orderBy("day", "event_type")
  }

  /** [[Streaming.scd2Intervals]] end state: every CLOSED validity interval
    * (an interval closes when a newer event for the same user arrives, so
    * on a bounded stream the closed set is complete; only each user's
    * final OPEN interval is never emitted — exactly the batch operator's
    * `valid_to IS NOT NULL` rows). Append sink: closed rows are immutable
    * once emitted. */
  def scd2ClosedEndState(spark: SparkSession, dir: String): DataFrame = {
    val (end, _) = endState(spark,
      Streaming.scd2Intervals(spark, eventsStream(spark, dir)).toDF(), "append")
    end.select(col("user_id"), col("state"), col("valid_from"), col("valid_to"))
      .orderBy("user_id", "valid_from")
  }

  /** [[Streaming.sessionCounts]] end state — gap-based session windows
    * merged by the state store as events arrive. Complete-mode rewrite,
    * same bounded-source rationale as [[tumblingDailyEndState]]: the
    * watermark never passes the final sessions, so append would withhold
    * each user's last session forever. */
  def sessionEndState(spark: SparkSession, dir: String): DataFrame = {
    val (end, _) = endState(spark,
      Streaming.sessionCounts(eventsStream(spark, dir)), "complete")
    end.orderBy("user_id", "session_start")
  }

  /** [[Streaming.slidingCounts]] end state — complete-mode rewrite, same
    * rationale as [[tumblingDailyEndState]]. */
  def sliding6hEndState(spark: SparkSession, dir: String): DataFrame = {
    val (end, _) = endState(spark,
      Streaming.slidingCounts(eventsStream(spark, dir)), "complete")
    end.orderBy("w_start", "event_type")
  }

  /** [[Streaming.dedupWithinWatermark]] end state: every event whose id was
    * first-seen inside the watermark horizon — on the TESTDATA stream (ids
    * unique) that is the identity, which is exactly what gates the state
    * plumbing: any spurious drop or duplication shows as a hash mismatch. */
  def dedupIdsEndState(spark: SparkSession, dir: String): DataFrame = {
    val (end, _) = endState(spark,
      Streaming.dedupWithinWatermark(eventsStream(spark, dir)), "append")
    end.select("event_id", "ts", "user_id", "event_type", "value")
      .orderBy("event_id")
  }

  /** [[Streaming.runningUserStats]] end state: each user's latest running
    * record (the row with the highest event count). Robust to any
    * micro-batch split because the operator emits the updated record on
    * every batch the user appears in — the max over emitted rows is the
    * total count even when a user's trailing events land in a batch that
    * crosses no milestone. */
  def userMilestonesEndState(spark: SparkSession, dir: String,
      every: Long = 10L): DataFrame = {
    val (end, _) = endState(spark, Streaming.runningUserStats(spark,
      eventsStream(spark, dir), every).toDF(), "append")
    end.groupBy("user_id")
      .agg(max("n_events").as("n_events"),
        max("n_milestones").as("n_milestones"))
      .orderBy("user_id")
  }

  /** [[Streaming.purchaseViewJoin]] end state: every (purchase, same-user
    * view within the preceding hour) pair — with a bounded source both
    * sides are fully buffered before the watermark can evict anything, so
    * the end state equals the batch time-bounded join. */
  def purchaseViewEndState(spark: SparkSession, dir: String): DataFrame = {
    val ev = eventsStream(spark, dir)
    val (end, _) = endState(spark, Streaming.purchaseViewJoin(
      ev.where(col("event_type") === "purchase"),
      ev.where(col("event_type") === "view")), "append")
    end.select("user_id", "p_event", "v_event")
      .orderBy("user_id", "p_event", "v_event")
  }

  /** [[Streaming.dedupAgainstCorpus]] end state: incoming documents
    * (doc_id ≥ `corpusMaxDocId`, streamed) whose content fingerprint does
    * NOT already exist in the frozen corpus (doc_id < `corpusMaxDocId`,
    * static side of the anti-join) — the incremental-ingest dedup. */
  def corpusDedupEndState(spark0: SparkSession, dir: String,
      corpusMaxDocId: Long = 100): DataFrame = {
    val spark = gateSession(spark0, dir, table = "documents")
    val raw = spark.read.parquet(Tables.path(dir, "documents"))
    val incoming = spark.readStream.schema(raw.schema)
      .option("pathGlobFilter", "documents.parquet").parquet(dir)
      .where(col("doc_id") >= corpusMaxDocId)
    val corpus = raw.where(col("doc_id") < corpusMaxDocId)
    val (end, _) = endState(spark,
      Streaming.dedupAgainstCorpus(incoming, corpus), "append")
    end.select("doc_id").orderBy("doc_id")
  }

  /** [[Streaming.jdbcAppendSink]] end state — the `LoadStarDB` warehouse
    * load (`LoadStarDB.java:86-103`) in its INCREMENTAL form, gate-covered
    * like the batch `s_jdbc_roundtrip`: stream a deterministic 5% slice of
    * `events` through the foreachBatch JDBC append sink into an
    * embedded-Derby table, read it back through the JDBC source, and
    * aggregate with integer-exact measures. AvailableNow drains the bounded
    * source and every micro-batch appends exactly once, so the table's end
    * state equals the batch answer and the oracle is the batch SQL. The 5%
    * event-id slice keeps the row-at-a-time JDBC surface proportionate at
    * replica scale (a production load fans out over executors; Derby here
    * stands in for the warehouse like the reference's MySQL). */
  def jdbcAppendEndState(spark: SparkSession, dir: String): DataFrame =
    // run-unique scratch db: bench and verify run this concurrently, and a
    // repeated in-process run must never APPEND into a previous run's
    // surviving rows (the batch gate overwrites; this one cannot)
    Scratch.withDerby("graftgate_stream") { url =>
      val src = eventsStream(spark, dir)
        .where(col("event_id") % 20 === 0)
        .select(col("event_id"), col("user_id"), col("event_type"))
      val props = new java.util.Properties()
      props.setProperty("user", "app"); props.setProperty("password", "app")
      // an EMPTY bounded source fires zero micro-batches under AvailableNow,
      // so the sink's first append would never create the table and the
      // read-back would throw — pre-create the DDL by appending the slice's
      // 0-row prefix through the same JDBC writer (the JDBC analog of
      // endState's missing-dir handling)
      spark.createDataFrame(
          spark.sparkContext.emptyRDD[Row],
          src.schema.add("batch_id", org.apache.spark.sql.types.LongType))
        .write.mode("append").jdbc(url, "events_fact", props)
      run(Streaming.jdbcAppendSink(src, url, "events_fact", "app", "app"))
      // the JDBC scan is lazy — collect the (event-type-bounded) aggregate
      // before the scratch db is dropped
      Scratch.collectLocal(spark.read.jdbc(url, "events_fact", props)
        .groupBy(col("event_type").cast("string").as("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("event_id")).cast("long").as("id_sum"),
          countDistinct(col("user_id")).as("n_users"))
        .orderBy("event_type"))
    }

  /** [[Streaming.topKPerKey]] end state: the LIVE leaderboard per key = the
    * key's latest emitted snapshot. Each appended snapshot is stamped with
    * its micro-batch id inside `foreachBatch` (the exactly-once key a
    * production sink would use), and the end state keeps, per key, only the
    * rows of that key's max batch_id — correct for any micro-batch split of
    * the input, not just the single-batch case. */
  def topKEndState(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val (snapshots, _) = endState(spark,
      Streaming.topKPerKey(spark, eventsStream(spark, dir), k).toDF(),
      "append", stampBatchId = true)
    val latest = snapshots.groupBy("event_type")
      .agg(max("batch_id").as("batch_id"))
    snapshots.join(broadcast(latest), Seq("event_type", "batch_id"))
      .select(col("event_type"), col("rank"), col("event_id"), col("value"))
      .orderBy("event_type", "rank")
  }

  /** Late-data census — the reference's drop-and-LOG discipline
    * (`SanFranciscoCrime.java:91-99` logs every malformed row it drops)
    * applied to watermark drops, which Spark otherwise discards silently.
    *
    * Arrival order is made adversarial on purpose: `maxFilesPerTrigger=1`
    * replays three single-file micro-batches — on-time rows
    * (`event_id % 20 != 0`), then two held-back slices (`% 40 == 0`, then
    * `% 40 == 20`). Three batches because Spark's late-record filter uses
    * the PREVIOUS batch's watermark (eviction uses the current one —
    * the two-watermark split that keeps a late-but-admitted row's window
    * state alive for the batch that admits it): batch 1 is filtered with
    * the initial zero watermark and keeps everything; batch 2 is filtered
    * with the watermark derived from batch 0, `max(on-time ts) − delay`,
    * and drops every replayed row whose daily window already closed.
    *
    * The operator is the update-mode daily tumbling aggregate; each batch's
    * changed rows are stamped with their micro-batch id, and the end state
    * takes each (day, event_type)'s latest snapshot. The census joins that
    * against the static table: n_total, n_kept, and n_late_dropped per day
    * and type — no silent caps. The gate cross-checks against the engine's
    * own `numRowsDroppedByWatermark`: whenever the census reports drops the
    * engine must have metered drops too. Only presence is asserted — the
    * metric's magnitude is split between the pre-shuffle late filter and
    * the store-stage filter and varies with where the filter lands in the
    * plan (measured 95 vs 190 for the same 183 true drops), so the exact
    * count comes from the census subtraction, which the DuckDB oracle
    * independently confirms.
    *
    * Watermark arithmetic is millisecond-floored (Spark tracks event-time
    * stats in ms): a replayed row survives ⇔ µs(window end) >
    * (⌊µs(max on-time ts)/1000⌋ − delayMs)·1000 — the oracle SQL replays
    * that exact integer grid. */
  def lateCensusEndState(spark0: SparkSession, dir: String,
      delayMs: Long = 7L * 24 * 3600 * 1000): DataFrame = {
    val spark = gateSession(spark0, dir)
    val ev = Tables.events(spark, dir)
    val (snaps, droppedByEngine) = Scratch.withDir("graft_stream_late") { in =>
      // one single-file arrival per batch; the file source orders by
      // modification time, pinned so arrival order is fixed
      Scratch.writeSingleParquet(ev.where(col("event_id") % 20 =!= 0),
        in.resolve("b0.parquet"), Some(1000000L))
      Scratch.writeSingleParquet(ev.where(col("event_id") % 40 === 0),
        in.resolve("b1.parquet"), Some(2000000L))
      Scratch.writeSingleParquet(ev.where(col("event_id") % 40 === 20),
        in.resolve("b2.parquet"), Some(3000000L))
      val stream = spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1").parquet(in.toString)
      endState(spark, Streaming.tumblingCounts(stream, "1 day",
        s"$delayMs milliseconds"), "update", stampBatchId = true)
    }
    val latest = snaps.groupBy("w_start", "event_type")
      .agg(max("batch_id").as("batch_id"))
    val kept = snaps.join(broadcast(latest),
        Seq("w_start", "event_type", "batch_id"))
      .select(to_date(col("w_start")).as("day"), col("event_type"),
        col("n").as("n_kept0"))
    val census = ev
      .groupBy(to_date(date_trunc("day", col("ts"))).as("day"),
        col("event_type"))
      .agg(count(lit(1)).as("n_total"))
      .join(kept, Seq("day", "event_type"), "left")
      .select(col("day"), col("event_type"), col("n_total"),
        coalesce(col("n_kept0"), lit(0L)).as("n_kept"),
        (col("n_total") - coalesce(col("n_kept0"), lit(0L)))
          .as("n_late_dropped"))
      .orderBy("day", "event_type")
    val censusTotal = Option(census.agg(sum("n_late_dropped")).head().get(0))
      .map(_.asInstanceOf[Long]).getOrElse(0L)
    require(censusTotal == 0L || droppedByEngine > 0L,
      s"late census claims $censusTotal drops but the engine metered none")
    census
  }

  /** [[Streaming.enrich]] end state: the streaming events enriched with a
    * broadcast static dimension (customer, keyed by user_id=c_custkey) —
    * the stream-static lookup-join every streaming star-ETL ingest needs
    * (the incremental form of the reference's Kettle DBLookup step,
    * LoadStarDB §dim lookup). Stateless append: each micro-batch joins
    * against the broadcast dim and emits exactly its own rows, so the
    * bounded end state is the batch left-join answer. At 100 TB/day the
    * same plan holds: the dim broadcasts once per micro-batch and no
    * shuffle or state store is involved. */
  def enrichEndState(spark0: SparkSession, dir: String): DataFrame = {
    val spark = gateSession(spark0, dir)
    val dim = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"))
    val (end, _) = endState(spark, Streaming.enrich(eventsStream(spark, dir),
        dim, "user_id", "c_custkey")
      .select(col("event_id"), col("user_id"), col("c_name"),
        col("c_nationkey")), "append")
    end.orderBy("event_id")
  }

  /** Checkpoint-recovery end state: ONE checkpoint, TWO query lifetimes.
    * The first query drains the even-id half of `events` and stops; the
    * odd-id half then arrives and a NEW query instance restarts from the
    * same checkpoint. Exactly-once recovery means the restarted query
    * (a) resumes the state store (even-id counts survive) and (b) resumes
    * the file-source commit log (the even-id file is not re-read) — lose
    * (a) and the final counts are odd-only (undercount), replay (b) and
    * the even half double-counts. The complete-mode end state therefore
    * equals the whole-history batch answer iff recovery is exactly-once,
    * which the DuckDB oracle hash-checks. This is the operational path a
    * production job takes on every executor-loss/redeploy — the property
    * that makes a 100 TB streaming ingest restartable at all. */
  def checkpointRecoveryEndState(spark0: SparkSession,
      dir: String): DataFrame = {
    val spark = gateSession(spark0, dir)
    val ev = Tables.events(spark, dir)
    val (end, dropped) = Scratch.withDir("graft_stream_ckrec") { scratch =>
      val (in, ck) = (scratch.resolve("in"), scratch.resolve("ck"))
      // 10-year watermark delay: the recovered watermark after life 1 (max
      // even-id ts minus the delay) must sit below ALL odd-id event times,
      // or the restart would legitimately drop them as late — this gate
      // tests recovery, not late-data policy (lateCensusEndState does that).
      // Complete mode: life 2's end state is the whole aggregate.
      def drain() = endState(spark, Streaming.tumblingCounts(
          spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", "1").parquet(in.toString),
          "1 day", "3650 days"), "complete", ck = Some(ck))
      // arrival order pinned by modification time, as in lateCensusEndState
      Scratch.writeSingleParquet(ev.where(col("event_id") % 2 === 0),
        in.resolve("b0.parquet"), Some(1000000L))
      val (_, dropped1) = drain()
      Scratch.writeSingleParquet(ev.where(col("event_id") % 2 =!= 0),
        in.resolve("b1.parquet"), Some(2000000L))
      val (end, dropped2) = drain()
      (end, dropped1 + dropped2)
    }
    require(dropped == 0,
      s"recovery gate dropped $dropped rows by watermark — " +
        "the 10-year delay should make every row on-time")
    // structural cross-check before the oracle: every event lands in
    // exactly one tumbling window, so the end-state counts must sum to
    // the full table size — < means lost state, > means a replayed file.
    // (sum over an EMPTY end state is NULL → 0: an empty source is a
    // valid recovery, both lifetimes drained zero rows)
    val total = Option(end.agg(sum("n")).head().get(0))
      .map(_.asInstanceOf[Long]).getOrElse(0L)
    val expected = ev.count()
    require(total == expected,
      s"recovery end state sums to $total events, source has $expected " +
        "(<: state lost on restart; >: source file re-read)")
    end
      .select(to_date(col("w_start")).as("day"), col("event_type"), col("n"))
      .orderBy("day", "event_type")
  }
}
