package graft

import java.sql.Timestamp
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.sources.Scratch
import graft.streaming.{StreamGate, Streaming}

case class Ev(event_id: Long, ts: Timestamp, user_id: Long, event_type: String)
case class TopKIn(event_type: String, event_id: Long, value: Double)

/** Structured Streaming operators driven through MemoryStream → memory sink —
  * the same transform code the batch queries use, now with incremental state.
  */
class StreamingSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("streaming tumbling window counts aggregate incrementally across batches") {
    val src = MemoryStream[Ev](spark)
    val q = Streaming.tumblingCounts(src.toDF(), "1 hour", "2 hours")
      .writeStream.format("memory").queryName("stream_tumbling")
      .outputMode("complete").start()
    try {
      src.addData(
        Ev(1, ts("2024-01-01 10:05:00"), 1, "click"),
        Ev(2, ts("2024-01-01 10:55:00"), 2, "click"))
      q.processAllAvailable()
      src.addData(Ev(3, ts("2024-01-01 10:30:00"), 3, "click")) // same window, later batch
      q.processAllAvailable()
      val got = spark.table("stream_tumbling").collect()
        .map(r => (r.getTimestamp(0).toString, r.getString(2)) -> r.getLong(3)).toMap
      assert(got(("2024-01-01 10:00:00.0", "click")) == 3L)
    } finally q.stop()
  }

  test("streaming session windows merge events within the gap") {
    val src = MemoryStream[Ev](spark)
    val q = Streaming.sessionCounts(src.toDF(), "30 minutes", "1 hour")
      .writeStream.format("memory").queryName("stream_sessions")
      .outputMode("complete").start()
    try {
      src.addData(
        Ev(1, ts("2024-01-01 10:00:00"), 7, "a"),
        Ev(2, ts("2024-01-01 10:20:00"), 7, "a"),  // within gap -> same session
        Ev(3, ts("2024-01-01 12:00:00"), 7, "a"))  // far -> new session
      q.processAllAvailable()
      val got = spark.table("stream_sessions").collect()
        .map(r => r.getTimestamp(1).toString -> r.getLong(2)).toMap
      assert(got("2024-01-01 10:00:00.0") == 2L)
      assert(got("2024-01-01 12:00:00.0") == 1L)
    } finally q.stop()
  }

  test("streaming dedup against a static corpus drops known fingerprints") {
    case class Doc(doc_id: Long, text: String)
    val corpus = Seq((100L, "known document alpha"), (101L, "known document beta"))
      .toDF("doc_id", "text")
    val src = MemoryStream[(Long, String)](spark)
    val q = Streaming.dedupAgainstCorpus(
        src.toDF().toDF("doc_id", "text"), corpus)
      .writeStream.format("memory").queryName("stream_corpus_dedup")
      .outputMode("append").start()
    try {
      src.addData(
        (1L, "known document alpha"),   // exact dup of corpus -> dropped
        (2L, "fresh document one"),
        (3L, "known document beta"),    // dropped
        (4L, "fresh document two"))
      q.processAllAvailable()
      val kept = spark.table("stream_corpus_dedup").collect()
        .map(_.getLong(0)).sorted
      assert(kept.sameElements(Array(2L, 4L)))
    } finally q.stop()
  }

  test("streaming sliding windows place one event in size/slide windows") {
    val src = MemoryStream[Ev](spark)
    val q = Streaming.slidingCounts(src.toDF(), "6 hours", "3 hours", "1 day")
      .writeStream.format("memory").queryName("stream_sliding")
      .outputMode("complete").start()
    try {
      src.addData(Ev(1, ts("2024-01-01 10:00:00"), 1, "a"))
      q.processAllAvailable()
      val starts = spark.table("stream_sliding").collect()
        .map(_.getTimestamp(0).toString).sorted.toSeq
      assert(starts == Seq("2024-01-01 06:00:00.0", "2024-01-01 09:00:00.0"))
    } finally q.stop()
  }

  test("flatMapGroupsWithState: milestone rows emitted as per-user counts cross thresholds") {
    val src = MemoryStream[Ev](spark)
    val q = Streaming.runningUserStats(spark, src.toDF(), every = 3)
      .writeStream.format("memory").queryName("stream_running")
      .outputMode("append").start()
    try {
      src.addData((1 to 4).map(i => Ev(i, ts(s"2024-01-01 10:0$i:00"), 7, "a")): _*)
      q.processAllAvailable()   // user 7 at 4 events -> milestone 1 (crossed 3)
      src.addData((5 to 6).map(i => Ev(i, ts(s"2024-01-01 10:0$i:00"), 7, "a")): _*)
      q.processAllAvailable()   // at 6 events -> milestone 2
      val got = spark.table("stream_running").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == Set((7L, 4L, 1L), (7L, 6L, 2L)))
    } finally q.stop()
  }

  test("watermark drops late rows once the watermark has advanced past them") {
    val src = MemoryStream[Ev](spark)
    // 10-minute watermark, 1-hour tumbling windows, append mode: a window
    // only emits after the watermark passes its end, and rows older than the
    // watermark are dropped (the streaming analog of the reference's
    // drop-and-log malformed handling, SURVEY §2.2-P4)
    val q = Streaming.tumblingCounts(src.toDF(), "1 hour", "10 minutes")
      .writeStream.format("memory").queryName("stream_late")
      .outputMode("append").start()
    try {
      src.addData(Ev(1, ts("2024-01-01 10:20:00"), 1, "a"),
        Ev(2, ts("2024-01-01 10:40:00"), 1, "a"))
      q.processAllAvailable()
      // advance event time far past the 10:00 window + watermark
      src.addData(Ev(3, ts("2024-01-01 13:00:00"), 1, "a"))
      q.processAllAvailable()
      // this row is in the 10:00 window, which closed at watermark 12:50
      src.addData(Ev(4, ts("2024-01-01 10:50:00"), 1, "a"))
      q.processAllAvailable()
      val got = spark.table("stream_late").collect()
        .map(r => r.getTimestamp(0).toString -> r.getLong(3)).toMap
      // late row 4 dropped: the emitted 10:00 window holds only rows 1-2
      assert(got("2024-01-01 10:00:00.0") == 2L)
    } finally q.stop()
  }

  test("batch and streaming sliding windows agree on the same data") {
    import org.apache.spark.sql.functions.{col, sum => fsum}
    val events = Tables.events(spark, TestSpark.sf0001)
    val batch = graft.ops.Relational.slidingCounts(events).collect()
      .map(r => (r.getTimestamp(0).toString, r.getString(1)) -> r.getLong(2)).toMap
    val src = MemoryStream[Ev](spark)
    val q = Streaming.slidingCounts(src.toDF(), "6 hours", "3 hours", "100 days")
      .writeStream.format("memory").queryName("stream_parity")
      .outputMode("complete").start()
    try {
      val evs = events.select("event_id", "ts", "user_id", "event_type").collect()
        .map(r => Ev(r.getLong(0), r.getTimestamp(1), r.getLong(2), r.getString(3)))
      src.addData(evs.toIndexedSeq: _*)
      q.processAllAvailable()
      val stream = spark.table("stream_parity").collect()
        .map(r => (r.getTimestamp(0).toString, r.getString(1)) -> r.getLong(2)).toMap
      assert(stream == batch)
    } finally q.stop()
  }

  test("stream-static broadcast join enriches events with a dimension") {
    val src = MemoryStream[Ev](spark)
    val dim = Seq(("click", "interaction"), ("view", "passive"))
      .toDF("etype", "family")
    val q = Streaming.enrich(src.toDF(), dim, "event_type", "etype")
      .select("event_id", "family")
      .writeStream.format("memory").queryName("stream_enriched")
      .outputMode("append").start()
    try {
      src.addData(
        Ev(1, ts("2024-01-01 10:00:00"), 1, "click"),
        Ev(2, ts("2024-01-01 10:01:00"), 1, "view"),
        Ev(3, ts("2024-01-01 10:02:00"), 1, "unknown"))
      q.processAllAvailable()
      val got = spark.table("stream_enriched").collect()
        .map(r => r.getLong(0) -> Option(r.getString(1)).getOrElse("-")).toMap
      assert(got == Map(1L -> "interaction", 2L -> "passive", 3L -> "-"))
    } finally q.stop()
  }

  test("stream-stream interval join matches views in the horizon, evictable state") {
    val pSrc = MemoryStream[Ev](spark)
    val vSrc = MemoryStream[Ev](spark)
    val q = Streaming.purchaseViewJoin(pSrc.toDF(), vSrc.toDF(),
        horizon = "1 hour", watermark = "1 hour")
      .select("p_event", "v_event")
      .writeStream.format("memory").queryName("stream_ss_join")
      .outputMode("append").start()
    try {
      vSrc.addData(
        Ev(10, ts("2024-01-01 09:30:00"), 1, "view"),   // 40 min before -> match
        Ev(11, ts("2024-01-01 07:00:00"), 1, "view"),   // 3 h before -> outside horizon
        Ev(12, ts("2024-01-01 09:45:00"), 2, "view"))   // other user -> no match
      pSrc.addData(Ev(1, ts("2024-01-01 10:10:00"), 1, "purchase"))
      q.processAllAvailable()
      val got = spark.table("stream_ss_join").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == Set((1L, 10L)))
    } finally q.stop()
  }

  test("checkpoint recovery: restarted query resumes state, no recount") {
    import org.apache.spark.sql.functions.col
    Scratch.withDir("graft_ckpt") { scratch =>
      val dir = scratch.toString
      val srcDir = s"$dir/in"; val ckpt = s"$dir/ckpt"
      new java.io.File(srcDir).mkdirs()
      val schema = Seq.empty[Ev].toDS().schema
      def start(tbl: String) =
        Streaming.tumblingCounts(
            spark.readStream.schema(schema).parquet(srcDir), "1 hour", "2 hours")
          .writeStream.format("memory").queryName(tbl)
          .option("checkpointLocation", ckpt)
          .outputMode("complete").start()
      def addFile(n: Int, evs: Ev*): Unit = {
        // the file source lists *files* under the path — write to a scratch
        // dir and move the part file in as a single flat file
        val tmp = s"$dir/tmp$n"
        evs.toDS().coalesce(1).write.parquet(tmp)
        val part = new java.io.File(tmp).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        java.nio.file.Files.move(part.toPath,
          java.nio.file.Paths.get(s"$srcDir/batch$n.parquet"))
      }
      val q1 = start("ckpt_a")
      try {
        addFile(1, Ev(1, ts("2024-01-01 10:05:00"), 1, "click"),
          Ev(2, ts("2024-01-01 10:10:00"), 2, "click"))
        q1.processAllAvailable()
        assert(spark.table("ckpt_a").collect().map(_.getLong(3)).sum == 2)
      } finally q1.stop()
      // restart from the checkpoint into a FRESH sink table: batch-1 rows must
      // come back from recovered state (not re-read), batch-2 rows add to them
      val q2 = start("ckpt_b")
      try {
        addFile(2, Ev(3, ts("2024-01-01 10:30:00"), 3, "click"))
        q2.processAllAvailable()
        val got = spark.table("ckpt_b").collect()
          .map(r => (r.getTimestamp(0).toString, r.getString(2)) -> r.getLong(3)).toMap
        assert(got(("2024-01-01 10:00:00.0", "click")) == 3L)
      } finally q2.stop()
    }
  }

  test("streaming SCD2 emits the batch operator's closed intervals") {
    val src = MemoryStream[Ev](spark)
    val q = Streaming.scd2Intervals(spark, src.toDF())
      .writeStream.format("memory").queryName("stream_scd2")
      .outputMode("append").start()
    val all = Seq(
      Ev(1, ts("2024-01-01 00:00:00"), 1, "A"),
      Ev(2, ts("2024-01-02 00:00:00"), 1, "A"),   // re-observation: extends
      Ev(3, ts("2024-01-03 00:00:00"), 1, "B"),   // closes A
      Ev(4, ts("2024-01-04 00:00:00"), 1, "A"),   // closes B (next batch)
      Ev(5, ts("2024-01-01 00:00:00"), 2, "X"))   // stays open: never emitted
    try {
      src.addData(all.take(3): _*)
      q.processAllAvailable()
      src.addData(all.drop(3): _*)
      q.processAllAvailable()
      val streamed = spark.table("stream_scd2").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getTimestamp(2), r.getTimestamp(3)))
        .toSet
      // batch SCD2 over the same events: its CLOSED rows must equal the stream
      val batchClosed = ops.Star.scd2(all.toDF(), "user_id", "ts", "event_type", "event_id")
        .where(org.apache.spark.sql.functions.col("valid_to").isNotNull)
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getTimestamp(2), r.getTimestamp(3)))
        .toSet
      assert(streamed == batchClosed && streamed.size == 2)
    } finally q.stop()
  }

  test("streaming top-k leaderboard: O(k) state, emits only on change, matches batch") {
    val src = MemoryStream[TopKIn](spark)
    val q = Streaming.topKPerKey(spark, src.toDF(), k = 2)
      .writeStream.format("memory").queryName("stream_topk")
      .outputMode("append").start()
    try {
      src.addData(TopKIn("a", 1, 10.0), TopKIn("a", 2, 30.0), TopKIn("a", 3, 20.0), TopKIn("b", 4, 5.0))
      q.processAllAvailable()
      src.addData(TopKIn("a", 5, 1.0)) // below the board: must emit NOTHING for a
      q.processAllAvailable()
      val afterNoChange = spark.table("stream_topk")
        .where($"event_type" === "a").count()
      src.addData(TopKIn("a", 6, 25.0)) // displaces id 3
      q.processAllAvailable()
      val rows = spark.table("stream_topk").collect()
        .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      // the LAST snapshot per key is the live leaderboard
      assert(afterNoChange == 2) // only the first snapshot of a (2 rows)
      val lastA = rows.filter(_._1 == "a").takeRight(2).map(t => (t._2, t._3, t._4)).toSeq
      assert(lastA == Seq((1, 2L, 30.0), (2, 6L, 25.0)))
      assert(rows.filter(_._1 == "b").map(t => (t._2, t._3)).toSeq == Seq((1, 4L)))
    } finally q.stop()
  }

  test("checkpoint recovery of CUSTOM state: restarted leaderboard remembers the board") {
    Scratch.withDir("graft_topk_ckpt") { scratch =>
      val dir = scratch.toString
      val srcDir = s"$dir/in"; val ckpt = s"$dir/ckpt"
      new java.io.File(srcDir).mkdirs()
      val schema = Seq.empty[TopKIn].toDS().schema
      // memory sink cannot recover an append-mode query from a checkpoint;
      // foreachBatch -> parquet can (the StreamGate sink shape)
      def start(out: String) =
        Streaming.topKPerKey(spark,
            spark.readStream.schema(schema).parquet(srcDir), k = 2)
          .toDF().writeStream
          .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
            b.write.mode("append").parquet(out)
          }
          .option("checkpointLocation", ckpt)
          .outputMode("append").start()
      def readOut(out: String) =
        try spark.read.parquet(out).collect()
        catch { case _: Throwable => Array.empty[org.apache.spark.sql.Row] }
      def addFile(n: Int, rows: TopKIn*): Unit = {
        val tmp = s"$dir/tmp$n"
        rows.toDS().coalesce(1).write.parquet(tmp)
        val part = new java.io.File(tmp).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        java.nio.file.Files.move(part.toPath,
          java.nio.file.Paths.get(s"$srcDir/batch$n.parquet"))
      }
      val outA = s"$dir/outA"; val outB = s"$dir/outB"
      val q1 = start(outA)
      try {
        addFile(1, TopKIn("a", 1, 30.0), TopKIn("a", 2, 20.0))
        q1.processAllAvailable()
        assert(readOut(outA).length == 2)
      } finally { q1.stop(); q1.awaitTermination() }
      // restart into a FRESH sink: a below-board value must emit NOTHING —
      // only possible if the flatMapGroupsWithState state (the board) was
      // RECOVERED from the checkpoint, not rebuilt empty
      val q2 = start(outB)
      try {
        addFile(2, TopKIn("a", 3, 5.0))
        q2.processAllAvailable()
        assert(readOut(outB).isEmpty,
          "recovered state should have suppressed the below-board value")
        // a displacing value merges with the RECOVERED board values
        addFile(3, TopKIn("a", 4, 25.0))
        q2.processAllAvailable()
        val board = readOut(outB)
          .map(r => (r.getInt(1), r.getLong(2), r.getDouble(3))).sorted.toSeq
        assert(board == Seq((1, 1L, 30.0), (2, 4L, 25.0)))
      } finally { q2.stop(); q2.awaitTermination() }
    }
  }

  test("streaming top-k: tied values each hold their own rank (r10 regression)") {
    // Mapping a Scala Map to (value, id) pairs rebuilds a Map KEYED BY
    // VALUE — the pre-fix board silently collapsed tied values to one
    // arbitrary survivor. Caught by an 8x-scale sweep where replicated
    // data ties every value 8 ways; gate-scale values were distinct, so
    // every earlier round passed. Ties must fill the board in id order.
    val src = MemoryStream[TopKIn](spark)
    val q = Streaming.topKPerKey(spark, src.toDF(), k = 3)
      .writeStream.format("memory").queryName("stream_topk_ties")
      .outputMode("append").start()
    try {
      src.addData((1 to 8).map(i => TopKIn("a", i * 10L, 9.0)) :+
        TopKIn("a", 5, 7.0): _*)
      q.processAllAvailable()
      val last = spark.table("stream_topk_ties").collect()
        .map(r => (r.getInt(1), r.getLong(2), r.getDouble(3))).takeRight(3).toSeq
      assert(last == Seq((1, 10L, 9.0), (2, 20L, 9.0), (3, 30L, 9.0)))
    } finally q.stop()
  }

  test("streaming top-k: replayed event_id with changed value holds ONE rank") {
    val src = MemoryStream[TopKIn](spark)
    val q = Streaming.topKPerKey(spark, src.toDF(), k = 3)
      .writeStream.format("memory").queryName("stream_topk_replay")
      .outputMode("append").start()
    try {
      src.addData(TopKIn("c", 7, 10.0), TopKIn("c", 8, 5.0))
      q.processAllAvailable()
      src.addData(TopKIn("c", 7, 40.0)) // replay of id 7 with a new value
      q.processAllAvailable()
      val rows = spark.table("stream_topk_replay").collect()
        .map(r => (r.getInt(1), r.getLong(2), r.getDouble(3)))
      // final snapshot: id 7 appears exactly once, at its max value
      val last = rows.takeRight(2).toSeq
      assert(last == Seq((1, 7L, 40.0), (2, 8L, 5.0)))
      assert(last.count(_._2 == 7L) == 1)
    } finally q.stop()
  }

  test("streaming dedup within watermark drops duplicate ids") {
    val src = MemoryStream[Ev](spark)
    val q = Streaming.dedupWithinWatermark(src.toDF(), "1 hour")
      .writeStream.format("memory").queryName("stream_dedup")
      .outputMode("append").start()
    try {
      src.addData(
        Ev(1, ts("2024-01-01 10:00:00"), 1, "a"),
        Ev(1, ts("2024-01-01 10:00:01"), 1, "a"),  // dup id within watermark
        Ev(2, ts("2024-01-01 10:02:00"), 2, "b"))
      q.processAllAvailable()
      assert(spark.table("stream_dedup").count() == 2)
    } finally q.stop()
  }

  test("StreamGate leaves only its end-state dir behind") {
    import scala.jdk.CollectionConverters._
    def scratch() = scala.util.Using.resource(
        java.nio.file.Files.list(Scratch.base))(_.iterator.asScala
      .map(_.getFileName.toString).filter(_.startsWith("graft_stream_")).toSet)
    val before = scratch()
    // the late-census gate makes all three kinds: checkpoint, a copy of
    // events as its arrival batches, and the end state
    val census = StreamGate.lateCensusEndState(spark, TestSpark.sf0001)
    val left = scratch() -- before
    assert(left.size == 1 && left.head.startsWith("graft_stream_out"), left)
    // the returned frame still reads its end state; that dir is deleted at
    // JVM exit, which this in-process test cannot observe
    assert(census.count() > 0)
  }
}
