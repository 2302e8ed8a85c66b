package graft

import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayBuffer

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted,
  SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._
import org.scalatest.Tag
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Dedup, Rank}

/** Tag for the heavier synthetic-scale tests (run by default; filter with
  * `testOnly -- -l graft.SlowStress` when iterating elsewhere). */
object SlowStress extends Tag("graft.SlowStress")

/** Empirical scale-stress checks: the comments in Rank/top-k/Dedup argue
  * their plans stay bounded under skew — these specs MEASURE it on a
  * 10×-sf0.1-sized synthetic with one hot key at 20 %, using real task
  * metrics from a SparkListener. A straggler (one task reading ≫ the
  * median) or an unbounded shuffle here is exactly what would kill the
  * operator at 100 TB. */
class ScaleStressSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private class TaskStats extends SparkListener {
    val byStage = TrieMap[Int, ArrayBuffer[Long]]()
    val submitted = new AtomicInteger
    val completed = new AtomicInteger
    override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit =
      submitted.incrementAndGet()
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
      completed.incrementAndGet()
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val m = t.taskMetrics
      if (m != null)
        byStage.getOrElseUpdate(t.stageId, ArrayBuffer()) +=
          m.shuffleReadMetrics.recordsRead
    }
  }

  /** Runs `action` under a listener; returns per-task shuffle-read record
    * counts per stage (only stages that read a shuffle). */
  private def shuffleStages(action: => Unit): Seq[Seq[Long]] = {
    val l = new TaskStats
    spark.sparkContext.addSparkListener(l)
    try {
      action
      // a stage's completion follows its task ends on the listener bus
      assert(StageProbe.drain(() => l.submitted.get(), () => l.completed.get(),
        System.nanoTime() + 30L * 1000 * 1000 * 1000),
        "listener bus did not drain")
    } finally spark.sparkContext.removeSparkListener(l)
    l.byStage.values.map(_.toSeq).filter(_.exists(_ > 0)).toSeq
  }

  private def assertBalanced(tasks: Seq[Long], factor: Double): Unit = {
    val active = tasks.filter(_ > 0).sorted
    assert(active.size >= 3, s"too few active tasks: $tasks")
    val median = active(active.size / 2)
    assert(active.last <= median * factor,
      s"straggler task: max ${active.last} vs median $median ($active)")
  }

  // 1M rows, one key at 20 %, the rest spread over 37 keys — the "five
  // order priorities at 100 TB" shape the Rank scaladoc warns about
  private def skewedEvents = spark.range(1000000L).select(
    when(col("id") % 5 === 0, lit("hot"))
      .otherwise(concat(lit("t"), col("id") % 37)).as("k"),
    col("id").as("v"))

  test("groupRanks under 20% key skew: no straggler task above 2x median",
      SlowStress) {
    var checked = false
    val stages = shuffleStages {
      val r = Rank.groupRanks(skewedEvents, Seq("k"), Seq(col("v")))
      val hot = r.where(col("k") === "hot")
        .agg(max("rank").as("mx"), count(lit(1)).as("n"),
          min("rank").as("mn")).head()
      // correct dense 1..n ranking of the hot group, not just completion
      assert(hot.getLong(0) == 200000L && hot.getLong(1) == 200000L
        && hot.getLong(2) == 1L)
      checked = true
    }
    assert(checked)
    // the full-data exchange (heaviest stage) must spread the hot group:
    // range partitioning on (k, v) splits it by the order column, so no
    // task reads more than 2x the median even though one KEY is 20%
    val heaviest = stages.maxBy(_.sum)
    assert(heaviest.sum >= 1000000L, s"expected the 1M-row exchange: $stages")
    assertBalanced(heaviest, factor = 2.0)
  }

  test("TopKPerKeyExec under 20% key skew: shuffle carries only partial heaps",
      SlowStress) {
    val k = 5
    val nKeys = 38 // "hot" + t0..t36
    val inputParts = skewedEvents.rdd.getNumPartitions
    var checked = false
    val stages = shuffleStages {
      val ranked = TopKSpec.windowTopK(skewedEvents, Seq("k"), Seq(("v", true)), k)
      assert(ranked.queryExecution.executedPlan.toString.contains("TopKPerKeyPartial"))
      val top = ranked.collect()
      // hot key's top-5 by value desc is exactly the 5 largest hot ids
      val hotTop = top.filter(_.getString(0) == "hot")
        .map(r => (r.getInt(2), r.getLong(1))).sorted.toSeq
      assert(hotTop == (1 to k).map(i => (i, 999995L - 5L * (i - 1))))
      checked = true
    }
    assert(checked)
    // map-side heap pruning is THE scale property: at most k rows per
    // (key, input partition) may cross the exchange — 100 TB of input
    // shuffles at most |keys| * P * k rows, independent of row count
    val shuffled = stages.map(_.sum).max
    assert(shuffled <= nKeys.toLong * inputParts * k,
      s"partial pass leaked past the exchange: $shuffled rows shuffled")
  }

  test("minhashLsh under a 20% boilerplate flood: caps bound the pair work",
      SlowStress) {
    val nDocs = 50000L
    val nFlood = 10000L // ids ≡ 0 (mod 5)
    val docs = spark.range(nDocs).select(
      col("id").as("doc_id"),
      when(col("id") % 5 === 0, lit("spam spam spam buy now cheap deal wow"))
        .otherwise(concat_ws(" ",
          (0 until 8).map(j => concat(lit("u"), col("id"), lit(s"x$j"))): _*))
        .as("text"))
    // completes, and produces no REAL pairs: unique docs share nothing
    // (the handful of survivors are birthday band-hash collisions —
    // n_common = 0, killed by any jaccard threshold), and the 10k-doc
    // boilerplate bucket is exactly what MaxBucket drops (its members are
    // exact dups — Dedup.exact's job, not LSH's). Without the cap this
    // line would attempt ~400M in-bucket pairs.
    val pairs = Dedup.minhashLsh(docs).collect()
    assert(pairs.length <= 100, s"candidate explosion: ${pairs.length} pairs")
    assert(pairs.forall(_.getInt(2) == 0), "a flood pair escaped the cap")
    // ... and the census makes that drop visible and exactly accounted:
    // all 8 bands collapse the flood into one capped bucket each
    val census = Dedup.capCensus(docs).collect()
      .map(r => r.getString(0) -> (r.getLong(2), r.getLong(3))).toMap
    val floodPairs = nFlood * (nFlood - 1) / 2
    assert(census("minhash_band")._1 >= 8L)
    assert(census("minhash_band")._2 >= 8L * floodPairs)
    assert(census("shared_gram")._1 > 0L)
    assert(census("simhash_chunk")._2 >= 4L * floodPairs)
  }
}
