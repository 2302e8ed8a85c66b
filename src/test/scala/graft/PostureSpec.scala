package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{CrimePipeline, Parity, Rank}

/** Results must not depend on how Spark executes them. Each operator runs
  * on a small fixture in a fresh session under each posture below, and its
  * rows must equal those of the default posture:
  *   - AQE on with 200 shuffle partitions (the cluster-shaped exchange);
  *   - AQE off with 1 shuffle partition;
  *   - exchange reuse off, where Rank's two passes cannot share one range
  *     exchange and its local pass must be materialized instead. */
class PostureSpec extends AnyFunSuite {
  import TestSpark.spark

  private val postures = Seq(
    "aqe, 200 partitions" -> Map("spark.sql.adaptive.enabled" -> "true",
      "spark.sql.shuffle.partitions" -> "200"),
    "no aqe, 1 partition" -> Map("spark.sql.adaptive.enabled" -> "false",
      "spark.sql.shuffle.partitions" -> "1"),
    "no exchange reuse" -> Map("spark.sql.exchange.reuse" -> "false"))

  private def session(confs: Map[String, String]): SparkSession = {
    val s = spark.newSession()
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    s
  }

  /** `build`'s rows under every posture equal its rows in a default
    * session: in order when `ordered`, else as a multiset. */
  private def invariant(ordered: Boolean)(build: SparkSession => DataFrame): Unit = {
    def rows(s: SparkSession): Seq[Row] = {
      val got = build(s).collect().toSeq
      if (ordered) got else got.sortBy(_.toString)
    }
    val want = rows(session(Map.empty))
    assert(want.nonEmpty)
    for ((name, confs) <- postures) assert(rows(session(confs)) == want, name)
  }

  /** (g, v, id): five groups plus a null one, null and tied values. */
  private def grouped(s: SparkSession): DataFrame = {
    import s.implicits._
    (0 until 240).map { i =>
      (if (i % 37 == 0) None else Some(s"g${i % 5}"),
        if (i % 11 == 0) None else Some(i * 7919L % 53), i.toLong)
    }.toDF("g", "v", "id")
  }

  /** An `events` fixture: 40 days, a null timestamp and a null type. */
  private def events(s: SparkSession): DataFrame = {
    import s.implicits._
    val t0 = java.time.Instant.parse("2013-01-01T00:00:00Z")
    (0 until 300).map { i =>
      (i.toLong, if (i % 41 == 0) None else Some(t0.plusSeconds(i * 7919L % (40 * 86400))),
        (i % 13).toLong - 2, if (i % 29 == 0) None else Some(Seq("view", "click", "buy")(i % 3)))
    }.toDF("event_id", "ts", "user_id", "event_type")
  }

  private val byValue = Seq(col("v"), col("id"))

  test("posture: Rank.groupRanks with and without groups") {
    invariant(ordered = false)(s => Rank.groupRanks(grouped(s), Seq("g"), byValue))
    invariant(ordered = false)(s => Rank.groupRanks(grouped(s), Seq.empty, byValue))
  }

  test("posture: Rank.discPercentiles") {
    invariant(ordered = false)(s => Rank.discPercentiles(grouped(s), Seq("g"), "v",
      Seq((1, 4), (1, 2), (9, 10)), Seq("p25", "p50", "p90")))
  }

  test("posture: Rank.groupRunningSums") {
    invariant(ordered = false)(s => Rank.groupRunningSums(grouped(s), Seq("g"), byValue, "v"))
  }

  test("posture: the dense-count and daily-cell builders") {
    invariant(ordered = true)(s => CrimePipeline.denseCounts(grouped(s), col("g"), "g",
      col("v") % 4, (0 to 2).map(b => b -> s"c$b")))
    invariant(ordered = true)(s => Parity.dailyCubeIndexed(events(s)))
  }
}
