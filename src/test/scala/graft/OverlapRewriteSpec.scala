package graft

import java.sql.Timestamp
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** OverlapJoinRewrite: the inequality-only overlap join is rebuilt as a
  * bucket equi-join automatically, with identical results. */
class OverlapRewriteSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private lazy val left = Seq(
    (1L, ts("2024-01-01 10:00:00"), ts("2024-01-01 11:00:00")),
    (2L, ts("2024-01-01 23:30:00"), ts("2024-01-02 00:30:00")), // crosses buckets
    (3L, ts("2024-01-05 10:00:00"), ts("2024-01-05 11:00:00")),
    (4L, ts("2024-02-01 00:00:00"), ts("2024-02-03 00:00:00"))  // 2-day interval
  ).toDF("lid", "ls", "le")

  private lazy val right = Seq(
    (10L, ts("2024-01-01 10:30:00"), ts("2024-01-01 10:45:00")), // inside 1
    (11L, ts("2024-01-01 11:00:00"), ts("2024-01-01 12:00:00")), // touches 1: NO overlap
    (12L, ts("2024-01-02 00:00:00"), ts("2024-01-02 00:10:00")), // overlaps 2
    (13L, ts("2024-02-02 12:00:00"), ts("2024-02-02 13:00:00")), // inside 4
    (14L, ts("2024-03-01 00:00:00"), ts("2024-03-01 01:00:00"))  // far away
  ).toDF("rid", "rs", "re")

  private def naiveJoin = left.join(right,
    col("ls") < col("re") && col("rs") < col("le"))

  private val expected = Set((1L, 10L), (2L, 12L), (4L, 13L))

  test("rewrites the nested-loop overlap join to a bucket equi-join, same result") {
    val df = naiveJoin
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"rule did not fire:\n$p")
    assert(p.contains("_graft_bucket"), s"bucket columns missing:\n$p")
    val got = df.select("lid", "rid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expected)
    // exactly-once even for pairs whose intervals share many buckets
    assert(df.count() == expected.size)
  }

  test("disabled by conf: the naive plan comes back, results unchanged") {
    spark.conf.set("spark.graft.overlapJoin.enabled", "false")
    try {
      val df = naiveJoin
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("BroadcastNestedLoopJoin") || p.contains("CartesianProduct"))
      val got = df.select("lid", "rid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == expected)
    } finally spark.conf.unset("spark.graft.overlapJoin.enabled")
  }

  test("closed bounds (<=): touching intervals DO match, still bucket-planned") {
    val df = left.join(right,
      col("ls") <= col("re") && col("rs") <= col("le"))
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin") && p.contains("_graft_bucket"),
      s"rule did not fire on <=:\n$p")
    val got = df.select("lid", "rid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // closed semantics add the touching pair (1, 11): le == rs at 11:00
    assert(got == expected + ((1L, 11L)))
  }

  test("equi-joins and mixed conditions are left alone") {
    val l2 = left.withColumn("k", col("lid") % 2)
    val r2 = right.withColumn("k", col("rid") % 2)
    val df = l2.join(r2, l2("k") === r2("k") && col("ls") < col("re") && col("rs") < col("le"))
    assert(!df.queryExecution.executedPlan.toString.contains("_graft_bucket"))
  }

  test("null endpoints never join (matches the naive predicate)") {
    val lNull = Seq((9L, Option.empty[Timestamp], Option(ts("2024-01-01 11:00:00"))))
      .toDF("lid", "ls", "le")
    val got = lNull.join(right, col("ls") < col("re") && col("rs") < col("le"))
    assert(got.count() == 0)
  }
}
