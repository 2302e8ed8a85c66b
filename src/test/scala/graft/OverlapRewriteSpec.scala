package graft

import java.sql.Timestamp
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops.Intervals

/** Intervals.overlapJoin rewrites the inequality-only overlap join as a
  * bucket equi-join; a row with a null endpoint must still join nothing,
  * exactly as under the naive predicate. */
class OverlapRewriteSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private lazy val right = Seq(
    (10L, ts("2024-01-01 10:30:00"), ts("2024-01-01 10:45:00")),
    (11L, ts("2024-01-01 11:00:00"), ts("2024-01-01 12:00:00")),
    (12L, ts("2024-01-02 00:00:00"), ts("2024-01-02 00:10:00")),
    (13L, ts("2024-02-02 12:00:00"), ts("2024-02-02 13:00:00")),
    (14L, ts("2024-03-01 00:00:00"), ts("2024-03-01 01:00:00"))
  ).toDF("rid", "rs", "re")

  test("null endpoints never join (matches the naive predicate)") {
    val lNull = Seq(
      (9L, Option.empty[Timestamp], Option(ts("2024-01-01 11:00:00"))),
      (8L, Option(ts("2024-01-01 10:00:00")), Option.empty[Timestamp])
    ).toDF("lid", "ls", "le")
    val naive = lNull.join(right, col("ls") < col("re") && col("rs") < col("le"))
    assert(naive.count() == 0)
    assert(Intervals.overlapJoin(lNull, "ls", "le", right, "rs", "re").count() == 0)
  }
}
