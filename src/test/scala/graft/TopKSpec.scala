package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Relational

/** The heap-based top-k operator, entered through its one planner path
  * (`WindowTopKRewrite` over the idiomatic window form), must agree
  * row-for-row with the window formulation's row_number semantics, and its
  * physical plan must contain the custom exec with NO window/sort doing the
  * ranking. */
class TopKSpec extends AnyFunSuite {
  import TestSpark.spark
  import TopKSpec.windowTopK

  private def ordersTop3 = windowTopK(
    Tables.orders(spark, TestSpark.sf0001)
      .select("o_custkey", "o_orderkey", "o_totalprice"),
    keys = Seq("o_custkey"),
    orderSpec = Seq(("o_totalprice", true), ("o_orderkey", false)), k = 3)

  test("heap top-k == window row_number top-k on real data") {
    val orders = Tables.orders(spark, TestSpark.sf0001)
    val viaWindow = orders.select("o_custkey", "o_orderkey", "o_totalprice")
      // a nulls-last ascending key (o_orderkey has no nulls) is outside the
      // rewrite's safe shape, so this side really runs Spark's Window
      .withColumn("rn", row_number().over(Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc_nulls_last)))
      .where(col("rn") <= 3)
    val windowPlan = viaWindow.queryExecution.executedPlan.toString
    assert(windowPlan.contains("Window [") && !windowPlan.contains("TopKPerKey"))
    val viaHeap = ordersTop3
    assert(viaHeap.queryExecution.executedPlan.toString.contains("TopKPerKey"))
    def rows(df: DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(rows(viaHeap) == rows(viaWindow))
  }

  test("physical plan uses TopKPerKeyExec with no Window operator") {
    val plan = ordersTop3.queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerKey"))
    assert(!plan.contains("Window"))
  }

  test("optimizer rule rewrites the idiomatic window top-k into the heap operator") {
    val viaWindow = Relational.topOrdersPerCustomer(
      Tables.orders(spark, TestSpark.sf0001), 3)
    val plan = viaWindow.queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerKey"),
      s"window top-k should auto-rewrite to the heap operator:\n$plan")
    // neither the Window exec nor Spark's sort-based WindowGroupLimit remains
    assert(!plan.contains("WindowGroupLimit"), s"redundant group limit:\n$plan")
    assert(!plan.contains("Window ["))
    // and results are still the reference row_number semantics
    val rows = viaWindow.collect()
    assert(rows.nonEmpty && rows.forall(_.getInt(3) <= 3))
  }

  test("partial heap pass prunes below the exchange (map-side top-k)") {
    val ranked = windowTopK(
      Tables.orders(spark, TestSpark.sf0001)
        .select("o_custkey", "o_orderkey", "o_totalprice")
        .repartition(8), // force a genuinely multi-partition child
      keys = Seq("o_custkey"),
      orderSpec = Seq(("o_totalprice", true), ("o_orderkey", false)), k = 3)
    val plan = ranked.queryExecution.executedPlan.toString
    val iFinal = plan.indexOf("TopKPerKeyFinal")
    val iExchange = plan.indexOf("Exchange hashpartitioning")
    val iPartial = plan.indexOf("TopKPerKeyPartial")
    assert(iFinal >= 0 && iExchange >= 0 && iPartial >= 0,
      s"expected final + key exchange + partial in plan:\n$plan")
    // tree prints top-down: final ABOVE the key exchange, partial BELOW it
    assert(iFinal < iExchange && iExchange < iPartial,
      s"partial pass must run below the exchange:\n$plan")
    // ranks are still the global per-key row_number semantics
    val viaWindow = Relational.topOrdersPerCustomer(
      Tables.orders(spark, TestSpark.sf0001), 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    val got = ranked.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(got == viaWindow)
  }

  test("handles groups smaller than k and unknown columns fail cleanly") {
    import spark.implicits._
    val tiny = Seq((1L, 10L, 5.0), (1L, 11L, 7.0), (2L, 20L, 1.0))
      .toDF("k", "id", "v")
    val top = windowTopK(tiny, Seq("k"), Seq(("v", true), ("id", false)), k = 5)
    assert(top.queryExecution.executedPlan.toString.contains("TopKPerKey"))
    val got = top.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(got == Set((1L, 11L, 1), (1L, 10L, 2), (2L, 20L, 1)))
    val err = intercept[Exception] {
      windowTopK(tiny, Seq("nope"), Seq(("v", true)), k = 1).collect()
    }
    assert(err.getMessage.contains("nope"))
  }
}

object TopKSpec {
  /** Top `k` rows per key group in the idiomatic window form, ranked 1..k
    * by `orderSpec` ((column, descending) pairs) into an integer column
    * `rn` appended to `df`'s columns; `WindowTopKRewrite` plans it as the
    * heap operator. */
  def windowTopK(df: DataFrame, keys: Seq[String],
      orderSpec: Seq[(String, Boolean)], k: Int): DataFrame = {
    val order = orderSpec.map { case (c, desc) => if (desc) col(c).desc else col(c) }
    df.withColumn("rn", row_number().over(
        Window.partitionBy(keys.map(col): _*).orderBy(order: _*)))
      .where(col("rn") <= k)
  }
}
