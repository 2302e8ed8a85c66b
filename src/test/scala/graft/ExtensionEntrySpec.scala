package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ops.TextOps
import graft.plans.{TopKPerKeyStrategy, WindowTopKRewrite}

/** Each graft extension has one way into a plan: natives are typed Columns
  * that run on any session, and the planner rules arrive with
  * `SparkEntry.queries` — so a caller-built session plans every query the
  * same way, whatever ran in it before. */
class ExtensionEntrySpec extends AnyFunSuite {

  test("a caller-built session runs natives and plans the heap top-k with no registration call") {
    // newSession(): fresh session state, none of TestSpark's installed
    // rules; one per check, so neither sees what the other installed
    val docs = Tables.documents(TestSpark.spark.newSession(), TestSpark.sf0001)
    assert(TextOps.fingerprint(docs).count() == docs.count())
    val fresh = TestSpark.spark.newSession()
    for (name <- Seq("win_top3_orders_per_customer", "samp_n_per_group")) {
      val plan = SparkEntry.queries(name)(fresh, TestSpark.sf0001)
        .queryExecution.executedPlan.toString
      assert(plan.contains("TopKPerKey"), s"$name plans no heap top-k:\n$plan")
      assert(!plan.contains("WindowGroupLimit"), s"$name plans Spark's group limit:\n$plan")
    }
  }

  test("Session.build installs exactly the heap top-k strategy and rule") {
    val experimental = org.apache.spark.sql.GraftBridge
      .classicSession(TestSpark.spark).experimental
    assert(experimental.extraStrategies == Seq(TopKPerKeyStrategy))
    assert(experimental.extraOptimizations == Seq(WindowTopKRewrite))
  }
}
