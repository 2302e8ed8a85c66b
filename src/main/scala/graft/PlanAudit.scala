package graft

/** Plan-shape audit over the whole query inventory: per query, the counts
  * that matter at 100× scale — shuffle exchanges, broadcasts, nested-loop /
  * cartesian joins, window operators — plus the custom-operator markers
  * and Spark's sort-based `WindowGroupLimit` (`wgl=`), which a top-k that
  * missed the heap rewrite plans instead.
  * Run with one or more query-name substrings to print the matching
  * queries' `explain("formatted")` plans instead (PushedFilters reaching
  * the scan, WholeStageCodegen spans, broadcast vs shuffle joins).
  *
  * This is a dev tool (the CI-shaped assertions live in PlanSpec); it exists
  * to eyeball NEW queries for accidental shuffles before they ship.
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val spark = Session.build()
    spark.sparkContext.setLogLevel(
      if (sys.env.get("SPARK_GRAFT_AUDIT_EXEC").contains("1")) "WARN" else "ERROR")
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => args.isEmpty || args.exists(n.contains))
    for (name <- names) {
      try {
        val df = SparkEntry.queries(name)(spark, d)
        // SPARK_GRAFT_AUDIT_EXEC=1: actually run each query (sequentially)
        // so runtime-only warnings (e.g. single-partition WindowExec) are
        // attributable to the query that printed just before them
        if (sys.env.get("SPARK_GRAFT_AUDIT_EXEC").contains("1")) {
          println(s">>> exec $name"); Console.flush()
          df.count()
        }
        if (args.nonEmpty) {
          println(s"\n=== $name ===")
          df.explain("formatted")
        } else {
          val executed = df.queryExecution.executedPlan
          val plan = executed.toString
          // single-partition windows (empty partitionSpec, or a constant —
          // both serialize the whole input through one task): the one shape
          // that silently stops scaling. Constant-partition windows over
          // bounded metadata (Rank offsets) declare themselves via lit(0).
          // Under AQE the executedPlan is an AdaptiveSparkPlanExec whose
          // inner plan is NOT a `children` member — plain foreach never
          // descends into it and counted 0 for every query; walk explicitly.
          var globalWin = 0
          def walk(p: org.apache.spark.sql.execution.SparkPlan): Unit = {
            p match {
              case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
                walk(a.executedPlan)
              case w: org.apache.spark.sql.execution.window.WindowExec
                if w.partitionSpec.isEmpty => globalWin += 1
              case _ =>
            }
            p.children.foreach(walk)
          }
          walk(executed)
          def c(m: String) = plan.linesIterator.count(_.contains(m))
          val flags = Seq(
            "shuffle=" + c("Exchange hashpartitioning"),
            "rangeEx=" + c("Exchange rangepartitioning"),
            "bcast=" + c("BroadcastExchange"),
            "bnlj=" + c("BroadcastNestedLoopJoin"),
            "smj=" + c("SortMergeJoin"),
            "cart=" + c("CartesianProduct"),
            "win=" + c("Window ["),
            "globalWin=" + globalWin,
            "topk=" + c("TopKPerKey"),
            "wgl=" + c("WindowGroupLimit"))
          println(f"$name%-34s ${flags.mkString(" ")}")
        }
      } catch { case e: Throwable =>
        println(s"$name AUDIT-ERROR: ${e.getMessage.linesIterator.next()}")
      }
    }
    spark.stop()
  }
}
