package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (SparkContext is JVM-global, so
  * per-suite sessions would serialize anyway). It ignores the environment's
  * posture knobs: always local[4] with 4 shuffle partitions, whatever core
  * count the test run exports. */
object TestSpark {
  lazy val spark: SparkSession = Session.build(env = Map(Session.Cpus -> "4"))

  lazy val sf0001 = "/root/testdata/sf0.001"
}
