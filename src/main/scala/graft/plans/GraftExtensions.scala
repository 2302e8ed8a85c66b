package graft.plans

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}

/** Installs graft's planner extensions: the top-k planner strategy and the
  * window top-k optimizer rule. The native expressions need no
  * installation; they are typed Columns ([[Natives]]).
  *
  * Two entry points:
  *   - config-time: `--conf spark.sql.extensions=graft.plans.GraftExtensions`
  *     (the standard SparkSessionExtensions hook);
  *   - runtime: [[GraftExtensions.ensureRegistered]], called once per
  *     session by `graft.Session.build` and by `graft.SparkEntry.queries`
  *     for sessions the library did not build (the driver harness builds
  *     its own).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectPlannerStrategy(_ => TopKPerKeyStrategy)
    ext.injectOptimizerRule(_ => WindowTopKRewrite)
  }
}

object GraftExtensions {
  /** Idempotent runtime installation into an existing session through the
    * public `experimental` hooks. Synchronized: sessions may be handed to
    * concurrently-built queries (e.g. a parallel Verify). */
  def ensureRegistered(spark: SparkSession): Unit = synchronized {
    val experimental =
      org.apache.spark.sql.GraftBridge.classicSession(spark).experimental
    if (!experimental.extraStrategies.contains(TopKPerKeyStrategy))
      experimental.extraStrategies = experimental.extraStrategies :+ TopKPerKeyStrategy
    if (!experimental.extraOptimizations.contains(WindowTopKRewrite))
      experimental.extraOptimizations =
        experimental.extraOptimizations :+ WindowTopKRewrite
  }
}
