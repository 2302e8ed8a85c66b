package graft
import org.apache.spark.network.util.JavaUtils
import org.apache.spark.sql.SparkSession
import graft.plans.GraftExtensions

/** The one SparkSession factory for every graft main and the tests, so
  * Verify, Bench, StageProbe and the rest always run under the same
  * execution posture. Posture knobs (environment):
  *
  *   - `SPARK_GRAFT_CPUS`: `local[N]` cores; default min(32, nproc).
  *   - `SPARK_GRAFT_SHUFFLE_PARTITIONS`: `spark.sql.shuffle.partitions`;
  *     default the core count.
  *   - `SPARK_GRAFT_AQE`: `0` or `1` pins `spark.sql.adaptive.enabled`;
  *     unset leaves Spark's default.
  *   - `SPARK_GRAFT_MAX_PARTITION_BYTES`: `spark.sql.files.maxPartitionBytes`
  *     (e.g. `4m`); unset leaves Spark's default.
  *
  * `SHUFFLE_PARTITIONS=200` with `AQE=1` is the cluster-shaped exchange
  * posture. A small split keeps bytes-per-task constant across replica
  * scales: a single-file table otherwise reads as one split until 128 MB.
  *
  * A knob that is not set pins nothing: a builder `.config` overrides a
  * `-Dspark.*` JVM property, and `tools/invariance.sh small-splits` passes
  * the split size exactly that way. The session is always UTC with the UI
  * off, and graft's planner extensions are installed on it
  * ([[GraftExtensions.ensureRegistered]]). The effective posture goes to
  * stderr once per session, keeping stdout free for Bench's one JSON line.
  */
object Session {
  val Cpus = "SPARK_GRAFT_CPUS"
  val ShufflePartitions = "SPARK_GRAFT_SHUFFLE_PARTITIONS"
  val Aqe = "SPARK_GRAFT_AQE"
  val MaxPartitionBytes = "SPARK_GRAFT_MAX_PARTITION_BYTES"

  /** Session confs (master included) for the posture knobs in `env`;
    * throws IllegalArgumentException naming the knob on a malformed value. */
  def resolve(env: Map[String, String],
      nproc: Int = Runtime.getRuntime.availableProcessors): Map[String, String] = {
    def bad(knob: String, want: String): Nothing =
      throw new IllegalArgumentException(s"$knob must be $want, got '${env(knob)}'")
    val cores = positiveInt(env, Cpus).getOrElse(math.min(32, nproc))
    val aqe = env.get(Aqe).map {
      case "1" => "true"
      case "0" => "false"
      case _ => bad(Aqe, "0 or 1")
    }
    val split = env.get(MaxPartitionBytes).map { v =>
      val bytes = try JavaUtils.byteStringAsBytes(v)
        catch { case _: NumberFormatException => 0L }
      if (bytes <= 0) bad(MaxPartitionBytes, "a positive byte size such as 4m")
      v
    }
    Map(
      "spark.master" -> s"local[$cores]",
      "spark.sql.shuffle.partitions" ->
        positiveInt(env, ShufflePartitions).getOrElse(cores).toString,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false") ++
      aqe.map("spark.sql.adaptive.enabled" -> _) ++
      split.map("spark.sql.files.maxPartitionBytes" -> _)
  }

  /** `knob`'s value in `env` as a positive integer, if set; throws
    * IllegalArgumentException naming the knob on any other value. */
  def positiveInt(env: Map[String, String], knob: String): Option[Int] =
    env.get(knob).map(v => v.toIntOption.filter(_ > 0).getOrElse(
      throw new IllegalArgumentException(s"$knob must be a positive integer, got '$v'")))

  /** Build (or return) the session for `env`'s posture plus `extra` confs,
    * with graft's planner extensions installed. */
  def build(extra: Map[String, String] = Map.empty,
      env: Map[String, String] = sys.env): SparkSession = {
    val spark = SparkSession.builder().config(resolve(env) ++ extra).getOrCreate()
    GraftExtensions.ensureRegistered(spark)
    System.err.println(posture(spark))
    spark
  }

  /** The effective posture as one line, read back from the live session. */
  private[graft] def posture(spark: SparkSession): String = {
    val sc = spark.sparkContext
    val split = JavaUtils.byteStringAsBytes(
      spark.conf.get("spark.sql.files.maxPartitionBytes"))
    s"[session] master=${sc.master} " +
      s"shuffle.partitions=${spark.conf.get("spark.sql.shuffle.partitions")} " +
      s"aqe=${spark.conf.get("spark.sql.adaptive.enabled")} " +
      s"maxPartitionBytes=$split " +
      s"checkpointDir=${sc.getCheckpointDir.getOrElse("none")}"
  }
}
