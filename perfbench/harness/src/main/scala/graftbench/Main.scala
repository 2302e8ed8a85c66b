package graftbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{SparkEntry, Tables}
import graft.ops.CrimePipeline

/** The benchmark's JVM side. One process runs one workload in one warm
  * `local[cores]` session, as a closed loop with a single client: the
  * driver thread runs one query at a time.
  *
  *   1. set-up: session start, table warm-up, one untimed warm-up pass
  *      whose results are kept for the DuckDB check;
  *   2. timed passes, each a seeded permutation of the workload's
  *      queries, until `--seconds` have passed;
  *   3. with `--trace 1`, every second pass runs with the [[Collector]]
  *      attached and the layer breakdown is computed from those passes.
  *
  * Writes `result.json` (executions, pass times, posture, layers) and
  * `trace.json` (spans) into `--out`. */
object Main {
  final case class Conf(workload: String, seed: Long, seconds: Double,
      trace: Boolean, out: String, data: String, crimeCsv: String,
      cores: Int, checkCache: String)

  val CrimeUnit = "crime_run_all"

  /** The workloads' queries, in their unpermuted order. */
  val workloads: Map[String, Seq[String]] = Map(
    "crime_etl" -> Seq(CrimeUnit),
    "olap_headline" -> (SparkEntry.headlineQueries ++ Seq(
      "agg_winsorized_prices", "profile_robust_outliers",
      "win_ntile_priority")),
    "llm_dedup" -> Seq(
      "dedup_minhash_lsh", "dedup_prefix_filter", "dedup_survivors",
      "dedup_cluster_components", "corpus_retention_funnel",
      "corpus_hard_negatives", "sim_tfidf_pairs", "sim_lsh_topk"))

  /** Untimed passes after the checked warm-up pass. The crime pipeline's
    * CSV parsing and writers keep compiling for two more passes (after a
    * single warm-up pass, the first two timed passes ran up to 40% slower
    * than later ones), so its timed passes start after them. */
  val extraWarmups: Map[String, Int] =
    Map("crime_etl" -> 2).withDefaultValue(0)

  /** The crime pipeline's output directories under one run's out dir. */
  val CrimeOutputs = Seq("bycategory", "bydistrict", "star", "badrecords")

  final case class Exec(unit: String, pass: Int, seconds: Double,
      ok: Boolean, error: String, fingerprint: String, rows: Long)

  def parse(argv: Array[String]): Conf = {
    val m = argv.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    def need(k: String) =
      m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val c = Conf(need("workload"), need("seed").toLong,
      need("seconds").toDouble, need("trace") == "1", need("out"),
      need("data"), m.getOrElse("crime-csv", ""), need("cores").toInt,
      need("check-cache"))
    require(workloads.contains(c.workload), s"unknown workload ${c.workload}")
    c
  }

  /** The session every pass runs in. Spark's scratch space follows
    * `SPARK_LOCAL_DIRS`, which the launcher points into the run's
    * directory. */
  def session(c: Conf): SparkSession = {
    val out = new File(c.out).getAbsoluteFile
    SparkSession.builder()
      .master(s"local[${c.cores}]")
      .appName(s"perfbench-${c.workload}")
      .config("spark.sql.shuffle.partitions", c.cores.toString)
      .config("spark.sql.files.maxPartitionBytes", "128m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", new File(out, "warehouse").getPath)
      .getOrCreate()
  }

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def writeJson(dir: File, name: String, value: Any): Unit =
    Files.write(Paths.get(dir.getPath, name), mapper.writeValueAsBytes(value))

  def sha(s: String): String =
    MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes(StandardCharsets.UTF_8))
      .take(8).map(b => f"$b%02x").mkString

  /** Order-insensitive digest of a result: row count plus the hash of the
    * sorted rendered rows, so two executions agree exactly when they
    * return the same multiset of rows. */
  def digest(lines: Seq[String]): String =
    sha(lines.sorted.mkString("\n")) + s":${lines.size}"

  /** Physical-plan shape with expression ids, file locations and JVM
    * object identities (lambda classes, hash codes) removed, so the same
    * plan hashes the same in every checkout and run. */
  def planFingerprint(df: DataFrame): String =
    sha(df.queryExecution.executedPlan.treeString
      .replaceAll("#\\d+L?", "#")
      .replaceAll("file:[^,\\]\\s]*", "file:")
      .replaceAll("plan_id=\\d+", "plan_id")
      .replaceAll("\\$\\$Lambda[^\\s,\\]]*", "\\$\\$Lambda")
      .replaceAll("@[0-9a-f]{4,}", "@"))

  /** Peak resident set of this JVM in MB (Linux `VmHWM`), or -1. */
  def peakRssMb(): Double =
    try {
      Files.readAllLines(Paths.get("/proc/self/status")).asScala
        .find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
    } catch { case _: Exception => -1.0 }

  def main(argv: Array[String]): Unit = {
    val c = parse(argv)
    val outDir = new File(c.out)
    outDir.mkdirs()
    val spark = session(c)
    spark.sparkContext.setLogLevel("ERROR")
    try run(spark, c, outDir)
    finally spark.stop()
  }

  /** Planning phases of every query execution seen while registered. */
  final class Phases extends QueryExecutionListener {
    val seen: mutable.ArrayBuffer[Map[String, Long]] = mutable.ArrayBuffer()
    private def record(qe: QueryExecution): Unit = synchronized {
      seen += qe.tracker.phases.map { case (k, v) => k -> v.durationMs }
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution,
        e: Exception): Unit = record(qe)
    def take(): Seq[Map[String, Long]] = synchronized {
      val r = seen.toList
      seen.clear()
      r
    }
  }

  def run(spark: SparkSession, c: Conf, outDir: File): Unit = {
    val sc = spark.sparkContext
    val tracer = new Tracer(sc)
    val units = workloads(c.workload)
    val execs = mutable.ArrayBuffer[Exec]()
    val plans = mutable.LinkedHashMap[String, String]()
    val checks = mutable.ArrayBuffer[Map[String, Any]]()
    // warm-up results of the parquet queries with their digests, written
    // out for the check after the timed passes
    val toWrite =
      mutable.ArrayBuffer[(String, Array[Row], StructType, String)]()
    val checkDir = new File(outDir, "check").getAbsolutePath
    val crimePassDir = new File(outDir, "crime-pass").getAbsolutePath

    def crimeDigest(dir: String): String =
      CrimeOutputs.map { o =>
        val files = Option(new File(dir, o).listFiles()).getOrElse(Array())
          .filter(f => f.getName.startsWith("part-")).sortBy(_.getName)
        o + "=" + digest(files.toSeq.flatMap(f =>
          Files.readAllLines(f.toPath, StandardCharsets.UTF_8).asScala))
      }.mkString(";")

    /** One execution of one unit; `check` keeps its output for DuckDB. */
    def runUnit(u: String, pass: Int, check: Boolean): Exec = {
      val qs = tracer.start("query", u)
      try {
        val (fp, rows) =
          if (u == CrimeUnit) {
            val dir = if (check) s"$checkDir/$CrimeUnit" else crimePassDir
            tracer.span("execute", u)(
              CrimePipeline.runAll(spark, c.crimeCsv, dir))
            tracer.end(qs)
            if (check) checks += Map("unit" -> u, "kind" -> "crime",
              "dir" -> dir)
            (crimeDigest(dir), -1L)
          } else {
            val df = tracer.span("build", u)(
              SparkEntry.queries(u)(spark, c.data))
            tracer.span("plan", u)(df.queryExecution.executedPlan)
            // the plan as planned, before adaptive execution re-plans it
            // from runtime statistics (which can differ run to run)
            if (check) plans(u) = planFingerprint(df)
            val got = tracer.span("execute", u)(df.collect())
            tracer.end(qs)
            val fp = sha(df.schema.catalogString) + ":" +
              digest(got.toSeq.map(_.toString))
            if (check) toWrite += ((u, got, df.schema, fp))
            (fp, got.length.toLong)
          }
        Exec(u, pass, qs.seconds, ok = true, null, fp, rows)
      } catch {
        case e: Throwable =>
          if (qs.endNs < 0) tracer.end(qs)
          val msg = s"${e.getClass.getName}: ${e.getMessage}".take(500)
          System.err.println(s"[perfbench] $u pass $pass FAILED: $msg")
          Exec(u, pass, qs.seconds, ok = false, msg, null, 0L)
      }
    }

    /** Drop what the previous pass left in the block manager, outside
      * every timed window, so each pass starts from the same state. */
    def cleanup(): Unit = {
      spark.catalog.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      System.gc()
    }

    val root = tracer.start("workload", c.workload)
    if (c.workload != "crime_etl")
      tracer.span("warmup", "tables") {
        Tables.names.foreach(n => Tables.table(spark, c.data, n).count())
      }
    val warm = tracer.start("pass", "warmup")
    warm.attrs("index") = 0
    units.foreach(u => execs += runUnit(u, 0, check = true))
    tracer.end(warm)
    // extra warm-up passes are numbered -1, -2, ...: not timed, but their
    // results are checked against the warm-up pass like any other
    for (w <- 1 to extraWarmups(c.workload)) {
      cleanup()
      val ws = tracer.start("pass", s"warmup$w")
      ws.attrs("index") = -w
      units.foreach(u => execs += runUnit(u, -w, check = false))
      tracer.end(ws)
    }
    val firstPassEpochMs = System.currentTimeMillis()

    val collector = new Collector
    val phases = new Phases
    val passPhases = mutable.HashMap[Int, Seq[Map[String, Long]]]()
    var drained = true
    val passes = mutable.ArrayBuffer[Span]()
    val t0 = System.nanoTime()
    // a traced run alternates untraced and traced passes (for the
    // overhead ratio), starting untraced: the first timed pass still
    // carries some warm-up cost, so it is left out of the comparison
    val minPasses = if (c.trace) 3 else 1
    var p = 0
    // another pass starts only if, at the mean pace so far, it ends within
    // `--seconds`: a run measures at most that long (past its minimum)
    def fits: Boolean = {
      val elapsed = (System.nanoTime() - t0) / 1e9
      elapsed * (p + 1) / p <= c.seconds
    }
    while (p < minPasses || fits) {
      p += 1
      cleanup()
      val traced = c.trace && p % 2 == 0
      if (traced) {
        collector.resetStorage()
        sc.addSparkListener(collector)
        spark.listenerManager.register(phases)
      }
      val order = new Random(c.seed * 1000003L + p).shuffle(units)
      val ps = tracer.start("pass", s"pass$p")
      ps.attrs("index") = p
      ps.attrs("traced") = traced
      ps.attrs("order") = order
      order.foreach(u => execs += runUnit(u, p, check = false))
      tracer.end(ps)
      passes += ps
      if (traced) {
        drained &= collector.drain()
        sc.removeSparkListener(collector)
        spark.listenerManager.unregister(phases)
        passPhases(p) = phases.take()
      }
    }
    val measuredS = (System.nanoTime() - t0) / 1e9
    // Check outputs are kept by query and result digest across runs: a
    // result already written once is not written again. A result that
    // cannot be written has no check, so every execution of its query
    // counts as failed.
    for ((u, got, schema, fp) <- toWrite) {
      val dir = new File(c.checkCache, s"$u/${sha(fp)}")
      try {
        if (!new File(dir, "_SUCCESS").exists()) {
          val tmp = new File(c.checkCache, s"$u/${sha(fp)}.tmp")
          spark.createDataFrame(got.toSeq.asJava, schema)
            .coalesce(1).write.mode("overwrite").parquet(tmp.getPath)
          if (dir.exists()) FileUtils.deleteDirectory(dir)
          Files.move(tmp.toPath, dir.toPath)
        }
        checks += Map("unit" -> u, "kind" -> "parquet",
          "dir" -> dir.getPath, "oracle_sql" -> SparkEntry.oracleSql.get(u))
      } catch {
        case e: Exception =>
          System.err.println(s"[perfbench] $u check output FAILED: $e")
      }
    }
    tracer.end(root)

    // a pass's time is the sum of its query executions: the harness's own
    // bookkeeping between queries (result digests) is not part of it
    def passSeconds(ps: Span): Double = tracer.spans
      .filter(s => s.parent == ps.id && s.kind == "query").map(_.seconds).sum
    val layers =
      if (c.trace) Layers.compute(tracer, collector, passes.toSeq,
        passPhases.toMap, passSeconds, c.cores)
      else Map.empty[String, Double]

    val posture = Map(
      "workload" -> c.workload, "seed" -> c.seed,
      "master" -> sc.master, "cores" -> c.cores,
      "spark_version" -> spark.version,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "aqe" -> spark.conf.get("spark.sql.adaptive.enabled"),
      "max_partition_bytes" ->
        spark.conf.get("spark.sql.files.maxPartitionBytes"),
      "checkpoint_mode" ->
        (if (sc.getCheckpointDir.isDefined) "reliable" else "local"),
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "warmup_passes" -> (1 + extraWarmups(c.workload)),
      "java_version" -> System.getProperty("java.version"),
      "plan_fingerprints" -> plans)

    val result = Map(
      "posture" -> posture,
      "first_pass_epoch_ms" -> firstPassEpochMs,
      "measured_s" -> measuredS,
      "passes" -> passes.map(ps => Map(
        "index" -> ps.attrs("index"), "traced" -> ps.attrs("traced"),
        "seconds" -> passSeconds(ps))),
      "executions" -> execs.map(e => Map(
        "unit" -> e.unit, "pass" -> e.pass, "seconds" -> e.seconds,
        "ok" -> e.ok, "error" -> e.error, "fingerprint" -> e.fingerprint,
        "rows" -> e.rows)),
      "checks" -> checks,
      "layers" -> layers,
      "layers_partial" -> (c.trace && !drained),
      "peak_rss_mb" -> peakRssMb())
    writeJson(outDir, "result.json", result)
    writeJson(outDir, "trace.json", Map(
      "posture" -> posture,
      "partial" -> (c.trace && !drained),
      "spans" -> Layers.spanRecords(tracer, collector)))
  }
}
