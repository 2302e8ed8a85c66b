package graftbench

/** Per-layer numbers of a traced run: each metric is computed per traced
  * pass from the spans and the [[Collector]]'s records, then reported as
  * the median over the traced passes. */
object Layers {
  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Total length of the union of `[start, end)` intervals. */
  private def covered(iv: Seq[(Double, Double)]): Double =
    iv.sortBy(_._1).foldLeft((0.0, Double.NegativeInfinity)) {
      case ((sum, reach), (s, e)) =>
        if (e <= reach) (sum, reach)
        else (sum + e - math.max(s, reach), e)
    }._1

  def compute(tracer: Tracer, col: Collector, passes: Seq[Span],
      phases: Map[Int, Seq[Map[String, Long]]], passSeconds: Span => Double,
      cores: Int): Map[String, Double] = col.synchronized {
    val traced = passes.filter(_.attrs("traced") == true)
    val untraced = passes.filterNot(_.attrs("traced") == true)

    val perPass: Seq[Map[String, Double]] = traced.map { ps =>
      val ids = tracer.subtree(ps.id)
      val jobs = col.jobs.values.filter(j => ids.contains(j.span)).toSeq
      val stages = col.stages.values.filter(s => ids.contains(s.span)).toSeq
      val queries = tracer.spans.filter(s =>
        s.parent == ps.id && s.kind == "query").toSeq
      val wall = passSeconds(ps)
      // driver time: each query's wall minus the part of it covered by
      // one of its Spark jobs
      val driver = queries.map { q =>
        val qIds = tracer.subtree(q.id)
        val lo = q.startNs / 1e6
        val hi = q.endNs / 1e6
        val iv = jobs.filter(j => qIds.contains(j.span) && j.endMs >= 0)
          .map(j => (math.max(lo, j.startMs.toDouble),
            math.min(hi, j.endMs.toDouble)))
          .filter { case (s, e) => e > s }
        (hi - lo - covered(iv)) / 1e3
      }.sum
      val skipped = jobs.map { j =>
        j.stageIds.count(id => !col.stages.values.exists(s =>
          s.id == id && s.submitMs >= j.startMs &&
            (j.endMs < 0 || s.submitMs <= j.endMs)))
      }.sum
      val scan = stages.filter(_.inputBytes > 0)
      val sinks = stages.filter(_.outputBytes > 0)
      val taskS = stages.map(_.runMs).sum / 1e3
      val lo = ps.startNs / 1e6
      val hi = ps.endNs / 1e6
      val before = col.storage.takeWhile(_._1 < lo).lastOption.map(_._2)
      val during = col.storage.filter { case (t, _) => t >= lo && t <= hi }
        .map(_._2)
      val storagePeak = (before.toSeq ++ during).foldLeft(0L)(math.max)
      val ph = phases.getOrElse(ps.attrs("index").asInstanceOf[Int], Nil)
      def phase(k: String) = ph.map(_.getOrElse(k, 0L)).sum / 1e3
      def kindSeconds(kind: String) = tracer.spans
        .filter(s => s.kind == kind && ids.contains(s.id)).map(_.seconds).sum
      val buildIds = tracer.spans
        .filter(s => s.kind == "build" && ids.contains(s.id)).map(_.id).toSet
      Map(
        "ops.build_s" -> kindSeconds("build"),
        "ops.build_jobs" -> jobs.count(j => buildIds.contains(j.span))
          .toDouble,
        "plan.analysis_s" -> phase("analysis"),
        "plan.optimizer_s" -> phase("optimization"),
        "plan.planning_s" -> phase("planning"),
        "exec.driver_s" -> driver,
        "exec.busy_ratio" -> (if (wall > 0) taskS / (wall * cores) else 0.0),
        "exec.jobs" -> jobs.size.toDouble,
        "exec.stages" -> stages.size.toDouble,
        "exec.stages_skipped" -> skipped.toDouble,
        "exec.tasks" -> stages.map(_.tasks).sum.toDouble,
        "exec.task_s" -> taskS,
        "exec.cpu_s" -> stages.map(_.cpuNs).sum / 1e9,
        "exec.gc_s" -> stages.map(_.gcMs).sum / 1e3,
        "exec.failed_tasks" -> stages.map(_.failedTasks).sum.toDouble,
        "shuffle.write_mb" -> stages.map(_.shuffleWriteBytes).sum / 1e6,
        "shuffle.read_mb" -> stages.map(_.shuffleReadBytes).sum / 1e6,
        "shuffle.fetch_wait_s" -> stages.map(_.fetchWaitMs).sum / 1e3,
        "spill.mb" -> stages.map(_.spillBytes).sum / 1e6,
        "storage.peak_mb" -> storagePeak / 1e6,
        "scan.input_mb" -> scan.map(_.inputBytes).sum / 1e6,
        "scan.input_rows" -> scan.map(_.inputRows).sum.toDouble,
        "scan.task_s" -> scan.map(_.runMs).sum / 1e3,
        "sinks.output_mb" -> sinks.map(_.outputBytes).sum / 1e6,
        "sinks.task_s" -> sinks.map(_.runMs).sum / 1e3) ++
        queries.map(q => s"query.${q.name}_s" -> q.seconds)
    }

    val keys = perPass.headOption.map(_.keys.toSeq).getOrElse(Nil)
    // the first timed pass is the untraced one that still warms up
    val base = untraced.filter(_.attrs("index") != 1)
    val overhead =
      if (traced.nonEmpty && base.nonEmpty)
        median(traced.map(passSeconds)) / median(base.map(passSeconds)) - 1
      else 0.0
    keys.map(k => k -> median(perPass.map(_.getOrElse(k, 0.0)))).toMap +
      ("trace.overhead_ratio" -> overhead)
  }

  /** Every span of the run, harness spans first, then one span per Spark
    * job (child of the span it was submitted under) and per stage attempt
    * (child of its job). Times in epoch milliseconds. */
  def spanRecords(tracer: Tracer, col: Collector): Seq[Map[String, Any]] =
    col.synchronized {
      val own = tracer.spans.map(s => Map[String, Any](
        "id" -> s"s${s.id}",
        "parent" -> (if (s.parent < 0) null else s"s${s.parent}"),
        "kind" -> s.kind, "name" -> s.name,
        "start_ms" -> s.startNs / 1e6, "end_ms" -> s.endNs / 1e6,
        "attrs" -> s.attrs))
      // a stage attempt belongs to the job that was running when it was
      // submitted (a reused stage is listed by later jobs too)
      def jobOf(s: col.StageRec): Option[Int] = col.jobs.values.find(j =>
        j.stageIds.contains(s.id) && s.submitMs >= j.startMs &&
          (j.endMs < 0 || s.submitMs <= j.endMs)).map(_.id)
      val jobs = col.jobs.values.map(j => Map[String, Any](
        "id" -> s"j${j.id}",
        "parent" -> (if (j.span < 0) null else s"s${j.span}"),
        "kind" -> "job", "name" -> s"job ${j.id}",
        "start_ms" -> j.startMs.toDouble, "end_ms" -> j.endMs.toDouble,
        "attrs" -> Map("ok" -> j.ok, "stages" -> j.stageIds.size)))
      val stages = col.stages.values.map(s => Map[String, Any](
        "id" -> s"st${s.id}.${s.attempt}",
        "parent" -> jobOf(s).map(j => s"j$j").orNull,
        "kind" -> "stage", "name" -> s"stage ${s.id}.${s.attempt}",
        "start_ms" -> s.submitMs.toDouble, "end_ms" -> s.endMs.toDouble,
        "attrs" -> Map("tasks" -> s.tasks, "task_s" -> s.runMs / 1e3,
          "failed_tasks" -> s.failedTasks,
          "input_mb" -> s.inputBytes / 1e6,
          "shuffle_read_mb" -> s.shuffleReadBytes / 1e6,
          "shuffle_write_mb" -> s.shuffleWriteBytes / 1e6,
          "output_mb" -> s.outputBytes / 1e6)))
      own.toSeq ++ jobs ++ stages
    }
}
