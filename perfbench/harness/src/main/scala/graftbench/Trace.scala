package graftbench

import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._

/** One timed interval of the benchmark: workload, pass, query, or a
  * query's build / plan / execute phase. Times are epoch nanoseconds. */
final class Span(val id: Int, val parent: Int, val kind: String,
    val name: String, val startNs: Long) {
  var endNs: Long = -1L
  val attrs: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap()
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans opened and closed by the single driver thread. The innermost open
  * span's id is set as a SparkContext local property, so every Spark job
  * (and its stages) submitted inside it can be linked back to it by the
  * [[Collector]]. Spans stay in memory until the run writes them out. */
final class Tracer(sc: SparkContext) {
  private val baseEpochMs = System.currentTimeMillis()
  private val baseNano = System.nanoTime()
  def nowNs: Long = baseEpochMs * 1000000L + (System.nanoTime() - baseNano)

  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer()
  private var open: List[Span] = Nil

  def start(kind: String, name: String): Span = {
    val s = new Span(spans.size, open.headOption.map(_.id).getOrElse(-1),
      kind, name, nowNs)
    spans += s
    open = s :: open
    sc.setLocalProperty(Tracer.SpanProperty, s.id.toString)
    s
  }

  def end(s: Span): Unit = {
    s.endNs = nowNs
    open = open.dropWhile(_ ne s).drop(1)
    sc.setLocalProperty(Tracer.SpanProperty,
      open.headOption.map(_.id.toString).orNull)
  }

  def span[T](kind: String, name: String)(body: => T): T = {
    val s = start(kind, name)
    try body finally end(s)
  }

  /** The ids of `root` and every span below it. */
  def subtree(root: Int): Set[Int] = {
    val kids = spans.groupBy(_.parent)
    def walk(id: Int): Seq[Int] =
      id +: kids.getOrElse(id, Nil).toSeq.flatMap(s => walk(s.id))
    walk(root).toSet
  }
}

object Tracer {
  val SpanProperty = "graftbench.span"
}

/** Spark-side accounting for the traced passes: every job and stage with
  * the span it was submitted under, task failures, and the block
  * manager's RDD storage over time. Fed by the listener bus thread; read
  * by the driver thread only after [[drain]] returned. */
final class Collector extends SparkListener {
  final class JobRec(val id: Int, val span: Int, val startMs: Long,
      val stageIds: Seq[Int]) {
    var endMs: Long = -1L
    var ok: Boolean = true
  }
  final class StageRec(val id: Int, val attempt: Int, val span: Int,
      val submitMs: Long) {
    var endMs: Long = -1L
    var tasks = 0
    var failedTasks = 0
    var runMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var inputBytes = 0L
    var inputRows = 0L
    var outputBytes = 0L
    var shuffleReadBytes = 0L
    var fetchWaitMs = 0L
    var shuffleWriteBytes = 0L
    var spillBytes = 0L
  }

  val jobs: mutable.LinkedHashMap[Int, JobRec] = mutable.LinkedHashMap()
  val stages: mutable.LinkedHashMap[(Int, Int), StageRec] =
    mutable.LinkedHashMap()
  private val failedTasks = mutable.HashMap[(Int, Int), Int]()
  private val blocks = mutable.HashMap[String, Long]()
  private var storedBytes = 0L
  /** (receipt epoch ms, RDD bytes held) after every block update. */
  val storage: mutable.ArrayBuffer[(Long, Long)] = mutable.ArrayBuffer()

  val jobsStarted = new AtomicInteger
  val jobsEnded = new AtomicInteger
  val stagesSubmitted = new AtomicInteger
  val stagesCompleted = new AtomicInteger

  private def spanOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty(Tracer.SpanProperty)))
      .map(_.toInt).getOrElse(-1)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = new JobRec(e.jobId, spanOf(e.properties), e.time,
      e.stageIds)
    jobsStarted.incrementAndGet()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j =>
      j.endMs = e.time
      j.ok = e.jobResult == JobSucceeded
    }
    jobsEnded.incrementAndGet()
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      val si = e.stageInfo
      stages((si.stageId, si.attemptNumber())) = new StageRec(si.stageId,
        si.attemptNumber(), spanOf(e.properties),
        si.submissionTime.getOrElse(System.currentTimeMillis()))
      stagesSubmitted.incrementAndGet()
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (e.reason != Success) {
      val k = (e.stageId, e.stageAttemptId)
      failedTasks(k) = failedTasks.getOrElse(k, 0) + 1
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val si = e.stageInfo
      val key = (si.stageId, si.attemptNumber())
      val r = stages.getOrElseUpdate(key,
        new StageRec(si.stageId, si.attemptNumber(), -1,
          si.submissionTime.getOrElse(0L)))
      r.endMs = si.completionTime.getOrElse(System.currentTimeMillis())
      r.tasks = si.numTasks
      r.failedTasks = failedTasks.getOrElse(key, 0)
      val m = si.taskMetrics
      if (m != null) {
        r.runMs = m.executorRunTime
        r.cpuNs = m.executorCpuTime
        r.gcMs = m.jvmGCTime
        r.inputBytes = m.inputMetrics.bytesRead
        r.inputRows = m.inputMetrics.recordsRead
        r.outputBytes = m.outputMetrics.bytesWritten
        r.shuffleReadBytes = m.shuffleReadMetrics.totalBytesRead
        r.fetchWaitMs = m.shuffleReadMetrics.fetchWaitTime
        r.shuffleWriteBytes = m.shuffleWriteMetrics.bytesWritten
        r.spillBytes = m.memoryBytesSpilled + m.diskBytesSpilled
      }
      stagesCompleted.incrementAndGet()
    }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
    synchronized {
      val info = e.blockUpdatedInfo
      if (info.blockId.isRDD) {
        val key = info.blockId.name
        val size =
          if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
        storedBytes += size - blocks.getOrElse(key, 0L)
        if (size > 0) blocks(key) = size else blocks.remove(key)
        storage += ((System.currentTimeMillis(), storedBytes))
      }
    }

  /** Forget the blocks seen so far: called when the collector is attached
    * right after the block manager was emptied, whose removals it did not
    * see while detached. */
  def resetStorage(): Unit = synchronized {
    blocks.clear()
    storedBytes = 0L
  }

  /** Wait for the asynchronous listener bus: true once every submitted
    * job and stage has its end event and the counters stayed unchanged for
    * `quietMs`; false when `timeoutMs` ran out first, in which case the
    * numbers read from this collector are partial. */
  def drain(timeoutMs: Long = 20000L, quietMs: Long = 250L): Boolean = {
    def snap = (jobsStarted.get, jobsEnded.get, stagesSubmitted.get,
      stagesCompleted.get)
    def settled(s: (Int, Int, Int, Int)) = s._2 >= s._1 && s._4 >= s._3
    val deadline = System.currentTimeMillis() + timeoutMs
    var last = snap
    var lastChange = System.currentTimeMillis()
    while (System.currentTimeMillis() < deadline &&
        (!settled(last) || System.currentTimeMillis() - lastChange < quietMs)) {
      Thread.sleep(20)
      val cur = snap
      if (cur != last) { last = cur; lastChange = System.currentTimeMillis() }
    }
    settled(snap)
  }
}
