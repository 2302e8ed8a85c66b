package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import scala.collection.mutable

/** Scale-adjudication probe: run ONE query once with a SparkListener and
  * print per-stage task-time / record / shuffle / spill sums plus the
  * job-level totals. This is the evidence a suite-octave anomaly gets
  * judged on (the r12 blockedNamePairs and r15 sim_tfidf precedents):
  * comparing two scale points' probes separates plan growth (task-time
  * and shuffle volumes scale with the data) from environment draw
  * (wall moves, work doesn't) and from serialization (one stage's max
  * task ≈ the whole stage's task-time).
  *
  *   SPARK_GRAFT_SF_DIR=/tmp/sf0.32s java ... graft.StageProbe <query>
  */
object StageProbe {

  /** Drain-wait for the async listener bus: true when every submitted
    * stage has its completion record AND the counters stayed quiet for
    * `quietNs`; false when `deadlineNs` expired with events still owed —
    * the probe's output MUST then be marked partial (machine-readably,
    * not just a printed warning: an octave adjudication that consumes
    * under-reported task totals silently is worse than no probe). */
  private[graft] def drain(submitted: () => Int, completed: () => Int,
      deadlineNs: Long, quietNs: Long = 1500L * 1000 * 1000,
      sleepMs: Long = 100): Boolean = {
    var lastChange = System.nanoTime()
    var snap = (submitted(), completed())
    while (System.nanoTime() < deadlineNs &&
        (completed() < submitted() ||
          System.nanoTime() - lastChange < quietNs)) {
      Thread.sleep(sleepMs)
      val cur = (submitted(), completed())
      if (cur != snap) { snap = cur; lastChange = System.nanoTime() }
    }
    completed() >= submitted()
  }

  /** How many top tasks the wall verdict sums: a stage where ≤4 tasks did
    * >90% of the work ran ≲4-way parallel on a 32-core box. */
  private[graft] val WallTopK = 4

  /** Serial-wall verdict for one stage: the summed top-[[WallTopK]] task
    * runtimes ≈ the whole stage's task-time on a non-trivial stage means a
    * handful of tasks did all the work — the r12 blockedNamePairs / r15
    * embeddings / r17 repetitionStats class (all 1-task walls, which the
    * top-K sum subsumes), plus the few-straggler shape the r18 verdict
    * noted the max-task-only form would miss (two stragglers at 0.5 each).
    * Fires on ≤K-task stages too (the r17 wall WAS a single-split scan);
    * the taskMs floor keeps legitimately tiny stages (metadata aggs)
    * quiet. */
  private[graft] def serialWall(taskMs: Long, topMs: Long): Boolean =
    taskMs > 5000 && topMs.toDouble / taskMs > 0.9

  /** Annotation (NOT suppression) for the structural ≤K-task class: a
    * stage with ≤[[WallTopK]] tasks has topK share 1.0 by construction,
    * so the wall verdict fires on every >5s such stage. When the split
    * across those few tasks is balanced (max task ≤ 1.5× its fair
    * share), the finding is a PARTITION-COUNT question, not a straggler
    * — which can still be a real defect (the r19 catch was exactly a
    * balanced 4-task state stage whose partition count was pinned, not
    * sized to data), so the flag stays; the annotation tells the audit
    * which question to ask instead of re-deriving it each round. */
  private[graft] def fewTaskBalanced(tasks: Int, taskMs: Long,
      maxTaskMs: Long): Boolean =
    tasks > 1 && tasks <= WallTopK && taskMs > 0 &&
      maxTaskMs.toDouble / taskMs <= 1.5 / tasks

  /** The probe's headline line; `partial=` is the machine-readable flag
    * downstream adjudications key on (grep `partial=false` before
    * trusting task totals). */
  private[graft] def probeHeader(name: String, rows: Long, wallSec: Double,
      sfDir: String, partial: Boolean): String =
    f"PROBE $name rows=$rows wall=$wallSec%.2fs sf=$sfDir partial=$partial"

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: StageProbe <queryName>")
    val name = args(0)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // a single-file replica reads as ONE split until 128 MB, so scan-side
    // stages serialize as a harness artifact; Session's split-size knob
    // (e.g. 4m) is the cluster-shaped posture that separates that artifact
    // from a real plan defect in the serial-wall verdict
    val spark = Session.build()
    spark.sparkContext.setLogLevel("ERROR")

    case class Row(name: String, var tasks: Int = 0, var taskMs: Long = 0,
        var maxTaskMs: Long = 0, var topMs: Long = 0,
        var inRecs: Long = 0, var outRecs: Long = 0,
        var shufReadMB: Double = 0, var shufWriteMB: Double = 0,
        var memSpillMB: Double = 0, var diskSpillMB: Double = 0)
    val stages = mutable.LinkedHashMap[Int, Row]()
    // completion records vs submission count: the drain condition below
    // needs to know how many stage-completed events are still owed
    val submitted = new java.util.concurrent.atomic.AtomicInteger
    val completed = new java.util.concurrent.atomic.AtomicInteger
    // per-stage top-K single-task runtimes, fed by onTaskEnd: the
    // serialization verdict this probe exists for ("a handful of tasks'
    // runtime ≈ the whole stage's task-time" = a wall inside a nominally
    // parallel stage) needs per-task maxima, which stage-completed
    // metrics don't carry. A size-K min-heap per stage: O(K) memory, the
    // head is the stage max, the sum is the top-K share numerator.
    val topTask = mutable.HashMap[Int, mutable.PriorityQueue[Long]]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageSubmitted(
          ss: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit =
        submitted.incrementAndGet()
      override def onTaskEnd(
          te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (te.taskMetrics != null) topTask.synchronized {
          val heap = topTask.getOrElseUpdate(te.stageId,
            mutable.PriorityQueue.empty[Long](Ordering.Long.reverse))
          heap.enqueue(te.taskMetrics.executorRunTime)
          if (heap.size > WallTopK) heap.dequeue()
        }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val m = si.taskMetrics
        stages.synchronized {
          val r = stages.getOrElseUpdate(si.stageId,
            Row(si.name.takeWhile(_ != '\n').take(60)))
          val top = topTask.synchronized(
            topTask.get(si.stageId).map(_.toSeq).getOrElse(Seq.empty))
          r.maxTaskMs = math.max(r.maxTaskMs,
            if (top.nonEmpty) top.max else 0L)
          r.topMs = math.max(r.topMs, top.sum)
          r.tasks += si.numTasks
          r.taskMs += m.executorRunTime
          r.inRecs += m.inputMetrics.recordsRead
          r.outRecs += m.shuffleWriteMetrics.recordsWritten
          r.shufReadMB += m.shuffleReadMetrics.totalBytesRead / 1e6
          r.shufWriteMB += m.shuffleWriteMetrics.bytesWritten / 1e6
          r.memSpillMB += m.memoryBytesSpilled / 1e6
          r.diskSpillMB += m.diskBytesSpilled / 1e6
        }
        completed.incrementAndGet()
      }
    })

    val t0 = System.nanoTime()
    val n = SparkEntry.queries(name)(spark, sfDir).count()
    val wall = (System.nanoTime() - t0) / 1e9
    // listener events post asynchronously on a private[spark] bus. A fixed
    // sleep dropped late events on loaded machines and silently
    // under-reported the totals this probe exists to adjudicate; instead,
    // wait until every submitted stage has its completion record AND the
    // counters have been quiet for a grace period (submission/completion
    // flow through one ordered queue, so completed catching up to
    // submitted means the drain reached this job's tail), with a hard
    // deadline + loud warning if the bus never settles.
    val drained = drain(() => submitted.get(), () => completed.get(),
      System.nanoTime() + 30L * 1000 * 1000 * 1000)
    if (!drained)
      println(s"WARN probe totals may be INCOMPLETE: ${completed.get()} " +
        s"stage-completed events vs ${submitted.get()} submissions after " +
        "a 30s drain deadline")

    println(probeHeader(name, n, wall, sfDir, partial = !drained))
    println(f"${"stage"}%-8s${"tasks"}%6s${"taskSec"}%9s${"maxTask"}%9s" +
      f"${"serial"}%7s${"top" + WallTopK}%7s${"inRecs"}%12s" +
      f"${"shufOutRecs"}%12s${"shufRdMB"}%10s${"shufWrMB"}%10s" +
      f"${"spillMB"}%9s  name")
    var taskSecTotal = 0.0
    stages.synchronized(stages.toSeq).sortBy(_._1).foreach { case (id, r) =>
      taskSecTotal += r.taskMs / 1e3
      val serial = if (r.taskMs > 0) r.maxTaskMs.toDouble / r.taskMs else 0.0
      val topShare = if (r.taskMs > 0) r.topMs.toDouble / r.taskMs else 0.0
      val flag = if (serialWall(r.taskMs, r.topMs)) {
        if (fewTaskBalanced(r.tasks, r.taskMs, r.maxTaskMs))
          s" <-- SERIAL-WALL? [${r.tasks}-task stage, balanced: " +
            "partition-count bound — is the count sized to data or pinned?]"
        else " <-- SERIAL-WALL?"
      } else ""
      println(f"$id%-8d${r.tasks}%6d${r.taskMs / 1e3}%9.1f" +
        f"${r.maxTaskMs / 1e3}%9.1f$serial%7.2f$topShare%7.2f" +
        f"${r.inRecs}%12d" +
        f"${r.outRecs}%12d${r.shufReadMB}%10.1f${r.shufWriteMB}%10.1f" +
        f"${r.memSpillMB + r.diskSpillMB}%9.1f  ${r.name}$flag")
    }
    println(f"TOTAL taskSec=$taskSecTotal%.1f wall=$wall%.2f " +
      f"parallelism=${taskSecTotal / wall}%.1f")
    spark.stop()
  }
}
