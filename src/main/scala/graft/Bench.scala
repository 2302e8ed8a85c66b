package graft

import org.apache.spark.sql.DataFrame

/** Benchmark main (driver contract): times every SparkEntry query at the
  * SPARK_GRAFT_SF_DIR scale factor and prints ONE JSON line. */
object Bench {
  val Reps = "SPARK_GRAFT_BENCH_REPS"

  /** Timed runs per query, [[Reps]] (default 3); Bench reports their
    * median. A single run is hostage to machine-load noise: one recorded
    * run doubled two queries that a run minutes earlier timed at half,
    * purely from co-tenant load. The median discards one bad
    * draw per side while staying cheap; `1` restores single-shot for the
    * (slow) full-inventory sweep. */
  def reps(env: Map[String, String]): Int = Session.positiveInt(env, Reps).getOrElse(3)

  /** Runs `df` to completion and discards the rows — the timed action, and
    * the warm-up's. Every output column is computed, as a consumer that
    * writes or collects the result computes it; a `count()` would let
    * Catalyst prune every column the count does not read. */
  private def drain(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    val reps = Bench.reps(sys.env)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.build()
    spark.sparkContext.setLogLevel("WARN")
    // untimed warmup: fault every table into the page cache and execute the
    // signature/similarity code paths on tiny slices, so timed queries
    // measure the operators rather than first-run JIT + codegen compilation
    // (measured ~6 s of one-time cost attributed to whichever doc-heavy
    // query happened to run first). A failed step is reported, not fatal:
    // the timed loop still runs, and a query the failure breaks reports -1
    def warmUp(step: String)(body: => Unit): Unit =
      try body catch { case e: Throwable =>
        System.err.println(s"[bench] warm-up $step FAILED: ${e.getMessage}")
      }
    Tables.names.foreach(n => warmUp(s"table $n")(drain(Tables.table(spark, sfDir, n))))
    warmUp("signatures") {
      val docs = Tables.documents(spark, sfDir).limit(64)
      val emb = Tables.embeddings(spark, sfDir).limit(64)
      drain(ops.Dedup.simhashNearDup(docs))
      drain(ops.Dedup.minhashLsh(docs))
      drain(ops.SimSearch.bruteForceTopK(emb, 2, 3))
      drain(ops.SimSearch.lshTopK(emb, 2, 3))
    }
    warmUp("join-rank") {
      // join/aggregate codegen warmup on 64-row slices: the first timed join
      // query otherwise pays ~0.5 s of one-time whole-stage compilation
      val li = Tables.lineitem(spark, sfDir).limit(64)
      val ord = Tables.orders(spark, sfDir).limit(64)
      drain(ops.Relational.topUrgentOrders(
        Tables.customer(spark, sfDir).limit(64), ord, li))
      // distributed-rank + session-window paths: their range-partition,
      // per-slice window and MergingSessions codegen is more one-time
      // cost that otherwise lands on whichever rank/window query runs first
      drain(ops.Relational.priorityPriceRanks(ord))
    }
    warmUp("session-window") {
      drain(ops.Relational.sessionCounts(Tables.events(spark, sfDir).limit(64)))
    }
    // headline set by default (the driver contract's "headline queries");
    // SPARK_GRAFT_BENCH_ALL=1 times the whole inventory
    val names0 =
      if (sys.env.get("SPARK_GRAFT_BENCH_ALL").contains("1"))
        SparkEntry.queries.keys.toSeq.sorted
      else SparkEntry.headlineQueries
    // local iteration: SPARK_GRAFT_BENCH_ONLY=q1,q2 times just those
    val names = sys.env.get("SPARK_GRAFT_BENCH_ONLY") match {
      case Some(only) => only.split(",").toSeq.filter(SparkEntry.queries.contains)
      case None => names0
    }
    // carried ACROSS queries, not per-query: a heavy query's final rep
    // leaves its shuffle garbage behind just like an intermediate rep
    // does, and the next query's first timed rep would otherwise pay for
    // it — per-query reset made the gate blind to exactly that handoff
    var prevRepSec = 0.0
    val results = names.map(n => n -> SparkEntry.queries(n)).map { case (name, fn) =>
      // a failed query reports -1, NOT its elapsed time — a regression must
      // show up as broken, never as "fast"
      val times = (1 to reps).map { _ =>
        // drop stored intermediates between reps: `Materialize` blocks left
        // by earlier reps would otherwise hand later reps a warm cache, or
        // (until the ContextCleaner's GC fires) evict their live blocks, and
        // the median would report a number no cold run can reproduce. The
        // next rep rebuilds its whole plan from the source tables, so no
        // truncated lineage is recomputed. The release blocks OUTSIDE the
        // timed window (t0 is taken below)
        ops.Materialize.releaseAll(spark)
        // ... and release the PREVIOUS rep's shuffle files: Spark frees a
        // shuffle's disk blocks only when the ContextCleaner notices its
        // ShuffleDependency is unreachable, which needs a JVM GC — without
        // one, reps accumulate dead shuffle data (14.7 GB/rep for the
        // biggest 256x row) until later reps pay page-cache/disk pressure
        // no single cold run carries. Measured at 256x replicas:
        // dedup_prefix_filter median-of-5 read 76.9 s vs 54.5 s single-shot
        // PURELY from this accumulation, turning a linear 1.98x octave
        // into a phantom 3.3x. Gated on the previous rep's cost: a full
        // GC on a 48 GB heap is ~1-2 s, and the 207-query inventory at
        // sf0.1 would pay ~630 of them for reps whose shuffles are a few
        // MB — only a rep heavy enough to have spilled real shuffle data
        // (>5 s, the serial-wall floor convention) warrants the sweep.
        // The GC runs OUTSIDE the timed window (t0 is after), so the
        // pause never lands in a reading.
        if (prevRepSec > 5.0) System.gc()
        val t0 = System.nanoTime()
        try {
          drain(fn(spark, sfDir))
          prevRepSec = (System.nanoTime() - t0) / 1e9
          prevRepSec
        } catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
            // a failed rep still ran (and shuffled) for this long — feed
            // the GC gate its real elapsed rather than the previous
            // SUCCESSFUL rep's stale value
            prevRepSec = (System.nanoTime() - t0) / 1e9
            -1.0
        }
      }
      if (times.contains(-1.0)) name -> -1.0
      else name -> times.sorted.apply(reps / 2)
    }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // total covers SUCCESSFUL queries only: summing the -1.0 failure
    // sentinels would make a broken query subtract from (i.e. improve) the
    // headline number; per-query -1.0 entries still mark the failures
    val total = results.map(_._2).filter(_ >= 0).sum
    // "failed" makes a partial total machine-detectable: a consumer
    // comparing only "value" across rounds would otherwise read a round
    // with a broken (excluded) query as faster, not broken
    val failed = results.count(_._2 < 0)
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","failed":$failed,""" +
        s""""queries":$qs,"sf":"$sfDir"}"""
    // stdout is the contract (run/outputStrategy in build.sbt keeps it
    // unprefixed); the file is the belt-and-braces copy a log-scraping
    // driver can read even if a wrapper mangles stdout
    println(json)
    try java.nio.file.Files.write(
      java.nio.file.Paths.get(sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
        "/root/repo/bench_out.json")),
      (json + "\n").getBytes("UTF-8"))
    catch { case e: Throwable => System.err.println(s"[bench] file write failed: $e") }
    spark.stop()
  }
}
