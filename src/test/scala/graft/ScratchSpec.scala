package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentHashMap
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._
import graft.sources.{Scratch, Sinks}

/** `Scratch` is the one owner of on-disk scratch space: no other main
  * source names, places or deletes it, the sink and streaming gates leave
  * none of theirs behind, and its scoped forms clean up when the body
  * throws. */
class ScratchSpec extends AnyFunSuite {
  import TestSpark.spark

  test("no source outside Scratch names, places or deletes scratch space") {
    val root = Paths.get("src/main/scala")
    val owner = root.resolve("graft/sources/Scratch.scala")
    val idioms = Seq("createTempDirectory", "java.io.tmpdir", "/dev/shm",
      "\"/tmp", "ProcessHandle", "randomUUID", "derby:memory", "Files.walk",
      "parallelize(rows")
    val sources = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p != owner).toList
    assert(sources.size > 20, s"scan found only ${sources.size} sources under $root")
    val offenders = for {
      p <- sources
      (line, i) <- Files.readAllLines(p).asScala.zipWithIndex
      if idioms.exists(line.contains)
    } yield s"$p:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty, offenders.mkString("\n", "\n", ""))
  }

  // every place gate scratch has lived, and this process's entries there
  // of the given kinds (the pid is one `_`-separated token of the name)
  private val places = Seq(Paths.get("/tmp"), Paths.get("/dev/shm"),
    Paths.get(System.getProperty("java.io.tmpdir"))).distinct
    .filter(Files.isDirectory(_))
  private val pid = ProcessHandle.current().pid().toString
  private def entries(kinds: Seq[String]): Set[String] =
    places.flatMap(place => scala.util.Using.resource(Files.list(place))(
      _.iterator.asScala.map(_.getFileName.toString).filter(n =>
        kinds.exists(n.startsWith) && n.split('_').contains(pid)).toList))
      .toSet

  /** Runs `gate` while recording every entry of `kinds` that appears, and
    * returns (entries seen while it ran, entries left after it). */
  private def watch(kinds: Seq[String])(gate: => Unit): (Set[String], Set[String]) = {
    val seen = ConcurrentHashMap.newKeySet[String]()
    @volatile var running = true
    val poller = new Thread(() =>
      while (running) { entries(kinds).foreach(seen.add); Thread.sleep(2) })
    poller.start()
    try gate finally { running = false; poller.join() }
    (seen.asScala.toSet, entries(kinds))
  }

  test("the sink and streaming gates leave none of their scratch behind") {
    def run(gate: String) =
      assert(SparkEntry.queries(gate)(spark, TestSpark.sf0001).count() > 0)
    for ((gate, kind) <- Seq(
        "s_json_roundtrip" -> "graft_json_rt",
        "s_orc_roundtrip" -> "graft_orc_rt",
        "s3_tsv_roundtrip" -> "graft_tsv_roundtrip",
        "s_partitioned_prune" -> "graft_gate_part")) {
      val (seen, left) = watch(Seq(kind))(run(gate))
      assert(seen.nonEmpty, s"$gate: its scratch never appeared")
      assert(left.isEmpty, s"$gate left $left")
    }
    // no dir of their own: a Derby database and two catalog tables
    run("s_jdbc_roundtrip")
    run("s_bucketed_join")
    assert(!spark.catalog.listTables().collect().exists(_.name.startsWith("gate_b_")))
    // the late-census gate makes a checkpoint, its arrival batches and an
    // end state; only the end state, which the returned frame reads, stays
    val stream = Seq("graft_stream_ck", "graft_stream_late")
    val (seen, left) = watch(stream :+ "graft_stream_out")(run("stream_late_census"))
    assert(stream.forall(k => seen.exists(_.startsWith(k))), seen)
    assert(left.forall(_.startsWith("graft_stream_out")), left)
  }

  test("a scoped body that throws still deletes its dir and drops its Derby database") {
    var dir: Path = null
    val e1 = intercept[IllegalStateException](Scratch.withDir("graft_spec") { d =>
      dir = d
      Files.createDirectories(d.resolve("a/b"))
      Files.write(d.resolve("a/b/f"), Array[Byte](1))
      throw new IllegalStateException("body failed")
    })
    assert(e1.getMessage == "body failed")
    assert(dir != null && !Files.exists(dir))
    var url: String = null
    val e2 = intercept[IllegalStateException](Scratch.withDerby("graft_spec") { u =>
      url = u
      Sinks.writeJdbc(spark.range(3).toDF("id"), u, "t", "app", "app")
      throw new IllegalStateException("body failed")
    })
    assert(e2.getMessage == "body failed")
    // Derby: XJ004 = database not found
    val gone = intercept[java.sql.SQLException](java.sql.DriverManager.getConnection(url))
    assert(gone.getSQLState == "XJ004", gone)
  }
}
