package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{Corpus, Materialize}
import scala.jdk.CollectionConverters._

/** `Materialize` is the one owner of stored intermediates: no other main
  * source stores or releases a frame, and its scoped form leaves the
  * session as it found it. */
class MaterializeSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  test("no source outside Materialize stores or releases an intermediate") {
    val root = Paths.get("src/main/scala")
    val owner = root.resolve("graft/ops/Materialize.scala")
    val calls = Seq(".persist(", ".cache()", "checkpoint(", "localCheckpoint(", "unpersist(")
    val sources = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p != owner).toList
    assert(sources.size > 20, s"scan found only ${sources.size} sources under $root")
    val offenders = for {
      p <- sources
      (line, i) <- Files.readAllLines(p).asScala.zipWithIndex
      if calls.exists(line.contains)
    } yield s"$p:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty, offenders.mkString("\n", "\n", ""))
  }

  // other suites share this session: drop their cached frames (they
  // recompute on use) and compare persisted RDDs against a snapshot
  private def leavesNothingStored(body: => Unit): Unit = {
    spark.catalog.clearCache()
    val persisted = spark.sparkContext.getPersistentRDDs.keySet.toSet
    body
    assert(spark.sharedState.cacheManager.isEmpty)
    assert(spark.sparkContext.getPersistentRDDs.keySet.toSet == persisted)
  }

  test("during caches for its body and releases on return and on throw") {
    val df = (1 to 100).toDF("x").selectExpr("x", "x * 2 AS y")
    leavesNothingStored {
      val n = Materialize.during(df) { d =>
        assert(d.storageLevel == StorageLevel.MEMORY_AND_DISK)
        d.count()
      }
      assert(n == 100)
    }
    leavesNothingStored {
      val e = intercept[IllegalStateException](Materialize.during(df) { d =>
        d.count()
        throw new IllegalStateException("body failed")
      })
      assert(e.getMessage == "body failed")
    }
  }

  test("cdcChunks leaves nothing cached in the session") {
    val docs = (0L until 12L).map(i =>
      (i, (0 until 40).map(j => s"w${(i + j) % 9}").mkString(" "))).toDF("doc_id", "text")
    spark.catalog.clearCache()
    assert(Corpus.cdcChunks(docs, window = 2, mask = 4).collect().length == 12)
    assert(spark.sharedState.cacheManager.isEmpty)
  }
}
