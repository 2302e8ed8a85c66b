package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.Scratch

/** Totality on the empty corpus: EVERY gate query must produce a (0-row)
  * result — never throw — when all ten tables are empty. At 100 TB an
  * empty input is routine (a date-range filter that removes everything, a
  * partition with no data, a source that hasn't landed yet); an operator
  * that crashes on it turns a boring no-op into a pipeline page. Round 10
  * found and fixed three such classes, locked here:
  *
  *  - TSV roundtrip: CSV schema INFERENCE over a dir with zero data files
  *    resolves no columns (`_c0` unresolved) — `Sinks.readTsvKeys` now
  *    declares its 1-column schema (also killing the inference pre-scan);
  *  - IVF centroid seeding: `SimSearch.ivfAssign` required a non-empty
  *    codebook — an empty corpus now yields the empty assignment (seeds
  *    missing from a NON-empty corpus still fails loudly);
  *  - streaming gates: an empty bounded source fires ZERO micro-batches
  *    under AvailableNow, so `foreachBatch` never creates the sink dir —
  *    `StreamGate.endState` returns the 0-row end state with the sink's
  *    schema instead of PATH_NOT_FOUND.
  */
class EmptyInputSpec extends AnyFunSuite {
  import TestSpark.spark

  test("every gate query is total on empty tables (0 rows, no throw)") {
    Scratch.withDir("graft_empty") { scratch =>
      val emptyDir = scratch.toString
      Tables.names.foreach { n =>
        Tables.table(spark, TestSpark.sf0001, n).where(lit(false))
          .write.mode("overwrite").parquet(s"$emptyDir/$n.parquet")
      }
      val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
        case (name, fn) =>
          // the invariant is totality, not 0 rows: a handful of global
          // aggregates legitimately emit one row of nulls/zeros on empty
          // input (SQL aggregate semantics, matched by the DuckDB oracle)
          try { fn(spark, emptyDir).count(); None }
          catch {
            case e: Throwable =>
              Some(s"$name: ${e.getClass.getSimpleName}: " +
                Option(e.getMessage).getOrElse("").linesIterator.take(1)
                  .mkString)
          }
      }
      assert(failures.isEmpty,
        s"${failures.size} queries throw on empty input:\n" +
          failures.mkString("\n"))
    }
  }

  test("fixed classes keep their schemas on empty input") {
    // TSV roundtrip: explicit schema survives the no-data-files dir
    Scratch.withDir("graft_empty_tsv") { dir =>
      val out = dir.toString
      sources.Sinks.writeTsv(
        Tables.documents(spark, TestSpark.sf0001).where(lit(false))
          .select(col("doc_id"), col("lang")), out)
      val back = sources.Sinks.readTsvKeys(spark, out)
      assert(back.columns.toSeq == Seq("key") && back.count() == 0)
    }
    // IVF assignment: empty corpus -> empty assignment, schema intact
    val emb = Tables.embeddings(spark, TestSpark.sf0001).where(lit(false))
    val assigned = ops.SimSearch.ivfAssign(emb, 16)
    assert(assigned.columns.toSeq == Seq("vec_id", "embedding", "cell")
      && assigned.count() == 0)
    // seeds missing from a NON-empty corpus must still fail loudly
    val shifted = Tables.embeddings(spark, TestSpark.sf0001)
      .withColumn("vec_id", col("vec_id") + 1000000L)
    intercept[IllegalArgumentException] {
      ops.SimSearch.ivfAssign(shifted, 16).count()
    }
  }
}
