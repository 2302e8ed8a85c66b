package graft

import java.sql.Date
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions
import graft.plans.Natives

/** Native codegen expressions must be value-identical to their composed
  * higher-order-function formulations (which the DuckDB oracle already
  * validates) — equality here transfers oracle coverage to the natives. */
class ExpressionsSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  test("week_of_month native == column formula over four decades") {
    val start = java.time.LocalDate.of(1990, 1, 1)
    val days = (0L until 14975L by 7L).map(d => Date.valueOf(start.plusDays(d)))
    val mismatches = days.toDF("d")
      .select(
        GraftFunctions.week_of_month(col("d")).as("formula"),
        Natives.weekOfMonth(col("d")).as("native"))
      .where(col("formula") =!= col("native"))
      .count()
    assert(mismatches == 0)
  }

  test("cosine_sim native is bit-identical to the HOF composition") {
    val emb = Tables.embeddings(spark, TestSpark.sf0001).limit(100)
    val pairs = emb.select(col("vec_id"), col("embedding").as("a"))
      .crossJoin(emb.select(col("embedding").as("b")).limit(5))
    val diffs = pairs.select(
        GraftFunctions.cosine_similarity(col("a"), col("b")).as("hof"),
        Natives.cosineSim(col("a"), col("b")).as("native"))
      .where(col("hof") =!= col("native"))  // exact double equality
      .count()
    assert(diffs == 0)
  }

  test("cosine_sim guards zero norms to 0.0") {
    val got = Seq((Array(0f, 0f), Array(1f, 2f))).toDF("a", "b")
      .select(Natives.cosineSim(col("a"), col("b")))
      .collect().head.getDouble(0)
    assert(got == 0.0)
  }

  test("minhash_sig fused native == HOF composition") {
    val docs = Tables.documents(spark, TestSpark.sf0001).limit(50)
    val toks = GraftFunctions.tokens(col("text"))
    val diffs = docs.select(
        GraftFunctions.minhash_slots(
          GraftFunctions.shingle_hashes(GraftFunctions.shingles(toks, 3)), 32).as("hof"),
        Natives.minhashSig(toks, 3, 32).as("native"))
      .where(col("hof") =!= col("native"))
      .count()
    assert(diffs == 0)
  }

  test("shingles native == HOF composition (incl. short-doc collapse)") {
    val docs = Tables.documents(spark, TestSpark.sf0001).limit(50)
      .select(col("text"))
      .union(Seq("one", "two words", "").toDF("text"))
    val toks = GraftFunctions.tokens(col("text"))
    val diffs = docs.select(
        GraftFunctions.shingles(toks, 3).as("hof"),
        Natives.shingles(toks, 3).as("native"))
      .where(col("hof") =!= col("native"))
      .count()
    assert(diffs == 0)
  }

  test("simhash64 native == HOF composition") {
    val docs = Tables.documents(spark, TestSpark.sf0001).limit(50)
    val toks = GraftFunctions.tokens(col("text"))
    val diffs = docs.select(
        GraftFunctions.simhash64(toks).as("hof"),
        Natives.simhash64(toks).as("native"))
      .where(col("hof") =!= col("native"))
      .count()
    assert(diffs == 0)
  }

  test("shingle_hash_arr fused native == HOF composition (incl. short-doc collapse)") {
    import spark.implicits._
    val corpus = Tables.documents(spark, TestSpark.sf0001).limit(50)
      .select(col("text"))
      .unionByName(Seq("one two", "solo", "a b c d e").toDF("text"))
    val toks = GraftFunctions.tokens(col("text"))
    val diffs = corpus.select(
        GraftFunctions.shingle_hashes(GraftFunctions.shingles(toks, 3)).as("hof"),
        Natives.shingleHashArr(toks, 3).as("native"))
      .where(col("hof") =!= col("native"))
      .count()
    assert(diffs == 0)
  }

  test("poly_fp native == HOF composition (incl. empty + non-ASCII path)") {
    import spark.implicits._
    val corpus = Tables.documents(spark, TestSpark.sf0001).limit(50)
      .select(col("text"))
      .unionByName(Seq("", "  ", "naïve café — ünïcode", "a b c")
        .toDF("text"))
    val toks = GraftFunctions.tokens(col("text"))
    val diffs = corpus.select(
        GraftFunctions.doc_fingerprint_poly(toks).as("hof"),
        Natives.polyFp(concat_ws(" ", toks)).as("native"))
      .where(col("hof") =!= col("native"))
      .count()
    assert(diffs == 0)
  }
}
