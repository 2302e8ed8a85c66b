package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops._
import graft.plans.Natives

/** Round-21 optimization regression tests: every change this round
  * restructured HOW an operator computes (materialize-once fan-outs,
  * fused native shingles, single-pass tf/df, per-row overflow guards,
  * layered single-evaluation projections) without changing WHAT it
  * computes. Each test pins the restructured internals against an
  * independent formulation or the pre-restructure semantics. */
class Round21Spec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  // ---- connectedComponents: pair pipeline materialized once ---------------

  test("connectedComponents: chain + star + singleton-free labeling " +
      "unchanged by the pair-checkpoint restructure") {
    // chain 1-2-3-4 (min label 1), star 10-{11,12,13} (min label 10),
    // isolated pair (20,21) -> min 20; vertices only ever from `pairs`
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (10L, 12L),
      (13L, 10L), (21L, 20L)).toDF("doc_a", "doc_b")
    val got = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L, 20L -> 20L, 21L -> 20L)
    assert(got == want)
  }

  // ---- setOps: one-aggregate rewrite == INTERSECT/EXCEPT --------------------

  test("setOps equals the set-operator formulation row-for-row") {
    val orders = Seq(
      (1L, "1-URGENT"), (1L, "2-HIGH"),   // both
      (2L, "1-URGENT"),                    // urgent only
      (2L, "1-URGENT"),                    // duplicate: set semantics
      (3L, "2-HIGH"),                      // high only: excluded
      (4L, "3-MEDIUM"),                    // neither
      (5L, "1-URGENT"), (5L, "2-HIGH"), (5L, "2-HIGH")
    ).toDF("o_custkey", "o_orderpriority")
    val got = Relational.setOps(orders)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val urgent = orders.where(col("o_orderpriority") === "1-URGENT")
      .select("o_custkey")
    val high = orders.where(col("o_orderpriority") === "2-HIGH")
      .select("o_custkey")
    val want = (urgent.intersect(high).withColumn("tag", lit("both"))
        unionAll urgent.except(high).withColumn("tag", lit("urgent_only")))
      .orderBy("tag", "o_custkey")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == want)
    assert(got.contains((1L, "both")) && got.contains((2L, "urgent_only")))
  }

  // ---- tfIdf / tfidfSimilarPairs: df derived from tf -----------------------

  test("tfIdf's derived df equals the distinct-doc count per token") {
    val docs = Seq(
      (0L, "alpha beta alpha"),
      (1L, "alpha gamma"),
      (2L, "beta beta alpha"),
      (3L, "")).toDF("doc_id", "text")
    val got = TextOps.tfIdf(docs, minDf = 1)
      .select("token", "df").distinct()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // independent formulation: explode distinct tokens per doc, count docs
    assert(got == Map("alpha" -> 3L, "beta" -> 2L, "gamma" -> 1L))
    // tf sanity on the same result (one row per (doc, token))
    val tf = TextOps.tfIdf(docs, minDf = 1)
      .where(col("doc_id") === 0L && col("token") === "alpha")
      .select("tf").as[Long].collect()
    assert(tf.toSeq == Seq(2L))
  }

  // ---- decontaminateSemantic: per-row corpus guard fails loudly -------------

  test("decontaminateSemantic: corpus-row magnitude violation throws at " +
      "execution (bench rows in range)") {
    val emb = Seq(
      (0L, Seq.tabulate(32)(_ => 1.0f)),       // bench: fine
      (10L, Seq.tabulate(32)(_ => 3000.0f))    // corpus row: out of range
    ).toDF("vec_id", "embedding")
    val e = intercept[Throwable] {
      Corpus.decontaminateSemantic(emb, benchMaxVecId = 2).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("int64-safe bound")),
      s"expected the per-row guard message, got: ${messages(e)}")
  }

  test("decontaminateSemantic: null-embedding corpus rows are silently " +
      "dropped, not guard failures") {
    val emb = Seq(
      (0L, Option(Seq.tabulate(32)(_ => 1.0f))),
      (10L, Option(Seq.tabulate(32)(_ => 0.9f))),
      (11L, Option.empty[Seq[Float]])
    ).toDF("vec_id", "embedding")
    val got = Corpus.decontaminateSemantic(emb, benchMaxVecId = 2)
      .collect().map(_.getLong(0)).toSet
    assert(got.contains(10L) && !got.contains(11L))
  }

  // ---- native shingles == HOF shingles at the swapped call sites ------------

  test("fused native shingles equals the HOF formulation on edge docs") {
    import graft.functions.GraftFunctions
    val docs = Seq(
      (0L, "a b c d e"),      // normal
      (1L, "a b"),            // shorter than n: whole-doc collapse
      (2L, "a  b   c"),       // repeated spaces
      (3L, ""),               // empty: one "" shingle
      (4L, "x y z")           // exactly n
    ).toDF("doc_id", "text")
    for (n <- Seq(2, 3, 4)) {
      val both = docs.select(
        GraftFunctions.shingles(GraftFunctions.tokens(col("text")), n)
          .as("hof"),
        Natives.shingles(GraftFunctions.tokens(col("text")), n)
          .as("native"))
        .collect()
      both.foreach { r =>
        assert(r.getSeq[String](0) == r.getSeq[String](1),
          s"n=$n: HOF ${r.getSeq[String](0)} != native ${r.getSeq[String](1)}")
      }
    }
  }

  // ---- layered projections: outputs unchanged -------------------------------

  test("repetitionStats / qualityScore layered forms keep the formulas") {
    val docs = Seq(
      (0L, "the cat the cat the cat"), // heavy repetition
      (1L, "one two three four five six seven eight nine ten the end"),
      (2L, "")).toDF("doc_id", "text")
    val rep = TextOps.repetitionStats(docs)
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getDouble(3))).toMap
    // doc 0: 6 tokens, 5 bigrams ("the cat" x3, "cat the" x2 -> 2 distinct)
    assert(rep(0L)._1 == 6 && rep(0L)._2 == 5)
    assert(math.abs(rep(0L)._3 - (1.0 - 2.0 / 5.0)) < 1e-12)
    val q = Corpus.qualityFilter(docs)
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2))).toMap
    // doc 0 fails len (6 < 10) and rep (0.6 > 0.2): bits 0 and 8 -> 9
    assert(q(0L) == (9, 0))
    // doc 1: 12 tokens in [10,1000], has "the", alpha-pure, low repetition
    assert(q(1L) == (0, 1))
  }
}
