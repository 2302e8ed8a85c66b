package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops.{Corpus, Ml, Sampling, SimSearch}

/** Parameter-misuse and hostile-input guards added by the round-10 review of
  * the ANN / sampling / ML families: each case below used to fail SILENTLY
  * (empty result, skewed sample, deflated mean) or with an obscure internal
  * error (`empty.reduce`, `% 0`) — at 100 TB both read as "the pipeline ran
  * fine" while the output is garbage. The contract is the repo-wide one:
  * loud IllegalArgumentException at build time for bad parameters, loud
  * runtime failure for corrupt rows, well-defined output for genuinely
  * degenerate inputs (empty corpus in → empty result out). */
class ParamGuardSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private def emb4(n: Int) =
    (0 until n).map(i => (i.toLong, Array.tabulate(4)(d => (i + d) / 10f)))
      .toDF("vec_id", "embedding")

  /** All messages down the cause chain — Spark wraps executor-side asserts
    * in SparkException layers whose own message may not carry the text. */
  private def chainMessages(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .map(e => Option(e.getMessage).getOrElse("")).mkString(" | ")

  test("lshTopK rejects bits/tables/dim outside the meaningful range") {
    val e = emb4(8)
    // bits = 0 used to die in srpBucket's empty.reduce; bits >= 64 would
    // alias buckets through shiftleft's mod-64 shift
    intercept[IllegalArgumentException](SimSearch.lshTopK(e, bits = 0, dim = 4))
    intercept[IllegalArgumentException](SimSearch.lshTopK(e, bits = 64, dim = 4))
    intercept[IllegalArgumentException](SimSearch.lshTopK(e, tables = 0, dim = 4))
    intercept[IllegalArgumentException](SimSearch.lshTopK(e, dim = 0))
  }

  test("lshTopK fails loudly on a dim/data mismatch instead of degrading") {
    // dim > row length used to null-pad every projection: all bits fall to
    // 0 and the corpus silently collapses into one bucket per table
    val ex = intercept[Exception](
      SimSearch.lshTopK(emb4(8), nQueries = 2, k = 3, dim = 8).collect())
    assert(chainMessages(ex).contains("dim"),
      s"expected the dim-mismatch assert, got: ${chainMessages(ex)}")
    // and the matching dim still works
    assert(SimSearch.lshTopK(emb4(8), nQueries = 2, k = 3, dim = 4).collect()
      .nonEmpty)
  }

  test("IVF/PQ variants reject zero cells, probes, subspaces, centroids") {
    val e = emb4(8)
    intercept[IllegalArgumentException](SimSearch.ivfTopK(e, nProbe = 0))
    intercept[IllegalArgumentException](SimSearch.ivfTopK(e, nCells = 0))
    intercept[IllegalArgumentException](SimSearch.pqTopK(e, m = 0))
    intercept[IllegalArgumentException](SimSearch.pqTopK(e, nCentroids = 0))
    intercept[IllegalArgumentException](SimSearch.ivfPqTopK(e, nProbe = 0))
    intercept[IllegalArgumentException](SimSearch.ivfPqTopK(e, m = 0))
  }

  test("pqTopK: missing seeds in a NON-empty corpus is loud, empty corpus is empty") {
    // vec_ids all >= nCentroids: no seed rows exist — used to return an
    // empty result indistinguishable from "no neighbors"
    val shifted = (100 until 108)
      .map(i => (i.toLong, Array.tabulate(8)(d => (i + d) / 10f)))
      .toDF("vec_id", "embedding")
    intercept[IllegalArgumentException](
      SimSearch.pqTopK(shifted, nCentroids = 16))
    intercept[IllegalArgumentException](
      SimSearch.ivfPqTopK(shifted, nCells = 8, nCentroids = 16))
    // the genuinely degenerate case keeps its defined behavior
    val empty = emb4(0)
    assert(SimSearch.pqTopK(empty).collect().isEmpty)
    assert(SimSearch.ivfPqTopK(empty).collect().isEmpty)
  }

  test("recallCensus and rrfFusion reject denominators that go NULL") {
    val e = emb4(8)
    // k = 0 made recall_milli a silent NULL via non-ANSI `div` by zero
    intercept[IllegalArgumentException](SimSearch.recallCensus(e, k = 0))
    intercept[IllegalArgumentException](SimSearch.recallCensus(e, nQueries = 0))
    // c < 0 makes C + rank hit zero at rank = -c
    intercept[IllegalArgumentException](SimSearch.rrfFusion(e, c = -1))
  }

  test("hashBucket/hashMicro are non-negative for NEGATIVE keys (pmod)") {
    val keys = Seq(-5L, -1L, -2147483648L, Long.MinValue + 7, 0L, 42L)
      .toDF("k")
    val rows = keys.select(
      Sampling.hashBucket(col("k")).as("b"),
      Sampling.hashMicro(col("k")).as("m")).collect()
    rows.foreach { r =>
      assert(r.getLong(0) >= 0 && r.getLong(0) < 100, s"bucket ${r.getLong(0)}")
      assert(r.getLong(1) >= 0 && r.getLong(1) < 1000000L, s"micro ${r.getLong(1)}")
    }
    // non-negative keys keep the exact original values (the oracle parity
    // contract): pmod == % there
    val b42 = keys.where(col("k") === 42L)
      .select(Sampling.hashBucket(col("k"))).head().getLong(0)
    assert(b42 == 42L * 1103515245L % 2147483647L % 100)
  }

  test("a negative key no longer lands in 'train' unconditionally") {
    val df = Seq(-1L, -5L, -17L).toDF("doc_id")
    val splits = Sampling.hashSplit(df, "doc_id", 10, 10)
      .select("split").as[String].collect().toSet
    // with the signed % every negative bucket was < pctTrain => all
    // 'train'; the pmod buckets are 2 / 16 / 58 — one in each split
    assert(splits == Set("train", "val", "test"), s"got $splits")
  }

  test("shuffleEpoch places negative doc_ids by hash, not before everyone") {
    val df = Seq(-3L, 1L, 2L, 3L).toDF("doc_id")
      .withColumn("text", lit("x"))
    val pos = Corpus.shuffleEpoch(df).collect()
      .map(r => r.getLong(1) -> r.getLong(0)).toMap
    // the signed % gave doc_id=-3 a negative hash => always pos 1
    assert(pos(-3L) != 1L, s"negative key still sorts first: $pos")
  }

  test("sampling/mixing parameter misuse is loud") {
    val df = Seq(1L, 2L).toDF("doc_id")
    intercept[IllegalArgumentException](Sampling.hashSplit(df, "doc_id", -5, 10))
    intercept[IllegalArgumentException](Sampling.mixCorpora(Seq.empty, "doc_id"))
  }

  test("kmeans/semDedup reject degenerate k, iters, thresholds") {
    val e = emb4(8)
    intercept[IllegalArgumentException](Ml.kmeansClusters(e, k = 0))
    intercept[IllegalArgumentException](Ml.kmeansClusters(e, iters = 0))
    intercept[IllegalArgumentException](Ml.semDedup(e, k = 0))
    // thrDen = 0: the cross-multiplied cosine test is vacuously false —
    // the dedup silently drops nothing
    intercept[IllegalArgumentException](Ml.semDedup(e, thrDen = 0))
  }

  test("corpus-assembly ops reject divisor-shaped zero parameters") {
    val docs = Seq((1L, "a b c", "s1")).toDF("doc_id", "text", "source")
    val emb = emb4(4)
    // each of these zeros used to yield silent garbage: Inf pack ids, NULL
    // batch indices, keep-everything negative mining, strip-everything
    // boilerplate, flag-nothing decontamination
    intercept[IllegalArgumentException](Corpus.packSequences(docs, budget = 0))
    intercept[IllegalArgumentException](Corpus.lengthBatches(docs, batchSize = 0))
    intercept[IllegalArgumentException](Corpus.hardNegatives(docs, den = 0))
    intercept[IllegalArgumentException](
      Corpus.stripBoilerplate(docs, segTokens = 0))
    intercept[IllegalArgumentException](
      Corpus.decontaminateSemantic(emb, thrDen = 0))
    // the HOF shingles/minhash helpers share the native expressions'
    // build-time contracts
    intercept[IllegalArgumentException](
      graft.functions.GraftFunctions.shingles(col("toks"), 0))
    intercept[IllegalArgumentException](
      graft.functions.GraftFunctions.minhashCoeffs(0))
    intercept[IllegalArgumentException](
      graft.functions.GraftFunctions.minhash_bands(col("sig"), 0, 1, 32))
    // band grid overrunning the signature: 9 bands × 4 rows > 32 slots
    intercept[IllegalArgumentException](
      graft.functions.GraftFunctions.minhash_bands(col("sig"), 9, 4, 32))
    // Int-wrapping grid (65536 × 65536 = 0 in Int arithmetic): the guard
    // must compute the product in Long or this overrun slips through
    intercept[IllegalArgumentException](
      graft.functions.GraftFunctions.minhash_bands(col("sig"), 65536, 65536, 32))
    intercept[IllegalArgumentException](
      graft.ops.Profile.profile(docs, Seq.empty))
  }

  test("valueOutliers: zero/undefined variance groups flag nothing") {
    import graft.ops.Relational
    // group "v": 30 zeros + one 100 → z ≈ 5.4 for the spike (a real
    // outlier); group "c": constant → sd = 0 → z = 0/0 = NaN, which Spark
    // ranks ABOVE every number, so without the variance guard abs(z) > 3
    // flagged the whole group (while DuckDB's 0/0 is NULL and flags none —
    // a latent engine/oracle divergence); group "s": single row → sd NULL
    val rows =
      (1 to 30).map(i => (i.toLong, "v", 0.0)) ++
        Seq((31L, "v", 100.0)) ++
        (40 to 44).map(i => (i.toLong, "c", 7.0)) ++
        Seq((50L, "s", 9.0))
    val ev = rows.toDF("event_id", "event_type", "value")
    val got = Relational.valueOutliers(ev).collect()
    assert(got.map(_.getLong(1)).toSeq == Seq(31L), got.mkString(", "))
  }

  test("relational ops reject divisor/range-shaped zero parameters") {
    import graft.ops.Relational
    val df = Seq((1L, "a")).toDF("k", "v")
    intercept[IllegalArgumentException](Relational.saltedJoin(df, df, "k", 0))
    intercept[IllegalArgumentException](Relational.priceHistogram(df, 0))
    intercept[IllegalArgumentException](Relational.rollingDistinctUsers(df, 0))
    intercept[IllegalArgumentException](Relational.mergePartialsRollup(df, 0))
    intercept[IllegalArgumentException](Relational.funnelSteps(df, Seq.empty))
  }

  test("join/linkage operators reject degenerate blocking parameters") {
    import graft.ops.{AsofJoin, Dedup, Intervals}
    val df = Seq((1L, "a")).toDF("k", "v")
    // bucketSeconds = 0 silently degenerated into one all-pairs bucket
    intercept[IllegalArgumentException](
      Intervals.overlapJoin(df, "k", "k", df, "k", "k", bucketSeconds = 0))
    // keySpan = 0 is `div 0`; minJaccardPct = 0 is the all-pairs prefix
    intercept[IllegalArgumentException](Dedup.fuzzyLinkBlocked(df, keySpan = 0))
    intercept[IllegalArgumentException](
      Dedup.prefixFilterPairs(df, minJaccardPct = 0))
    // as-of scratch-name collision and keyless (global-window) misuse
    val clash = Seq((1L, 2L)).toDF("k", "_t")
    intercept[IllegalArgumentException](
      AsofJoin.asof(clash, clash, Seq("k"), "k", "k", Seq("k")))
    intercept[IllegalArgumentException](
      AsofJoin.asof(df, df, Seq.empty, "k", "k", Seq("v")))
  }

  test("labelCentroids fails loudly on NULL embedding elements") {
    val bad = Seq(
      ("a", Array(1.0f, 2.0f)),
      ("a", Array(3.0f, 4.0f))).toDF("label", "embedding")
      // plant a NULL element: count() would include it, sum() skip it —
      // a silently deflated mean before the guard
      .withColumn("embedding",
        when(col("label") === "a",
          array(lit(1.0f), lit(null).cast("float")))
          .otherwise(col("embedding")))
    val ex = intercept[Exception](Ml.labelCentroids(bad).collect())
    assert(chainMessages(ex).contains("NULL embedding element"),
      s"expected the null-element assert, got: ${chainMessages(ex)}")
    // clean input still works
    val ok = Ml.labelCentroids(
      Seq(("a", Array(1.0f, 2.0f)), ("a", Array(2.0f, 3.0f)))
        .toDF("label", "embedding")).collect()
    assert(ok.length == 2 && ok.head.getLong(3) == 1500000L)
  }
}
