package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge.{column => native, expression => expr}

/** The graft native expressions (`expressions.scala`) as typed Column
  * constructors. Each wraps its catalyst node directly, so a native needs
  * no SQL-function registration and runs on any session; integer and
  * codebook parameters are plain Scala values, checked when the column is
  * built. */
object Natives {
  /** Calendar.WEEK_OF_MONTH (US locale) of a DATE. */
  def weekOfMonth(date: Column): Column = native(WeekOfMonth(expr(date)))

  /** Cosine of two ARRAY<FLOAT> vectors; 0.0 when either norm is zero. */
  def cosineSim(a: Column, b: Column): Column =
    native(CosineSimilarity(expr(a), expr(b)))

  /** 64-bit SimHash fingerprint of an ARRAY<STRING> of tokens. */
  def simhash64(tokens: Column): Column = native(SimHash64(expr(tokens)))

  /** Word `n`-gram strings of an ARRAY<STRING> of tokens. */
  def shingles(tokens: Column, n: Int): Column =
    native(NgramShingles(expr(tokens), n))

  /** Word `n`-gram shingles hashed to BIGINT. */
  def shingleHashArr(tokens: Column, n: Int): Column =
    native(ShingleHashArray(expr(tokens), n))

  /** Fused shingle + `k`-slot MinHash signature. */
  def minhashSig(tokens: Column, shingleSize: Int, k: Int): Column =
    native(MinHashSignature(expr(tokens), shingleSize, k))

  /** Dual-residue polynomial rolling fingerprint of a STRING. */
  def polyFp(s: Column): Column = native(PolyFingerprint(expr(s)))

  /** Banded edit distance of two STRINGs, capped at `k + 1`. */
  def levBounded(a: Column, b: Column, k: Int): Column =
    native(BoundedLevenshtein(expr(a), expr(b), k))

  /** Sorted distinct winnowing fingerprints of a token array. */
  def winnowFps(tokens: Column, shingleSize: Int, window: Int): Column =
    native(WinnowFingerprints(expr(tokens), shingleSize, window))

  /** Product-quantization codes of an ARRAY<BIGINT> vector against a
    * row-major `[subspace * nCentroids + centroid]` codebook. */
  def pqCodes(qv: Column, subDim: Int, nCentroids: Int,
      codebook: Seq[Seq[Long]]): Column =
    native(PqEncode(expr(qv), subDim, nCentroids, codebook))

  /** PQ asymmetric-distance score of `codes` against query `qIdx`'s
    * `[query][subspace][centroid]` distance tables. */
  def pqAdc(codes: Column, qIdx: Column, tables: Seq[Seq[Seq[Long]]]): Column =
    native(PqAdc(expr(codes), expr(qIdx), tables))
}
