package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression,
  UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expressions with whole-stage-codegen support — the cases
  * where composing built-ins is either impossible (`W` pattern rejected by
  * Spark 3+, SURVEY §4.3) or measurably slow (higher-order-function lambdas
  * are interpreted per element with boxing; these loops codegen to tight
  * scalar Java). Built as typed Columns by [[Natives]].
  */

/** Static helpers referenced from generated code (stable JVM names). */
object ExprUtil {
  /** java.util.Calendar.WEEK_OF_MONTH, US locale (Sunday week start,
    * minimal-days-in-first-week = 1), computed from days-since-epoch. */
  def weekOfMonth(epochDay: Int): Int = {
    val d = java.time.LocalDate.ofEpochDay(epochDay.toLong)
    val first = d.withDayOfMonth(1)
    // ISO dayOfWeek: Mon=1..Sun=7 -> US Sun-first index Sun=1..Sat=7
    val dowFirstUs = first.getDayOfWeek.getValue % 7 + 1
    (d.getDayOfMonth + dowFirstUs - 2) / 7 + 1
  }

  /** Cosine of two float vectors: element products and squares widened to
    * double and accumulated sequentially left-to-right — the exact operation
    * order of the higher-order-function formulation in GraftFunctions (and
    * of DuckDB's list_inner_product over DOUBLE[]), so results stay
    * bit-identical across all three. Zero norms yield 0.0, not NaN. */
  def cosine(a: ArrayData, b: ArrayData): Double = {
    // fail fast on ragged input rather than silently scoring a prefix
    // (the HOF formulation would yield NULL here; a corrupt short embedding
    // should surface, not pass with a plausible score)
    if (a.numElements() != b.numElements())
      throw new IllegalArgumentException(
        s"cosine_sim: vector lengths differ (${a.numElements()} vs ${b.numElements()})")
    val n = a.numElements()
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      // same fail-loudly rule for NULL elements: getFloat would silently
      // read the zeroed slot and hand a corrupt embedding a plausible score
      if (a.isNullAt(i) || b.isNullAt(i))
        throw new IllegalArgumentException(
          s"cosine_sim: NULL element at index $i")
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) 0.0 else dot / denom
  }

  /** Dual-residue polynomial rolling fingerprint over a string's code
    * points, same arithmetic as GraftFunctions.doc_fingerprint_poly (h1/h2
    * mod-prime folds packed as h1·2^31 + h2). The HOF form splits the
    * string into a per-char array of UTF8Strings first; this is one pass
    * over the bytes (ASCII fast path) or chars. */
  def polyFingerprint(s: UTF8String): Long = {
    var h1 = 0L
    var h2 = 0L
    val nBytes = s.numBytes()
    if (s.numChars() == nBytes) { // pure ASCII: bytes ARE the code points
      var i = 0
      while (i < nBytes) {
        val c = s.getByte(i) & 0xff
        h1 = (h1 * 31 + c) % 2147483647L
        h2 = (h2 * 131 + c) % 2147483629L
        i += 1
      }
    } else {
      // fold CODE POINTS, not UTF-16 units: the DuckDB oracle's ord() is
      // code-point-based, and charAt would split supplementary-plane chars
      // into surrogate halves (different residues for any emoji)
      val str = s.toString
      var i = 0
      while (i < str.length) {
        val c = str.codePointAt(i)
        h1 = (h1 * 31 + c) % 2147483647L
        h2 = (h2 * 131 + c) % 2147483629L
        i += Character.charCount(c)
      }
    }
    h1 * 2147483648L + h2
  }

  /** h1 residue alone (mult 31, mod 2^31-1) — the MinHash base hash, one
    * pass over the bytes/chars like [[polyFingerprint]]. */
  def polyH1(s: UTF8String): Long = {
    var h1 = 0L
    val nBytes = s.numBytes()
    if (s.numChars() == nBytes) {
      var i = 0
      while (i < nBytes) {
        h1 = (h1 * 31 + (s.getByte(i) & 0xff)) % 2147483647L
        i += 1
      }
    } else {
      // code points, matching polyFingerprint and the oracle's ord() fold
      val str = s.toString
      var i = 0
      while (i < str.length) {
        val c = str.codePointAt(i)
        h1 = (h1 * 31 + c) % 2147483647L
        i += Character.charCount(c)
      }
    }
    h1
  }

  private val shingleSpace = UTF8String.fromString(" ")

  /** Shared shingle machinery for the shingle-based expressions
    * (MinHashSignature, ShingleHashArray, NgramShingles,
    * WinnowFingerprints): the n-token windows of `toks`, with the common
    * short-document rule (fewer than n tokens collapse to ONE whole-doc
    * shingle). One definition keeps the four expressions' window semantics
    * in sync — they previously carried four hand-copied loops. */
  def shingleHashes(toks: ArrayData, n: Int): Array[Long] = {
    val num = toks.numElements()
    val winLen = if (num < n) num else n
    val nOut = if (num < n) 1 else num - n + 1
    val out = new Array[Long](nOut)
    val window = new Array[UTF8String](winLen)
    var s = 0
    while (s < nOut) {
      var j = 0
      while (j < winLen) { window(j) = toks.getUTF8String(s + j); j += 1 }
      out(s) = polyH1(UTF8String.concatWs(shingleSpace, window: _*))
      s += 1
    }
    out
  }

  /** The window strings themselves (NgramShingles), same window rule. */
  def shingleStrings(toks: ArrayData, n: Int): Array[Any] = {
    val num = toks.numElements()
    val winLen = if (num < n) num else n
    val nOut = if (num < n) 1 else num - n + 1
    val out = new Array[Any](nOut)
    val window = new Array[UTF8String](winLen)
    var s = 0
    while (s < nOut) {
      var j = 0
      while (j < winLen) { window(j) = toks.getUTF8String(s + j); j += 1 }
      out(s) = UTF8String.concatWs(shingleSpace, window: _*)
      s += 1
    }
    out
  }

  /** 64-bit SimHash over a token array, same semantics as
    * GraftFunctions.simhash64 (dual-residue polynomial hash per token —
    * 62 effective bits, DuckDB-reproducible — +1/-1 bit votes, bit set iff
    * vote sum positive). */
  def simhash(toks: ArrayData): Long = {
    val votes = new Array[Int](64)
    val n = toks.numElements()
    var i = 0
    while (i < n) {
      // null token: the HOF formulation's char fold yields NULL, whose bit
      // tests all vote -1 — identical to hashing as 0 here
      val t = if (toks.isNullAt(i)) null else toks.getUTF8String(i)
      val h = if (t == null) 0L else polyFingerprint(t)
      var j = 0
      while (j < 64) {
        if (((h >>> j) & 1L) == 1L) votes(j) += 1 else votes(j) -= 1
        j += 1
      }
      i += 1
    }
    var fp = 0L
    var j = 0
    while (j < 64) { if (votes(j) > 0) fp |= (1L << j); j += 1 }
    fp
  }

  /** Banded bounded Levenshtein: min(edit distance, k+1) in O(k·min(m,n))
    * time and O(n) space — cells farther than k off the diagonal can never
    * contribute to a distance ≤ k, so only the 2k+1-wide band is computed,
    * and the row exits early once the whole band exceeds k. For a linkage
    * verify with k=1..2 this is ~len/k times less work per pair than the
    * full DP. Spark 4's three-argument `levenshtein(a, b, k)` bands the
    * same way, but matches characters as UTF-8 byte slices in every cell;
    * on the 742,500 blocked `c_name` pairs of sf0.1 at k = 1 its verify
    * cost about twice this one's (4 cores), and `er_fuzzy_clusters` ran
    * ~1 s slower with it. Exact agreement with the full distance whenever
    * that distance is ≤ k — property-tested against the built-in. */
  def boundedLevenshtein(a: UTF8String, b: UTF8String, k: Int): Int = {
    val s = a.toString
    val t = b.toString
    val m = s.length
    val n = t.length
    val inf = k + 1
    if (math.abs(m - n) > k) return inf
    var prev = new Array[Int](n + 1)
    var curr = new Array[Int](n + 1)
    var j = 0
    while (j <= n) { prev(j) = if (j <= k) j else inf; j += 1 }
    var i = 1
    while (i <= m) {
      java.util.Arrays.fill(curr, inf)
      if (i <= k) curr(0) = i
      val from = math.max(1, i - k)
      val to = math.min(n, i + k)
      // column 0 is a live band cell while i <= k — it must count toward
      // the row minimum or an empty/short second string exits early with
      // inf even when the true distance (pure deletions, = m) is <= k
      var rowMin = if (i <= k) i else inf
      j = from
      while (j <= to) {
        val cost = if (s.charAt(i - 1) == t.charAt(j - 1)) 0 else 1
        var v = prev(j - 1) + cost // substitute (or match)
        if (prev(j) + 1 < v) v = prev(j) + 1 // delete
        if (curr(j - 1) + 1 < v) v = curr(j - 1) + 1 // insert
        if (v > inf) v = inf
        curr(j) = v
        if (v < rowMin) rowMin = v
        j += 1
      }
      if (rowMin >= inf) return inf // band exhausted: distance > k
      val tmp = prev; prev = curr; curr = tmp
      i += 1
    }
    math.min(prev(n), inf)
  }
}

/** `week_of_month(date)` as a native expression (SURVEY §4.3): Spark bans
  * the `W` datetime pattern, and the pure-column formula costs four date
  * field extractions; this is one table lookup per row, codegen'd. */
case class WeekOfMonth(child: Expression)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case DateType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"week_of_month needs DATE, got $t")
  }
  override def dataType: DataType = IntegerType
  override def prettyName: String = "week_of_month"

  override protected def nullSafeEval(input: Any): Any =
    ExprUtil.weekOfMonth(input.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.ExprUtil$$.MODULE$$.weekOfMonth($c)")

  override protected def withNewChildInternal(newChild: Expression): WeekOfMonth =
    copy(child = newChild)
}

/** `cosine_sim(array<float>, array<float>)`: a single fused loop in
  * generated code; the equivalent zip_with/aggregate composition evaluates
  * interpreted lambdas with per-element boxing (~5× slower measured on the
  * brute-force top-k scan). */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        TypeCheckResult.TypeCheckFailure(s"cosine_sim needs two ARRAY<FLOAT>, got $l, $r")
    }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_sim"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    ExprUtil.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.plans.ExprUtil$$.MODULE$$.cosine($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

/** `minhash_sig(tokens, shingleSize, k)`: the whole shingle → hash → k
  * slot-min pipeline fused into one loop over the token array. The composed
  * form (shingles via concat_ws-over-slices + per-slot transform) allocates
  * a shingle array plus k hash arrays per row through interpreted lambdas —
  * measured ~8 s of the sf0.1 bench on its own. Value-identical to
  * GraftFunctions.shingle_hashes + minhash_slots (same polynomial base
  * hash, same seeded universal-hash coefficients — asserted in
  * ExpressionsSpec). */
case class MinHashSignature(child: Expression, shingleSize: Int, k: Int)
    extends UnaryExpression {
  require(shingleSize >= 1 && k >= 1,
    s"minhash_sig: shingleSize and k must be >= 1, got $shingleSize, $k")
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"minhash_sig needs ARRAY<STRING>, got $t")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig"

  private val p = 2147483647L
  // same coefficient stream as GraftFunctions.minhash_slots and the
  // generated DuckDB oracle literals
  private lazy val (coeffA, coeffB) = graft.functions.GraftFunctions.minhashCoeffs(k)

  /** Called from both interpreted eval and generated code. */
  def compute(toks: ArrayData): ArrayData = {
    val mins = Array.fill(k)(Long.MaxValue)
    // polynomial base hashes (not xxhash64): cross-engine-reproducible, so
    // the whole LSH path is DuckDB-oracled; the (a,b) family below supplies
    // slot decorrelation
    val hs = ExprUtil.shingleHashes(toks, shingleSize)
    var s = 0
    while (s < hs.length) {
      val base = hs(s)
      var i = 0
      while (i < k) {
        val v = (coeffA(i) * base + coeffB(i)) % p
        if (v < mins(i)) mins(i) = v
        i += 1
      }
      s += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(mins)
  }

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("mh", this, classOf[MinHashSignature].getName)
    defineCodeGen(ctx, ev, c => s"$ref.compute($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSignature =
    copy(child = newChild)
}

/** `shingle_hash_arr(tokens, n)`: the word n-gram shingle stream hashed
  * straight to int64 — one loop builds each window (UTF8String.concatWs)
  * and folds its polynomial base hash (ExprUtil.polyH1, the MinHash base),
  * never materializing the shingle STRING array. Same hash value as
  * GraftFunctions.shingle_hashes∘shingles and the DuckDB oracle's
  * list_reduce fold; the HOF formulation (char split + aggregate per
  * shingle) measured 48 s of CPU at sf0.1 in the prefix-filter join —
  * this fused form is the reason set-similarity postings shuffle longs,
  * not strings. Shorter-than-n documents collapse to one whole-document
  * shingle, matching `shingles`. */
case class ShingleHashArray(child: Expression, n: Int)
    extends UnaryExpression {
  require(n >= 1, s"shingle_hash_arr: n must be >= 1, got $n")
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"shingle_hash_arr needs ARRAY<STRING>, got $t")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_hash_arr"

  def compute(toks: ArrayData): ArrayData =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      ExprUtil.shingleHashes(toks, n))

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("sha", this, classOf[ShingleHashArray].getName)
    defineCodeGen(ctx, ev, c => s"$ref.compute($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): ShingleHashArray =
    copy(child = newChild)
}

/** `shingles(tokens, n)`: word n-gram strings in one loop over the token
  * array (UTF8String.concatWs, no per-window slice allocation). Same
  * semantics as GraftFunctions.shingles: documents shorter than n tokens
  * collapse to one whole-document shingle. The HOF formulation
  * (transform + concat_ws over slice) is interpreted per window — measured
  * ~6 s of the sf0.1 n-gram count on its own. */
case class NgramShingles(child: Expression, n: Int)
    extends UnaryExpression {
  require(n >= 1, s"shingles: n must be >= 1, got $n")
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"shingles needs ARRAY<STRING>, got $t")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "shingles"

  def compute(toks: ArrayData): ArrayData =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      ExprUtil.shingleStrings(toks, n))

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("sh", this, classOf[NgramShingles].getName)
    defineCodeGen(ctx, ev, c => s"$ref.compute($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): NgramShingles =
    copy(child = newChild)
}

/** `simhash64(array<string>)`: fused token-hash + bit-vote loop. */
case class SimHash64(child: Expression)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"simhash64 needs ARRAY<STRING>, got $t")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  override protected def nullSafeEval(input: Any): Any =
    ExprUtil.simhash(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.ExprUtil$$.MODULE$$.simhash($c)")

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

/** `poly_fp(string)`: dual-residue polynomial rolling fingerprint — the
  * fused form of GraftFunctions.doc_fingerprint_poly's char fold (which
  * splits into a per-char array first). Bit-identical values; the DuckDB
  * oracle re-derives them from `ord()` folds. */
case class PolyFingerprint(child: Expression)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"poly_fp needs STRING, got $t")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "poly_fp"

  override protected def nullSafeEval(input: Any): Any =
    ExprUtil.polyFingerprint(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.ExprUtil$$.MODULE$$.polyFingerprint($c)")

  override protected def withNewChildInternal(newChild: Expression): PolyFingerprint =
    copy(child = newChild)
}

/** `winnow_fps(tokens, shingleSize, window)`: winnowing document
  * fingerprints (Schleimer, Wilkerson & Aiken, SIGMOD 2003 — the MOSS
  * algorithm): hash every `shingleSize`-word shingle, slide a `window`-hash
  * window, keep each window's MINIMUM hash. The guarantee: any shared run
  * of `window + shingleSize - 1` tokens between two documents yields at
  * least one shared fingerprint, while only ~2/(window+1) of shingle hashes
  * are kept — the index is a fraction of a full shingle index at the same
  * detection floor. Kept as a sorted DISTINCT value set (value-dedup makes
  * the positional tie rule irrelevant — deterministic on both engines).
  * One fused loop: rolling shingle build, polynomial hash, monotonic-deque
  * sliding min — no intermediate arrays; same short-document collapse rule
  * as `shingles` (fewer than `shingleSize` tokens → one whole-doc shingle).
  * The DuckDB oracle replays hash and window-min with list lambdas. */
case class WinnowFingerprints(child: Expression, shingleSize: Int, window: Int)
    extends UnaryExpression {
  require(shingleSize >= 1 && window >= 1,
    s"winnow_fps: shingleSize and window must be >= 1, got $shingleSize, $window")
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"winnow_fps needs ARRAY<STRING>, got $t")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "winnow_fps"

  def compute(toks: ArrayData): ArrayData = {
    val hs = ExprUtil.shingleHashes(toks, shingleSize)
    val nShingles = hs.length
    val out = new java.util.TreeSet[java.lang.Long]()
    if (nShingles <= window) {
      var m = Long.MaxValue
      var i = 0
      while (i < nShingles) { if (hs(i) < m) m = hs(i); i += 1 }
      out.add(m)
    } else {
      // monotonic deque sliding minimum: O(nShingles) total
      val dq = new Array[Int](nShingles)
      var head = 0
      var tail = 0 // deque of indices, values increasing head→tail
      var i = 0
      while (i < nShingles) {
        while (tail > head && hs(dq(tail - 1)) >= hs(i)) tail -= 1
        dq(tail) = i; tail += 1
        if (dq(head) <= i - window) head += 1
        if (i >= window - 1) out.add(hs(dq(head)))
        i += 1
      }
    }
    val arr = new Array[Any](out.size)
    val it = out.iterator()
    var k = 0
    while (it.hasNext) { arr(k) = it.next().longValue(); k += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(arr)
  }

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("wf", this, classOf[WinnowFingerprints].getName)
    defineCodeGen(ctx, ev, c => s"$ref.compute($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): WinnowFingerprints =
    copy(child = newChild)
}

/** `pq_codes(qv, subDim, nCentroids, flatCodebook)`: product-quantization
  * encoding fused into one loop — for each of the m = len(qv)/subDim
  * subspaces, the index of the nearest codebook subvector (exact int64
  * squared distance, ties to the lowest index). The codebook is a
  * row-major `[s * nCentroids + c]` Scala Seq, captured at build time into
  * a plain JVM array — the composed formulation
  * (`aggregate(zip_with(slice(...)))` × m × nCentroids) builds 128
  * interpreted HOF trees per row and dominates the PQ query's runtime with
  * codegen/planning cost alone. */
case class PqEncode(child: Expression, subDim: Int,
    nCentroids: Int, codebook: Seq[Seq[Long]])
    extends UnaryExpression {
  require(subDim >= 1 && nCentroids >= 1 && codebook.nonEmpty
      && codebook.length % nCentroids == 0,
    s"pq_codes: bad codebook shape ${codebook.length} for nc=$nCentroids")
  // every codebook row must span exactly subDim dims: a short row would
  // AIOOBE in the hot loop, a long one would silently assign centroids on
  // a prefix — the same silent mis-ranking the per-row dim check prevents
  require(codebook.forall(_.length == subDim),
    s"pq_codes: codebook rows must have $subDim elements, got lengths " +
      codebook.map(_.length).distinct.mkString(","))
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"pq_codes needs ARRAY<BIGINT>, got $t")
  }
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "pq_codes"

  // codebook is held as Seq in the case-class fields (Array fields compare
  // by reference, which would break expression canonicalization / CSE /
  // plan matching for semantically identical pq_codes calls) and flattened
  // to primitive arrays ONCE here for the hot loop
  private val m = codebook.length / nCentroids
  @transient private lazy val cbArr: Array[Array[Long]] =
    codebook.map(_.toArray).toArray

  def compute(qv: ArrayData): ArrayData = {
    val dim = qv.numElements()
    // loud failure on ragged rows: dim uniformity is otherwise only checked
    // on the codebook seeds, and a short row would yield a short codes
    // array whose downstream element_at turns NULL — a silently mis-ranked
    // neighbor instead of an error
    if (dim != m * subDim)
      throw new IllegalArgumentException(
        s"pq_codes: row has $dim elements, codebook expects ${m * subDim} " +
          s"($m subspaces x $subDim)")
    val out = new Array[Any](m)
    var s = 0
    while (s < m) {
      var bestC = 0
      var bestD = Long.MaxValue
      var c = 0
      while (c < nCentroids) {
        val cb = cbArr(s * nCentroids + c)
        var d = 0L
        var j = 0
        while (j < subDim) {
          val diff = qv.getLong(s * subDim + j) - cb(j)
          d += diff * diff
          j += 1
        }
        if (d < bestD) { bestD = d; bestC = c }
        c += 1
      }
      out(s) = bestC
      s += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pq", this, classOf[PqEncode].getName)
    defineCodeGen(ctx, ev, c => s"$ref.compute($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): PqEncode =
    copy(child = newChild)
}

/** `pq_adc(codes, q_idx)`: PQ asymmetric-distance scoring fused into one
  * loop — ADC(q, x) = Σ_s tables(q)(s)(codes(s)), the per-query distance
  * tables captured at build time. The composed formulation (a 3-level
  * `element_at` literal-lookup tree per subspace, m trees summed) carried
  * ~3 s of planning/codegen overhead per run: each element_at chain
  * re-materialized the full [queries][subspaces][centroids] literal in the
  * expression tree m times. Here the tables live ONCE as a reference object
  * and scoring is m primitive array reads per row. Tables are Seq in the
  * case-class field (canonicalization-safe, like [[PqEncode]]'s codebook)
  * and flattened to primitive arrays once per executor. */
case class PqAdc(left: Expression, right: Expression,
    tables: Seq[Seq[Seq[Long]]])
    extends BinaryExpression {
  require(tables.nonEmpty && tables.head.nonEmpty,
    "pq_adc: empty distance tables")
  // uniform shape: every query must carry the same subspace count and
  // every subspace table the same centroid count, or compute()'s array
  // reads would fail with a bare AIOOBE mid-job
  require(tables.forall(_.length == tables.head.length),
    "pq_adc: queries disagree on subspace count")
  require(tables.forall(_.forall(_.length == tables.head.head.length)),
    "pq_adc: subspace tables disagree on centroid count")
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(IntegerType, _), IntegerType) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"pq_adc needs (ARRAY<INT> codes, INT query index), got $l, $r")
    }
  override def dataType: DataType = LongType
  override def prettyName: String = "pq_adc"

  private val m = tables.head.length
  @transient private lazy val tblArr: Array[Array[Array[Long]]] =
    tables.map(_.map(_.toArray).toArray).toArray

  def compute(codes: ArrayData, qIdx: Int): Long = {
    if (qIdx < 0 || qIdx >= tblArr.length)
      throw new IllegalArgumentException(
        s"pq_adc: query index $qIdx outside [0, ${tblArr.length})")
    if (codes.numElements() != m)
      throw new IllegalArgumentException(
        s"pq_adc: ${codes.numElements()} codes, tables expect $m subspaces")
    val t = tblArr(qIdx)
    val nc = t(0).length
    var sum = 0L
    var s = 0
    while (s < m) {
      // loud failure on NULL or out-of-range codes: getInt reads the
      // zeroed slot for a NULL element, silently scoring centroid 0
      if (codes.isNullAt(s))
        throw new IllegalArgumentException(s"pq_adc: NULL code at subspace $s")
      val c = codes.getInt(s)
      if (c < 0 || c >= nc)
        throw new IllegalArgumentException(
          s"pq_adc: code $c at subspace $s outside [0, $nc)")
      sum += t(s)(c)
      s += 1
    }
    sum
  }

  override protected def nullSafeEval(codes: Any, qIdx: Any): Any =
    compute(codes.asInstanceOf[ArrayData], qIdx.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("adc", this, classOf[PqAdc].getName)
    defineCodeGen(ctx, ev, (c, q) => s"$ref.compute($c, $q)")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqAdc =
    copy(left = newLeft, right = newRight)
}

/** `lev_bounded(a, b, k)`: banded edit distance capped at k+1 — the verify
  * step of blocked fuzzy linkage (Dedup.fuzzyLinkBlocked). The predicate
  * `lev_bounded(a, b, k) <= k` decides exactly the same set as
  * `levenshtein(a, b) <= k` while doing O(k·len) work per pair instead of
  * O(len²) — on a candidate-pair stream that is the whole cost. */
case class BoundedLevenshtein(left: Expression, right: Expression, k: Int)
    extends BinaryExpression {
  // upper bound guards inf = k+1 overflow (k = Int.MaxValue would wrap inf
  // negative and every pair would silently "match"); any real linkage
  // verify uses single-digit k
  require(k >= 0 && k < Int.MaxValue,
    s"lev_bounded: k must be in [0, ${Int.MaxValue - 1}], got $k")
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, StringType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        TypeCheckResult.TypeCheckFailure(s"lev_bounded needs two STRING, got $l, $r")
    }
  override def dataType: DataType = IntegerType
  override def prettyName: String = "lev_bounded"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    ExprUtil.boundedLevenshtein(
      a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.plans.ExprUtil$$.MODULE$$.boundedLevenshtein($a, $b, $k)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BoundedLevenshtein =
    copy(left = newLeft, right = newRight)
}
