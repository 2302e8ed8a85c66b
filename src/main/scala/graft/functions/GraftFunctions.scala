package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.plans.Natives

/** Column-level building blocks for the engine. Everything here is composed
  * from `org.apache.spark.sql.functions._` built-ins and graft's natives (all
  * codegen'd inside whole-stage codegen) — no Scala UDFs, so
  * filters/projections around these stay push-down- and codegen-friendly.
  *
  * Where a graft native computes the same value, the column formula here is
  * the reference the tests compare the native against, and the ops call the
  * native: [[week_of_month]] for `Natives.weekOfMonth`, and
  * [[string_fingerprint_poly]] / [[doc_fingerprint_poly]] for
  * `Natives.polyFp`.
  */
object GraftFunctions {

  // ---------------------------------------------------------------- dates --

  /** `java.util.Calendar.WEEK_OF_MONTH` under the US locale (weeks start
    * Sunday, minimal-days-in-first-week = 1, range 1..6) — the semantics the
    * reference's weekly histogram and timeperiod dimension are built on
    * (`/root/reference/.../SanFranciscoCrime.java:178-180`,
    * `LoadStarDB.java:139`). Spark 3+ rejects the `W` datetime pattern, so
    * compute it directly:
    *
    *   week_of_month(d) = floor((dayofmonth(d) + dow(first_of_month) - 2)/7) + 1
    *
    * with `dayofweek` Sunday=1. Property-tested against Calendar in
    * `WeekOfMonthSpec`.
    */
  def week_of_month(d: Column): Column =
    (floor((dayofmonth(d) + dayofweek(trunc(d, "MM")) - lit(2)) / lit(7)) + lit(1))
      .cast("int")

  /** The reference's histogram bucket: `Calendar.MONTH * 5 + weekOfMonth`
    * (`SanFranciscoCrime.java:177-187`; Calendar.MONTH is 0-based, hence
    * `month(d) - 1`), with the week from the native `Natives.weekOfMonth`.
    * Known aliasing at month boundaries (week 6 of month m collides with
    * week 1 of month m+1) is preserved knowingly — see SURVEY.md §2.3-A2.
    */
  def month_week_bucket(d: Column): Column =
    (month(d) - lit(1)) * lit(5) + Natives.weekOfMonth(d)

  // -------------------------------------------------------------- vectors --

  /** Dot product of two float-array columns via higher-order functions
    * (codegen'd, no UDF). Elements are widened to double BEFORE the multiply
    * and the fold is a sequential left-to-right double accumulation — the
    * same IEEE op sequence DuckDB's list_inner_product over DOUBLE[] runs, so
    * oracle comparisons see bit-identical values. */
  def dot_product(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  /** L2 norm of a float-array column (double accumulation, see dot_product). */
  def l2_norm(a: Column): Column =
    sqrt(aggregate(a, lit(0.0),
      (acc, v) => acc + v.cast("double") * v.cast("double")))

  /** Cosine similarity of two float-array columns; 0.0 when either norm is 0
    * (instead of NaN) so downstream top-k ordering is total. */
  def cosine_similarity(a: Column, b: Column): Column = {
    val denom = l2_norm(a) * l2_norm(b)
    when(denom === 0.0, lit(0.0)).otherwise(dot_product(a, b) / denom)
  }

  // ----------------------------------------------------------------- text --

  /** Whitespace tokenization (the documents table is space-tokenizable by
    * construction); drops empty tokens from repeated spaces. */
  def tokens(text: Column): Column =
    filter(split(text, "\\s+"), t => length(t) > 0)

  /** Word n-gram shingles joined with single spaces. Documents shorter than
    * `n` tokens collapse to one whole-document shingle so they still get a
    * MinHash signature. */
  def shingles(toks: Column, n: Int): Column = {
    // n <= 0 would silently emit empty-string grams for every window
    // (sequence(0, size) + zero-width slice) — same build-time contract as
    // the native Shingles expression
    require(n >= 1, s"shingles: n must be >= 1, got $n")
    when(size(toks) < n, array(concat_ws(" ", toks)))
      .otherwise(transform(
        sequence(lit(0), size(toks) - lit(n)),
        i => concat_ws(" ", slice(toks, i + lit(1), lit(n)))))
  }

  /** Mersenne prime 2^31-1: the modulus for the universal-hash MinHash
    * slots. All slot arithmetic stays below 2^62, so no Long overflow under
    * ANSI mode. */
  val MinhashP = 2147483647L

  /** Seeded universal-hash coefficients (a_i, b_i) shared by the HOF slots,
    * the fused native MinHashSignature expression, AND the generated DuckDB
    * oracle SQL (which embeds them as literals) — one stream, three
    * consumers, so the signature is cross-engine reproducible. */
  def minhashCoeffs(k: Int): (Array[Long], Array[Long]) = {
    // k = 0 would build an EMPTY signature downstream — a degenerate that
    // matches everything; mirror the native MinHashSignature's contract
    require(k >= 1, s"minhashCoeffs: k must be >= 1, got $k")
    val rnd = new scala.util.Random(0x5EED)
    val a = new Array[Long](k); val b = new Array[Long](k)
    (0 until k).foreach { i =>
      a(i) = 1L + rnd.nextLong(MinhashP - 1); b(i) = rnd.nextLong(MinhashP)
    }
    (a, b)
  }

  /** The string's code-point stream as an int array — the character codes
    * the polynomial folds run over. Position-indexed `substr` (code-point
    * addressed, like DuckDB's `s[i:i]`), NOT `split(s, "")`: the empty-regex
    * split operates on UTF8 bytes, shredding every multibyte char into
    * U+FFFD fragments and silently diverging from both the native
    * expressions and the oracle's `ord()` fold on any non-ASCII text.
    * `sequence(1, 0)` would count DOWN, so the empty string is cased out. */
  private[graft] def charCodes(s: Column): Column =
    when(length(s) === 0, array().cast("array<int>"))
      .otherwise(transform(sequence(lit(1), length(s)),
        i => ascii(s.substr(i, lit(1)))))

  /** Single-residue polynomial hash of a string column:
    * foldLeft(0)((acc, c) => (acc * mult + code(c)) mod p) over its code
    * points — plain integer arithmetic any engine reproduces exactly (the
    * cross-engine requirement that rules out xxhash64 here). */
  private[graft] def polyResidue(s: Column, mult: Long, p: Long): Column =
    aggregate(charCodes(s), lit(0L), (acc, c) => (acc * lit(mult) + c) % lit(p))

  /** ONE polynomial base hash per shingle (mult 31, mod 2^31-1) —
    * materialize this with `withColumn` and feed it to [[minhash_slots]], so
    * the k slots reuse the hashes instead of rehashing every shingle per
    * slot. Previously xxhash64 mod p; the polynomial residue makes the whole
    * MinHash pipeline DuckDB-oracle-reproducible, and the universal family
    * below supplies the spread a single weak base hash lacks. */
  def shingle_hashes(sh: Column): Column =
    transform(sh, s => polyResidue(s, 31L, MinhashP))

  /** MinHash signature over precomputed shingle hashes: slot i =
    * min over shingles of (a_i * h + b_i) mod p — the standard universal
    * family with driver-side seeded coefficients. The mod-p wraparound is
    * what decorrelates the slots; a linear combination WITHOUT it lets one
    * shingle with small halves win every slot (measured 0/32 near-dup slot
    * agreement vs the expected ≈ Jaccard × 32). */
  def minhash_slots(hs: Column, k: Int): Column = {
    val (as, bs) = minhashCoeffs(k)
    array((0 until k).map { i =>
      array_min(transform(hs, h => pmod(lit(as(i)) * h + lit(bs(i)), lit(MinhashP))))
    }: _*)
  }

  /** Convenience composition of [[shingle_hashes]] + [[minhash_slots]] for
    * one-shot use; hot paths should materialize the hashes first. */
  def minhash_signature(sh: Column, k: Int): Column =
    minhash_slots(shingle_hashes(sh), k)

  /** Group a MinHash signature into `bands` band-hashes for LSH bucketing:
    * band j = polynomial fold over its `rowsPerBand` signature slots
    * (acc·1000003 + slot, mod 2^31-1 — every intermediate < 2^52,
    * ANSI-safe). Two docs land in the same (band index, band hash) bucket
    * iff a band matches exactly; the band index is part of the bucket key,
    * so the fold needs no per-band seed. Previously xxhash64 over the slots
    * — the fold is the cross-engine-reproducible form. */
  def minhash_bands(sig: Column, bands: Int, rowsPerBand: Int,
      sigLen: Int): Column = {
    // zero bands = an empty (match-nothing) bucketing, zero rowsPerBand = a
    // constant-0 hash per band (one corpus-wide bucket) — both silent
    require(bands >= 1 && rowsPerBand >= 1,
      s"minhash_bands: need bands, rowsPerBand >= 1, got $bands, $rowsPerBand")
    // a grid overrunning the signature reads past its end: element_at past
    // the array yields NULL under non-ANSI mode, folding every overrunning
    // band hash to NULL — a silent corpus-wide bucket collision. Long
    // product: an Int product can wrap (65536 × 65536 → 0) and slip past.
    require(bands.toLong * rowsPerBand <= sigLen,
      s"minhash_bands: bands*rowsPerBand (${bands.toLong * rowsPerBand}) " +
        s"overruns the $sigLen-slot signature")
    array((0 until bands).map { j =>
      (0 until rowsPerBand)
        .map(r => element_at(sig, j * rowsPerBand + r + 1))
        .foldLeft(lit(0L): Column)((acc, s) =>
          (acc * lit(1000003L) + s) % lit(MinhashP))
    }: _*)
  }

  /** 64-bit SimHash over a token array: per token, the dual-residue
    * polynomial hash's bits (62 effective — bits 62/63 are always 0, so
    * they never set) vote +1/-1 per bit position; final bit j is set iff
    * the vote sum is positive. Composed entirely from higher-order
    * functions — per-row, shuffle-free. Previously xxhash64 per token; the
    * polynomial hash makes the fingerprints DuckDB-oracle-reproducible. */
  def simhash64(toks: Column): Column = {
    // hash each token ONCE up front; the per-bit vote lambda then only does
    // shift/mask on the precomputed long (64× fewer hash evaluations)
    val hashes = transform(toks, t =>
      polyResidue(t, 31L, 2147483647L) * lit(2147483648L)
        + polyResidue(t, 131L, 2147483629L))
    val votes = aggregate(
      hashes,
      array_repeat(lit(0), 64),
      (acc, h) => zip_with(acc, hashBitVotes(h), (a, b) => a + b))
    (0 until 64)
      .map(j => when(element_at(votes, j + 1) > 0, shiftleft(lit(1L), j)).otherwise(lit(0L)))
      .reduce(_ bitwiseOR _)
  }

  private def hashBitVotes(h: Column): Column =
    transform(
      sequence(lit(0), lit(63)),
      j => when(call_function("shiftright", h, j).bitwiseAND(lit(1L)) === lit(1L), lit(1))
        .otherwise(lit(-1)))

  /** Hamming distance between two 64-bit fingerprints. */
  def hamming64(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** Order-sensitive polynomial (Rabin–Karp-style) rolling fingerprint over
    * the characters of the space-joined token stream: two independent
    * residues
    *
    *   h1 = foldLeft(0)((acc, c) => (acc *  31 + code(c)) mod 2147483647)
    *   h2 = foldLeft(0)((acc, c) => (acc * 131 + code(c)) mod 2147483629)
    *
    * packed as `h1 * 2^31 + h2` (62 effective bits — collision odds at
    * 100 TB doc counts comparable to a single 64-bit hash). Every
    * intermediate stays below 2^39, so it is ANSI-overflow-safe, and it is
    * plain integer arithmetic any engine reproduces exactly — this is the cross-engine-verifiable
    * variant (oracled in `text_fingerprint`).
    */
  def doc_fingerprint_poly(toks: Column): Column =
    string_fingerprint_poly(concat_ws(" ", toks))

  /** The same dual-residue fingerprint over an arbitrary string column —
    * shared by [[doc_fingerprint_poly]] and the CDC chunk hash. */
  def string_fingerprint_poly(s: Column): Column = {
    // code-point stream (see charCodes): matches the oracle's
    // 1..length(s) ord() codes exactly, including non-ASCII
    val codes = charCodes(s)
    def residue(mult: Long, p: Long): Column =
      aggregate(codes, lit(0L), (acc, c) => (acc * lit(mult) + c) % lit(p))
    residue(31L, 2147483647L) * lit(2147483648L) + residue(131L, 2147483629L)
  }

  /** Jaccard similarity of the distinct-token sets of two token arrays. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val union = size(array_union(a, b)).cast("double")
    when(union === 0.0, lit(0.0)).otherwise(inter / union)
  }
}
