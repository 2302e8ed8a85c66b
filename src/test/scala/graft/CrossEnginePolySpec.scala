package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions
import graft.plans.Natives

/** The polynomial-hash cross-engine contract on NON-ASCII text: native
  * expression, HOF composition, and the oracle's `ord()` fold (replicated
  * here as a Scala code-point fold — exactly what DuckDB's
  * `ord(s[i:i]) for i in 1..length(s)` computes, since both address code
  * points) must produce the SAME value for BMP accents, CJK, and
  * supplementary-plane (surrogate pair) characters. The gate can't see
  * this: TESTDATA text is ASCII, where bytes == code points. A round-10
  * review found the HOF leg folding per-byte U+FFFD on multibyte chars and
  * the native leg folding UTF-16 units (wrong for any emoji); both now
  * fold true code points. */
class CrossEnginePolySpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  /** The oracle fold: ord() over code points, dual residue packed. */
  private def oracleFingerprint(s: String): Long = {
    var h1 = 0L; var h2 = 0L
    s.codePoints().forEach { c =>
      h1 = (h1 * 31 + c) % 2147483647L
      h2 = (h2 * 131 + c) % 2147483629L
    }
    h1 * 2147483648L + h2
  }

  private val fixtures = Seq(
    "plain ascii",
    "café",                 // BMP accent (2-byte UTF-8)
    "naïve résumé",
    "日本語",        // CJK (3-byte UTF-8)
    "mixed é and 中",
    "😀",              // U+1F600 emoji — surrogate pair in UTF-16
    "pre 😀 post",
    "")

  test("poly_fp: native == HOF == oracle ord() fold on non-ASCII") {
    val rows = fixtures.toDF("s")
      .select(col("s"),
        Natives.polyFp(col("s")).as("native"),
        GraftFunctions.string_fingerprint_poly(col("s")).as("hof"))
      .collect()
    rows.foreach { r =>
      val s = r.getString(0)
      val expected = oracleFingerprint(s)
      assert(r.getLong(1) == expected,
        s"native diverges from oracle on '$s': ${r.getLong(1)} vs $expected")
      assert(r.getLong(2) == expected,
        s"HOF diverges from oracle on '$s': ${r.getLong(2)} vs $expected")
    }
  }

  test("lev_bounded: empty/short second string returns the true distance") {
    // the band loop is empty when len(b) = 0; before the rowMin fix the
    // early-exit fired and returned k+1 even though the true distance
    // (pure deletions) was <= k
    val cases = Seq(
      ("a", "", 1, 1),     // was 2
      ("ab", "", 2, 2),    // was 3
      ("ab", "", 3, 2),
      ("", "a", 1, 1),     // symmetric case (always worked)
      ("abc", "a", 2, 2),
      ("abc", "", 2, 3))   // true distance 3 > k: capped at k+1
    cases.zipWithIndex.foreach { case ((a, b, k, want), i) =>
      val got = Seq((a, b)).toDF("a", "b")
        .select(Natives.levBounded(col("a"), col("b"), k))
        .collect().head.getInt(0)
      assert(got == want, s"case $i: lev_bounded('$a','$b',$k) = $got, want $want")
    }
    // the contract predicate against the built-in, on pairs with empty sides
    val rng = new scala.util.Random(7)
    def word() = (0 until rng.nextInt(4))
      .map(_ => ('a' + rng.nextInt(3)).toChar).mkString // often empty
    val pairs = Seq.tabulate(300)(_ => (word(), word())).toDF("a", "b")
    for (k <- 0 to 3) {
      val diff = pairs.select(
          Natives.levBounded(col("a"), col("b"), k).as("bounded"),
          least(levenshtein(col("a"), col("b")), lit(k + 1)).as("expected"))
        .where(col("bounded") =!= col("expected")).count()
      assert(diff == 0L, s"k=$k")
    }
  }
}
