package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions._

class GraftFunctionsSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private def one[T](c: org.apache.spark.sql.Column): T =
    Seq(1).toDF("x").select(c).collect().head.get(0).asInstanceOf[T]

  test("tokens drops empties from repeated whitespace") {
    val got = Seq("a  b   c").toDF("text")
      .select(tokens(col("text"))).collect().head.getSeq[String](0)
    assert(got == Seq("a", "b", "c"))
  }

  test("shingles: n-gram windows; short docs collapse to one shingle") {
    val df = Seq("a b c d", "a").toDF("text")
      .select(shingles(tokens(col("text")), 3).as("s"))
    val got = df.collect().map(_.getSeq[String](0)).toSeq
    assert(got.head == Seq("a b c", "b c d"))
    assert(got(1) == Seq("a"))
  }

  test("minhash signature: k slots, identical for identical text, mostly equal for near-dups") {
    val df = Seq("the quick brown fox jumps over the lazy dog",
        "the quick brown fox jumps over the lazy dog",
        "the quick brown fox leaps over the lazy dog")
      .toDF("text")
      .select(minhash_signature(shingles(tokens(col("text")), 2), 32).as("sig"))
    val sigs = df.collect().map(_.getSeq[Long](0)).toSeq
    assert(sigs.forall(_.length == 32))
    assert(sigs(0) == sigs(1))
    val agree = sigs(0).zip(sigs(2)).count { case (a, b) => a == b }
    assert(agree > 8, s"near-dup signatures should mostly agree, got $agree/32")
  }

  test("simhash: identical docs at hamming 0; unrelated docs far apart") {
    val df = Seq("alpha beta gamma delta", "alpha beta gamma delta",
        "zebra xylophone quartz jackal")
      .toDF("text").select(simhash64(tokens(col("text"))).as("fp"))
    val fps = df.collect().map(_.getLong(0)).toSeq
    assert(fps(0) == fps(1))
    assert(java.lang.Long.bitCount(fps(0) ^ fps(2)) > 10)
  }

  test("doc_fingerprint_poly matches the reference fold and is order-sensitive") {
    def ref(s: String): Long = {
      def residue(mult: Long, p: Long): Long =
        s.foldLeft(0L)((acc, c) => (acc * mult + c.toInt) % p)
      residue(31L, 2147483647L) * 2147483648L + residue(131L, 2147483629L)
    }
    val texts = Seq("a b c", "c b a", "", "  spaced   out  ", "x")
    val df = texts.toDF("text")
      .select(doc_fingerprint_poly(tokens(col("text"))).as("fp"))
    val got = df.collect().map(_.getLong(0)).toSeq
    // the engine normalizes whitespace runs (tokens joined by one space)
    val want = texts.map(t => ref(t.split("\\s+").filter(_.nonEmpty).mkString(" ")))
    assert(got == want)
    assert(got(0) != got(1)) // permuted tokens → different print
  }

  test("jaccard on distinct-token sets") {
    val df = Seq(("a b c", "b c d")).toDF("x", "y")
      .select(jaccard(tokens(col("x")), tokens(col("y"))).as("j"))
    assert(math.abs(df.collect().head.getDouble(0) - 0.5) < 1e-12)
  }

  test("cosine similarity: orthogonal 0, parallel 1, zero-norm guarded to 0") {
    val df = Seq(
      (Array(1f, 0f), Array(0f, 1f)),
      (Array(1f, 2f), Array(2f, 4f)),
      (Array(0f, 0f), Array(1f, 1f))).toDF("a", "b")
      .select(cosine_similarity(col("a"), col("b")).as("c"))
    val got = df.collect().map(_.getDouble(0)).toSeq
    assert(math.abs(got(0)) < 1e-12)
    assert(math.abs(got(1) - 1.0) < 1e-12)
    assert(got(2) == 0.0)
  }

  test("hamming64 counts differing bits") {
    val df = Seq((0L, 7L)).toDF("a", "b").select(hamming64(col("a"), col("b")))
    assert(df.collect().head.getInt(0) == 3)
  }
}
