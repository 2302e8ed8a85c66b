package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops._
import graft.plans.Natives

/** Round-3 operators: chunking, k-means, PageRank, blocked fuzzy linkage. */
class Round3Spec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  // ---- Corpus.chunkOverlap -------------------------------------------------

  test("chunkOverlap: stride-aligned starts, full coverage, overlap = size - stride") {
    val docs = Seq((1L, "a" * 250), (2L, "b" * 90), (3L, "c" * 91)).toDF("doc_id", "text")
    val got = Corpus.chunkOverlap(docs, size = 120, stride = 90).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getString(2)).toMap
    // doc 1: 250 chars -> starts 0, 90, 180 (3 chunks)
    assert(got.keys.count(_._1 == 1L) == 3)
    assert(got((1L, 0)).length == 120 && got((1L, 1)).length == 120)
    assert(got((1L, 2)).length == 70) // tail: 250 - 180
    // doc 2: exactly one stride -> one chunk; doc 3: one char over -> two
    assert(got.keys.count(_._1 == 2L) == 1)
    assert(got.keys.count(_._1 == 3L) == 2)
    assert(got((3L, 1)) == "c") // start 90, one char left
  }

  test("chunkOverlap: concatenating stride prefixes reconstructs the document") {
    val text = (1 to 40).map(i => f"w$i%02d").mkString(" ") // 199 chars
    val docs = Seq((7L, text)).toDF("doc_id", "text")
    val chunks = Corpus.chunkOverlap(docs, size = 120, stride = 90)
      .orderBy("chunk_id").collect().map(_.getString(2))
    val rebuilt = chunks.init.map(_.take(90)).mkString + chunks.last
    assert(rebuilt == text)
  }

  // ---- Ml.kmeansClusters ---------------------------------------------------

  private lazy val embSmall = {
    // two tight blobs far apart + their noise: k=2 must separate them
    val rows = (0 until 20).map { i =>
      val base = if (i % 2 == 0) 1.0f else -1.0f
      val v = Array.tabulate(64)(d => base + (i % 5) * 0.001f + d * 0.0f)
      (i.toLong, v.toSeq)
    }
    rows.toDF("vec_id", "embedding")
  }

  test("kmeans: clusters partition the corpus and separate distant blobs") {
    val got = Ml.kmeansClusters(embSmall, k = 2, iters = 2).collect()
    assert(got.map(_.getLong(1)).sum == 20L) // every point assigned once
    assert(got.length == 2)
    assert(got.map(_.getLong(1)).toSet == Set(10L)) // 10 per blob
  }

  test("kmeans: deterministic across runs and partition counts") {
    val a = Ml.kmeansClusters(embSmall.repartition(7), k = 2, iters = 2).collect().toSeq
    val b = Ml.kmeansClusters(embSmall.repartition(2), k = 2, iters = 2).collect().toSeq
    assert(a.map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      == b.map(r => (r.getInt(0), r.getLong(1), r.getLong(2))))
  }

  test("kmeans: more rounds never increase inertia (Lloyd monotonicity)") {
    val i2 = Ml.kmeansClusters(embSmall, k = 2, iters = 2).collect().map(_.getLong(2)).sum
    val i3 = Ml.kmeansClusters(embSmall, k = 2, iters = 3).collect().map(_.getLong(2)).sum
    assert(i3 <= i2)
  }

  // ---- Graph.pagerank ------------------------------------------------------

  test("pagerank: teleport-only for sink-fed graphs, mass flows to popular dst") {
    val edges = Seq(("a", "b", 3L), ("a", "c", 1L), ("b", "c", 1L), ("c", "a", 1L))
      .toDF("src", "dst", "w")
    val nodes = Seq("a", "b", "c").toDF("n_name")
    val got = Graph.pagerank(edges, nodes, iters = 3).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.size == 3)
    // c receives from both a (1/4 of its rank) and b (all of it): highest
    assert(got("c") > got("a") && got("c") > got("b"))
    // every rank keeps at least the teleport floor
    assert(got.values.forall(_ >= 150000000000L))
  }

  test("pagerank: node with no in-edges holds exactly the teleport term") {
    val edges = Seq(("a", "b", 1L)).toDF("src", "dst", "w")
    val nodes = Seq("a", "b").toDF("n_name")
    val got = Graph.pagerank(edges, nodes, iters = 2).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got("a") == 150000000000L)
  }

  test("pagerank: deterministic under repartition") {
    val edges = Seq(("a", "b", 3L), ("b", "a", 2L), ("a", "c", 1L), ("c", "b", 5L))
      .toDF("src", "dst", "w")
    val nodes = Seq("a", "b", "c").toDF("n_name")
    val x = Graph.pagerank(edges.repartition(5), nodes, iters = 4).collect().toSeq
    val y = Graph.pagerank(edges.repartition(1), nodes, iters = 4).collect().toSeq
    assert(x.map(r => (r.getString(0), r.getLong(1))) == y.map(r => (r.getString(0), r.getLong(1))))
  }

  // ---- Ml.semDedup ---------------------------------------------------------

  test("semDedup: planted near-duplicate of a representative is dropped, others kept") {
    // 4 far-apart seed vectors; vec 4 is a near-copy of vec 0 (cos ~ 1),
    // vec 5 is orthogonal-ish to everything
    def v(active: Int, scale: Float): Seq[Float] =
      Seq.tabulate(64)(d => if (d / 16 == active) scale else 0.01f * (d % 3))
    val emb = Seq(
      (0L, v(0, 2.0f)), (1L, v(1, 2.0f)), (2L, v(2, 2.0f)), (3L, v(3, 2.0f)),
      (4L, v(0, 1.9f)), // near-dup of representative 0
      (5L, Seq.tabulate(64)(d => if (d % 2 == 0) 1.5f else -1.5f))
    ).toDF("vec_id", "embedding")
    val got = Ml.semDedup(emb, k = 4).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got.values.map(_._1).sum == 6L) // all members accounted for
    assert(got(0)._2 == 1L) // exactly the planted near-dup dropped
    assert(got.values.map(_._2).sum == 1L) // and nothing else
  }

  // ---- Sampling.sampleNPerGroup ---------------------------------------------

  test("sampleNPerGroup: exact group sizes, deterministic, subset of input") {
    val df = (1L to 500L).map(i => (i, s"g${i % 3}")).toDF("doc_id", "lang")
    val a = Sampling.sampleNPerGroup(df, "lang", "doc_id", 7).collect()
    assert(a.groupBy(_.getString(1)).view.mapValues(_.length).toMap
      == Map("g0" -> 7, "g1" -> 7, "g2" -> 7))
    val b = Sampling.sampleNPerGroup(df.repartition(11), "lang", "doc_id", 7)
      .collect()
    assert(a.map(r => (r.getLong(0), r.getString(1))).toSet
      == b.map(r => (r.getLong(0), r.getString(1))).toSet)
    // short group: min(n, size)
    val tiny = Seq((1L, "x"), (2L, "x"), (3L, "y")).toDF("doc_id", "lang")
    assert(Sampling.sampleNPerGroup(tiny, "lang", "doc_id", 5).count() == 3)
  }

  // ---- BoundedLevenshtein ---------------------------------------------------

  test("lev_bounded == min(levenshtein, k+1) over random string pairs") {
    val rng = new scala.util.Random(42)
    def word() = (0 until 1 + rng.nextInt(12))
      .map(_ => ('a' + rng.nextInt(4)).toChar).mkString // small alphabet: close pairs
    val pairs = Seq.tabulate(400)(i => (i.toLong, word(), word()))
      .toDF("id", "a", "b")
    for (k <- 0 to 3) {
      val diff = pairs.select(
        Natives.levBounded(col("a"), col("b"), k).as("bounded"),
        least(levenshtein(col("a"), col("b")), lit(k + 1)).as("expected"))
        .where(col("bounded") =!= col("expected")).count()
      assert(diff == 0L, s"k=$k")
    }
  }

  test("lev_bounded: empty strings and exact-k edges") {
    val got = Seq(("", "", 0), ("", "abc", 1), ("abc", "abd", 2), ("abc", "xyz", 3))
      .toDF("a", "b", "id")
      .select(col("id"),
        Natives.levBounded(col("a"), col("b"), 2).as("d"))
      .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    assert(got(0) == 0) // "" vs ""
    assert(got(1) == 3) // distance 3 capped at k+1
    assert(got(2) == 1) // one substitution
    assert(got(3) == 3) // all three differ: capped
  }

  // ---- Relational.priceBucketRanks ------------------------------------------

  test("priceBucketRanks: aggregate-first form == textbook DISTINCT window form") {
    import org.apache.spark.sql.expressions.Window
    val orders = Tables.orders(spark, TestSpark.sf0001)
    val got = Relational.priceBucketRanks(orders).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSeq
    val w = Window.partitionBy("o_orderpriority").orderBy("bucket")
    val textbook = orders
      .select(col("o_orderpriority"),
        floor(col("o_totalprice") / 50000).cast("int").as("bucket"))
      .select(col("o_orderpriority"), col("bucket"),
        rank().over(w).cast("long").as("rnk"),
        dense_rank().over(w).cast("long").as("drnk"))
      .distinct().orderBy("o_orderpriority", "bucket").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == textbook)
  }

  // ---- Corpus.sourceOverlap --------------------------------------------------

  test("sourceOverlap: self-similar corpora score 1, disjoint score 0") {
    val docs = Seq(
      (1L, "alpha beta gamma delta", "s1"), (2L, "alpha beta gamma delta", "s2"),
      (3L, "zz yy xx ww vv uu", "s3")
    ).toDF("doc_id", "text", "source")
    val got = Corpus.sourceOverlap(docs).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(3)).toMap
    assert(got(("s1", "s2")) == 1000000L) // identical shingle sets: micro-1
    assert(!got.contains(("s1", "s3"))) // zero shared shingles: no pair row
  }

  // ---- TextOps.tfidfSimilarPairs ---------------------------------------------

  test("tfidfSimilarPairs: identical rare-shingle docs score 1, disjoint pairs absent") {
    val docs = Seq(
      (1L, "rare alpha beta gamma delta end"),
      (2L, "rare alpha beta gamma delta end"),  // identical: cos 1 in the band
      (3L, "zz yy xx ww vv uu tt ss"),          // shares nothing with 1/2
      (4L, "zz yy xx ww vv uu tt ss")
    ).toDF("doc_id", "text")
    val got = TextOps.tfidfSimilarPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got((1L, 2L)) == 1000000L) // identical vectors: cos²·10⁶ = 10⁶
    assert(got((3L, 4L)) == 1000000L)
    assert(!got.contains((1L, 3L)) && !got.contains((2L, 4L)))
  }

  // ---- Dedup.fuzzyLinkBlocked ----------------------------------------------

  test("fuzzy blocked linkage: candidates only within blocks, edit-1 matches counted") {
    val cust = Seq(
      (101L, "Customer#000000101"), (102L, "Customer#000000102"), // 1 edit apart
      (113L, "Customer#000000113"),                               // 2 edits from both
      (205L, "Customer#000000205")                                // other block
    ).toDF("c_custkey", "c_name")
    val got = Dedup.fuzzyLinkBlocked(cust, keySpan = 100, maxEdits = 1).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got(1L) == ((3L, 1L))) // 3 pairs in block 1, only 101-102 within 1 edit
    assert(!got.contains(2L))     // single-record block produces no pairs
  }
}
