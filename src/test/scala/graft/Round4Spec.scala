package graft

import org.apache.spark.sql.functions.{col, filter, length, split}
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Corpus, Dedup, Ml, Multimodal}
import graft.plans.Natives

/** Round-4 hardening specs: loud-failure guards and replay semantics. */
class Round4Spec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  // ---- Ml.semDedup overflow guard ------------------------------------------

  test("semDedup: out-of-bound magnitude fails loudly, not as silent wrap") {
    // |x| = 2000 → quantized m = 200k on the x100 grid; d²·m⁴·400 blows
    // int64 by orders of magnitude. With ANSI off Spark would wrap
    // silently — the guard must turn that into an immediate error.
    val big = Seq(
      (0L, Seq.tabulate(64)(_ => 2000.0f)),
      (1L, Seq.tabulate(64)(d => if (d % 2 == 0) 2000.0f else -2000.0f))
    ).toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException](Ml.semDedup(big, k = 2))
    assert(e.getMessage.contains("int64-safe bound"))
  }

  // ---- Profile.benfordDigits -----------------------------------------------

  test("Benford census: digits and expected micro-counts exact, sub-1 values excluded") {
    val df = Seq(123.45, 19.99, 1.05, 250.0, 2999.0, 0.42, -34.5)
      .toDF("amount") // 0.42 excluded (|x| < 1); -34.5 counts as digit 3
    val got = graft.ops.Profile.benfordDigits(df, "amount").collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    // 6 qualifying rows: digits 1(×3: 123.45, 19.99, 1.05), 2(×2), 3(×1)
    assert(got(1) == ((3L, 6L * 301030L)))
    assert(got(2) == ((2L, 6L * 176091L)))
    assert(got(3) == ((1L, 6L * 124939L)))
    assert(got.keySet == Set(1, 2, 3))
  }

  // ---- Relational.brandAffinity --------------------------------------------

  test("brand affinity: co-occurrence counted per order basket, not per line") {
    val li = Seq(
      // order 1 buys brand X twice and Y once: the pair must count ONCE
      (1L, 101L), (1L, 102L), (1L, 201L),
      (2L, 103L), (2L, 202L),
      (3L, 104L), (3L, 203L),
      (4L, 105L), // X alone: support for X but no pair
      (5L, 301L)  // Z alone: never appears in output pairs
    ).toDF("l_orderkey", "l_partkey")
    val part = Seq(
      (101L, "X"), (102L, "X"), (103L, "X"), (104L, "X"), (105L, "X"),
      (201L, "Y"), (202L, "Y"), (203L, "Y"), (301L, "Z")
    ).toDF("p_partkey", "p_brand")
    val got = graft.ops.Relational.brandAffinity(li, part, minSupport = 3)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(got.toSeq == Seq(("X", "Y", 3L, 4L, 3L))) // X in orders 1-4, Y in 1-3
  }

  // ---- Graph.triangleCounts ------------------------------------------------

  test("triangle counts: K4 gives 3 per vertex, squares give none, direction ignored") {
    val edges = Seq(
      // K4 on a,b,c,d (some edges reversed / duplicated: must not matter)
      ("a", "b"), ("b", "c"), ("c", "a"), ("a", "d"), ("d", "b"), ("c", "d"),
      ("b", "a"),
      // 4-cycle w-x-y-z: no triangles
      ("w", "x"), ("x", "y"), ("y", "z"), ("z", "w")
    ).toDF("src", "dst")
    val got = graft.ops.Graph.triangleCounts(edges).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("a" -> 3L, "b" -> 3L, "c" -> 3L, "d" -> 3L))
  }

  // ---- Relational.cusumChangepoints ----------------------------------------

  test("CUSUM: sustained level shift alarms after the shift, never before") {
    // 20 quiet days (1 event/day) then 10 loud days (10 events/day): the
    // per-day deviation pre-shift is negative (cusum pinned at 0), post-
    // shift the excursion grows ~180/day and crosses 2x total on the
    // second loud day
    val rows = (1 to 20).map(d => (f"2024-01-$d%02d 12:00:00", 1)) ++
      (21 to 30).map(d => (f"2024-01-$d%02d 12:00:00", 10))
    val events = rows.zipWithIndex.flatMap { case ((ts, n), i) =>
      (0 until n).map(j => (i.toLong * 100 + j, java.sql.Timestamp.valueOf(ts), "a"))
    }.toDF("event_id", "ts", "event_type")
    val got = graft.ops.Relational.cusumChangepoints(events).collect()
      .map(r => r.getDate(1).toString -> (r.getLong(3), r.getBoolean(4))).toMap
    (1 to 20).foreach { d =>
      val (cusum, alarm) = got(f"2024-01-$d%02d")
      assert(cusum == 0L && !alarm, s"false alarm on quiet day $d")
    }
    assert(!got("2024-01-21")._2) // first loud day: excursion 180 < 240
    (22 to 30).foreach { d =>
      assert(got(f"2024-01-$d%02d")._2, s"missed alarm on loud day $d")
    }
  }

  // ---- Dedup.fuzzyEntityClusters -------------------------------------------

  test("fuzzy entity clusters: transitive chain resolves to ONE cluster") {
    // smith / smyth / smythe form a chain (1 edit per hop; ends differ by
    // 2 edits — a pairwise report would split them); jones is separate;
    // taylor matches nothing
    val customers = Seq(
      (1L, "smith"), (2L, "smyth"), (3L, "smythe"),
      (4L, "jones"), (5L, "janes"),
      (6L, "taylor")
    ).toDF("c_custkey", "c_name")
    val got = Dedup.fuzzyEntityClusters(customers, keySpan = 100)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 3L, 4L -> 2L)) // chain united; taylor absent
    // blocking is respected: same names in different blocks never pair
    val blocked = Seq((1L, "smith"), (250L, "smith")).toDF("c_custkey", "c_name")
    assert(Dedup.fuzzyEntityClusters(blocked, keySpan = 100).count() == 0)
  }

  // ---- Corpus.stripBoilerplate ---------------------------------------------

  test("stripBoilerplate: corpus-frequent segments drop everywhere, order kept") {
    val banner = "accept all cookies to continue reading this site" // 8 tokens
    val docs = Seq(
      (1L, s"$banner alpha beta gamma delta epsilon zeta eta theta"),
      (2L, s"$banner one two three four five six seven eight"),
      (3L, s"$banner red green blue cyan magenta yellow black white"),
      (4L, banner) // pure boilerplate: everything drops
    ).toDF("doc_id", "text")
    val got = graft.ops.Corpus.stripBoilerplate(docs, maxSegDf = 2).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2), r.getString(3)))
      .toMap
    assert(got(1L) == ((2, 1L, "alpha beta gamma delta epsilon zeta eta theta")))
    assert(got(2L) == ((2, 1L, "one two three four five six seven eight")))
    assert(got(4L) == ((1, 0L, ""))) // all segments were boilerplate
    // below the df threshold nothing is touched
    val loose = graft.ops.Corpus.stripBoilerplate(docs, maxSegDf = 10).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(loose(1L) == 2L && loose(4L) == 1L)
  }

  // ---- SimSearch.pqTopK ----------------------------------------------------

  test("PQ/ADC: planted twin ranks first; recall vs brute force on real data") {
    import graft.ops.SimSearch
    // 20 seed/query vectors in well-separated directions + a twin of
    // vector 0 — ADC must rank the twin as query 0's nearest neighbor
    def v(active: Int, scale: Float): Seq[Float] =
      Seq.tabulate(64)(d => if (d % 20 == active) scale else 0.05f * ((d + active) % 3))
    val emb = ((0 until 20).map(i => (i.toLong, v(i, 2.0f)))
      :+ (100L, v(0, 1.9f))).toDF("vec_id", "embedding")
    val got = SimSearch.pqTopK(emb, nQueries = 1, k = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
    assert(got.head == ((0L, 100L, 1)), s"twin not ranked first: ${got.toSeq}")
    // recall against exact cosine on the real embeddings table (PQ with a
    // 16-seed codebook is coarse — the floor is deliberately modest)
    val real = Tables.embeddings(spark, TestSpark.sf0001)
    val exact = SimSearch.bruteForceTopK(real, nQueries = 3, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = SimSearch.pqTopK(real, nQueries = 3, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.2, s"PQ recall too low: $recall")
  }

  test("PQ encoding is a zero-shuffle per-row map; ADC needs no join") {
    import graft.ops.SimSearch
    val emb = Tables.embeddings(spark, TestSpark.sf0001)
    val p = SimSearch.pqTopK(emb, nQueries = 2, k = 3)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Join"), s"PQ scoring must not join:\n$p")
    // the only exchanges: the top-k rank partial/final pair + output sort
    assert(!p.contains("CartesianProduct"), p)
  }

  // ---- Corpus.decontaminateSemantic ----------------------------------------

  test("semantic decontamination flags the paraphrase-neighbor, not the orthogonal") {
    def v(active: Int, scale: Float): Seq[Float] =
      Seq.tabulate(32)(d => if (d / 8 == active) scale else 0.0f)
    val emb = Seq(
      (0L, v(0, 1.0f)), (1L, v(1, 1.0f)),          // benchmark vectors
      (10L, v(0, 0.9f)),                            // near bench 0 (cos ~ 1)
      (11L, v(2, 1.0f)),                            // orthogonal: clean
      (12L, Seq.tabulate(32)(d => if (d < 16) 0.7f else 0.0f)) // overlaps both halves of bench 0/1 region
    ).toDF("vec_id", "embedding")
    val got = Corpus.decontaminateSemantic(emb, benchMaxVecId = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(10L) >= 1L)         // contaminated
    assert(!got.contains(11L))     // clean vector absent from the report
    // the scan is zero-join: no corpus-side shuffle before the output sort
    val p = Corpus.decontaminateSemantic(emb, benchMaxVecId = 2)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Join"), s"semantic decontamination must not join:\n$p")
  }

  test("semantic decontamination: out-of-bound magnitude fails loudly") {
    val big = Seq(
      (0L, Seq.tabulate(32)(_ => 3000.0f)),
      (10L, Seq.tabulate(32)(_ => 3000.0f))
    ).toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException](
      Corpus.decontaminateSemantic(big, benchMaxVecId = 2))
    assert(e.getMessage.contains("int64-safe bound"))
  }

  // ---- winnowing fingerprints ----------------------------------------------

  test("winnow_fps equals the brute-force reference (hash all, window mins, distinct)") {
    val k = 4; val w = 3
    def ref(toks: Seq[String]): Seq[Long] = {
      val shs =
        if (toks.length < k) Seq(toks.mkString(" "))
        else toks.sliding(k).map(_.mkString(" ")).toSeq
      val hs = shs.map(s => s.foldLeft(0L)((a, c) => (a * 31 + c) % 2147483647L))
      val mins =
        if (hs.length <= w) Seq(hs.min)
        else hs.sliding(w).map(_.min).toSeq
      mins.distinct.sorted
    }
    val docs = Seq(
      "the quick brown fox jumps over the lazy dog",
      "a b", // shorter than the shingle: whole-doc collapse
      "x y z w v u t s r q p o n m",
      "one one one one one one" // constant tokens: all hashes equal
    )
    val got = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
      .select(col("doc_id"), Natives.winnowFps(
        filter(split(col("text"), "\\s+"), x => length(x) > 0), k, w).as("fps"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap
    docs.zipWithIndex.foreach { case (t, i) =>
      val toks = t.split("\\s+").filter(_.nonEmpty).toSeq
      assert(got(i.toLong) == ref(toks), s"doc $i")
    }
  }

  test("minhash Jaccard estimate: 32/32 slots for identical docs, near-0 for disjoint") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"), // identical
      (3L, "one two three four five six seven eight nine")   // disjoint
    ).toDF("doc_id", "text")
    val got = Dedup.minhashJaccardEstimate(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got((1L, 2L)) == 32L) // identical shingle sets: every slot matches
    assert(got((2L, 3L)) < 8L)   // disjoint sets: only chance collisions
  }

  test("winnow_fps property: 200 seeded-random docs match the reference fold") {
    val k = 4; val w = 3
    def ref(toks: Seq[String]): Seq[Long] = {
      val shs =
        if (toks.length < k) Seq(toks.mkString(" "))
        else toks.sliding(k).map(_.mkString(" ")).toSeq
      val hs = shs.map(s => s.foldLeft(0L)((a, c) => (a * 31 + c) % 2147483647L))
      val mins = if (hs.length <= w) Seq(hs.min) else hs.sliding(w).map(_.min).toSeq
      mins.distinct.sorted
    }
    val rnd = new scala.util.Random(42)
    // lengths sweep the edge cases: 0-pad-avoided short docs through 60 toks,
    // small alphabet so shingles repeat WITHIN documents
    val docs = (0 until 200).map { i =>
      val n = 1 + rnd.nextInt(60)
      (i.toLong, Seq.fill(n)(s"w${rnd.nextInt(9)}"))
    }
    val got = docs.map { case (id, t) => (id, t.mkString(" ")) }
      .toDF("doc_id", "text")
      .select(col("doc_id"), Natives.winnowFps(
        filter(split(col("text"), "\\s+"), x => length(x) > 0), k, w).as("fps"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap
    docs.foreach { case (id, toks) =>
      assert(got(id) == ref(toks), s"doc $id (${toks.length} toks)")
    }
  }

  test("pq_codes property: 100 seeded-random vectors match brute-force argmin") {
    import graft.ops.SimSearch
    val rnd = new scala.util.Random(7)
    val dim = 32; val m = 8; val subDim = dim / m; val nc = 16
    val vecs = (0 until (100 + nc)).map { i =>
      (i.toLong, Seq.fill(dim)((rnd.nextDouble() * 4 - 2).toFloat))
    }
    val emb = vecs.toDF("vec_id", "embedding")
    // brute-force reference on the same x100 grid
    val q = vecs.map { case (id, v) => id -> v.map(x => math.round(x * 100).toLong) }.toMap
    val seeds = (0 until nc).map(c => q(c.toLong))
    def refCodes(v: Seq[Long]): Seq[Int] = (0 until m).map { s =>
      val sub = v.slice(s * subDim, (s + 1) * subDim)
      (0 until nc).minBy { c =>
        val cb = seeds(c).slice(s * subDim, (s + 1) * subDim)
        (sub.indices.map(j => { val d = sub(j) - cb(j); d * d }).sum, c)
      }
    }
    // drive through the public operator: for every (query, neighbor), the
    // ADC must equal the reference ADC computed from reference codes
    val got = SimSearch.pqTopK(emb, nQueries = 2, k = 100 + nc, m = m, nCentroids = nc)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    def refAdc(qid: Long, nid: Long): Long = {
      val codes = refCodes(q(nid))
      (0 until m).map { s =>
        val qsub = q(qid).slice(s * subDim, (s + 1) * subDim)
        val cb = seeds(codes(s)).slice(s * subDim, (s + 1) * subDim)
        qsub.indices.map(j => { val d = qsub(j) - cb(j); d * d }).sum
      }.sum
    }
    got.foreach { case ((qid, nid), adc) =>
      assert(adc == refAdc(qid, nid), s"query $qid neighbor $nid")
    }
    assert(got.nonEmpty)
  }

  test("winnowing guarantee: a shared run of window+shingle-1 tokens always pairs") {
    // w=3, k=4 : any shared run of >= 6 tokens must share a fingerprint
    val shared = "alpha beta gamma delta epsilon zeta"
    val docs = Seq(
      (1L, s"one two three $shared four five six"),
      (2L, s"p1 p2 p3 p4 p5 $shared q1 q2 q3"),
      (3L, "unrelated words only here nothing common at all")
    ).toDF("doc_id", "text")
    val pairs = graft.ops.Dedup.winnowedPairs(docs, minShared = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  // ---- Multimodal structural parsers ---------------------------------------

  test("PNG parse is structural: reads IHDR via chunk walk, rejects corruption") {
    val good = Multimodal.pngBytes(640, 480)
    val h = Multimodal.parsePng(1L, good)
    assert((h.width, h.height, h.bit_depth, h.color_type, h.n_chunks)
      == (640, 480, 8, 6, 2))
    // flip one IHDR data byte: the CRC verify must catch it
    val corrupt = good.clone(); corrupt(20) = (corrupt(20) ^ 0x01).toByte
    val e1 = intercept[IllegalArgumentException](Multimodal.parsePng(2L, corrupt))
    assert(e1.getMessage.contains("CRC"))
    // wrong magic is rejected before any field read
    val notPng = "RIFF0000WAVE".getBytes("US-ASCII")
    val e2 = intercept[IllegalArgumentException](Multimodal.parsePng(3L, notPng))
    assert(e2.getMessage.contains("signature"))
  }

  test("WAV parse walks RIFF sub-chunks and derives n_samples from data size") {
    val b = Multimodal.wavBytes(16000, 2, 555)
    val h = Multimodal.parseWav(1L, b)
    assert((h.sample_rate, h.channels, h.bits_per_sample, h.n_samples)
      == (16000, 2, 16, 555))
    assert(h.n_bytes == 44 + 555 * 2 * 2)
    val e = intercept[IllegalArgumentException](
      Multimodal.parseWav(2L, Multimodal.pngBytes(8, 8)))
    assert(e.getMessage.contains("RIFF"))
  }

  // ---- Dedup.capCensus -----------------------------------------------------

  test("capCensus: zero drops on an organic corpus, full accounting on a boilerplate flood") {
    val organic = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon eta"),
      (3L, "one two three four five six seven")
    ).toDF("doc_id", "text")
    val clean = Dedup.capCensus(organic).collect()
      .map(r => r.getString(0) -> (r.getLong(2), r.getLong(3))).toMap
    assert(clean.keySet ==
      Set("minhash_band", "shared_gram", "simhash_chunk", "winnow_fp"))
    assert(clean.values.forall(_ == (0L, 0L)))

    // 1100 byte-identical docs: every band/chunk/gram bucket holds all of
    // them, blowing both the 1024 bucket cap and the 100 gram-df cap
    val n = 1100
    val flood = (0 until n)
      .map(i => (i.toLong, "the quick brown fox jumps over the lazy dog again"))
      .toDF("doc_id", "text")
    val census = Dedup.capCensus(flood).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val perBucket = n.toLong * (n - 1) / 2
    census.foreach { case (path, nBuckets, nCapped, pairsCapped) =>
      assert(nCapped > 0, s"$path reported no capped buckets")
      assert(nCapped == nBuckets, s"$path: every bucket is the flood")
      assert(pairsCapped == nCapped * perBucket,
        s"$path: dropped-pair accounting must be exact")
    }
    // and the capped operators still complete (the cap is what saves them)
    assert(Dedup.minhashLsh(flood).count() == 0)
    assert(Dedup.sharedGramPairs(flood).count() == 0)
  }

  test("semDedup: in-bound magnitudes still pass the guard") {
    val ok = Seq(
      (0L, Seq.tabulate(64)(d => (d % 5).toFloat)),
      (1L, Seq.tabulate(64)(d => -(d % 7).toFloat))
    ).toDF("vec_id", "embedding")
    assert(Ml.semDedup(ok, k = 2).count() == 2)
  }
}
