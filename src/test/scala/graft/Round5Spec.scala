package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Multimodal
import graft.plans.Natives

/** Round-5 specs: real PNG pixel decode (IDAT inflate + filter
  * reconstruction), RIFF pad-byte walking, and PQ loud-failure guards. */
class Round5Spec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  // ---- Multimodal.decodePixelStats -----------------------------------------

  test("pixel decode: every 1..4 x 1..4 image round-trips through deflate + all five filters") {
    // heights >= 5 would be needed to hit filter type 4 via the y % 5
    // cycle alone, so ALSO build a tall image exercising rows 0..9
    for (w <- 1 to 4; h <- (1 to 4) :+ 10) {
      val id = (w * 100 + h).toLong
      val bytes = Multimodal.pngBytesWithPixels(id, w, h)
      val got = Multimodal.decodePixelStats(id, bytes)
      var sr, sg, sb, sa = 0L
      for (y <- 0 until h; x <- 0 until w) {
        sr += Multimodal.plantedPixel(id, x, y, 0)
        sg += Multimodal.plantedPixel(id, x, y, 1)
        sb += Multimodal.plantedPixel(id, x, y, 2)
        sa += Multimodal.plantedPixel(id, x, y, 3)
      }
      assert(got == Multimodal.PixelStats(id, w, h, w * h, sr, sg, sb, sa),
        s"decode mismatch for ${w}x$h")
    }
  }

  test("pixel decode: corrupted IDAT byte is rejected by the CRC walk, not mis-decoded") {
    val bytes = Multimodal.pngBytesWithPixels(7L, 3, 3)
    // flip one byte inside the IDAT payload (after sig+IHDR = 8+25, skip
    // the 8-byte chunk header)
    val corrupted = bytes.clone()
    corrupted(8 + 25 + 8 + 2) = (corrupted(8 + 25 + 8 + 2) ^ 0x5a).toByte
    val e = intercept[IllegalArgumentException](
      Multimodal.decodePixelStats(7L, corrupted))
    assert(e.getMessage.contains("CRC mismatch"))
  }

  test("pixel decode: non-RGBA8 color declarations fail loudly (honest decoder envelope)") {
    // grayscale (color type 0) IHDR: the decoder must refuse, not decode
    // RGBA math over grayscale bytes
    val rgba = Multimodal.pngBytesWithPixels(1L, 2, 2)
    val gray = rgba.clone()
    gray(8 + 8 + 9) = 0 // IHDR color-type byte: 6 (RGBA) -> 0 (gray)
    // fix the IHDR CRC so the failure is the color check, not the CRC walk
    val crc = new java.util.zip.CRC32()
    crc.update(gray, 8 + 4, 4 + 13)
    val v = crc.getValue.toInt
    gray(8 + 8 + 13) = ((v >> 24) & 0xff).toByte
    gray(8 + 8 + 14) = ((v >> 16) & 0xff).toByte
    gray(8 + 8 + 15) = ((v >> 8) & 0xff).toByte
    gray(8 + 8 + 16) = (v & 0xff).toByte
    val e = intercept[IllegalArgumentException](
      Multimodal.decodePixelStats(1L, gray))
    assert(e.getMessage.contains("RGBA8"))
  }

  // ---- Multimodal.parseWav: RIFF pad byte + degenerate fmt ------------------

  test("parseWav: odd-length chunk followed by its pad byte stays aligned") {
    // hand-build RIFF/WAVE with a 3-byte junk chunk (padded to 4) BEFORE
    // fmt/data: a walker that ignores the pad desyncs and misses them
    def le32(v: Int) = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    def le16(v: Int) = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    val junk = "junk".getBytes("US-ASCII") ++ le32(3) ++
      Array[Byte](1, 2, 3, 0) // 3 data bytes + 1 pad
    val fmt = "fmt ".getBytes("US-ASCII") ++ le32(16) ++
      le16(1) ++ le16(2) ++ le32(16000) ++ le32(16000 * 2 * 2) ++
      le16(4) ++ le16(16)
    val data = "data".getBytes("US-ASCII") ++ le32(40) ++ new Array[Byte](40)
    val body = "WAVE".getBytes("US-ASCII") ++ junk ++ fmt ++ data
    val wav = "RIFF".getBytes("US-ASCII") ++ le32(body.length) ++ body
    val h = Multimodal.parseWav(1L, wav)
    assert(h.sample_rate == 16000 && h.channels == 2
      && h.bits_per_sample == 16 && h.n_samples == 10)
  }

  test("parseWav: zero-channel fmt chunk fails loudly, not ArithmeticException") {
    def le32(v: Int) = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    def le16(v: Int) = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    val fmt = "fmt ".getBytes("US-ASCII") ++ le32(16) ++
      le16(1) ++ le16(0) ++ le32(8000) ++ le32(0) ++ le16(0) ++ le16(0)
    val data = "data".getBytes("US-ASCII") ++ le32(8) ++ new Array[Byte](8)
    val body = "WAVE".getBytes("US-ASCII") ++ fmt ++ data
    val wav = "RIFF".getBytes("US-ASCII") ++ le32(body.length) ++ body
    val e = intercept[IllegalArgumentException](Multimodal.parseWav(2L, wav))
    assert(e.getMessage.contains("channels"))
  }

  // ---- PQ guards ------------------------------------------------------------

  test("pq_codes: ragged embedding row fails loudly instead of mis-ranking") {
    import org.apache.spark.sql.functions._
    // 8-long codebook rows (m=2, subDim=4, nc=1); one 6-long data row
    val df = Seq(
      (0L, Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L, 8L)),
      (1L, Seq(1L, 2L, 3L, 4L, 5L, 6L))).toDF("vec_id", "qv")
    val cb = Seq(Seq(1L, 2L, 3L, 4L), Seq(5L, 6L, 7L, 8L))
    val e = intercept[Exception] {
      df.select(Natives.pqCodes(col("qv"), 4, 1, cb)).collect()
    }
    // the IllegalArgumentException may arrive wrapped (task failure → Spark
    // exception): search the cause chain for the loud pq_codes message
    val messages = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).flatMap(t => Option(t.getMessage)).toSeq
    assert(messages.exists(_.contains("pq_codes")), s"got: $messages")
  }

  test("heavyHitters: MG candidates + exact verify find planted hot keys through the cap") {
    import org.apache.spark.sql.functions._
    // 10k rows, one key at 30%, one at 15%, the rest spread over 2000 cold
    // keys — capacity 16 forces constant decrement-all eviction, so this
    // exercises the sketch, not the counts.size < capacity fast path
    val rows = (Seq.fill(3000)(777L) ++ Seq.fill(1500)(888L) ++
      (0 until 5500).map(i => 1000L + i % 2000)).zipWithIndex
    val df = rows.toDF("user_id", "ord").repartition(8)
    val got = graft.ops.Profile.heavyHitters(df, "user_id", capacity = 16, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // guarantee zone: n * 16 > 10000 -> n > 625: exactly the two planted keys
    assert(got == Seq((777L, 3000L), (888L, 1500L)), s"got $got")
  }

  test("heavyHitters: capacity >= cardinality degenerates to the exact answer") {
    import org.apache.spark.sql.functions._
    val df = (0 until 1000).map(i => i % 7).toDF("k")
    val got = graft.ops.Profile.heavyHitters(df, "k", capacity = 64, k = 10)
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    val expected = (0 until 7).map(k => k -> (if (k < 1000 % 7) 143L else 142L))
      .filter { case (_, n) => n * 64 > 1000 }
      .sortBy { case (k, n) => (-n, k) }
    assert(got == expected, s"got $got")
  }

  test("duplicateSpans: planted cross-doc span is counted; unique docs report zero") {
    import org.apache.spark.sql.functions._
    val shared = (1 to 8).map(i => s"common$i").mkString(" ")
    val docs = Seq(
      (1L, shared + " tail one two three"),
      (2L, "head words here " + shared),
      (3L, "totally unrelated text with nine tokens minimum padding words")
    ).toDF("doc_id", "text")
    val got = graft.ops.Corpus.duplicateSpans(docs, spanTokens = 8)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // docs 1 and 2 share exactly the one 8-token span; doc 3 shares nothing
    assert(got(1L)._2 == 1L && got(2L)._2 == 1L && got(3L)._2 == 0L, s"got $got")
    // span totals: doc1 has 12 tokens -> 5 spans, doc2 11 -> 4, doc3 9 -> 2
    assert(got(1L)._1 == 5L && got(2L)._1 == 4L && got(3L)._1 == 2L, s"got $got")
  }

  test("lengthBatches: bands split on the power-of-two thresholds, batches cut every N docs") {
    import org.apache.spark.sql.functions._
    // 20 docs of 10 tokens (band 0) + 3 docs of 100 tokens (band 3)
    val docs = ((1 to 20).map(i => (i.toLong, Seq.fill(10)("w").mkString(" "))) ++
      (21 to 23).map(i => (i.toLong, Seq.fill(100)("w").mkString(" ")))).toDF("doc_id", "text")
    val got = graft.ops.Corpus.lengthBatches(docs, batchSize = 8)
      .collect().map(r => (r.getLong(0), r.getInt(2), r.getInt(3)))
    val bands = got.map { case (id, band, _) => id -> band }.toMap
    assert((1L to 20L).forall(bands(_) == 0) && (21L to 23L).forall(bands(_) == 3))
    // band 0: docs 1-8 batch 0, 9-16 batch 1, 17-20 batch 2; band 3 all batch 0
    val batches = got.map { case (id, _, b) => id -> b }.toMap
    assert((1L to 8L).forall(batches(_) == 0) && (9L to 16L).forall(batches(_) == 1)
      && (17L to 20L).forall(batches(_) == 2) && (21L to 23L).forall(batches(_) == 0))
  }

  test("tokenRarity: rare-token docs land in the tail bucket, common-token docs in the head") {
    import org.apache.spark.sql.functions._
    // "the" dominates the corpus; doc 3 is all hapaxes
    val docs = Seq(
      (1L, "the the the the the the"),
      (2L, "the the the cat"),
      (3L, "zyx wvu tsr qpo")).toDF("doc_id", "text")
    val got = graft.ops.TextOps.tokenRarity(docs)
      .collect().map(r => r.getLong(0) -> r.getInt(4)).toMap
    assert(got(1L) == 1 && got(3L) == 3, s"got $got")
  }

  // ---- Multimodal.aHash64 ---------------------------------------------------

  test("aHash64: bits match a direct recomputation from the planted pixels") {
    for (w <- 1 to 4; h <- 1 to 4) {
      val id = (w * 10 + h).toLong
      val got = Multimodal.aHash64(id, Multimodal.pngBytesWithPixels(id, w, h))
      // recompute from the planted formula (what the DuckDB oracle does)
      val gray = Array.tabulate(64) { i =>
        val xs = (i % 8) * w / 8; val ys = (i / 8) * h / 8
        (0 to 2).map(c => Multimodal.plantedPixel(id, xs, ys, c).toLong).sum
      }
      val tot = gray.sum
      var hi = 0L; var lo = 0L
      for (i <- 0 until 64 if gray(i) * 64 > tot)
        if (i < 32) lo |= 1L << i else hi |= 1L << (i - 32)
      assert((got.ahash_hi, got.ahash_lo) == (hi, lo), s"mismatch for ${w}x$h")
      assert(got.ahash_hi >= 0 && got.ahash_lo >= 0,
        "halves must stay non-negative (32 bits each)")
    }
  }

  test("aHash64: uniform image hashes to zero (no gray strictly above mean)") {
    // a 1x1 image resamples to 64 identical grays: gray*64 == tot everywhere,
    // strict compare -> all bits 0 (ties-to-zero contract)
    val got = Multimodal.aHash64(9L, Multimodal.pngBytesWithPixels(9L, 1, 1))
    assert(got.ahash_hi == 0L && got.ahash_lo == 0L)
  }

  test("imageNearDup: pigeonhole-bucketed pairs equal the brute-force hamming join") {
    val docs = spark.range(0, 80).selectExpr("id AS doc_id",
      "'x' AS text", "'web' AS source")
    val got = Multimodal.imageNearDup(spark, docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // brute force over the decoded hashes (the path the DuckDB oracle takes)
    val hs = (0L until 80L by 2).map { id =>
      val (w, h) = Multimodal.plantedDims(id)
      Multimodal.aHash64(id, Multimodal.pngBytesWithPixels(id, w, h))
    }
    val want = (for {
      a <- hs; b <- hs if a.media_id < b.media_id
      d = java.lang.Long.bitCount(a.ahash_hi ^ b.ahash_hi) +
        java.lang.Long.bitCount(a.ahash_lo ^ b.ahash_lo)
      if d <= 3
    } yield (a.media_id, b.media_id, d)).toSet
    assert(got == want, s"got ${got.size} pairs, want ${want.size}")
  }

  // ---- Relational.bloomPrunedJoin --------------------------------------------

  test("bloomPrunedJoin: equals the plain join; the prefilter actually prunes") {
    import org.apache.spark.sql.functions.col
    val fact = spark.range(0, 2000).selectExpr("id AS fk", "id % 7 AS v")
    val dim = spark.range(0, 2000, 100).selectExpr("id AS dk")
    val got = graft.ops.Relational.bloomPrunedJoin(fact, "fk", dim, "dk")
      .select("fk").as[Long].collect().sorted.toSeq
    assert(got == (0L until 2000L by 100).toSeq)
    // the prefilter alone: every true match survives (no false negatives),
    // and the 20-of-2000 selective dim prunes the bulk of the fact side
    val survivors = fact
      .where(graft.ops.Relational.bloomMightContain(dim, "dk")(col("fk")))
      .select("fk").as[Long].collect().toSet
    assert((0L until 2000L by 100).forall(survivors.contains))
    assert(survivors.size < 200,
      s"bloom passed ${survivors.size} of 2000 rows — not pruning")
  }

  test("stripDuplicateSpans: planted cross-doc span drops; unique text survives") {
    val shared = (1 to 8).map(i => s"w$i").mkString(" ")  // one exact 8-gram
    val docs = Seq(
      (1L, s"alpha $shared beta"),
      (2L, s"$shared gamma delta"),
      (3L, "all unique words here none repeat")).toDF("doc_id", "text")
    val got = graft.ops.Corpus.stripDuplicateSpans(docs)
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getLong(2), r.getString(3))).toMap
    assert(got(1L) == ((10, 8L, "alpha beta")))
    assert(got(2L) == ((10, 8L, "gamma delta")))
    assert(got(3L) == ((6, 0L, "all unique words here none repeat")))
  }

  test("stripDuplicateSpans: exact short duplicates strip to empty") {
    val docs = Seq((1L, "tiny dup doc"), (2L, "tiny dup doc"),
      (3L, "another text")).toDF("doc_id", "text")
    val got = graft.ops.Corpus.stripDuplicateSpans(docs)
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getLong(2), r.getString(3))).toMap
    assert(got(1L) == ((3, 3L, "")) && got(2L) == ((3, 3L, "")))
    assert(got(3L) == ((2, 0L, "another text")))
  }

  test("contrastivePairs: adjacent same-doc chunks pair; the overlap is shared text") {
    val text = ('a' to 'z').mkString * 12 // 312 chars -> 4 chunks (stride 90)
    val docs = Seq((1L, text), (2L, "short")).toDF("doc_id", "text")
    val got = graft.ops.Corpus.contrastivePairs(docs).collect()
    assert(got.map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSeq ==
      Seq((1L, 0, 1), (1L, 1, 2), (1L, 2, 3)))
    // positive-pair property: anchor's tail 30 chars == positive's head 30
    got.foreach { r =>
      val (a, b) = (r.getString(3), r.getString(4))
      assert(a.substring(90) == b.substring(0, a.length - 90))
    }
  }

  test("shortestHops: chain distances, unreachable vertices absent, cycles safe") {
    val edges = Seq(("A", "B", 1L), ("B", "C", 1L), ("C", "D", 1L),
      ("C", "A", 1L), // back-edge cycle must not loop forever
      ("E", "F", 1L)  // disconnected from A
    ).toDF("src", "dst", "w")
    val got = graft.ops.Graph.shortestHops(edges, "A")
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(got == Map("A" -> 0, "B" -> 1, "C" -> 2, "D" -> 3))
  }

  test("holtPrice: fold equals a plain-Scala replay; the trend term leads on a ramp") {
    val orders = (1 to 12).map(i =>
      (1L, i.toLong, f"2024-01-$i%02d", BigDecimal(i * 100)))
      .toDF("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
    val got = graft.ops.Relational.holtPrice(orders).collect().head
    var l = 100.0; var b = 0.0
    for (i <- 2 to 12) {
      val l2 = 0.25 * (i * 100.0) + 0.75 * (l + b)
      b = 0.2 * (l2 - l) + 0.8 * b
      l = l2
    }
    assert(got.getDouble(2) == math.floor((l + b) * 1e6) / 1e6)
    // on a strictly increasing series the trend term must push the
    // forecast ABOVE the level-only EWMA
    val ewma = graft.ops.Relational.ewmaPrice(orders).collect().head.getDouble(2)
    assert(got.getDouble(2) > ewma, s"holt ${got.getDouble(2)} <= ewma $ewma")
  }

  test("sampleProportional: value >= cap always kept; keep rate tracks value") {
    import org.apache.spark.sql.functions.{col, lit}
    val df = spark.range(0, 10000).selectExpr("id AS k",
      "CAST(id % 100 AS BIGINT) AS v") // values 0..99 cents, cap 100
    val kept = graft.ops.Sampling.sampleProportional(df, "k", col("v") * 1, 100L)
      .selectExpr("v").as[Long].collect()
    val rate = kept.groupBy(identity).view.mapValues(_.length / 100.0).toMap
    assert(!kept.contains(0L), "zero-value rows can never be kept")
    // monotone-ish: high-value band keeps far more than low-value band
    val lo = (1L to 20L).map(v => rate.getOrElse(v, 0.0)).sum / 20
    val hi = (80L to 99L).map(v => rate.getOrElse(v, 0.0)).sum / 20
    assert(hi > lo * 2, s"keep rate should track value: lo=$lo hi=$hi")
    val always = graft.ops.Sampling.sampleProportional(
      df.withColumn("v", lit(100L)), "k", col("v"), 100L).count()
    assert(always == 10000, "value == cap must always keep")
  }

  test("hardNegatives: collided-but-dissimilar pairs kept, near-dups excluded") {
    val half = (1 to 8).map(i => s"c$i").mkString(" ")
    val docs = Seq(
      (1L, s"${(1 to 8).map(i => s"a$i").mkString(" ")} $half"), // j(1,2)=1/3
      (2L, s"${(1 to 8).map(i => s"b$i").mkString(" ")} $half"),
      (3L, "identical twin text body"),
      (4L, "identical twin text body")).toDF("doc_id", "text") // j=1
    val got = graft.ops.Corpus.hardNegatives(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((1L, 2L)), "shared-half pair should be a hard negative")
    assert(!got.contains((3L, 4L)), "exact duplicates are positives, not negatives")
  }

  test("degreeCensus: planted graph degrees, strengths, and reciprocity") {
    val edges = Seq(("A", "B", 3L), ("B", "A", 2L), ("A", "C", 1L),
      ("C", "C", 9L)).toDF("src", "dst", "w")  // self-loop dropped
    val got = graft.ops.Graph.degreeCensus(edges).collect()
      .map(r => r.getString(0) -> r.toSeq.tail).toMap
    assert(got("A") == Seq(2L, 1L, 4L, 2L, 1L)) // out 2, in 1 (B->A), recip B
    assert(got("B") == Seq(1L, 1L, 2L, 3L, 1L))
    assert(got("C") == Seq(0L, 1L, 0L, 1L, 0L)) // only in-edge A->C
  }

  test("mixtureWeights: zero-token source gets NULL weight, not a crash") {
    val docs = Seq((1L, "five words in this doc", "big"),
      (2L, "two words", "big"), (3L, "", "empty")).toDF("doc_id", "text", "source")
    val got = graft.ops.Corpus.mixtureWeights(docs).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.isNullAt(3))).toMap
    assert(got("big") == ((7L, false)))
    assert(got("empty") == ((0L, true)))
  }

  test("mergePartialsRollup: result is invariant to the shard count") {
    val orders = spark.range(0, 500).selectExpr("id AS o_orderkey",
      "CAST(concat(CAST(id % 5 AS STRING), '-P') AS STRING) AS o_orderpriority",
      "CAST((id * 37) % 10000 AS DECIMAL(12,2)) AS o_totalprice")
    val one = graft.ops.Relational.mergePartialsRollup(orders, shards = 1)
      .collect().map(_.toSeq).toSeq
    val many = graft.ops.Relational.mergePartialsRollup(orders, shards = 64)
      .collect().map(_.toSeq).toSeq
    assert(one == many)
  }

  // ---- Multimodal.decodeWavStats --------------------------------------------

  test("wav sample decode: peak/L1/first match the planted-sample formula") {
    for (n <- Seq(1, 64, 319)) {
      val id = n.toLong
      val got = Multimodal.decodeWavStats(id,
        Multimodal.wavBytesWithSamples(id, 16000, n))
      val planted = (0 until n).map(Multimodal.plantedSample(id, _))
      assert(got.n_samples == n)
      assert(got.peak_abs == planted.map(math.abs).max, s"peak for n=$n")
      assert(got.sum_abs == planted.map(v => math.abs(v).toLong).sum)
      assert(got.first_sample == planted.head)
    }
  }

  test("wav sample decode: stereo or 8-bit declarations fail loudly") {
    val mono = Multimodal.wavBytesWithSamples(3L, 16000, 4)
    val stereo = mono.clone()
    stereo(22) = 2 // fmt channel count (offset 12+8+2)
    val e = intercept[IllegalArgumentException](
      Multimodal.decodeWavStats(3L, stereo))
    assert(e.getMessage.contains("mono 16-bit"))
  }

  test("bpePairCensus: counts adjacent in-word char pairs, ranked n desc then pair") {
    val docs = Seq((1L, "aab aab x"), (2L, "aba")).toDF("doc_id", "text")
    val got = graft.ops.TextOps.bpePairCensus(docs, topK = 3)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    // pairs: "aab" x2 -> aa,ab each x2; "aba" -> ab,ba; "x" too short
    assert(got == Seq(("ab", 3L), ("aa", 2L), ("ba", 1L)))
  }

  test("ivfPqTopK: equals a plain-Scala replay of route -> encode -> ADC -> rank") {
    // deterministic synthetic corpus: 40 vectors x 16 dims on the int grid
    val dim = 16
    val vecs = (0L until 40L).map(id =>
      id -> Array.tabulate(dim)(j => (((id + 1) * 17 + j * 29) % 200 - 100) / 100.0f))
    val emb = vecs.map { case (id, v) => (id, v.toSeq) }
      .toDF("vec_id", "embedding")
    val (nQ, k, nCells, nProbe, m, nCent) = (3, 5, 4, 2, 4, 8)
    val got = graft.ops.SimSearch.ivfPqTopK(emb, nQ, k, nCells, nProbe, m, nCent)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    // replay
    val g = vecs.map { case (id, v) => id -> v.map(x => math.round(x * 100.0).toLong) }.toMap
    def sq(a: Array[Long], b: Array[Long]) = a.indices.map(i => (a(i) - b(i)) * (a(i) - b(i))).sum
    val cells = (0L until nCells.toLong).map(g)
    val seeds = (0L until nCent.toLong).map(g)
    val subDim = dim / m
    def cellOf(v: Array[Long]) = cells.indices.minBy(c => (sq(v, cells(c).toArray), c))
    def codesOf(v: Array[Long]) = (0 until m).map(s => seeds.indices.minBy(c =>
      (sq(v.slice(s * subDim, (s + 1) * subDim), seeds(c).slice(s * subDim, (s + 1) * subDim).toArray), c)))
    val want = (0L until nQ.toLong).flatMap { qid =>
      val qv = g(qid)
      val probes = cells.indices.sortBy(c => (sq(qv, cells(c).toArray), c)).take(nProbe).toSet
      val scored = g.toSeq.filter { case (id, v) => id != qid && probes(cellOf(v)) }
        .map { case (id, v) =>
          val adc = codesOf(v).zipWithIndex.map { case (c, s) =>
            sq(qv.slice(s * subDim, (s + 1) * subDim), seeds(c).slice(s * subDim, (s + 1) * subDim).toArray) }.sum
          (id, adc)
        }.sortBy { case (id, adc) => (adc, id) }.take(k)
      scored.zipWithIndex.map { case ((id, adc), i) => (qid, id, adc, i + 1) }
    }
    assert(got.toSeq.sorted == want.sorted, s"got ${got.length}, want ${want.length}")
  }

  // ---- degenerate inputs: every new operator survives an empty world ------

  test("round-5 operators: empty inputs yield empty (or guarded) results, not crashes") {
    val emptyDocs = Seq.empty[(Long, String, String)]
      .toDF("doc_id", "text", "source")
    assert(Multimodal.imageNearDup(spark, emptyDocs).count() == 0)
    assert(Multimodal.imageAHashes(spark, emptyDocs).count() == 0)
    assert(Multimodal.wavSampleStats(spark, emptyDocs).count() == 0)
    assert(graft.ops.TextOps.bpePairCensus(emptyDocs).count() == 0)
    assert(graft.ops.Corpus.stripDuplicateSpans(emptyDocs).count() == 0)
    assert(graft.ops.Corpus.mixtureWeights(emptyDocs).count() == 0)
    assert(graft.ops.Corpus.contrastivePairs(emptyDocs).count() == 0)
    val emptyEmb = Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding")
    assert(graft.ops.SimSearch.ivfPqTopK(emptyEmb).count() == 0)
    val fact = spark.range(0, 10).selectExpr("id AS fk")
    val emptyDim = spark.range(0, 0).selectExpr("id AS dk")
    // empty dim: the bloom rejects everything, matching the plain join
    assert(graft.ops.Relational.bloomPrunedJoin(fact, "fk", emptyDim, "dk")
      .count() == 0)
    val emptyEdges = Seq.empty[(String, String, Long)].toDF("src", "dst", "w")
    assert(graft.ops.Graph.degreeCensus(emptyEdges).count() == 0)
    val emptyOrders = Seq.empty[(Long, String, java.math.BigDecimal)]
      .toDF("o_orderkey", "o_orderpriority", "o_totalprice")
    assert(graft.ops.Relational.mergePartialsRollup(emptyOrders).count() == 0)
  }

  test("pq_adc: scores equal driver-side table lookups on the fused path") {
    import org.apache.spark.sql.functions._
    // 2 queries x 2 subspaces x 3 centroids
    val tables = Seq(
      Seq(Seq(10L, 20L, 30L), Seq(1L, 2L, 3L)),
      Seq(Seq(100L, 200L, 300L), Seq(7L, 8L, 9L)))
    val df = Seq((Seq(0, 2), 0), (Seq(1, 1), 1)).toDF("codes", "q")
    val got = df.select(Natives.pqAdc(col("codes"), col("q"), tables).as("adc"))
      .collect().map(_.getLong(0)).toSeq
    assert(got == Seq(10L + 3L, 200L + 8L))
  }
}
