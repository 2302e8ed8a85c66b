package graft

import java.sql.Timestamp
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops._
import graft.plans.Natives

/** Operator-level specs on tiny inline fixtures (SURVEY §5.2-1). */
class OpsSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private lazy val events = Seq(
    (1L, ts("2024-01-03 10:00:00"), 10L, "click"),
    (2L, ts("2024-01-03 10:10:00"), 10L, "click"),
    (3L, ts("2024-01-03 11:30:00"), 10L, "view"),
    (4L, ts("2024-01-10 09:00:00"), 21L, "click"),
    (5L, ts("2024-02-01 09:00:00"), 32L, "view")
  ).toDF("event_id", "ts", "user_id", "event_type")

  test("A2 weeklyHistogram: dense zero-filled buckets per key") {
    val got = Parity.weeklyHistogram(events, col("event_type"), "event_type", 1 to 6)
      .collect().map(r => r.getString(0) -> (1 to 6).map(i => r.getLong(i))).toMap
    // 2024-01-03 is week 1 of Jan (Jan 1 2024 is Monday); Jan 10 week 2; Feb 1 week 1
    assert(got("click") == Seq(2L, 1L, 0L, 0L, 0L, 0L))
    assert(got("view") == Seq(2L, 0L, 0L, 0L, 0L, 0L))
  }

  test("A2 long form: month*5+week buckets") {
    val got = Parity.weeklyHistogramLong(events, col("event_type"), "event_type")
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(got(("click", 1)) == 2L)  // Jan wk1: (1-1)*5+1
    assert(got(("click", 2)) == 1L)  // Jan wk2
    assert(got(("view", 6)) == 1L)   // Feb wk1: (2-1)*5+1
  }

  test("A3 dailyCube counts sparse non-zero cells") {
    val got = Parity.dailyCube(events).collect()
      .map(r => (r.getDate(0).toString, r.getString(1), r.getString(2)) -> r.getLong(3)).toMap
    assert(got(("2024-01-03", "click", "D00")) == 2L)
    assert(got(("2024-01-03", "view", "D00")) == 1L)
    assert(got(("2024-01-10", "click", "D01")) == 1L)
    assert(got.size == 4)
  }

  test("A6 dictionary: 1-based sorted-rank ids, stable under input order") {
    val names = Seq("zeta", "alpha", "mid", "alpha").toDF("event_type")
    val got = Parity.dictionary(names, "event_type", "id", "name")
      .collect().map(r => r.getInt(0) -> r.getString(1)).toSeq
    assert(got == Seq(1 -> "alpha", 2 -> "mid", 3 -> "zeta"))
  }

  test("A3+A6 dailyCubeIndexed: 0-based ids = sorted rank - 1") {
    val got = Parity.dailyCubeIndexed(events).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2)) -> r.getLong(3)).toMap
    // categories sorted: click=0, view=1; districts sorted: D00=0, D01=1, D02=2
    assert(got(("2024/01/03", 0, 0)) == 2L)
    assert(got(("2024/02/01", 1, 2)) == 1L)
  }

  test("dedup: exact keeps min doc_id with copy counts") {
    val docs = Seq((0L, "same text"), (1L, "same text"), (2L, "other")).toDF("doc_id", "text")
    val got = Dedup.exact(docs).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(0L -> 2L, 2L -> 1L))
  }

  test("dedup: minhashLsh surfaces a planted near-duplicate pair") {
    val base = "the quick brown fox jumps over the lazy dog and runs far away tonight"
    val docs = Seq(
      (0L, base),
      (1L, base.replace("runs", "sprints")),
      (2L, "completely different words about database engines and query planning systems")
    ).toDF("doc_id", "text")
    val pairs = Dedup.minhashLsh(docs, shingleSize = 2, k = 32, bands = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.contains((0L, 1L)))
    assert(!pairs.contains((0L, 2L)) && !pairs.contains((1L, 2L)))
  }

  test("dedup: simhash finds identical docs at hamming 0") {
    val docs = Seq((0L, "alpha beta gamma"), (1L, "alpha beta gamma"),
      (2L, "unrelated totally different content here")).toDF("doc_id", "text")
    val got = Dedup.simhashNearDup(docs, maxHamming = 3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2)))
    assert(got.map(_._1).contains((0L, 1L)))
    assert(got.find(_._1 == (0L, 1L)).get._2 == 0)
  }

  test("simsearch: brute-force top-k ranks the planted twin first") {
    val vecs = (0 until 20).map { i =>
      val v = Array.tabulate(8)(j => math.sin(i * 8 + j).toFloat)
      (i.toLong, v)
    } ++ Seq((100L, Array.tabulate(8)(j => (math.sin(0 * 8 + j) * 1.001).toFloat)))
    val emb = vecs.toDF("vec_id", "embedding")
    val got = SimSearch.bruteForceTopK(emb, nQueries = 1, k = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(got.head == ((0L, 100L, 1)))  // twin of query 0 ranked 1
  }

  test("simsearch: LSH candidates achieve recall vs brute force on real data") {
    val emb = Tables.embeddings(spark, TestSpark.sf0001)
    val exact = SimSearch.bruteForceTopK(emb, nQueries = 3, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = SimSearch.lshTopK(emb, nQueries = 3, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.4, s"LSH recall too low: $recall")
  }

  test("simsearch: IVF candidates achieve recall vs brute force on real data") {
    val emb = Tables.embeddings(spark, TestSpark.sf0001)
    val exact = SimSearch.bruteForceTopK(emb, nQueries = 3, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = SimSearch.ivfTopK(emb, nQueries = 3, k = 5, nCells = 16, nProbe = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.4, s"IVF recall too low: $recall")
  }

  test("simsearch: IVF centroid assignment is a key-shuffle-free per-row map") {
    val emb = Tables.embeddings(spark, TestSpark.sf0001)
    val plan = SimSearch.ivfAssign(emb, nCells = 16)
      .queryExecution.executedPlan.toString
    // the one allowed exchange is Spread's ROUND-ROBIN spread of an
    // under-split scan (r15: the single-file embeddings table is one split
    // at any replica scale, and un-spread the per-row argmax ran on one
    // core). The assignment itself must never cluster rows by key — no
    // hash or range exchange, no join.
    assert(!plan.contains("hashpartitioning") && !plan.contains("rangepartitioning"),
      s"assignment must not key-shuffle:\n$plan")
    assert(!plan.contains("Join"), s"assignment must not join:\n$plan")
    // every vector gets a valid cell
    val cells = SimSearch.ivfAssign(emb, nCells = 16)
      .select("cell").distinct().collect().map(_.getInt(0)).toSet
    assert(cells.nonEmpty && cells.forall(c => c >= 0 && c < 16))
  }

  test("sampling: hash split is deterministic, exhaustive, and disjoint") {
    val docs = Tables.documents(spark, TestSpark.sf0001)
    val total = docs.count()
    val split = Sampling.hashSplit(docs, "doc_id", 80, 10)
    val counts = split.groupBy("split").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.values.sum == total)          // every row assigned
    assert(counts.keySet.subsetOf(Set("train", "val", "test")))
    // roughly proportional (hash uniformity; generous bounds for small n)
    assert(counts("train").toDouble / total > 0.6)
    // pure function of the key: a second run assigns identically
    val again = Sampling.hashSplit(docs, "doc_id", 80, 10)
      .select("doc_id", "split").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val first = split.select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(first == again)
    // sample ⊂ corpus and matches the explicit bucket predicate
    val sampled = Sampling.sampleByHash(docs, "doc_id", 10)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(sampled.forall(id => ((id % 2147483647L) * 1103515245L % 2147483647L) % 100 < 10))
  }

  test("sampling: stratified rates and corpus mixing are tag-correct") {
    val docs = Tables.documents(spark, TestSpark.sf0001)
    val strat = Sampling.stratifiedSampleByHash(docs, "lang", "doc_id",
      Map("en" -> 100), defaultPct = 0)
    // en sampled at 100%, everything else at 0%
    assert(strat.select("lang").distinct().collect().map(_.getString(0)).toSeq == Seq("en"))
    assert(strat.count() == docs.where(col("lang") === "en").count())
    val mixed = Sampling.mixCorpora(Seq(
      ("a", docs.where(col("lang") === "en"), 100),
      ("b", docs.where(col("lang") =!= "en"), 100)), "doc_id")
    assert(mixed.count() == docs.count())
    assert(mixed.where(col("corpus") === "a").count() ==
      docs.where(col("lang") === "en").count())
  }

  test("salted join is row-equivalent to the plain join under heavy skew") {
    val large = ((1 to 5000).map(i => (1L, i.toLong)) ++           // hot key
      (1 to 500).map(i => ((i % 10 + 2).toLong, i.toLong))).toDF("k", "payload")
    val small = (1L to 12L).map(k => (k, s"dim$k")).toDF("k", "name")
    val plain = large.join(small, "k")
    val salted = Relational.saltedJoin(large, small, "k", salts = 8)
    assert(salted.count() == plain.count())
    assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty)
  }

  test("skew guard: a degenerate all-identical corpus can't explode the pair space") {
    val boiler = (0L until 3000L).map(i => (i, "the same boilerplate text repeated everywhere"))
      .toDF("doc_id", "text")
    // every doc lands in one bucket per band -> size 3000 > MaxBucket -> dropped
    assert(Dedup.minhashLsh(boiler).count() == 0)
    // the duplicates themselves are exact-dedup's job, and it sees them all
    val exact = Dedup.exact(boiler).collect()
    assert(exact.length == 1 && exact.head.getLong(1) == 3000L)
  }

  test("star: fact crime total equals order count; dims are sorted ranks") {
    val (o, c, n) = (Tables.orders(spark, TestSpark.sf0001),
      Tables.customer(spark, TestSpark.sf0001), Tables.nation(spark, TestSpark.sf0001))
    val f = Star.fact(o, c, n)
    assert(f.agg(sum("crimes")).collect().head.getLong(0) == o.count())
    val cats = Star.dimCategory(o).collect().map(r => r.getInt(0) -> r.getString(1))
    assert(cats.map(_._2).toSeq == cats.map(_._2).sorted.toSeq)
    assert(cats.map(_._1).toSeq == (1 to cats.length))
  }

  test("star: sumByCategory matches direct aggregation") {
    val (o, c, n) = (Tables.orders(spark, TestSpark.sf0001),
      Tables.customer(spark, TestSpark.sf0001), Tables.nation(spark, TestSpark.sf0001))
    val viaStar = Star.sumByCategory(o, c, n, 1996).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val direct = o.where(year(col("o_orderdate")) === 1996)
      .groupBy("o_orderpriority").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(viaStar == direct)
  }

  test("text: quality + token stats have consistent counts") {
    val docs = Seq((0L, "the cat sat on the mat")).toDF("doc_id", "text")
    val stats = TextOps.tokenStats(docs).collect().head
    assert(stats.getInt(1) == 6)      // n_tokens
    assert(stats.getInt(2) == 5)      // distinct (the ×2)
    val q = TextOps.qualityScore(docs).collect().head
    assert(q.getInt(2) == 3)          // stop hits: the, on, the
  }

  test("reshape: unpivot(pivot(x)) equals the direct long-form aggregate") {
    val li = Seq(
      ("A", "1995-01-15", 100.0, 0.0), ("A", "1995-01-20", 50.0, 0.0),
      ("A", "1995-03-01", 10.0, 0.0), ("R", "1995-02-10", 70.0, 0.0))
      .toDF("l_returnflag", "d", "l_extendedprice", "l_discount")
      .withColumn("l_shipdate", col("d").cast("timestamp")).drop("d")
    val roundTrip = Relational.unpivotMonthlyRevenue(li)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(roundTrip == Map(
      ("A", "m1") -> 150.0, ("A", "m3") -> 10.0, ("R", "m2") -> 70.0))
    // wide form keeps every month column, empty cells null
    val wide = Relational.pivotMonthlyRevenue(li).where(col("l_returnflag") === "A")
      .collect().head
    assert(wide.getDouble(wide.fieldIndex("m1")) == 150.0)
    assert(wide.isNullAt(wide.fieldIndex("m2")))
  }

  test("range join: bands partition all orders; plan broadcasts the band table") {
    val orders = Seq((1L, 50000.0), (2L, 150000.0), (3L, 450000.0), (4L, 99999.99))
      .toDF("o_orderkey", "p")
      .select(col("o_orderkey"), col("p").cast("decimal(12,2)").as("o_totalprice"))
    val got = Relational.priceBandCounts(spark, orders)
    assert(got.collect().map(r => r.getString(0) -> r.getLong(1)).toMap ==
      Map("b0_under_100k" -> 2L, "b1_100k_200k" -> 1L, "b4_over_400k" -> 1L))
    // a non-equi join must NOT shuffle the fact side: broadcast nested loop
    val phys = got.queryExecution.executedPlan.toString
    assert(phys.contains("BroadcastNestedLoopJoin"), phys)
  }

  test("scalar-subquery filter: strictly-above-mean via integer cross-multiply") {
    val ev = (1 to 10).map(i => (i.toLong, 1L)) ++ (1 to 9).map(i => (100L + i, 2L))
    val df = ev.toDF("event_id", "user_id")
    // user 1: 10 events, user 2: 9; mean 9.5 → only user 1 is above it
    // (integer form: 10·2 > 19 true, 9·2 > 19 false — no float boundary)
    val got = Relational.aboveAvgActivity(df).collect()
    assert(got.map(_.getLong(0)).toSeq == Seq(1L))
    // exactly-at-mean is NOT above: two users × 5 events each
    val even = (1 to 5).map(i => (i.toLong, 1L)) ++ (1 to 5).map(i => (50L + i, 2L))
    assert(Relational.aboveAvgActivity(even.toDF("event_id", "user_id")).count() == 0)
  }

  test("distributed groupRanks == single-window ranks; no group-wide window partition") {
    import org.apache.spark.sql.expressions.Window
    val orders = Tables.orders(spark, TestSpark.sf0001)
      .select(col("o_orderkey"), col("o_orderpriority"),
        col("o_totalprice").cast("double").as("price"))
    val distributed = Rank.groupRanks(orders, Seq("o_orderpriority"),
        Seq(col("price"), col("o_orderkey")))
      .select("o_orderkey", "rank", "n")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val w = Window.partitionBy("o_orderpriority").orderBy(col("price"), col("o_orderkey"))
    val single = orders
      .withColumn("rank", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(
        Window.partitionBy("o_orderpriority")).cast("long"))
      .collect().map(r => r.getLong(0) -> (r.getLong(3), r.getLong(4))).toMap
    assert(distributed == single)
    // the local rank is a per-partition scan, NOT a window: the plan must
    // contain no row_number window anywhere (a group-partitioned one would
    // funnel whole groups through single reducers)
    val plan = Rank.groupRanks(orders, Seq("o_orderpriority"),
      Seq(col("price"), col("o_orderkey"))).queryExecution.executedPlan.toString
    assert(!plan.contains("row_number("), plan)
    // ntile arithmetic matches the window function across bucket remainders
    for (total <- Seq(7L, 8L, 9L, 12L); k <- Seq(4)) {
      val rows = (1L to total).map(r => (r, total))
      val got = rows.toDF("rank", "n")
        .select(Rank.ntileOf(col("rank"), col("n"), k).as("b"))
        .collect().map(_.getInt(0)).toSeq
      val want = (1L to total).toDF("x")
        .select(ntile(k).over(Window.orderBy("x")).as("b"))
        .collect().map(_.getInt(0)).toSeq
      assert(got == want, s"total=$total")
    }
  }

  test("corpus packing: concat-and-chunk offsets, boundary docs spill forward") {
    val docs = Seq(
      (0L, "s", (1 to 1500).map(_ => "w").mkString(" ")),  // 1500 toks
      (1L, "s", (1 to 1000).map(_ => "w").mkString(" ")),  // straddles 2048
      (2L, "s", (1 to 100).map(_ => "w").mkString(" ")),
      (3L, "t", (1 to 50).map(_ => "w").mkString(" ")))    // other source: own stream
      .toDF("doc_id", "source", "text")
    val got = Corpus.packSequences(docs, budget = 2048).collect()
      .map(r => r.getLong(1) -> (r.getInt(3), r.getInt(4))).toMap
    assert(got(0L) == (0, 0))       // offset 0
    assert(got(1L) == (0, 1500))    // starts in pack 0 at 1500, spills past 2048
    assert(got(2L) == (1, 452))     // offset 2500 → pack 1, 2500-2048
    assert(got(3L) == (0, 0))       // source t packs independently
  }

  test("connected components: min-label propagation over planted clusters") {
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (20L, 21L),
      (21L, 22L), (20L, 22L)).toDF("doc_a", "doc_b")
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L)
    // both algorithm paths must agree: single-task union-find (the
    // small-graph dispatch) and the iterative label-propagation loop
    // (forced by a zero threshold)
    for (threshold <- Seq(Dedup.SmallGraphEdges, 0L)) {
      val got = Dedup.connectedComponents(pairs, smallGraphEdges = threshold)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected, s"threshold=$threshold")
    }
  }

  test("SCD2: runs compress, intervals chain, last row is current") {
    val ev = Seq(
      (1L, ts("2024-01-01 00:00:00"), 1L, "A"),
      (2L, ts("2024-01-02 00:00:00"), 1L, "A"),   // re-observation: no split
      (3L, ts("2024-01-03 00:00:00"), 1L, "B"),
      (4L, ts("2024-01-04 00:00:00"), 1L, "A"),   // A again: NEW interval
      (5L, ts("2024-01-01 00:00:00"), 2L, "X")
    ).toDF("event_id", "ts", "user_id", "state")
    val got = Star.scd2(ev, "user_id", "ts", "state", "event_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getTimestamp(2),
        Option(r.getTimestamp(3)), r.getBoolean(4)))
    assert(got.toSeq == Seq(
      (1L, "A", ts("2024-01-01 00:00:00"), Some(ts("2024-01-03 00:00:00")), false),
      (1L, "B", ts("2024-01-03 00:00:00"), Some(ts("2024-01-04 00:00:00")), false),
      (1L, "A", ts("2024-01-04 00:00:00"), None, true),
      (2L, "X", ts("2024-01-01 00:00:00"), None, true)))
  }

  test("merge upsert: latest-wins per key with insert/update/keep ops") {
    val base = Seq(
      (1L, ts("2024-01-01 00:00:00"), 1L, "old", 1.0),
      (2L, ts("2024-01-02 00:00:00"), 2L, "keepme", 2.0),
      (3L, ts("2024-01-01 00:00:00"), 2L, "stale", 9.0)  // older than event 2
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    val changes = Seq(
      (10L, ts("2024-02-01 00:00:00"), 1L, "new", 1.5),
      (11L, ts("2024-02-01 00:00:00"), 3L, "fresh", 3.0),
      (12L, ts("2024-02-02 00:00:00"), 3L, "fresher", 3.5)
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = Star.mergeUpsert(base, changes, "user_id", "ts", "event_id",
        Seq("event_type", "value")).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2), r.getString(4)))
      .toMap
    assert(got(1L) == (("new", 1.5, "update")))
    assert(got(2L) == (("keepme", 2.0, "keep")))   // latest base row won
    assert(got(3L) == (("fresher", 3.5, "insert"))) // latest change row won
  }

  test("vocab coverage: top-V by (count desc, token) scores each doc") {
    val docs = Seq(
      (1L, "a a a b b c"),   // freq: a=3(+2 below)=5? counts are corpus-wide
      (2L, "a a b z"),
      (3L, "")
    ).toDF("doc_id", "text")
    // corpus counts: a=5, b=3, c=1, z=1 → V(2) = {a, b}
    val got = TextOps.vocabCoverage(docs, vocabSize = 2).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2))).toMap
    assert(got(1L) == ((6, 5)))  // a a a b b in vocab, c not
    assert(got(2L) == ((4, 3)))  // a a b in vocab, z not
    assert(got(3L) == ((0, 0)))  // empty doc stays, scores zero
  }

  test("epoch shuffle: a deterministic permutation, different per epoch") {
    val docs = (0L until 97L).map(i => (i, s"d$i")).toDF("doc_id", "text")
    val e1 = Corpus.shuffleEpoch(docs, epoch = 1).collect()
      .map(r => r.getLong(1) -> r.getLong(0)).toMap
    // positions are exactly 1..n (a permutation, no gaps/dupes)
    assert(e1.values.toSeq.sorted == (1L to 97L))
    // deterministic: rerun identical
    val e1again = Corpus.shuffleEpoch(docs, epoch = 1).collect()
      .map(r => r.getLong(1) -> r.getLong(0)).toMap
    assert(e1 == e1again)
    // a different epoch is a different permutation
    val e2 = Corpus.shuffleEpoch(docs, epoch = 2).collect()
      .map(r => r.getLong(1) -> r.getLong(0)).toMap
    assert(e2.values.toSeq.sorted == (1L to 97L))
    assert(e1 != e2)
  }

  test("interval overlap join: bucket-first equals the inequality predicate") {
    val left = Seq(
      (1L, ts("2024-01-01 10:00:00"), ts("2024-01-01 11:00:00")),
      (2L, ts("2024-01-01 23:30:00"), ts("2024-01-02 00:30:00")), // crosses buckets
      (3L, ts("2024-01-05 10:00:00"), ts("2024-01-05 11:00:00")),
      // null endpoints never join, as under the inequality predicate
      (4L, null, ts("2024-01-01 11:00:00")),
      (5L, ts("2024-01-01 10:00:00"), null)
    ).toDF("lid", "ls", "le")
    val right = Seq(
      (10L, ts("2024-01-01 10:30:00"), ts("2024-01-01 10:45:00")), // inside 1
      (11L, ts("2024-01-01 11:00:00"), ts("2024-01-01 12:00:00")), // TOUCHES 1: no overlap (half-open)
      (12L, ts("2024-01-02 00:00:00"), ts("2024-01-02 00:10:00")), // overlaps 2 across midnight
      (13L, ts("2024-03-01 00:00:00"), ts("2024-03-01 01:00:00")), // far away
      (14L, null, ts("2024-01-01 10:45:00"))                       // null start
    ).toDF("rid", "rs", "re")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("lid", "rid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = pairs(Intervals.overlapJoin(left, "ls", "le", right, "rs", "re"))
    assert(got == Set((1L, 10L), (2L, 12L)))
    assert(got == pairs(left.join(right, col("ls") < col("re") && col("rs") < col("le"))))
  }

  test("profile: nulls, distincts, min/max per column in one pass") {
    val df = Seq(
      (Some(1), Some("a")), (Some(2), None), (None, Some("b")), (Some(2), Some("b"))
    ).toDF("x", "s")
    val got = Profile.profile(df, Seq("x", "s")).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getInt(3), r.getString(4), r.getString(5)))
      .toMap
    assert(got("x") == ((1L, 2L, 1, "1", "2")))
    assert(got("s") == ((1L, 2L, 1, "a", "b")))
  }

  test("corpus decontamination: planted benchmark 5-gram overlap is found") {
    val bench = "alpha beta gamma delta epsilon zeta"
    val docs = Seq(
      (0L, bench),                                      // benchmark doc
      (10L, s"noise before alpha beta gamma delta epsilon and after"), // 1 hit
      (11L, "completely unrelated text with no overlap at all"),
      (12L, bench))                                     // full copy: many hits
      .toDF("doc_id", "text")
    val got = Corpus.decontaminate(docs, benchMaxDocId = 5, n = 5).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(10L) == 1L)          // exactly one shared 5-gram
    assert(got(12L) == 2L)          // both 5-grams of the 6-token benchmark
    assert(!got.contains(11L))      // clean doc absent from the report
  }

  test("SQL surface: the same query through spark.sql over temp views + graft functions") {
    // the view carries graft's native week_of_month as a column; the
    // A2-style bucket histogram over it is pure SQL
    Tables.orders(spark, TestSpark.sf0001)
      .withColumn("week", Natives.weekOfMonth(to_date(col("o_orderdate"))))
      .createOrReplaceTempView("orders_v")
    val viaSql = spark.sql(
      """SELECT o_orderpriority,
        |  CAST((month(o_orderdate) - 1) * 5 + week AS INT) AS bucket,
        |  count(*) AS n
        |FROM orders_v GROUP BY 1, 2 ORDER BY o_orderpriority, bucket""".stripMargin)
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
    val viaDf = Parity.weeklyHistogramLong(
        Tables.orders(spark, TestSpark.sf0001)
          .select(col("o_orderpriority"), col("o_orderdate").as("ts")),
        col("o_orderpriority"), "o_orderpriority")
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(viaSql == viaDf)
  }

  test("null robustness: text operators pass null/empty text through, no crash") {
    val docs = Seq((0L, "normal text here ok fine", "s", "en"),
      (1L, null, "s", "en"), (2L, "", "s", "en"))
      .toDF("doc_id", "text", "source", "lang")
    // each op must evaluate without throwing under ANSI mode; null text
    // yields null-valued metrics, never a crash or a dropped doc_id
    val stats = TextOps.tokenStats(docs).collect()
    assert(stats.map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L))
    assert(stats(1).isNullAt(1)) // n_tokens of null text
    val fp = TextOps.fingerprint(docs).collect()
    assert(fp.length == 3 && fp(2).getLong(1) == 0L) // empty text → fp 0
    val rep = TextOps.repetitionStats(docs).collect()
    assert(rep.length == 3)
    val qf = Corpus.qualityFilter(docs).collect()
    assert(qf.map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L))
  }

  test("funnel: greedy subsequence match counts ordered steps only") {
    val ev = Seq(
      // user 1 completes view→click→purchase in order (with noise)
      (1L, ts("2024-01-01 10:00:00"), 1L, "view"),
      (2L, ts("2024-01-01 10:01:00"), 1L, "other"),
      (3L, ts("2024-01-01 10:02:00"), 1L, "click"),
      (4L, ts("2024-01-01 10:03:00"), 1L, "purchase"),
      // user 2: purchase BEFORE view/click — order matters, only 2 steps
      (5L, ts("2024-01-01 09:00:00"), 2L, "purchase"),
      (6L, ts("2024-01-01 10:00:00"), 2L, "view"),
      (7L, ts("2024-01-01 11:00:00"), 2L, "click"),
      // user 3: never clicks
      (8L, ts("2024-01-01 10:00:00"), 3L, "view"),
      (9L, ts("2024-01-01 11:00:00"), 3L, "purchase"))
      .toDF("event_id", "ts", "user_id", "event_type")
    val got = Relational.funnelSteps(ev).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == Map(1L -> 3, 2L -> 2, 3L -> 1))
  }

  test("empty-input robustness: operators return empty results, not errors") {
    val noDocs = Seq.empty[(Long, String, String, String)]
      .toDF("doc_id", "text", "source", "lang")
    val noEvents = Seq.empty[(Long, Timestamp, Long, String)]
      .toDF("event_id", "ts", "user_id", "event_type")
    val noPairs = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    assert(Dedup.connectedComponents(noPairs).count() == 0)
    assert(Dedup.sharedGramPairs(noDocs).count() == 0)
    assert(TextOps.fingerprint(noDocs).count() == 0)
    assert(Corpus.packSequences(noDocs).count() == 0)
    assert(Corpus.qualityFilter(noDocs).count() == 0)
    assert(Relational.gapFillHourly(noEvents).count() == 0) // null spine → no rows
    assert(Relational.aboveAvgActivity(noEvents).count() == 0)
    assert(Relational.userJourneys(noEvents).count() == 0)
    // round-3 operators
    val noEventsV = noEvents.withColumn("value", lit(1.0))
    val noOrders = Seq.empty[(Long, Long, Double, Timestamp, String)]
      .toDF("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate", "o_orderpriority")
    assert(Dedup.survivors(noDocs, noPairs).count() == 0)
    assert(TextOps.tokenEntropy(noDocs).count() == 0)
    assert(Corpus.checksum(noDocs).count() == 0)
    assert(Relational.valueOutliers(noEventsV).count() == 0)
    assert(Relational.priceHistogram(noOrders).count() == 0)
    assert(Layout.zorderOrders(noOrders).count() == 0)
    // round-3 additions
    assert(Star.scd2(noEvents, "user_id", "ts", "event_type", "event_id").count() == 0)
    assert(Star.mergeUpsert(noEventsV, noEventsV, "user_id", "ts", "event_id",
      Seq("event_type", "value")).count() == 0)
    assert(TextOps.vocabCoverage(noDocs).count() == 0)
    assert(Corpus.shuffleEpoch(noDocs).count() == 0)
    assert(Intervals.sessionIncidentOverlap(noEvents).count() == 0)
    // profiling an EMPTY table is defined: one row per column, zero counts
    val prof = Profile.profile(noEvents, Seq("event_id", "event_type")).collect()
    assert(prof.length == 2 && prof.forall(r => r.getLong(2) == 0L))
    // round-3 second wave
    assert(Corpus.chunkOverlap(noDocs).count() == 0)
    val emptyDoc = Seq((1L, "")).toDF("doc_id", "text")
    assert(Corpus.chunkOverlap(emptyDoc).count() == 0) // empty text → NO chunks
    val noEmb = Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding")
    assert(Ml.kmeansClusters(noEmb).count() == 0)
    assert(Ml.semDedup(noEmb).count() == 0)
    val noEdges = Seq.empty[(String, String, Long)].toDF("src", "dst", "w")
    val nodes = Seq("a", "b").toDF("n_name")
    // no edges: every node holds exactly the teleport floor
    assert(Graph.pagerank(noEdges, nodes, iters = 2).collect()
      .forall(_.getLong(1) == 150000000000L))
    val noCust = Seq.empty[(Long, String)].toDF("c_custkey", "c_name")
    assert(Dedup.fuzzyLinkBlocked(noCust).count() == 0)
    assert(Sampling.sampleNPerGroup(noDocs, "lang", "doc_id", 3).count() == 0)
    // round-4 operators
    assert(Dedup.winnowedPairs(noDocs).count() == 0)
    assert(Dedup.minhashJaccardEstimate(noDocs).count() == 0)
    assert(Dedup.fuzzyEntityClusters(noCust).count() == 0)
    val census = Dedup.capCensus(noDocs).collect()
    assert(census.length == 4 && census.forall(_.getLong(2) == 0L))
    assert(Corpus.decontaminateSemantic(noEmb).count() == 0)
    assert(Corpus.stripBoilerplate(noDocs).count() == 0)
    assert(Corpus.stripBoilerplate(emptyDoc).collect()
      .map(r => (r.getInt(1), r.getLong(2))).toSeq == Seq((0, 0L)))
    assert(SimSearch.pqTopK(noEmb).count() == 0)
    assert(Relational.cusumChangepoints(noEvents).count() == 0)
    assert(Relational.brandAffinity(
      Seq.empty[(Long, Long)].toDF("l_orderkey", "l_partkey"),
      Seq.empty[(Long, String)].toDF("p_partkey", "p_brand")).count() == 0)
    assert(Graph.triangleCounts(noEdges).count() == 0)
    assert(Profile.benfordDigits(noOrders, "o_totalprice").count() == 0)
  }

  test("layout: zorderKey interleaves bits exactly (reference impl)") {
    def ref(x: Long, y: Long, bits: Int): Long =
      (0 until bits).map(i =>
        (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1))).sum
    val pts = Seq((0L, 0L), (1L, 0L), (0L, 1L), (1023L, 1023L), (513L, 212L),
      (7L, 1000L))
    val got = pts.toDF("x", "y")
      .select(col("x"), col("y"), Layout.zorderKey(col("x"), col("y"), 10).as("z"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    pts.foreach { case (x, y) => assert(got((x, y)) == ref(x, y, 10),
      s"zorder($x, $y)") }
    // quadrant ordering: all-of-lower-left sorts before upper-right
    assert(ref(511, 511, 10) < ref(512, 512, 10))
  }

  test("multimodal: stub decode is deterministic and batch-shaped") {
    val docs = Seq((0L, "payload one", "s"), (1L, "payload two", "s"))
      .toDF("doc_id", "text", "source")
    val out = Multimodal.decodeFeatures(spark, docs)
    val a = out.collect()
    val b = Multimodal.decodeFeatures(spark, docs).collect()
    assert(a.sameElements(b))
    // feature vector is flattened to scalar f0..f7 at the output boundary
    // (array-typed output crashes the driver's comparator — round-1 lesson)
    assert(out.columns.count(_.matches("f\\d")) == 8)
    assert(a.forall(r => (0 until 8).forall(i => !r.isNullAt(r.fieldIndex(s"f$i")))))
    val meta = Multimodal.blobMeta(docs).collect().head
    assert(meta.getInt(1) == "payload one".getBytes("UTF-8").length)
  }
}
