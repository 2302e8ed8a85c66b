package graft

import java.sql.Date
import java.util.{Calendar, Locale}
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions._
import graft.ops.Parity

/** Property-based checks (SURVEY §5.2-2) — randomized inputs via scalacheck
  * generators, invariants that must hold for ANY input. */
class PropertiesSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  /** Deterministic forAll: scalacheck generators driven by fixed seeds (the
    * scalatestplus bridge isn't in the offline dependency cache). */
  private def forAll[A](gen: Gen[A], runs: Int = 8)(body: A => Unit): Unit =
    (1 to runs).foreach { i =>
      body(gen.pureApply(Gen.Parameters.default, Seed(42L + i)))
    }

  private val genDay: Gen[java.time.LocalDate] =
    Gen.choose(0L, 73048L).map(java.time.LocalDate.of(1900, 1, 1).plusDays(_)) // ..2100

  /** `java.util.Calendar.WEEK_OF_MONTH` (US locale) of `d`. */
  private def calendarWeek(d: java.time.LocalDate): Int = {
    val cal = Calendar.getInstance(Locale.US)
    cal.clear(); cal.set(d.getYear, d.getMonthValue - 1, d.getDayOfMonth)
    cal.get(Calendar.WEEK_OF_MONTH)
  }

  test("property: week_of_month == Calendar.WEEK_OF_MONTH (US) on random dates 1900-2100") {
    forAll(Gen.listOfN(200, genDay), runs = 4) { days =>
      {
        val got = days.map(Date.valueOf).toDF("d")
          .select(col("d"), week_of_month(col("d")).as("w"))
          .collect().map(r => r.getDate(0).toString -> r.getInt(1)).toMap
        days.foreach(d => assert(got(d.toString) == calendarWeek(d), s"date $d"))
      }
    }
  }

  test("property: dictionary ids are a permutation-invariant function of the value set") {
    // the same rows however the input is partitioned and whether or not
    // AQE re-plans the distinct's shuffle: ids come from the one merged,
    // sorted partition, never from the input's layout
    val sessions = Seq("false", "true").map { aqe =>
      val s = spark.newSession()
      s.conf.set("spark.sql.adaptive.enabled", aqe)
      s
    }
    def ids(s: org.apache.spark.sql.SparkSession, vs: Seq[String],
        parts: Int): Seq[(Int, String)] = {
      import s.implicits._
      Parity.dictionary(vs.toDF("v").repartition(parts), "v", "id", "name")
        .collect().map(r => r.getInt(0) -> r.getString(1)).toSeq
    }
    val values = Gen.listOfN(30, Gen.oneOf("ant", "bee", "cat", "dog", "elk", "fox"))
    forAll(values, runs = 6) { vs =>
      {
        val base = Parity.dictionary(vs.toDF("v"), "v", "id", "name")
          .collect().map(r => r.getInt(0) -> r.getString(1)).toSeq
        val shuffled = Parity.dictionary(scala.util.Random.shuffle(vs).toDF("v"), "v", "id", "name")
          .collect().map(r => r.getInt(0) -> r.getString(1)).toSeq
        assert(base == shuffled)
        assert(base.map(_._2) == base.map(_._2).sorted)        // rank = sorted order
        assert(base.map(_._1) == (1 to base.length))           // dense 1-based
        for (s <- sessions; parts <- Seq(1, 7, 64))
          assert(ids(s, vs, parts) == base,
            s"parts=$parts aqe=${s.conf.get("spark.sql.adaptive.enabled")}")
      }
    }
  }

  /** The UTC instant at `hour`:00 of `day` (the test session is UTC). */
  private def at(day: java.time.LocalDate, hour: Int): java.time.Instant =
    day.atTime(hour, 0).toInstant(java.time.ZoneOffset.UTC)

  test("property: denseCounts == Scala count per (key, bin); null keys and " +
      "keys with no bin in the domain keep their row") {
    import graft.ops.CrimePipeline
    import graft.plans.Natives
    val genRow = for {
      k <- Gen.frequency((1, Gen.const(None)), (6, Gen.oneOf("a", "b", "c").map(Some(_))))
      d <- Gen.frequency((1, Gen.const(None)), (6, genDay.map(Some(_))))
    } yield (k, d)
    val bins = 1 to 4
    // planted: a null key, a null timestamp, and "late", whose days (29th
    // and later) are all in week 5 or 6, outside the bin domain
    val planted = Seq((None, None), (Some("a"), None),
      (Some("late"), Some(java.time.LocalDate.of(2013, 3, 31))),
      (Some("late"), Some(java.time.LocalDate.of(2024, 1, 29))))
    forAll(Gen.zip(Gen.listOfN(60, genRow), Gen.choose(1, 7)), runs = 6) {
      case (rows0, parts) =>
        val rows = rows0 ++ planted
        val got = CrimePipeline.denseCounts(
            rows.map { case (k, d) => (k, d.map(at(_, 12))) }.toDF("k", "ts").repartition(parts),
            col("k"), "key", Natives.weekOfMonth(to_date(col("ts"))),
            bins.map(b => b -> s"w$b"))
          .collect().map(_.toSeq).toSeq
        // Option's ordering puts None first, as Spark's ascending sort does null
        val want = rows.groupBy(_._1).toSeq.sortBy(_._1).map { case (k, rs) =>
          k.orNull +: bins.map(b => rs.count(_._2.exists(calendarWeek(_) == b)).toLong)
        }
        assert(got == want)
        assert(want.contains(Seq("late", 0L, 0L, 0L, 0L)))
    }
  }

  test("property: dailyCubeIndexed == Scala cube with 0-based sorted-rank ids, " +
      "null event types dropped, sorted on the date") {
    import org.apache.spark.sql.Row
    val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy/MM/dd")
    val genEv = for {
      d <- Gen.frequency((1, Gen.const(None)), (8, Gen.choose(0L, 40L)
        .map(n => Some(java.time.LocalDate.of(2023, 12, 20).plusDays(n)))))
      h <- Gen.choose(0, 23)
      u <- Gen.choose(-3L, 25L)
      t <- Gen.frequency((1, Gen.const(None)),
        (6, Gen.oneOf("view", "click", "buy").map(Some(_))))
    } yield (d, h, u, t)
    forAll(Gen.listOfN(120, genEv), runs = 6) { evs =>
      val events = evs.zipWithIndex.map { case ((d, h, u, t), i) =>
        (i.toLong, d.map(at(_, h)), u, t)
      }.toDF("event_id", "ts", "user_id", "event_type")
      val got = Parity.dailyCubeIndexed(events).collect().toSeq
      def district(u: Long) = f"D${Math.floorMod(u, 10L)}%02d"
      val cats = evs.flatMap(_._4).distinct.sorted.zipWithIndex.toMap
      val dists = evs.map(e => district(e._3)).distinct.sorted.zipWithIndex.toMap
      val want = evs.filter(_._4.isDefined)
        .groupBy(e => (e._1, cats(e._4.get), dists(district(e._3)))).toSeq
        .sortBy { case ((d, c, t), _) => (d.map(_.toEpochDay), c, t) }
        .map { case ((d, c, t), es) => Row(d.map(_.format(fmt)).orNull, c, t, es.length.toLong) }
      assert(got == want)
    }
  }

  test("property: hashBucket/hashMicro land in range for ARBITRARY longs " +
      "and equal the reference formula on non-negatives") {
    import graft.ops.Sampling
    val genKey = Gen.oneOf(
      Gen.choose(Long.MinValue, Long.MaxValue),
      Gen.choose(-5000L, 5000L)) // dense coverage near the sign boundary
    forAll(Gen.listOfN(300, genKey), runs = 4) { keys =>
      val rows = keys.toDF("k")
        .select(col("k"), Sampling.hashBucket(col("k")).as("b"),
          Sampling.hashMicro(col("k")).as("m"))
        .collect()
      val P = 2147483647L; val A = 1103515245L
      rows.foreach { r =>
        val (k, b, m) = (r.getLong(0), r.getLong(1), r.getLong(2))
        assert(b >= 0 && b < 100, s"bucket $b out of range for key $k")
        assert(m >= 0 && m < 1000000L, s"micro $m out of range for key $k")
        // the reference formula with a true positive mod — what the
        // sign-safe oracle SQL computes for every key, negative or not
        val pm = ((k % P) + P) % P
        assert(b == pm * A % P % 100, s"bucket mismatch for key $k")
        assert(m == pm * A % P % 1000000L, s"micro mismatch for key $k")
      }
    }
  }

  test("property: asof union-scan == naive per-row lookup on random data") {
    import graft.ops.AsofJoin
    // the operator's tie contract: backward = latest right at-or-before
    // (ties on time -> greatest payload struct); forward = earliest right
    // at-or-after (ties on time -> greatest payload struct). The naive
    // reference below computes exactly that per left row, independently of
    // the union-scan/window machinery.
    val genRow = for {
      k <- Gen.choose(0, 3); t <- Gen.choose(0L, 40L); v <- Gen.choose(0L, 9L)
    } yield (k, t, v)
    forAll(Gen.zip(Gen.listOfN(60, genRow), Gen.listOfN(60, genRow)),
        runs = 6) { case (ls, rs) =>
      val left = ls.zipWithIndex.map { case ((k, t, _), i) => (i.toLong, k, t) }
        .toDF("lid", "k", "lt")
      val right = rs.map { case (k, t, v) => (k, t, v) }.toDF("k", "rt", "pay")
      def naive(forward: Boolean): Map[Long, Option[Long]] =
        ls.zipWithIndex.map { case ((k, t, _), i) =>
          val cands = rs.filter(r => r._1 == k &&
            (if (forward) r._2 >= t else r._2 <= t))
          val best =
            if (cands.isEmpty) None
            else {
              val bestT = if (forward) cands.map(_._2).min else cands.map(_._2).max
              Some(cands.filter(_._2 == bestT).map(_._3).max)
            }
          i.toLong -> best
        }.toMap
      for (fwd <- Seq(false, true)) {
        val got = AsofJoin.asof(left, right, Seq("k"), "lt", "rt",
            Seq("rt", "pay"), forward = fwd).collect()
          .map(r => r.getLong(0) ->
            (if (r.isNullAt(4)) None else Some(r.getLong(4)))).toMap
        assert(got == naive(fwd), s"forward=$fwd")
      }
    }
  }

  test("property: bucketed overlapJoin == naive all-pairs on random intervals") {
    import graft.ops.Intervals
    // intervals planted AROUND bucket boundaries (bucketSeconds = 60 below,
    // times in seconds near multiples of 60): the report-once filter and
    // the last-contained-microsecond bucket arithmetic are exactly the
    // edges a fixed spec misses
    val genIv = for {
      s <- Gen.choose(0L, 360L)
      len <- Gen.oneOf(Gen.choose(1L, 5L), Gen.choose(55L, 65L),
        Gen.const(120L))
    } yield (s, s + len)
    forAll(Gen.zip(Gen.listOfN(25, genIv), Gen.listOfN(25, genIv)),
        runs = 6) { case (ls, rs) =>
      def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
      val left = ls.zipWithIndex.map { case ((s, e), i) =>
        (i.toLong, ts(s), ts(e)) }.toDF("lid", "ls", "le")
      val right = rs.zipWithIndex.map { case ((s, e), i) =>
        (i.toLong, ts(s), ts(e)) }.toDF("rid", "rs", "re")
      val got = Intervals.overlapJoin(left, "ls", "le", right, "rs", "re",
          bucketSeconds = 60L)
        .select("lid", "rid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      val want = (for {
        ((lsS, leS), i) <- ls.zipWithIndex
        ((rsS, reS), j) <- rs.zipWithIndex
        if lsS < reS && rsS < leS
      } yield (i.toLong, j.toLong)).sorted
      assert(got == want,
        s"bucketed result diverges from the naive overlap predicate")
    }
  }

  test("property: heap top-k == Scala sort-and-take on random tied data") {
    // heavy ties in the value column (domain 0..4) + a unique id tiebreak:
    // the partial/final heap split must agree with a plain sort for ANY
    // input partitioning — the partial pass prunes per (key, partition),
    // which is exactly where a tie-handling bug would hide
    val genRow = for {
      k <- Gen.choose(0, 2); v <- Gen.choose(0L, 4L)
    } yield (k, v)
    forAll(Gen.zip(Gen.listOfN(120, genRow), Gen.choose(1, 5),
        Gen.choose(1, 13)), runs = 6) { case (rows0, k, parts) =>
      val rows = rows0.zipWithIndex.map { case ((g, v), i) => (g, v, i.toLong) }
      val df = rows.toDF("g", "v", "id").repartition(parts)
      val top = TopKSpec.windowTopK(df, Seq("g"), Seq(("v", true), ("id", false)), k)
      assert(top.queryExecution.executedPlan.toString.contains("TopKPerKeyPartial"))
      val got = top.collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
          r.getInt(3))).sortBy(t => (t._1, t._4)).toSeq
      val want = rows.groupBy(_._1).toSeq.flatMap { case (g, grp) =>
        grp.sortBy(t => (-t._2, t._3)).take(k).zipWithIndex
          .map { case ((_, v, id), i) => (g, v, id, i + 1) }
      }.sortBy(t => (t._1, t._4))
      assert(got == want, s"k=$k parts=$parts")
    }
  }

  test("property: scd2 window build == Scala run-length fold on random streams") {
    import graft.ops.Star
    // few keys, few states, colliding timestamps: run-length compression,
    // the (ts, tiebreak) total order, and the open-interval NULL are all
    // exercised; the reference folds each key's sorted history by hand
    val genEv = for {
      u <- Gen.choose(0, 2); t <- Gen.choose(0L, 20L); s <- Gen.oneOf("a", "b", "c")
    } yield (u, t, s)
    forAll(Gen.listOfN(80, genEv), runs = 6) { evs0 =>
      val evs = evs0.zipWithIndex.map { case ((u, t, s), i) =>
        (u.toLong, t, s, i.toLong) }
      val df = evs.toDF("user_id", "ts", "state", "event_id")
      val got = Star.scd2(df, "user_id", "ts", "state", "event_id").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          if (r.isNullAt(3)) -1L else r.getLong(3))).sorted.toSeq
      val want = evs.groupBy(_._1).toSeq.flatMap { case (u, grp) =>
        val sorted = grp.sortBy(e => (e._2, e._4))
        // keep only change points (run-length compress), then pair each
        // with the next change's ts (or -1 for the open interval)
        val changes = sorted.foldLeft(Vector.empty[(Long, String)]) {
          case (acc, (_, t, s, _)) =>
            if (acc.nonEmpty && acc.last._2 == s) acc else acc :+ (t, s)
        }
        changes.zipWithIndex.map { case ((t, s), i) =>
          (u, s, t, if (i + 1 < changes.length) changes(i + 1)._1 else -1L)
        }
      }.sorted
      assert(got == want)
    }
  }

  test("property: packSequences == Scala prefix sum under any partitioning") {
    import graft.ops.Corpus
    val genDoc = for {
      src <- Gen.oneOf("s1", "s2"); n <- Gen.choose(0, 12)
    } yield (src, Seq.fill(n)("w").mkString(" "))
    forAll(Gen.zip(Gen.listOfN(50, genDoc), Gen.choose(1, 11)),
        runs = 6) { case (docs0, parts) =>
      val docs = docs0.zipWithIndex.map { case ((s, t), i) => (i.toLong, s, t) }
      val df = docs.toDF("doc_id", "source", "text").repartition(parts)
      val budget = 8
      val got = Corpus.packSequences(df, budget).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getInt(2), r.getInt(3),
          r.getInt(4))).sorted.toSeq
      val want = docs.groupBy(_._2).toSeq.flatMap { case (src, grp) =>
        var off = 0L
        grp.sortBy(_._1).map { case (id, _, text) =>
          val n = text.split("\\s+").count(_.nonEmpty)
          val row = (src, id, n, (off / budget).toInt, (off % budget).toInt)
          off += n
          row
        }
      }.sorted
      assert(got == want, s"parts=$parts")
    }
  }

  test("property: CDC chunk census == Scala rolling-hash chunker on random docs") {
    import graft.ops.Corpus
    val P = 2147483647L
    def polyHash(s: String): Long =
      s.codePoints().toArray.foldLeft(0L)((acc, c) => (acc * 31 + c) % P)
    def chunksOf(text: String, window: Int, mask: Int): Seq[String] = {
      val toks = text.split("\\s+").filter(_.nonEmpty).toSeq
      val n = toks.length
      val cuts =
        (if (n < window) Seq.empty[Int]
         else (0 to n - window).filter { j =>
           polyHash(toks.slice(j, j + window).mkString(" ")) % mask == 0 &&
             j + window < n
         }.map(_ + window)) :+ n
      cuts.zipWithIndex.map { case (c, i) =>
        toks.slice(if (i == 0) 0 else cuts(i - 1), c).mkString(" ")
      }
    }
    // tiny vocab => frequent shared chunks across docs, so the cross-doc
    // duplicate census (the operator's second half) is non-trivial
    val genDoc = Gen.listOf(Gen.oneOf("aa", "bb", "cc")).map(_.mkString(" "))
    forAll(Gen.listOfN(30, genDoc), runs = 6) { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val df = docs.toDF("doc_id", "text")
      val got = Corpus.cdcChunks(df, window = 2, mask = 2).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted.toSeq
      val ref = docs.map { case (id, t) => id -> chunksOf(t, 2, 2) }
      val dupChunks = ref.flatMap { case (id, cs) => cs.distinct.map(_ -> id) }
        .groupBy(_._1).collect { case (c, ids) if ids.map(_._2).distinct.size >= 2 => c }
        .toSet
      val want = ref.map { case (id, cs) =>
        (id, cs.length, cs.count(dupChunks).toLong)
      }.sorted
      assert(got == want)
    }
  }

  test("property: iterated BPE merges == Scala reference trainer") {
    import graft.ops.TextOps
    // classic BPE over a word-frequency dict: census adjacent symbol
    // pairs (weighted by word count), take the most frequent (ties on the
    // pair strings), apply left-to-right non-overlapping, repeat. Tiny
    // alphabet => dense tie-breaking and re-merge cases (e.g. "aaa" under
    // merge (a,a) must yield ["aa","a"], never re-fuse the fused symbol).
    def applyMerge(syms: Vector[String], a: String, b: String): Vector[String] =
      syms.foldLeft(Vector.empty[String]) { (acc, s) =>
        if (acc.nonEmpty && acc.last == a && s == b) acc.init :+ (a + b)
        else acc :+ s
      }
    def refTrain(words: Seq[String], rounds: Int, topK: Int)
        : Seq[(Int, Int, String, String, Long)] = {
      var dict: Map[Vector[String], Long] = words.groupBy(identity)
        .map { case (w, g) => w.split("").toVector -> g.size.toLong }
      val out = Seq.newBuilder[(Int, Int, String, String, Long)]
      var r = 1
      var go = true
      while (r <= rounds && go) {
        val census = dict.toSeq.flatMap { case (syms, cnt) =>
          syms.zip(syms.tail).map(p => p -> cnt)
        }.groupBy(_._1).map { case (p, g) => p -> g.map(_._2).sum }
        if (census.isEmpty) go = false
        else {
          val top = census.toSeq.sortBy { case ((a, b), n) => (-n, a, b) }.take(topK)
          out ++= top.zipWithIndex.map { case (((a, b), n), i) =>
            (r, i + 1, a, b, n)
          }
          val (a, b) = top.head._1
          dict = dict.groupBy { case (syms, _) => applyMerge(syms, a, b) }
            .map { case (merged, g) => merged -> g.map(_._2).sum }
        }
        r += 1
      }
      out.result()
    }
    val genWord = Gen.choose(1, 4).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("a", "b")).map(_.mkString))
    forAll(Gen.listOfN(40, genWord), runs = 4) { words =>
      val df = words.zipWithIndex.map { case (w, i) => (i.toLong, w) }
        .toDF("doc_id", "text")
      val got = TextOps.bpeMerges(df, rounds = 3, topK = 4).collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getString(2), r.getString(3),
          r.getLong(4))).toSeq.sorted
      assert(got == refTrain(words, 3, 4).sorted)
    }
  }

  test("property: stripDuplicateSpans == Scala coverage reference") {
    import graft.ops.Corpus
    val k = 3 // span length in tokens
    def spansOf(toks: Seq[String]): Seq[(Int, String)] =
      if (toks.isEmpty) Seq.empty
      else if (toks.length < k) Seq(0 -> toks.mkString(" "))
      else (0 to toks.length - k).map(j => j -> toks.slice(j, j + k).mkString(" "))
    val genDoc = Gen.listOf(Gen.oneOf("x", "y", "z")).map(_.mkString(" "))
    forAll(Gen.listOfN(25, genDoc), runs = 6) { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val df = docs.toDF("doc_id", "text")
      val got = Corpus.stripDuplicateSpans(df, k).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getString(3)))
        .sorted.toSeq
      val tokMap = docs.map { case (id, t) =>
        id -> t.split("\\s+").filter(_.nonEmpty).toSeq }
      val dup = tokMap.flatMap { case (id, toks) =>
        spansOf(toks).map(_._2).distinct.map(_ -> id) }
        .groupBy(_._1)
        .collect { case (s, ids) if ids.map(_._2).distinct.size >= 2 => s }
        .toSet
      val want = tokMap.map { case (id, toks) =>
        val spanLen = math.min(k, toks.length)
        val covered = spansOf(toks)
          .filter { case (_, s) => dup(s) }
          .flatMap { case (p, _) => p until p + spanLen }
          .toSet
        val kept = toks.zipWithIndex.collect {
          case (t, p) if !covered(p) => t }
        (id, toks.length, covered.size.toLong, kept.mkString(" "))
      }.sorted
      assert(got == want)
    }
  }

  test("property: Misra-Gries heavy hitters are EXACT for any partitioning") {
    import graft.ops.Profile
    // the MG guarantee: any key with global frequency > n/capacity survives
    // pass 1 in some partition, so pass 2's exact counts over the candidate
    // superset make the final output EXACTLY the guaranteed zone. A skewed
    // Zipf-ish generator + tiny capacity + random partitioning exercises
    // the decrement-all eviction loop far harder than gate data does.
    val genKey = Gen.frequency(
      (8, Gen.const("hot")), (4, Gen.const("warm")),
      (2, Gen.oneOf("c", "d", "e")), (1, Gen.choose(0, 50).map("t" + _)))
    forAll(Gen.zip(Gen.listOfN(400, genKey), Gen.choose(1, 13)),
        runs = 6) { case (keys, parts) =>
      val df = keys.toDF("k").repartition(parts)
      val got = Profile.heavyHitters(df, "k", capacity = 4, k = 10).collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq
      val counts = keys.groupBy(identity).map { case (k, g) => k -> g.size.toLong }
      val want = counts.toSeq
        .filter { case (_, n) => n * 4 > keys.length }
        .sortBy { case (k, n) => (-n, k) }.take(10)
      assert(got == want, s"parts=$parts")
    }
  }

  test("property: funnelSteps == Scala greedy subsequence match") {
    import graft.ops.Relational
    val genEv = for {
      u <- Gen.choose(0, 4); t <- Gen.choose(0L, 30L)
      e <- Gen.oneOf("view", "click", "purchase", "other")
    } yield (u, t, e)
    forAll(Gen.listOfN(100, genEv), runs = 6) { evs0 =>
      val evs = evs0.zipWithIndex.map { case ((u, t, e), i) =>
        (u.toLong, t, i.toLong, e) }
      val df = evs.toDF("user_id", "ts", "event_id", "event_type")
      val steps = Seq("view", "click", "purchase")
      val got = Relational.funnelSteps(df, steps).collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      val want = evs.groupBy(_._1).map { case (u, grp) =>
        val path = grp.sortBy(e => (e._2, e._3)).map(_._4)
        u -> path.foldLeft(0) { (acc, e) =>
          if (acc < steps.length && e == steps(acc)) acc + 1 else acc }
      }
      assert(got == want)
    }
  }

  test("property: winnowed pairs == Scala winnowing reference + detection floor") {
    import graft.ops.Dedup
    val P = 2147483647L
    val (shingleSize, window) = (2, 2)
    def polyHash(s: String): Long =
      s.codePoints().toArray.foldLeft(0L)((acc, c) => (acc * 31 + c) % P)
    def fpsOf(text: String): Set[Long] = {
      val toks = text.split("\\s+").filter(_.nonEmpty).toSeq
      val hs =
        (if (toks.length < shingleSize) Seq(toks.mkString(" "))
         else (0 to toks.length - shingleSize)
           .map(j => toks.slice(j, j + shingleSize).mkString(" ")))
          .map(polyHash)
      if (hs.length <= window) Set(hs.min)
      else (0 to hs.length - window).map(j => hs.slice(j, j + window).min).toSet
    }
    val genDoc = Gen.choose(0, 10).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("p", "q", "r")).map(_.mkString(" ")))
    forAll(Gen.listOfN(20, genDoc), runs = 6) { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val got = Dedup.winnowedPairs(docs.toDF("doc_id", "text"),
          shingleSize, window, minShared = 1, maxFpDf = 1000).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
      val fps = docs.map { case (id, t) => id -> fpsOf(t) }
      val want = (for {
        (a, fa) <- fps; (b, fb) <- fps if a < b
        shared = (fa intersect fb).size if shared >= 1
      } yield (a, b, shared.toLong)).sorted
      assert(got == want)
      // the paper's guarantee: docs sharing a token run of length >=
      // window + shingleSize - 1 collide on at least one fingerprint
      val runLen = window + shingleSize - 1
      val gotPairs = got.map(t => (t._1, t._2)).toSet
      for {
        (a, ta) <- docs; (b, tb) <- docs if a < b
        wa = ta.split("\\s+").filter(_.nonEmpty).toSeq
        wb = tb.split("\\s+").filter(_.nonEmpty).toSeq
        if wa.sliding(runLen).filter(_.length == runLen).toSet
          .intersect(wb.sliding(runLen).filter(_.length == runLen).toSet)
          .nonEmpty
      } assert(gotPairs((a, b)), s"detection floor violated for ($a, $b)")
    }
  }

  test("property: minhash LSH pipeline == Scala reference end to end") {
    import graft.ops.Dedup
    import graft.functions.GraftFunctions
    val P = 2147483647L
    val (shingleSize, k, bands) = (2, 8, 4)
    val r = k / bands
    val (as, bs) = GraftFunctions.minhashCoeffs(k)
    def polyHash(s: String): Long =
      s.codePoints().toArray.foldLeft(0L)((acc, c) => (acc * 31 + c) % P)
    def sigOf(toks: Seq[String]): Seq[Long] = {
      val hs =
        (if (toks.length < shingleSize) Seq(toks.mkString(" "))
         else (0 to toks.length - shingleSize)
           .map(j => toks.slice(j, j + shingleSize).mkString(" ")))
          .map(polyHash)
      (0 until k).map(i => hs.map(h => (as(i) * h + bs(i)) % P).min)
    }
    def bandsOf(sig: Seq[Long]): Seq[(Int, Long)] =
      (0 until bands).map(j => j ->
        sig.slice(j * r, (j + 1) * r)
          .foldLeft(0L)((acc, s) => (acc * 1000003L + s) % P))
    val genDoc = Gen.choose(0, 8).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("m", "n", "o")).map(_.mkString(" ")))
    forAll(Gen.listOfN(18, genDoc), runs = 6) { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val got = Dedup.minhashLsh(docs.toDF("doc_id", "text"),
          shingleSize, k, bands).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3)))
        .sorted.toSeq
      val toksOf = docs.map { case (id, t) =>
        id -> t.split("\\s+").filter(_.nonEmpty).toSeq }.toMap
      val bandSets = docs.map { case (id, _) =>
        id -> bandsOf(sigOf(toksOf(id))).toSet }.toMap
      val want = (for {
        (a, _) <- docs; (b, _) <- docs if a < b
        if (bandSets(a) intersect bandSets(b)).nonEmpty
      } yield {
        val (sa, sb) = (toksOf(a).toSet, toksOf(b).toSet)
        (a, b, (sa intersect sb).size, (sa union sb).size)
      }).sorted
      assert(got == want)
    }
  }

  test("property: simhash near-dup pipeline == Scala reference end to end") {
    import graft.ops.Dedup
    def poly(s: String, mult: Long, p: Long): Long =
      s.codePoints().toArray.foldLeft(0L)((acc, c) => (acc * mult + c) % p)
    def simhash(toks: Seq[String]): Long = {
      val hs = toks.map(t =>
        poly(t, 31L, 2147483647L) * 2147483648L + poly(t, 131L, 2147483629L))
      (0 until 64).map { j =>
        val votes = hs.map(h => if (((h >> j) & 1L) == 1L) 1 else -1).sum
        if (votes > 0) 1L << j else 0L
      }.reduce(_ | _)
    }
    val genDoc = Gen.choose(0, 9).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("u", "v", "w")).map(_.mkString(" ")))
    forAll(Gen.listOfN(16, genDoc), runs = 6) { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val maxHamming = 16
      val got = Dedup.simhashNearDup(docs.toDF("doc_id", "text"), maxHamming)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
        .sorted.toSeq
      val fps = docs.map { case (id, t) =>
        id -> simhash(t.split("\\s+").filter(_.nonEmpty).toSeq) }.toMap
      def chunks(fp: Long): Set[(Int, Long)] =
        (0 until 4).map(i => i -> ((fp >> (i * 16)) & 0xFFFFL)).toSet
      val want = (for {
        (a, _) <- docs; (b, _) <- docs if a < b
        if (chunks(fps(a)) intersect chunks(fps(b))).nonEmpty
        h = java.lang.Long.bitCount(fps(a) ^ fps(b)) if h <= maxHamming
      } yield (a, b, h)).sorted
      assert(got == want)
    }
  }

  test("property: PPJoin prefix filter has zero false negatives (== naive)") {
    import graft.ops.Dedup
    // the PPJoin claim is EXACTNESS: every pair with set Jaccard >= t and
    // none below it — the length and positional filters are pure pruning.
    // Random tiny-vocab corpora make near-threshold pairs common, which is
    // where an off-by-one in the ceil-div overlap bound would drop a pair.
    val P = 2147483647L
    val n = 2
    def polyHash(s: String): Long =
      s.codePoints().toArray.foldLeft(0L)((acc, c) => (acc * 31 + c) % P)
    def hsOf(text: String): Set[Long] = {
      val toks = text.split("\\s+").filter(_.nonEmpty).toSeq
      (if (toks.length < n) Seq(toks.mkString(" "))
       else (0 to toks.length - n).map(j => toks.slice(j, j + n).mkString(" ")))
        .map(polyHash).toSet
    }
    val genDoc = Gen.choose(0, 8).flatMap(m =>
      Gen.listOfN(m, Gen.oneOf("f", "g")).map(_.mkString(" ")))
    forAll(Gen.zip(Gen.listOfN(16, genDoc), Gen.oneOf(30, 50, 80)),
        runs = 6) { case (texts, t) =>
      val docs = texts.zipWithIndex.map { case (txt, i) => (i.toLong, txt) }
      val got = Dedup.prefixFilterPairs(docs.toDF("doc_id", "text"), t, n)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
          r.getInt(3))).sorted.toSeq
      val hs = docs.map { case (id, txt) => id -> hsOf(txt) }
      val want = (for {
        (a, ha) <- hs; (b, hb) <- hs if a < b
        common = (ha intersect hb).size
        union = (ha union hb).size
        if common * 100 >= union * t
      } yield (a, b, common, union)).sorted
      assert(got == want, s"t=$t")
    }
  }

  test("property: stripBoilerplate == Scala segment-df reference") {
    import graft.ops.Corpus
    val (segTokens, maxSegDf) = (2, 2)
    def segsOf(toks: Seq[String]): Seq[String] =
      toks.grouped(segTokens).map(_.mkString(" ")).toSeq
    val genDoc = Gen.choose(0, 9).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("s", "t")).map(_.mkString(" ")))
    forAll(Gen.listOfN(18, genDoc), runs = 6) { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val got = Corpus.stripBoilerplate(docs.toDF("doc_id", "text"),
          segTokens, maxSegDf).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getString(3)))
        .sorted.toSeq
      val segMap = docs.map { case (id, t) =>
        id -> segsOf(t.split("\\s+").filter(_.nonEmpty).toSeq) }
      // segment document frequency counts DISTINCT docs per segment value
      val df = segMap.flatMap { case (id, ss) => ss.distinct.map(_ -> id) }
        .groupBy(_._1).map { case (s, g) => s -> g.map(_._2).distinct.size }
      val want = segMap.map { case (id, ss) =>
        val kept = ss.filter(s => df(s) <= maxSegDf)
        (id, ss.length, kept.size.toLong, kept.mkString(" "))
      }.sorted
      assert(got == want)
    }
  }

  test("property: mergeUpsert == Scala latest-wins merge") {
    import graft.ops.Star
    val genRow = for {
      k <- Gen.choose(0, 4); t <- Gen.choose(0L, 10L); v <- Gen.choose(0L, 99L)
    } yield (k.toLong, t, v)
    forAll(Gen.zip(Gen.listOfN(30, genRow), Gen.listOfN(30, genRow)),
        runs = 6) { case (base0, changes0) =>
      val base = base0.zipWithIndex.map { case ((k, t, v), i) =>
        (k, v, t, i.toLong) }
      val changes = changes0.zipWithIndex.map { case ((k, t, v), i) =>
        (k, v, t, (i + 1000).toLong) }
      def latest(rows: Seq[(Long, Long, Long, Long)]): Map[Long, (Long, Long)] =
        rows.groupBy(_._1).map { case (k, g) =>
          val best = g.maxBy(r => (r._3, r._4)) // (ts, tiebreak)
          k -> (best._2, best._3)
        }
      val b = latest(base); val c = latest(changes)
      val want = (b.keySet ++ c.keySet).toSeq.map { k =>
        val (v, t) = c.getOrElse(k, b(k))
        val op =
          if (!b.contains(k)) "insert"
          else if (!c.contains(k)) "keep"
          else "update"
        (k, v, t, op)
      }.sorted
      val got = Star.mergeUpsert(
          base.toDF("k", "v", "ts", "tb"), changes.toDF("k", "v", "ts", "tb"),
          "k", "ts", "tb", Seq("v")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
        .sorted.toSeq
      assert(got == want)
    }
  }

  test("property: BFS hops == Scala shortest paths on random digraphs") {
    import graft.ops.Graph
    val genEdge = for {
      s <- Gen.choose(0, 9); d <- Gen.choose(0, 9)
    } yield (s"n$s", s"n$d", 1L)
    forAll(Gen.listOfN(25, genEdge), runs = 6) { edges =>
      val df = edges.toDF("src", "dst", "w")
      val got = Graph.shortestHops(df, "n0", maxHops = 9).collect()
        .map(r => r.getString(0) -> r.getInt(1)).toMap
      // Scala BFS over the simple digraph (self-loops dropped like the op)
      val adj = edges.filter(e => e._1 != e._2)
        .groupBy(_._1).map { case (s, g) => s -> g.map(_._2).distinct }
      var dist = Map("n0" -> 0)
      var frontier = Set("n0")
      var i = 1
      while (frontier.nonEmpty && i <= 9) {
        val next = frontier.flatMap(adj.getOrElse(_, Nil))
          .filterNot(dist.contains)
        next.foreach(n => dist += n -> i)
        frontier = next
        i += 1
      }
      assert(got == dist)
    }
  }

  test("property: k-core peel == Scala reference on random digraphs") {
    import graft.ops.Graph
    val genEdge = for {
      s <- Gen.choose(0, 7); d <- Gen.choose(0, 7)
    } yield (s"n$s", s"n$d", 1L)
    forAll(Gen.listOfN(20, genEdge), runs = 6) { edges =>
      val df = edges.toDF("src", "dst", "w")
      val rounds = 3
      val got = Graph.kcore(df, rounds).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted.toSeq
      // undirected simple graph as DIRECTED survivor edges (both arcs)
      val und = edges.filter(e => e._1 != e._2)
        .flatMap(e => Seq((e._1, e._2), (e._2, e._1))).distinct
      val deg0 = und.groupBy(_._1).map { case (v, g) => v -> g.size.toLong }
      if (deg0.nonEmpty) {
        val s = deg0.values.sum; val nn = deg0.size.toLong
        val k = (s + 2 * nn - 1) / (2 * nn) // ceil(avg degree / 2)
        var aliveDeg = deg0.filter(_._2 >= k)
        for (_ <- 1 to rounds) {
          val alive = aliveDeg.keySet
          val e = und.filter(p => alive(p._1) && alive(p._2))
          aliveDeg = e.groupBy(_._1).map { case (v, g) => v -> g.size.toLong }
            .filter(_._2 >= k)
        }
        val want = aliveDeg.toSeq.map { case (v, d) => (v, d, k) }.sorted
        assert(got == want)
      } else assert(got.isEmpty)
    }
  }

  test("property: integer pagerank == Scala reference on random weighted graphs") {
    import graft.ops.Graph
    val genEdge = for {
      s <- Gen.choose(0, 5); d <- Gen.choose(0, 5); w <- Gen.choose(1L, 5L)
    } yield (s"n$s", s"n$d", w)
    forAll(Gen.listOfN(15, genEdge), runs = 6) { edges0 =>
      // the operator aggregates (src, dst) weights itself in the query
      // composition; here edges arrive pre-aggregated like nationTradeEdges
      val edges = edges0.groupBy(e => (e._1, e._2))
        .map { case ((s, d), g) => (s, d, g.map(_._3).sum) }.toSeq
      val nodes = (0 to 5).map(i => s"n$i")
      val seed = 1000000000000L
      val teleport = seed - seed * 17L / 20L
      val wout = edges.groupBy(_._1).map { case (s, g) => s -> g.map(_._3).sum }
      var ranks = nodes.map(_ -> seed).toMap
      for (_ <- 1 to 3) {
        val contribs = edges.groupBy(_._2).map { case (d, g) =>
          d -> g.map(e => ranks(e._1) / wout(e._1) * e._3).sum
        }
        ranks = nodes.map(n =>
          n -> (teleport + contribs.getOrElse(n, 0L) * 17L / 20L)).toMap
      }
      val got = Graph.pagerank(edges.toDF("src", "dst", "w"),
          nodes.toDF("n_name"), iters = 3).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got == ranks)
    }
  }

  test("property: triangle counts and degree census == Scala references") {
    import graft.ops.Graph
    val genEdge = for {
      s <- Gen.choose(0, 6); d <- Gen.choose(0, 6); w <- Gen.choose(1L, 4L)
    } yield (s"n$s", s"n$d", w)
    forAll(Gen.listOfN(22, genEdge), runs = 6) { edges0 =>
      // pre-aggregated like the real caller (nationTradeEdges' groupBy):
      // the census counts rows, so multiplicity must be folded first
      val edges = edges0.groupBy(e => (e._1, e._2))
        .map { case ((s, d), g) => (s, d, g.map(_._3).sum) }.toSeq
      val df = edges.toDF("src", "dst", "w")
      // triangles: undirected simple graph, each counted once via a<b<c
      val und = edges.filter(e => e._1 != e._2)
        .map(e => (Seq(e._1, e._2).min, Seq(e._1, e._2).max)).distinct
      val undSet = und.toSet
      val verts = und.flatMap(e => Seq(e._1, e._2)).distinct.sorted
      val tris = for {
        a <- verts; b <- verts if a < b && undSet((a, b))
        c <- verts if b < c && undSet((b, c)) && undSet((a, c))
      } yield (a, b, c)
      val triWant = tris.flatMap(t => Seq(t._1, t._2, t._3))
        .groupBy(identity).map { case (v, g) => (v, g.size.toLong) }
        .toSeq.sorted
      val triGot = Graph.triangleCounts(df).collect()
        .map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
      assert(triGot == triWant)
      // degree census: distinct partners + weight sums + reciprocated arcs
      val simple = edges.filter(e => e._1 != e._2)
      val degWant = simple.flatMap(e => Seq(e._1, e._2)).distinct.sorted.map { v =>
        val out = simple.filter(_._1 == v); val in = simple.filter(_._2 == v)
        val rec = out.count(e => simple.exists(r =>
          r._1 == e._2 && r._2 == e._1))
        (v, out.size.toLong, in.size.toLong,
          out.map(_._3).sum, in.map(_._3).sum, rec.toLong)
      }
      val degGot = Graph.degreeCensus(df).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5))).toSeq
      assert(degGot == degWant)
    }
  }

  test("property: tfidfSimilarPairs == exact BigInt reference (integer grid)") {
    import graft.ops.TextOps
    val n = 3
    def toksOf(t: String): Seq[String] = t.split("\\s+").filter(_.nonEmpty).toSeq
    def gramsOf(toks: Seq[String]): Seq[String] =
      if (toks.length < n) Seq(toks.mkString(" "))
      else (0 to toks.length - n).map(j => toks.slice(j, j + n).mkString(" "))
    val genDoc = Gen.choose(1, 8).flatMap(m =>
      Gen.listOfN(m, Gen.oneOf("h", "i", "j", "k")).map(_.mkString(" ")))
    forAll(Gen.listOfN(12, genDoc), runs = 6) { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val got = TextOps.tfidfSimilarPairs(docs.toDF("doc_id", "text"), n)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      // exact replay: milli-quantized idf (HALF_UP on the identical double,
      // the ONLY float op), then pure BigInt arithmetic end-to-end
      val nDocs = docs.length
      val grams = docs.map { case (id, t) => id -> gramsOf(toksOf(t)) }
      val tf = grams.flatMap { case (id, gs) => gs.map(g => (id, g)) }
        .groupBy(identity).map { case ((id, g), occ) => (id, g, occ.size.toLong) }
      val df = grams.flatMap { case (id, gs) => gs.distinct.map(g => (g, id)) }
        .groupBy(_._1).map { case (g, xs) => g -> xs.size.toLong }
        .filter { case (_, d) => d >= 2 && d <= 100 }
      val wq = tf.collect { case (id, g, t) if df.contains(g) =>
        val idfMilli = BigDecimal(1000d * math.log((nDocs + 1).toDouble / (df(g) + 1)))
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
        (id, g, t * idfMilli)
      }.toSeq
      val norms = wq.groupBy(_._1).map { case (id, ws) =>
        id -> ws.map(w => BigInt(w._3) * w._3).sum }
      val byGram = wq.groupBy(_._2)
      val dots = byGram.values.flatMap { ws =>
        for {
          (a, _, wa) <- ws; (b, _, wb) <- ws if a < b
        } yield ((a, b), BigInt(wa) * wb)
      }.groupBy(_._1).map { case (k, xs) => k -> xs.map(_._2).sum }
      val want = dots.toSeq.collect {
        case ((a, b), dot) if norms(a) > 0 && norms(b) > 0 =>
          (a, b, (dot * dot * 1000000 / (norms(a) * norms(b))).toLong)
      }.filter(_._3 >= 10000L).sortBy(p => (p._1, p._2))
      assert(got == want)
    }
  }

  test("property: sourceOverlap == Scala shingle-set reference") {
    import graft.ops.Corpus
    val n = 2
    def gramsOf(text: String): Set[String] = {
      val toks = text.split("\\s+").filter(_.nonEmpty).toSeq
      (if (toks.length < n) Seq(toks.mkString(" "))
       else (0 to toks.length - n).map(j => toks.slice(j, j + n).mkString(" ")))
        .toSet
    }
    val genDoc = for {
      src <- Gen.oneOf("s1", "s2", "s3")
      toks <- Gen.choose(0, 7).flatMap(m =>
        Gen.listOfN(m, Gen.oneOf("h", "i", "j")))
    } yield (src, toks.mkString(" "))
    forAll(Gen.listOfN(20, genDoc), runs = 6) { docs0 =>
      val docs = docs0.zipWithIndex.map { case ((s, t), i) => (i.toLong, s, t) }
      val got = Corpus.sourceOverlap(docs.toDF("doc_id", "source", "text"), n)
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
          r.getLong(3)))
        .sorted.toSeq
      val bySrc = docs.groupBy(_._2)
        .map { case (s, g) => s -> g.map(d => gramsOf(d._3)).fold(Set.empty)(_ ++ _) }
      val want = (for {
        (a, ga) <- bySrc.toSeq; (b, gb) <- bySrc.toSeq if a < b
        shared = (ga intersect gb).size if shared >= 1
      } yield (a, b, shared.toLong,
        shared.toLong * 1000000L / (ga.size + gb.size - shared))).sorted
      assert(got == want)
    }
  }

  test("property: EWMA and Holt folds == Scala with identical op order") {
    import graft.ops.Relational
    val genOrder = for {
      c <- Gen.choose(0, 3); d <- Gen.choose(1, 28); p <- Gen.choose(100, 9999)
    } yield (c.toLong, f"2024-01-$d%02d", p.toDouble)
    forAll(Gen.listOfN(40, genOrder), runs = 6) { rows0 =>
      val rows = rows0.zipWithIndex.map { case ((c, d, p), i) =>
        (c, i.toLong, java.sql.Date.valueOf(d), p) }
      val df = rows.toDF("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
      def sortedPrices(c: Long): Seq[Double] =
        rows.filter(_._1 == c).sortBy(r => (r._3.toString, r._2)).map(_._4)
      val gotE = Relational.ewmaPrice(df).collect()
        .map(r => r.getLong(0) -> r.getDouble(2)).toMap
      val wantE = rows.map(_._1).distinct.map { c =>
        val ps = sortedPrices(c)
        val s = ps.tail.foldLeft(ps.head)((acc, x) => 0.25 * x + 0.75 * acc)
        c -> math.floor(s * 1000000d) / 1000000d
      }.toMap
      assert(gotE == wantE, "ewma")
      val gotH = Relational.holtPrice(df).collect()
        .map(r => r.getLong(0) -> r.getDouble(2)).toMap
      val wantH = rows.map(_._1).distinct.map { c =>
        val ps = sortedPrices(c)
        val (l, b) = ps.tail.foldLeft((ps.head, 0.0)) { case ((l0, b0), x) =>
          val l1 = 0.25 * x + 0.75 * (l0 + b0)
          (l1, 0.2 * (l1 - l0) + 0.8 * b0)
        }
        c -> math.floor((l + b) * 1000000d) / 1000000d
      }.toMap
      assert(gotH == wantH, "holt")
    }
  }

  test("property: jaccard is symmetric, bounded, and 1 on self") {
    val words = Gen.listOfN(8, Gen.oneOf("a", "b", "c", "d", "e", "f"))
    forAll(Gen.zip(words, words), runs = 8) { case (x, y) =>
      {
        val df = Seq((x.mkString(" "), y.mkString(" "))).toDF("x", "y")
        val Array(xy, yx, xx) = df.select(
          jaccard(tokens(col("x")), tokens(col("y"))),
          jaccard(tokens(col("y")), tokens(col("x"))),
          jaccard(tokens(col("x")), tokens(col("x"))))
          .collect().head.toSeq.map(_.asInstanceOf[Double]).toArray
        assert(xy == yx)
        assert(xy >= 0.0 && xy <= 1.0)
        assert(xx == 1.0)
      }
    }
  }

  test("property: distributed groupRanks == window ranks on random skewed data") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{count => cnt, lit, row_number}
    // heavy value ties and skewed groups — the tiebreaker column makes the
    // order total, which is groupRanks' contract
    val genRows = Gen.listOfN(400, for {
      g <- Gen.oneOf("a", "a", "a", "b", "c") // skew: 60 % in one group
      v <- Gen.choose(0, 5)                   // many order-value ties
    } yield (g, v))
    forAll(genRows, runs = 3) { rows =>
      val df = rows.zipWithIndex.map { case ((g, v), id) => (g, v, id.toLong) }
        .toDF("g", "v", "id")
      val got = ops.Rank.groupRanks(df, Seq("g"), Seq(col("v"), col("id")))
        .select("id", "rank", "n").collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      val w = Window.partitionBy("g").orderBy(col("v"), col("id"))
      val want = df
        .withColumn("rank", row_number().over(w).cast("long"))
        .withColumn("n", cnt(lit(1)).over(Window.partitionBy("g")).cast("long"))
        .select("id", "rank", "n").collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(got == want)
    }
  }

  test("groupRanks over a CACHED input equals window ranks (r10 regression)") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.row_number
    // An InMemoryRelation in the input defeats AQE exchange reuse between
    // the two passes of the ranker; before the stableLocal guard, each
    // pass re-sampled its own range bounds and the joined offsets
    // produced silently nondeterministic ranks (observed: run-to-run
    // flips and NULL boundary hits in Rank.discPercentiles over a frame
    // derived from a persisted median). Three repetitions: the corruption
    // was nondeterministic, a single draw could pass by luck.
    val df = (1 to 5000).map(i => (s"g${i % 3}", (i * 37) % 101, i.toLong))
      .toDF("g", "v", "id").persist()
    try {
      df.count() // materialize the cache before ranking
      val w = Window.partitionBy("g").orderBy(col("v"), col("id"))
      val want = df.withColumn("rank", row_number().over(w).cast("long"))
        .select("id", "rank").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      (1 to 3).foreach { rep =>
        val got = ops.Rank.groupRanks(df, Seq("g"), Seq(col("v"), col("id")))
          .select("id", "rank").collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got == want, s"cached-input ranks corrupted (rep $rep)")
      }
    } finally df.unpersist()
  }

  test("property: discPercentiles == percentile_disc on random tied data") {
    // Rank.discPercentiles is the scale-safe replacement for the
    // value-buffering percentile_disc sort-aggregate; they must agree on
    // ANY input, including heavy ties (values drawn from a domain of 7,
    // so every rank position is contested) and 1-row groups. Grouped and
    // global forms both checked against Spark's own aggregate.
    val qs = Seq((1, 100), (1, 4), (1, 2), (3, 4), (99, 100))
    val names = Seq("p01", "p25", "p50", "p75", "p99")
    val genRows = Gen.listOfN(400, for {
      g <- Gen.choose(0, 4)
      v <- Gen.choose(0, 6)
    } yield (s"g$g", v))
    forAll(genRows, runs = 4) { rows =>
      val df = rows.toDF("g", "v")
      val aggs = qs.zip(names).map { case ((num, den), n) =>
        expr(s"percentile_disc(${num.toDouble / den}) WITHIN GROUP (ORDER BY v)")
          .cast("int").as(n)
      }
      def asMap(r: org.apache.spark.sql.Row, off: Int) =
        names.indices.map(i => names(i) -> r.getInt(off + i)).toMap
      val want = df.groupBy("g").agg(aggs.head, aggs.tail: _*)
        .collect().map(r => r.getString(0) -> asMap(r, 1)).toMap
      val got = ops.Rank.discPercentiles(df, Seq("g"), "v", qs, names)
        .collect().map(r => r.getString(0) -> asMap(r, 1)).toMap
      assert(got == want, s"grouped percentiles diverge: $got vs $want")
      val wantG = asMap(df.agg(aggs.head, aggs.tail: _*).collect().head, 0)
      val gotG = asMap(
        ops.Rank.discPercentiles(df, Seq.empty, "v", qs, names).collect().head, 0)
      assert(gotG == wantG, s"global percentiles diverge: $gotG vs $wantG")
    }
  }

  test("property: union-find path == iterative label propagation on random graphs") {
    // small vertex domain forces heavy merging; chain-ish and clustered
    // shapes both appear across seeds
    val genEdges = Gen.listOfN(60, for {
      a <- Gen.choose(0L, 24L)
      b <- Gen.choose(0L, 24L)
    } yield (math.min(a, b), math.max(a, b)))
    forAll(genEdges, runs = 4) { edges =>
      val pairs = edges.toDF("doc_a", "doc_b")
      def run(threshold: Long) =
        ops.Dedup.connectedComponents(pairs, smallGraphEdges = threshold)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val fast = run(Long.MaxValue)
      val loop = run(0L)
      assert(fast == loop, s"paths disagree on $edges")
      // labeling invariant: every label is the min id of its own class
      val byLabel = fast.groupBy(_._2).view.mapValues(_.keys.min)
      byLabel.foreach { case (label, minId) => assert(label == minId) }
    }
  }

  test("property: minhash slot-agreement approximates jaccard") {
    // near-dup pairs with known overlap: agreement rate must track J within
    // wide statistical bounds (k = 64 slots)
    val base = (1 to 40).map(i => s"tok$i")
    val variants = Seq(0, 5, 15, 30).map(d => base.drop(d) ++ (1 to d).map(i => s"alt$i"))
    val df = variants.map(v => Tuple1(v.mkString(" "))).toDF("text")
      .withColumn("hs", shingle_hashes(shingles(tokens(col("text")), 2)))
      .select(minhash_slots(col("hs"), 64).as("sig"))
    val sigs = df.collect().map(_.getSeq[Long](0))
    val aggrees = variants.indices.drop(1).map { i =>
      sigs(0).zip(sigs(i)).count { case (a, b) => a == b } / 64.0
    }
    // monotone in overlap, and the exact-duplicate case is exact
    assert(aggrees == aggrees.sorted.reverse, s"agreement not monotone: $aggrees")
    val self = sigs(0).zip(sigs(0)).count { case (a, b) => a == b }
    assert(self == 64)
  }
}
