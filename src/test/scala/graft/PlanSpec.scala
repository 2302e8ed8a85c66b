package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops._

/** Plan-shape regression guards: the optimizations the engine's 100 TB
  * posture depends on, asserted against the actual physical plans so a
  * refactor cannot silently lose them (SURVEY §4.2). */
class PlanSpec extends AnyFunSuite {
  import TestSpark.spark

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("q1: filter and projection push into the parquet scan") {
    val p = Relational.pricingSummary(Tables.lineitem(spark, TestSpark.sf0001))
      .queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"))
    // pruned read schema: no orderkey/partkey/suppkey columns reach the scan
    assert(!p.contains("l_partkey"))
  }

  test("bloom-pruned join: the probe filter evaluates BELOW the join exchange") {
    val p = plan(Relational.bloomPrunedUrgentRevenue(
      Tables.orders(spark, TestSpark.sf0001),
      Tables.lineitem(spark, TestSpark.sf0001)))
    // the xxhash64 probe must appear in a Filter on the fact scan side —
    // i.e. somewhere below the join — not above it (which would shuffle
    // every fact row first and prune nothing)
    assert(p.contains("xxhash64"), s"bloom probe missing from plan:\n$p")
    val joinIdx = p.indexOf("Join")
    val probeIdx = p.indexOf("xxhash64")
    assert(joinIdx >= 0 && probeIdx > joinIdx,
      s"probe filter should sit under the join in the plan tree:\n$p")
  }

  test("bloom-pruned join: probe filter sits DIRECTLY on the fact scan — no exchange or join beneath it") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val df = Relational.bloomPrunedUrgentRevenue(
      Tables.orders(spark, TestSpark.sf0001),
      Tables.lineitem(spark, TestSpark.sf0001))
    val root: SparkPlan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    val probeFilters = root.collect {
      case f: FilterExec if f.condition.toString.contains("xxhash64") => f
    }
    assert(probeFilters.nonEmpty, s"no probe filter in plan:\n$root")
    for (f <- probeFilters) {
      // nothing between a probe and its scan: any exchange or join below it
      // would mean rows shuffled before being pruned (Catalyst ALSO infers
      // the probe onto the dim side through the join equality — fine, it
      // must sit on that scan too)
      val beneath = f.child.collect {
        case e: org.apache.spark.sql.execution.exchange.Exchange => e
        case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
      }
      assert(beneath.isEmpty,
        s"probe filter has ${beneath.map(_.nodeName)} beneath it:\n$root")
      assert(f.child.collect { case s: FileSourceScanExec => s }.nonEmpty,
        s"probe filter does not sit on a scan:\n$root")
    }
    // the FACT side specifically: some probe filter reads lineitem, and the
    // scan carries the probe in its DataFilters (evaluated at the read)
    val factScans = probeFilters.flatMap(_.child.collect {
      case s: FileSourceScanExec if s.toString.contains("lineitem") => s
    })
    assert(factScans.nonEmpty,
      s"no probe filter sits on the lineitem scan:\n$root")
    assert(factScans.exists(_.dataFilters.exists(
        _.toString.contains("xxhash64"))),
      s"probe absent from the lineitem scan's DataFilters:\n$root")
  }

  test("q2: correlated min decorrelates — dims broadcast, top-100 is TakeOrdered") {
    val p = plan(Relational.minCostSuppliers(
      Tables.partsupp(spark, TestSpark.sf0001),
      Tables.part(spark, TestSpark.sf0001),
      Tables.supplier(spark, TestSpark.sf0001),
      Tables.nation(spark, TestSpark.sf0001),
      Tables.region(spark, TestSpark.sf0001)))
    // supplier⋈nation⋈region and part ride broadcast joins; only the
    // per-part min aggregate and its join-back shuffle on partkey
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3,
      s"dimension joins lost their broadcast:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-100 must be a TakeOrdered, not a global sort + limit:\n$p")
    // the only nested-loop joins allowed are the broadcast 1-row n_supp
    // scalars in Tables.partsupp (one per derivation side — the min
    // aggregate and its join-back each re-derive partsupp; a cross join
    // with a single row is the right plan for a scalar); anything else
    // means the decorrelation failed
    val bnlj = "BroadcastNestedLoopJoin BuildRight, Cross".r.findAllIn(p).size
    assert(!p.contains("CartesianProduct")
        && bnlj == "BroadcastNestedLoopJoin".r.findAllIn(p).size && bnlj <= 2,
      s"decorrelation failed into a product join:\n$p")
  }

  test("q3: dimension side broadcasts; top-10 is TakeOrderedAndProject, not global sort") {
    val p = plan(Relational.topUrgentOrders(
      Tables.customer(spark, TestSpark.sf0001),
      Tables.orders(spark, TestSpark.sf0001),
      Tables.lineitem(spark, TestSpark.sf0001)))
    assert(p.contains("BroadcastHashJoin"))
    assert(p.contains("TakeOrderedAndProject"))
    // the fact table must never be a broadcast build side: the semi-filter
    // shape guarantees it (a LeftSemi builds RIGHT), and no join in the
    // plan may build a lineitem-derived side. BuildLeft appears only for
    // the post-aggregate (≤ |orders|) revenue table join.
    assert(p.contains("LeftSemi"), s"semi runtime-filter lost:\n$p")
    assert(!"BroadcastExchange[\\s\\S]{0,400}?l_extendedprice".r
      .findFirstIn(p).isDefined || !p.contains("LeftSemi, BuildLeft"),
      s"lineitem projection must not broadcast:\n$p")
  }

  test("zorder layout: repartitionByRange(z) clusters both dimensions") {
    // after a range-repartition by the Morton key, each partition's (x, y)
    // bounding box must be tighter than the global box — the min/max
    // file-skipping property the layout exists for. Uniform 128×128 grid
    // covering both 10-bit domains (sf0.001's custkey range is too narrow
    // to exercise the x dimension).
    val z = spark.range(128L * 128L)
      .select(((col("id") % 128) * 8).as("x"),
        ((col("id") / 128).cast("long") * 8).as("y"))
      .withColumn("z", Layout.zorderKey(col("x"), col("y"), 10))
    val parts = z.repartitionByRange(8, col("z"))
      .select(col("x"), col("y"))
      .mapPartitions { it =>
        val xs = it.map(r => (r.getLong(0), r.getLong(1))).toSeq
        if (xs.isEmpty) Iterator.empty
        else Iterator((xs.map(_._1).min, xs.map(_._1).max,
          xs.map(_._2).min, xs.map(_._2).max, xs.size))
      }(org.apache.spark.sql.Encoders.product[(Long, Long, Long, Long, Int)])
      .collect()
    assert(parts.map(_._5).sum == z.count())
    // average per-partition span strictly below the global span on BOTH
    // interleaved dimensions (a single-column sort only achieves one)
    val gx = parts.map(_._2).max - parts.map(_._1).min
    val gy = parts.map(_._4).max - parts.map(_._3).min
    val ax = parts.map(p => p._2 - p._1).sum.toDouble / parts.length
    val ay = parts.map(p => p._4 - p._3).sum.toDouble / parts.length
    assert(ax < gx * 0.8, s"x not clustered: avg span $ax vs global $gx")
    assert(ay < gy * 0.8, s"y not clustered: avg span $ay vs global $gy")
  }

  test("star fact: dims broadcast, exactly one hash-partition shuffle for the cube") {
    val p = plan(Star.fact(Tables.orders(spark, TestSpark.sf0001),
      Tables.customer(spark, TestSpark.sf0001), Tables.nation(spark, TestSpark.sf0001)))
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
    // the fact source aggregates through ONE hashpartitioning exchange on
    // (d, category, district); dim builds shuffle only their tiny distincts
    val factShuffles = "Exchange hashpartitioning\\(d#\\d+, category#".r
      .findAllIn(p).size
    assert(factShuffles == 1, s"fact build should shuffle once:\n$p")
  }

  test("A2 histograms: one aggregate exchange, no range sort, no pivot; " +
      "A3 cube groups and sorts on the date") {
    import org.apache.spark.sql.catalyst.expressions.aggregate.PivotFirst
    import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, RangePartitioning}
    import org.apache.spark.sql.execution.{SortExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.types.{DateType, StringType}
    object H extends AdaptiveSparkPlanHelper
    def physical(name: String): SparkPlan =
      SparkEntry.queries(name)(spark, TestSpark.sf0001).queryExecution.executedPlan
    for (name <- Seq("a2_weekly_histogram", "a2_dotw_histogram", "s1_crime_weekly")) {
      val p = physical(name)
      val parts = H.collect(p) { case e: ShuffleExchangeLike => e.outputPartitioning }
      assert(parts.count(_.isInstanceOf[HashPartitioning]) == 1, s"$name:\n$p")
      assert(!parts.exists(_.isInstanceOf[RangePartitioning]), s"$name:\n$p")
      val pivots = H.collect(p) { case a: BaseAggregateExec => a.aggregateExpressions }
        .flatten.filter(_.aggregateFunction.isInstanceOf[PivotFirst])
      assert(pivots.isEmpty, s"$name:\n$p")
    }
    val cube = physical("a3_daily_cube_indexed")
    // the cell aggregate is the one with three grouping keys
    val cellKeys = H.collect(cube) {
      case a: BaseAggregateExec if a.groupingExpressions.length == 3 =>
        a.groupingExpressions.map(_.dataType)
    }
    assert(cellKeys.nonEmpty && cellKeys.forall(ks =>
      ks.contains(DateType) && ks.count(_ == StringType) == 2), s"$cube")
    val sortKeys = H.collect(cube) {
      case s: SortExec if s.global => s.sortOrder.map(_.dataType)
    }
    assert(sortKeys.length == 1 && sortKeys.head.headOption.contains(DateType), s"$cube")
  }

  test("aggregations run as partial+final HashAggregate pairs") {
    val p = plan(Parity.categoryTotals(Tables.events(spark, TestSpark.sf0001)))
    assert("HashAggregate".r.findAllIn(p).size >= 2)
    assert(p.contains("partial_count") || p.contains("merge_count")
      || "HashAggregate".r.findAllIn(p).size >= 2)
  }

  test("interval overlap join plans as a bucket equi-join, not a nested loop") {
    val p = plan(Intervals.sessionIncidentOverlap(
      Tables.events(spark, TestSpark.sf0001)))
    assert(!p.contains("CartesianProduct"), s"cross product:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"nested loop:\n$p")
    assert(p.contains("Join") || p.contains("Hash"), s"no join found:\n$p")
  }

  test("vocab coverage: top-V is a TakeOrdered; scoring never shuffles the corpus") {
    val p = plan(TextOps.vocabCoverage(Tables.documents(spark, TestSpark.sf0001)))
    assert(p.contains("TakeOrderedAndProject"), s"top-V became a global sort:\n$p")
    // exactly one hash exchange: the token-count groupBy of the vocab pass.
    // The per-doc scoring pass is per-row math over a broadcast array.
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"scoring pass gained a shuffle:\n$p")
  }

  test("scd2: both window passes share one exchange on the key") {
    val p = plan(Star.scd2(Tables.events(spark, TestSpark.sf0001),
      "user_id", "ts", "event_type", "event_id"))
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"second window re-shuffled:\n$p")
  }

  test("merge upsert: snapshots via aggregation, no windows") {
    val ev = Tables.events(spark, TestSpark.sf0001)
    val cutoff = lit("2024-03-01").cast("timestamp")
    val p = plan(Star.mergeUpsert(
      ev.where(col("ts") < cutoff), ev.where(col("ts") >= cutoff),
      "user_id", "ts", "event_id", Seq("event_type", "value")))
    assert(!p.contains("Window"), s"snapshot used a window instead of max_by:\n$p")
  }

  test("epoch shuffle: no window operator anywhere (offsets precomputed)") {
    val df = Corpus.shuffleEpoch(Tables.documents(spark, TestSpark.sf0001))
    // unwrap the AQE root: plain foreach on an AdaptiveSparkPlanExec never
    // descends into the inner plan, so a typed WindowExec count would be
    // vacuously 0 (the PlanAudit bug, fixed the same way)
    val root = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    var wins = 0
    root.foreach {
      case _: org.apache.spark.sql.execution.window.WindowExec => wins += 1
      case _ =>
    }
    assert(wins == 0)
    // belt-and-braces: the printed plan (which DOES include the inner AQE
    // plan) must not contain a Window operator either
    assert(!df.queryExecution.executedPlan.toString.contains("Window ["),
      "printed plan contains a Window operator")
  }

  test("partitioned parquet write enables partition pruning on read") {
    val out = "/tmp/graft_partitioned_events"
    val ev = Tables.events(spark, TestSpark.sf0001)
      .withColumn("day", to_date(col("ts")))
    graft.sources.Sinks.writeParquet(ev, out, partitionBy = Seq("day"))
    val pruned = spark.read.parquet(out).where(col("day") === "2024-01-05")
    val p = plan(pruned)
    assert(p.contains("PartitionFilters: [isnotnull(day"))
    assert(pruned.count() > 0)
    // prune actually reduced the files read: full scan reads 30 partitions
    val full = spark.read.parquet(out).count()
    assert(pruned.count() < full)
  }

  test("chunkOverlap: row-local generator — no exchange beyond the output sort") {
    val full = plan(Corpus.chunkOverlap(Tables.documents(spark, TestSpark.sf0001)))
    // exactly the one exchange the deterministic output ORDER BY needs —
    // chunk production itself never shuffles
    assert("Exchange".r.findAllIn(full).length <= 1, full)
    assert(!full.contains("BroadcastExchange"), full)
  }

  test("q10: revenue aggregates before any customer attribute join; top-20 via TakeOrdered") {
    val p = plan(Tpch.returnedItems(
      Tables.lineitem(spark, TestSpark.sf0001), Tables.orders(spark, TestSpark.sf0001),
      Tables.customer(spark, TestSpark.sf0001), Tables.nation(spark, TestSpark.sf0001)))
    assert(p.contains("TakeOrderedAndProject"), p)
    // c_name/c_acctbal must not appear below the TakeOrdered boundary:
    // attributes join onto the 20-row side, never the pre-limit fact flow
    val belowLimit = p.substring(p.indexOf("TakeOrderedAndProject"))
    assert(belowLimit.contains("c_acctbal"), p) // join happens after
  }

  test("minhash: fused signature at the scan, bucket before distinct, no join explosion") {
    val p = plan(Dedup.minhashLsh(Tables.documents(spark, TestSpark.sf0001)))
    // the signature is ONE native expression evaluated directly over the
    // scan — token arrays must never enter an exchange
    assert(p.contains("minhash_sig"), s"fused signature expression lost:\n$p")
    assert(!p.linesIterator.exists(l => l.contains("Exchange") && l.contains("toks")),
      s"token arrays shuffled:\n$p")
    // bucket-then-pair: the (band_idx, band_hash) aggregate comes BEFORE the
    // (doc_a, doc_b) distinct — a distinct before bucketing would shuffle
    // the full band stream twice
    val bucketAt = p.indexOf("keys=[band_idx")
    val distinctAt = p.indexOf("keys=[doc_a")
    assert(bucketAt >= 0 && distinctAt >= 0 && distinctAt < bucketAt,
      s"pair distinct must sit above the bucket aggregate:\n$p")
    // the bucket-content dedupe (identical member lists collapse before the
    // pair explode — the cluster-flood guard) sits between them
    val listsAt = p.indexOf("keys=[_ids")
    assert(listsAt >= 0 && distinctAt < listsAt && listsAt < bucketAt,
      s"bucket-content dedupe missing or misplaced:\n$p")
    // exactly three hash exchanges: bucket groupBy + content dedupe +
    // candidate-pair distinct (the dedupe shuffles one row per BUCKET —
    // strictly smaller than the pair stream it prunes)
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 3,
      s"extra shuffle appeared in the candidate path:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"candidate generation exploded into a product join:\n$p")
  }

  test("session windows: one exchange on the key, sessions merge pre-shuffle, no Window op") {
    val p = plan(Relational.sessionCounts(Tables.events(spark, TestSpark.sf0001)))
    // exactly one hash exchange, keyed on user_id — the round-2 bench tail
    // was full of single-partition windows; session_window must stay a
    // keyed aggregate
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(p).size == 1
      && "Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"session aggregate lost its single keyed exchange:\n$p")
    assert(!p.contains("Exchange SinglePartition"), s"single-partition funnel:\n$p")
    assert(!p.contains("Window"), s"gaps-and-islands window crept back:\n$p")
    // partial aggregation (map-side session pre-merge) below the exchange
    assert(p.contains("partial_count"), s"map-side combine lost:\n$p")
  }

  test("ivf-pq: route and encode are per-row maps; only the rank windows shuffle") {
    val p = plan(SimSearch.ivfPqTopK(Tables.embeddings(spark, TestSpark.sf0001)))
    // pq_codes appears for BOTH the coarse route and the encode, fused in
    // the row-local projection — no join anywhere in the plan (codebooks
    // and probe lists are literals), and the only exchanges are the
    // per-query rank window's hash partitioning (+ its final sort)
    assert(p.contains("pq_codes"), s"fused encode missing:\n$p")
    assert(!p.contains("Join"), s"IVFPQ must not join — literals only:\n$p")
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(shuffles <= 1, s"only the rank window may hash-partition:\n$p")
  }

  test("kmeans assignment is zero-shuffle: argmin over broadcast literals") {
    val emb = Tables.embeddings(spark, TestSpark.sf0001)
    // one full run triggers the internal collects; then re-derive the final
    // assignment plan shape via semDedup's single-round assign (same code)
    val p = plan(Ml.semDedup(emb))
    // the only exchanges permitted: the census groupBy pair (partial+final)
    // and the k-row representative broadcasts — never a corpus-wide
    // repartition before assignment
    val shuffles = "ShuffleExchange|Exchange hashpartitioning".r.findAllIn(p).length
    assert(shuffles <= 2, s"assignment must not shuffle the corpus:\n$p")
  }

  test("percentile queries stay on rank-based order statistics — no value-buffering sort-aggregate") {
    // equidepthHist / winsorizedPrices / robustOutliers were rewritten in
    // round 10 from per-group `percentile_disc` sort-aggregates (which
    // buffer EVERY value of a group in one task — an executor OOM when a
    // group is a constant fraction of 100 TB) to Rank.discPercentiles.
    // Lock the shape: a refactor that reintroduces the sort-aggregate
    // form must fail here, not at the next scale sweep.
    val orders = Tables.orders(spark, TestSpark.sf0001)
    val li = Tables.lineitem(spark, TestSpark.sf0001)
    for ((name, df) <- Seq(
        "equidepthHist" -> Profile.equidepthHist(orders),
        "winsorizedPrices" -> Relational.winsorizedPrices(li),
        "robustOutliers" -> Profile.robustOutliers(orders))) {
      val p = plan(df)
      assert(!p.contains("percentile_disc"),
        s"$name regressed to a value-buffering percentile_disc aggregate:\n$p")
    }
  }

  test("A6 dictionary: ids are a codegen projection, no object round trip") {
    // Parity.dictionary assigns ids in the plan itself; an Encoders.row
    // mapPartitions scan would show up as the deserialize / map /
    // serialize node triple in every dictionary-built star query
    for (name <- Seq("star_dim_category", "star_dim_time", "star_fact",
        "a3_daily_cube_indexed")) {
      val p = plan(SparkEntry.queries(name)(spark, TestSpark.sf0001))
      for (node <- Seq("DeserializeToObject", "MapPartitions", "SerializeFromObject"))
        assert(!p.contains(node), s"$name plans a $node:\n$p")
    }
  }

  test("full inventory: no unbounded single-partition window, no cartesian product") {
    // The one plan shape that silently stops scaling: a WindowExec with an
    // empty partitionSpec serializes its whole input through ONE task. The
    // allowlist below is every query whose plan legitimately contains one —
    // in each, the window input is k-bounded (a limit(k) rank stamp or the
    // 9-row Benford digit aggregate), asserted structurally: a GlobalLimit /
    // TakeOrderedAndProject or a keyed aggregate must sit beneath the
    // window. A NEW query whose global window sits over raw data fails the
    // subset check; an allowlisted query losing its bound fails the
    // structural check. (The walk unwraps AdaptiveSparkPlanExec — its inner
    // plan is not a `children` member, so a plain foreach sees nothing.)
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.window.WindowExec
    val allow = Map(
      // rank stamp over limit(10) / limit(15) (TextOps.bm25TopK)
      "text_bm25_topk" -> "limit",
      // rank stamp over limit(20) (TextOps.rakePhrases)
      "text_rake_phrases" -> "limit",
      // n_total over the 9-row leading-digit aggregate (Profile.benford)
      "profile_benford_price" -> "agg")
    def unwrap(p: SparkPlan): SparkPlan = p match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    def globalWindows(p: SparkPlan): Seq[WindowExec] = {
      val self = p match {
        case w: WindowExec if w.partitionSpec.isEmpty => Seq(w)
        case _ => Seq.empty
      }
      self ++ p.children.map(unwrap).flatMap(globalWindows)
    }
    // the other always-wrong join shape: CartesianProduct shuffles L×R.
    // (BroadcastNestedLoopJoin is NOT flagged: every occurrence in the
    // inventory is crossJoin(broadcast(<1-row aggregate>)) — the scalar-
    // total pattern, audited per-query in PlanAudit.)
    def cartesians(p: SparkPlan): Int =
      (p match {
        case _: org.apache.spark.sql.execution.joins.CartesianProductExec => 1
        case _ => 0
      }) + p.children.map(unwrap).map(cartesians).sum
    def hasBound(p: SparkPlan, kind: String): Boolean = {
      val s = unwrap(p)
      val bounded = kind match {
        case "limit" =>
          s.isInstanceOf[org.apache.spark.sql.execution.GlobalLimitExec] ||
            s.isInstanceOf[org.apache.spark.sql.execution.TakeOrderedAndProjectExec] ||
            s.isInstanceOf[org.apache.spark.sql.execution.CollectLimitExec]
        case "agg" =>
          s.isInstanceOf[org.apache.spark.sql.execution.aggregate.HashAggregateExec] ||
            s.isInstanceOf[org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec] ||
            s.isInstanceOf[org.apache.spark.sql.execution.aggregate.SortAggregateExec]
      }
      bounded || s.children.exists(hasBound(_, kind))
    }
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val root = unwrap(
          fn(spark, TestSpark.sf0001).queryExecution.executedPlan)
        val wins = globalWindows(root)
        val cart = cartesians(root)
        val cartOff =
          if (cart > 0) Seq(s"$name: $cart CartesianProduct join(s)")
          else Seq.empty
        cartOff ++ (allow.get(name) match {
          case None if wins.isEmpty => None
          case None =>
            Some(s"$name: ${wins.size} unbounded single-partition window(s)")
          case Some(kind) =>
            if (wins.nonEmpty && wins.forall(w => hasBound(w.child, kind))) None
            else if (wins.isEmpty)
              Some(s"$name: allowlisted but no global window found (stale allowlist)")
            else Some(s"$name: global window lost its $kind bound")
        })
    }
    assert(offenders.isEmpty,
      "single-partition window audit failed:\n" + offenders.mkString("\n"))
  }

  test("every gate query is oracled, and the headline set exists") {
    // a query without oracle SQL silently downgrades to the driver's
    // rows-only check — the inventory's hash-level guarantee depends on
    // the two maps never drifting apart (and stale oracle entries for
    // removed queries would mask a rename)
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert((q diff o).isEmpty, s"queries without oracle SQL: ${q diff o}")
    assert((o diff q).isEmpty, s"orphan oracle entries: ${o diff q}")
    val missingHeadline = SparkEntry.headlineQueries.filterNot(q)
    assert(missingHeadline.isEmpty,
      s"headline names not in the inventory: $missingHeadline")
  }
}
