package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Column profiling — the data-quality census a pipeline runs before
  * trusting a new 100 TB drop: per column, null count, distinct count,
  * min/max, in two aggregates over the table (schema-driven: the aggregate
  * lists are built from the column names, not hand-written per table).
  *
  * Scale note: the exact `countDistinct` over N columns plans as an Expand
  * (the scan is replicated per distinct column through one shuffle) — right
  * for a correctness gate, N× too expensive for a 100 TB census. So the
  * exact counts are an aggregate of their own, and the null counts, HLL
  * sketches and min/max a second, one-pass aggregate: in one aggregate the
  * Expand carries every HLL buffer through every replicated row. The HLL
  * column is the at-scale path (one pass, mergeable sketches, no expand);
  * the `hll_within_5pct` contract flag — checked against the exact count —
  * is what lets the oracle verify the sketch without replaying it. */
object Profile {

  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    // an empty column list used to die in exact.head's obscure
    // empty-collection error rather than a parameter message
    require(cols.nonEmpty, "profile: need at least one column")
    val exact = cols.map(c => countDistinct(col(c)).as(s"__nd_$c"))
    val onePass = cols.flatMap { c =>
      Seq(
        count(when(col(c).isNull, lit(1))).as(s"__nulls_$c"),
        approx_count_distinct(col(c), 0.02).as(s"__and_$c"),
        // min/max on the NATIVE type, cast at the boundary — min of the
        // string rendering would order "10" < "9"
        min(col(c)).cast("string").as(s"__min_$c"),
        max(col(c)).cast("string").as(s"__max_$c"))
    }
    // each aggregate is one row; the cross join pairs them
    val one = df.agg(exact.head, exact.tail: _*)
      .crossJoin(df.agg(onePass.head, onePass.tail: _*))
    val rows = cols.map { c =>
      struct(
        lit(c).as("column"),
        col(s"__nulls_$c").as("n_nulls"),
        col(s"__nd_$c").as("n_distinct"),
        (abs(col(s"__and_$c") - col(s"__nd_$c"))
          <= greatest(lit(1.0), col(s"__nd_$c") * 0.05))
          .cast("int").as("hll_within_5pct"),
        col(s"__min_$c").as("min_value"),
        col(s"__max_$c").as("max_value"))
    }
    one.select(explode(array(rows: _*)).as("p"))
      .select("p.*")
      .orderBy("column")
  }

  /** Hot-key skew report: the `k` heaviest keys and their share of the
    * table — the diagnostic run BEFORE a join/groupBy on that key decides
    * whether it needs the salted path (`Relational.saltedJoin`). One
    * partial-aggregated count pass; the total rides along as a broadcast
    * 1-row aggregate (no second scan, no collect); top-k is a TakeOrdered
    * with a deterministic tiebreak. */
  def hotKeys(df: DataFrame, keyCol: String, k: Int = 5): DataFrame = {
    val counts = df.groupBy(keyCol).agg(count(lit(1)).as("n"))
    val total = df.agg(count(lit(1)).as("_total"))
    counts.crossJoin(broadcast(total))
      .select(col(keyCol), col("n"),
        round(col("n").cast("double") / col("_total"), 6).as("share"))
      .orderBy(col("n").desc, col(keyCol))
      .limit(k)
  }

  /** Heavy hitters via Misra–Gries candidates + exact verification — the
    * [[hotKeys]] variant for keys whose CARDINALITY is itself at data scale
    * (URLs, user ids, fingerprints): `hotKeys`' groupBy shuffles one record
    * per distinct key, which at 100 TB can be most of the input; this never
    * shuffles more than `capacity` rows per input partition regardless of
    * key cardinality.
    *
    * Pass 1 runs a Misra–Gries summary (Misra & Gries 1982, the
    * deterministic frequent-items sketch) of size `capacity` per partition.
    * Guarantee: any key with GLOBAL frequency > n/capacity must survive in
    * at least one partition (if f = Σf_p > Σn_p/capacity then some
    * f_p > n_p/capacity), so the union of partition survivors is a
    * candidate superset of the answer. Pass 2 computes EXACT counts for
    * candidates only (broadcast semi-join; the groupBy shuffle is bounded
    * by the candidate count ≤ capacity × partitions) and keeps keys in the
    * guaranteed zone — `n · capacity > n_total`, integer arithmetic both
    * engines reproduce exactly. Output is exact and deterministic (ties
    * break on the key), so the DuckDB oracle is a plain GROUP BY with the
    * same threshold. */
  def heavyHitters(df: DataFrame, keyCol: String, capacity: Int = 2048,
      k: Int = 20): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    require(capacity >= 1 && k >= 1, s"bad heavyHitters params: $capacity, $k")
    val keyField = df.schema(keyCol)
    import org.apache.spark.sql.types.BooleanType
    val sumSchema = StructType(Seq(
      StructField("key", keyField.dataType, nullable = true),
      StructField("cnt", LongType, nullable = false),
      StructField("is_total", BooleanType, nullable = false)))
    // pass 1: per-partition MG survivors, plus ONE is_total=true row carrying
    // the partition's row count — the global total rides the same pass
    // instead of a second scan. The flag (not a null key) marks the total
    // row, so a genuine null key in the data stays a countable candidate.
    val summary = df.select(col(keyCol)).mapPartitions { it =>
      val counts = new java.util.HashMap[Any, Long]()
      var nRows = 0L
      it.foreach { row =>
        val key = row.get(0)
        nRows += 1
        val cur = counts.getOrDefault(key, 0L)
        if (cur > 0L) counts.put(key, cur + 1)
        else if (counts.size < capacity) counts.put(key, 1L)
        else {
          // decrement-all step: drop every counter by 1, evict zeros
          val itEntries = counts.entrySet().iterator()
          while (itEntries.hasNext) {
            val e = itEntries.next()
            if (e.getValue == 1L) itEntries.remove() else e.setValue(e.getValue - 1)
          }
        }
      }
      val out = scala.collection.mutable.ArrayBuffer.empty[Row]
      counts.forEach((key, c) => out += Row(key, c, false))
      out += Row(null, nRows, true)
      out.iterator
    }(Encoders.row(sumSchema))
    val totals = summary.where(col("is_total"))
      .agg(sum("cnt").as("n_total"))
    val candidates = summary.where(!col("is_total"))
      .select(col("key").as("__hh_cand")).distinct()
    // pass 2: exact counts for the (metadata-sized) candidate set only;
    // null-safe equality so a null candidate key still matches (DuckDB's
    // GROUP BY counts the NULL group — so must we)
    df.join(broadcast(candidates), col(keyCol) <=> col("__hh_cand"),
        "left_semi")
      .groupBy(keyCol).agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(totals))
      .where(col("n") * capacity > col("n_total"))
      .select(col(keyCol), col("n"))
      .orderBy(col("n").desc, col(keyCol))
      .limit(k)
  }

  /** Benford first-digit census — the fabricated-data screen auditors run
    * on monetary columns (organic amounts follow log₁₀(1+1/d); uniform or
    * hand-entered numbers do not). Emits the observed count per leading
    * digit next to the Benford-expected count in EXACT integer micro-units
    * (expected = n · log₁₀(1+1/d), both factors computed identically from
    * int64 counts and 6-decimal literal logs — no engine-variant float
    * path), leaving the χ² to the consumer. One aggregate over per-row
    * digit math. */
  def benfordDigits(df: DataFrame, valueCol: String): DataFrame = {
    // leading digit via string head of the integral part: exact for the
    // positive decimals this screen applies to, no log10 on the data path.
    // The decimal(18,2) cast caps the integral part at 16 digits — values
    // >= 1e16 would overflow it to NULL under non-ANSI Spark while the
    // DuckDB oracle raises, so the range is part of the operator's contract
    // (enforced in the WHERE below, visible to the oracle)
    val d = substring(abs(col(valueCol)).cast("decimal(18,2)")
      .cast("string"), 1, 1).cast("int")
    // round(log10(1+1/d) * 1e6) for d = 1..9, precomputed as literals so
    // both engines multiply the same integers
    val benfordMicro = Seq(301030L, 176091L, 124939L, 96910L, 79181L,
      66947L, 57992L, 51153L, 45757L)
    val expect = element_at(array(benfordMicro.map(lit): _*), col("digit"))
    val counts = df
      .where(col(valueCol).isNotNull
        && abs(col(valueCol)) >= 1 && abs(col(valueCol)) < 1e16)
      .select(d.as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n_observed"))
    // n_total = Σ n_observed, as a window over the 9 post-aggregate rows —
    // ONE scan of the input (the earlier broadcast-crossJoin formulation
    // re-evaluated the filtered projection a second time)
    counts
      .select(col("digit"), col("n_observed"),
        (sum("n_observed").over(Window.partitionBy()) * expect)
          .as("expected_micro"))
      .orderBy("digit")
  }

  /** Count–Min sketch (Cormode & Muthukrishnan 2005) — the fixed-memory
    * frequency sketch that answers "how often did key X occur?" from
    * d·w integers regardless of key cardinality: d independent hash rows,
    * each key adds its count to one cell per row, the estimate is the MIN
    * over its d cells (always ≥ truth — one-sided error, which is the
    * checkable contract). Complements the existing exact heavy-hitter
    * (Misra–Gries) and cardinality (HLL) sketches in the family.
    *
    * The hashes are the cross-engine polynomial residues (mults
    * 31/37/131/137 over the two 31-bit primes) so the oracle rebuilds the
    * identical sketch; output = the `tracked` hottest tokens with their
    * exact count and CMS estimate, every value integer.
    *
    * Scale shape: one explode+groupBy for exact token counts (the sketch
    * is built from the count table, rows = vocab size, not corpus size);
    * the sketch itself is ≤ d·w rows after a (row, cell) groupBy; probes
    * broadcast-join the 4·tracked cells against it. */
  def cmsEstimate(documents: DataFrame, width: Int = 1024,
      tracked: Int = 10): DataFrame = {
    import graft.functions.GraftFunctions
    require(width >= 2 && tracked >= 1, s"bad CMS params: $width, $tracked")
    val params = Seq((31L, 2147483647L), (37L, 2147483629L),
      (131L, 2147483647L), (137L, 2147483629L))
    val tc = Spread.toCores(documents)
      .select(explode(graft.functions.GraftFunctions.tokens(col("text")))
        .as("token"))
      .groupBy("token").agg(count(lit(1)).as("n_true"))
    val withCells = tc.withColumn("cells", array(params.map { case (m, p) =>
      (GraftFunctions.polyResidue(col("token"), m, p) % width).cast("int")
    }: _*))
    val sketch = withCells
      .select(col("n_true"), posexplode(col("cells")).as(Seq("r", "cell")))
      .groupBy("r", "cell").agg(sum("n_true").as("c"))
    val trackedKeys = withCells
      .orderBy(col("n_true").desc, col("token")).limit(tracked)
    trackedKeys
      .select(col("token"), col("n_true"),
        posexplode(col("cells")).as(Seq("r", "cell")))
      .join(broadcast(sketch), Seq("r", "cell"))
      .groupBy("token", "n_true").agg(min(col("c")).as("n_cms"))
      .orderBy(col("n_true").desc, col("token"))
  }

  /** Equi-depth (equal-frequency) histogram — the statistic an optimizer's
    * selectivity estimator and a drift monitor both want: bucket bounds at
    * the value deciles, so every bucket holds ≈ the same row count and
    * skewed tails get resolution where equal-WIDTH buckets collapse.
    * Bounds are discrete percentiles (exact data values — the winsorize
    * discipline), tie rows go to the lower bucket, so bucket assignment is
    * exact integer comparison cross-engine. One bounds aggregate +
    * broadcast + one zero-shuffle bucketing pass. */
  def equidepthHist(orders: DataFrame, buckets: Int = 10): DataFrame = {
    require(buckets >= 2 && buckets <= 20, s"bad bucket count: $buckets")
    // Exact percentile_disc boundaries WITHOUT a single-task value buffer
    // (Rank.discPercentiles: rank-based order statistics, one range
    // shuffle) — B−1 percentile_disc sort-aggregates would each buffer
    // EVERY value of the column in one task: fine at sf0.1, an executor
    // OOM at 100 TB. Hash-parity with the DuckDB quantile_disc oracle
    // verified at sf0.001/0.01/0.1.
    val qs = 1 until buckets
    val bounds = Rank.discPercentiles(orders, Seq.empty, "o_totalprice",
      qs.map(i => (i, buckets)), qs.map(i => s"b${i - 1}"))
    val bucket = qs.indices
      .map(i => when(col("o_totalprice") > col(s"b$i"), 1).otherwise(0))
      .reduce(_ + _) + lit(1)
    orders.crossJoin(broadcast(bounds))
      .select(bucket.as("bucket"), col("o_totalprice"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_rows"),
        min("o_totalprice").as("lo"), max("o_totalprice").as("hi"))
      .orderBy("bucket")
  }

  /** k-anonymity census — the privacy audit a dataset release runs first:
    * group by the quasi-identifier columns and count groups smaller than
    * k, whose members are re-identifiable by those attributes alone
    * (Sweeney 2002). Output is the one-row summary (groups, violating
    * groups, rows at risk, smallest group). Pure aggregation — one
    * shuffle on the quasi-identifier key at any scale. */
  def kAnonymity(customer: DataFrame, k: Int = 5): DataFrame = {
    val g = customer.groupBy("c_nationkey", "c_mktsegment")
      .agg(count(lit(1)).as("n"))
    g.agg(lit(k).as("k"),
      count(lit(1)).as("n_groups"),
      count(when(col("n") < k, 1)).as("n_violating_groups"),
      coalesce(sum(when(col("n") < k, col("n"))), lit(0L))
        .as("n_rows_at_risk"),
      min("n").as("min_group_size"))
  }

  /** l-diversity census (Machanavajjhala et al. 2007) — k-anonymity's
    * necessary complement: a group can be k-large yet still leak if every
    * member shares the same SENSITIVE value. For each quasi-identifier
    * group (nation, segment), l = distinct sensitive values (account
    * balance banded to thousands — the generalization a release would
    * publish); the census reports groups below the l floor and the rows
    * they expose. One shuffle on the quasi-identifier key, one-row
    * summary — the kAnonymity shape. */
  def lDiversity(customer: DataFrame, l: Int = 3): DataFrame = {
    val g = customer
      .select(col("c_nationkey"), col("c_mktsegment"),
        floor(col("c_acctbal") / 1000).cast("int").as("band"))
      .groupBy("c_nationkey", "c_mktsegment")
      .agg(count(lit(1)).as("n"), countDistinct("band").as("l_div"))
    g.agg(lit(l).as("l"),
      count(lit(1)).as("n_groups"),
      count(when(col("l_div") < l, 1)).as("n_below_l"),
      coalesce(sum(when(col("l_div") < l, col("n"))), lit(0L))
        .as("n_rows_at_risk"),
      min("l_div").as("min_l"))
  }

  /** Median/MAD robust outlier census — the outlier detector that, unlike
    * the z-score, a single extreme value cannot blind (mean and stddev are
    * both unbounded-influence; median and median-absolute-deviation have
    * breakdown point ½ — Hampel's rule). Flags x with |x − median| >
    * k·MAD per group.
    *
    * Everything is exact order statistics (`percentile_disc` ↔ DuckDB
    * `quantile_disc`, the winsorize discipline): the medians are data
    * values read from the same parquet, the deviations are single IEEE
    * subtractions — no accumulation-order float risk anywhere, so the
    * doubles hash-match cross-engine. Two rank-based order-statistic
    * passes (median, then MAD-over-deviations — `Rank.discPercentiles`,
    * never a per-group value buffer); the per-group bounds broadcast
    * back. */
  def robustOutliers(orders: DataFrame, k: Int = 3): DataFrame = {
    // medians via rank-based order statistics (Rank.discPercentiles): an
    // order-priority group is ~a fifth of the table, and the per-group
    // percentile_disc sort-aggregate buffers all of it in one task
    // med is groups-bounded (5 rows) but costs a full ranking pass, and
    // TWO consumers read it (the MAD pass and the final census via dev) —
    // materialize once so the pass runs once, not per consumer. Eager
    // localCheckpoint, NOT persist: a cached relation inside dev's plan
    // would trip Rank.stableLocal's InMemoryRelation guard and force the
    // MAD pass to materialize its ENTIRE ranked frame (full-width
    // checkpoint of every order row) just to keep range bounds
    // consistent; an RDD-backed 5-row checkpoint keeps dev reuse-stable
    // and the MAD ranking fully lazy with one shared range exchange.
    val med = Rank.discPercentiles(orders, Seq("o_orderpriority"),
      "o_totalprice", Seq((1, 2)), Seq("med"))
      .transform(Materialize.once)
    val dev = orders.join(broadcast(med), "o_orderpriority")
      .withColumn("dev", abs(col("o_totalprice") - col("med")))
    val mad = Rank.discPercentiles(dev, Seq("o_orderpriority"), "dev",
      Seq((1, 2)), Seq("mad"))
    dev.join(broadcast(mad), "o_orderpriority")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"),
        min("med").as("med"),
        min("mad").as("mad"),
        count(when(col("dev") > lit(k) * col("mad"), 1)).as("n_outliers"))
      .orderBy("o_orderpriority")
  }
}
