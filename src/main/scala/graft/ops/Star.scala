package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.plans.Natives

/** Star-schema ETL + OLAP queries (SURVEY.md §2.1-S5/S6, §2.3-A5, §3.3).
  *
  * Reference (`LoadStarDB.java`, `starschema.sql`): dims `category`,
  * `district`, `timeperiod(year, month, week, day)`; fact
  * `(crimes, district_id, category_id, time_id)`. On TESTDATA the star is
  * built from `orders` (fact source, `o_orderdate` ↔ incident date,
  * `o_orderpriority` ↔ Category) joined through `customer` → `nation`
  * (`n_name` ↔ PdDistrict).
  *
  * Scale design: dims are tiny by construction (priorities ≈ 5, nations = 25,
  * distinct dates ≈ 2.4k) so every dim join is an explicit `broadcast` — the
  * fact table never shuffles for id assignment. The reference's row-at-a-time
  * JDBC insert path becomes a single columnar write.
  */
object Star {

  /** Orders with the district analog resolved: two broadcast joins. */
  def ordersWithDistrict(orders: DataFrame, customer: DataFrame, nation: DataFrame): DataFrame =
    orders
      .join(broadcast(customer.select("c_custkey", "c_nationkey")),
        orders("o_custkey") === col("c_custkey"))
      .join(broadcast(nation.select("n_nationkey", "n_name")),
        col("c_nationkey") === col("n_nationkey"))

  /** Category dimension: 1-based sorted-rank ids (LoadStarDB.java:186-195),
    * built by the bounded one-task [[Parity.dictionary]]. */
  def dimCategory(orders: DataFrame): DataFrame =
    Parity.dictionary(orders, "o_orderpriority", "category_id", "name")

  /** District dimension over nation names. */
  def dimDistrict(nation: DataFrame): DataFrame =
    Parity.dictionary(nation, "n_name", "district_id", "name")

  /** Time dimension: distinct order dates decomposed to
    * (year, month, week-of-month, day) — the `timeperiod` table
    * (starschema.sql:2-6). The reference assigns `time_id` by first-seen file
    * order (nondeterministic); here it is the date's sorted rank —
    * deterministic, documented delta (SURVEY.md §3.3). Months are 1-based
    * (documented delta from the reference's raw Calendar.MONTH persistence).
    */
  def dimTime(orders: DataFrame): DataFrame = {
    // native week_of_month (graft.plans.WeekOfMonth): equal to the column
    // formula (ExpressionsSpec) and, unlike it, non-null on a non-null date
    Parity.dictionary(
        orders.select(to_date(col("o_orderdate")).as("d")), "d", "time_id", "d")
      .select(
        col("time_id"), col("d"),
        year(col("d")).as("year"),
        month(col("d")).as("month"),
        Natives.weekOfMonth(col("d")).as("week"),
        dayofmonth(col("d")).as("day"))
      .orderBy("time_id")
  }

  /** The fact table: counts per (date, category, district) with surrogate ids
    * from the dims — `fact(crimes, district_id, category_id, time_id)`.
    * Aggregates FIRST (shrinking to cube cardinality), then broadcast-joins
    * ids onto the aggregate — the fact-source scan shuffles exactly once.
    * (The sum reports aggregate straight from the source instead; see
    * [[sumByCategory]].)
    *
    * The dictionaries come from their own single-column scans of the
    * source, deliberately: deriving them from the post-join aggregate
    * dedupes the scan on paper, but each dictionary branch prunes the
    * aggregate sub-plan differently, so ReuseExchange cannot share one
    * shuffle and the whole join+aggregate runs once per branch (measured
    * +0.7 s on star_fact at sf0.1). A pruned one-column scan + distinct
    * reads only that column's bytes in any columnar format — that IS the
    * cheap path at 100 TB. */
  def fact(orders: DataFrame, customer: DataFrame, nation: DataFrame): DataFrame = {
    val src = ordersWithDistrict(orders, customer, nation)
      .select(
        to_date(col("o_orderdate")).as("d"),
        col("o_orderpriority").as("category"),
        col("n_name").as("district"))
    val agg = src.groupBy("d", "category", "district").agg(count(lit(1)).as("crimes"))
    val catDict = dimCategory(orders)
    val distDict = dimDistrict(nation)
    val timeDict = Parity.dictionary(
      orders.select(to_date(col("o_orderdate")).as("d")), "d", "time_id", "td")
    agg
      .join(broadcast(catDict), agg("category") === col("name"))
      .drop("name")
      .join(broadcast(distDict), agg("district") === col("name"))
      .drop("name")
      .join(broadcast(timeDict), agg("d") === col("td"))
      .select("crimes", "district_id", "category_id", "time_id")
      .orderBy("time_id", "category_id", "district_id")
  }

  /** A5 / bycategory.mdx: sum of the measure by category for one year slice —
    * the Mondrian-generated star query, planned aggregate-first.
    *
    * The year predicate is applied to the fact SOURCE by hand: Catalyst
    * cannot push a filter on `dimTime.year` back through the fact build
    * (the dictionary's nondeterministic id projection is a pushdown
    * barrier), so filtering `orders` first is the manual equivalent — the
    * aggregate then sees only the slice (7× less input on TESTDATA's
    * seven-year span).
    *
    * Aggregate-first: the fact source collapses straight to |categories|
    * rows, then the (broadcast, 5-row) dimension resolves the canonical dim
    * rows. Building the full (date × category × district) cell grid with
    * all three surrogate ids — as [[fact]] does for the ETL — only to sum
    * it back down would add a 3-key shuffle, an unused time-dictionary
    * build, and a name→id→name round trip for the identical result. */
  def sumByCategory(orders: DataFrame, customer: DataFrame, nation: DataFrame,
      yearSlice: Int): DataFrame = {
    val ordersY = orders.where(Relational.inYear(col("o_orderdate"), yearSlice))
    val catDict = dimCategory(ordersY) // 5-row broadcast dim
    ordersY.select(col("o_orderpriority").as("name"))
      .groupBy("name")
      .agg(count(lit(1)).as("crimes"))
      .join(broadcast(catDict), "name")
      .select("name", "crimes")
      .orderBy("name")
  }

  /** A5 / bydistrict.mdx analog: by district for one year slice —
    * aggregate-first like [[sumByCategory]]; the district attribute needs
    * the two broadcast dim joins to resolve before grouping. */
  def sumByDistrict(orders: DataFrame, customer: DataFrame, nation: DataFrame,
      yearSlice: Int): DataFrame = {
    val ordersY = orders.where(Relational.inYear(col("o_orderdate"), yearSlice))
    val distDict = dimDistrict(nation) // 25-row broadcast dim
    ordersWithDistrict(ordersY, customer, nation)
      .select(col("n_name").as("name"))
      .groupBy("name")
      .agg(count(lit(1)).as("crimes"))
      .join(broadcast(distDict), "name")
      .select("name", "crimes")
      .orderBy("name")
  }

  /** Mondrian Time-hierarchy totals (sfcrime.xml:18-26): rollup over
    * year > month > week > day with `grouping_id` disambiguating the "All"
    * members — subtotal rows the reference's cube computes at MDX time. */
  def rollupTime(orders: DataFrame): DataFrame =
    orders
      .select(
        year(col("o_orderdate")).as("year"),
        month(col("o_orderdate")).as("month"),
        Natives.weekOfMonth(to_date(col("o_orderdate"))).as("week"),
        dayofmonth(col("o_orderdate")).as("day"))
      .rollup("year", "month", "week", "day")
      .agg(count(lit(1)).as("crimes"), grouping_id().as("gid"))
      .orderBy(col("gid"), col("year"), col("month"), col("week"), col("day"))

  /** Explicit GROUPING SETS — the two one-dimensional marginals in one pass
    * (what Mondrian issues for the two MDX reports together), without the
    * (category, district) fine cells `cube` would also produce. */
  def marginals(orders: DataFrame, customer: DataFrame, nation: DataFrame): DataFrame = {
    val agg = ordersWithDistrict(orders, customer, nation)
      .select(
        col("o_orderpriority").as("category"),
        col("n_name").as("district"))
      .groupingSets(
        Seq(Seq(col("category")), Seq(col("district"))),
        col("category"), col("district"))
      .agg(count(lit(1)).as("n"), grouping_id().as("gid"))
    agg.orderBy(agg("gid"), agg("category"), agg("district"))
  }

  /** Category × District cube with All-member totals (cube = the four MDX
    * axis combinations at once), plus an exact-decimal measure sum. */
  def cubeCategoryDistrict(orders: DataFrame, customer: DataFrame, nation: DataFrame): DataFrame = {
    val agg = ordersWithDistrict(orders, customer, nation)
      .select(
        col("o_orderpriority").as("category"),
        col("n_name").as("district"),
        col("o_totalprice").cast("decimal(18,2)").as("price"))
      // cube(Column*) with unresolved col() refs: the cube(String*) overload
      // eagerly resolves to dataset-tagged attributes, which trips
      // DetectAmbiguousSelfJoin when the child plan contains joins
      .cube(col("category"), col("district"))
      .agg(
        count(lit(1)).as("n"),
        // exact decimal sum internally; DOUBLE at the output boundary (the
        // driver compares representations — see Relational's scaladoc)
        sum("price").cast("decimal(18,2)").cast("double").as("total_price"),
        grouping_id().as("gid"))
    agg.orderBy(agg("gid"), agg("category"), agg("district"))
  }

  /** SCD2 (type-2 slowly-changing dimension) build — the warehouse-ETL step
    * the reference's star schema implies but its LoadStarDB never grew:
    * turn an event stream of per-key attribute observations into validity
    * intervals. Consecutive equal states are run-length compressed (a
    * re-observation of the same state extends the interval, it does not
    * split it); `valid_to` is the next change's timestamp, NULL marks the
    * current row.
    *
    * Scale: both window passes partition by the key (bounded by one entity's
    * history, never a constant fraction of the corpus), and the second pass
    * reuses the first's shuffle — one exchange total. */
  def scd2(events: DataFrame, keyCol: String, tsCol: String,
      attrCol: String, tiebreakCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(keyCol).orderBy(col(tsCol), col(tiebreakCol))
    events
      .select(col(keyCol), col(attrCol).as("state"), col(tsCol), col(tiebreakCol))
      .withColumn("_prev", lag("state", 1).over(w))
      .where(col("_prev").isNull || col("_prev") =!= col("state"))
      .withColumn("valid_to", lead(col(tsCol), 1).over(w))
      .select(col(keyCol), col("state"), col(tsCol).as("valid_from"),
        col("valid_to"), col("valid_to").isNull.as("is_current"))
      .orderBy(keyCol, "valid_from")
  }

  /** Point-in-time (as-of) dimension lookup against an SCD2 history: for
    * each fact row, find the dimension version whose validity interval
    * `[valid_from, valid_to)` covers the fact's timestamp — the lookup every
    * warehouse reprocessing job runs against a slowly-changing dimension.
    *
    * Shape at 100 TB: the join is a plain EQUI-join on the dimension key
    * (facts shuffle on the key they'd shuffle on anyway); the interval
    * predicate is a post-join filter over the handful of versions each key
    * has — never a nested-loop range join. Intervals partition each key's
    * timeline, so at most one version survives per fact row; facts earlier
    * than the key's first version (possible when the fact stream starts
    * before the dimension's) drop out like any dimension miss. */
  def scd2Lookup(facts: DataFrame, dim: DataFrame, keyCol: String,
      tsCol: String): DataFrame =
    facts
      .join(dim, Seq(keyCol))
      .where(col("valid_from") <= col(tsCol) &&
        (col("valid_to").isNull || col(tsCol) < col("valid_to")))

  /** CDC merge / upsert (SCD1, latest-wins) without a table format: fold a
    * change set into a base snapshot, reporting per key whether the merge
    * inserted, updated, or kept the row — MERGE INTO semantics as a pure
    * DataFrame operator.
    *
    * Both sides reduce to one row per key FIRST (partial-aggregated
    * `max_by` over a (ts, tiebreak) struct — deterministic under ties), so
    * the full-outer join moves snapshots, not histories. At 100 TB the join
    * shuffles on the key, which is exactly what MERGE on a key demands. */
  def mergeUpsert(base: DataFrame, changes: DataFrame, keyCol: String,
      tsCol: String, tiebreakCol: String, attrCols: Seq[String]): DataFrame = {
    def latest(df: DataFrame) = df
      .groupBy(keyCol)
      .agg(expr(s"max_by(struct(${(attrCols :+ tsCol).mkString(", ")}), " +
        s"struct($tsCol, $tiebreakCol))").as("_r"))
      .select(col(keyCol) +: (attrCols :+ tsCol).map(c => col(s"_r.$c")): _*)
    val b = latest(base).as("b")
    val c = latest(changes).as("c")
    b.join(c, Seq(keyCol), "full_outer")
      .select(
        col(keyCol) +:
          (attrCols :+ tsCol).map(a =>
            coalesce(col(s"c.$a"), col(s"b.$a")).as(a)) :+
          when(col(s"b.$tsCol").isNull, "insert")
            .when(col(s"c.$tsCol").isNull, "keep")
            .otherwise("update").as("op"): _*)
      .orderBy(keyCol)
  }
}
