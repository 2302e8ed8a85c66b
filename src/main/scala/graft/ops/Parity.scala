package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions._
import graft.plans.Natives

/** Reference-parity operators (SURVEY.md §2.1-§2.3), re-expressed Spark-first
  * over the TESTDATA tables. The role mapping (FIXTURES.md §A): `events.ts` ↔
  * incident Date, `event_type` ↔ Category, `user_id % 10` ↔ PdDistrict.
  *
  * The two reference jobs are not implemented twice: the A2 histograms call
  * [[CrimePipeline.denseCounts]] and the A3 daily cube with ids calls
  * [[CrimePipeline.dailyTriplets]], over `events` in those roles.
  *
  * Every function is DataFrame-in/DataFrame-out and purely declarative so
  * Catalyst plans the whole pipeline (scan-level column pruning, partial
  * aggregation before the shuffle, broadcast dictionary joins).
  */
object Parity {

  /** The district analog: 10 synthetic "districts" from user_id buckets. */
  def districtOf(userId: Column): Column =
    concat(lit("D"), lpad(pmod(userId, lit(10)).cast("string"), 2, "0"))

  /** A2 (`SanFranciscoCrime.ReduceByWeek`, SanFranciscoCrime.java:154-210):
    * weekly incident-count histogram per key over week-of-month `buckets`,
    * dense (absent buckets count 0): (keyName, w<b>...) sorted by key. */
  def weeklyHistogram(events: DataFrame, key: Column, keyName: String,
      buckets: Seq[Int]): DataFrame =
    CrimePipeline.denseCounts(events, key, keyName,
      Natives.weekOfMonth(to_date(col("ts"))), buckets.map(b => b -> s"w$b"))

  /** The reference's declared-but-never-wired day-of-week mappers
    * (`CategoryMapByDotw`/`DistrictMapByDotw`, SanFranciscoCrime.java:110-126,
    * SURVEY §2.3 "unused-but-present"): histogram per key over day names. */
  def dotwHistogram(events: DataFrame, key: Column, keyName: String): DataFrame =
    CrimePipeline.denseCounts(events, key, keyName, date_format(col("ts"), "EEEE"),
      Seq("Monday", "Tuesday", "Wednesday", "Thursday", "Friday", "Saturday",
        "Sunday").map(d => d -> d.toLowerCase))

  /** A2 in long (sparse) form: (key, bucket, n), non-zero cells only — the
    * form that scales to arbitrary bucket domains at 100 TB. */
  def weeklyHistogramLong(events: DataFrame, key: Column, keyName: String): DataFrame =
    events
      .select(key.as(keyName), month_week_bucket(to_date(col("ts"))).as("bucket"))
      .groupBy(col(keyName), col("bucket"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col(keyName), col("bucket"))

  /** A3 (`SanFranciscoCrimePrepOlap.Reduce`, :155-206): daily
    * date × category × district counts, naturally sparse — `groupBy.count`
    * produces only non-zero cells, exactly like the reference's non-zero
    * triplet emission. */
  def dailyCube(events: DataFrame): DataFrame =
    events
      .select(
        to_date(col("ts")).as("d"),
        col("event_type"),
        districtOf(col("user_id")).as("district"))
      .groupBy("d", "event_type", "district")
      .agg(count(lit(1)).as("n"))
      .orderBy("d", "event_type", "district")

  /** A4 (`categoryTotals.awk`): group-by-count of categories, ordered. */
  def categoryTotals(events: DataFrame): DataFrame =
    events.groupBy("event_type").agg(count(lit(1)).as("n")).orderBy("event_type")

  /** A6 (`DataFile.extractKeys` + `LoadStarDB.setup`): distinct values of a
    * column, sorted, with 1-based dense ids = sorted rank. The reference
    * assigns dictionary ids by sorted insertion order; a sorted single-pass
    * index reproduces that deterministically.
    *
    * Scale note: the id pass is single-partition by design — valid only for
    * dimension-cardinality inputs (5 priorities, 25 nations, ~2.4k dates
    * here; the distinct() shuffle reduces to that before the index pass sees
    * it). The id is a codegen projection: in the one partition (index 0)
    * `monotonically_increasing_id()` is the row's 0-based position. Being
    * nondeterministic, that projection also keeps `EliminateSorts` from
    * dropping the sort when the dictionary feeds a broadcast join (the
    * barrier [[Rank]]'s rankedParts relies on too). A high-cardinality key
    * wants hash ids or [[Rank.groupRanks]] instead; this operator matches
    * the reference's bounded sorted-rank contract.
    */
  def dictionary(df: DataFrame, column: String, idName: String, nameName: String): DataFrame =
    // coalesce, not repartition: a narrow merge of the distinct's output
    // partitions into the one id-assignment task — no extra exchange round
    // (measured ~0.2 s per dictionary in stage overhead). No trailing
    // orderBy either: the single output partition is emitted already
    // sorted; query-boundary callers that EXPOSE a dictionary add their own
    // explicit sort (driver rule: total ORDER BY at the output boundary),
    // while plan-internal callers (broadcast dim joins) would pay a range
    // exchange for nothing.
    df.select(col(column).as(nameName))
      .where(col(nameName).isNotNull)
      .distinct()
      .coalesce(1)
      .sortWithinPartitions(col(nameName))
      .select((monotonically_increasing_id() + 1).cast("int").as(idName), col(nameName))

  /** P5 (`MapReduceJobBase.getKeyDate`/`formatKey`): normalize a timestamp to
    * the reference's `yyyy/MM/dd` sort-stable string key. */
  def dateNormalize(events: DataFrame): DataFrame =
    events
      .select(col("event_id"), date_format(col("ts"), "yyyy/MM/dd").as("d"))
      .orderBy("event_id")

  /** A3 + A6 composed: the OLAP-prep job's full output — daily counts keyed
    * by 0-based dictionary ids rather than names
    * (SanFranciscoCrimePrepOlap.java:161-205), sorted on (date, cat_idx,
    * dist_idx). `events` in the crime roles run through
    * [[CrimePipeline.dailyTriplets]]; the ids are [[dictionary]]'s sorted
    * rank, shifted to 0-based.
    */
  def dailyCubeIndexed(events: DataFrame): DataFrame = {
    val crime = events.select(to_date(col("ts")).as("incident_date"),
      col("event_type").as("Category"), districtOf(col("user_id")).as("PdDistrict"))
    // each dictionary from its own one-column scan, NOT from the aggregate:
    // deriving them from it looks cheaper (no second scan) but each branch
    // prunes the aggregate differently, so Spark cannot reuse one exchange
    // across the three and the scan+shuffle runs three times (measured
    // +0.7 s on this query at sf0.1)
    def ids(column: String, idx: String): DataFrame =
      dictionary(crime, column, "id", column).select(col(column), (col("id") - 1).as(idx))
    CrimePipeline.dailyTriplets(crime, ids("Category", "cat_idx"),
        ids("PdDistrict", "dist_idx"))
      .orderBy("incident_date", "cat_idx", "dist_idx")
      .drop("incident_date")
  }
}
