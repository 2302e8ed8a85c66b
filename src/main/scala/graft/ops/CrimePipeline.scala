package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructType, StructField, StringType}
import graft.functions.GraftFunctions._
import scala.jdk.CollectionConverters._

/** The reference pipeline itself, end to end, on crime-shaped CSV
  * (SURVEY.md §3): `SanFranciscoCrime` (weekly per-key histograms) and
  * `SanFranciscoCrimePrepOlap` (daily sparse triplets with dictionary ids),
  * re-expressed as declarative queries over one pruned, cached CSV scan.
  * Each job has one implementation, here: [[denseCounts]] builds every A2
  * histogram and [[dailyTriplets]] every A3 cell aggregate, and [[Parity]]
  * runs the same two over `events` through its role mapping.
  * As in `runmapreduce.sh`, job 2 takes its dictionaries from job 1's
  * outputs: the histogram keys, in output order, are the id spaces. Each
  * output costs one aggregate shuffle and is sorted by the one task that
  * writes it — no range-partitioned global sort — as each reference job
  * sorts once, in the shuffle that feeds its single reducer.
  *
  * Semantics intentionally preserved from the reference:
  *   - positional 12-column schema, all strings
  *     (`MapReduceJobBase.java:40-55`);
  *   - quoted fields with embedded commas (opencsv at `DataFile.java:65-70`
  *     → Spark's CSV reader with quote handling);
  *   - header + malformed rows dropped, not nulled
  *     (`SanFranciscoCrime.java:79-99` → header option + explicit filters;
  *     `try_to_date` nulls unparseable dates, then filtered — the engine's
  *     ANSI-safe analog of the reference's catch-ParseException-and-skip);
  *   - week buckets `Calendar.MONTH * 5 + WEEK_OF_MONTH`, dense 0..16
  *     (bucket 16 = the week-6 aliasing edge the reference half-handles,
  *     SURVEY §2.3-A2 — emitted explicitly here);
  *   - dictionary ids = 0-based sorted rank (`DataFile.java:55`);
  *   - output sorted by key, dense CSV vector / sparse triplet shapes
  *     matching `part-00000` (the star triplets sorted on one long key
  *     that orders them as (date, category id, district id)).
  *
  * Deliberately narrower than the reference: the weekly histograms count
  * buckets 0..16 only. An incident dated April–December (bucket 17 and up)
  * is in `star` but in no histogram, while the reference's `containsKey`
  * else-branch (`SanFranciscoCrime.java:183-187`) would emit its bucket
  * too. Both oracles pin 17 buckets (ROADMAP open item).
  */
object CrimePipeline {

  /** Positional schema of the SF OpenData incident CSV. */
  val schema: StructType = StructType(Seq(
    "IncidntNum", "Category", "Descript", "DayOfWeek", "Date", "Time",
    "PdDistrict", "Resolution", "Address", "X", "Y", "Location")
    .map(StructField(_, StringType, nullable = true)))

  /** S1+S2+P3: CSV scan with quote handling and header dropped, every data
    * row tagged with a `bad_reason` column — null for clean rows, else the
    * first failing validity rule. The reference LOGS each dropped malformed
    * row (`SanFranciscoCrime.java:91-99`) rather than silently skipping;
    * this is the columnar side channel for that: one scan serves both the
    * clean pipeline ([[readCrimeCsv]]) and the dropped-row audit
    * ([[badRecords]]) — at scale the audit is a filter over the same
    * pruned scan, not a second parse. */
  def readCrimeCsvTagged(spark: SparkSession, path: String): DataFrame =
    spark.read
      .option("header", "true")
      .option("quote", "\"")
      .option("escape", "\"")
      .schema(schema)
      .csv(path)
      .withColumn("incident_date",
        try_to_date(split(col("Date"), " ").getItem(0), "MM/dd/yyyy"))
      .withColumn("bad_reason",
        when(col("Category").isNull, "missing_category")
          .when(col("PdDistrict").isNull, "missing_district")
          .when(col("incident_date").isNull, "bad_date"))

  /** P4: the clean rows (malformed dropped, as the reference's
    * catch-ParseException-and-skip path does). */
  def readCrimeCsv(spark: SparkSession, path: String): DataFrame =
    readCrimeCsvTagged(spark, path)
      .where(col("bad_reason").isNull).drop("bad_reason")

  /** P4 side output: the dropped rows with their reason — the engine's
    * badRecordsPath-style accounting for the reference's per-row skip log.
    */
  def badRecords(spark: SparkSession, path: String): DataFrame =
    readCrimeCsvTagged(spark, path)
      .where(col("bad_reason").isNotNull).drop("incident_date")

  /** A2 / `ReduceByWeek`: dense weekly histogram per key column over buckets
    * 0..16 (reference pre-zeroes 0..15 and leaks 16 on 6-week months).
    * Output: (key, c0..c16) sorted by key — the `part-00000` row shape. */
  def weeklyCounts(crime: DataFrame, keyColumn: String): DataFrame =
    denseCounts(crime, col(keyColumn), "key", month_week_bucket(col("incident_date")),
      (0 to 16).map(b => b -> s"c$b"))

  /** The one dense-count builder behind every A2 histogram: one row per
    * `key` value (named `keyName`) and, for each (bin value, column name)
    * in `bins`, the count of that key's rows whose `bin` equals the value.
    * A count is 0, never absent, so the schema is static, and a key whose
    * rows all miss `bins` (or have a null `bin`) keeps its all-zero row.
    * One aggregate of conditional counts (a `pivot` plans two), sorted by
    * the one task that reads it: a histogram has one row per key and the
    * keys are bounded, as at the reference's single reducer. */
  def denseCounts(rows: DataFrame, key: Column, keyName: String, bin: Column,
      bins: Seq[(Any, String)]): DataFrame = {
    val counts = bins.map { case (v, name) => count(when(col("bin") === v, 1)).as(name) }
    rows
      .select(key.as(keyName), bin.as("bin"))
      .groupBy(keyName)
      .agg(counts.head, counts.tail: _*)
      .coalesce(1)
      .sortWithinPartitions(keyName)
  }

  /** The star output's sort key: (day, catIdx, distIdx) packed into one
    * long, `(unix_date(day) * nCats + catIdx) * nDists + distIdx`. For
    * `0 <= catIdx < nCats` and `0 <= distIdx < nDists` it orders exactly as
    * the triple, days before 1970 (negative `unix_date`) included; ANSI
    * arithmetic throws rather than wraps. A single long key is one that
    * Spark's sort orders by its prefix alone (the radix path). */
  def dayCellKey(day: Column, catIdx: Column, distIdx: Column,
      nCats: Int, nDists: Int): Column =
    (unix_date(day).cast("long") * nCats + catIdx) * nDists + distIdx

  /** A3 / `SanFranciscoCrimePrepOlap`: sparse daily (catIdx, distIdx, count)
    * triplets, one per non-zero (incident_date, Category, PdDistrict) cell.
    * The ids come from the dictionary frames `categories` (Category,
    * cat_idx) and `districts` (PdDistrict, dist_idx), 0-based, joined as
    * broadcasts after the aggregate (the reference's static-HashMap side
    * input made cluster-safe); a cell whose key has no id is dropped. The
    * aggregate groups on the date itself, and `d`, its `yyyy/MM/dd` string,
    * is formatted once per output row. Output: (d, cat_idx, dist_idx, n,
    * incident_date), unsorted — each caller sorts on the date. */
  def dailyTriplets(crime: DataFrame, categories: DataFrame,
      districts: DataFrame): DataFrame =
    crime
      .groupBy("incident_date", "Category", "PdDistrict")
      .agg(count(lit(1)).as("n"))
      .join(broadcast(categories), "Category")
      .join(broadcast(districts), "PdDistrict")
      .select(date_format(col("incident_date"), "yyyy/MM/dd").as("d"),
        col("cat_idx"), col("dist_idx"), col("n"), col("incident_date"))

  /** S4: the reference's TSV sink shape — `key TAB v1,v2,...` text rows. */
  def toTsv(df: DataFrame, keyColumn: String): DataFrame = {
    val valueCols = df.columns.toIndexedSeq.filterNot(_ == keyColumn).map(col)
    df.select(concat_ws("\t", col(keyColumn), concat_ws(",", valueCols: _*)).as("line"))
  }

  /** Whole job-1 + job-2 run to TSV files, mirroring `runmapreduce.sh`,
    * with one aggregate shuffle per output. One cached scan of the five
    * columns the outputs read feeds all four (the reference re-scans the
    * CSV per job). Each weekly histogram is collected once — one row per
    * key, the bound the reference's PrepOlap also holds in memory — and
    * written from the driver; its keys, in the order Spark sorted them, are
    * job 2's dictionaries. They are not re-sorted on the driver: Spark orders
    * strings by UTF-8 bytes, Scala's `String` ordering by UTF-16 units, and
    * the two differ; their output positions are the ids. The star lines are
    * formatted in the parallel stage after the aggregate; the one writer
    * task only sorts them on one long key, `day_key` ([[dayCellKey]]), and
    * writes them. */
  def runAll(spark: SparkSession, csvPath: String, outDir: String): Unit = {
    val scan = readCrimeCsvTagged(spark, csvPath)
      .select("IncidntNum", "Category", "PdDistrict", "incident_date", "bad_reason")
    Materialize.during(scan) { tagged =>
      val crime = tagged.where(col("bad_reason").isNull).drop("bad_reason")
      // job 1 for one key column: writes its TSV, returns its keys
      def histogram(keyColumn: String, dir: String): Seq[String] = {
        val hist = weeklyCounts(crime, keyColumn)
        val rows = hist.collect().toSeq
        toTsv(spark.createDataFrame(rows.asJava, hist.schema), "key")
          .coalesce(1).write.mode("overwrite").text(dir)
        rows.map(_.getString(0))
      }
      val categories = histogram("Category", s"$outDir/bycategory")
      val districts = histogram("PdDistrict", s"$outDir/bydistrict")
      import spark.implicits._
      dailyTriplets(crime, categories.zipWithIndex.toDF("Category", "cat_idx"),
          districts.zipWithIndex.toDF("PdDistrict", "dist_idx"))
        .select(dayCellKey(col("incident_date"), col("cat_idx"), col("dist_idx"),
            categories.size, districts.size).as("day_key"),
          concat_ws("\t", col("d"),
            concat_ws(",", col("cat_idx"), col("dist_idx"), col("n"))).as("line"))
        .repartition(1)
        .sortWithinPartitions("day_key")
        .select("line")
        .write.mode("overwrite").text(s"$outDir/star")
      // dropped-row audit (the reference logs every skipped malformed row)
      tagged.where(col("bad_reason").isNotNull)
        .select(col("IncidntNum"), col("bad_reason"))
        .coalesce(1).write.mode("overwrite").option("sep", "\t")
        .csv(s"$outDir/badrecords")
    }
  }
}
