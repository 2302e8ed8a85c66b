package graft.sources

import java.nio.file.Files
import java.util.Properties
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ops.{Parity, Star}

/** Source/sink surface beyond the parquet tables (SURVEY §2.1).
  *
  * The reference's sinks are Hadoop TSV part files (S4) and a row-at-a-time
  * MySQL JDBC loader with truncate-before-load (S5/S6,
  * `LoadStarDB.java:86-103, 202-217`). Engine equivalents are columnar,
  * partitioned writes; `Overwrite` subsumes the truncate step, and
  * `write.jdbc` batches + parameterizes what the reference string-built per
  * row (SQL injection by design there — `LoadStarDB.java:301-346`).
  *
  * The `s_*` gate round trips live here too, next to the writers they
  * exercise: each writes into scoped [[Scratch]] space (a run-unique dir,
  * Derby database or catalog tag), reads the sink back, and returns the
  * bounded result as a local frame, so the scratch is gone before the
  * gate returns.
  */
object Sinks {

  /** S4: TSV part files (`key TAB value...`), sorted for golden stability. */
  def writeTsv(df: DataFrame, path: String, coalesce: Int = 0): Unit = {
    val out = if (coalesce > 0) df.coalesce(coalesce) else df
    out.write.mode("overwrite").option("sep", "\t").option("header", "false").csv(path)
  }

  /** S3: the `DataFile.extractKeys` analog — read MR-style TSV part files,
    * keep column 0, distinct + sorted (the reference sorts at
    * `DataFile.java:55`). Explicit 1-column schema, not inference: PERMISSIVE
    * CSV keeps the first field and ignores the rest, so this skips the
    * whole-file inference pre-scan AND stays well-defined on an empty sink
    * dir (inference over zero data files finds no columns at all). */
  def readTsvKeys(spark: SparkSession, path: String): DataFrame =
    spark.read.option("sep", "\t")
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField(
          "key", org.apache.spark.sql.types.StringType))))
      .csv(path)
      .where(col("key").isNotNull)
      .distinct()
      .orderBy("key")

  /** Engine-native sink: partitioned parquet (Overwrite = S6 truncate). */
  def writeParquet(df: DataFrame, path: String, partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode("overwrite")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(path)
  }

  /** Bucketed table write: pre-partitions (and optionally pre-sorts) the
    * data by join key so repeated fact-fact joins on that key plan WITHOUT a
    * shuffle exchange — the storage-level co-location strategy for the
    * 100 TB fact tables (SortMergeJoin reads co-bucketed files directly;
    * verified shuffle-free in SinksSpec). */
  def writeBucketed(df: DataFrame, table: String, bucketColumn: String,
      numBuckets: Int, sortColumn: Option[String] = None): Unit = {
    val w = df.write.mode("overwrite").format("parquet")
      .bucketBy(numBuckets, bucketColumn)
    sortColumn.map(w.sortBy(_)).getOrElse(w).saveAsTable(table)
  }

  /** S5+S6: JDBC star-schema load, the `LoadStarDB` replacement. Overwrite
    * with `truncate=true` preserves the target DDL like the reference's
    * `truncate table`; `batchsize` replaces its autocommit row-at-a-time
    * inserts. Exercised end-to-end against embedded Derby in `SinksSpec`
    * (write + read-back + truncate semantics); parameters mirror
    * `LoadStarDB.main` (host/db/user/pass). */
  def writeJdbc(df: DataFrame, url: String, table: String, user: String,
      password: String, batchSize: Int = 10000): Unit = {
    val props = new Properties()
    props.setProperty("user", user)
    props.setProperty("password", password)
    df.write.mode("overwrite")
      .option("truncate", "true")
      .option("batchsize", batchSize.toString)
      .jdbc(url, table, props)
  }

  /** JSON-lines source format: the events slice written as json, read
    * back with an explicit schema (scan-friendly), counted per type. */
  def jsonRoundTrip(spark: SparkSession, sfDir: String): DataFrame =
    Scratch.withDir("graft_json_rt") { out =>
      val ev = Tables.events(spark, sfDir)
        .select("event_id", "event_type", "value")
      ev.write.mode("overwrite").json(out.toString)
      Scratch.collectLocal(spark.read.schema(ev.schema).json(out.toString)
        .groupBy("event_type").agg(count(lit(1)).as("n"))
        .orderBy("event_type"))
    }

  /** ORC source/sink: the second columnar format the engine speaks. */
  def orcRoundTrip(spark: SparkSession, sfDir: String): DataFrame =
    Scratch.withDir("graft_orc_rt") { out =>
      Tables.lineitem(spark, sfDir).select("l_returnflag", "l_quantity")
        .write.mode("overwrite").orc(out.toString)
      Scratch.collectLocal(spark.read.orc(out.toString)
        .groupBy("l_returnflag")
        .agg(sum(col("l_quantity").cast("decimal(12,2)"))
          .cast("decimal(18,2)").cast("double").as("sum_qty"))
        .orderBy("l_returnflag"))
    }

  /** S3/S4: per-type totals through the TSV sink, keys back through the
    * MR-output key reader. */
  def tsvRoundTrip(spark: SparkSession, sfDir: String): DataFrame =
    Scratch.withDir("graft_tsv_roundtrip") { out =>
      writeTsv(Parity.categoryTotals(Tables.events(spark, sfDir)),
        out.toString, 1)
      Scratch.collectLocal(readTsvKeys(spark, out.toString))
    }

  /** S5/S6 `LoadStarDB` parity (`LoadStarDB.java:86-103,202-217`): load
    * the category dim into a JDBC star schema (embedded Derby standing in
    * for the reference's MySQL), truncate-reload it (the S6 semantics),
    * read it back through the JDBC source. */
  def jdbcRoundTrip(spark: SparkSession, sfDir: String): DataFrame =
    Scratch.withDerby("graftgate") { url =>
      val dim = Star.dimCategory(Tables.orders(spark, sfDir))
      writeJdbc(dim, url, "category", "app", "app")
      // second write proves truncate-before-load keeps the DDL and replaces rows
      writeJdbc(dim, url, "category", "app", "app")
      val props = new Properties()
      props.setProperty("user", "app"); props.setProperty("password", "app")
      Scratch.collectLocal(spark.read.jdbc(url, "category", props)
        .select(col("category_id").cast("int").as("category_id"),
          col("name").cast("string").as("name"))
        .orderBy("category_id"))
    }

  /** [[writeBucketed]] gate: two co-bucketed warehouse tables joined and
    * aggregated — the storage-level co-location strategy for repeated
    * 100 TB fact joins (shuffle-freeness of the join is plan-asserted in
    * SinksSpec; the write→catalog-read→join→agg path is hash-oracled
    * here). Run-unique table names: two concurrent invocations in ONE JVM
    * must not collide on the catalog name, and a crash between write and
    * the drop must not poison the next run. */
  def bucketedJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val tag = Scratch.tag
    val tOrd = s"gate_b_orders_$tag"
    val tCus = s"gate_b_customer_$tag"
    try {
      writeBucketed(Tables.orders(spark, sfDir)
          .select("o_orderkey", "o_custkey", "o_totalprice"),
        tOrd, "o_custkey", 8, Some("o_custkey"))
      writeBucketed(Tables.customer(spark, sfDir)
          .select("c_custkey", "c_mktsegment"),
        tCus, "c_custkey", 8, Some("c_custkey"))
      Scratch.collectLocal(spark.table(tOrd)
        .join(spark.table(tCus), col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"),
          // decimal(28,2) intermediate: Spark's sum over decimal(12,2)
          // is decimal(22,2), so the widening cast can NEVER overflow —
          // the former decimal(18,2) narrowing diverged on overflow
          // (non-ANSI Spark → NULL, DuckDB → error) once a segment's
          // price sum crossed 10^16 (~4 orders above tested replicas)
          sum(col("o_totalprice").cast("decimal(12,2)"))
            .cast("decimal(28,2)").cast("double").as("sum_price"))
        .orderBy("c_mktsegment"))
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $tOrd")
      spark.sql(s"DROP TABLE IF EXISTS $tCus")
    }
  }

  /** [[writeParquet]] partitionBy gate: events written partitioned by
    * event_type, read back with a partition-column predicate, and the
    * executed plan REQUIRED to carry a non-empty PartitionFilters —
    * directory-level skipping is the storage layout that turns a 100 TB
    * scan into a per-partition one (plan shape is also asserted in
    * SinksSpec; the write→prune→agg round trip is hash-oracled here). */
  def partitionedPrune(spark: SparkSession, sfDir: String): DataFrame =
    Scratch.withDir("graft_gate_part") { dir =>
      val out = dir.toString
      val src = Tables.events(spark, sfDir)
        .select("event_id", "user_id", "event_type")
      writeParquet(src, out, Seq("event_type"))
      // explicit schema: an EMPTY partitioned write leaves a dir with no
      // partition directories, where schema inference has nothing to read
      val pruned = spark.read.schema(src.schema).parquet(out)
        .where(col("event_type").isin("click", "purchase"))
      // plan-shape requirement only when there ARE partition dirs to
      // prune (on an empty write event_type is not a partition column,
      // so the predicate correctly lands in data filters instead).
      // Using.resource: Files.list holds a directory handle until closed
      val hasParts = scala.util.Using.resource(Files.list(dir))(
        _.toArray.exists(_.toString.contains("event_type=")))
      if (hasParts) {
        val plan = pruned.queryExecution.executedPlan.toString
        val at = plan.indexOf("PartitionFilters: [")
        require(
          at >= 0 && plan.charAt(at + "PartitionFilters: [".length) != ']',
          s"partitioned read did not prune — PartitionFilters empty:\n$plan")
      }
      Scratch.collectLocal(pruned.groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("event_id").as("id_sum"))
        .orderBy("event_type"))
    }
}
