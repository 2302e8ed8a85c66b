package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sources.{Scratch, Sinks}

class SinksSpec extends AnyFunSuite {
  import TestSpark.spark

  test("TSV sink + MR-output key reader roundtrip (S3/S4)") {
    Scratch.withDir("graft_sinks_spec_tsv") { dir =>
      val out = dir.toString
      val totals = ops.Parity.categoryTotals(Tables.events(spark, TestSpark.sf0001))
      Sinks.writeTsv(totals, out, coalesce = 1)
      val keys = Sinks.readTsvKeys(spark, out).collect().map(_.getString(0)).toSeq
      val want = totals.select("event_type").collect().map(_.getString(0)).sorted.toSeq
      assert(keys == want)
    }
  }

  test("JDBC star-schema round-trip against embedded Derby (S5/S6)") {
    // in-memory Derby: the JDBC path end-to-end (DDL, batched inserts,
    // truncate-before-load) without filesystem or network state. Derby has
    // no auth by default — user/password exercise the property plumbing.
    val url = "jdbc:derby:memory:graftstar;create=true"
    val props = new java.util.Properties()
    val d = TestSpark.sf0001
    val orders = Tables.orders(spark, d)
    val nation = Tables.nation(spark, d)
    val customer = Tables.customer(spark, d)
    val dimCat = ops.Star.dimCategory(orders)
    val dimDist = ops.Star.dimDistrict(nation)
    val fact = ops.Star.fact(orders, customer, nation)
    Sinks.writeJdbc(dimCat, url, "dim_category", "app", "app")
    Sinks.writeJdbc(dimDist, url, "dim_district", "app", "app")
    Sinks.writeJdbc(fact, url, "fact_crime", "app", "app")
    def readBack(table: String) = spark.read.jdbc(url, table, props)
    assert(readBack("dim_category").count() == dimCat.count())
    assert(readBack("dim_district").count() == dimDist.count())
    assert(readBack("fact_crime").count() == fact.count())
    // star join over the JDBC-read tables reproduces the parquet-side totals
    def starTotals(f: org.apache.spark.sql.DataFrame,
        dim: org.apache.spark.sql.DataFrame) =
      f.join(dim, "category_id").groupBy("name").agg(sum("crimes").as("crimes"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(starTotals(readBack("fact_crime"), readBack("dim_category")) ==
      starTotals(fact, dimCat))
    // truncate-before-load (S6): a second overwrite with a subset must
    // REPLACE the rows (reference: LoadStarDB's `truncate table` step)
    val subset = dimCat.limit(2)
    Sinks.writeJdbc(subset, url, "dim_category", "app", "app")
    assert(readBack("dim_category").count() == 2)
  }

  test("streaming foreachBatch JDBC append: batches accumulate with batch ids") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val url = "jdbc:derby:memory:graftstream;create=true"
    val props = new java.util.Properties()
    val src = MemoryStream[(Long, String)](spark)
    val q = graft.streaming.Streaming.jdbcAppendSink(
        src.toDF().toDF("event_id", "event_type"),
        url, "fact_stream", "app", "app")
      .start()
    try {
      src.addData((1L, "click"), (2L, "view"))
      q.processAllAvailable()
      src.addData((3L, "click"))
      q.processAllAvailable()
      val got = spark.read.jdbc(url, "fact_stream", props).collect()
        .map(r => (r.getLong(r.fieldIndex("event_id")),
          r.getLong(r.fieldIndex("batch_id")))).toSet
      assert(got == Set((1L, 0L), (2L, 0L), (3L, 1L)))
    } finally q.stop()
  }

  test("JDBC sink replay under retry: same batch_id re-appends, id-aware read is exactly-once") {
    // Crash-retry contract of jdbcAppendSink: the foreachBatch commit to
    // the checkpoint happens AFTER the JDBC write, so a crash between the
    // two replays the batch on restart — re-appending the SAME rows under
    // the SAME batch_id. Simulate exactly that window by deleting the
    // checkpoint's commit marker after a clean run, then restarting from
    // the checkpoint: the engine re-executes batch 0 verbatim.
    val url = "jdbc:derby:memory:graftretry;create=true"
    val props = new java.util.Properties()
    Scratch.withDir("graft_retry") { dir =>
      val srcDir = dir.resolve("src").toString
      val ck = dir.resolve("ck").toString
      import spark.implicits._
      val input = Seq((1L, "click"), (2L, "view"), (3L, "click"))
      input.toDF("event_id", "event_type").write.mode("append").parquet(srcDir)
      def start() = graft.streaming.Streaming.jdbcAppendSink(
          spark.readStream
            .schema("event_id LONG, event_type STRING").parquet(srcDir),
          url, "fact_retry", "app", "app")
        .option("checkpointLocation", ck)
        .start()
      val q1 = start()
      try q1.processAllAvailable()
      finally { q1.stop(); q1.awaitTermination() }
      def rows() = spark.read.jdbc(url, "fact_retry", props).collect()
        .map(r => (r.getLong(r.fieldIndex("event_id")),
          r.getString(r.fieldIndex("event_type")),
          r.getLong(r.fieldIndex("batch_id"))))
      assert(rows().length == 3)
      // crash window: sink write durable, checkpoint commit lost (the local
      // FS keeps a Hadoop .crc sidecar — it must go too, or the commit
      // rewrite trips over it)
      assert(new java.io.File(s"$ck/commits/0").delete())
      new java.io.File(s"$ck/commits/.0.crc").delete()
      val q2 = start()
      try q2.processAllAvailable()
      finally { q2.stop(); q2.awaitTermination() }
      val replayed = rows()
      // the retry duplicated every row — under the SAME batch id
      assert(replayed.length == 6)
      assert(replayed.groupBy(identity).values.forall(_.length == 2))
      assert(replayed.forall(_._3 == 0L))
      // an id-aware reader (dedupe on batch_id + key) sees exactly-once data
      val exactlyOnce = replayed.toSet
      assert(exactlyOnce == input.map { case (id, t) => (id, t, 0L) }.toSet)
    }
  }

  test("partitioned parquet write prunes partitions at read (scan-level skipping)") {
    val d = TestSpark.sf0001
    Scratch.withDir("graft_sinks_spec_partitioned") { dir =>
      val out = dir.toString
      Sinks.writeParquet(Tables.events(spark, d), out, partitionBy = Seq("event_type"))
      val read = spark.read.parquet(out).where(col("event_type") === "click")
      // the filter must become a PartitionFilter (directory-level skip), not a
      // post-scan predicate over all rows
      val scan = read.queryExecution.executedPlan.toString
      assert(scan.contains("PartitionFilters: [isnotnull(event_type"), scan)
      val all = Tables.events(spark, d)
      assert(read.count() == all.where(col("event_type") === "click").count())
    }
  }

  test("co-bucketed tables join without a shuffle exchange") {
    val d = TestSpark.sf0001
    Sinks.writeBucketed(Tables.orders(spark, d), "b_orders", "o_orderkey", 8,
      sortColumn = Some("o_orderkey"))
    Sinks.writeBucketed(Tables.lineitem(spark, d), "b_lineitem", "l_orderkey", 8,
      sortColumn = Some("l_orderkey"))
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      val joined = spark.table("b_lineitem")
        .join(spark.table("b_orders"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority").count()
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"))
      // bucket co-location: the JOIN inputs read pre-partitioned files; the
      // only exchange allowed is the one for the final small groupBy
      val joinSection = plan.substring(plan.indexOf("SortMergeJoin"))
      assert(!joinSection.contains("Exchange hashpartitioning"),
        s"join should be shuffle-free over bucketed tables:\n$joinSection")
      assert(joined.collect().map(_.getLong(1)).sum == Tables.lineitem(spark, d).count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_lineitem")
    }
  }
}
