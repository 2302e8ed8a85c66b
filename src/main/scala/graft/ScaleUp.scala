package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic scale-up replicator for the TESTDATA layout: writes
  * `copies`× the source scale factor by unioning key-shifted copies of each
  * table, so the full inventory can be benched ABOVE the shipped sf0.1
  * without regenerating data (`ScaleUp <srcDir> <outDir> <copies>`).
  *
  * Replication rules keep the scaling honest:
  *   - fact-like tables (customer/supplier/part/orders/lineitem/events/
  *     documents/embeddings) shift every key column by `i × span` (span =
  *     max key + 1), preserving referential joins across the copies;
  *   - dimension tables (region, nation) are copied ONCE — dims stay
  *     bounded while facts grow, which is what a larger scale factor means;
  *   - document TEXT is salted per replica (each token suffixed `_i`):
  *     verbatim copies would give every doc `copies−1` exact near-dups and
  *     near-dup pair counts would scale quadratically with the replication
  *     factor — an artifact of copying, not of scale. Salting keeps each
  *     replica's internal near-dup structure isomorphic to the original
  *     and makes cross-replica shingle matches impossible, so dedup work
  *     scales linearly like an organically larger corpus.
  *
  * Each table lands as a single `name.parquet` FILE (written then moved),
  * matching the TESTDATA layout the loaders and the streaming gates expect.
  *
  * `--salt-keys` (optional 4th arg) additionally salts the CATEGORICAL
  * blocking columns that default replication copies verbatim — customer
  * names, supplier names, part brands (suffix `_i` per replica, exactly
  * the document-text treatment) — the control run for the scale curve:
  * verbatim replicas put every copy of a name/brand in the same block, so
  * pair-expansion queries grow ~copies² per block by construction of the
  * REPLICA; salted keys make the replicas behave like organically new
  * entities. A query whose growth stays super-linear under `--salt-keys`
  * has a genuine plan problem, not a replication artifact
  * (BENCH_SCALE.json `control` section).
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    require(args.length == 3 || (args.length == 4 && args(3) == "--salt-keys"),
      "usage: ScaleUp <srcDir> <outDir> <copies> [--salt-keys]")
    val saltKeys = args.length == 4
    val (src, out, copies) = (args(0), args(1), args(2).toInt)
    require(copies >= 1, s"copies must be >= 1, got $copies")
    // row-group bound, as a SESSION conf: newHadoopConf() copies every
    // session entry into the per-write hadoop Configuration (a runtime
    // sparkContext.hadoopConfiguration.setLong is NOT consulted by the
    // SQL write path, and a DataFrameWriter .option() only admits
    // parquet's own known keys — both verified ignored here)
    val spark = Session.build(extra = Map("parquet.block.size" ->
      sys.env.getOrElse("SPARK_GRAFT_PARQUET_BLOCK", (8L * 1024 * 1024).toString)))
    spark.sparkContext.setLogLevel("WARN")
    Files.createDirectories(Paths.get(out))

    def span(df: DataFrame, key: String): Long =
      df.agg(max(col(key))).collect()(0).getLong(0) + 1L

    /** Union `copies` key-shifted replicas; `salt` optionally rewrites a
      * column per replica index. */
    def replicate(df: DataFrame, keys: Map[String, Long],
        salt: (DataFrame, Int) => DataFrame = (d, _) => d): DataFrame =
      (0 until copies).map { i =>
        val shifted = keys.foldLeft(df) { case (d, (k, s)) =>
          d.withColumn(k, col(k) + lit(i * s))
        }
        salt(shifted, i)
      }.reduce(_ unionByName _)

    def writeOne(df: DataFrame, name: String): Unit = {
      // bounded row groups (parquet.block.size=8m on the hadoop conf,
      // set once in main): coalesce(1) + parquet's default 128 MB block
      // writes any sub-128 MB table as ONE row group, which
      // maxPartitionBytes can never split — scans of such a replica run
      // one task no matter the split setting (15 of 16 census scan tasks
      // read zero rows at 128x), which reads as a serial wall when it is
      // really file layout. 8 MB groups keep every replica table
      // multi-split, the shape a real cluster table has.
      graft.sources.Scratch.writeSingleParquet(df, Paths.get(s"$out/$name.parquet"))
      println(s"[scaleup] $name -> $out/$name.parquet")
    }

    def read(name: String) = spark.read.parquet(Tables.path(src, name))

    // dims: bounded, copied once
    for (dim <- Seq("region", "nation")) writeOne(read(dim), dim)

    val customer = read("customer")
    val supplier = read("supplier")
    val part = read("part")
    val orders = read("orders")
    val custSpan = span(customer, "c_custkey")
    val suppSpan = span(supplier, "s_suppkey")
    val partSpan = span(part, "p_partkey")
    val orderSpan = span(orders, "o_orderkey")

    // --salt-keys: suffix a categorical column per replica (no-op replica 0)
    def saltCol(name: String)(d: DataFrame, i: Int): DataFrame =
      if (!saltKeys || i == 0) d
      else d.withColumn(name, concat(col(name), lit(s"_$i")))

    writeOne(replicate(customer, Map("c_custkey" -> custSpan),
      salt = saltCol("c_name")), "customer")
    writeOne(replicate(supplier, Map("s_suppkey" -> suppSpan),
      salt = saltCol("s_name")), "supplier")
    writeOne(replicate(part, Map("p_partkey" -> partSpan),
      salt = saltCol("p_brand")), "part")
    writeOne(replicate(orders,
      Map("o_orderkey" -> orderSpan, "o_custkey" -> custSpan)), "orders")
    writeOne(replicate(read("lineitem"),
      Map("l_orderkey" -> orderSpan, "l_partkey" -> partSpan,
        "l_suppkey" -> suppSpan)), "lineitem")

    // events is read through the loaders' raw entry point, which handles
    // both historical ts encodings (INT64 nanos via nanosAsLong, native
    // timestamp[us]) WITHOUT normalizing — the replica keeps whatever unit
    // the source stored (a legacy-nanos source round-trips as raw INT64,
    // which the loader's LongType branch truncates exactly as it does the
    // original; a native-timestamp source round-trips as a timestamp), so
    // scaled data exercises the same loader branch as its source.
    // CAVEAT (bench-only for legacy sources): a scaled-from-legacy replica
    // stores ts as plain unannotated INT64 — DuckDB (the correctness
    // oracle) would scan that as BIGINT, not a timestamp, so oracle SQL
    // using timestamp functions diverges on such a dir. Scaled dirs exist
    // for Bench/ScaleStressSpec; the correctness gate runs only on
    // driver-generated testdata (and the live testdata is native
    // timestamp[us], where the replica round-trips oracle-comparable).
    val events = Tables.eventsRaw(spark, src)
    writeOne(replicate(events,
      Map("event_id" -> span(events, "event_id"),
        "user_id" -> span(events, "user_id"))), "events")

    val documents = read("documents")
    writeOne(replicate(documents,
      Map("doc_id" -> span(documents, "doc_id")),
      salt = (d, i) =>
        if (i == 0) d
        else d.withColumn("text",
          concat_ws(" ", transform(
            // drop the empty token a leading-whitespace split produces, so
            // replicas stay token-isomorphic to the original (mirrors the
            // tokens() contract of discarding zero-length tokens)
            filter(split(col("text"), "\\s+"), t => length(t) > lit(0)),
            t => concat(t, lit(s"_$i")))))), "documents")

    val embeddings = read("embeddings")
    writeOne(replicate(embeddings,
      Map("vec_id" -> span(embeddings, "vec_id"))), "embeddings")

    spark.stop()
  }
}
