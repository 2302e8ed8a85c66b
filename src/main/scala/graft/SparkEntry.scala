package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, sum}
import graft.ops._
import graft.plans.GraftExtensions

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every operator from SURVEY.md §2 (reference parity + LLM-pipeline
  * extensions) is exposed as a named query over the TESTDATA tables, with a
  * DuckDB-dialect oracle in [[oracleSql]] for EVERY query: hash/signature
  * pipelines use cross-engine-reproducible polynomial arithmetic (residue
  * folds with literal coefficients embedded in the generated SQL), and the
  * inherently engine-specific sketch VALUES (HLL, GK quantiles) are oracled
  * through their published error contracts (exact aggregate value-compared,
  * bound flags expected true).
  *
  * Oracle-matching rules applied throughout (SURVEY.md §7.5):
  *   - identical column NAMES on both sides (the driver sorts columns by name
  *     before hashing);
  *   - a deterministic total ORDER BY on both sides;
  *   - money sums in decimal INTERNALLY (exact, order-independent), cast to
  *     DOUBLE at the output boundary on both sides (the driver compares value
  *     representations — a parquet decimal never matches DuckDB's float64);
  *     float math widened to double with identical operation order, rounded
  *     where ranking could tie-break differently;
  *   - no array-typed output columns (they crash the driver's comparator) —
  *     flatten to scalars;
  *   - explicit NULLS FIRST in DuckDB ORDER BY (Spark's asc default).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.pricingSummary(Tables.lineitem(spark, "/root/testdata/sf0.001"))

  /** Every named query. A build first installs graft's planner extensions
    * on the session it is handed ([[GraftExtensions.ensureRegistered]]), so
    * a query plans the same on a caller-built session as on one from
    * [[Session.build]], whatever ran before it. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    inventory.map { case (name, build) =>
      name -> { (s: SparkSession, d: String) =>
        GraftExtensions.ensureRegistered(s)
        build(s, d)
      }
    }

  private def inventory: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- reference parity: SanFranciscoCrime / PrepOlap / awk (SURVEY §2.3)
    "a2_weekly_histogram" -> ((s, d) =>
      Parity.weeklyHistogram(Tables.events(s, d), col("event_type"), "event_type", 1 to 6)),
    "a2_weekly_long" -> ((s, d) =>
      Parity.weeklyHistogramLong(Tables.events(s, d), col("event_type"), "event_type")),
    "a2_dotw_histogram" -> ((s, d) =>
      Parity.dotwHistogram(Tables.events(s, d), col("event_type"), "event_type")),
    "a3_daily_cube" -> ((s, d) => Parity.dailyCube(Tables.events(s, d))),
    "a3_daily_cube_indexed" -> ((s, d) => Parity.dailyCubeIndexed(Tables.events(s, d))),
    "a4_category_totals" -> ((s, d) => Parity.categoryTotals(Tables.events(s, d))),
    "a6_dict_event_type" -> ((s, d) =>
      Parity.dictionary(Tables.events(s, d), "event_type", "id", "name")
        .orderBy("id")),
    "p5_date_normalize" -> ((s, d) => Parity.dateNormalize(Tables.events(s, d))),
    // ---- star-schema ETL + OLAP (LoadStarDB / Mondrian, SURVEY §2.3-A5 §3.3)
    // dims are Parity.dictionary's bounded one-task sorted rank
    "star_dim_category" -> ((s, d) =>
      Star.dimCategory(Tables.orders(s, d)).orderBy("category_id")),
    "star_dim_district" -> ((s, d) =>
      Star.dimDistrict(Tables.nation(s, d)).orderBy("district_id")),
    "star_dim_time" -> ((s, d) => Star.dimTime(Tables.orders(s, d))),
    "star_fact" -> ((s, d) =>
      Star.fact(Tables.orders(s, d), Tables.customer(s, d), Tables.nation(s, d))),
    "a5_sum_by_category" -> ((s, d) =>
      Star.sumByCategory(Tables.orders(s, d), Tables.customer(s, d), Tables.nation(s, d), 1996)),
    "a5_sum_by_district" -> ((s, d) =>
      Star.sumByDistrict(Tables.orders(s, d), Tables.customer(s, d), Tables.nation(s, d), 1996)),
    "olap_rollup_time" -> ((s, d) => Star.rollupTime(Tables.orders(s, d))),
    "olap_grouping_sets" -> ((s, d) =>
      Star.marginals(Tables.orders(s, d), Tables.customer(s, d), Tables.nation(s, d))),
    "olap_cube_cat_district" -> ((s, d) =>
      Star.cubeCategoryDistrict(Tables.orders(s, d), Tables.customer(s, d), Tables.nation(s, d))),
    // ---- general relational surface (SURVEY §2.4)
    "q1_pricing_summary" -> ((s, d) => Relational.pricingSummary(Tables.lineitem(s, d))),
    "q3_top_urgent_orders" -> ((s, d) =>
      Relational.topUrgentOrders(Tables.customer(s, d), Tables.orders(s, d), Tables.lineitem(s, d))),
    "q5_local_supplier_revenue" -> ((s, d) =>
      Relational.localSupplierRevenue(Tables.customer(s, d), Tables.orders(s, d),
        Tables.lineitem(s, d), Tables.supplier(s, d), Tables.nation(s, d),
        Tables.region(s, d))),
    "q14_brand_revenue" -> ((s, d) =>
      Relational.brandRevenue(Tables.lineitem(s, d), Tables.part(s, d))),
    "join_semi_customers_with_orders" -> ((s, d) =>
      Relational.customersWithOrders(Tables.customer(s, d), Tables.orders(s, d))),
    "join_anti_customers_without_orders" -> ((s, d) =>
      Relational.customersWithoutOrders(Tables.customer(s, d), Tables.orders(s, d))),
    "win_top3_orders_per_customer" -> ((s, d) =>
      Relational.topOrdersPerCustomer(Tables.orders(s, d), 3)),
    "win_order_deltas" -> ((s, d) => Relational.orderDeltas(Tables.orders(s, d))),
    "win_ntile_priority" -> ((s, d) => Relational.priorityPriceRanks(Tables.orders(s, d))),
    "set_ops_priority" -> ((s, d) => Relational.setOps(Tables.orders(s, d))),
    "reshape_pivot_monthly" -> ((s, d) =>
      Relational.pivotMonthlyRevenue(Tables.lineitem(s, d))),
    "reshape_unpivot_monthly" -> ((s, d) =>
      Relational.unpivotMonthlyRevenue(Tables.lineitem(s, d))),
    "join_range_price_bands" -> ((s, d) =>
      Relational.priceBandCounts(s, Tables.orders(s, d))),
    "subq_above_avg_activity" -> ((s, d) =>
      Relational.aboveAvgActivity(Tables.events(s, d))),
    "q18_large_orders" -> ((s, d) =>
      Relational.largeOrders(Tables.lineitem(s, d), Tables.orders(s, d),
        Tables.customer(s, d))),
    "q4_priority_exists" -> ((s, d) =>
      Relational.priorityExistsCounts(Tables.orders(s, d), Tables.lineitem(s, d))),
    "q12_linestatus_priority" -> ((s, d) =>
      Relational.linestatusPriorityCounts(Tables.lineitem(s, d), Tables.orders(s, d))),
    "q16_part_supplier_counts" -> ((s, d) =>
      Relational.partSupplierCounts(Tables.lineitem(s, d), Tables.part(s, d))),
    "q17_small_quantity_revenue" -> ((s, d) =>
      Relational.smallQuantityRevenue(Tables.lineitem(s, d), Tables.part(s, d))),
    "q21_last_shipper" -> ((s, d) =>
      Relational.lastShipperCounts(Tables.lineitem(s, d), Tables.supplier(s, d))),
    "q19_disjunctive_revenue" -> ((s, d) =>
      Relational.disjunctiveRevenue(Tables.lineitem(s, d), Tables.part(s, d))),
    "q2_min_cost_supplier" -> ((s, d) =>
      Relational.minCostSuppliers(Tables.partsupp(s, d), Tables.part(s, d),
        Tables.supplier(s, d), Tables.nation(s, d), Tables.region(s, d))),
    "q11_important_stock" -> ((s, d) =>
      Relational.importantStock(Tables.partsupp(s, d), Tables.supplier(s, d),
        Tables.nation(s, d))),
    "q20_promo_suppliers" -> ((s, d) =>
      Relational.promoSuppliers(Tables.partsupp(s, d), Tables.part(s, d),
        Tables.supplier(s, d), Tables.nation(s, d), Tables.lineitem(s, d))),
    "q6_forecast_revenue" -> ((s, d) =>
      Tpch.forecastRevenue(Tables.lineitem(s, d))),
    "q7_volume_shipping" -> ((s, d) =>
      Tpch.volumeShipping(Tables.lineitem(s, d), Tables.orders(s, d),
        Tables.customer(s, d), Tables.supplier(s, d), Tables.nation(s, d))),
    "q8_market_share" -> ((s, d) =>
      Tpch.marketShare(Tables.lineitem(s, d), Tables.orders(s, d),
        Tables.customer(s, d), Tables.supplier(s, d), Tables.nation(s, d),
        Tables.region(s, d), Tables.part(s, d))),
    "q9_profit_by_nation" -> ((s, d) =>
      Tpch.profitByNation(Tables.lineitem(s, d), Tables.supplier(s, d),
        Tables.nation(s, d), Tables.part(s, d))),
    "q10_returned_items" -> ((s, d) =>
      Tpch.returnedItems(Tables.lineitem(s, d), Tables.orders(s, d),
        Tables.customer(s, d), Tables.nation(s, d))),
    "q13_order_count_dist" -> ((s, d) =>
      Tpch.orderCountDistribution(Tables.customer(s, d), Tables.orders(s, d))),
    "q15_top_supplier" -> ((s, d) =>
      Tpch.topSupplier(Tables.lineitem(s, d), Tables.supplier(s, d))),
    "q22_idle_customers" -> ((s, d) =>
      Tpch.idleCustomers(Tables.customer(s, d), Tables.orders(s, d))),
    "corpus_chunk_overlap" -> ((s, d) =>
      Corpus.chunkOverlap(Tables.documents(s, d))),
    "ml_kmeans_clusters" -> ((s, d) =>
      Ml.kmeansClusters(Tables.embeddings(s, d))),
    "graph_pagerank_nations" -> ((s, d) =>
      Graph.nationPagerank(Tables.lineitem(s, d), Tables.orders(s, d),
        Tables.customer(s, d), Tables.supplier(s, d), Tables.nation(s, d))),
    "graph_triangles" -> ((s, d) =>
      Graph.nationTriangles(Tables.lineitem(s, d), Tables.orders(s, d),
        Tables.customer(s, d), Tables.supplier(s, d), Tables.nation(s, d))),
    "graph_degree_census" -> ((s, d) =>
      Graph.nationDegrees(Tables.lineitem(s, d), Tables.orders(s, d),
        Tables.customer(s, d), Tables.supplier(s, d), Tables.nation(s, d))),
    "graph_bfs_hops" -> ((s, d) =>
      Graph.nationHops(Tables.lineitem(s, d), Tables.orders(s, d),
        Tables.customer(s, d), Tables.supplier(s, d), Tables.nation(s, d))),
    "corpus_mixture_weights" -> ((s, d) =>
      Corpus.mixtureWeights(Tables.documents(s, d))),
    "corpus_contrastive_pairs" -> ((s, d) =>
      Corpus.contrastivePairs(Tables.documents(s, d))),
    "join_fuzzy_blocked" -> ((s, d) =>
      Dedup.fuzzyLinkBlocked(Tables.customer(s, d))),
    "ml_semdedup" -> ((s, d) => Ml.semDedup(Tables.embeddings(s, d))),
    "corpus_source_overlap" -> ((s, d) =>
      Corpus.sourceOverlap(Tables.documents(s, d))),
    "sim_tfidf_pairs" -> ((s, d) =>
      TextOps.tfidfSimilarPairs(Tables.documents(s, d))),
    "win_rank_dense" -> ((s, d) =>
      Relational.priceBucketRanks(Tables.orders(s, d))),
    "samp_n_per_group" -> ((s, d) =>
      Sampling.sampleNPerGroup(
          Tables.documents(s, d).select("doc_id", "lang", "source"),
          "lang", "doc_id", 10)
        .orderBy("lang", "doc_id")),
    "agg_price_moments" -> ((s, d) =>
      Relational.priceMoments(Tables.lineitem(s, d))),
    "anomaly_zscore" -> ((s, d) =>
      Relational.valueOutliers(Tables.events(s, d))),
    "anomaly_cusum" -> ((s, d) =>
      Relational.cusumChangepoints(Tables.events(s, d))),
    "affinity_brand_pairs" -> ((s, d) =>
      Relational.brandAffinity(Tables.lineitem(s, d), Tables.part(s, d))),
    "hist_price_bins" -> ((s, d) =>
      Relational.priceHistogram(Tables.orders(s, d))),
    "corpus_decontaminate_semantic" -> ((s, d) =>
      Corpus.decontaminateSemantic(Tables.embeddings(s, d))),
    "corpus_strip_boilerplate" -> ((s, d) =>
      Corpus.stripBoilerplate(Tables.documents(s, d))),
    "layout_zorder_key" -> ((s, d) =>
      Layout.zorderOrders(Tables.orders(s, d))),
    "text_token_positions" -> ((s, d) =>
      TextOps.tokenPositions(Tables.documents(s, d))),
    "agg_distinct_users" -> ((s, d) => Relational.distinctUsers(Tables.events(s, d))),
    "agg_price_quantiles" -> ((s, d) => Relational.priceQuantiles(Tables.lineitem(s, d))),
    "agg_weighted_discount" -> ((s, d) => Relational.weightedDiscount(Tables.lineitem(s, d))),
    "agg_approx_quantiles" -> ((s, d) =>
      Relational.approxPriceQuantiles(Tables.lineitem(s, d))),
    "agg_price_stats" -> ((s, d) => Relational.priceStats(Tables.lineitem(s, d))),
    "json_explode_props" -> ((s, d) => Relational.explodeProps(Tables.events(s, d))),
    "win_range_90d_spend" -> ((s, d) =>
      Relational.trailing90dSpend(Tables.orders(s, d))),
    "agg_approx_distinct_users" -> ((s, d) =>
      Relational.approxDistinctUsers(Tables.events(s, d))),
    "json_extract_props" -> ((s, d) => Relational.jsonExtract(Tables.events(s, d))),
    "dedup_first_event" -> ((s, d) =>
      Relational.firstEventPerUserType(Tables.events(s, d))),
    "agg_user_journeys" -> ((s, d) => Relational.userJourneys(Tables.events(s, d))),
    "cohort_retention" -> ((s, d) => Relational.cohortRetention(Tables.events(s, d))),
    "funnel_3step" -> ((s, d) => Relational.funnelSteps(Tables.events(s, d))),
    "agg_top_user_per_type" -> ((s, d) =>
      Relational.topUserPerType(Tables.events(s, d))),
    "agg_revenue_share" -> ((s, d) =>
      Relational.revenueShare(Tables.lineitem(s, d))),
    "win_moving_avg_3" -> ((s, d) =>
      Relational.movingAvgPrice(Tables.orders(s, d))),
    "win_first_last" -> ((s, d) => Relational.firstLastOrder(Tables.orders(s, d))),
    "ts_gap_fill_hourly" -> ((s, d) => Relational.gapFillHourly(Tables.events(s, d))),
    "ts_rolling_7d_users" -> ((s, d) =>
      Relational.rollingDistinctUsers(Tables.events(s, d))),
    "ts_ewma_price" -> ((s, d) => Relational.ewmaPrice(Tables.orders(s, d))),
    "ts_holt_price" -> ((s, d) => Relational.holtPrice(Tables.orders(s, d))),
    "text_normalize" -> ((s, d) => TextOps.normalize(Tables.documents(s, d))),
    // ---- event-time windows (batch form of the streaming ops, SURVEY §2.6)
    "win_tumbling_daily" -> ((s, d) => Relational.tumblingDailyCounts(Tables.events(s, d))),
    "win_sliding_6h" -> ((s, d) => Relational.slidingCounts(Tables.events(s, d))),
    "win_session_30m" -> ((s, d) => Relational.sessionCounts(Tables.events(s, d))),
    // ---- streaming end-state gates (real streaming runs: readStream →
    // transform → foreachBatch sink → end-state table; see StreamGate)
    "stream_tumbling_daily" -> ((s, d) =>
      graft.streaming.StreamGate.tumblingDailyEndState(s, d)),
    "stream_scd2_closed" -> ((s, d) =>
      graft.streaming.StreamGate.scd2ClosedEndState(s, d)),
    "stream_topk_leaderboard" -> ((s, d) =>
      graft.streaming.StreamGate.topKEndState(s, d)),
    "stream_sliding_6h" -> ((s, d) =>
      graft.streaming.StreamGate.sliding6hEndState(s, d)),
    "stream_dedup_ids" -> ((s, d) =>
      graft.streaming.StreamGate.dedupIdsEndState(s, d)),
    "stream_user_milestones" -> ((s, d) =>
      graft.streaming.StreamGate.userMilestonesEndState(s, d)),
    "stream_purchase_view_join" -> ((s, d) =>
      graft.streaming.StreamGate.purchaseViewEndState(s, d)),
    "stream_dedup_corpus" -> ((s, d) =>
      graft.streaming.StreamGate.corpusDedupEndState(s, d)),
    "stream_jdbc_append" -> ((s, d) =>
      graft.streaming.StreamGate.jdbcAppendEndState(s, d)),
    "stream_late_census" -> ((s, d) =>
      graft.streaming.StreamGate.lateCensusEndState(s, d)),
    "stream_session_30m" -> ((s, d) =>
      graft.streaming.StreamGate.sessionEndState(s, d)),
    "stream_enrich_dim" -> ((s, d) =>
      graft.streaming.StreamGate.enrichEndState(s, d)),
    "stream_checkpoint_recovery" -> ((s, d) =>
      graft.streaming.StreamGate.checkpointRecoveryEndState(s, d)),
    // ---- dedup family (SURVEY §2.6)
    "dedup_exact" -> ((s, d) => Dedup.exact(Tables.documents(s, d))),
    "dedup_minhash_lsh" -> ((s, d) => Dedup.minhashLsh(Tables.documents(s, d))),
    "corpus_hard_negatives" -> ((s, d) =>
      Corpus.hardNegatives(Tables.documents(s, d))),
    "corpus_cdc_chunks" -> ((s, d) => Corpus.cdcChunks(Tables.documents(s, d))),
    "dedup_simhash" -> ((s, d) => Dedup.simhashNearDup(Tables.documents(s, d))),
    "dedup_cap_census" -> ((s, d) => Dedup.capCensus(Tables.documents(s, d))),
    "dedup_winnow_pairs" -> ((s, d) => Dedup.winnowedPairs(Tables.documents(s, d))),
    "dedup_minhash_estimate" -> ((s, d) =>
      Dedup.minhashJaccardEstimate(Tables.documents(s, d))),
    "er_fuzzy_clusters" -> ((s, d) =>
      Dedup.fuzzyEntityClusters(Tables.customer(s, d))),
    "dedup_ngram_jaccard" -> ((s, d) => Dedup.ngramJaccardAdjacent(Tables.documents(s, d))),
    "dedup_prefix_filter" -> ((s, d) => Dedup.prefixFilterPairs(Tables.documents(s, d))),
    "dedup_embedding_cosine" -> ((s, d) =>
      Dedup.embeddingNearDup(Tables.embeddings(s, d))),
    "dedup_shared_grams" -> ((s, d) =>
      Dedup.sharedGramPairs(Tables.documents(s, d)).orderBy("doc_a", "doc_b")),
    "dedup_cluster_components" -> ((s, d) =>
      Dedup.connectedComponents(Dedup.sharedGramPairs(Tables.documents(s, d)))),
    "dedup_survivors" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.survivors(docs, Dedup.sharedGramPairs(docs))
    }),
    "text_token_entropy" -> ((s, d) => TextOps.tokenEntropy(Tables.documents(s, d))),
    "join_salted_skew" -> ((s, d) =>
      Relational.saltedFlagRollup(s, Tables.lineitem(s, d))),
    "join_bloom_pruned" -> ((s, d) =>
      Relational.bloomPrunedUrgentRevenue(Tables.orders(s, d), Tables.lineitem(s, d))),
    "agg_merge_partials" -> ((s, d) =>
      Relational.mergePartialsRollup(Tables.orders(s, d))),
    "agg_winsorized_prices" -> ((s, d) =>
      Relational.winsorizedPrices(Tables.lineitem(s, d))),
    // ---- similarity search (SURVEY §2.6)
    "sim_bruteforce_topk" -> ((s, d) => SimSearch.bruteForceTopK(Tables.embeddings(s, d))),
    "sim_quantized_cosine" -> ((s, d) =>
      SimSearch.quantizedCosineAdjacent(Tables.embeddings(s, d))),
    "corpus_checksum" -> ((s, d) => Corpus.checksum(Tables.documents(s, d))),
    "sim_lsh_topk" -> ((s, d) => SimSearch.lshTopK(Tables.embeddings(s, d))),
    "sim_ivf_topk" -> ((s, d) => SimSearch.ivfTopK(Tables.embeddings(s, d))),
    "sim_pq_topk" -> ((s, d) => SimSearch.pqTopK(Tables.embeddings(s, d))),
    "sim_ivfpq_topk" -> ((s, d) => SimSearch.ivfPqTopK(Tables.embeddings(s, d))),
    "sim_recall_census" -> ((s, d) => SimSearch.recallCensus(Tables.embeddings(s, d))),
    "rag_rrf_fusion" -> ((s, d) => SimSearch.rrfFusion(Tables.embeddings(s, d))),
    "emb_label_centroids" -> ((s, d) => Ml.labelCentroids(Tables.embeddings(s, d))),
    // ---- text analysis (SURVEY §2.6)
    "text_token_stats" -> ((s, d) => TextOps.tokenStats(Tables.documents(s, d))),
    "text_quality" -> ((s, d) => TextOps.qualityScore(Tables.documents(s, d))),
    "text_langid" -> ((s, d) => TextOps.langId(Tables.documents(s, d))),
    "text_fingerprint" -> ((s, d) => TextOps.fingerprint(Tables.documents(s, d))),
    "text_doc_frequency" -> ((s, d) => TextOps.docFrequency(Tables.documents(s, d))),
    "text_tfidf" -> ((s, d) => TextOps.tfIdf(Tables.documents(s, d))),
    "text_ngram_counts" -> ((s, d) => TextOps.ngramCounts(Tables.documents(s, d))),
    "text_bpe_pairs" -> ((s, d) => TextOps.bpePairCensus(Tables.documents(s, d))),
    "text_bpe_merges" -> ((s, d) => TextOps.bpeMerges(Tables.documents(s, d))),
    "text_redact" -> ((s, d) => TextOps.redact(Tables.documents(s, d))),
    "text_rake_phrases" -> ((s, d) => TextOps.rakePhrases(Tables.documents(s, d))),
    "privacy_ldiv_census" -> ((s, d) => Profile.lDiversity(Tables.customer(s, d))),
    // ---- multimodal plumbing (SURVEY §2.6)
    "mm_blob_meta" -> ((s, d) => Multimodal.blobMeta(Tables.documents(s, d))),
    "mm_decode_features" -> ((s, d) => Multimodal.decodeFeatures(s, Tables.documents(s, d))),
    "mm_frame_sample" -> ((s, d) => Multimodal.sampleFrames(s, Tables.documents(s, d))),
    "mm_resize_plan" -> ((s, d) => Multimodal.resizePlan(s, Tables.documents(s, d))),
    // real container formats: synthesized PNG/WAV bytes parsed back
    // STRUCTURALLY (magic + chunk walk + CRC verify) — no codec stub
    "mm_png_headers" -> ((s, d) => Multimodal.pngHeaders(s, Tables.documents(s, d))),
    "mm_wav_headers" -> ((s, d) => Multimodal.wavHeaders(s, Tables.documents(s, d))),
    "mm_pixel_stats" -> ((s, d) => Multimodal.pixelStats(s, Tables.documents(s, d))),
    "mm_ahash" -> ((s, d) => Multimodal.imageAHashes(s, Tables.documents(s, d))),
    "mm_ahash_neardup" -> ((s, d) => Multimodal.imageNearDup(s, Tables.documents(s, d))),
    "mm_wav_stats" -> ((s, d) => Multimodal.wavSampleStats(s, Tables.documents(s, d))),
    "mm_wav_stereo_stats" -> ((s, d) =>
      Multimodal.wavStereoStats(s, Tables.documents(s, d))),
    // ---- as-of (temporal) joins (SURVEY §2.4 extension)
    "asof_purchase_last_view" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions.row_number
      val ev = Tables.events(s, d)
      val purchases = ev.where(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts", "value")
      // dedup equal-(user, ts) right rows to the max event_id so the
      // winner is deterministic in BOTH engines (DuckDB ASOF leaves
      // equal-time ties unspecified)
      val views = ev.where(col("event_type") === "view")
        .select("user_id", "ts", "event_id", "value")
        .withColumn("rn", row_number().over(
          Window.partitionBy("user_id", "ts").orderBy(col("event_id").desc)))
        .where(col("rn") === 1).drop("rn")
      AsofJoin.asof(purchases, views, Seq("user_id"), "ts", "ts",
          Seq("ts", "event_id", "value"))
        .orderBy("event_id")
    }),
    "asof_signup_next_click" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions.row_number
      val ev = Tables.events(s, d)
      val signups = ev.where(col("event_type") === "signup")
        .select("event_id", "user_id", "ts")
      val clicks = ev.where(col("event_type") === "click")
        .select("user_id", "ts", "event_id")
        .withColumn("rn", row_number().over(
          Window.partitionBy("user_id", "ts").orderBy(col("event_id").asc)))
        .where(col("rn") === 1).drop("rn")
      AsofJoin.asof(signups, clicks, Seq("user_id"), "ts", "ts",
          Seq("ts", "event_id"), forward = true)
        .orderBy("event_id")
    }),
    // ---- deterministic sampling / splitting / mixing (SURVEY §2.6)
    "samp_hash_10pct" -> ((s, d) =>
      Sampling.sampleByHash(Tables.documents(s, d), "doc_id", 10)
        .select("doc_id", "lang", "source").orderBy("doc_id")),
    "samp_weighted_orders" -> ((s, d) =>
      Sampling.weightedOrderSample(Tables.orders(s, d))),
    "samp_split_counts" -> ((s, d) =>
      Sampling.hashSplit(Tables.documents(s, d), "doc_id", 80, 10)
        .groupBy("split").agg(count(lit(1)).as("n")).orderBy("split")),
    "samp_stratified_lang" -> ((s, d) =>
      Sampling.stratifiedSampleByHash(Tables.documents(s, d), "lang", "doc_id",
        Map("en" -> 50), defaultPct = 10)
        .select("doc_id", "lang").orderBy("doc_id")),
    "samp_mix_corpora" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val head = Seq("src0", "src1", "src2", "src3", "src4")
      Sampling.mixCorpora(Seq(
          ("head", docs.where(col("source").isin(head: _*)), 60),
          ("tail", docs.where(!col("source").isin(head: _*)), 20)), "doc_id")
        .groupBy("corpus").agg(count(lit(1)).as("n")).orderBy("corpus")
    }),
    // ---- corpus assembly (SURVEY §2.6): packing + decontamination
    "corpus_pack_sequences" -> ((s, d) =>
      Corpus.packSequences(Tables.documents(s, d))),
    "corpus_decontaminate" -> ((s, d) =>
      Corpus.decontaminate(Tables.documents(s, d))),
    "corpus_assign_ids" -> ((s, d) =>
      Corpus.assignIds(Tables.documents(s, d))),
    "corpus_quality_filter" -> ((s, d) =>
      Corpus.qualityFilter(Tables.documents(s, d))),
    "corpus_retention_funnel" -> ((s, d) =>
      Corpus.retentionFunnel(Tables.documents(s, d))),
    "corpus_shuffle_epoch" -> ((s, d) =>
      Corpus.shuffleEpoch(Tables.documents(s, d), epoch = 1)),
    "text_repetition" -> ((s, d) =>
      TextOps.repetitionStats(Tables.documents(s, d))),
    "text_vocab_coverage" -> ((s, d) =>
      TextOps.vocabCoverage(Tables.documents(s, d), vocabSize = 10)),
    "text_token_rarity" -> ((s, d) =>
      TextOps.tokenRarity(Tables.documents(s, d))),
    "dedup_duplicate_spans" -> ((s, d) =>
      Corpus.duplicateSpans(Tables.documents(s, d))),
    "corpus_strip_dup_spans" -> ((s, d) =>
      Corpus.stripDuplicateSpans(Tables.documents(s, d))),
    "corpus_length_batches" -> ((s, d) =>
      Corpus.lengthBatches(Tables.documents(s, d))),
    "profile_events" -> ((s, d) =>
      Profile.profile(Tables.events(s, d),
        Seq("event_id", "user_id", "event_type", "value", "props"))),
    "profile_benford_price" -> ((s, d) =>
      Profile.benfordDigits(Tables.orders(s, d), "o_totalprice")),
    "profile_cms_tokens" -> ((s, d) =>
      Profile.cmsEstimate(Tables.documents(s, d))),
    "profile_robust_outliers" -> ((s, d) =>
      Profile.robustOutliers(Tables.orders(s, d))),
    "text_bm25_topk" -> ((s, d) => TextOps.bm25TopK(Tables.documents(s, d))),
    "text_bigram_logprob" -> ((s, d) =>
      TextOps.bigramLogProb(Tables.documents(s, d))),
    "graph_kcore" -> ((s, d) =>
      Graph.nationKcore(Tables.lineitem(s, d), Tables.orders(s, d),
        Tables.customer(s, d), Tables.supplier(s, d), Tables.nation(s, d))),
    "profile_equidepth_hist" -> ((s, d) =>
      Profile.equidepthHist(Tables.orders(s, d))),
    "privacy_kanon_census" -> ((s, d) =>
      Profile.kAnonymity(Tables.customer(s, d))),
    "join_interval_overlap" -> ((s, d) =>
      Intervals.sessionIncidentOverlap(Tables.events(s, d))),
    "diag_hot_keys" -> ((s, d) =>
      Profile.hotKeys(Tables.events(s, d), "user_id", k = 5)),
    "diag_heavy_hitters" -> ((s, d) =>
      Profile.heavyHitters(Tables.events(s, d), "user_id")),
    // ---- warehouse ETL beyond LoadStarDB: SCD2 intervals, CDC merge
    "etl_scd2_user_state" -> ((s, d) =>
      Star.scd2(Tables.events(s, d), "user_id", "ts", "event_type", "event_id")),
    "etl_merge_upsert" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val cutoff = lit("2024-03-01").cast("timestamp")
      Star.mergeUpsert(
        ev.where(col("ts") < cutoff), ev.where(col("ts") >= cutoff),
        "user_id", "ts", "event_id", Seq("event_type", "value"))
    }),
    "etl_scd2_lookup" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val dim = Star.scd2(ev, "user_id", "ts", "event_type", "event_id")
        .select("user_id", "state", "valid_from", "valid_to")
      val facts = ev.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      Star.scd2Lookup(facts, dim, "user_id", "ts")
        .select("event_id", "user_id", "ts", "state", "valid_from")
        .orderBy("event_id")
    }),
    "seq_transition_matrix" -> ((s, d) =>
      Relational.transitionMatrix(Tables.events(s, d))),
    "ts_seasonal_dow" -> ((s, d) =>
      Relational.seasonalDow(Tables.events(s, d))),
    // ---- sources/sinks (SURVEY §2.1): a round trip through each sink
    "s_json_roundtrip" -> ((s, d) => graft.sources.Sinks.jsonRoundTrip(s, d)),
    "s_orc_roundtrip" -> ((s, d) => graft.sources.Sinks.orcRoundTrip(s, d)),
    "s3_tsv_roundtrip" -> ((s, d) => graft.sources.Sinks.tsvRoundTrip(s, d)),
    "s_jdbc_roundtrip" -> ((s, d) => graft.sources.Sinks.jdbcRoundTrip(s, d)),
    "s_bucketed_join" -> ((s, d) => graft.sources.Sinks.bucketedJoin(s, d)),
    "s_partitioned_prune" -> ((s, d) =>
      graft.sources.Sinks.partitionedPrune(s, d)),
    "s1_crime_weekly" -> ((s, _) => {
      // S1/S2/P3/P4/A2 end-to-end on the reference's ACTUAL input shape
      // (`SanFranciscoCrime.java:75-102`): quoted-CSV parse, header drop,
      // malformed drop, weekly bucket histogram — over the committed
      // crime-shaped fixture, hash-verified against a DuckDB read_csv
      // oracle (the sfDir is unused: the fixture IS the input)
      ops.CrimePipeline.weeklyCounts(
        ops.CrimePipeline.readCrimeCsv(s, crimeCsvPath), "Category")
    }),
    "s1_crime_badrec" -> ((s, _) => {
      // P4 side output: the dropped-row audit with reasons (the reference
      // LOGS each skipped malformed row, `SanFranciscoCrime.java:91-99`)
      ops.CrimePipeline.badRecords(s, crimeCsvPath)
        .select(col("IncidntNum"), col("bad_reason"))
        .orderBy("IncidntNum")
    }),
  )

  /** Committed crime-shaped CSV fixture (FIXTURES.md §B, generated by
    * `tools/gen_crime_fixture.py`) — the gate input for the reference's
    * flagship CSV path. Env override for checkouts outside /root/repo;
    * the oracle SQL pins the default path. */
  private val crimeCsvPath: String = sys.env.getOrElse(
    "SPARK_GRAFT_CRIME_CSV", "/root/repo/src/test/resources/fixtures/crime.csv")

  /** Headline benchmark set (graft.Bench): the reference-parity pipeline
    * plus one representative per extension family. Verify still covers every
    * query; set SPARK_GRAFT_BENCH_ALL=1 to time the full inventory. */
  val headlineQueries: Seq[String] = Seq(
    "q1_pricing_summary", "q3_top_urgent_orders",
    "a2_weekly_histogram", "a3_daily_cube_indexed", "a4_category_totals",
    "star_fact", "a5_sum_by_category", "olap_rollup_time",
    "win_session_30m", "dedup_minhash_lsh", "sim_bruteforce_topk",
    "text_doc_frequency")

  // ------------------------------------------------------------ oracle SQL --

  /** `java.util.Calendar.WEEK_OF_MONTH` (US locale) in DuckDB SQL; DuckDB's
    * dayofweek is Sunday=0 where Spark's is Sunday=1, hence `- 1` vs the
    * engine formula's `- 2` (GraftFunctions.week_of_month). */
  private def wom(d: String): String =
    s"(CAST(floor((dayofmonth($d) + dayofweek(date_trunc('month', $d)) - 1) / 7.0) AS INT) + 1)"

  /** `'D' || zero-padded (user_id mod 10)` — Parity.districtOf. */
  private val districtSql = "'D' || lpad(CAST(user_id % 10 AS VARCHAR), 2, '0')"

  /** Whitespace tokens with empties dropped — GraftFunctions.tokens. */
  /** Shared by dedup_minhash_lsh and corpus_hard_negatives. */
  /** Candidate-pair SQL for the MinHash pipeline, parameterized by band
    * structure (8 bands x 4 rows = the near-dup miner; 32 x 1 = the loose
    * single-slot collisions hard-negative mining wants). Shared by
    * dedup_minhash_lsh and corpus_hard_negatives. */
  private def minhashCandidatesSql(bands: Int, rowsPerBand: Int,
      estPrefilter: Option[(Int, Int, Int)] = None): String = {
      val (as, bs) = graft.functions.GraftFunctions.minhashCoeffs(32)
      val sigCols = (0 until 32)
        .map(i => s"min((${as(i)} * h + ${bs(i)}) % 2147483647) AS s$i")
        .mkString(",\n  ")
      val bandSelects = (0 until bands).map { j =>
        val fold = (0 until rowsPerBand).map(r => s"s${j * rowsPerBand + r}")
          .foldLeft("CAST(0 AS BIGINT)")((acc, s) =>
            s"(($acc * 1000003 + $s) % 2147483647)")
        s"SELECT doc_id, $j AS band_idx, $fold AS bh FROM sig"
      }.mkString("\n  UNION ALL ")
      // signature-slot estimate prefilter (Corpus.hardNegatives): with
      // single-slot bands a pair's collision count across surviving
      // buckets IS its matching-slot count, so the DISTINCT becomes a
      // GROUP BY + HAVING — candidates outside the (minMatch/32, num/den)
      // estimate band never reach the token-array verify, exactly as the
      // engine runs it
      val candSql = estPrefilter match {
        case None =>
          """cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
            |         FROM band x JOIN bkt USING (band_idx, bh)
            |              JOIN band y ON y.band_idx = x.band_idx AND y.bh = x.bh
            |                         AND y.doc_id > x.doc_id)""".stripMargin
        case Some((minMatch, num, den)) =>
          s"""cand AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b
             |         FROM band x JOIN bkt USING (band_idx, bh)
             |              JOIN band y ON y.band_idx = x.band_idx AND y.bh = x.bh
             |                         AND y.doc_id > x.doc_id
             |         GROUP BY 1, 2
             |         HAVING count(*) >= $minMatch
             |            AND count(*) * $den <= 32 * $num)""".stripMargin
      }
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |sh AS (SELECT doc_id, unnest(CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
         |         ELSE [array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks)-1)] END) AS s
         |       FROM t),
         |hb AS (SELECT doc_id, list_reduce(list_prepend(CAST(0 AS BIGINT),
         |         [ord(s[i:i]) for i in range(1, length(s)+1)]),
         |         (a, c) -> (a * 31 + c) % 2147483647) AS h FROM sh),
         |sig AS (SELECT doc_id,
         |  $sigCols
         |  FROM hb GROUP BY doc_id),
         |band AS (
         |  $bandSelects),
         |bkt AS (SELECT band_idx, bh FROM band GROUP BY band_idx, bh
         |        HAVING count(*) BETWEEN 2 AND 1024),
         |$candSql
         |SELECT c.doc_a, c.doc_b,
         |  CAST(len(list_distinct(list_intersect(ta.toks, tb.toks))) AS INT) AS n_common,
         |  CAST(len(list_distinct(list_concat(ta.toks, tb.toks))) AS INT) AS n_union
         |FROM cand c JOIN t ta ON ta.doc_id = c.doc_a
         |            JOIN t tb ON tb.doc_id = c.doc_b
         |ORDER BY doc_a, doc_b""".stripMargin
  }

  private lazy val minhashLshSql: String = minhashCandidatesSql(8, 4)

  private val toksSql = raw"list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0)"

  /** Gap-based 30-minute sessions — shared by the batch window query and
    * the streaming gate (same merged end state on a bounded source). */
  private val sessionSql =
    """WITH g AS (SELECT user_id, ts,
      |  CASE WHEN lag(ts) OVER w IS NULL
      |         OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_s
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
      |s AS (SELECT user_id, ts, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
      |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM g)
      |SELECT user_id, min(ts) AS session_start, count(*) AS n
      |FROM s GROUP BY user_id, sid ORDER BY user_id, session_start""".stripMargin

  private lazy val simBruteSql: String =
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
         |q AS (SELECT vec_id AS query_id, emb AS qe FROM e WHERE vec_id < 5),
         |s AS (SELECT q.query_id, e.vec_id AS neighbor_id, ${cosSql("q.qe", "e.emb")} AS cos
         |      FROM e CROSS JOIN q WHERE e.vec_id <> q.query_id),
         |r AS (SELECT query_id, neighbor_id,
         |        CAST(row_number() OVER (PARTITION BY query_id
         |          ORDER BY cos DESC, neighbor_id) AS INT) AS "rank" FROM s)
         |SELECT query_id, neighbor_id, "rank" FROM r WHERE "rank" <= 10
         |ORDER BY query_id, "rank"""".stripMargin

  private lazy val simLshSql: String = {
      val signsValues = (0 until 8).flatMap { t =>
        val signs = ops.SimSearch.srpSigns(t, bits = 4, dim = 64)
        (0 until 4).map { i =>
          val arr = signs(i).map(v => if (v > 0) "1.0" else "-1.0").mkString(",")
          s"($t, $i, CAST([$arr] AS DOUBLE[]))"
        }
      }.mkString(",\n  ")
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
         |s(tbl, bit, signs) AS (VALUES
         |  $signsValues),
         |p AS (SELECT e.vec_id, s.tbl, s.bit,
         |        list_reduce(list_prepend(0.0,
         |          list_transform(range(1, 65), i -> e.emb[i] * s.signs[i])),
         |          (a, b) -> a + b) AS proj
         |      FROM e CROSS JOIN s),
         |b AS (SELECT vec_id, tbl,
         |        sum(CASE WHEN proj > 0 THEN 1 << bit ELSE 0 END) AS bucket
         |      FROM p GROUP BY 1, 2),
         |q AS (SELECT vec_id AS query_id, tbl, bucket FROM b WHERE vec_id < 5),
         |cand AS (SELECT DISTINCT q.query_id, c.vec_id AS neighbor_id
         |         FROM b c JOIN q ON c.tbl = q.tbl AND c.bucket = q.bucket
         |         WHERE c.vec_id <> q.query_id),
         |sc AS (SELECT cand.query_id, cand.neighbor_id,
         |         ${cosSql("qe.emb", "ne.emb")} AS cos
         |       FROM cand JOIN e qe ON qe.vec_id = cand.query_id
         |                 JOIN e ne ON ne.vec_id = cand.neighbor_id),
         |r AS (SELECT query_id, neighbor_id,
         |        CAST(row_number() OVER (PARTITION BY query_id
         |          ORDER BY cos DESC, neighbor_id) AS INT) AS "rank" FROM sc)
         |SELECT query_id, neighbor_id, "rank" FROM r WHERE "rank" <= 10
         |ORDER BY query_id, "rank"""".stripMargin
  }

  private lazy val simIvfSql: String =
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
         |c AS (SELECT vec_id AS cell, emb AS ce FROM e WHERE vec_id < 16),
         |a0 AS (SELECT e.vec_id, e.emb, c.cell, row_number() OVER (
         |         PARTITION BY e.vec_id
         |         ORDER BY ${cosSql("e.emb", "c.ce")} DESC, c.cell) AS rn
         |       FROM e CROSS JOIN c),
         |a AS (SELECT vec_id, emb, cell FROM a0 WHERE rn = 1),
         |p0 AS (SELECT q.vec_id AS query_id, q.emb AS qe, c.cell,
         |         row_number() OVER (PARTITION BY q.vec_id
         |           ORDER BY ${cosSql("q.emb", "c.ce")} DESC, c.cell) AS cr
         |       FROM e q CROSS JOIN c WHERE q.vec_id < 5),
         |p AS (SELECT query_id, qe, cell FROM p0 WHERE cr <= 4),
         |s AS (SELECT p.query_id, a.vec_id AS neighbor_id,
         |        ${cosSql("p.qe", "a.emb")} AS cos
         |      FROM a JOIN p ON a.cell = p.cell WHERE a.vec_id <> p.query_id),
         |r AS (SELECT query_id, neighbor_id,
         |        CAST(row_number() OVER (PARTITION BY query_id
         |          ORDER BY cos DESC, neighbor_id) AS INT) AS "rank" FROM s)
         |SELECT query_id, neighbor_id, "rank" FROM r WHERE "rank" <= 10
         |ORDER BY query_id, "rank"""".stripMargin

  private lazy val simIvfpqSql: String =
      """WITH ex AS (SELECT vec_id, embedding,
        |    unnest(range(1, len(embedding) + 1)) AS i FROM embeddings),
        |e AS (SELECT vec_id, i,
        |    CAST(round(CAST(embedding[i] AS DOUBLE) * 100) AS BIGINT) AS v
        |  FROM ex),
        |sd AS (SELECT CAST(max(i) AS BIGINT) // 8 AS subdim FROM e),
        |cinit AS (SELECT vec_id, CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell
        |          FROM (SELECT DISTINCT vec_id FROM e WHERE vec_id < 8)),
        |cseed AS (SELECT cinit.cell, e.i, e.v FROM cinit JOIN e USING (vec_id)),
        |cdist AS (SELECT x.vec_id, cseed.cell,
        |            sum((x.v - cseed.v) * (x.v - cseed.v)) AS d
        |          FROM e x JOIN cseed ON cseed.i = x.i GROUP BY 1, 2),
        |assign AS (SELECT vec_id, cell FROM (SELECT vec_id, cell,
        |             row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
        |           FROM cdist) WHERE rn = 1),
        |probes AS (SELECT vec_id AS query_id, cell FROM (SELECT vec_id, cell,
        |             row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
        |           FROM cdist WHERE vec_id < 5) WHERE rn <= 3),
        |init AS (SELECT vec_id, CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid
        |         FROM (SELECT DISTINCT vec_id FROM e WHERE vec_id < 16)),
        |seed AS (SELECT init.cid, e.i, e.v FROM init JOIN e USING (vec_id)),
        |dist AS (SELECT x.vec_id, (x.i - 1) // sd.subdim AS s, seed.cid,
        |           sum((x.v - seed.v) * (x.v - seed.v)) AS d
        |         FROM e x JOIN seed ON seed.i = x.i CROSS JOIN sd
        |         GROUP BY 1, 2, 3),
        |codes AS (SELECT vec_id, s, cid FROM (SELECT vec_id, s, cid,
        |            row_number() OVER (PARTITION BY vec_id, s ORDER BY d, cid) AS rn
        |          FROM dist) WHERE rn = 1),
        |score AS (SELECT p.query_id, x.vec_id AS neighbor_id, sum(qd.d) AS adc
        |          FROM codes x
        |          JOIN assign a ON a.vec_id = x.vec_id
        |          JOIN probes p ON p.cell = a.cell
        |          JOIN dist qd ON qd.s = x.s AND qd.cid = x.cid
        |            AND qd.vec_id = p.query_id
        |          WHERE x.vec_id <> p.query_id
        |          GROUP BY 1, 2),
        |r AS (SELECT query_id, neighbor_id, adc,
        |        row_number() OVER (PARTITION BY query_id
        |          ORDER BY adc, neighbor_id) AS rnk
        |      FROM score)
        |SELECT query_id, neighbor_id, CAST(adc AS BIGINT) AS adc,
        |  CAST(rnk AS INT) AS rank
        |FROM r WHERE rnk <= 10 ORDER BY query_id, rank""".stripMargin

  /** TextOps.bpeMerges re-derived in DuckDB: `rounds` unrolled
    * census→argmax→apply iterations. The chosen pair is a 1-row CTE cross-
    * joined into the apply, whose lambda fuses left-to-right exactly like
    * the engine's fold (list-of-lists trick: list_reduce has no initial-
    * value overload in DuckDB 1.0, so the seed is the first symbol wrapped
    * as a singleton list and elements arrive pre-wrapped). */
  private lazy val bpeMergesSql: String = {
    val rounds = 3
    val topK = 5
    val cte = (1 to rounds).map { i =>
      s"""c$i AS (SELECT p.a AS sym_a, p.b AS sym_b, CAST(sum(cnt) AS BIGINT) AS n
         |  FROM (SELECT cnt, unnest(list_transform(range(1, len(syms)),
         |          j -> struct_pack(a := syms[j], b := syms[j+1]))) AS p
         |        FROM w${i - 1} WHERE len(syms) >= 2)
         |  GROUP BY 1, 2),
         |m$i AS (SELECT sym_a, sym_b FROM c$i ORDER BY n DESC, sym_a, sym_b LIMIT 1),
         |w$i AS (SELECT cnt, CASE WHEN len(syms) < 2 THEN syms ELSE
         |    list_reduce(list_prepend([syms[1]], list_transform(syms[2:], s -> [s])),
         |      (acc, x) -> CASE WHEN acc[-1] = m$i.sym_a AND x[1] = m$i.sym_b
         |                  THEN list_concat(acc[1:len(acc)-1], [m$i.sym_a || m$i.sym_b])
         |                  ELSE list_concat(acc, x) END) END AS syms
         |  FROM w${i - 1} CROSS JOIN m$i)""".stripMargin
    }.mkString(",\n")
    val unions = (1 to rounds).map { i =>
      s"""SELECT CAST($i AS INT) AS round,
         |  CAST(row_number() OVER (ORDER BY n DESC, sym_a, sym_b) AS INT) AS rank,
         |  sym_a, sym_b, n FROM c$i QUALIFY rank <= $topK""".stripMargin
    }.mkString("\nUNION ALL ")
    s"""WITH w0 AS (SELECT cnt, [word[i:i] for i in range(1, len(word)+1)] AS syms
       |  FROM (SELECT word, count(*) AS cnt
       |        FROM (SELECT unnest($toksSql) AS word FROM documents)
       |        GROUP BY word)),
       |$cte
       |SELECT * FROM (
       |$unions
       |) ORDER BY round, rank""".stripMargin
  }

  /** Tables.partsupp re-derived in DuckDB: same dbgen supplier assignment,
    * same integer availqty/supplycost formulas. Prepend inside a WITH. */
  private val partsuppSql =
    """ps0 AS (SELECT p_partkey,
      |          (p_partkey + i * (n_supp // 4 + p_partkey // n_supp)) % n_supp AS ps_suppkey
      |        FROM part
      |        CROSS JOIN (SELECT count(*) AS n_supp FROM supplier)
      |        CROSS JOIN (SELECT unnest(range(4)) AS i)),
      |partsupp AS (SELECT p_partkey AS ps_partkey, ps_suppkey,
      |          (p_partkey * 7 + ps_suppkey * 3) % 9999 + 1 AS ps_availqty,
      |          (p_partkey * 31 + ps_suppkey * 17) % 99900 + 100 AS ps_supplycost_cents
      |        FROM ps0)""".stripMargin

  /** revenue term: extendedprice * (1 - discount) in exact decimal. */
  private val revSql =
    "CAST(l_extendedprice AS DECIMAL(12,2)) * " +
      "CAST(CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(5,2))"

  /** Sampling.hashBucket in SQL: (((key pmod P)·A) mod P) mod 100. The
    * first reduction is the sign-safe `(x % P + P) % P` (DuckDB's `%` keeps
    * the dividend's sign like Spark's), mirroring hashBucket's pmod —
    * identical to the plain form on the non-negative gate keys. */
  private val bucketSql =
    "((((doc_id % 2147483647 + 2147483647) % 2147483647) * 1103515245) % 2147483647) % 100"

  /** The multimodal decode stub's dual polynomial residues over the payload
    * bytes (Multimodal.decodeStub), as a DuckDB CTE: every "decoded"
    * property is a pure function of (h1, h2), so the oracle re-derives the
    * stub's output exactly from the same bytes (ASCII corpus: byte == char
    * code). */
  private val mmHashCte =
    """h AS (
      |  SELECT doc_id AS media_id, CAST(octet_length(encode(text)) AS INT) AS n_bytes,
      |    list_reduce(cs, (a, c) -> (a * 31 + c) % 2147483647) AS h1,
      |    list_reduce(cs, (a, c) -> (a * 131 + c) % 2147483629) AS h2
      |  FROM (SELECT doc_id, text, list_prepend(CAST(0 AS BIGINT),
      |          [ord(text[i:i]) for i in range(1, length(text)+1)]) AS cs
      |        FROM documents))""".stripMargin

  /** cosine(a, b) over DOUBLE[] rounded to 6 — GraftFunctions.cosine_similarity
    * + the engine-side round. */
  private def cosSql(a: String, b: String): String =
    s"round(list_inner_product($a, $b) / " +
      s"(sqrt(list_inner_product($a, $a)) * sqrt(list_inner_product($b, $b))), 6)"

  def oracleSql: Map[String, String] = Map(
    "a2_weekly_histogram" ->
      s"""WITH e AS (SELECT event_type, ${wom("CAST(ts AS DATE)")} AS w FROM events)
         |SELECT event_type,
         |  count(*) FILTER (WHERE w = 1) AS w1, count(*) FILTER (WHERE w = 2) AS w2,
         |  count(*) FILTER (WHERE w = 3) AS w3, count(*) FILTER (WHERE w = 4) AS w4,
         |  count(*) FILTER (WHERE w = 5) AS w5, count(*) FILTER (WHERE w = 6) AS w6
         |FROM e GROUP BY event_type ORDER BY event_type""".stripMargin,
    "a2_weekly_long" ->
      s"""SELECT event_type,
         |  CAST((month(ts) - 1) * 5 + ${wom("CAST(ts AS DATE)")} AS INT) AS bucket,
         |  count(*) AS n
         |FROM events GROUP BY 1, 2 ORDER BY event_type, bucket""".stripMargin,
    "a2_dotw_histogram" ->
      """SELECT event_type,
        |  count(*) FILTER (WHERE dayname(ts) = 'Monday') AS monday,
        |  count(*) FILTER (WHERE dayname(ts) = 'Tuesday') AS tuesday,
        |  count(*) FILTER (WHERE dayname(ts) = 'Wednesday') AS wednesday,
        |  count(*) FILTER (WHERE dayname(ts) = 'Thursday') AS thursday,
        |  count(*) FILTER (WHERE dayname(ts) = 'Friday') AS friday,
        |  count(*) FILTER (WHERE dayname(ts) = 'Saturday') AS saturday,
        |  count(*) FILTER (WHERE dayname(ts) = 'Sunday') AS sunday
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "a3_daily_cube" ->
      s"""SELECT CAST(ts AS DATE) AS d, event_type, $districtSql AS district, count(*) AS n
         |FROM events GROUP BY 1, 2, 3 ORDER BY d, event_type, district""".stripMargin,
    "a3_daily_cube_indexed" ->
      s"""WITH cube_ AS (
         |  SELECT CAST(ts AS DATE) AS d, event_type, $districtSql AS district, count(*) AS n
         |  FROM events GROUP BY 1, 2, 3),
         |cd AS (SELECT CAST(row_number() OVER (ORDER BY event_type) AS INT) AS category_id, event_type
         |       FROM (SELECT DISTINCT event_type FROM events WHERE event_type IS NOT NULL)),
         |dd AS (SELECT CAST(row_number() OVER (ORDER BY district) AS INT) AS district_id, district
         |       FROM (SELECT DISTINCT $districtSql AS district FROM events))
         |SELECT strftime(cube_.d, '%Y/%m/%d') AS d, cd.category_id - 1 AS cat_idx,
         |       dd.district_id - 1 AS dist_idx, cube_.n
         |FROM cube_ JOIN cd USING (event_type) JOIN dd USING (district)
         |ORDER BY d, cat_idx, dist_idx""".stripMargin,
    "a4_category_totals" ->
      "SELECT event_type, count(*) AS n FROM events GROUP BY event_type ORDER BY event_type",
    "a6_dict_event_type" ->
      """SELECT CAST(row_number() OVER (ORDER BY name) AS INT) AS id, name
        |FROM (SELECT DISTINCT event_type AS name FROM events WHERE event_type IS NOT NULL)
        |ORDER BY id""".stripMargin,
    "p5_date_normalize" ->
      "SELECT event_id, strftime(ts, '%Y/%m/%d') AS d FROM events ORDER BY event_id",
    "star_dim_category" ->
      """SELECT CAST(row_number() OVER (ORDER BY name) AS INT) AS category_id, name
        |FROM (SELECT DISTINCT o_orderpriority AS name FROM orders WHERE o_orderpriority IS NOT NULL)
        |ORDER BY category_id""".stripMargin,
    "star_dim_district" ->
      """SELECT CAST(row_number() OVER (ORDER BY name) AS INT) AS district_id, name
        |FROM (SELECT DISTINCT n_name AS name FROM nation WHERE n_name IS NOT NULL)
        |ORDER BY district_id""".stripMargin,
    "star_dim_time" ->
      s"""WITH dd AS (SELECT DISTINCT CAST(o_orderdate AS DATE) AS d FROM orders
         |            WHERE o_orderdate IS NOT NULL)
         |SELECT CAST(row_number() OVER (ORDER BY d) AS INT) AS time_id, d,
         |  CAST(year(d) AS INT) AS year, CAST(month(d) AS INT) AS month,
         |  ${wom("d")} AS week, CAST(dayofmonth(d) AS INT) AS day
         |FROM dd ORDER BY time_id""".stripMargin,
    "star_fact" ->
      """WITH src AS (
        |  SELECT CAST(o.o_orderdate AS DATE) AS d, o.o_orderpriority AS category, n.n_name AS district
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |                JOIN nation n ON c.c_nationkey = n.n_nationkey),
        |agg AS (SELECT d, category, district, count(*) AS crimes FROM src GROUP BY 1, 2, 3),
        |cat AS (SELECT CAST(row_number() OVER (ORDER BY name) AS INT) AS category_id, name
        |        FROM (SELECT DISTINCT o_orderpriority AS name FROM orders WHERE o_orderpriority IS NOT NULL)),
        |dist AS (SELECT CAST(row_number() OVER (ORDER BY name) AS INT) AS district_id, name
        |         FROM (SELECT DISTINCT n_name AS name FROM nation WHERE n_name IS NOT NULL)),
        |tp AS (SELECT CAST(row_number() OVER (ORDER BY d) AS INT) AS time_id, d
        |       FROM (SELECT DISTINCT CAST(o_orderdate AS DATE) AS d FROM orders WHERE o_orderdate IS NOT NULL))
        |SELECT agg.crimes, dist.district_id, cat.category_id, tp.time_id
        |FROM agg JOIN cat ON agg.category = cat.name
        |         JOIN dist ON agg.district = dist.name
        |         JOIN tp ON agg.d = tp.d
        |ORDER BY tp.time_id, cat.category_id, dist.district_id""".stripMargin,
    "a5_sum_by_category" ->
      """SELECT o_orderpriority AS name, count(*) AS crimes FROM orders
        |WHERE year(o_orderdate) = 1996 GROUP BY 1 ORDER BY name""".stripMargin,
    "a5_sum_by_district" ->
      """SELECT n.n_name AS name, count(*) AS crimes
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |              JOIN nation n ON c.c_nationkey = n.n_nationkey
        |WHERE year(o.o_orderdate) = 1996 GROUP BY 1 ORDER BY name""".stripMargin,
    "olap_rollup_time" ->
      s"""WITH b AS (SELECT CAST(year(o_orderdate) AS INT) AS year,
         |  CAST(month(o_orderdate) AS INT) AS month,
         |  ${wom("CAST(o_orderdate AS DATE)")} AS week,
         |  CAST(dayofmonth(o_orderdate) AS INT) AS day FROM orders)
         |SELECT year, month, week, day, count(*) AS crimes,
         |  GROUPING(year, month, week, day) AS gid
         |FROM b GROUP BY ROLLUP(year, month, week, day)
         |ORDER BY gid, year NULLS FIRST, month NULLS FIRST, week NULLS FIRST, day NULLS FIRST""".stripMargin,
    "olap_grouping_sets" ->
      """WITH b AS (
        |  SELECT o.o_orderpriority AS category, n.n_name AS district
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |                JOIN nation n ON c.c_nationkey = n.n_nationkey)
        |SELECT category, district, count(*) AS n, GROUPING(category, district) AS gid
        |FROM b GROUP BY GROUPING SETS ((category), (district))
        |ORDER BY gid, category NULLS FIRST, district NULLS FIRST""".stripMargin,
    "olap_cube_cat_district" ->
      """WITH b AS (
        |  SELECT o.o_orderpriority AS category, n.n_name AS district,
        |         CAST(o.o_totalprice AS DECIMAL(18,2)) AS price
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |                JOIN nation n ON c.c_nationkey = n.n_nationkey)
        |SELECT category, district, count(*) AS n,
        |  CAST(CAST(sum(price) AS DECIMAL(18,2)) AS DOUBLE) AS total_price,
        |  GROUPING(category, district) AS gid
        |FROM b GROUP BY CUBE(category, district)
        |ORDER BY gid, category NULLS FIRST, district NULLS FIRST""".stripMargin,
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_qty,
        |  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_base_price,
        |  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
        |    * CAST(CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(5,2))) AS DECIMAL(18,4)) AS DOUBLE) AS sum_disc_price,
        |  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
        |    * CAST(CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(5,2))
        |    * CAST(CAST(1 AS DECIMAL(3,2)) + CAST(l_tax AS DECIMAL(4,2)) AS DECIMAL(5,2))) AS DECIMAL(18,6)) AS DOUBLE) AS sum_charge,
        |  count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q3_top_urgent_orders" ->
      s"""SELECT o.o_orderkey, CAST(CAST(sum($revSql) AS DECIMAL(18,4)) AS DOUBLE) AS revenue,
         |  min(CAST(o.o_orderdate AS DATE)) AS o_orderdate
         |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
         |               JOIN customer c ON o.o_custkey = c.c_custkey
         |WHERE c.c_mktsegment = 'BUILDING'
         |GROUP BY o.o_orderkey ORDER BY revenue DESC, o.o_orderkey LIMIT 10""".stripMargin,
    "q5_local_supplier_revenue" ->
      s"""SELECT n.n_name, CAST(CAST(sum($revSql) AS DECIMAL(18,4)) AS DOUBLE) AS revenue
         |FROM lineitem l
         |JOIN orders o ON l.l_orderkey = o.o_orderkey AND year(o.o_orderdate) = 1996
         |JOIN customer c ON o.o_custkey = c.c_custkey
         |JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
         |JOIN nation n ON s.s_nationkey = n.n_nationkey
         |JOIN region r ON n.n_regionkey = r.r_regionkey AND r.r_name = 'ASIA'
         |GROUP BY n.n_name ORDER BY revenue DESC, n.n_name""".stripMargin,
    "q14_brand_revenue" ->
      s"""SELECT p.p_brand, CAST(CAST(sum($revSql) AS DECIMAL(18,4)) AS DOUBLE) AS revenue,
         |  count(*) AS n_items
         |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
         |GROUP BY p.p_brand ORDER BY p.p_brand""".stripMargin,
    "join_semi_customers_with_orders" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE c_custkey IN (SELECT o_custkey FROM orders) ORDER BY c_custkey""".stripMargin,
    "join_anti_customers_without_orders" ->
      """SELECT c_custkey, c_name FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |  WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""".stripMargin,
    "win_top3_orders_per_customer" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    CAST(row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rn
        |  FROM orders) WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,
    "win_order_deltas" ->
      """WITH b AS (SELECT o_custkey, o_orderkey, o_orderdate,
        |  CAST(o_totalprice AS DECIMAL(18,2)) AS price FROM orders)
        |SELECT o_custkey, o_orderkey, CAST(price AS DOUBLE) AS price,
        |  CAST(lag(price, 1) OVER w AS DOUBLE) AS prev_price,
        |  CAST(CAST(sum(price) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DECIMAL(18,2)) AS DOUBLE) AS running_total
        |FROM b WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    "win_ntile_priority" ->
      """SELECT o_orderkey, o_orderpriority, CAST(o_totalprice AS DOUBLE) AS price,
        |  CAST(ntile(4) OVER w AS INT) AS quartile,
        |  percent_rank() OVER w AS pct_rank,
        |  cume_dist() OVER w AS cume
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
        |ORDER BY o_orderpriority, price, o_orderkey""".stripMargin,
    "reshape_pivot_monthly" ->
      s"""WITH b AS (SELECT l_returnflag, month(l_shipdate) AS m, $revSql AS rev FROM lineitem)
         |SELECT l_returnflag,
         |${(1 to 12).map(i =>
             s"  CAST(CAST(sum(rev) FILTER (WHERE m = $i) AS DECIMAL(18,4)) AS DOUBLE) AS m$i")
             .mkString(",\n")}
         |FROM b GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "reshape_unpivot_monthly" ->
      s"""WITH b AS (SELECT l_returnflag, month(l_shipdate) AS m, $revSql AS rev FROM lineitem)
         |SELECT l_returnflag, 'm' || CAST(m AS VARCHAR) AS month,
         |  CAST(CAST(sum(rev) AS DECIMAL(18,4)) AS DOUBLE) AS revenue
         |FROM b GROUP BY 1, 2 ORDER BY l_returnflag, month""".stripMargin,
    "join_range_price_bands" ->
      """WITH bands(band, lo, hi) AS (VALUES
        |  ('b0_under_100k', 0, 100000), ('b1_100k_200k', 100000, 200000),
        |  ('b2_200k_300k', 200000, 300000), ('b3_300k_400k', 300000, 400000),
        |  ('b4_over_400k', 400000, 600000)),
        |j AS (SELECT b.band, o.o_totalprice FROM orders o JOIN bands b
        |      ON o.o_totalprice >= b.lo AND o.o_totalprice < b.hi)
        |SELECT band, count(*) AS n,
        |  CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS total_price
        |FROM j GROUP BY band ORDER BY band""".stripMargin,
    "subq_above_avg_activity" ->
      """WITH pu AS (SELECT user_id, count(*) AS n FROM events GROUP BY user_id),
        |st AS (SELECT sum(n) AS total, count(*) AS n_users FROM pu)
        |SELECT user_id, n FROM pu, st
        |WHERE n * n_users > total ORDER BY user_id""".stripMargin,
    "q18_large_orders" ->
      """WITH big AS (SELECT l_orderkey,
        |    sum(CAST(l_quantity AS DECIMAL(12,2))) AS total_qty
        |  FROM lineitem GROUP BY l_orderkey HAVING total_qty > 250)
        |SELECT o.o_orderkey, c.c_name,
        |  CAST(CAST(b.total_qty AS DECIMAL(18,2)) AS DOUBLE) AS total_qty,
        |  CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS o_totalprice
        |FROM orders o JOIN big b ON o.o_orderkey = b.l_orderkey
        |              JOIN customer c ON o.o_custkey = c.c_custkey
        |ORDER BY o.o_orderkey""".stripMargin,
    "q4_priority_exists" ->
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders o
        |WHERE year(o_orderdate) = 1996
        |  AND EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 45)
        |GROUP BY 1 ORDER BY o_orderpriority""".stripMargin,
    // the three partsupp-built shapes: partsupp is re-DERIVED in the WITH
    // (see partsuppSql) — both engines compute the identical integer table
    "q2_min_cost_supplier" ->
      s"""WITH $partsuppSql,
         |rs AS (SELECT s_suppkey, s_name, s_acctbal, n_name
         |       FROM supplier JOIN nation ON s_nationkey = n_nationkey
         |            JOIN region ON n_regionkey = r_regionkey
         |       WHERE r_name = 'EUROPE'),
         |pr AS (SELECT ps_partkey, ps_supplycost_cents, s_name, s_acctbal, n_name
         |       FROM partsupp JOIN rs ON ps_suppkey = s_suppkey),
         |mc AS (SELECT ps_partkey, min(ps_supplycost_cents) AS min_cost
         |       FROM pr GROUP BY 1)
         |SELECT pr.s_acctbal, pr.s_name, pr.n_name, p.p_partkey,
         |       pr.ps_supplycost_cents
         |FROM pr JOIN mc ON pr.ps_partkey = mc.ps_partkey
         |              AND pr.ps_supplycost_cents = mc.min_cost
         |     JOIN part p ON pr.ps_partkey = p.p_partkey
         |WHERE p.p_size <= 25 AND p.p_type = 'ECONOMY'
         |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
         |LIMIT 100""".stripMargin,
    "q11_important_stock" ->
      s"""WITH $partsuppSql,
         |ns AS (SELECT s_suppkey FROM supplier
         |       JOIN nation ON s_nationkey = n_nationkey
         |       WHERE n_name = 'NATION_7'),
         |pp AS (SELECT ps_partkey,
         |         CAST(sum(ps_supplycost_cents * ps_availqty) AS BIGINT) AS value_cents
         |       FROM partsupp JOIN ns ON ps_suppkey = s_suppkey GROUP BY 1)
         |SELECT ps_partkey, value_cents
         |FROM pp CROSS JOIN (SELECT CAST(sum(value_cents) AS BIGINT) AS total_cents
         |                    FROM pp) t
         |WHERE value_cents * 1000 > total_cents * 1
         |ORDER BY value_cents DESC, ps_partkey""".stripMargin,
    "q20_promo_suppliers" ->
      s"""WITH $partsuppSql,
         |sh AS (SELECT l_partkey, l_suppkey, CAST(sum(l_quantity) AS BIGINT) AS qty
         |       FROM lineitem
         |       WHERE l_shipdate >= DATE '2000-01-01' AND l_shipdate < DATE '2001-01-01'
         |       GROUP BY 1, 2),
         |q AS (SELECT DISTINCT ps_suppkey FROM partsupp
         |      JOIN sh ON ps_partkey = l_partkey AND ps_suppkey = l_suppkey
         |      WHERE ps_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
         |        AND ps_availqty * 2 > qty)
         |SELECT s_suppkey, s_name FROM supplier
         |JOIN nation ON s_nationkey = n_nationkey
         |WHERE n_name = 'NATION_7' AND s_suppkey IN (SELECT ps_suppkey FROM q)
         |ORDER BY s_suppkey""".stripMargin,
    "q12_linestatus_priority" ->
      """SELECT l_linestatus,
        |  count(*) FILTER (WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')) AS high_count,
        |  count(*) FILTER (WHERE o_orderpriority NOT IN ('1-URGENT', '2-HIGH')) AS low_count
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |WHERE year(l.l_shipdate) = 1996
        |GROUP BY 1 ORDER BY l_linestatus""".stripMargin,
    "q16_part_supplier_counts" ->
      """SELECT p_brand, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) l
        |JOIN part p ON l.l_partkey = p.p_partkey
        |WHERE p.p_brand <> 'Brand#1'
        |GROUP BY 1, 2 ORDER BY p_brand, p_size""".stripMargin,
    // exact-arithmetic threshold (5*qty*n < sum_qty), never 0.2*avg floats
    "q17_small_quantity_revenue" ->
      """WITH li AS (SELECT l_partkey, CAST(l_quantity AS DECIMAL(12,2)) AS qty,
        |       CAST(l_extendedprice AS DECIMAL(12,2)) AS price
        |     FROM lineitem JOIN part ON l_partkey = p_partkey
        |     WHERE p_brand = 'Brand#3'),
        |st AS (SELECT l_partkey, sum(qty) AS sum_qty, count(*) AS n
        |       FROM li GROUP BY 1)
        |SELECT CAST(CAST(sum(price) AS DECIMAL(18,2)) AS DOUBLE) AS revenue,
        |  count(*) AS n_lines
        |FROM li JOIN st USING (l_partkey)
        |WHERE qty * n * 5 < sum_qty""".stripMargin,
    "q21_last_shipper" ->
      """WITH ns AS (SELECT l_orderkey, count(DISTINCT l_suppkey) AS nsupp
        |            FROM lineitem GROUP BY 1),
        |w AS (SELECT l_orderkey, l_suppkey,
        |        row_number() OVER (PARTITION BY l_orderkey
        |          ORDER BY l_shipdate DESC, l_suppkey DESC) AS rn
        |      FROM lineitem),
        |c AS (SELECT w.l_suppkey AS suppkey, count(*) AS n_orders
        |      FROM w JOIN ns USING (l_orderkey)
        |      WHERE w.rn = 1 AND ns.nsupp >= 2 GROUP BY 1)
        |SELECT s.s_name, c.n_orders
        |FROM c JOIN supplier s ON c.suppkey = s.s_suppkey
        |ORDER BY n_orders DESC, s_name LIMIT 10""".stripMargin,
    "q19_disjunctive_revenue" ->
      s"""SELECT CAST(CAST(sum($revSql) AS DECIMAL(18,4)) AS DOUBLE) AS revenue,
         |  count(*) AS n_lines
         |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
         |WHERE (p.p_brand = 'Brand#1' AND l.l_quantity BETWEEN 1 AND 15)
         |   OR (p.p_brand = 'Brand#2' AND l.l_quantity BETWEEN 10 AND 25)
         |   OR (p.p_size >= 40 AND l.l_quantity >= 30)
         |ORDER BY revenue""".stripMargin,
    "q6_forecast_revenue" ->
      """SELECT CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
        |    * CAST(l_discount AS DECIMAL(4,2))) AS DECIMAL(18,4)) AS DOUBLE) AS revenue,
        |  count(*) AS n_lines
        |FROM lineitem
        |WHERE year(l_shipdate) = 1996
        |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin,
    "q7_volume_shipping" ->
      s"""SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
         |  year(l.l_shipdate) AS l_year,
         |  CAST(CAST(sum($revSql) AS DECIMAL(18,4)) AS DOUBLE) AS revenue
         |FROM lineitem l
         |JOIN supplier s ON l.l_suppkey = s.s_suppkey
         |JOIN nation sn ON s.s_nationkey = sn.n_nationkey
         |JOIN orders o ON l.l_orderkey = o.o_orderkey
         |JOIN customer c ON o.o_custkey = c.c_custkey
         |JOIN nation cn ON c.c_nationkey = cn.n_nationkey
         |WHERE year(l.l_shipdate) IN (1996, 1997) AND sn.n_name <> cn.n_name
         |GROUP BY 1, 2, 3 ORDER BY supp_nation, cust_nation, l_year""".stripMargin,
    "q8_market_share" ->
      s"""WITH b AS (SELECT year(o.o_orderdate) AS o_year, sn.n_name AS supp_nation,
         |    $revSql AS rev
         |  FROM lineitem l
         |  JOIN part p ON l.l_partkey = p.p_partkey AND p.p_type = 'ECONOMY'
         |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
         |  JOIN nation sn ON s.s_nationkey = sn.n_nationkey
         |  JOIN orders o ON l.l_orderkey = o.o_orderkey
         |  JOIN customer c ON o.o_custkey = c.c_custkey
         |  JOIN nation n ON c.c_nationkey = n.n_nationkey
         |  JOIN region r ON n.n_regionkey = r.r_regionkey AND r.r_name = 'ASIA'
         |  WHERE year(o.o_orderdate) IN (1996, 1997)),
         |a AS (SELECT o_year,
         |  CAST(CAST(sum(CASE WHEN supp_nation = 'NATION_2' THEN rev
         |    ELSE CAST(0 AS DECIMAL(17,4)) END) AS DECIMAL(18,4)) AS DOUBLE) AS nation_revenue,
         |  CAST(CAST(sum(rev) AS DECIMAL(18,4)) AS DOUBLE) AS total_revenue
         |FROM b GROUP BY 1)
         |SELECT o_year, round(nation_revenue / total_revenue, 6) AS mkt_share,
         |  nation_revenue, total_revenue
         |FROM a ORDER BY o_year""".stripMargin,
    "q9_profit_by_nation" ->
      s"""SELECT n.n_name, year(l.l_shipdate) AS o_year,
         |  CAST(CAST(sum($revSql) AS DECIMAL(18,4)) AS DOUBLE) AS profit
         |FROM lineitem l
         |JOIN part p ON l.l_partkey = p.p_partkey AND p.p_name LIKE '%red%'
         |JOIN supplier s ON l.l_suppkey = s.s_suppkey
         |JOIN nation n ON s.s_nationkey = n.n_nationkey
         |GROUP BY 1, 2 ORDER BY n_name, o_year""".stripMargin,
    "q10_returned_items" ->
      s"""WITH rc AS (SELECT o.o_custkey,
         |    CAST(CAST(sum($revSql) AS DECIMAL(18,4)) AS DOUBLE) AS revenue
         |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
         |  WHERE l.l_returnflag = 'R'
         |    AND year(o.o_orderdate) = 1996 AND quarter(o.o_orderdate) = 1
         |  GROUP BY 1 ORDER BY revenue DESC, o_custkey LIMIT 20)
         |SELECT c.c_custkey, c.c_name, rc.revenue, c.c_acctbal, n.n_name
         |FROM rc JOIN customer c ON rc.o_custkey = c.c_custkey
         |        JOIN nation n ON c.c_nationkey = n.n_nationkey
         |ORDER BY revenue DESC, c_custkey""".stripMargin,
    "q13_order_count_dist" ->
      """WITH pc AS (SELECT c.c_custkey, count(o.o_orderkey) AS c_count
        |  FROM customer c LEFT OUTER JOIN orders o
        |    ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
        |  GROUP BY 1)
        |SELECT c_count, count(*) AS custdist
        |FROM pc GROUP BY 1 ORDER BY custdist DESC, c_count DESC""".stripMargin,
    // max-equality tested on the EXACT decimal sums (the double cast happens
    // after), so the kept supplier set is bit-identical cross-engine
    "q15_top_supplier" ->
      s"""WITH r AS (SELECT l_suppkey,
         |    CAST(sum($revSql) AS DECIMAL(18,4)) AS total_rev
         |  FROM lineitem
         |  WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1996-04-01'
         |  GROUP BY 1),
         |m AS (SELECT max(total_rev) AS max_rev FROM r)
         |SELECT s.s_suppkey, s.s_name, CAST(r.total_rev AS DOUBLE) AS total_revenue
         |FROM r JOIN supplier s ON r.l_suppkey = s.s_suppkey
         |CROSS JOIN m
         |WHERE r.total_rev = m.max_rev
         |ORDER BY s_suppkey""".stripMargin,
    // above-average threshold as exact cross-multiplication (bal·n > sum),
    // never a float average; cntrycode = custkey mod 7 (no phone column)
    "q22_idle_customers" ->
      """WITH bal AS (SELECT c_custkey, c_custkey % 7 AS cntrycode,
        |    CAST(c_acctbal AS DECIMAL(12,2)) AS bal FROM customer),
        |st AS (SELECT sum(bal) AS pos_sum, count(*) AS pos_n
        |       FROM bal WHERE bal > 0)
        |SELECT cntrycode, count(*) AS numcust,
        |  CAST(CAST(sum(bal) AS DECIMAL(18,2)) AS DOUBLE) AS totacctbal
        |FROM bal, st
        |WHERE bal * pos_n > pos_sum
        |  AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = bal.c_custkey
        |                  AND o.o_orderdate >= DATE '2000-01-01')
        |GROUP BY 1 ORDER BY cntrycode""".stripMargin,
    "corpus_chunk_overlap" ->
      """WITH c AS (SELECT doc_id, text,
        |    unnest(range(0, (length(text)-1)//90 + 1)) AS chunk_id
        |  FROM documents)
        |SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
        |  substring(text, CAST(chunk_id*90+1 AS INT), 120) AS chunk_text,
        |  length(substring(text, CAST(chunk_id*90+1 AS INT), 120)) AS chunk_len
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin,
    // adjacent same-doc chunk pairs — the contrastive positive miner
    "corpus_contrastive_pairs" ->
      """WITH c AS (SELECT doc_id, text,
        |    unnest(range(0, (length(text)-1)//90 + 1)) AS chunk_id
        |  FROM documents),
        |ch AS (SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
        |    substring(text, CAST(chunk_id*90+1 AS INT), 120) AS chunk_text
        |  FROM c)
        |SELECT a.doc_id, a.chunk_id AS chunk_a, b.chunk_id AS chunk_b,
        |  a.chunk_text AS text_a, b.chunk_text AS text_b
        |FROM ch a JOIN ch b
        |  ON b.doc_id = a.doc_id AND b.chunk_id = a.chunk_id + 1
        |ORDER BY a.doc_id, chunk_a""".stripMargin,
    // the full 2-round Lloyd trajectory replayed relationally: quantize to
    // the round(x·1000) integer grid, exact int64 distances, round-half-up
    // centroid updates — every intermediate integer, so the trajectory is
    // bit-identical to the Spark loop (seed = 8 lowest vec_ids)
    "ml_kmeans_clusters" ->
      """WITH ex AS (SELECT vec_id, embedding,
        |    unnest(range(1, len(embedding) + 1)) AS i FROM embeddings),
        |e AS (SELECT vec_id, i,
        |    CAST(round(CAST(embedding[i] AS DOUBLE) * 1000) AS BIGINT) AS v
        |  FROM ex),
        |init AS (SELECT vec_id, CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid
        |         FROM (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 8)),
        |c0 AS (SELECT init.cid, e.i, e.v AS cv FROM init JOIN e USING (vec_id)),
        |d1 AS (SELECT e.vec_id, c0.cid, sum((e.v - c0.cv)*(e.v - c0.cv)) AS d
        |       FROM e JOIN c0 ON e.i = c0.i GROUP BY 1, 2),
        |a1 AS (SELECT vec_id, cid, d FROM (SELECT vec_id, cid, d,
        |         row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
        |       FROM d1) WHERE rn = 1),
        |s1 AS (SELECT a1.cid, e.i, sum(e.v) AS s, count(*) AS n
        |       FROM a1 JOIN e USING (vec_id) GROUP BY 1, 2),
        |c1 AS (SELECT cid, i, CAST(floor((2*s + n) / (2.0*n)) AS BIGINT) AS cv FROM s1),
        |d2 AS (SELECT e.vec_id, c1.cid, sum((e.v - c1.cv)*(e.v - c1.cv)) AS d
        |       FROM e JOIN c1 ON e.i = c1.i GROUP BY 1, 2),
        |a2 AS (SELECT vec_id, cid, d FROM (SELECT vec_id, cid, d,
        |         row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
        |       FROM d2) WHERE rn = 1)
        |SELECT cid AS cluster, count(*) AS n_points, CAST(sum(d) AS BIGINT) AS inertia
        |FROM a2 GROUP BY 1 ORDER BY 1""".stripMargin,
    // integer-exact weighted PageRank (seed 1e12, damping 17/20, div-first
    // contributions), 3 unrolled rounds over the nation trade graph
    "graph_pagerank_nations" ->
      """WITH edges AS (
        |  SELECT sn.n_name AS src, cn.n_name AS dst, count(*) AS w
        |  FROM lineitem l
        |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |  JOIN nation sn ON s.s_nationkey = sn.n_nationkey
        |  JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN nation cn ON c.c_nationkey = cn.n_nationkey
        |  GROUP BY 1, 2),
        |outw AS (SELECT src, sum(w) AS wout FROM edges GROUP BY 1),
        |e AS (SELECT edges.src, edges.dst, edges.w, outw.wout
        |      FROM edges JOIN outw USING (src)),
        |i1 AS (SELECT e.dst, sum((1000000000000 // e.wout) * e.w) AS m
        |       FROM e GROUP BY 1),
        |r1 AS (SELECT n.n_name, 150000000000 + (COALESCE(i.m, 0) * 17) // 20 AS r
        |       FROM nation n LEFT JOIN i1 i ON n.n_name = i.dst),
        |i2 AS (SELECT e.dst, sum((r1.r // e.wout) * e.w) AS m
        |       FROM e JOIN r1 ON r1.n_name = e.src GROUP BY 1),
        |r2 AS (SELECT n.n_name, 150000000000 + (COALESCE(i.m, 0) * 17) // 20 AS r
        |       FROM nation n LEFT JOIN i2 i ON n.n_name = i.dst),
        |i3 AS (SELECT e.dst, sum((r2.r // e.wout) * e.w) AS m
        |       FROM e JOIN r2 ON r2.n_name = e.src GROUP BY 1),
        |r3 AS (SELECT n.n_name, 150000000000 + (COALESCE(i.m, 0) * 17) // 20 AS r
        |       FROM nation n LEFT JOIN i3 i ON n.n_name = i.dst)
        |SELECT n_name, CAST(r AS BIGINT) AS rank FROM r3
        |ORDER BY rank DESC, n_name""".stripMargin,
    // ordered-form triangle enumeration (a < b < c, each triangle once)
    // over the undirected distinct trade edges; same extraction CTE as
    // pagerank
    "graph_triangles" ->
      """WITH edges AS (
        |  SELECT sn.n_name AS src, cn.n_name AS dst
        |  FROM lineitem l
        |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |  JOIN nation sn ON s.s_nationkey = sn.n_nationkey
        |  JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN nation cn ON c.c_nationkey = cn.n_nationkey
        |  GROUP BY 1, 2),
        |u AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        |      FROM edges WHERE src <> dst),
        |t AS (SELECT x.a, x.b, y.b AS c
        |      FROM u x JOIN u y ON y.a = x.b
        |               JOIN u z ON z.a = x.a AND z.b = y.b),
        |v AS (SELECT unnest([a, b, c]) AS n_name FROM t)
        |SELECT n_name, count(*) AS n_triangles FROM v
        |GROUP BY 1 ORDER BY n_name""".stripMargin,
    // BFS distances via recursive CTE: UNION dedups per layer, min(hops)
    // is the shortest distance within the same 6-hop bound the Spark
    // frontier loop runs
    "graph_bfs_hops" ->
      """WITH RECURSIVE edges AS (
        |  SELECT DISTINCT sn.n_name AS src, cn.n_name AS dst
        |  FROM lineitem l
        |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |  JOIN nation sn ON s.s_nationkey = sn.n_nationkey
        |  JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN nation cn ON c.c_nationkey = cn.n_nationkey
        |  WHERE sn.n_name <> cn.n_name),
        |bfs(n_name, hops) AS (
        |  SELECT 'NATION_0', 0
        |  UNION
        |  SELECT e.dst, bfs.hops + 1
        |  FROM bfs JOIN edges e ON e.src = bfs.n_name
        |  WHERE bfs.hops < 6)
        |SELECT n_name, CAST(min(hops) AS INT) AS hops
        |FROM bfs GROUP BY 1 ORDER BY n_name""".stripMargin,
    "graph_degree_census" ->
      """WITH edges AS (
        |  SELECT sn.n_name AS src, cn.n_name AS dst, count(*) AS w
        |  FROM lineitem l
        |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |  JOIN nation sn ON s.s_nationkey = sn.n_nationkey
        |  JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN nation cn ON c.c_nationkey = cn.n_nationkey
        |  GROUP BY 1, 2 HAVING src <> dst),
        |o AS (SELECT src AS n_name, count(*) AS out_deg,
        |        CAST(sum(w) AS BIGINT) AS out_w FROM edges GROUP BY 1),
        |i AS (SELECT dst AS n_name, count(*) AS in_deg,
        |        CAST(sum(w) AS BIGINT) AS in_w FROM edges GROUP BY 1),
        |r AS (SELECT e1.src AS n_name, count(*) AS n_reciprocal
        |      FROM edges e1 JOIN edges e2
        |        ON e1.src = e2.dst AND e1.dst = e2.src GROUP BY 1)
        |SELECT coalesce(o.n_name, i.n_name) AS n_name,
        |  CAST(coalesce(out_deg, 0) AS BIGINT) AS out_deg,
        |  CAST(coalesce(in_deg, 0) AS BIGINT) AS in_deg,
        |  CAST(coalesce(out_w, 0) AS BIGINT) AS out_w,
        |  CAST(coalesce(in_w, 0) AS BIGINT) AS in_w,
        |  CAST(coalesce(n_reciprocal, 0) AS BIGINT) AS n_reciprocal
        |FROM o FULL JOIN i ON o.n_name = i.n_name
        |LEFT JOIN r ON coalesce(o.n_name, i.n_name) = r.n_name
        |ORDER BY n_name""".stripMargin,
    // integer micro-unit mixture design: share and equalizing weight are
    // exact `x*1e6 div y` arithmetic; zero-token sources get NULL weight
    "corpus_mixture_weights" ->
      s"""WITH per AS (SELECT source,
         |    CAST(sum(len($toksSql)) AS BIGINT) AS n_tokens
         |  FROM documents GROUP BY 1),
         |t AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total,
         |        count(*) AS n_sources FROM per)
         |SELECT source, n_tokens,
         |  n_tokens * 1000000 // t.total AS share_micro,
         |  CASE WHEN n_tokens = 0 THEN NULL
         |    ELSE t.total * 1000000 // (t.n_sources * n_tokens) END
         |    AS weight_micro
         |FROM per, t ORDER BY source""".stripMargin,
    // SemDeDup census: one assignment round vs the seed codebook, then the
    // exact cross-multiplied cosine test (cos² ≥ 49/400 ⇔ cos ≥ 0.35)
    // against each cluster's lowest-id representative
    "ml_semdedup" ->
      """WITH ex AS (SELECT vec_id, embedding,
        |    unnest(range(1, len(embedding) + 1)) AS i FROM embeddings),
        |e AS (SELECT vec_id, i,
        |    CAST(round(CAST(embedding[i] AS DOUBLE) * 100) AS BIGINT) AS v
        |  FROM ex),
        |init AS (SELECT vec_id, CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid
        |         FROM (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 8)),
        |c0 AS (SELECT init.cid, e.i, e.v AS cv FROM init JOIN e USING (vec_id)),
        |d1 AS (SELECT e.vec_id, c0.cid, sum((e.v - c0.cv)*(e.v - c0.cv)) AS d
        |       FROM e JOIN c0 ON e.i = c0.i GROUP BY 1, 2),
        |a1 AS (SELECT vec_id, cid FROM (SELECT vec_id, cid, d,
        |         row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
        |       FROM d1) WHERE rn = 1),
        |nrm AS (SELECT vec_id, sum(v*v) AS n2 FROM e GROUP BY 1),
        |reps AS (SELECT cid, min(vec_id) AS rep_id FROM a1 GROUP BY 1),
        |dots AS (SELECT a.vec_id, a.cid, r.rep_id, sum(ea.v * er.v) AS dot
        |         FROM a1 a JOIN reps r ON a.cid = r.cid
        |         JOIN e ea ON ea.vec_id = a.vec_id
        |         JOIN e er ON er.vec_id = r.rep_id AND er.i = ea.i
        |         GROUP BY 1, 2, 3),
        |fl AS (SELECT d.cid,
        |    CASE WHEN d.vec_id <> d.rep_id AND d.dot > 0
        |          AND d.dot*d.dot*400 >= qa.n2 * qr.n2 * 49 THEN 1 ELSE 0 END AS dropped
        |  FROM dots d JOIN nrm qa ON qa.vec_id = d.vec_id
        |              JOIN nrm qr ON qr.vec_id = d.rep_id)
        |SELECT cid AS cluster, count(*) AS n_members,
        |  CAST(sum(dropped) AS BIGINT) AS n_dropped
        |FROM fl GROUP BY 1 ORDER BY 1""".stripMargin,
    // trigram-shingle sets per source (engine: native shingles expression),
    // self-join bounded by sources² per gram; jaccard on the micro grid —
    // integer floor division over the exact counts on both sides
    "corpus_source_overlap" ->
      s"""WITH g0 AS (SELECT DISTINCT source, gram FROM (
         |    SELECT source, unnest(list_distinct(
         |      CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
         |           ELSE [array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks)-1)]
         |      END)) AS gram
         |    FROM (SELECT source, $toksSql AS toks FROM documents))),
         |sizes AS (SELECT source, count(*) AS n_grams FROM g0 GROUP BY 1),
         |p AS (SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_shared
         |      FROM g0 a JOIN g0 b ON a.gram = b.gram AND a.source < b.source
         |      GROUP BY 1, 2)
         |SELECT p.src_a, p.src_b, p.n_shared,
         |  CAST(p.n_shared * 1000000 // (sa.n_grams + sb.n_grams - p.n_shared)
         |    AS BIGINT) AS jaccard_micro
         |FROM p JOIN sizes sa ON p.src_a = sa.source
         |       JOIN sizes sb ON p.src_b = sb.source
         |ORDER BY src_a, src_b""".stripMargin,
    // sparse tf-idf cosine in the [2,100]-df shingle band; idf quantized to
    // the milli grid (round(1000·ln) — one transcendental per distinct df,
    // exact int arithmetic after), score = ⌊10⁶·dot²/(na·nb)⌋ replayed here
    // in int128 against the engine's decimal(38,0)
    "sim_tfidf_pairs" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |g AS (SELECT doc_id, unnest(
         |    CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
         |         ELSE [array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks)-1)]
         |    END) AS gram FROM t),
         |tf AS (SELECT doc_id, gram, count(*) AS tf FROM g GROUP BY 1, 2),
         |df AS (SELECT gram, count(*) AS df
         |       FROM (SELECT DISTINCT doc_id, gram FROM g)
         |       GROUP BY 1 HAVING count(*) BETWEEN 2 AND 100),
         |n AS (SELECT count(*) AS n FROM documents),
         |w AS (SELECT tf.doc_id, tf.gram,
         |        tf.tf * CAST(round(1000 * ln(CAST(n.n + 1 AS DOUBLE) / (df.df + 1)))
         |                 AS BIGINT) AS wq
         |      FROM tf JOIN df USING (gram) CROSS JOIN n),
         |nm AS (SELECT doc_id, CAST(sum(wq*wq) AS HUGEINT) AS n2 FROM w GROUP BY 1),
         |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |        CAST(sum(a.wq*b.wq) AS HUGEINT) AS dot
         |      FROM w a JOIN w b ON a.gram = b.gram AND a.doc_id < b.doc_id
         |      GROUP BY 1, 2)
         |SELECT doc_a, doc_b, cos2_micro FROM (
         |  SELECT p.doc_a, p.doc_b,
         |    CAST(p.dot * p.dot * 1000000 // (na.n2 * nb.n2) AS BIGINT) AS cos2_micro
         |  FROM p JOIN nm na ON p.doc_a = na.doc_id
         |         JOIN nm nb ON p.doc_b = nb.doc_id
         |  WHERE na.n2 > 0 AND nb.n2 > 0)
         |WHERE cos2_micro >= 10000
         |ORDER BY doc_a, doc_b""".stripMargin,
    // the oracle runs the TEXTBOOK window form on raw rows; the engine's
    // aggregate-first formulation must emit identical (rank, dense_rank)
    "win_rank_dense" ->
      """SELECT DISTINCT o_orderpriority,
        |  CAST(floor(o_totalprice / 50000) AS INT) AS bucket,
        |  rank() OVER (PARTITION BY o_orderpriority
        |    ORDER BY CAST(floor(o_totalprice / 50000) AS INT)) AS rnk,
        |  dense_rank() OVER (PARTITION BY o_orderpriority
        |    ORDER BY CAST(floor(o_totalprice / 50000) AS INT)) AS drnk
        |FROM orders ORDER BY o_orderpriority, bucket""".stripMargin,
    "samp_n_per_group" ->
      """SELECT doc_id, lang, source FROM (
        |  SELECT doc_id, lang, source,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY (((doc_id % 2147483647 + 2147483647) % 2147483647) * 1103515245) % 2147483647, doc_id) AS rn
        |  FROM documents)
        |WHERE rn <= 10 ORDER BY lang, doc_id""".stripMargin,
    "join_fuzzy_blocked" ->
      """WITH k AS (SELECT c_custkey // 100 AS block, c_custkey, c_name FROM customer)
        |SELECT a.block, count(*) AS n_candidates,
        |  count(*) FILTER (WHERE levenshtein(a.c_name, b.c_name) <= 1) AS n_matches
        |FROM k a JOIN k b ON a.block = b.block AND a.c_custkey < b.c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // fuzzy pairs closed transitively (recursive CTE = the min-label
    // fixpoint), one row per resolved entity cluster
    "er_fuzzy_clusters" ->
      """WITH RECURSIVE k AS (SELECT c_custkey // 100 AS block, c_custkey, c_name
        |       FROM customer),
        |p AS (SELECT a.c_custkey AS ka, b.c_custkey AS kb
        |      FROM k a JOIN k b ON a.block = b.block AND a.c_custkey < b.c_custkey
        |      WHERE levenshtein(a.c_name, b.c_name) <= 1),
        |e AS (SELECT ka AS s, kb AS d FROM p UNION SELECT kb, ka FROM p),
        |v AS (SELECT DISTINCT s AS id FROM e),
        |reach(id, r) AS (
        |  SELECT id, id FROM v
        |  UNION
        |  SELECT e.s, reach.r FROM e JOIN reach ON reach.id = e.d),
        |c AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)
        |SELECT cluster_id, count(*) AS n_members
        |FROM c GROUP BY 1 ORDER BY cluster_id""".stripMargin,
    // Spark's skewness/kurtosis are POPULATION moments; DuckDB's built-ins
    // bias-correct, so the oracle recomputes from explicit central moments
    "agg_price_moments" ->
      """WITH mu AS (SELECT l_returnflag, avg(l_extendedprice) AS mu
        |            FROM lineitem GROUP BY 1),
        |s AS (SELECT l.l_returnflag,
        |        avg(pow(l.l_extendedprice - mu.mu, 2)) AS m2,
        |        avg(pow(l.l_extendedprice - mu.mu, 3)) AS m3,
        |        avg(pow(l.l_extendedprice - mu.mu, 4)) AS m4
        |      FROM lineitem l JOIN mu ON l.l_returnflag = mu.l_returnflag
        |      GROUP BY 1)
        |SELECT l_returnflag, round(m3 / pow(m2, 1.5), 4) AS skew_price,
        |  round(m4 / (m2 * m2) - 3, 4) AS kurt_price
        |FROM s ORDER BY l_returnflag""".stripMargin,
    // z rounded to 6 BEFORE the threshold on both sides: the keep/drop
    // decision then never depends on last-ulp variance differences
    // sd IS NOT NULL AND sd <> 0 mirrors the engine's explicit
    // zero-variance guard: a constant group divides 0/0 — NaN in Spark
    // (ranked above every number) but NULL here — so without the shared
    // predicate the two engines would disagree on such groups
    "anomaly_zscore" ->
      """WITH st AS (SELECT event_type, avg(value) AS mu,
        |              stddev_samp(value) AS sd FROM events GROUP BY 1)
        |SELECT e.event_type, e.event_id, round(e.value, 6) AS value,
        |  round((e.value - st.mu) / st.sd, 6) AS z
        |FROM events e JOIN st USING (event_type)
        |WHERE st.sd IS NOT NULL AND st.sd <> 0
        |  AND abs(round((e.value - st.mu) / st.sd, 6)) > 3.0
        |ORDER BY event_type, event_id""".stripMargin,
    // per-order distinct brand baskets, ordered pairs, integer supports
    "affinity_brand_pairs" ->
      """WITH ob AS (SELECT DISTINCT l.l_orderkey, p.p_brand
        |            FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
        |sup AS (SELECT p_brand, count(*) AS n_orders FROM ob GROUP BY 1),
        |pr AS (SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
        |         count(*) AS n_both
        |       FROM ob a JOIN ob b ON a.l_orderkey = b.l_orderkey
        |                          AND a.p_brand < b.p_brand
        |       GROUP BY 1, 2 HAVING count(*) >= 3)
        |SELECT pr.brand_a, pr.brand_b, pr.n_both,
        |  sa.n_orders AS n_a, sb.n_orders AS n_b
        |FROM pr JOIN sup sa ON sa.p_brand = pr.brand_a
        |        JOIN sup sb ON sb.p_brand = pr.brand_b
        |ORDER BY brand_a, brand_b""".stripMargin,
    // Page's CUSUM as cumsum - running_min(cumsum), scaled by n_days so
    // the whole statistic stays exact int64 (no float mean anywhere)
    "anomaly_cusum" ->
      """WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS c
        |           FROM events GROUP BY 1, 2),
        |st AS (SELECT event_type, count(*) AS n_days, sum(c) AS total
        |       FROM d GROUP BY 1),
        |x AS (SELECT d.event_type, d.day, d.c, st.total,
        |        sum(st.n_days * d.c - st.total) OVER (
        |          PARTITION BY d.event_type ORDER BY d.day
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cs
        |      FROM d JOIN st USING (event_type)),
        |y AS (SELECT event_type, day, c, total,
        |        cs - min(cs) OVER (PARTITION BY event_type ORDER BY day
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cusum_pos
        |      FROM x)
        |SELECT event_type, day, c, CAST(cusum_pos AS BIGINT) AS cusum_pos,
        |  cusum_pos > total * 2 AS alarm
        |FROM y ORDER BY event_type, day""".stripMargin,
    "hist_price_bins" ->
      """SELECT CAST(floor(o_totalprice / 50000) AS INT) AS bin, count(*) AS n,
        |  min(o_totalprice) AS min_price, max(o_totalprice) AS max_price,
        |  CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS total_price
        |FROM orders GROUP BY 1 ORDER BY bin""".stripMargin,
    "layout_zorder_key" -> {
      val zTerms = (0 until 10).flatMap(i => Seq(
        s"((x >> $i) & 1) * ${1L << (2 * i)}",
        s"((y >> $i) & 1) * ${1L << (2 * i + 1)}")).mkString(" + ")
      s"""WITH b AS (SELECT o_orderkey, o_custkey % 1024 AS x,
         |             least(CAST(floor(o_totalprice / 500) AS BIGINT), 1023) AS y
         |           FROM orders WHERE o_orderkey < 1000)
         |SELECT o_orderkey, x, y, $zTerms AS z
         |FROM b ORDER BY o_orderkey""".stripMargin
    },
    "text_token_positions" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents WHERE doc_id < 50)
         |SELECT doc_id, CAST(pos AS INT) AS pos, token FROM (
         |  SELECT doc_id, unnest(range(0, len(toks))) AS pos, unnest(toks) AS token
         |  FROM t)
         |ORDER BY doc_id, pos""".stripMargin,
    "set_ops_priority" ->
      """WITH urgent AS (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'),
        |high AS (SELECT o_custkey FROM orders WHERE o_orderpriority = '2-HIGH')
        |SELECT o_custkey, 'both' AS tag
        |FROM (SELECT o_custkey FROM urgent INTERSECT SELECT o_custkey FROM high)
        |UNION ALL
        |SELECT o_custkey, 'urgent_only' AS tag
        |FROM (SELECT o_custkey FROM urgent EXCEPT SELECT o_custkey FROM high)
        |ORDER BY tag, o_custkey""".stripMargin,
    "agg_distinct_users" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // the HLL estimate itself is engine-specific; the oracle recomputes the
    // exact count and expects the engine's within-2.5σ contract flag to hold
    "agg_approx_distinct_users" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users_exact,
        |  1 AS hll_within_5pct
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // same contract-check pattern for the GK quantile sketch: exact quartiles
    // value-compared, the rank-error-bound flags expected true
    "agg_approx_quantiles" ->
      """SELECT l_returnflag,
        |  round(quantile_cont(l_extendedprice, 0.25), 4) AS p25_exact,
        |  round(quantile_cont(l_extendedprice, 0.5), 4) AS p50_exact,
        |  round(quantile_cont(l_extendedprice, 0.75), 4) AS p75_exact,
        |  1 AS p25_in_bound, 1 AS p50_in_bound, 1 AS p75_in_bound
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "agg_top_user_per_type" ->
      """WITH c AS (SELECT event_type, user_id, count(*) AS n
        |           FROM events GROUP BY 1, 2)
        |SELECT event_type,
        |  arg_max(user_id, n * 1000000 - user_id) AS top_user,
        |  max(n) AS top_n
        |FROM c GROUP BY event_type ORDER BY event_type""".stripMargin,
    "agg_revenue_share" ->
      s"""WITH r AS (SELECT l_returnflag, $revSql AS rev FROM lineitem),
         |pf AS (SELECT l_returnflag,
         |         CAST(sum(rev) AS DECIMAL(18,4)) AS flag_rev FROM r GROUP BY 1),
         |t AS (SELECT CAST(sum(rev) AS DECIMAL(18,4)) AS total_rev FROM r)
         |SELECT l_returnflag, CAST(flag_rev AS DOUBLE) AS revenue,
         |  round(CAST(flag_rev AS DOUBLE) / CAST(total_rev AS DOUBLE), 6) AS share
         |FROM pf CROSS JOIN t ORDER BY l_returnflag""".stripMargin,
    "win_moving_avg_3" ->
      """WITH b AS (SELECT o_custkey, o_orderkey, o_orderdate,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS price FROM orders)
        |SELECT o_custkey, o_orderkey, CAST(price AS DOUBLE) AS price,
        |  CAST(CAST(sum(price) OVER w AS DECIMAL(18,2)) AS DOUBLE)
        |    / count(*) OVER w AS mov_avg
        |FROM b WINDOW w AS (PARTITION BY o_custkey
        |  ORDER BY o_orderdate, o_orderkey ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    "agg_weighted_discount" ->
      """SELECT l_returnflag,
        |  round(sum(l_discount * l_extendedprice) / sum(l_extendedprice), 6)
        |    AS w_avg_discount
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "agg_price_quantiles" ->
      """SELECT l_returnflag,
        |  round(quantile_cont(l_quantity, 0.5), 4) AS median_qty,
        |  round(quantile_cont(l_extendedprice, 0.25), 4) AS p25_price,
        |  round(quantile_cont(l_extendedprice, 0.75), 4) AS p75_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "json_extract_props" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
        |FROM events ORDER BY event_id""".stripMargin,
    "agg_price_stats" ->
      """SELECT l_returnflag,
        |  round(stddev_samp(l_extendedprice), 4) AS sd_price,
        |  round(var_samp(l_quantity), 4) AS var_qty,
        |  round(corr(l_quantity, l_extendedprice), 4) AS corr_qty_price,
        |  round(covar_samp(l_quantity, l_discount), 4) AS covar_qty_disc
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "json_explode_props" ->
      """WITH x AS (SELECT event_id, props,
        |             unnest(json_keys(props::JSON)) AS key FROM events)
        |SELECT event_id, key,
        |  CAST(json_extract_string(props, '$.' || key) AS INT) AS value
        |FROM x ORDER BY event_id, key""".stripMargin,
    "win_range_90d_spend" ->
      """WITH b AS (SELECT o_custkey, o_orderkey,
        |    CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS INT) AS d,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS price FROM orders)
        |SELECT o_custkey, o_orderkey, d,
        |  CAST(CAST(sum(price) OVER (PARTITION BY o_custkey ORDER BY d
        |    RANGE BETWEEN 90 PRECEDING AND CURRENT ROW) AS DECIMAL(18,2)) AS DOUBLE)
        |    AS trailing_90d
        |FROM b ORDER BY o_custkey, o_orderkey""".stripMargin,
    "agg_user_journeys" ->
      """SELECT user_id, CAST(count(*) AS INT) AS n_events,
        |  string_agg(event_type, '->' ORDER BY ts, event_id) AS path
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "cohort_retention" ->
      """WITH fs AS (SELECT user_id, CAST(date_trunc('week', min(ts)) AS DATE)
        |              AS cohort_week FROM events GROUP BY user_id),
        |a AS (SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE)
        |        AS active_week FROM events)
        |SELECT fs.cohort_week, a.active_week,
        |  count(DISTINCT a.user_id) AS n_users
        |FROM a JOIN fs USING (user_id)
        |GROUP BY 1, 2 ORDER BY cohort_week, active_week""".stripMargin,
    // greedy earliest subsequence match == chained min-seq-after-previous:
    // the fold's state machine and this CTE chain provably pick the same
    // positions
    "funnel_3step" ->
      """WITH o AS (SELECT user_id, event_type,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS seq
        |  FROM events),
        |s1 AS (SELECT user_id, min(seq) AS q FROM o
        |       WHERE event_type = 'view' GROUP BY user_id),
        |s2 AS (SELECT o.user_id, min(o.seq) AS q FROM o
        |       JOIN s1 ON o.user_id = s1.user_id AND o.seq > s1.q
        |       WHERE o.event_type = 'click' GROUP BY o.user_id),
        |s3 AS (SELECT o.user_id, min(o.seq) AS q FROM o
        |       JOIN s2 ON o.user_id = s2.user_id AND o.seq > s2.q
        |       WHERE o.event_type = 'purchase' GROUP BY o.user_id)
        |SELECT u.user_id,
        |  CAST(CASE WHEN s3.q IS NOT NULL THEN 3
        |            WHEN s2.q IS NOT NULL THEN 2
        |            WHEN s1.q IS NOT NULL THEN 1
        |            ELSE 0 END AS INT) AS steps_completed
        |FROM (SELECT DISTINCT user_id FROM events) u
        |LEFT JOIN s1 USING (user_id) LEFT JOIN s2 USING (user_id)
        |LEFT JOIN s3 USING (user_id)
        |ORDER BY user_id""".stripMargin,
    "win_first_last" ->
      """WITH b AS (SELECT o_custkey, o_orderkey,
        |             CAST(o_totalprice AS DOUBLE) AS price FROM orders)
        |SELECT o_custkey, o_orderkey, price,
        |  first_value(price) OVER w AS cheapest,
        |  last_value(price) OVER w AS priciest,
        |  nth_value(price, 2) OVER w AS second_cheapest
        |FROM b WINDOW w AS (PARTITION BY o_custkey ORDER BY price, o_orderkey
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    "dedup_first_event" ->
      """SELECT user_id, event_type, event_id FROM (
        |  SELECT user_id, event_type, event_id,
        |    row_number() OVER (PARTITION BY user_id, event_type
        |      ORDER BY ts, event_id) AS rn
        |  FROM events) WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin,
    "win_tumbling_daily" ->
      """SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type, count(*) AS n
        |FROM events GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin,
    // streaming end states: the stream source is the same bounded events
    // table, so each end state must equal the batch answer exactly
    "stream_tumbling_daily" ->
      """SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type, count(*) AS n
        |FROM events GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin,
    "stream_scd2_closed" ->
      """WITH o AS (SELECT user_id, event_type AS state, ts, event_id,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events),
        |ch AS (SELECT user_id, state, ts, event_id FROM o
        |       WHERE prev IS NULL OR prev <> state),
        |iv AS (SELECT user_id, state, ts AS valid_from,
        |    lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to
        |  FROM ch)
        |SELECT user_id, state, valid_from, valid_to
        |FROM iv WHERE valid_to IS NOT NULL
        |ORDER BY user_id, valid_from""".stripMargin,
    "stream_topk_leaderboard" ->
      """WITH c AS (SELECT event_type, event_id, max(value) AS value
        |           FROM events GROUP BY 1, 2),
        |r AS (SELECT event_type, event_id, value,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY value DESC, event_id) AS rank
        |  FROM c)
        |SELECT event_type, CAST(rank AS INT) AS rank, event_id, value
        |FROM r WHERE rank <= 3 ORDER BY event_type, rank""".stripMargin,
    "stream_sliding_6h" ->
      """WITH b AS (SELECT event_type,
        |  make_timestamp((epoch_us(ts) // 10800000000) * 10800000000) AS w1 FROM events),
        |u AS (SELECT event_type, unnest([w1 - INTERVAL 3 HOUR, w1]) AS w_start FROM b)
        |SELECT w_start, event_type, count(*) AS n
        |FROM u GROUP BY 1, 2 ORDER BY w_start, event_type""".stripMargin,
    "stream_dedup_ids" ->
      """SELECT event_id, ts, user_id, event_type, value
        |FROM events ORDER BY event_id""".stripMargin,
    // JDBC append sink end state: every slice row appended exactly once
    // (AvailableNow drain), so the warehouse table's aggregate equals the
    // batch answer; integer-exact measures keep Derby round-trips drift-free
    "stream_jdbc_append" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(event_id) AS BIGINT) AS id_sum,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM events WHERE event_id % 20 = 0
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // late-data census: held-back events replay in later micro-batches;
    // the second replay (id % 40 == 20) is filtered against the watermark
    // derived from the on-time batch, max(on-time ts) - 7 days
    // (millisecond-floored, the grid Spark tracks event-time stats on) —
    // a replayed row is dropped iff its daily window closed at or before
    // that watermark. The first replay (id % 40 == 0) is always kept:
    // Spark's late filter uses the PREVIOUS batch's watermark, still zero.
    "stream_late_census" ->
      """WITH wm AS (
        |  SELECT ((epoch_us(max(ts)) // 1000) - 604800000) * 1000 AS wm_us
        |  FROM events WHERE event_id % 20 <> 0),
        |f AS (
        |  SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
        |    CASE WHEN event_id % 40 <> 20 THEN 1
        |         WHEN epoch_us(date_trunc('day', ts) + INTERVAL 1 DAY)
        |              > (SELECT wm_us FROM wm) THEN 1
        |         ELSE 0 END AS kept
        |  FROM events)
        |SELECT day, event_type, count(*) AS n_total,
        |  CAST(sum(kept) AS BIGINT) AS n_kept,
        |  count(*) - CAST(sum(kept) AS BIGINT) AS n_late_dropped
        |FROM f GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // stream-static broadcast enrichment: stateless per-batch join, so the
    // bounded end state is exactly the batch left join
    "stream_enrich_dim" ->
      """SELECT e.event_id, e.user_id, c.c_name, c.c_nationkey
        |FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
        |ORDER BY e.event_id""".stripMargin,
    // one checkpoint, two query lifetimes (even-id arrivals, stop, odd-id
    // arrivals, restart): exactly-once recovery iff the end state equals
    // the whole-history batch answer — lost state undercounts, a replayed
    // source file double-counts
    "stream_checkpoint_recovery" ->
      """SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type, count(*) AS n
        |FROM events GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin,
    // partitioned parquet round-trip: the values are layout-invariant, so
    // the oracle is the same aggregate over the unpartitioned source
    "s_partitioned_prune" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(event_id) AS BIGINT) AS id_sum
        |FROM events WHERE event_type IN ('click', 'purchase')
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "stream_user_milestones" ->
      """SELECT user_id, count(*) AS n_events,
        |  CAST(count(*) // 10 AS BIGINT) AS n_milestones
        |FROM events GROUP BY 1 HAVING count(*) >= 10
        |ORDER BY user_id""".stripMargin,
    "stream_purchase_view_join" ->
      """SELECT p.user_id, p.event_id AS p_event, v.event_id AS v_event
        |FROM events p JOIN events v ON v.user_id = p.user_id
        |  AND p.event_type = 'purchase' AND v.event_type = 'view'
        |  AND v.ts <= p.ts AND v.ts >= p.ts - INTERVAL 1 HOUR
        |ORDER BY p.user_id, p_event, v_event""".stripMargin,
    // stream-static anti-join: incoming (id >= 100) kept iff its RAW-text
    // dual-residue fingerprint is absent from the frozen corpus (id < 100)
    "stream_dedup_corpus" ->
      """WITH c AS (SELECT doc_id, list_prepend(CAST(0 AS BIGINT),
        |        [ord(text[i:i]) for i in range(1, length(text)+1)]) AS cs
        |      FROM documents),
        |f AS (SELECT doc_id,
        |  list_reduce(cs, (a, c) -> (a * 31 + c) % 2147483647) * 2147483648 +
        |  list_reduce(cs, (a, c) -> (a * 131 + c) % 2147483629) AS fp
        |FROM c)
        |SELECT a.doc_id FROM f a
        |WHERE a.doc_id >= 100 AND NOT EXISTS (
        |  SELECT 1 FROM f b WHERE b.doc_id < 100 AND b.fp = a.fp)
        |ORDER BY doc_id""".stripMargin,
    "ts_gap_fill_hourly" ->
      """WITH r AS (SELECT date_trunc('hour', min(ts)) AS t0,
        |             date_trunc('hour', max(ts)) AS t1 FROM events),
        |h AS (SELECT unnest(generate_series(t0, t1, INTERVAL 1 HOUR)) AS hour FROM r),
        |t AS (SELECT DISTINCT event_type FROM events WHERE event_type IS NOT NULL),
        |s AS (SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS n
        |      FROM events GROUP BY 1, 2)
        |SELECT h.hour, t.event_type, coalesce(s.n, 0) AS n
        |FROM h CROSS JOIN t
        |LEFT JOIN s ON s.hour = h.hour AND s.event_type = t.event_type
        |ORDER BY h.hour, t.event_type""".stripMargin,
    "ts_rolling_7d_users" ->
      """WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
        |d AS (SELECT DISTINCT day FROM du)
        |SELECT d.day AS asof_day, count(DISTINCT du.user_id) AS users_7d
        |FROM d JOIN du ON du.day BETWEEN d.day - 6 AND d.day
        |GROUP BY 1 ORDER BY asof_day""".stripMargin,
    // list_reduce with no seed folds from the first element — exactly the
    // engine's null-seeded fold (s1 = x1); identical left-fold order, so
    // the doubles agree bit-for-bit
    // floor-truncation, not round(): engines disagree on round() at
    // half-way points even on bit-identical doubles (see Relational.ewmaPrice)
    "ts_ewma_price" ->
      """WITH xs AS (SELECT o_custkey,
        |    list(CAST(o_totalprice AS DOUBLE) ORDER BY o_orderdate, o_orderkey) AS v
        |  FROM orders GROUP BY o_custkey)
        |SELECT o_custkey, CAST(len(v) AS INT) AS n_orders,
        |  floor(list_reduce(v, (acc, x) -> 0.25 * x + 0.75 * acc) * 1000000) / 1000000
        |    AS ewma_price
        |FROM xs ORDER BY o_custkey""".stripMargin,
    // Holt level+trend recurrence stepped via RECURSIVE CTE — every float
    // op written with the same association as the Spark fold. (NOT
    // list_reduce: DuckDB 1.0's struct-accumulator fold evaluates the
    // struct fields sequentially in place, so a later field referencing an
    // earlier one silently reads the NEW value — state corruption, found
    // the hard way.)
    "ts_holt_price" ->
      """WITH RECURSIVE o2 AS (SELECT o_custkey,
        |    CAST(o_totalprice AS DOUBLE) AS p,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate, o_orderkey) AS i
        |  FROM orders),
        |n AS (SELECT o_custkey, max(i) AS n FROM o2 GROUP BY 1),
        |st(o_custkey, i, l, b) AS (
        |  SELECT o_custkey, 1, p, CAST(0 AS DOUBLE) FROM o2 WHERE i = 1
        |  UNION ALL
        |  SELECT o2.o_custkey, st.i + 1,
        |    0.25 * o2.p + 0.75 * (st.l + st.b),
        |    0.2 * (0.25 * o2.p + 0.75 * (st.l + st.b) - st.l) + 0.8 * st.b
        |  FROM st JOIN o2 ON o2.o_custkey = st.o_custkey AND o2.i = st.i + 1)
        |SELECT st.o_custkey, CAST(n.n AS INT) AS n_orders,
        |  floor((st.l + st.b) * 1000000) / 1000000 AS holt_forecast
        |FROM st JOIN n ON n.o_custkey = st.o_custkey AND st.i = n.n
        |ORDER BY st.o_custkey""".stripMargin,
    "text_normalize" ->
      raw"""SELECT doc_id, lpad(CAST(doc_id AS VARCHAR), 8, '0') AS padded_id,
        |  substring(text, 1, 20) AS head20,
        |  CAST(length(text) AS INT) AS raw_len,
        |  CAST(length(translate(regexp_replace(trim(text), '\s+', ' ', 'g'),
        |    ',.;:!?', '      ')) AS INT) AS norm_len,
        |  CAST(levenshtein(substring(text, 1, 40),
        |    reverse(substring(text, 1, 40))) AS INT) AS palindrome_dist
        |FROM documents ORDER BY doc_id""".stripMargin,
    "win_sliding_6h" ->
      """WITH b AS (SELECT event_type,
        |  make_timestamp((epoch_us(ts) // 10800000000) * 10800000000) AS w1 FROM events),
        |u AS (SELECT event_type, unnest([w1 - INTERVAL 3 HOUR, w1]) AS w_start FROM b)
        |SELECT w_start, event_type, count(*) AS n
        |FROM u GROUP BY 1, 2 ORDER BY w_start, event_type""".stripMargin,
    "win_session_30m" -> sessionSql,
    // streaming session windows drain to the identical merged-session end
    // state, so the batch session SQL is the oracle
    "stream_session_30m" -> sessionSql,
    "dedup_exact" ->
      """SELECT min(doc_id) AS keep_doc_id, count(*) AS n_copies
        |FROM documents GROUP BY text ORDER BY keep_doc_id""".stripMargin,
    // the full MinHash+LSH path — polynomial shingle hash, seeded universal
    // slot family (coefficients embedded as literals), band fold, bucket
    // pairing with the size cap, exact token-set intersect/union on the
    // candidates — re-derived end-to-end in DuckDB SQL
    "dedup_minhash_lsh" -> minhashLshSql,
    // bucket-collided pairs with jaccard <= 1/2: the hard-negative miner
    // is one integer filter over the same candidate pipeline, with the
    // signature-slot estimate prefilter (est <= 3/4) replayed before the
    // token-array verify exactly as the engine runs it
    "corpus_hard_negatives" ->
      s"""WITH base AS (${minhashCandidatesSql(32, 1, Some((2, 3, 4)))})
         |SELECT doc_a, doc_b, n_common, n_union FROM base
         |WHERE n_common * 2 <= n_union
         |ORDER BY doc_a, doc_b""".stripMargin,
    // content-defined chunking: cut after token i+3 wherever the 4-token
    // shingle's rolling polynomial hash ≡ 0 (mod 32); chunks fingerprinted
    // dual-residue; census = per-doc chunk count + chunks shared with
    // ANOTHER doc. Same shingle hash, cut rule, and fingerprint integer
    // grid as the engine.
    "corpus_cdc_chunks" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |sh AS (SELECT doc_id, i, len(toks) AS n,
         |         array_to_string(toks[i:i+3], ' ') AS s
         |       FROM t, LATERAL (SELECT unnest(range(1, len(toks) - 2)) AS i)),
         |h AS (SELECT doc_id, i, n,
         |        list_reduce(list_prepend(CAST(0 AS BIGINT),
         |          [ord(s[k:k]) for k in range(1, length(s)+1)]),
         |          (a, c) -> (a * 31 + c) % 2147483647) AS hv
         |      FROM sh),
         |cutagg AS (SELECT doc_id, list_sort(list(i + 3)) AS cs
         |           FROM h WHERE hv % 32 = 0 AND i + 3 < n GROUP BY doc_id),
         |d AS (SELECT t.doc_id, t.toks,
         |        list_append(coalesce(cutagg.cs, []), len(t.toks)) AS cuts
         |      FROM t LEFT JOIN cutagg ON cutagg.doc_id = t.doc_id),
         |ch AS (SELECT doc_id, cuts, unnest(
         |         [array_to_string(
         |            toks[(CASE WHEN j = 1 THEN 0 ELSE cuts[j-1] END) + 1
         |                 : cuts[j]], ' ')
         |          for j in range(1, len(cuts) + 1)]) AS cstr
         |       FROM d),
         |chash AS (SELECT doc_id,
         |    list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      [ord(cstr[k:k]) for k in range(1, length(cstr)+1)]),
         |      (a, c) -> (a * 31 + c) % 2147483647) * 2147483648
         |  + list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      [ord(cstr[k:k]) for k in range(1, length(cstr)+1)]),
         |      (a, c) -> (a * 131 + c) % 2147483629) AS chv
         |  FROM ch),
         |dup AS (SELECT chv FROM chash GROUP BY chv
         |        HAVING count(DISTINCT doc_id) >= 2),
         |census AS (SELECT doc_id, count(*) AS n_dup FROM chash
         |           WHERE chv IN (SELECT chv FROM dup) GROUP BY doc_id)
         |SELECT d.doc_id, CAST(len(d.cuts) AS INT) AS n_chunks,
         |  CAST(coalesce(census.n_dup, 0) AS BIGINT) AS n_dup_chunks
         |FROM d LEFT JOIN census ON census.doc_id = d.doc_id
         |ORDER BY d.doc_id""".stripMargin,

    // SimHash: dual-residue polynomial token hash, 64-slot bit votes,
    // 16-bit chunk pigeonhole buckets, hamming verify — all integer
    // arithmetic, re-derived in DuckDB
    "dedup_simhash" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |tok AS (SELECT doc_id, unnest(toks) AS tk FROM t),
         |th AS (SELECT doc_id,
         |         list_reduce(cs, (a, c) -> (a * 31 + c) % 2147483647) * 2147483648
         |       + list_reduce(cs, (a, c) -> (a * 131 + c) % 2147483629) AS h
         |       FROM (SELECT doc_id, list_prepend(CAST(0 AS BIGINT),
         |               [ord(tk[i:i]) for i in range(1, length(tk)+1)]) AS cs FROM tok)),
         |v AS (SELECT doc_id, bits.j,
         |        sum(CASE WHEN ((h >> bits.j) & 1) = 1 THEN 1 ELSE -1 END) AS vote
         |      FROM th CROSS JOIN (SELECT unnest(range(64)) AS j) bits
         |      GROUP BY doc_id, bits.j),
         |fp AS (SELECT doc_id, CAST(sum(CASE WHEN vote > 0
         |         THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT) AS fp
         |       FROM v GROUP BY doc_id),
         |ch AS (SELECT doc_id, fp, ci, (fp >> (ci * 16)) & 65535 AS chunk
         |       FROM (SELECT doc_id, fp, unnest(range(4)) AS ci FROM fp)),
         |bkt AS (SELECT ci, chunk FROM ch GROUP BY ci, chunk
         |        HAVING count(*) BETWEEN 2 AND 1024),
         |pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |            a.fp AS fa, b.fp AS fb
         |          FROM ch a JOIN bkt USING (ci, chunk)
         |               JOIN ch b ON b.ci = a.ci AND b.chunk = a.chunk
         |                        AND b.doc_id > a.doc_id)
         |SELECT doc_a, doc_b, CAST(bit_count(xor(fa, fb)) AS INT) AS hamming
         |FROM pairs WHERE bit_count(xor(fa, fb)) <= 3
         |ORDER BY doc_a, doc_b""".stripMargin,
    "dedup_ngram_jaccard" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |g AS (SELECT doc_id,
         |  CASE WHEN len(toks) < 2 THEN [array_to_string(toks, ' ')]
         |       ELSE list_distinct([array_to_string(toks[i:i+1], ' ') for i in range(1, len(toks))])
         |  END AS grams FROM t)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(len(list_intersect(a.grams, b.grams)) AS INT) AS n_common,
         |  CAST(len(list_distinct(list_concat(a.grams, b.grams))) AS INT) AS n_union
         |FROM g a JOIN g b ON b.doc_id = a.doc_id + 1
         |ORDER BY doc_a""".stripMargin,
    // prefix-filtered set-similarity join: the rarity order (df asc, token
    // asc), prefix-length formula, bucket cap, and integer cross-multiplied
    // verify are all replayed token-for-token
    "dedup_prefix_filter" ->
      s"""WITH t0 AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |sh AS (SELECT doc_id, unnest(
         |        CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
         |             ELSE [array_to_string(toks[i:i+2], ' ')
         |                   for i in range(1, len(toks) - 1)]
         |        END) AS g FROM t0),
         |hb AS (SELECT DISTINCT doc_id, list_reduce(list_prepend(
         |         CAST(0 AS BIGINT),
         |         [ord(g[i:i]) for i in range(1, length(g) + 1)]),
         |         (a, c) -> (a * 31 + c) % 2147483647) AS h FROM sh),
         |ln AS (SELECT doc_id, count(*) AS len FROM hb GROUP BY doc_id),
         |hs AS (SELECT doc_id, list(h) AS hl FROM hb GROUP BY doc_id),
         |df AS (SELECT h, count(*) AS gdf FROM hb GROUP BY h),
         |o AS (SELECT hb.doc_id, hb.h, ln.len,
         |        row_number() OVER (PARTITION BY hb.doc_id
         |          ORDER BY df.gdf, hb.h) AS rn
         |      FROM hb JOIN df USING (h) JOIN ln USING (doc_id)),
         |p AS (SELECT doc_id, h, len, rn FROM o
         |      WHERE rn <= len - (50 * len + 99) // 100 + 1),
         |bs AS (SELECT h FROM p GROUP BY h
         |       HAVING count(*) BETWEEN 2 AND 1024),
         |pr AS (SELECT p.doc_id, p.h, p.len, p.rn
         |       FROM p JOIN bs USING (h)),
         |pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |          FROM pr a JOIN pr b
         |            ON a.h = b.h AND b.doc_id > a.doc_id
         |          WHERE b.len * 100 >= a.len * 50
         |            AND a.len * 100 >= b.len * 50
         |            AND 1 + least(a.len - a.rn, b.len - b.rn)
         |                >= (50 * (a.len + b.len) + 149) // 150),
         |v AS (SELECT doc_a, doc_b,
         |        len(list_intersect(ta.hl, tb.hl)) AS n_common,
         |        len(ta.hl) + len(tb.hl)
         |          - len(list_intersect(ta.hl, tb.hl)) AS n_union
         |      FROM pairs JOIN hs ta ON ta.doc_id = doc_a
         |                 JOIN hs tb ON tb.doc_id = doc_b)
         |SELECT doc_a, doc_b, CAST(n_common AS INT) AS n_common,
         |  CAST(n_union AS INT) AS n_union
         |FROM v WHERE n_common * 100 >= n_union * 50
         |ORDER BY doc_a, doc_b""".stripMargin,
    // shared-shingle pair graph: stop-shingle df cap and min-shared filter
    // mirrored exactly; the clustering oracle closes it transitively with a
    // recursive CTE (min reachable id == min-label fixpoint)
    "dedup_shared_grams" ->
      s"""WITH g0 AS (SELECT doc_id, unnest(list_distinct(
         |    CASE WHEN len(toks) < 4 THEN [array_to_string(toks, ' ')]
         |         ELSE [array_to_string(toks[i:i+3], ' ') for i in range(1, len(toks)-2)]
         |    END)) AS gram
         |  FROM (SELECT doc_id, $toksSql AS toks FROM documents)),
         |f AS (SELECT gram FROM g0 GROUP BY gram HAVING count(*) BETWEEN 2 AND 100),
         |x AS (SELECT g0.doc_id, g0.gram FROM g0 JOIN f USING (gram))
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
         |FROM x a JOIN x b ON a.gram = b.gram AND b.doc_id > a.doc_id
         |GROUP BY 1, 2 HAVING count(*) >= 2
         |ORDER BY doc_a, doc_b""".stripMargin,
    // signature-slot Jaccard estimate for adjacent pairs: replays the same
    // sig CTE as the LSH oracle, then counts matching slots
    "dedup_minhash_estimate" -> {
      val (as, bs) = graft.functions.GraftFunctions.minhashCoeffs(32)
      val sigCols = (0 until 32)
        .map(i => s"min((${as(i)} * h + ${bs(i)}) % 2147483647) AS s$i")
        .mkString(",\n  ")
      val matches = (0 until 32)
        .map(i => s"CASE WHEN a.s$i = b.s$i THEN 1 ELSE 0 END")
        .mkString(" + ")
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |sh AS (SELECT doc_id, unnest(CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
         |         ELSE [array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks)-1)] END) AS s
         |       FROM t),
         |hb AS (SELECT doc_id, list_reduce(list_prepend(CAST(0 AS BIGINT),
         |         [ord(s[i:i]) for i in range(1, length(s)+1)]),
         |         (a, c) -> (a * 31 + c) % 2147483647) AS h FROM sh),
         |sig AS (SELECT doc_id,
         |  $sigCols
         |  FROM hb GROUP BY doc_id)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST($matches AS BIGINT) AS n_match, CAST(32 AS BIGINT) AS k
         |FROM sig a JOIN sig b ON b.doc_id = a.doc_id + 1
         |ORDER BY doc_a""".stripMargin
    },
    // winnowing (MOSS): 4-token shingle hashes, window-3 minima kept as a
    // distinct value set; pair graph over the winnowed inverted index.
    // Hash = the same ord() fold as the minhash base hash.
    "dedup_winnow_pairs" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |sh AS (SELECT doc_id,
         |    CASE WHEN len(toks) < 4 THEN [array_to_string(toks, ' ')]
         |         ELSE [array_to_string(toks[i:i+3], ' ') for i in range(1, len(toks)-2)]
         |    END AS shs FROM t),
         |hs AS (SELECT doc_id, list_transform(shs, s ->
         |    list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      [CAST(ord(s[i:i]) AS BIGINT) for i in range(1, length(s)+1)]),
         |      (a, c) -> (a * 31 + c) % 2147483647)) AS hl FROM sh),
         |fp AS (SELECT doc_id,
         |    CASE WHEN len(hl) <= 3 THEN [list_min(hl)]
         |         ELSE list_distinct([list_min(hl[i:i+2]) for i in range(1, len(hl)-1)])
         |    END AS fps FROM hs),
         |x AS (SELECT doc_id, unnest(fps) AS fp FROM fp),
         |f AS (SELECT fp FROM x GROUP BY fp HAVING count(*) BETWEEN 2 AND 100),
         |xx AS (SELECT x.doc_id, x.fp FROM x JOIN f USING (fp))
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
         |FROM xx a JOIN xx b ON a.fp = b.fp AND b.doc_id > a.doc_id
         |GROUP BY 1, 2 HAVING count(*) >= 2
         |ORDER BY doc_a, doc_b""".stripMargin,
    // skew-cap census: bucket-size distributions of all three bucketed
    // near-dup paths, replayed with the same sig/fp/gram CTEs as their
    // operators' oracles; caps (1024 / 100 / 1024) mirrored exactly
    "dedup_cap_census" -> {
      val (as, bs) = graft.functions.GraftFunctions.minhashCoeffs(32)
      val sigCols = (0 until 32)
        .map(i => s"min((${as(i)} * h + ${bs(i)}) % 2147483647) AS s$i")
        .mkString(",\n  ")
      val bandSelects = (0 until 8).map { j =>
        val fold = (0 until 4).map(r => s"s${j * 4 + r}")
          .foldLeft("CAST(0 AS BIGINT)")((acc, s) =>
            s"(($acc * 1000003 + $s) % 2147483647)")
        s"SELECT doc_id, $j AS band_idx, $fold AS bh FROM sig"
      }.mkString("\n  UNION ALL ")
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |sh AS (SELECT doc_id, unnest(CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
         |         ELSE [array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks)-1)] END) AS s
         |       FROM t),
         |hb AS (SELECT doc_id, list_reduce(list_prepend(CAST(0 AS BIGINT),
         |         [ord(s[i:i]) for i in range(1, length(s)+1)]),
         |         (a, c) -> (a * 31 + c) % 2147483647) AS h FROM sh),
         |sig AS (SELECT doc_id,
         |  $sigCols
         |  FROM hb GROUP BY doc_id),
         |band AS (
         |  $bandSelects),
         |mb AS (SELECT count(*) AS b FROM band GROUP BY band_idx, bh
         |       HAVING count(*) >= 2),
         |g0 AS (SELECT doc_id, unnest(list_distinct(
         |    CASE WHEN len(toks) < 4 THEN [array_to_string(toks, ' ')]
         |         ELSE [array_to_string(toks[i:i+3], ' ') for i in range(1, len(toks)-2)]
         |    END)) AS gram FROM t),
         |gb AS (SELECT count(*) AS b FROM g0 GROUP BY gram
         |       HAVING count(*) >= 2),
         |tok AS (SELECT doc_id, unnest(toks) AS tk FROM t),
         |th AS (SELECT doc_id,
         |         list_reduce(cs, (a, c) -> (a * 31 + c) % 2147483647) * 2147483648
         |       + list_reduce(cs, (a, c) -> (a * 131 + c) % 2147483629) AS h
         |       FROM (SELECT doc_id, list_prepend(CAST(0 AS BIGINT),
         |               [ord(tk[i:i]) for i in range(1, length(tk)+1)]) AS cs FROM tok)),
         |v AS (SELECT doc_id, bits.j,
         |        sum(CASE WHEN ((h >> bits.j) & 1) = 1 THEN 1 ELSE -1 END) AS vote
         |      FROM th CROSS JOIN (SELECT unnest(range(64)) AS j) bits
         |      GROUP BY doc_id, bits.j),
         |fp AS (SELECT doc_id, CAST(sum(CASE WHEN vote > 0
         |         THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT) AS fp
         |       FROM v GROUP BY doc_id),
         |cb AS (SELECT count(*) AS b FROM (SELECT doc_id, unnest(range(4)) AS ci, fp FROM fp) x
         |       GROUP BY ci, (fp >> (ci * 16)) & 65535
         |       HAVING count(*) >= 2),
         |wsh AS (SELECT doc_id,
         |    CASE WHEN len(toks) < 4 THEN [array_to_string(toks, ' ')]
         |         ELSE [array_to_string(toks[i:i+3], ' ') for i in range(1, len(toks)-2)]
         |    END AS shs FROM t),
         |whs AS (SELECT doc_id, list_transform(shs, s ->
         |    list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      [CAST(ord(s[i:i]) AS BIGINT) for i in range(1, length(s)+1)]),
         |      (a, c) -> (a * 31 + c) % 2147483647)) AS hl FROM wsh),
         |wfp AS (SELECT doc_id,
         |    CASE WHEN len(hl) <= 3 THEN [list_min(hl)]
         |         ELSE list_distinct([list_min(hl[i:i+2]) for i in range(1, len(hl)-1)])
         |    END AS fps FROM whs),
         |wb AS (SELECT count(*) AS b
         |       FROM (SELECT doc_id, unnest(fps) AS wf FROM wfp)
         |       GROUP BY wf HAVING count(*) >= 2),
         |u AS (
         |  SELECT 'minhash_band' AS path, count(*) AS n_buckets,
         |    CAST(coalesce(sum(CASE WHEN b > 1024 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_capped,
         |    CAST(coalesce(sum(CASE WHEN b > 1024 THEN b*(b-1)//2 ELSE 0 END), 0) AS BIGINT) AS pairs_capped
         |  FROM mb
         |  UNION ALL
         |  SELECT 'shared_gram', count(*),
         |    CAST(coalesce(sum(CASE WHEN b > 100 THEN 1 ELSE 0 END), 0) AS BIGINT),
         |    CAST(coalesce(sum(CASE WHEN b > 100 THEN b*(b-1)//2 ELSE 0 END), 0) AS BIGINT)
         |  FROM gb
         |  UNION ALL
         |  SELECT 'simhash_chunk', count(*),
         |    CAST(coalesce(sum(CASE WHEN b > 1024 THEN 1 ELSE 0 END), 0) AS BIGINT),
         |    CAST(coalesce(sum(CASE WHEN b > 1024 THEN b*(b-1)//2 ELSE 0 END), 0) AS BIGINT)
         |  FROM cb
         |  UNION ALL
         |  SELECT 'winnow_fp', count(*),
         |    CAST(coalesce(sum(CASE WHEN b > 100 THEN 1 ELSE 0 END), 0) AS BIGINT),
         |    CAST(coalesce(sum(CASE WHEN b > 100 THEN b*(b-1)//2 ELSE 0 END), 0) AS BIGINT)
         |  FROM wb)
         |SELECT path, n_buckets, n_capped, pairs_capped FROM u ORDER BY path""".stripMargin
    },
    "dedup_cluster_components" ->
      s"""WITH RECURSIVE g0 AS (SELECT doc_id, unnest(list_distinct(
         |    CASE WHEN len(toks) < 4 THEN [array_to_string(toks, ' ')]
         |         ELSE [array_to_string(toks[i:i+3], ' ') for i in range(1, len(toks)-2)]
         |    END)) AS gram
         |  FROM (SELECT doc_id, $toksSql AS toks FROM documents)),
         |f AS (SELECT gram FROM g0 GROUP BY gram HAVING count(*) BETWEEN 2 AND 100),
         |x AS (SELECT g0.doc_id, g0.gram FROM g0 JOIN f USING (gram)),
         |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |      FROM x a JOIN x b ON a.gram = b.gram AND b.doc_id > a.doc_id
         |      GROUP BY 1, 2 HAVING count(*) >= 2),
         |e AS (SELECT doc_a AS s, doc_b AS d FROM p
         |      UNION SELECT doc_b, doc_a FROM p),
         |v AS (SELECT DISTINCT s AS id FROM e),
         |reach(id, r) AS (
         |  SELECT id, id FROM v
         |  UNION
         |  SELECT e.s, reach.r FROM e JOIN reach ON reach.id = e.d)
         |SELECT id AS doc_id, min(r) AS cluster_id FROM reach
         |GROUP BY id ORDER BY doc_id""".stripMargin,
    // survivors = docs minus every clustered non-representative; the
    // cluster labels come from the same recursive-CTE fixpoint as
    // dedup_cluster_components
    "dedup_survivors" ->
      s"""WITH RECURSIVE g0 AS (SELECT doc_id, unnest(list_distinct(
         |    CASE WHEN len(toks) < 4 THEN [array_to_string(toks, ' ')]
         |         ELSE [array_to_string(toks[i:i+3], ' ') for i in range(1, len(toks)-2)]
         |    END)) AS gram
         |  FROM (SELECT doc_id, $toksSql AS toks FROM documents)),
         |f AS (SELECT gram FROM g0 GROUP BY gram HAVING count(*) BETWEEN 2 AND 100),
         |x AS (SELECT g0.doc_id, g0.gram FROM g0 JOIN f USING (gram)),
         |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |      FROM x a JOIN x b ON a.gram = b.gram AND b.doc_id > a.doc_id
         |      GROUP BY 1, 2 HAVING count(*) >= 2),
         |e AS (SELECT doc_a AS s, doc_b AS d FROM p
         |      UNION SELECT doc_b, doc_a FROM p),
         |v AS (SELECT DISTINCT s AS id FROM e),
         |reach(id, r) AS (
         |  SELECT id, id FROM v
         |  UNION
         |  SELECT e.s, reach.r FROM e JOIN reach ON reach.id = e.d),
         |cl AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id)
         |SELECT d.doc_id, d.source FROM documents d
         |WHERE d.doc_id NOT IN (SELECT doc_id FROM cl WHERE doc_id <> cluster_id)
         |ORDER BY d.doc_id""".stripMargin,
    "text_token_entropy" ->
      s"""WITH tok AS (SELECT doc_id, unnest($toksSql) AS tok FROM documents),
         |c AS (SELECT doc_id, tok, count(*) AS n FROM tok GROUP BY 1, 2),
         |a AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_tokens,
         |        sum(n * ln(n)) AS s FROM c GROUP BY 1)
         |SELECT doc_id, n_tokens,
         |  round(ln(n_tokens) - s / n_tokens, 6) AS entropy
         |FROM a ORDER BY doc_id""".stripMargin,
    // the salt only spreads reducers; the aggregate equals the plain join
    "join_salted_skew" ->
      """WITH dim(l_returnflag, label) AS (VALUES
        |  ('A', 'returned'), ('N', 'normal'), ('R', 'refused'))
        |SELECT l.l_returnflag, d.label, count(*) AS n,
        |  CAST(CAST(sum(CAST(l.l_quantity AS DECIMAL(12,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_qty
        |FROM lineitem l JOIN dim d USING (l_returnflag)
        |GROUP BY 1, 2 ORDER BY l_returnflag""".stripMargin,
    // the oracle runs the PLAIN join — equality proves the Bloom prefilter
    // (a plan-literal bit array probed with codegen'd hashes before the
    // join exchange) loses no true matches
    "join_bloom_pruned" ->
      """SELECT l.l_returnflag, count(*) AS n_items,
        |  CAST(CAST(sum(CAST(l.l_quantity AS DECIMAL(12,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_qty
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |WHERE o.o_orderpriority = '1-URGENT'
        |GROUP BY 1 ORDER BY l_returnflag""".stripMargin,
    // the oracle aggregates DIRECTLY — matching the two-stage
    // partial-then-merge plan proves count/sum/min/max re-aggregability
    "agg_merge_partials" ->
      """SELECT o_orderpriority, count(*) AS n_orders,
        |  CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_price,
        |  CAST(CAST(min(o_totalprice) AS DECIMAL(12,2)) AS DOUBLE) AS min_price,
        |  CAST(CAST(max(o_totalprice) AS DECIMAL(12,2)) AS DOUBLE) AS max_price,
        |  CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DECIMAL(18,2)) AS DOUBLE)
        |    / count(*) AS avg_price
        |FROM orders GROUP BY 1 ORDER BY o_orderpriority""".stripMargin,
    // DISCRETE percentiles (order statistics) make the bounds exact data
    // values, so the clamp census and decimal sum replay exactly
    "agg_winsorized_prices" ->
      """WITH b AS (SELECT l_returnflag,
        |    CAST(quantile_disc(l_extendedprice, 0.01) AS DECIMAL(12,2)) AS p_lo,
        |    CAST(quantile_disc(l_extendedprice, 0.99) AS DECIMAL(12,2)) AS p_hi
        |  FROM lineitem GROUP BY 1)
        |SELECT l.l_returnflag, count(*) AS n,
        |  CAST(min(b.p_lo) AS DOUBLE) AS p_lo,
        |  CAST(min(b.p_hi) AS DOUBLE) AS p_hi,
        |  count(CASE WHEN CAST(l.l_extendedprice AS DECIMAL(12,2)) < b.p_lo
        |    THEN 1 END) AS n_clamped_lo,
        |  count(CASE WHEN CAST(l.l_extendedprice AS DECIMAL(12,2)) > b.p_hi
        |    THEN 1 END) AS n_clamped_hi,
        |  CAST(CAST(sum(CAST(greatest(least(
        |      CAST(l.l_extendedprice AS DECIMAL(12,2)), b.p_hi), b.p_lo)
        |    AS DECIMAL(12,2)))
        |    AS DECIMAL(18,2)) AS DOUBLE) AS sum_winsorized
        |FROM lineitem l JOIN b USING (l_returnflag)
        |GROUP BY 1 ORDER BY l_returnflag""".stripMargin,
    "dedup_embedding_cosine" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings)
         |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, ${cosSql("a.emb", "b.emb")} AS cos
         |FROM e a JOIN e b ON b.vec_id = a.vec_id + 1
         |WHERE ${cosSql("a.emb", "b.emb")} >= 0.3
         |ORDER BY vec_a""".stripMargin,
    // int8 quantization: the scales cancel out of the cosine, so cos_q8 is
    // pure integer-derived arithmetic — reproduced exactly from the same
    // half-up-rounded quantized vectors
    "sim_quantized_cosine" -> {
      def idot(x: String, y: String) =
        s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
          s"list_transform(range(1, 65), i -> $x[i] * $y[i])), (a, b) -> a + b)"
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
         |sc AS (SELECT vec_id, emb,
         |         list_max(list_transform(emb, x -> abs(x))) / 127 AS s FROM e),
         |q AS (SELECT vec_id, emb,
         |        CASE WHEN s = 0 THEN list_transform(emb, x -> CAST(0 AS BIGINT))
         |             ELSE list_transform(emb, x -> CAST(floor(x / s + 0.5) AS BIGINT))
         |        END AS qv FROM sc),
         |p AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |        a.emb AS ea, b.emb AS eb, a.qv AS qa, b.qv AS qb
         |      FROM q a JOIN q b ON b.vec_id = a.vec_id + 1)
         |SELECT vec_a, vec_b,
         |  ${cosSql("ea", "eb")} AS cos_exact,
         |  round(CASE WHEN sqrt(${idot("qa", "qa")}) * sqrt(${idot("qb", "qb")}) = 0
         |        THEN 0.0
         |        ELSE ${idot("qa", "qb")} /
         |          (sqrt(${idot("qa", "qa")}) * sqrt(${idot("qb", "qb")})) END, 6)
         |    AS cos_q8
         |FROM p ORDER BY vec_a""".stripMargin
    },
    // commutative fingerprint sum: order/partitioning-free, so both engines
    // agree without any ordering assumption inside the aggregate
    "corpus_checksum" ->
      """WITH c AS (SELECT source, list_prepend(CAST(0 AS BIGINT),
        |        [ord(text[i:i]) for i in range(1, length(text)+1)]) AS cs
        |      FROM documents),
        |h AS (SELECT source,
        |        (list_reduce(cs, (a, c) -> (a * 31 + c) % 2147483647) * 2147483648
        |         + list_reduce(cs, (a, c) -> (a * 131 + c) % 2147483629))
        |          % 2147483647 AS hr
        |      FROM c)
        |SELECT source, count(*) AS n_docs, CAST(sum(hr) AS BIGINT) AS checksum,
        |  min(hr) AS h_min, max(hr) AS h_max
        |FROM h GROUP BY source ORDER BY source""".stripMargin,
    "sim_bruteforce_topk" -> simBruteSql,
    // as-of joins: DuckDB has native ASOF JOIN; equal-time right rows are
    // deduped on both sides so the match is engine-independent
    "asof_purchase_last_view" ->
      """WITH p AS (SELECT event_id, user_id, ts, value FROM events
        |           WHERE event_type = 'purchase'),
        |v AS (SELECT user_id, ts, event_id, value FROM events
        |      WHERE event_type = 'view'
        |      QUALIFY row_number() OVER (PARTITION BY user_id, ts
        |        ORDER BY event_id DESC) = 1)
        |SELECT p.event_id, p.user_id, p.ts, p.value,
        |  v.ts AS matched_ts, v.event_id AS matched_event_id,
        |  v.value AS matched_value
        |FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts >= v.ts
        |ORDER BY p.event_id""".stripMargin,
    "asof_signup_next_click" ->
      """WITH s AS (SELECT event_id, user_id, ts FROM events
        |           WHERE event_type = 'signup'),
        |c AS (SELECT user_id, ts, event_id FROM events
        |      WHERE event_type = 'click'
        |      QUALIFY row_number() OVER (PARTITION BY user_id, ts
        |        ORDER BY event_id) = 1)
        |SELECT s.event_id, s.user_id, s.ts,
        |  c.ts AS matched_ts, c.event_id AS matched_event_id
        |FROM s ASOF LEFT JOIN c ON s.user_id = c.user_id AND s.ts <= c.ts
        |ORDER BY s.event_id""".stripMargin,
    // deterministic multiplicative-hash sampling: the bucket expression is
    // plain integer arithmetic, identical in both engines
    "samp_hash_10pct" ->
      s"""SELECT doc_id, lang, source FROM documents
         |WHERE $bucketSql < 10 ORDER BY doc_id""".stripMargin,
    // probability-proportional-to-size keep: micro-bucket vs price in
    // cents, all int64 products bounded — RNG-free importance sampling
    "samp_weighted_orders" ->
      """SELECT o_orderpriority, count(*) AS n_kept,
        |  CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_kept
        |FROM orders
        |WHERE ((((o_orderkey % 2147483647 + 2147483647) % 2147483647) * 1103515245) % 2147483647) % 1000000 * 20000000
        |  < CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) * 1000000
        |GROUP BY 1 ORDER BY o_orderpriority""".stripMargin,
    "samp_split_counts" ->
      s"""WITH b AS (SELECT $bucketSql AS bkt FROM documents)
         |SELECT CASE WHEN bkt < 80 THEN 'train' WHEN bkt < 90 THEN 'val'
         |  ELSE 'test' END AS split, count(*) AS n
         |FROM b GROUP BY 1 ORDER BY split""".stripMargin,
    "samp_stratified_lang" ->
      s"""SELECT doc_id, lang FROM documents
         |WHERE $bucketSql < (CASE WHEN lang = 'en' THEN 50 ELSE 10 END)
         |ORDER BY doc_id""".stripMargin,
    "samp_mix_corpora" ->
      s"""WITH h AS (SELECT doc_id, source, $bucketSql AS bkt FROM documents),
         |m AS (
         |  SELECT 'head' AS corpus, doc_id FROM h
         |  WHERE source IN ('src0','src1','src2','src3','src4') AND bkt < 60
         |  UNION ALL
         |  SELECT 'tail' AS corpus, doc_id FROM h
         |  WHERE source NOT IN ('src0','src1','src2','src3','src4') AND bkt < 20)
         |SELECT corpus, count(*) AS n FROM m
         |GROUP BY corpus ORDER BY corpus""".stripMargin,
    // the SRP hyperplanes are deterministic driver-side arrays — embedded
    // below as literals, so the full LSH path (projection signs, per-table
    // buckets, candidate union, exact re-rank) is hash-verified cross-engine;
    // the fold order of the projection sum matches the engine's exactly
    "sim_lsh_topk" -> simLshSql,
    // IVF is fully deterministic (seeded centroids, rounded cosines, total
    // tie-breaks), so the whole index path — assignment argmax, probe
    // selection, in-cell re-rank — is SQL-expressible and oracled
    "sim_ivf_topk" -> simIvfSql,
    // PQ/ADC on the x100 integer grid: subspace = (i-1) // (dim/8); codes
    // = per-subspace argmin vs the 16 seed subvectors; ADC = sum of the
    // query's per-subspace distances to each code's centroid — all int64
    "sim_pq_topk" ->
      """WITH ex AS (SELECT vec_id, embedding,
        |    unnest(range(1, len(embedding) + 1)) AS i FROM embeddings),
        |e AS (SELECT vec_id, i,
        |    CAST(round(CAST(embedding[i] AS DOUBLE) * 100) AS BIGINT) AS v
        |  FROM ex),
        |sd AS (SELECT CAST(max(i) AS BIGINT) // 8 AS subdim FROM e),
        |init AS (SELECT vec_id, CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid
        |         FROM (SELECT DISTINCT vec_id FROM e WHERE vec_id < 16)),
        |seed AS (SELECT init.cid, e.i, e.v FROM init JOIN e USING (vec_id)),
        |dist AS (SELECT x.vec_id, (x.i - 1) // sd.subdim AS s, seed.cid,
        |           sum((x.v - seed.v) * (x.v - seed.v)) AS d
        |         FROM e x JOIN seed ON seed.i = x.i CROSS JOIN sd
        |         GROUP BY 1, 2, 3),
        |codes AS (SELECT vec_id, s, cid FROM (SELECT vec_id, s, cid,
        |            row_number() OVER (PARTITION BY vec_id, s ORDER BY d, cid) AS rn
        |          FROM dist) WHERE rn = 1),
        |score AS (SELECT qd.vec_id AS query_id, x.vec_id AS neighbor_id,
        |            sum(qd.d) AS adc
        |          FROM codes x JOIN dist qd ON qd.s = x.s AND qd.cid = x.cid
        |          WHERE qd.vec_id < 5 AND x.vec_id <> qd.vec_id
        |          GROUP BY 1, 2),
        |r AS (SELECT query_id, neighbor_id, adc,
        |        row_number() OVER (PARTITION BY query_id
        |          ORDER BY adc, neighbor_id) AS rnk
        |      FROM score)
        |SELECT query_id, neighbor_id, CAST(adc AS BIGINT) AS adc,
        |  CAST(rnk AS INT) AS rank
        |FROM r WHERE rnk <= 10 ORDER BY query_id, rank""".stripMargin,
    // IVF-PQ replay: coarse cells (vec_id < 8) route by exact integer L2,
    // each query probes its 3 nearest cells, and ONLY those cells' members
    // are scored by the same PQ distance tables as sim_pq_topk
    "sim_ivfpq_topk" -> simIvfpqSql,
    // recall census: each approximate path's full oracle replay is nested
    // as a subquery and intersected with the brute-force truth set; the
    // per-method milli-recall and floor verdict are integer/boolean
    // reciprocal-rank fusion: both legs (round-6 cosine desc, round-6
    // squared-L2 asc) re-ranked from scratch, fused in integer nano-units
    "rag_rrf_fusion" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
         |q AS (SELECT vec_id AS query_id, emb AS qe FROM e WHERE vec_id < 5),
         |s AS (SELECT q.query_id, e.vec_id AS neighbor_id,
         |        ${cosSql("q.qe", "e.emb")} AS cos,
         |        round(list_sum([(q.qe[i] - e.emb[i]) * (q.qe[i] - e.emb[i])
         |          for i in range(1, len(e.emb) + 1)]), 6) AS l2sq
         |      FROM e CROSS JOIN q WHERE e.vec_id <> q.query_id),
         |r AS (SELECT query_id, neighbor_id,
         |        row_number() OVER (PARTITION BY query_id
         |          ORDER BY cos DESC, neighbor_id) AS rank_cos,
         |        row_number() OVER (PARTITION BY query_id
         |          ORDER BY l2sq ASC, neighbor_id) AS rank_l2
         |      FROM s),
         |f AS (SELECT query_id, neighbor_id,
         |        CAST(CASE WHEN rank_cos <= 10
         |               THEN 1000000000 // (60 + rank_cos) ELSE 0 END
         |           + CASE WHEN rank_l2 <= 10
         |               THEN 1000000000 // (60 + rank_l2) ELSE 0 END
         |          AS BIGINT) AS rrf_nano
         |      FROM r WHERE rank_cos <= 10 OR rank_l2 <= 10)
         |SELECT query_id, neighbor_id, rrf_nano,
         |  CAST(row_number() OVER (PARTITION BY query_id
         |    ORDER BY rrf_nano DESC, neighbor_id) AS INT) AS fused_rank
         |FROM f QUALIFY fused_rank <= 10
         |ORDER BY query_id, fused_rank""".stripMargin,
    // per-label centroids on the micro-unit integer grid; the mean is
    // truncating integer division in both engines
    "emb_label_centroids" ->
      """WITH x AS (SELECT label, CAST(i - 1 AS INT) AS dim,
        |        CAST(round(v * 1000000) AS BIGINT) AS qval
        |      FROM (SELECT label, unnest(embedding::DOUBLE[]) AS v,
        |              generate_subscripts(embedding, 1) AS i FROM embeddings))
        |SELECT label, dim, count(*) AS n,
        |  CAST(sum(qval) AS BIGINT) // count(*) AS mean_micro
        |FROM x GROUP BY label, dim ORDER BY label, dim""".stripMargin,
    "sim_recall_census" ->
      s"""WITH b AS (SELECT query_id, neighbor_id FROM ($simBruteSql)),
         |lv AS (SELECT query_id, neighbor_id FROM ($simLshSql)),
         |iv AS (SELECT query_id, neighbor_id FROM ($simIvfSql)),
         |pv AS (SELECT query_id, neighbor_id FROM ($simIvfpqSql)),
         |m AS (SELECT 'lsh' AS method, * FROM lv
         |      UNION ALL SELECT 'ivf', * FROM iv
         |      UNION ALL SELECT 'ivfpq', * FROM pv),
         |h AS (SELECT method, m.query_id, count(*) AS n_hits
         |      FROM m JOIN b USING (query_id, neighbor_id) GROUP BY 1, 2),
         |u AS (SELECT method, query_id
         |      FROM (SELECT DISTINCT query_id FROM b)
         |      CROSS JOIN (SELECT unnest(['lsh','ivf','ivfpq']) AS method)),
         |c AS (SELECT u.method, u.query_id, COALESCE(h.n_hits, 0) AS n_hits
         |      FROM u LEFT JOIN h ON h.method = u.method AND h.query_id = u.query_id),
         |t AS (SELECT method, sum(n_hits) AS hits_total FROM c GROUP BY 1)
         |SELECT c.method, c.query_id, CAST(c.n_hits AS BIGINT) AS n_hits,
         |  CAST(10 AS INT) AS k,
         |  CAST(t.hits_total * 1000 // 50 AS BIGINT) AS recall_milli,
         |  t.hits_total * 1000 // 50 >=
         |    (CASE WHEN c.method = 'ivfpq' THEN 200 ELSE 400 END) AS meets_floor
         |FROM c JOIN t USING (method)
         |ORDER BY method, query_id""".stripMargin,
    // concat-and-chunk packing: the window cumsum and pack arithmetic are
    // exact integers, so the assignment is engine-independent
    "corpus_pack_sequences" ->
      s"""WITH t AS (SELECT source, doc_id, CAST(len($toksSql) AS INT) AS n_tokens
         |           FROM documents),
         |o AS (SELECT source, doc_id, n_tokens,
         |        sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS off
         |      FROM t)
         |SELECT source, doc_id, n_tokens,
         |  CAST(off // 2048 AS INT) AS pack_id,
         |  CAST(off % 2048 AS INT) AS offset_in_pack
         |FROM o ORDER BY source, doc_id""".stripMargin,
    "corpus_decontaminate" ->
      s"""WITH g AS (SELECT doc_id, list_distinct(
         |    CASE WHEN len(toks) < 4 THEN [array_to_string(toks, ' ')]
         |         ELSE [array_to_string(toks[i:i+3], ' ') for i in range(1, len(toks)-2)]
         |    END) AS grams
         |  FROM (SELECT doc_id, $toksSql AS toks FROM documents)),
         |bench AS (SELECT DISTINCT unnest(grams) AS gram FROM g WHERE doc_id < 5),
         |tr AS (SELECT doc_id, unnest(grams) AS gram FROM g WHERE doc_id >= 5)
         |SELECT tr.doc_id, count(*) AS n_hits
         |FROM tr JOIN bench USING (gram)
         |GROUP BY tr.doc_id ORDER BY tr.doc_id""".stripMargin,
    // C4-style boilerplate removal: 8-token segments, df > 2 dropped
    // everywhere, survivors reassembled in order — exact string ops
    "corpus_strip_boilerplate" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |sl AS (SELECT doc_id,
         |    [array_to_string(toks[i*8+1:i*8+8], ' ')
         |     for i in range(0, CAST(ceil(len(toks) / 8.0) AS BIGINT))] AS segl
         |  FROM t),
         |s AS (SELECT doc_id, seg_idx, segl[seg_idx + 1] AS seg
         |      FROM (SELECT doc_id, segl,
         |              unnest(range(0, len(segl))) AS seg_idx FROM sl)),
         |df AS (SELECT seg, count(DISTINCT doc_id) AS seg_df FROM s GROUP BY 1),
         |kept AS (SELECT s.doc_id, count(*) AS n_kept,
         |           string_agg(s.seg, ' ' ORDER BY s.seg_idx) AS clean_text
         |         FROM s JOIN df USING (seg) WHERE df.seg_df <= 2
         |         GROUP BY 1)
         |SELECT sl.doc_id, CAST(len(sl.segl) AS INT) AS n_segments,
         |  CAST(coalesce(kept.n_kept, 0) AS BIGINT) AS n_kept,
         |  coalesce(kept.clean_text, '') AS clean_text
         |FROM sl LEFT JOIN kept ON kept.doc_id = sl.doc_id
         |ORDER BY sl.doc_id""".stripMargin,
    // semantic decontamination: exact cross-multiplied cosine on the x100
    // integer grid (cos² ≥ 49/400 ⇔ cos ≥ 0.35), dim-agnostic index range
    "corpus_decontaminate_semantic" ->
      """WITH ex AS (SELECT vec_id, embedding,
        |    unnest(range(1, len(embedding) + 1)) AS i FROM embeddings),
        |e AS (SELECT vec_id, i,
        |    CAST(round(CAST(embedding[i] AS DOUBLE) * 100) AS BIGINT) AS v
        |  FROM ex),
        |nrm AS (SELECT vec_id, sum(v*v) AS n2 FROM e GROUP BY 1),
        |d AS (SELECT c.vec_id, b.vec_id AS bid, sum(c.v * b.v) AS dot
        |      FROM e c JOIN e b ON b.i = c.i
        |      WHERE b.vec_id < 5 AND c.vec_id >= 5
        |      GROUP BY 1, 2),
        |fl AS (SELECT d.vec_id,
        |    CASE WHEN d.dot > 0 AND d.dot*d.dot*400 >= nc.n2 * nb.n2 * 49
        |         THEN 1 ELSE 0 END AS hit
        |  FROM d JOIN nrm nc ON nc.vec_id = d.vec_id
        |         JOIN nrm nb ON nb.vec_id = d.bid)
        |SELECT vec_id, CAST(sum(hit) AS BIGINT) AS n_bench_hits
        |FROM fl GROUP BY 1 HAVING sum(hit) > 0 ORDER BY vec_id""".stripMargin,
    "corpus_assign_ids" ->
      """SELECT CAST(row_number() OVER (ORDER BY lang, doc_id) AS BIGINT) AS new_id,
        |  doc_id, lang
        |FROM documents ORDER BY new_id""".stripMargin,
    "corpus_quality_filter" ->
      s"""WITH t AS (SELECT doc_id, text, $toksSql AS toks FROM documents),
         |m AS (SELECT doc_id,
         |  len(toks) AS n_tokens,
         |  len(list_filter(toks, x -> list_contains(['the','a','and','of','to','in','is','on'], x))) AS n_stop,
         |  1 - CAST(length(regexp_replace(text, '[a-z ]', '', 'g')) AS DOUBLE)
         |    / length(text) AS alpha_ratio,
         |  1 - CAST(len(list_distinct(g2)) AS DOUBLE) / len(g2) AS dup2
         |  FROM (SELECT *, CASE WHEN len(toks) < 2 THEN [array_to_string(toks, ' ')]
         |          ELSE [array_to_string(toks[i:i+1], ' ') for i in range(1, len(toks))]
         |        END AS g2 FROM t)),
         |r AS (SELECT doc_id,
         |  (CASE WHEN n_tokens BETWEEN 10 AND 1000 THEN 0 ELSE 1 END) +
         |  (CASE WHEN n_stop >= 1 THEN 0 ELSE 2 END) +
         |  (CASE WHEN alpha_ratio >= 0.8 THEN 0 ELSE 4 END) +
         |  (CASE WHEN dup2 <= 0.2 THEN 0 ELSE 8 END) AS reject_reasons
         |  FROM m)
         |SELECT doc_id, CAST(reject_reasons AS INT) AS reject_reasons,
         |  CAST(reject_reasons = 0 AS INT) AS keep
         |FROM r ORDER BY doc_id""".stripMargin,
    // the whole cleaning pipeline replayed stage by stage, each stage over
    // the previous stage's survivors: exact-dedup keeps min doc per text;
    // the shared-gram pair graph + recursive-CTE components drop
    // non-canonical near-dup members; bench shingle overlap (and the bench
    // docs themselves) leave next; the quality bitmask last
    "corpus_retention_funnel" ->
      s"""WITH RECURSIVE t0 AS (SELECT doc_id, text, $toksSql AS toks
         |                      FROM documents),
         |s1 AS (SELECT min(doc_id) AS doc_id FROM t0 GROUP BY text),
         |d1 AS (SELECT t0.doc_id, t0.text, t0.toks FROM t0 JOIN s1 USING (doc_id)),
         |g0 AS (SELECT doc_id, unnest(list_distinct(
         |    CASE WHEN len(toks) < 4 THEN [array_to_string(toks, ' ')]
         |         ELSE [array_to_string(toks[i:i+3], ' ') for i in range(1, len(toks)-2)]
         |    END)) AS gram FROM d1),
         |f AS (SELECT gram FROM g0 GROUP BY gram HAVING count(*) BETWEEN 2 AND 100),
         |x AS (SELECT g0.doc_id, g0.gram FROM g0 JOIN f USING (gram)),
         |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |      FROM x a JOIN x b ON a.gram = b.gram AND b.doc_id > a.doc_id
         |      GROUP BY 1, 2 HAVING count(*) >= 2),
         |e AS (SELECT doc_a AS s, doc_b AS d FROM p
         |      UNION SELECT doc_b, doc_a FROM p),
         |v AS (SELECT DISTINCT s AS id FROM e),
         |reach(id, r) AS (
         |  SELECT id, id FROM v
         |  UNION
         |  SELECT e.s, reach.r FROM e JOIN reach ON reach.id = e.d),
         |cl AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id),
         |d2 AS (SELECT d1.* FROM d1
         |       WHERE d1.doc_id NOT IN (SELECT doc_id FROM cl
         |                               WHERE doc_id <> cluster_id)),
         |g2 AS (SELECT doc_id, list_distinct(
         |    CASE WHEN len(toks) < 4 THEN [array_to_string(toks, ' ')]
         |         ELSE [array_to_string(toks[i:i+3], ' ') for i in range(1, len(toks)-2)]
         |    END) AS grams FROM d2),
         |bench AS (SELECT DISTINCT unnest(grams) AS gram FROM g2 WHERE doc_id < 5),
         |cont AS (SELECT DISTINCT tr.doc_id
         |         FROM (SELECT doc_id, unnest(grams) AS gram FROM g2
         |               WHERE doc_id >= 5) tr
         |         JOIN bench USING (gram)),
         |d3 AS (SELECT * FROM d2 WHERE doc_id >= 5
         |       AND doc_id NOT IN (SELECT doc_id FROM cont)),
         |m AS (SELECT doc_id,
         |  len(toks) AS n_tokens,
         |  len(list_filter(toks, x -> list_contains(['the','a','and','of','to','in','is','on'], x))) AS n_stop,
         |  1 - CAST(length(regexp_replace(text, '[a-z ]', '', 'g')) AS DOUBLE)
         |    / length(text) AS alpha_ratio,
         |  1 - CAST(len(list_distinct(g2c)) AS DOUBLE) / len(g2c) AS dup2
         |  FROM (SELECT *, CASE WHEN len(toks) < 2 THEN [array_to_string(toks, ' ')]
         |          ELSE [array_to_string(toks[i:i+1], ' ') for i in range(1, len(toks))]
         |        END AS g2c FROM d3)),
         |q AS (SELECT doc_id FROM m
         |      WHERE n_tokens BETWEEN 10 AND 1000 AND n_stop >= 1
         |        AND alpha_ratio >= 0.8 AND dup2 <= 0.2)
         |SELECT '0_raw' AS stage, count(*) AS n_docs FROM t0
         |UNION ALL SELECT '1_exact_dedup', count(*) FROM d1
         |UNION ALL SELECT '2_near_dedup', count(*) FROM d2
         |UNION ALL SELECT '3_decontaminated', count(*) FROM d3
         |UNION ALL SELECT '4_quality', count(*) FROM q
         |ORDER BY stage""".stripMargin,
    // same multiplicative-hash permutation key as samp_hash_10pct — pure
    // integer arithmetic, so both engines rank the identical order
    "corpus_shuffle_epoch" ->
      """SELECT CAST(row_number() OVER (
        |    ORDER BY (((doc_id + 1) % 2147483647 + 2147483647) % 2147483647) * 1103515245 % 2147483647,
        |             doc_id) AS BIGINT) AS pos, doc_id
        |FROM documents ORDER BY pos""".stripMargin,
    "text_vocab_coverage" ->
      s"""WITH tok AS (SELECT doc_id, unnest($toksSql) AS tok FROM documents),
         |v AS (SELECT tok FROM tok GROUP BY tok
         |      ORDER BY count(*) DESC, tok LIMIT 10),
         |cov AS (SELECT doc_id, count(*) AS n_tokens,
         |    sum(CASE WHEN tok IN (SELECT tok FROM v) THEN 1 ELSE 0 END) AS n_in_vocab
         |  FROM tok GROUP BY doc_id)
         |SELECT d.doc_id, CAST(coalesce(c.n_tokens, 0) AS BIGINT) AS n_tokens,
         |  CAST(coalesce(c.n_in_vocab, 0) AS BIGINT) AS n_in_vocab
         |FROM documents d LEFT JOIN cov c ON d.doc_id = c.doc_id
         |ORDER BY d.doc_id""".stripMargin,
    // rarity rank 1 = most frequent, ties on token; mean rank in integer
    // micro-units via integer division; head/middle/tail = ntile(3) under
    // the (mean, doc_id) total order — all integer math, both engines exact
    "text_token_rarity" ->
      s"""WITH t AS (SELECT doc_id, unnest($toksSql) AS tok FROM documents),
         |c AS (SELECT tok, count(*) AS c FROM t GROUP BY tok),
         |r AS (SELECT tok, row_number() OVER (ORDER BY c DESC, tok) AS rank FROM c),
         |s AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_toks,
         |    CAST(sum(rank) AS BIGINT) AS rank_sum
         |  FROM t JOIN r USING (tok) GROUP BY doc_id),
         |m AS (SELECT doc_id, n_toks, rank_sum,
         |    rank_sum * 1000000 // n_toks AS mean_rank_micro FROM s)
         |SELECT doc_id, n_toks, rank_sum,
         |  CAST(mean_rank_micro AS BIGINT) AS mean_rank_micro,
         |  CAST(ntile(3) OVER (ORDER BY mean_rank_micro, doc_id) AS INT) AS bucket
         |FROM m ORDER BY doc_id""".stripMargin,
    // exact-substring-dedup census: distinct 8-token spans per doc (short
    // docs collapse to one whole-doc span, the shingles contract); a span
    // is duplicated when its doc frequency >= 2
    "dedup_duplicate_spans" ->
      s"""WITH sp AS (SELECT doc_id, unnest(list_distinct(
         |    CASE WHEN len(toks) < 8 THEN [array_to_string(toks, ' ')]
         |         ELSE [array_to_string(toks[i:i+7], ' ') for i in range(1, len(toks)-6)]
         |    END)) AS span
         |  FROM (SELECT doc_id, $toksSql AS toks FROM documents)),
         |d AS (SELECT span FROM sp GROUP BY span HAVING count(*) >= 2),
         |tot AS (SELECT doc_id, count(*) AS n_spans FROM sp GROUP BY doc_id),
         |dup AS (SELECT doc_id, count(*) AS n_dup_spans
         |        FROM sp JOIN d USING (span) GROUP BY doc_id)
         |SELECT t.doc_id, t.n_spans,
         |  CAST(coalesce(dup.n_dup_spans, 0) AS BIGINT) AS n_dup_spans
         |FROM tot t LEFT JOIN dup USING (doc_id) ORDER BY doc_id""".stripMargin,
    // span REMOVAL replay: positions covered by any df>=2 span occurrence
    // drop; the doc reassembles from survivors in token order
    "corpus_strip_dup_spans" ->
      s"""WITH s0 AS (SELECT doc_id, toks, len(toks) AS n
         |  FROM (SELECT doc_id, $toksSql AS toks FROM documents)),
         |sp AS (
         |  SELECT doc_id, 0 AS pos, array_to_string(toks, ' ') AS span,
         |    n AS span_len
         |  FROM s0 WHERE n > 0 AND n < 8
         |  UNION ALL
         |  SELECT doc_id, CAST(gi.i AS INT) - 1 AS pos,
         |    array_to_string(toks[gi.i:gi.i+7], ' ') AS span, 8 AS span_len
         |  FROM s0, unnest(range(1, n - 6)) gi(i) WHERE n >= 8),
         |dup AS (SELECT span FROM (SELECT DISTINCT doc_id, span FROM sp)
         |        GROUP BY span HAVING count(*) >= 2),
         |cov AS (SELECT DISTINCT sp.doc_id, sp.pos + gk.k AS p
         |        FROM sp JOIN dup USING (span), generate_series(0, 7) gk(k)
         |        WHERE gk.k < sp.span_len),
         |tp AS (SELECT doc_id, CAST(gi.i AS INT) - 1 AS p, toks[gi.i] AS tok
         |       FROM s0, unnest(range(1, n + 1)) gi(i)),
         |ag AS (SELECT tp.doc_id,
         |         count(CASE WHEN cov.p IS NOT NULL THEN 1 END) AS n_removed,
         |         coalesce(string_agg(CASE WHEN cov.p IS NULL THEN tp.tok END,
         |           ' ' ORDER BY tp.p), '') AS clean_text
         |       FROM tp LEFT JOIN cov
         |         ON cov.doc_id = tp.doc_id AND cov.p = tp.p
         |       GROUP BY 1)
         |SELECT s0.doc_id, CAST(s0.n AS INT) AS n_tokens,
         |  CAST(coalesce(ag.n_removed, 0) AS BIGINT) AS n_removed,
         |  coalesce(ag.clean_text, '') AS clean_text
         |FROM s0 LEFT JOIN ag USING (doc_id) ORDER BY doc_id""".stripMargin,
    // power-of-two length bands (explicit thresholds, no float log);
    // batches of 8 docs cut in doc_id order within each band
    "corpus_length_batches" ->
      s"""WITH c AS (SELECT doc_id, CAST(len($toksSql) AS INT) AS n_tokens
         |  FROM documents),
         |b AS (SELECT doc_id, n_tokens,
         |    CASE WHEN n_tokens <= 16 THEN 0 WHEN n_tokens <= 32 THEN 1
         |         WHEN n_tokens <= 64 THEN 2 WHEN n_tokens <= 128 THEN 3
         |         WHEN n_tokens <= 256 THEN 4 ELSE 5 END AS band
         |  FROM c)
         |SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens,
         |  CAST(band AS INT) AS band,
         |  CAST((row_number() OVER (PARTITION BY band ORDER BY doc_id) - 1) // 8
         |    AS INT) AS batch_idx
         |FROM b ORDER BY doc_id""".stripMargin,
    "profile_events" -> {
      def one(c: String) =
        s"""SELECT '$c' AS "column",
           |  CAST(count(CASE WHEN $c IS NULL THEN 1 END) AS BIGINT) AS n_nulls,
           |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
           |  1 AS hll_within_5pct,
           |  CAST(min($c) AS VARCHAR) AS min_value,
           |  CAST(max($c) AS VARCHAR) AS max_value
           |FROM events""".stripMargin
      Seq("event_id", "user_id", "event_type", "value", "props")
        .map(one).mkString("", "\nUNION ALL\n", "\nORDER BY \"column\"")
    },
    "diag_hot_keys" ->
      """WITH c AS (SELECT user_id, count(*) AS n FROM events GROUP BY user_id),
        |t AS (SELECT count(*) AS total FROM events)
        |SELECT user_id, n, round(CAST(n AS DOUBLE) / total, 6) AS share
        |FROM c, t ORDER BY n DESC, user_id LIMIT 5""".stripMargin,
    // Misra-Gries candidates + exact verify emit EXACTLY the keys in the
    // n*capacity > total guarantee zone — the oracle is the plain
    // aggregate with the same integer threshold
    "diag_heavy_hitters" ->
      """WITH c AS (SELECT user_id, count(*) AS n FROM events GROUP BY user_id),
        |t AS (SELECT count(*) AS total FROM events)
        |SELECT user_id, n FROM c, t WHERE n * 2048 > total
        |ORDER BY n DESC, user_id LIMIT 20""".stripMargin,
    // leading digit from the decimal(18,2) string head; Benford expecteds
    // as integer micro-unit literals (round(log10(1+1/d)*1e6))
    "profile_benford_price" ->
      """WITH v AS (SELECT CAST(substring(
        |      CAST(CAST(abs(o_totalprice) AS DECIMAL(18,2)) AS VARCHAR), 1, 1)
        |    AS INT) AS digit
        |  FROM orders WHERE o_totalprice IS NOT NULL
        |    AND abs(o_totalprice) >= 1 AND abs(o_totalprice) < 1e16),
        |t AS (SELECT count(*) AS n_total FROM v),
        |b(bd, micro) AS (VALUES (1, 301030), (2, 176091), (3, 124939),
        |  (4, 96910), (5, 79181), (6, 66947), (7, 57992), (8, 51153),
        |  (9, 45757))
        |SELECT v.digit, count(*) AS n_observed,
        |  CAST(t.n_total * b.micro AS BIGINT) AS expected_micro
        |FROM v, t JOIN b ON b.bd = v.digit
        |GROUP BY v.digit, t.n_total, b.micro
        |ORDER BY digit""".stripMargin,
    // Count-Min sketch replayed on the same integer grid: 4 polynomial
    // hash rows (mults 31/37/131/137 over the two 31-bit primes) mod 1024,
    // sketch built from the exact token-count table, estimate = min cell
    "profile_cms_tokens" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |tc AS (SELECT token, count(*) AS n_true
         |       FROM (SELECT doc_id, unnest(toks) AS token FROM t)
         |       GROUP BY token),
         |hs AS (SELECT token, n_true,
         |  list_reduce(list_prepend(CAST(0 AS BIGINT),
         |    [ord(token[k:k]) for k in range(1, length(token)+1)]),
         |    (a, c) -> (a * 31 + c) % 2147483647) % 1024 AS c0,
         |  list_reduce(list_prepend(CAST(0 AS BIGINT),
         |    [ord(token[k:k]) for k in range(1, length(token)+1)]),
         |    (a, c) -> (a * 37 + c) % 2147483629) % 1024 AS c1,
         |  list_reduce(list_prepend(CAST(0 AS BIGINT),
         |    [ord(token[k:k]) for k in range(1, length(token)+1)]),
         |    (a, c) -> (a * 131 + c) % 2147483647) % 1024 AS c2,
         |  list_reduce(list_prepend(CAST(0 AS BIGINT),
         |    [ord(token[k:k]) for k in range(1, length(token)+1)]),
         |    (a, c) -> (a * 137 + c) % 2147483629) % 1024 AS c3
         |  FROM tc),
         |sk AS (SELECT r, cell, sum(n_true) AS c FROM (
         |    SELECT unnest([0, 1, 2, 3]) AS r,
         |           unnest([c0, c1, c2, c3]) AS cell, n_true FROM hs)
         |  GROUP BY r, cell),
         |tracked AS (SELECT * FROM hs ORDER BY n_true DESC, token LIMIT 10),
         |probes AS (SELECT token, n_true, unnest([0, 1, 2, 3]) AS r,
         |             unnest([c0, c1, c2, c3]) AS cell FROM tracked)
         |SELECT p.token, p.n_true, CAST(min(sk.c) AS BIGINT) AS n_cms
         |FROM probes p JOIN sk ON sk.r = p.r AND sk.cell = p.cell
         |GROUP BY p.token, p.n_true
         |ORDER BY n_true DESC, token""".stripMargin,
    // median/MAD (Hampel) outlier census: every statistic is a discrete
    // order statistic or a single IEEE subtraction — no accumulation-order
    // float risk, so the doubles hash-match exactly
    "profile_robust_outliers" ->
      """WITH med AS (SELECT o_orderpriority,
        |    quantile_disc(o_totalprice, 0.5) AS med FROM orders GROUP BY 1),
        |dev AS (SELECT o.o_orderpriority, med.med,
        |          abs(o.o_totalprice - med.med) AS dev
        |        FROM orders o JOIN med USING (o_orderpriority)),
        |mad AS (SELECT o_orderpriority, quantile_disc(dev, 0.5) AS mad
        |        FROM dev GROUP BY 1)
        |SELECT d.o_orderpriority, count(*) AS n, min(d.med) AS med,
        |  min(m.mad) AS mad,
        |  count(CASE WHEN d.dev > 3 * m.mad THEN 1 END) AS n_outliers
        |FROM dev d JOIN mad m USING (o_orderpriority)
        |GROUP BY d.o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    // BM25 with the Robertson defaults; per-term scores rounded to integer
    // micro-units BEFORE the per-doc sum (identical scalar IEEE op order
    // both engines, then pure integer arithmetic); query = df-ranks 11-15
    "text_bm25_topk" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM t),
         |stats AS (SELECT count(*) AS n_docs,
         |            CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
         |df AS (SELECT token, count(*) AS df
         |       FROM (SELECT DISTINCT doc_id, unnest(toks) AS token FROM t)
         |       GROUP BY token),
         |cand AS (SELECT token, df FROM df ORDER BY df DESC, token LIMIT 15),
         |qt AS (SELECT token, df FROM (SELECT token, df,
         |         row_number() OVER (ORDER BY df DESC, token) AS r FROM cand)
         |       WHERE r BETWEEN 11 AND 15),
         |tf AS (SELECT doc_id, token, count(*) AS tf
         |       FROM (SELECT doc_id, unnest(toks) AS token FROM t)
         |       GROUP BY doc_id, token),
         |sc AS (SELECT tf.doc_id,
         |         CAST(round(ln((stats.n_docs - qt.df + 0.5)
         |             / (qt.df + 0.5) + 1)
         |           * tf.tf * 2.2
         |           / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl))
         |           * 1e6) AS BIGINT) AS micro
         |       FROM tf JOIN qt USING (token)
         |         JOIN dl ON dl.doc_id = tf.doc_id, stats),
         |agg AS (SELECT doc_id, CAST(sum(micro) AS BIGINT) AS score_micro
         |        FROM sc GROUP BY doc_id),
         |top AS (SELECT doc_id, score_micro FROM agg
         |        ORDER BY score_micro DESC, doc_id LIMIT 10)
         |SELECT CAST(row_number() OVER
         |    (ORDER BY score_micro DESC, doc_id) AS INT) AS rank,
         |  doc_id, score_micro
         |FROM top ORDER BY score_micro DESC, doc_id""".stripMargin,
    // add-one-smoothed bigram LM: per-bigram ln rounded to micro-units
    // before the integer per-doc sum (the BM25 discipline); docs with < 2
    // tokens have no transitions and are excluded by contract
    "text_bigram_logprob" ->
      s"""WITH t0 AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |t AS (SELECT * FROM t0 WHERE len(toks) >= 2),
         |uni AS (SELECT w, count(*) AS cu
         |        FROM (SELECT unnest(toks) AS w FROM t) GROUP BY w),
         |v AS (SELECT count(*) AS v FROM uni),
         |bg0 AS (SELECT doc_id, toks[i] AS w1,
         |          toks[i] || ' ' || toks[i+1] AS bg
         |        FROM t, LATERAL (SELECT unnest(range(1, len(toks))) AS i)),
         |bi AS (SELECT bg, count(*) AS cb FROM bg0 GROUP BY bg),
         |sc AS (SELECT bg0.doc_id,
         |         CAST(round(ln((bi.cb + 1.0) / (uni.cu + v.v)) * 1e6)
         |           AS BIGINT) AS micro
         |       FROM bg0 JOIN bi USING (bg)
         |         JOIN uni ON uni.w = bg0.w1, v)
         |SELECT doc_id, count(*) AS n_bigrams,
         |  CAST(sum(micro) AS BIGINT) AS logprob_micro
         |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // k-core peel, k = ceil(avg degree / 2) via exact integer ceiling
    // division (the half-average sparsification threshold);
    // three unrolled rounds (the text_bpe_merges discipline) on the
    // undirected simple nation trade graph
    "graph_kcore" ->
      """WITH edges AS (
        |  SELECT sn.n_name AS src, cn.n_name AS dst
        |  FROM lineitem l
        |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |  JOIN nation sn ON s.s_nationkey = sn.n_nationkey
        |  JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN nation cn ON c.c_nationkey = cn.n_nationkey
        |  GROUP BY 1, 2 HAVING src <> dst),
        |und AS (SELECT src AS a, dst AS b FROM edges
        |        UNION SELECT dst, src FROM edges),
        |d0 AS (SELECT a, count(*) AS deg FROM und GROUP BY a),
        |kv AS (SELECT CAST((sum(deg) + 2 * count(*) - 1)
        |           // (2 * count(*)) AS BIGINT) AS k FROM d0),
        |a1 AS (SELECT a FROM d0, kv WHERE deg >= k),
        |e1 AS (SELECT und.a, und.b FROM und
        |       JOIN a1 ON und.a = a1.a JOIN a1 x ON und.b = x.a),
        |d1 AS (SELECT a, count(*) AS deg FROM e1 GROUP BY a),
        |a2 AS (SELECT a FROM d1, kv WHERE deg >= k),
        |e2 AS (SELECT und.a, und.b FROM und
        |       JOIN a2 ON und.a = a2.a JOIN a2 x ON und.b = x.a),
        |d2 AS (SELECT a, count(*) AS deg FROM e2 GROUP BY a),
        |a3 AS (SELECT a FROM d2, kv WHERE deg >= k),
        |e3 AS (SELECT und.a, und.b FROM und
        |       JOIN a3 ON und.a = a3.a JOIN a3 x ON und.b = x.a),
        |d3 AS (SELECT a, count(*) AS deg FROM e3 GROUP BY a)
        |SELECT d3.a AS n_name, CAST(d3.deg AS BIGINT) AS deg, kv.k
        |FROM d3, kv WHERE d3.deg >= kv.k
        |ORDER BY n_name""".stripMargin,
    // decile bounds are DISCRETE percentiles (exact data values); ties go
    // to the lower bucket so assignment is exact comparison cross-engine
    "profile_equidepth_hist" ->
      """WITH b AS (SELECT
        |    quantile_disc(o_totalprice, 0.1) AS b0,
        |    quantile_disc(o_totalprice, 0.2) AS b1,
        |    quantile_disc(o_totalprice, 0.3) AS b2,
        |    quantile_disc(o_totalprice, 0.4) AS b3,
        |    quantile_disc(o_totalprice, 0.5) AS b4,
        |    quantile_disc(o_totalprice, 0.6) AS b5,
        |    quantile_disc(o_totalprice, 0.7) AS b6,
        |    quantile_disc(o_totalprice, 0.8) AS b7,
        |    quantile_disc(o_totalprice, 0.9) AS b8
        |  FROM orders)
        |SELECT 1 + (CASE WHEN o_totalprice > b0 THEN 1 ELSE 0 END)
        |    + (CASE WHEN o_totalprice > b1 THEN 1 ELSE 0 END)
        |    + (CASE WHEN o_totalprice > b2 THEN 1 ELSE 0 END)
        |    + (CASE WHEN o_totalprice > b3 THEN 1 ELSE 0 END)
        |    + (CASE WHEN o_totalprice > b4 THEN 1 ELSE 0 END)
        |    + (CASE WHEN o_totalprice > b5 THEN 1 ELSE 0 END)
        |    + (CASE WHEN o_totalprice > b6 THEN 1 ELSE 0 END)
        |    + (CASE WHEN o_totalprice > b7 THEN 1 ELSE 0 END)
        |    + (CASE WHEN o_totalprice > b8 THEN 1 ELSE 0 END) AS bucket,
        |  count(*) AS n_rows, min(o_totalprice) AS lo,
        |  max(o_totalprice) AS hi
        |FROM orders, b GROUP BY bucket ORDER BY bucket""".stripMargin,
    // quasi-identifier = (nation, market segment); groups below k are the
    // re-identifiable population
    // distinct banded balances per quasi-identifier group; the floor-to-
    // thousands band is exact on doubles in both engines
    "privacy_ldiv_census" ->
      """WITH g AS (SELECT c_nationkey, c_mktsegment, count(*) AS n,
        |             count(DISTINCT CAST(floor(c_acctbal / 1000) AS INT)) AS l_div
        |           FROM customer GROUP BY 1, 2)
        |SELECT CAST(3 AS INT) AS l, count(*) AS n_groups,
        |  count(CASE WHEN l_div < 3 THEN 1 END) AS n_below_l,
        |  CAST(coalesce(sum(CASE WHEN l_div < 3 THEN n END), 0) AS BIGINT)
        |    AS n_rows_at_risk,
        |  CAST(min(l_div) AS BIGINT) AS min_l
        |FROM g""".stripMargin,
    // RAKE: stopword gaps-and-islands phrases, degree/frequency word
    // scores in truncated micro-units, phrase = sum of word scores
    "text_rake_phrases" ->
      s"""WITH tk AS (SELECT doc_id, unnest(toks) AS token,
         |             generate_subscripts(toks, 1) AS pos
         |           FROM (SELECT doc_id, $toksSql AS toks FROM documents)),
         |t2 AS (SELECT doc_id, pos, token,
         |        list_contains(['the','a','and','of','to','in','is','on'],
         |          token) AS is_stop FROM tk),
         |isl AS (SELECT doc_id, pos, token, is_stop,
         |         sum(CASE WHEN is_stop THEN 1 ELSE 0 END)
         |           OVER (PARTITION BY doc_id ORDER BY pos) AS island
         |        FROM t2),
         |ph AS (SELECT doc_id, island,
         |         array_to_string(list(token ORDER BY pos), ' ') AS phrase,
         |         count(*) AS plen
         |       FROM isl WHERE NOT is_stop GROUP BY doc_id, island),
         |-- wd carries only (plen, w): ph.phrase is unused downstream of
         |-- the unnest, and duplicating a ~450-byte phrase across 34.6M
         |-- unnested rows at 128x kills DuckDB's buffer manager
         |wd AS (SELECT plen, unnest(string_split(phrase, ' ')) AS w
         |       FROM ph),
         |ws AS (SELECT w, CAST((sum(plen) * 1000000) // count(*) AS BIGINT)
         |         AS wscore FROM wd GROUP BY w),
         |-- pw carries a compact pid through the unnest (same wide-string
         |-- duplication bound as wd); phrase/n_occurrences rejoin via dp
         |dp AS (SELECT phrase, count(*) AS n_occurrences,
         |         row_number() OVER (ORDER BY phrase) AS pid
         |       FROM ph GROUP BY phrase),
         |pw AS (SELECT pid, unnest(string_split(phrase, ' ')) AS w FROM dp),
         |sc AS (SELECT pid, CAST(sum(wscore) AS BIGINT) AS score_micro
         |       FROM pw JOIN ws USING (w) GROUP BY pid)
         |SELECT dp.phrase, dp.n_occurrences, sc.score_micro,
         |  CAST(row_number() OVER (ORDER BY sc.score_micro DESC, dp.phrase)
         |    AS INT) AS rank
         |FROM sc JOIN dp USING (pid)
         |ORDER BY score_micro DESC, phrase LIMIT 20""".stripMargin,
    "privacy_kanon_census" ->
      """WITH g AS (SELECT c_nationkey, c_mktsegment, count(*) AS n
        |           FROM customer GROUP BY 1, 2)
        |SELECT CAST(5 AS INT) AS k, count(*) AS n_groups,
        |  count(CASE WHEN n < 5 THEN 1 END) AS n_violating_groups,
        |  CAST(coalesce(sum(CASE WHEN n < 5 THEN n END), 0) AS BIGINT)
        |    AS n_rows_at_risk,
        |  CAST(min(n) AS BIGINT) AS min_group_size
        |FROM g""".stripMargin,
    // sessions replicated with the win_session_30m gaps-and-islands CTE;
    // the overlap join itself is the plain inequality join (the engine's
    // bucket-first plan must produce exactly its result)
    "join_interval_overlap" ->
      """WITH g AS (SELECT user_id, ts,
        |  CASE WHEN lag(ts) OVER w IS NULL
        |         OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_s
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |s AS (SELECT user_id, ts, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM g),
        |sess AS (SELECT user_id, min(ts) AS s_start,
        |           max(ts) + INTERVAL 30 MINUTE AS s_end
        |         FROM s GROUP BY user_id, sid),
        |inc AS (SELECT event_id AS incident_id, ts AS i_start,
        |          ts + INTERVAL 1 HOUR AS i_end
        |        FROM events WHERE event_type = 'error')
        |SELECT sess.user_id, sess.s_start, inc.incident_id,
        |  epoch_us(least(s_end, i_end)) - epoch_us(greatest(s_start, i_start)) AS overlap_us
        |FROM sess JOIN inc ON s_start < i_end AND i_start < s_end
        |ORDER BY user_id, s_start, incident_id""".stripMargin,
    "etl_scd2_user_state" ->
      """WITH o AS (SELECT user_id, event_type AS state, ts, event_id,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events),
        |ch AS (SELECT user_id, state, ts, event_id FROM o
        |       WHERE prev IS NULL OR prev <> state),
        |iv AS (SELECT user_id, state, ts AS valid_from,
        |    lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to
        |  FROM ch)
        |SELECT user_id, state, valid_from, valid_to,
        |  (valid_to IS NULL) AS is_current
        |FROM iv ORDER BY user_id, valid_from""".stripMargin,
    // point-in-time lookup: replays the SCD2 CTE chain, then the equi-join
    // + interval filter over purchase facts
    "etl_scd2_lookup" ->
      """WITH o AS (SELECT user_id, event_type AS state, ts, event_id,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events),
        |ch AS (SELECT user_id, state, ts, event_id FROM o
        |       WHERE prev IS NULL OR prev <> state),
        |iv AS (SELECT user_id, state, ts AS valid_from,
        |    lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to
        |  FROM ch),
        |f AS (SELECT event_id, user_id, ts FROM events
        |      WHERE event_type = 'purchase')
        |SELECT f.event_id, f.user_id, f.ts, iv.state, iv.valid_from
        |FROM f JOIN iv ON f.user_id = iv.user_id
        |WHERE iv.valid_from <= f.ts
        |  AND (iv.valid_to IS NULL OR f.ts < iv.valid_to)
        |ORDER BY event_id""".stripMargin,
    // first-order Markov transition census; share-of-source in integer ppm
    // (both engines truncate toward zero on integral division)
    "seq_transition_matrix" ->
      """WITH p AS (SELECT user_id, event_type AS prev_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS next_type
        |  FROM events),
        |m AS (SELECT prev_type, next_type, count(*) AS n FROM p
        |      WHERE next_type IS NOT NULL GROUP BY 1, 2)
        |SELECT prev_type, next_type, n,
        |  CAST((n * 1000000) // sum(n) OVER (PARTITION BY prev_type)
        |    AS BIGINT) AS prob_ppm
        |FROM m ORDER BY prev_type, next_type""".stripMargin,
    // weekday seasonal baseline + residual in exact integer micro-units;
    // Spark dayofweek is 1=Sunday..7, DuckDB's is 0=Sunday..6, hence the +1
    "ts_seasonal_dow" ->
      """WITH d AS (SELECT CAST(ts AS DATE) AS day, count(*) AS n
        |           FROM events GROUP BY 1),
        |x AS (SELECT day, CAST(dayofweek(day) + 1 AS INT) AS dow, n FROM d),
        |m AS (SELECT day, dow, n,
        |        CAST((sum(n) OVER (PARTITION BY dow) * 1000000)
        |          // count(*) OVER (PARTITION BY dow) AS BIGINT) AS dow_mean_micro
        |      FROM x)
        |SELECT day, dow, n, dow_mean_micro,
        |  n * 1000000 - dow_mean_micro AS resid_micro
        |FROM m ORDER BY day""".stripMargin,
    "etl_merge_upsert" ->
      """WITH b AS (SELECT user_id, event_type, value, ts FROM events
        |           WHERE ts < TIMESTAMP '2024-03-01'
        |           QUALIFY row_number() OVER (PARTITION BY user_id
        |             ORDER BY ts DESC, event_id DESC) = 1),
        |c AS (SELECT user_id, event_type, value, ts FROM events
        |      WHERE ts >= TIMESTAMP '2024-03-01'
        |      QUALIFY row_number() OVER (PARTITION BY user_id
        |        ORDER BY ts DESC, event_id DESC) = 1)
        |SELECT coalesce(b.user_id, c.user_id) AS user_id,
        |  coalesce(c.event_type, b.event_type) AS event_type,
        |  coalesce(c.value, b.value) AS value,
        |  coalesce(c.ts, b.ts) AS ts,
        |  CASE WHEN b.user_id IS NULL THEN 'insert'
        |       WHEN c.user_id IS NULL THEN 'keep' ELSE 'update' END AS op
        |FROM b FULL OUTER JOIN c ON b.user_id = c.user_id
        |ORDER BY user_id""".stripMargin,
    "text_repetition" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |g AS (SELECT doc_id, CAST(len(toks) AS INT) AS n_tokens,
         |  CASE WHEN len(toks) < 2 THEN [array_to_string(toks, ' ')]
         |       ELSE [array_to_string(toks[i:i+1], ' ') for i in range(1, len(toks))]
         |  END AS g2,
         |  CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
         |       ELSE [array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks)-1)]
         |  END AS g3
         |  FROM t)
         |SELECT doc_id, n_tokens, CAST(len(g2) AS INT) AS n_2grams,
         |  1 - CAST(len(list_distinct(g2)) AS DOUBLE) / len(g2) AS dup_2gram_ratio,
         |  1 - CAST(len(list_distinct(g3)) AS DOUBLE) / len(g3) AS dup_3gram_ratio
         |FROM g ORDER BY doc_id""".stripMargin,
    "text_token_stats" ->
      s"""WITH t AS (SELECT doc_id, text, length(text) AS n_chars, $toksSql AS toks FROM documents)
         |SELECT doc_id, CAST(len(toks) AS INT) AS n_tokens,
         |  CAST(len(list_distinct(toks)) AS INT) AS n_distinct_tokens,
         |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS INT) AS n_subword_tokens,
         |  CAST(n_chars AS INT) AS n_chars,
         |  CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS ttr
         |FROM t ORDER BY doc_id""".stripMargin,
    "text_quality" ->
      s"""WITH t AS (SELECT doc_id, length(text) AS n_chars,
         |  length(regexp_replace(text, '[a-z ]', '', 'g')) AS n_nonalpha,
         |  $toksSql AS toks FROM documents),
         |s AS (SELECT doc_id, CAST(len(toks) AS INT) AS n_tokens,
         |  CAST(len(list_filter(toks, x -> list_contains(['the','a','and','of','to','in','is','on'], x))) AS INT) AS n_stop,
         |  n_nonalpha, n_chars FROM t)
         |SELECT doc_id, n_tokens, n_stop,
         |  CAST(n_stop AS DOUBLE) / n_tokens AS stop_ratio,
         |  CAST(n_tokens BETWEEN 10 AND 1000 AS INT) AS len_ok,
         |  1.0 - CAST(n_nonalpha AS DOUBLE) / n_chars AS alpha_ratio
         |FROM s ORDER BY doc_id""".stripMargin,
    "text_langid" ->
      s"""WITH t AS (SELECT doc_id, lang, $toksSql AS toks FROM documents),
         |s AS (SELECT doc_id, lang,
         |  len(list_filter(toks, x -> list_contains(['der','die','das','und','ist'], x))) AS s_de,
         |  len(list_filter(toks, x -> list_contains(['the','and','is','of','to'], x))) AS s_en,
         |  len(list_filter(toks, x -> list_contains(['el','la','los','y','es'], x))) AS s_es,
         |  len(list_filter(toks, x -> list_contains(['le','la','les','et','est'], x))) AS s_fr,
         |  len(list_filter(toks, x -> list_contains(['de5','shi4','le5','zai4','he2'], x))) AS s_zh
         |  FROM t)
         |SELECT doc_id, lang AS labeled_lang,
         |  CASE WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
         |       WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
         |       WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
         |       WHEN s_fr >= s_zh THEN 'fr'
         |       ELSE 'zh' END AS predicted_lang
         |FROM s ORDER BY doc_id""".stripMargin,
    "text_ngram_counts" ->
      s"""WITH t AS (SELECT $toksSql AS toks FROM documents),
         |g AS (SELECT unnest(CASE WHEN len(toks) < 2 THEN CAST([] AS VARCHAR[])
         |  ELSE [array_to_string(toks[i:i+1], ' ') for i in range(1, len(toks))]
         |  END) AS gram FROM t)
         |SELECT gram, count(*) AS n FROM g GROUP BY gram
         |HAVING count(*) >= 3 ORDER BY gram""".stripMargin,
    // first BPE training iteration: adjacent char-pair frequency inside
    // words; the (n DESC, pair) tiebreak makes the top-20 cut deterministic
    "text_bpe_pairs" ->
      s"""WITH t AS (SELECT $toksSql AS toks FROM documents),
         |w AS (SELECT unnest(toks) AS word FROM t),
         |p AS (SELECT substr(word, CAST(r.i AS INT), 2) AS pair
         |      FROM w, unnest(range(1, len(word))) r(i))
         |SELECT pair, count(*) AS n FROM p GROUP BY pair
         |ORDER BY n DESC, pair LIMIT 20""".stripMargin,
    // iterated BPE training: 3 unrolled census→argmax→apply rounds (see
    // bpeMergesSql) — the merge list evolving, chosen pair at rank 1
    "text_bpe_merges" -> bpeMergesSql,
    "text_redact" ->
      """SELECT doc_id,
        |  regexp_replace(regexp_replace(text, '[a-z0-9.]+@[a-z0-9.]+', '<EMAIL>', 'g'),
        |    '[0-9]{3,}', '<NUM>', 'g') AS clean_text,
        |  CAST(len(regexp_extract_all(text, '[a-z0-9.]+@[a-z0-9.]+')) AS INT) AS n_emails,
        |  CAST(len(regexp_extract_all(text, '[0-9]{3,}')) AS INT) AS n_digit_runs
        |FROM documents ORDER BY doc_id""".stripMargin,
    // the polynomial dual-residue rolling hash is plain integer arithmetic —
    // DuckDB re-derives the exact fingerprint from the char stream
    "text_fingerprint" ->
      s"""WITH t AS (SELECT doc_id, array_to_string($toksSql, ' ') AS s FROM documents),
         |c AS (SELECT doc_id, list_prepend(CAST(0 AS BIGINT),
         |        [ord(s[i:i]) for i in range(1, length(s)+1)]) AS cs FROM t)
         |SELECT doc_id,
         |  list_reduce(cs, (a, c) -> (a * 31 + c) % 2147483647) * 2147483648 +
         |  list_reduce(cs, (a, c) -> (a * 131 + c) % 2147483629) AS fp
         |FROM c ORDER BY doc_id""".stripMargin,
    "text_doc_frequency" ->
      s"""WITH t AS (SELECT list_distinct($toksSql) AS toks FROM documents),
         |x AS (SELECT unnest(toks) AS token FROM t)
         |SELECT token, count(*) AS df FROM x GROUP BY token
         |HAVING count(*) >= 2 ORDER BY token""".stripMargin,
    "text_tfidf" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |tfc AS (SELECT doc_id, token, count(*) AS tf
         |        FROM (SELECT doc_id, unnest(toks) AS token FROM t) GROUP BY 1, 2),
         |dfc AS (SELECT token, count(*) AS df
         |        FROM (SELECT unnest(list_distinct(toks)) AS token FROM t)
         |        GROUP BY token HAVING count(*) >= 2),
         |n AS (SELECT count(*) AS n FROM documents)
         |SELECT tfc.doc_id, tfc.token, tfc.tf, dfc.df,
         |  round(tfc.tf * ln(CAST(n.n + 1 AS DOUBLE) / (dfc.df + 1)), 6) AS tf_idf
         |FROM tfc JOIN dfc USING (token) CROSS JOIN n
         |ORDER BY doc_id, token""".stripMargin,
    "mm_blob_meta" ->
      """SELECT doc_id AS media_id, CAST(octet_length(encode(text)) AS INT) AS n_bytes,
        |  source, 'fake/raw' AS format
        |FROM documents ORDER BY media_id""".stripMargin,
    "mm_decode_features" ->
      s"""WITH $mmHashCte
         |SELECT media_id, n_bytes,
         |  CAST(64 + h1 % 512 AS INT) AS width, CAST(64 + h2 % 512 AS INT) AS height,
         |  CAST(1 + (h1 + h2) % 8 AS INT) AS n_frames,
         |${(0 until 8).map(i =>
             s"  ((h1 * ${i + 1} + h2 * ${i + 7}) % 1000) / 1000.0 AS f$i")
             .mkString(",\n")}
         |FROM h ORDER BY media_id""".stripMargin,
    "mm_frame_sample" ->
      s"""WITH $mmHashCte,
         |f AS (SELECT media_id, CAST(1 + (h1 + h2) % 8 AS INT) AS n_frames FROM h)
         |SELECT media_id, n_frames, CAST(frame_idx AS INT) AS frame_idx
         |FROM (SELECT media_id, n_frames, unnest(range(0, n_frames)) AS frame_idx FROM f)
         |WHERE frame_idx % 2 = 0 ORDER BY media_id, frame_idx""".stripMargin,
    "mm_resize_plan" ->
      s"""WITH $mmHashCte,
         |d AS (SELECT media_id, CAST(64 + h1 % 512 AS INT) AS width,
         |        CAST(64 + h2 % 512 AS INT) AS height FROM h)
         |SELECT media_id, width, height, 224 AS out_width,
         |  CAST(floor(height * 224.0 / width + 0.5) AS INT) AS out_height
         |FROM d ORDER BY media_id""".stripMargin,
    // structural header decode: the engine builds real PNG/WAV containers
    // with planted dimensions and parses them back from byte structure;
    // the oracle predicts the planted values + exact container sizes
    // (PNG: 8 sig + 25 IHDR + 12 IEND = 45; WAV: 44 + data bytes)
    "mm_png_headers" ->
      """SELECT doc_id AS media_id, 45 AS n_bytes,
        |  CAST(16 + (doc_id * 7) % 1024 AS INT) AS width,
        |  CAST(16 + (doc_id * 13) % 1024 AS INT) AS height,
        |  8 AS bit_depth, 6 AS color_type, 2 AS n_chunks
        |FROM documents WHERE doc_id % 2 = 0 ORDER BY media_id""".stripMargin,
    "mm_wav_headers" ->
      """SELECT doc_id AS media_id,
        |  CAST(44 + (100 + (doc_id * 37) % 900) * (1 + (doc_id // 2) % 2) * 2 AS INT) AS n_bytes,
        |  CAST(8000 + (doc_id % 8) * 1000 AS INT) AS sample_rate,
        |  CAST(1 + (doc_id // 2) % 2 AS INT) AS channels,
        |  16 AS bits_per_sample,
        |  CAST(100 + (doc_id * 37) % 900 AS INT) AS n_samples
        |FROM documents WHERE doc_id % 2 = 1 ORDER BY media_id""".stripMargin,
    // REAL pixel decode: the engine inflates IDAT and reconstructs the
    // PNG filters; the oracle predicts the exact channel sums from the
    // planted-pixel formula — a hash match proves the container → zlib →
    // filter-reconstruction → pixel path end to end
    "mm_pixel_stats" ->
      """WITH dims AS (SELECT doc_id,
        |    CAST(1 + (doc_id // 2) % 4 AS INT) AS width,
        |    CAST(1 + ((doc_id // 2) * 3) % 4 AS INT) AS height
        |  FROM documents WHERE doc_id % 2 = 0),
        |px AS (SELECT d.doc_id, d.width, d.height, gx.x, gy.y
        |  FROM dims d, generate_series(0, 3) gx(x), generate_series(0, 3) gy(y)
        |  WHERE gx.x < d.width AND gy.y < d.height)
        |SELECT doc_id AS media_id, width, height,
        |  CAST(width * height AS INT) AS n_pixels,
        |  CAST(sum(((doc_id + 1) * 31 + x * 7 + y * 13) % 256) AS BIGINT) AS sum_r,
        |  CAST(sum(((doc_id + 1) * 31 + x * 7 + y * 13 + 5) % 256) AS BIGINT) AS sum_g,
        |  CAST(sum(((doc_id + 1) * 31 + x * 7 + y * 13 + 10) % 256) AS BIGINT) AS sum_b,
        |  CAST(sum(((doc_id + 1) * 31 + x * 7 + y * 13 + 15) % 256) AS BIGINT) AS sum_a
        |FROM px GROUP BY doc_id, width, height ORDER BY media_id""".stripMargin,
    // aHash over the decoded pixels: nearest-neighbor 8x8 resample
    // (integer index map), gray = r+g+b sum, bit set iff gray*64 > total —
    // the oracle recomputes the exact 64 bits from the planted formula
    "mm_ahash" ->
      """WITH dims AS (SELECT doc_id,
        |    CAST(1 + (doc_id // 2) % 4 AS INT) AS w,
        |    CAST(1 + ((doc_id // 2) * 3) % 4 AS INT) AS h
        |  FROM documents WHERE doc_id % 2 = 0),
        |g AS (SELECT d.doc_id, d.w, d.h, gy.y * 8 + gx.x AS i,
        |      ((d.doc_id + 1) * 31 + ((gx.x * d.w) // 8) * 7 + ((gy.y * d.h) // 8) * 13) % 256
        |    + ((d.doc_id + 1) * 31 + ((gx.x * d.w) // 8) * 7 + ((gy.y * d.h) // 8) * 13 + 5) % 256
        |    + ((d.doc_id + 1) * 31 + ((gx.x * d.w) // 8) * 7 + ((gy.y * d.h) // 8) * 13 + 10) % 256
        |    AS gray
        |  FROM dims d, generate_series(0, 7) gx(x), generate_series(0, 7) gy(y)),
        |t AS (SELECT doc_id, sum(gray) AS tot FROM g GROUP BY doc_id)
        |SELECT g.doc_id AS media_id,
        |  CAST(max(g.w) AS INT) AS width, CAST(max(g.h) AS INT) AS height,
        |  CAST(sum(CASE WHEN g.gray * 64 > t.tot AND g.i >= 32
        |    THEN 1::BIGINT << (g.i - 32) ELSE 0 END) AS BIGINT) AS ahash_hi,
        |  CAST(sum(CASE WHEN g.gray * 64 > t.tot AND g.i < 32
        |    THEN 1::BIGINT << g.i ELSE 0 END) AS BIGINT) AS ahash_lo
        |FROM g JOIN t USING (doc_id)
        |GROUP BY g.doc_id ORDER BY media_id""".stripMargin,
    // image near-dup: the oracle recomputes every aHash from the planted
    // formula and verifies the pigeonhole-bucketed pairs against an
    // EXHAUSTIVE hamming self-join (exact at verify scale; the Spark side
    // never goes all-pairs)
    "mm_ahash_neardup" ->
      """WITH dims AS (SELECT doc_id,
        |    CAST(1 + (doc_id // 2) % 4 AS INT) AS w,
        |    CAST(1 + ((doc_id // 2) * 3) % 4 AS INT) AS h
        |  FROM documents WHERE doc_id % 2 = 0),
        |g AS (SELECT d.doc_id, gy.y * 8 + gx.x AS i,
        |      ((d.doc_id + 1) * 31 + ((gx.x * d.w) // 8) * 7 + ((gy.y * d.h) // 8) * 13) % 256
        |    + ((d.doc_id + 1) * 31 + ((gx.x * d.w) // 8) * 7 + ((gy.y * d.h) // 8) * 13 + 5) % 256
        |    + ((d.doc_id + 1) * 31 + ((gx.x * d.w) // 8) * 7 + ((gy.y * d.h) // 8) * 13 + 10) % 256
        |    AS gray
        |  FROM dims d, generate_series(0, 7) gx(x), generate_series(0, 7) gy(y)),
        |t AS (SELECT doc_id, sum(gray) AS tot FROM g GROUP BY doc_id),
        |hsh AS (SELECT g.doc_id,
        |    CAST(sum(CASE WHEN g.gray * 64 > t.tot AND g.i >= 32
        |      THEN 1::BIGINT << (g.i - 32) ELSE 0 END) AS BIGINT) AS hi,
        |    CAST(sum(CASE WHEN g.gray * 64 > t.tot AND g.i < 32
        |      THEN 1::BIGINT << g.i ELSE 0 END) AS BIGINT) AS lo
        |  FROM g JOIN t USING (doc_id) GROUP BY g.doc_id),
        |chunks AS (SELECT h.doc_id, h.hi, h.lo, gi.idx,
        |    CASE WHEN gi.idx < 2 THEN (h.lo >> (gi.idx * 16)) & 65535
        |         ELSE (h.hi >> ((gi.idx - 2) * 16)) & 65535 END AS chunk
        |  FROM hsh h, generate_series(0, 3) gi(idx)),
        |kept AS (SELECT idx, chunk FROM chunks
        |  GROUP BY 1, 2 HAVING count(*) BETWEEN 2 AND 1024),
        |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    a.hi AS ahi, a.lo AS alo, b.hi AS bhi, b.lo AS blo
        |  FROM chunks a
        |  JOIN kept k ON a.idx = k.idx AND a.chunk = k.chunk
        |  JOIN chunks b ON b.idx = k.idx AND b.chunk = k.chunk
        |    AND a.doc_id < b.doc_id)
        |SELECT doc_a, doc_b,
        |  CAST(bit_count(xor(ahi, bhi)) + bit_count(xor(alo, blo)) AS INT)
        |    AS hamming
        |FROM cand
        |WHERE bit_count(xor(ahi, bhi)) + bit_count(xor(alo, blo)) <= 3
        |ORDER BY doc_a, doc_b""".stripMargin,
    // REAL PCM decode: 16-bit LE samples from the data chunk; the oracle
    // replays the planted-sample formula for exact peak / L1 stats
    "mm_wav_stats" ->
      """WITH d AS (SELECT doc_id, CAST(64 + doc_id % 256 AS INT) AS n
        |  FROM documents WHERE doc_id % 2 = 1),
        |s AS (SELECT d.doc_id, d.n, gk.k,
        |    ((d.doc_id + 1) * 31 + gk.k * 7) % 65536 - 32768 AS v
        |  FROM d, generate_series(0, 319) gk(k) WHERE gk.k < d.n)
        |SELECT doc_id AS media_id, n AS n_samples,
        |  CAST(max(abs(v)) AS INT) AS peak_abs,
        |  CAST(sum(abs(v)) AS BIGINT) AS sum_abs,
        |  CAST(min(CASE WHEN k = 0 THEN v END) AS INT) AS first_sample
        |FROM s GROUP BY doc_id, n ORDER BY media_id""".stripMargin,
    // stereo: 2*(64 + id%256) interleaved samples, channel = k % 2,
    // per-channel peak/L1/first over the planted formula (max k = 637)
    "mm_wav_stereo_stats" ->
      """WITH d AS (SELECT doc_id, CAST(64 + doc_id % 256 AS INT) AS n
        |  FROM documents WHERE doc_id % 2 = 1),
        |s AS (SELECT d.doc_id, d.n, gk.k, CAST(gk.k % 2 AS INT) AS channel,
        |    ((d.doc_id + 1) * 31 + gk.k * 7) % 65536 - 32768 AS v
        |  FROM d, generate_series(0, 639) gk(k) WHERE gk.k < 2 * d.n)
        |SELECT doc_id AS media_id, channel, n AS n_samples,
        |  CAST(max(abs(v)) AS INT) AS peak_abs,
        |  CAST(sum(abs(v)) AS BIGINT) AS sum_abs,
        |  CAST(min(CASE WHEN k = channel THEN v END) AS INT) AS first_sample
        |FROM s GROUP BY doc_id, channel, n
        |ORDER BY media_id, channel""".stripMargin,
    "s3_tsv_roundtrip" ->
      """SELECT DISTINCT event_type AS key FROM events
        |WHERE event_type IS NOT NULL ORDER BY key""".stripMargin,
    "s_json_roundtrip" ->
      """SELECT event_type, count(*) AS n FROM events
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "s_orc_roundtrip" ->
      """SELECT l_returnflag,
        |  CAST(CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // JDBC roundtrip must reproduce the dim exactly, so the oracle is the
    // dim's own SQL — any write/read corruption shows as a hash mismatch
    "s_jdbc_roundtrip" ->
      """SELECT CAST(row_number() OVER (ORDER BY name) AS INT) AS category_id, name
        |FROM (SELECT DISTINCT o_orderpriority AS name FROM orders WHERE o_orderpriority IS NOT NULL)
        |ORDER BY category_id""".stripMargin,
    // the bucketed write must be content-transparent: the co-located join
    // over the bucketed tables must equal the same join on the raw parquet
    "s_bucketed_join" ->
      """SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DECIMAL(28,2)) AS DOUBLE) AS sum_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "s1_crime_weekly" -> {
      val cs = (0 to 16)
        .map(b => s"""count(*) FILTER (WHERE b = $b) AS c$b""")
        .mkString(", ")
      s"""WITH raw AS ($crimeCsvScanSql),
         |clean AS (
         |  SELECT "Category" AS key, CAST((month(d) - 1) * 5 + ${wom("d")} AS INT) AS b
         |  FROM (SELECT "Category", "PdDistrict",
         |          CAST(try_strptime(split_part("Date", ' ', 1), '%m/%d/%Y') AS DATE) AS d
         |        FROM raw)
         |  WHERE "Category" IS NOT NULL AND "PdDistrict" IS NOT NULL AND d IS NOT NULL)
         |SELECT key, $cs
         |FROM clean GROUP BY key ORDER BY key""".stripMargin
    },
    "s1_crime_badrec" ->
      s"""WITH raw AS ($crimeCsvScanSql)
         |SELECT "IncidntNum" AS IncidntNum,
         |  CASE WHEN "Category" IS NULL THEN 'missing_category'
         |       WHEN "PdDistrict" IS NULL THEN 'missing_district'
         |       ELSE 'bad_date' END AS bad_reason
         |FROM raw
         |WHERE "Category" IS NULL OR "PdDistrict" IS NULL
         |   OR try_strptime(split_part("Date", ' ', 1), '%m/%d/%Y') IS NULL
         |ORDER BY IncidntNum""".stripMargin,
  )

  /** DuckDB scan of the committed crime CSV fixture, mirroring the engine's
    * reader options (`CrimePipeline.readCrimeCsvTagged`): positional
    * all-VARCHAR schema, header skipped, `"`-quoted fields with doubled
    * quotes, short rows null-padded (Spark's permissive mode does the
    * same), empty fields as NULL (both readers' default). */
  private def crimeCsvScanSql: String =
    s"SELECT * FROM read_csv('$crimeCsvPath', auto_detect=false, " +
      "delim=',', header=true, quote='\"', escape='\"', null_padding=true, " +
      "columns={" +
      Seq("IncidntNum", "Category", "Descript", "DayOfWeek", "Date", "Time",
        "PdDistrict", "Resolution", "Address", "X", "Y", "Location")
        .map(c => s"'$c':'VARCHAR'").mkString(",") + "})"
}
