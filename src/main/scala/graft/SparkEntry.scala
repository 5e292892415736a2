package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.immutable.ListMap

import graft.chunk.Chunking
import graft.geom.Geometry
import graft.meta.Upsert
import graft.relational.Relational
import graft.streaming.EventWindows
import graft.text.TextFunctions
import graft.vector.{Bm25, Dedup, VectorOps}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every operator claimed in SURVEY.md §2 is registered here as a named
  * query over `/root/testdata/<sf>/` with (where SQL-expressible) a
  * DuckDB oracle. Column names/types are aligned between both engines
  * and every query ends in a deterministic ORDER BY; float aggregates go
  * through [[graft.Exact]] or explicit rounding so hashes match.
  */
object SparkEntry {

  /** Search terms shared by the lexical-retrieval queries (present in
    * the synthetic documents' vocabulary). */
  // private[graft]: WidthInvarianceSpec replays the retrieval gate's
  // wide-session twin with the SAME terms — a hardcoded copy would
  // drift silently when a term changes
  private[graft] val queryTerms = Seq("spark", "window", "merge", "stream")

  /** Batch for the multi-query BM25 gate — overlapping vocabularies on
    * purpose, so the shared-DF amortization path (one DF count per
    * UNION term, fanned to every query containing it) is exercised,
    * not just the degenerate disjoint case. */
  private[graft] val queryBatch: Seq[(Long, Seq[String])] = Seq(
    0L -> Seq("spark", "window"),
    1L -> Seq("merge", "stream"),
    2L -> Seq("spark", "stream", "partition"),
    3L -> Seq("window", "shuffle", "merge"))

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks
    * rows>0. The full snowflake join + exact aggregation. */
  def entry(spark: SparkSession): DataFrame =
    Relational.regionRevenue(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = ListMap(
    // --- relational: scans, joins, aggregations (§2.1–2.4) ---
    "q1_pricing_summary" -> ((s, d) => Relational.pricingSummary(s, d)),
    "q3_top_revenue_orders" -> ((s, d) => Relational.topRevenueOrders(s, d)),
    "q5_region_revenue" -> ((s, d) => Relational.regionRevenue(s, d)),
    "join_anti_customers" -> ((s, d) => Relational.customersWithoutOrders(s, d)),
    "join_semi_big_orders" -> ((s, d) => Relational.ordersWithBigLines(s, d)),
    "join_broadcast_brand" -> ((s, d) => Relational.brandRevenue(s, d)),
    "agg_rollup_returns" -> ((s, d) => Relational.rollupReturns(s, d)),
    "agg_cube_orders" -> ((s, d) => Relational.cubeOrders(s, d)),
    "agg_distinct_segment" -> ((s, d) => Relational.segmentCustomers(s, d)),
    "agg_salted_distinct" -> ((s, d) => Relational.saltedDistinctUsers(s, d)),
    // --- windows, sorts, set ops (§2.5–2.7) ---
    "win_running_spend" -> ((s, d) => Relational.runningCustomerSpend(s, d)),
    "win_lead_order_gaps" -> ((s, d) => Relational.orderGaps(s, d)),
    "win_topn_per_customer" -> ((s, d) => Relational.topOrdersPerCustomer(s, d)),
    "win_topn_operator" -> ((s, d) => topNOperatorQuery(s, d)),
    "sort_topk_lineitems" -> ((s, d) => Relational.topLineitems(s, d)),
    "sort_zorder_parts" -> ((s, d) => Relational.zorderParts(s, d)),
    "setop_except_custkeys" -> ((s, d) => Relational.setOpsCustkeys(s, d)),
    "setop_intersect_custkeys" -> ((s, d) => Relational.intersectCustkeys(s, d)),
    "q7_nation_trade" -> ((s, d) => Relational.nationTradeVolume(s, d)),
    "q10_returned_revenue" -> ((s, d) => Relational.returnedItemRevenue(s, d)),
    "q18_large_volume" -> ((s, d) => Relational.largeVolumeCustomers(s, d)),
    "q4_order_priority" -> ((s, d) => Relational.orderPriorityCounts(s, d)),
    "q6_forecast_revenue" -> ((s, d) => Relational.forecastRevenue(s, d)),
    "q14_promo_revenue" -> ((s, d) => Relational.promoRevenue(s, d)),
    "q2_min_cost_supplier" -> ((s, d) => Relational.minCostSupplier(s, d)),
    "q11_important_stock" -> ((s, d) => Relational.importantStock(s, d)),
    "sub_correlated_orders" -> ((s, d) => Relational.ordersAboveCustomerAvg(s, d)),
    "sub_scalar_rich_idle" -> ((s, d) => Relational.richIdleCustomers(s, d)),
    // --- TPC-H completion set (remaining query shapes, §2.3–§2.6) ---
    "q8_market_share" -> ((s, d) => graft.relational.TpchDeep.marketShare(s, d)),
    "q9_product_profit" -> ((s, d) => graft.relational.TpchDeep.productProfit(s, d)),
    "q12_shipmode_priority" -> ((s, d) => graft.relational.TpchDeep.shipModePriority(s, d)),
    "q13_cust_distribution" -> ((s, d) => graft.relational.TpchDeep.custDistribution(s, d)),
    "q15_top_supplier" -> ((s, d) => graft.relational.TpchDeep.topSupplier(s, d)),
    "q16_part_supp_counts" -> ((s, d) => graft.relational.TpchDeep.partSupplierCounts(s, d)),
    "q17_small_qty_revenue" -> ((s, d) => graft.relational.TpchDeep.smallQtyRevenue(s, d)),
    "q19_disc_revenue" -> ((s, d) => graft.relational.TpchDeep.discountedRevenue(s, d)),
    "q20_promo_suppliers" -> ((s, d) => graft.relational.TpchDeep.promoSuppliers(s, d)),
    "q21_waiting_suppliers" -> ((s, d) => graft.relational.TpchDeep.waitingSuppliers(s, d)),
    "q22_idle_balances" -> ((s, d) => graft.relational.TpchDeep.idleBalances(s, d)),
    // --- text layer (§2.8 F1–F9, north-star text analysis) ---
    "text_normalize" -> ((s, d) => textNormalize(s, d)),
    "text_tokens" -> ((s, d) => textTokens(s, d)),
    "text_lang_id" -> ((s, d) => textLangId(s, d)),
    "text_quality" -> ((s, d) => textQuality(s, d)),
    "text_repetition" -> ((s, d) => textRepetition(s, d)),
    // --- chunking (§2.9) ---
    "chunk_stats" -> ((s, d) => Chunking.chunkStats(Tables.documents(s, d))),
    "chunk_table" -> ((s, d) => chunkTableQuery(s, d)),
    "chunk_headers" -> ((s, d) => Chunking.annotatedHeaderChunks(Tables.documents(s, d))),
    "text_first_long_line" -> ((s, d) => firstLongLineQuery(s, d)),
    "chunk_header_paths" -> ((s, d) => headerPathsQuery(s, d)),
    "join_range_buckets" -> ((s, d) => rangeBucketsQuery(s, d)),
    "text_figure_splice" -> ((s, d) => figureSpliceQuery(s, d)),
    "text_rolling_hash" -> ((s, d) => rollingHashQuery(s, d)),
    "text_pii_scrub" -> ((s, d) => piiScrubQuery(s, d)),
    "text_term_commonness" -> ((s, d) => termCommonnessQuery(s, d)),
    "text_mojibake" -> ((s, d) => mojibakeQuery(s, d)),
    "text_lm_perplexity" -> ((s, d) => lmPerplexityQuery(narrowProbe(s), d)),
    "text_quality_classifier" -> ((s, d) => qualityClassifierQuery(s, d)),
    "sample_stratified" -> ((s, d) => stratifiedSampleQuery(s, d)),
    "sample_quality_filter" -> ((s, d) => qualityFilterQuery(s, d)),
    "sample_weighted_mix" -> ((s, d) => weightedMixQuery(s, d)),
    "sample_reservoir" -> ((s, d) => reservoirSampleQuery(s, d)),
    "sample_shard_shuffle" -> ((s, d) => shardShuffleQuery(s, d)),
    "chunk_cdc" -> ((s, d) => cdcChunksQuery(s, d)),
    "text_page_anchors" -> ((s, d) => pageAnchorsQuery(s, d)),
    "text_caption_spots" -> ((s, d) => captionSpotsQuery(s, d)),
    "text_content_breaks" -> ((s, d) => contentBreaksQuery(s, d)),
    "text_bpe_subwords" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      graft.text.BpeTokenizer.subwordInvariants(s, docs, graft.text.BpeTokenizer.train(s, docs, 50))
    }),
    // --- dedup (north star) ---
    "dedup_exact" -> ((s, d) => Dedup.exactDupGroups(s, d)),
    "dedup_minhash_pairs" -> ((s, d) => Dedup.minhashCandidatePairs(s, d)),
    "dedup_simhash" -> ((s, d) => Dedup.simhash(s, d)),
    "dedup_jaccard_verify" -> ((s, d) => Dedup.jaccardOnCandidates(narrowProbe(s), d)),
    "dedup_decontaminate" -> ((s, d) => Dedup.decontaminate(narrowProbe(s), d)),
    "dedup_cluster_reps" -> ((s, d) => Dedup.clusterReps(narrowProbe(s), d)),
    "sample_leakage_split" -> ((s, d) => Dedup.leakageSafeSplit(narrowProbe(s), d)),
    "dedup_incr_probe" -> ((s, d) => {
      val p = narrowProbe(s); Dedup.incrementalProbe(p, d, dedupIncrFixture(p, d))
    }),
    "dedup_span_find" -> ((s, d) => Dedup.duplicateSpans(s, d)),
    "dedup_span_strip" -> ((s, d) => Dedup.spanStripSummary(s, d)),
    "dedup_semantic" -> ((s, d) => Dedup.semanticDedup(narrowProbe(s), d)),
    "dedup_fuzzy_verify" -> ((s, d) => Dedup.fuzzyVerify(narrowProbe(s), d)),
    // --- vector retrieval (§2.11) ---
    "vec_cosine_topk" -> ((s, d) => VectorOps.cosineTopK(s, d)),
    "vec_range_search" -> ((s, d) => VectorOps.rangeSearch(s, d)),
    "vec_l2_topk" -> ((s, d) => VectorOps.l2TopK(s, d)),
    "vec_ann_lsh_topk" -> ((s, d) => VectorOps.annLshTopK(s, d)),
    "vec_ann_probe_topk" -> ((s, d) => annProbeTopKQuery(s, d)),
    "vec_ann_probe_multi_topk" -> ((s, d) => annProbeMultiTopKQuery(s, d)),
    "vec_ann_snapshot_topk" -> ((s, d) => annSnapshotTopKQuery(s, d)),
    "vec_ivf_topk" -> ((s, d) => VectorOps.ivfTopK(s, d)),
    "vec_ivf_kmeans_topk" -> ((s, d) => graft.vector.KMeans.ivfSearchChecked(narrowProbe(s), d)),
    "vec_embed_knn" -> ((s, d) => graft.vector.HashingEmbedder.embedKnnChecked(s, d)),
    "vec_pq_topk" -> ((s, d) => VectorOps.pqTopK(s, d)),
    "vec_ivfpq_topk" -> ((s, d) => VectorOps.ivfPqTopK(s, d)),
    "vec_dup_pairs" -> ((s, d) => VectorOps.embeddingDupPairs(s, d, threshold = 0.5)),
    "bm25_topk" -> ((s, d) => Bm25.bm25TopK(s, d, queryTerms)),
    "bm25_multi_topk" -> ((s, d) => Bm25.bm25MultiTopK(s, d, queryBatch)),
    "hybrid_rrf_topk" -> ((s, d) => Bm25.hybridRrf(s, d, queryTerms)),
    // load-then-search lifecycle: hybrid RRF served from SnapshotTable
    // versions — create v1, MERGE v2, search both (time travel)
    // rankings are deterministic (rounded, rank-fused) and thus
    // width-independent; the tiny lifecycle runs narrow like the other
    // table cycles (A/B: identical rows, fewer task waves)
    "retrieval_snapshot_timetravel" ->
      ((s, d) => graft.vector.SnapshotRetrieval.searchTimeTravel(
        narrowProbe(s), d, queryTerms)),
    // full lifecycle: create → merge → compact → expire → vacuum, then
    // search the surviving versions (maintenance must preserve ranking)
    "retrieval_snapshot_maintenance" ->
      ((s, d) => graft.vector.SnapshotRetrieval.searchAfterMaintenance(
        narrowProbe(s), d, queryTerms)),
    // --- upsert / incremental (§2.3 J1/J2, §2.2 P7) ---
    "meta_config_merge" -> ((s, d) => configMergeQuery(s, d)),
    "meta_snapshot_merge" -> ((s, d) => snapshotMergeCycle(narrowProbe(s), d)),
    "meta_snapshot_schema_evo" -> ((s, d) => snapshotSchemaEvoCycle(narrowProbe(s), d)),
    "meta_snapshot_history" -> ((s, d) => snapshotHistoryCycle(narrowProbe(s), d)),
    "meta_snapshot_indexed_read" -> ((s, d) => snapshotIndexedReadCycle(narrowProbe(s), d)),
    "meta_snapshot_point_read" -> ((s, d) => snapshotPointReadCycle(narrowProbe(s), d)),
    "meta_snapshot_2d_read" -> ((s, d) => snapshot2dReadCycle(narrowProbe(s), d)),
    "meta_snapshot_2d_string_read" -> ((s, d) => snapshot2dStringReadCycle(narrowProbe(s), d)),
    "meta_snapshot_changes" -> ((s, d) => snapshotChangesCycle(s, d)),
    "meta_snapshot_stream_read" -> ((s, d) => snapshotStreamReadCycle(s, d)),
    "meta_snapshot_compact_incr" -> ((s, d) => snapshotCompactIncrCycle(narrowProbe(s), d)),
    "meta_snapshot_compact_range" -> ((s, d) => snapshotCompactRangeCycle(narrowProbe(s), d)),
    "meta_snapshot_mirror" -> ((s, d) => snapshotMirrorCycle(narrowProbe(s), d)),
    "meta_snapshot_zorder_read" -> ((s, d) => snapshotZorderReadCycle(narrowProbe(s), d)),
    "meta_snapshot_string_merge" -> ((s, d) => snapshotStringMergeCycle(narrowProbe(s), d)),
    "meta_snapshot_delete" -> ((s, d) => snapshotDeleteCycle(narrowProbe(s), d)),
    "meta_snapshot_bloom_read" -> ((s, d) => snapshotBloomReadCycle(narrowProbe(s), d)),
    "meta_snapshot_maintain" -> ((s, d) => snapshotMaintainCycle(s, d)),
    "meta_snapshot_delta_log" -> ((s, d) => snapshotDeltaLogCycle(s, d)),
    "meta_snapshot_restore" -> ((s, d) => snapshotRestoreCycle(narrowProbe(s), d)),
    "meta_snapshot_column_map" -> ((s, d) => snapshotColumnMapCycle(narrowProbe(s), d)),
    "meta_snapshot_nested_map" -> ((s, d) => snapshotNestedMapCycle(narrowProbe(s), d)),
    "meta_snapshot_sql" -> ((s, d) => snapshotSqlCycle(s, d)),
    "agg_pushdown_meta" -> ((s, d) => aggPushdownMeta(s, d)),
    "join_spj_catalog" -> ((s, d) => spjCatalogJoin(s, d)),
    "vec_cosine_topk_sql" -> ((s, d) => cosineTopKSqlCatalog(s, d)),
    "meta_partitioned_dpp" -> ((s, d) => partitionedDppQuery(s, d)),
    "sink_partition_overwrite" -> ((s, d) => partitionOverwriteQuery(s, d)),
    "meta_partitions_table" -> ((s, d) => partitionsTableQuery(s, d)),
    "meta_zorder_declared" -> ((s, d) => zorderDeclaredQuery(s, d)),
    "meta_zorder_string" -> ((s, d) => zorderStringQuery(s, d)),
    "meta_partition_evolution" -> ((s, d) => partitionEvolutionQuery(s, d)),
    "meta_snapshot_constraints" -> ((s, d) => snapshotConstraintsCycle(narrowProbe(s), d)),
    "meta_snapshot_files" -> ((s, d) => snapshotFilesTableCycle(narrowProbe(s), d)),
    "meta_snapshot_asof" -> ((s, d) => snapshotAsOfCycle(narrowProbe(s), d)),
    "meta_snapshot_merge_on_read" -> ((s, d) => snapshotMergeOnReadCycle(narrowProbe(s), d)),
    "meta_snapshot_incr_view" -> ((s, d) => snapshotIncrViewCycle(narrowProbe(s), d)),
    "meta_source_convert" -> ((s, d) => sourceConvertCycle(s, d)),
    "sink_partitioned_export" -> ((s, d) => partitionedExportCycle(s, d)),
    "join_bucketed_colocated" -> ((s, d) => bucketedColocatedJoin(s, d)),
    "join_dpp_partitioned" -> ((s, d) => dppPartitionedJoin(s, d)),
    "meta_json_roundtrip" -> ((s, d) => jsonRoundtripQuery(s, d)),
    "meta_path_ops" -> ((s, d) => pathOpsQuery(s, d)),
    "meta_upsert" -> ((s, d) => Upsert.upsertDemo(s, d)),
    "meta_incremental_skip" -> ((s, d) => Upsert.incrementalSkipDemo(s, d)),
    "join_asof_rank" -> ((s, d) => Upsert.asofRankJoin(s, d)),
    // --- geometry (§2.8 F16–F19, §2.4 A6) ---
    "geom_page_union" -> ((s, d) => Geometry.pageBboxUnion(s, d)),
    "geom_overlap_pairs" -> ((s, d) => Geometry.overlapPairs(s, d)),
    "geom_figure_ids" -> ((s, d) => Geometry.figureIds(s, d)),
    // --- date/stat/sketch aggregates (§2.4, §2.8) ---
    "agg_monthly_orders" -> ((s, d) => Relational.monthlyOrders(s, d)),
    "agg_stats_corr" -> ((s, d) => Relational.statsSummary(s, d)),
    "agg_approx_distinct" -> ((s, d) => Relational.approxDistinctChecked(s, d)),
    "agg_grouping_sets" -> ((s, d) => Relational.groupingSets(s, d)),
    "agg_pivot_returns" -> ((s, d) => Relational.pivotReturns(s, d)),
    "agg_unpivot_balances" -> ((s, d) => Relational.unpivotBalances(s, d)),
    "agg_percentiles" -> ((s, d) => Relational.percentiles(s, d)),
    "agg_approx_percentiles" -> ((s, d) => Relational.approxPercentilesChecked(s, d)),
    "agg_heavy_hitters" -> ((s, d) => heavyHittersQuery(s, d)),
    "graph_pagerank" -> ((s, d) => pageRankQuery(s, d)),
    "join_asof_time" -> ((s, d) => asofTimeJoinQuery(s, d)),
    // --- faithful recursive chunker (§2.9 C2, custom Generator) ---
    "chunk_recursive" -> ((s, d) => chunkRecursiveQuery(s, d)),
    // --- semantic + token-window chunkers (§2.9 C3/C4) ---
    "chunk_semantic" -> ((s, d) => graft.chunk.SemanticChunker.semanticChunks(s, d)),
    "chunk_semantic_embed" -> ((s, d) => graft.chunk.SemanticChunker.semanticChunkEmbedInvariants(s, d)),
    "chunk_token_windows" -> ((s, d) => graft.chunk.TokenWindows.tokenWindows(s, d)),
    "text_seq_pack" -> ((s, d) => graft.chunk.SeqPack.packDocs(s, d)),
    "text_seq_pack_bpe" -> ((s, d) => graft.chunk.SeqPack.packDocsBpe(s, d)),
    // --- rect-merge fixpoint (§2.4 A7, flatMapGroups) ---
    "geom_rect_merge" -> ((s, d) => graft.geom.RectMerge.mergeInvariants(s, d)),
    // --- multimodal columns (§2.10 / north star) ---
    "mm_decode_features" -> ((s, d) => graft.multimodal.Multimodal.decodeFeatures(s, d)),
    "mm_frame_sample" -> ((s, d) => graft.multimodal.Multimodal.sampleFrames(s, d)),
    "mm_resize_fit" -> ((s, d) => graft.multimodal.Multimodal.resizeFit(s, d)),
    "mm_render_roundtrip" -> ((s, d) => graft.multimodal.ImageCodec.renderRoundtrip(s, d)),
    "vec_embed_infer" -> ((s, d) => graft.vector.HashingEmbedder.embedInvariants(s, d)),
    // --- event-time windows (§2.12) ---
    "events_tumbling" -> ((s, d) => EventWindows.tumbling(s, d)),
    "events_sliding" -> ((s, d) => EventWindows.sliding(s, d)),
    "events_session" -> ((s, d) => EventWindows.sessions(s, d)),
    "events_dedup_watermark" -> ((s, d) => EventWindows.dedupWithinWatermark(s, d)),
    "events_interval_join" -> ((s, d) => EventWindows.intervalJoin(s, d)),
  )

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted keys get a rows-only check. */
  def oracleSql: Map[String, String] = ListMap(
    "q1_pricing_summary" -> Relational.pricingSummarySql,
    "q3_top_revenue_orders" -> Relational.topRevenueOrdersSql,
    "q5_region_revenue" -> Relational.regionRevenueSql,
    "join_anti_customers" -> Relational.customersWithoutOrdersSql,
    "join_semi_big_orders" -> Relational.ordersWithBigLinesSql,
    "join_broadcast_brand" -> Relational.brandRevenueSql,
    "agg_rollup_returns" -> Relational.rollupReturnsSql,
    "agg_cube_orders" -> Relational.cubeOrdersSql,
    "agg_distinct_segment" -> Relational.segmentCustomersSql,
    "agg_salted_distinct" -> Relational.saltedDistinctUsersSql,
    "win_running_spend" -> Relational.runningCustomerSpendSql,
    "win_lead_order_gaps" -> Relational.orderGapsSql,
    "win_topn_per_customer" -> Relational.topOrdersPerCustomerSql,
    "win_topn_operator" -> topNOperatorSql,
    "sort_topk_lineitems" -> Relational.topLineitemsSql,
    "sort_zorder_parts" -> Relational.zorderPartsSql,
    "setop_except_custkeys" -> Relational.setOpsCustkeysSql,
    "setop_intersect_custkeys" -> Relational.intersectCustkeysSql,
    "q7_nation_trade" -> Relational.nationTradeVolumeSql,
    "q10_returned_revenue" -> Relational.returnedItemRevenueSql,
    "q18_large_volume" -> Relational.largeVolumeCustomersSql,
    "q4_order_priority" -> Relational.orderPriorityCountsSql,
    "q6_forecast_revenue" -> Relational.forecastRevenueSql,
    "q14_promo_revenue" -> Relational.promoRevenueSql,
    "q2_min_cost_supplier" -> Relational.minCostSupplierSql,
    "q11_important_stock" -> Relational.importantStockSql,
    "sub_correlated_orders" -> Relational.ordersAboveCustomerAvgSql,
    "sub_scalar_rich_idle" -> Relational.richIdleCustomersSql,
    "q8_market_share" -> graft.relational.TpchDeep.marketShareSql,
    "q9_product_profit" -> graft.relational.TpchDeep.productProfitSql,
    "q12_shipmode_priority" -> graft.relational.TpchDeep.shipModePrioritySql,
    "q13_cust_distribution" -> graft.relational.TpchDeep.custDistributionSql,
    "q15_top_supplier" -> graft.relational.TpchDeep.topSupplierSql,
    "q16_part_supp_counts" -> graft.relational.TpchDeep.partSupplierCountsSql,
    "q17_small_qty_revenue" -> graft.relational.TpchDeep.smallQtyRevenueSql,
    "q19_disc_revenue" -> graft.relational.TpchDeep.discountedRevenueSql,
    "q20_promo_suppliers" -> graft.relational.TpchDeep.promoSuppliersSql,
    "q21_waiting_suppliers" -> graft.relational.TpchDeep.waitingSuppliersSql,
    "q22_idle_balances" -> graft.relational.TpchDeep.idleBalancesSql,
    "text_normalize" -> textNormalizeSql,
    "text_tokens" -> textTokensSql,
    "text_lang_id" -> textLangIdSql,
    "text_quality" -> textQualitySql,
    "text_repetition" -> textRepetitionSql,
    "text_first_long_line" -> firstLongLineSql,
    "chunk_header_paths" -> headerPathsSql,
    "join_range_buckets" -> rangeBucketsSql,
    "text_figure_splice" -> figureSpliceSql,
    "text_rolling_hash" -> rollingHashSql,
    "text_pii_scrub" -> piiScrubSql,
    "text_term_commonness" -> termCommonnessSql,
    "text_mojibake" -> mojibakeSql,
    "text_lm_perplexity" -> lmPerplexitySql,
    "text_quality_classifier" -> qualityClassifierSql,
    "sample_stratified" -> stratifiedSampleSql,
    "sample_quality_filter" -> qualityFilterSql,
    "sample_weighted_mix" -> weightedMixSql,
    "sample_reservoir" -> reservoirSampleSql,
    "sample_shard_shuffle" -> shardShuffleSql,
    "chunk_cdc" -> cdcChunksSql,
    "text_page_anchors" -> pageAnchorsSql,
    "text_caption_spots" -> captionSpotsSql,
    "text_content_breaks" -> contentBreaksSql,
    "chunk_stats" -> chunkStatsSql,
    "chunk_table" -> chunkTableSql,
    "chunk_headers" -> chunkHeadersSql,
    "dedup_exact" -> Dedup.exactDupGroupsSql,
    "dedup_minhash_pairs" -> Dedup.minhashCandidatePairsSql(),
    "dedup_simhash" -> Dedup.simhashSql(),
    "dedup_jaccard_verify" -> Dedup.jaccardOnCandidatesSql(),
    "dedup_decontaminate" -> Dedup.decontaminateSql(),
    "dedup_cluster_reps" -> Dedup.clusterRepsSql(),
    "sample_leakage_split" -> Dedup.leakageSafeSplitSql(),
    "dedup_incr_probe" -> Dedup.incrementalProbeSql(),
    "dedup_span_find" -> Dedup.duplicateSpansSql(),
    "dedup_span_strip" -> Dedup.spanStripSummarySql(),
    "dedup_semantic" -> Dedup.semanticDedupSql(),
    "dedup_fuzzy_verify" -> Dedup.fuzzyVerifySql(),
    "vec_cosine_topk" -> VectorOps.cosineTopKSql(),
    // same oracle as the DataFrame path: the catalog function must be
    // value-identical to it
    "vec_cosine_topk_sql" -> VectorOps.cosineTopKSql(),
    "meta_partitioned_dpp" -> ("""
      WITH dim AS (SELECT DISTINCT lang,
             CASE WHEN lang = 'en' THEN 'keep' ELSE 'drop' END AS tier
           FROM documents)
      SELECT d.lang AS lang, count(*) AS n_docs,
             CAST(SUM(d.n_chars) AS BIGINT) AS sum_chars,
             TRUE AS static_pruned, TRUE AS dpp_pruned,
             TRUE AS spj_zero_exchange
      FROM documents d JOIN dim ON d.lang = dim.lang
      WHERE dim.tier = 'keep' GROUP BY d.lang"""),
    "sink_partition_overwrite" -> ("""
      SELECT lang, count(*) AS n_docs,
             CAST(SUM(CASE WHEN lang = 'en' THEN n_chars + 1000000
                           WHEN lang = 'de' THEN n_chars + 5000000
                           ELSE n_chars END) AS BIGINT) AS sum_chars,
             TRUE AS untouched_carried
      FROM documents GROUP BY lang"""),
    "meta_zorder_declared" -> ("""
      SELECT count(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
             TRUE AS zorder_restored, TRUE AS probe_key1_pruned,
             TRUE AS probe_key2_pruned
      FROM documents"""),
    "meta_zorder_string" -> ("""
      SELECT count(*) AS n_docs, CAST(SUM(doc_id) AS BIGINT) AS sum_ids,
             TRUE AS zorder_restored, TRUE AS probe_string_pruned,
             TRUE AS probe_int_pruned
      FROM documents"""),
    "meta_partition_evolution" -> ("""
      SELECT lang, source, count(*) AS n_docs,
             TRUE AS evolved_metadata_only, TRUE AS lang_prunes_both_eras,
             TRUE AS source_prunes_new_era
      FROM documents GROUP BY lang, source ORDER BY lang, source"""),
    "meta_partitions_table" -> ("SELECT lang, count(*) - " +
      "(CASE WHEN lang = (SELECT lang FROM documents WHERE doc_id = 0) " +
      "THEN 1 ELSE 0 END) AS n_docs FROM documents " +
      "WHERE lang <> (SELECT lang FROM documents WHERE doc_id = 3) " +
      "GROUP BY lang ORDER BY lang"),
    "vec_range_search" -> VectorOps.rangeSearchSql(),
    "vec_l2_topk" -> VectorOps.l2TopKSql(),
    "vec_ann_lsh_topk" -> VectorOps.annLshTopKSql(),
    "vec_ann_probe_topk" -> annProbeTopKSql,
    "vec_ann_probe_multi_topk" -> annProbeMultiTopKSql,
    "vec_ann_snapshot_topk" -> annSnapshotTopKSql,
    "vec_ivf_topk" -> VectorOps.ivfTopKSql(),
    "vec_pq_topk" -> VectorOps.pqTopKSql(),
    "vec_ivfpq_topk" -> VectorOps.ivfPqTopKSql(),
    "vec_dup_pairs" -> VectorOps.embeddingDupPairsSql(threshold = 0.5),
    "bm25_topk" -> Bm25.bm25TopKSql(queryTerms),
    "bm25_multi_topk" -> Bm25.bm25MultiTopKSql(queryBatch),
    "hybrid_rrf_topk" -> Bm25.hybridRrfSql(queryTerms),
    "retrieval_snapshot_timetravel" ->
      graft.vector.SnapshotRetrieval.searchTimeTravelSql(queryTerms),
    "retrieval_snapshot_maintenance" ->
      graft.vector.SnapshotRetrieval.searchAfterMaintenanceSql(queryTerms),
    "meta_config_merge" -> configMergeSql,
    "meta_snapshot_merge" -> snapshotMergeCycleSql,
    "meta_snapshot_schema_evo" -> snapshotSchemaEvoCycleSql,
    "meta_snapshot_history" -> snapshotHistoryCycleSql,
    "meta_snapshot_indexed_read" -> snapshotIndexedReadCycleSql,
    "meta_snapshot_point_read" -> snapshotPointReadCycleSql,
    "meta_snapshot_2d_read" -> snapshot2dReadCycleSql,
    "meta_snapshot_2d_string_read" -> snapshot2dStringReadCycleSql,
    "meta_snapshot_changes" -> snapshotChangesCycleSql,
    "meta_snapshot_stream_read" -> snapshotStreamReadCycleSql,
    "meta_snapshot_compact_incr" -> snapshotCompactIncrCycleSql,
    "meta_snapshot_compact_range" -> snapshotCompactRangeCycleSql,
    "meta_snapshot_mirror" -> snapshotMirrorCycleSql,
    "meta_snapshot_zorder_read" -> snapshotZorderReadCycleSql,
    "meta_snapshot_delete" -> snapshotDeleteCycleSql,
    "meta_snapshot_bloom_read" -> snapshotBloomReadCycleSql,
    "meta_snapshot_maintain" -> snapshotMaintainCycleSql,
    "meta_snapshot_delta_log" -> snapshotDeltaLogCycleSql,
    "meta_snapshot_restore" -> snapshotRestoreCycleSql,
    "meta_snapshot_column_map" -> snapshotColumnMapCycleSql,
    "meta_snapshot_nested_map" -> snapshotNestedMapCycleSql,
    "meta_snapshot_sql" -> snapshotSqlCycleSql,
    "agg_pushdown_meta" -> ("SELECT count(*) AS n_docs, min(doc_id) AS min_id, " +
      "max(doc_id) AS max_id, min(lang) AS min_lang, max(lang) AS max_lang, " +
      "TRUE AS meta_answered FROM documents"),
    "join_spj_catalog" -> ("SELECT c.c_custkey AS c_custkey, c.c_name AS c_name, " +
      "o.o_totalprice AS o_totalprice, TRUE AS zero_exchange, " +
      "TRUE AS zero_exchange_post_cdc " +
      "FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey " +
      "WHERE c.c_custkey <> 1 AND o.o_orderkey % 4 = 0"),
    "meta_snapshot_constraints" -> snapshotConstraintsCycleSql,
    "meta_snapshot_files" -> snapshotFilesTableCycleSql,
    "meta_snapshot_asof" -> snapshotAsOfCycleSql,
    "meta_snapshot_merge_on_read" -> snapshotMergeOnReadCycleSql,
    "meta_snapshot_incr_view" -> snapshotIncrViewCycleSql,
    "meta_snapshot_string_merge" -> snapshotStringMergeCycleSql,
    "meta_source_convert" -> sourceConvertCycleSql,
    "sink_partitioned_export" -> partitionedExportCycleSql,
    "join_bucketed_colocated" -> bucketedColocatedJoinSql,
    "join_dpp_partitioned" -> dppPartitionedJoinSql,
    "meta_json_roundtrip" -> jsonRoundtripSql,
    "meta_path_ops" -> pathOpsSql,
    "meta_upsert" -> Upsert.upsertDemoSql,
    "meta_incremental_skip" -> Upsert.incrementalSkipDemoSql,
    "join_asof_rank" -> Upsert.asofRankJoinSql,
    "geom_page_union" -> Geometry.pageBboxUnionSql,
    "geom_overlap_pairs" -> Geometry.overlapPairsSql,
    "geom_figure_ids" -> Geometry.figureIdsSql,
    "agg_monthly_orders" -> Relational.monthlyOrdersSql,
    "agg_stats_corr" -> Relational.statsSummarySql,
    "agg_grouping_sets" -> Relational.groupingSetsSql,
    "agg_pivot_returns" -> Relational.pivotReturnsSql,
    "agg_unpivot_balances" -> Relational.unpivotBalancesSql,
    "agg_percentiles" -> Relational.percentilesSql,
    "agg_approx_percentiles" -> Relational.approxPercentilesCheckedSql,
    "agg_heavy_hitters" -> heavyHittersSql,
    "graph_pagerank" -> pageRankSql,
    "join_asof_time" -> asofTimeJoinSql,
    // engine-side sketches / fixpoints / trained models are checked via
    // invariant oracles: the engine-private values (HLL estimate, chunk
    // boundaries, merged rects, learned merges, trained centroids) are
    // reduced to properties DuckDB can assert blind, so every query is
    // hash-gated.
    "agg_approx_distinct" -> Relational.approxDistinctCheckedSql,
    "chunk_recursive" -> chunkRecursiveSql,
    "chunk_semantic" -> graft.chunk.SemanticChunker.semanticChunksSql(normalizeSqlExpr),
    "chunk_semantic_embed" -> graft.chunk.SemanticChunker.semanticChunkEmbedInvariantsSql(normalizeSqlExpr),
    "chunk_token_windows" -> graft.chunk.TokenWindows.tokenWindowsSql(),
    "text_seq_pack" -> graft.chunk.SeqPack.packDocsSql(),
    "text_seq_pack_bpe" -> graft.chunk.SeqPack.packDocsBpeSql(),
    "geom_rect_merge" -> graft.geom.RectMerge.mergeInvariantsSql,
    "text_bpe_subwords" -> graft.text.BpeTokenizer.subwordInvariantsSql,
    "vec_ivf_kmeans_topk" -> graft.vector.KMeans.ivfSearchCheckedSql(),
    "vec_embed_knn" -> graft.vector.HashingEmbedder.embedKnnCheckedSql(),
    "mm_decode_features" -> graft.multimodal.Multimodal.decodeFeaturesSql,
    "mm_frame_sample" -> graft.multimodal.Multimodal.sampleFramesSql(),
    "mm_resize_fit" -> graft.multimodal.Multimodal.resizeFitSql(),
    "mm_render_roundtrip" -> graft.multimodal.ImageCodec.renderRoundtripSql(),
    "vec_embed_infer" -> graft.vector.HashingEmbedder.embedInvariantsSql,
    "events_tumbling" -> EventWindows.tumblingSql,
    "events_sliding" -> EventWindows.slidingSql,
    "events_session" -> EventWindows.sessionsSql,
    "events_dedup_watermark" -> EventWindows.dedupWithinWatermarkSql,
    "events_interval_join" -> EventWindows.intervalJoinSql,
  )

  // --- text-layer query bodies (kept here because they are thin
  // compositions over TextFunctions) ---

  private def textNormalize(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id"),
      md5(TextFunctions.normalize(col("text")).cast("binary")).as("norm_md5"),
      length(TextFunctions.normalize(col("text"))).cast("long").as("norm_len"),
    ).orderBy(col("doc_id"))

  /** F1,F3–F8 chain in DuckDB-regex form (RE2), applied to `inner` —
    * same order as TextFunctions.normalize. */
  private def normalizeSqlOn(inner: String): String =
    """trim(regexp_replace(translate(regexp_replace(regexp_replace(
      |regexp_replace(regexp_replace(INNER_, '(?m)^.*\[\.+\].*$\n?', '', 'g'),
      |'\r\n', '\n', 'g'), '[ \t]+', ' ', 'g'), '\n{3,}', '\n\n', 'g'),
      |chr(173), ''), '(\w)[-‐‑−]\n(\w)', '\1\2', 'g'))"""
      .stripMargin.replace("\n", " ").replace("INNER_", inner)

  private val normalizeSqlExpr: String = normalizeSqlOn("text")

  private def textNormalizeSql: String = s"""
    SELECT doc_id, md5($normalizeSqlExpr) AS norm_md5,
           length($normalizeSqlExpr) AS norm_len
    FROM documents ORDER BY doc_id"""

  private def textTokens(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id"),
      TextFunctions.tokenCount(col("text")).as("n_tokens"),
      TextFunctions.bpeishTokenCount(col("text")).as("n_subword_tokens"),
      TextFunctions.fingerprint(col("text")).as("fp"),
    ).orderBy(col("doc_id"))

  private def textTokensSql: String = """
    SELECT doc_id,
           CASE WHEN length(trim(text)) = 0 THEN 0
                ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tokens,
           CASE WHEN length(trim(text)) = 0 THEN 0
                ELSE len(string_split_regex(trim(
                  regexp_replace(regexp_replace(text,
                    '([a-zA-Z])([0-9])', '\1 \2', 'g'),
                    '([0-9])([a-zA-Z])', '\1 \2', 'g')), '\s+')) END AS n_subword_tokens,
           md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp
    FROM documents ORDER BY doc_id"""

  /** Corpus-relative term commonness — the distributional quality
    * signal the rule-based `text_quality` family cannot express (the
    * CCNet/LM-filter shape: score each document against corpus-level
    * token statistics). Per doc: token count, the sum over token
    * INSTANCES of each token's corpus frequency, the mean relative
    * commonness (integer sums → two IEEE divisions, deterministic),
    * and the hapax fraction (tokens occurring exactly once corpus-wide
    * — high hapax = OCR noise / gibberish, low = boilerplate).
    *
    * Scale shape: tokens are hashed to the portable md5-int64 before
    * any shuffle (strings never leave the map side); corpus counts are
    * one groupBy on the hash (partial aggs), joined back co-partitioned
    * on the same hash, then one per-doc agg. The corpus-total scalar
    * arrives via a broadcast one-row cross join, never a driver
    * collect. Same inverted-index discipline as `dedup_decontaminate`. */
  private def termCommonnessQuery(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(s, d)
      .transform(graft.Parallelism.ensure(s))
      .select(col("doc_id"),
        explode(TextFunctions.tokens(lower(col("text")))).as("tok"))
      .select(col("doc_id"), TextFunctions.md5Long(col("tok")).as("h"))
      // two consumers (corpus counts, per-doc probe): tokenize + hash once
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      .transform(graft.CacheScope.register)
    val counts = toks.groupBy(col("h")).agg(count(lit(1)).as("c"))
    val total = counts.agg(sum(col("c")).as("corpus_tokens"))
    toks.join(counts, Seq("h"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("c")).as("sum_freq"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("n_hapax"))
      .crossJoin(broadcast(total))
      .select(col("doc_id"), col("n_tokens"), col("sum_freq"),
        (col("sum_freq").cast("double") / col("n_tokens") / col("corpus_tokens"))
          .as("commonness"),
        (col("n_hapax").cast("double") / col("n_tokens")).as("hapax_frac"))
      .orderBy(col("doc_id"))
  }

  private def termCommonnessSql: String = """
    WITH toks AS (
      SELECT doc_id,
             CAST('0x' || substr(md5(unnest(string_split_regex(trim(lower(text)), '\s+'))), 1, 15) AS BIGINT) AS h
      FROM documents),
    counts AS (SELECT h, COUNT(*) AS c FROM toks GROUP BY h),
    total AS (SELECT CAST(SUM(c) AS BIGINT) AS corpus_tokens FROM counts),
    perdoc AS (
      SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
             CAST(SUM(c.c) AS BIGINT) AS sum_freq,
             CAST(SUM(CASE WHEN c.c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax
      FROM toks t JOIN counts c USING (h) GROUP BY t.doc_id)
    SELECT doc_id, n_tokens, sum_freq,
           CAST(sum_freq AS DOUBLE) / n_tokens / corpus_tokens AS commonness,
           CAST(n_hapax AS DOUBLE) / n_tokens AS hapax_frac
    FROM perdoc, total ORDER BY doc_id"""

  /** TRAINED quality-classifier gate ([[graft.text.QualityClassifier]])
    * — hashed-n-gram logistic regression, the fastText-shaped filter
    * the published corpus pipelines place before data selection,
    * trained HERE by distributed full-batch GD. Labels are planted
    * deterministically (doc parity) and each class gets a distinct
    * marker trigram appended, so the corpus is separable and the
    * learned decision is fully predictable: the oracle asserts every
    * prediction equals its planted label. The weights themselves are
    * engine-private float sums (order-dependent); what the gate pins
    * are DECISIONS and a recomputed robustness margin — |p − ½| ≥ 0.05
    * on every doc, so a last-ulp drift in the gradient sums can never
    * flip a prediction and break the hash (the sketch-gate discipline
    * of `agg_approx_distinct`/`vec_embed_infer`). Scale shape: the
    * featurized frame persists once; each epoch is ONE job over it
    * (weights broadcast out as a plan literal, gradients aggregate
    * back bounded by dim); scoring is map-only. */
  private def qualityClassifierQuery(s: SparkSession, d: String): DataFrame = {
    import graft.text.QualityClassifier
    // every GD epoch is one job whose gradient exchange carries ≤ dim
    // rows — at the session's width (and under AQE's per-stage
    // re-planning) the 12 epochs are mostly scheduling tax; scope both
    // down on a THROWAWAY session (pinned, never toggled on the shared
    // one — the probe-session discipline). Decisions are
    // partition-count-robust: margins are 3–8× the gate threshold
    // and float-sum order only perturbs the last bits.
    val iso = probeSession(s,
      "spark.sql.shuffle.partitions" -> "8",
      "spark.sql.adaptive.enabled" -> "false")
    val docs = Tables.documents(iso, d).transform(graft.Parallelism.ensure(iso))
    val marked = docs.select(col("doc_id"),
      (col("doc_id") % 2 === 0).cast("long").as("y"),
      concat(col("text"),
        when(col("doc_id") % 2 === 0, lit(" qualmark qualmark qualmark"))
          .otherwise(lit(" junkmark junkmark junkmark"))).as("t"))
    val feats = marked
      .select(col("doc_id"), col("y").cast("double").as("y"),
        array_distinct(QualityClassifier.featurize(col("t"))).as("feat"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      .transform(graft.CacheScope.register)
    // train on a BALANCED quarter (doc_id ≡ 0,1 mod 8: one even / one
    // odd id per stride — both classes present at any corpus size) and
    // score the whole corpus: the labeled-subset shape every real
    // corpus-filter pipeline has. 12 epochs at a DECAYED step
    // (lr 8 · 0.9^e) replace the old 24 fixed-step epochs — a measured
    // grid showed a fixed large step oscillates (decisions flip with
    // epoch parity AND corpus size: configs clean at two scale factors
    // flipped docs at the third) and a fixed small step needs 2× the
    // epochs for the same margins; this schedule is 0 wrong / 0 weak
    // at sf0.001, sf0.01 AND sf0.1 with min margins 0.14–0.42 (3–8×
    // the 0.05 gate), pinned by QualityClassifierSpec and the oracle
    // booleans. Each epoch is one corpus job, so at 100 TB the epoch
    // count IS the training bill.
    // the train subset gets its OWN cache: the 12 epoch jobs scan the
    // quarter directly instead of re-filtering the full corpus cache
    // twelve times
    val trainFeats = feats.filter(col("doc_id") % 8 < 2)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      .transform(graft.CacheScope.register)
    val model = QualityClassifier.train(iso, trainFeats, epochs = 12,
      lr = 8.0, lrDecay = 0.9)
    QualityClassifier.score(feats, model)
      .select(col("doc_id"), col("y").cast("long").as("y"), col("pred"),
        (col("pred") === (col("y") === 1.0)).as("correct"),
        (abs(col("p") - 0.5) >= 0.05).as("margin_ok"))
      .orderBy(col("doc_id"))
  }

  private def qualityClassifierSql: String = """
    SELECT doc_id, CAST(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS BIGINT) AS y,
           doc_id % 2 = 0 AS pred, TRUE AS correct, TRUE AS margin_ok
    FROM documents ORDER BY doc_id"""

  /** Encoding-artifact (mojibake) detection — the ftfy-class corpus
    * quality signal: U+FFFD replacement characters (lossy decodes), C1
    * controls U+0080–U+009F (cp1252↔latin-1 confusions), and classic
    * UTF-8-read-as-cp1252 digraphs, counted per document with the
    * bad-character fraction and a keep gate. Deterministic doc_id-derived
    * markers are appended so every row exercises all three families on
    * the synthetic corpus (same discipline as `text_pii_scrub`).
    *
    * Map-side only at any scale: three `regexp_count` projections inside
    * whole-stage codegen, integer counts, one IEEE division — no
    * shuffle, no UDF. Patterns live in [[TextFunctions]] and are shared
    * verbatim with the oracle (Java ∩ RE2 subset). */
  private def mojibakeQuery(s: SparkSession, d: String): DataFrame = {
    val probe = concat(col("text"),
      expr("repeat('�', CAST(doc_id % 3 AS INT))"),
      expr("repeat('Ã©', CAST(doc_id % 2 AS INT))"),
      expr("repeat('', CAST(doc_id % 4 AS INT))"))
    val nRepl = regexp_count(probe, lit(TextFunctions.ReplacementRe)).cast("long")
    val nC1 = regexp_count(probe, lit(TextFunctions.C1ControlRe)).cast("long")
    val nMoji = regexp_count(probe, lit(TextFunctions.MojibakeRe)).cast("long")
    val badFrac = (nRepl + nC1 + nMoji).cast("double") /
      greatest(length(probe), lit(1)).cast("double")
    Tables.documents(s, d).select(
      col("doc_id"), nRepl.as("n_repl"), nC1.as("n_c1"), nMoji.as("n_moji"),
      badFrac.as("bad_frac"), (badFrac <= lit(0.02)).as("keep"),
    ).orderBy(col("doc_id"))
  }

  private def mojibakeSql: String = {
    // chr() builds the non-printing probe chars; the pattern constants are
    // shared verbatim with the Spark side (no quotes/escapes to re-quote)
    val moji = TextFunctions.MojibakeRe
    s"""
    WITH probe AS (
      SELECT doc_id,
             text || repeat(chr(65533), CAST(doc_id % 3 AS INT))
                  || repeat('Ã©', CAST(doc_id % 2 AS INT))
                  || repeat(chr(129), CAST(doc_id % 4 AS INT)) AS t
      FROM documents),
    counted AS (
      SELECT doc_id,
             CAST(len(regexp_extract_all(t, '${TextFunctions.ReplacementRe}')) AS BIGINT) AS n_repl,
             CAST(len(regexp_extract_all(t, '${TextFunctions.C1ControlRe}')) AS BIGINT) AS n_c1,
             CAST(len(regexp_extract_all(t, '$moji')) AS BIGINT) AS n_moji,
             GREATEST(length(t), 1) AS n_chars
      FROM probe)
    SELECT doc_id, n_repl, n_c1, n_moji,
           CAST(n_repl + n_c1 + n_moji AS DOUBLE) / CAST(n_chars AS DOUBLE) AS bad_frac,
           (CAST(n_repl + n_c1 + n_moji AS DOUBLE) / CAST(n_chars AS DOUBLE)) <= 0.02 AS keep
    FROM counted ORDER BY doc_id"""
  }

  /** Corpus bigram-LM cross-entropy — the CCNet/KenLM-shaped LM quality
    * filter, trained on the corpus itself: add-one-smoothed bigram
    * probabilities P(w2|w1) = (C(w1,w2)+1)/(C(w1)+V) over md5-hashed
    * tokens, scored per document as mean negative log-likelihood.
    * Gibberish scores high (unseen transitions), boilerplate low —
    * the transition-level complement of `text_term_commonness`.
    *
    * Hash-stability: each bigram instance's -ln(p) is FLOORed to an
    * integer count of 10^-4 nats BEFORE any aggregation, so the per-doc
    * sum is an exact integer sum (order-free) and the mean is one IEEE
    * division. The only cross-engine surface is ln() on bit-identical
    * doubles; with the 1e4 quantum a last-ulp disagreement flipping a
    * floor is vanishingly unlikely — and the driver gate fails loudly
    * if it ever does.
    *
    * Scale shape: tokens are hashed to the portable md5-int64 inside the
    * array transform (token strings never reach an exchange); adjacent
    * pairs are formed in the same projection via slice+zip_with — no
    * window, no self-join; bigram counts are one groupBy on (h1,h2); the
    * probe join is co-partitioned on the same keys; unigram counts join
    * on h1; V arrives via a broadcast one-row cross join, never a driver
    * action. The bigram stream is persisted once for its two consumers
    * (count + probe) — same discipline as `text_term_commonness`. */
  private def lmPerplexityQuery(s: SparkSession, d: String): DataFrame = {
    val arr = TextFunctions.tokens(lower(col("text")))
    val hArr = transform(arr, t => TextFunctions.md5Long(t))
    val n1 = greatest(size(hArr) - 1, lit(0))
    val docs = Tables.documents(s, d).transform(graft.Parallelism.ensure(s))
    val bi = docs
      .select(col("doc_id"),
        explode(zip_with(slice(hArr, lit(1), n1), slice(hArr, lit(2), n1),
          (a, b) => struct(a.as("h1"), b.as("h2")))).as("bg"))
      .select(col("doc_id"), col("bg.h1").as("h1"), col("bg.h2").as("h2"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      .transform(graft.CacheScope.register)
    val uni = docs.select(explode(hArr).as("h"))
      .groupBy(col("h")).agg(count(lit(1)).as("c1"))
    val vocab = uni.agg(count(lit(1)).as("vocab"))
    val cnt2 = bi.groupBy(col("h1"), col("h2")).agg(count(lit(1)).as("c2"))
    bi.join(cnt2, Seq("h1", "h2"))
      .join(uni.withColumnRenamed("h", "h1"), Seq("h1"))
      .crossJoin(broadcast(vocab))
      .select(col("doc_id"),
        floor(lit(10000.0) * log(
          (col("c1") + col("vocab")).cast("double") /
            (col("c2").cast("double") + lit(1.0)))).cast("long").as("q"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("q")).as("nll_q_sum"))
      .select(col("doc_id"), col("n_bigrams"), col("nll_q_sum"),
        (col("nll_q_sum").cast("double") / col("n_bigrams") / lit(10000.0)).as("xent"))
      .orderBy(col("doc_id"))
  }

  private def lmPerplexitySql: String = """
    WITH raw AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS arr
      FROM documents),
    toks AS (
      SELECT doc_id, unnest(arr) AS tok,
             unnest(generate_series(1, len(arr))) AS pos
      FROM raw),
    ht AS (
      SELECT doc_id, pos,
             CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) AS h
      FROM toks),
    uni AS (SELECT h, COUNT(*) AS c1 FROM ht GROUP BY h),
    vt AS (SELECT CAST(COUNT(*) AS BIGINT) AS vocab FROM uni),
    bi AS (
      SELECT doc_id, lag(h) OVER (PARTITION BY doc_id ORDER BY pos) AS h1,
             h AS h2
      FROM ht QUALIFY h1 IS NOT NULL),
    probe AS (
      SELECT b.doc_id,
             CAST(FLOOR(10000.0 * ln(
               CAST(u.c1 + v.vocab AS DOUBLE) / (CAST(c.c2 AS DOUBLE) + 1.0)
             )) AS BIGINT) AS q
      FROM bi b
      JOIN (SELECT h1, h2, COUNT(*) AS c2 FROM bi GROUP BY h1, h2) c
        ON b.h1 = c.h1 AND b.h2 = c.h2
      JOIN uni u ON b.h1 = u.h
      CROSS JOIN vt v)
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(q) AS BIGINT) AS nll_q_sum,
           CAST(SUM(q) AS DOUBLE) / COUNT(*) / 10000.0 AS xent
    FROM probe GROUP BY doc_id ORDER BY doc_id"""

  /** Language-ID over documents. The plan tokenizes each document
    * exactly ONCE: `explode(array(...))` is a Generate barrier that
    * CollapseProject cannot inline through, so the regex split and then
    * the 4-score struct are each materialized before their consumers —
    * the naive formulation re-tokenized every document ~8× (4 score
    * columns + 4 more inside the argmax). Map-only, no shuffle. */
  private def textLangId(s: SparkSession, d: String): DataFrame = {
    val codes = TextFunctions.langStopwords.map(_._1)
    val scoreStruct = struct(TextFunctions.langStopwords.map { case (code, words) =>
      TextFunctions.langScoreOnTokens(col("toks"), words).as(s"score_$code")
    }: _*)
    val sc = (code: String) => col(s"sc.score_$code")
    // argmax with ties broken by language code ascending; all-zero → 'und'.
    // Cascade in tie-break order: first code whose score >= all later ones
    // is the argmax (earlier branches failing imply a strictly larger later
    // score) — the exact shape of the oracle's CASE.
    val allZero = codes.map(sc(_) === 0L).reduce(_ && _)
    def cascade(order: List[String]): org.apache.spark.sql.Column = order match {
      case last :: Nil => lit(last)
      case c :: rest =>
        when(rest.map(o => sc(c) >= sc(o)).reduce(_ && _), lit(c)).otherwise(cascade(rest))
    }
    val predLang = cascade(codes.sorted.toList)
    Tables.documents(s, d)
      .select(col("doc_id"), explode(array(TextFunctions.tokens(lower(col("text"))))).as("toks"))
      .select(col("doc_id"), explode(array(scoreStruct)).as("sc"))
      .select(
        col("doc_id") +: when(allZero, lit("und")).otherwise(predLang).as("pred_lang") +:
          codes.map(c => sc(c).as(s"score_$c")): _*)
      .orderBy(col("doc_id"))
  }

  private def textLangIdSql: String = {
    val scoreExprs = TextFunctions.langStopwords.map { case (code, words) =>
      val set = words.map(w => s"'$w'").mkString(", ")
      s"len(list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x IN ($set))) AS score_$code"
    }.mkString(", ")
    // argmax with ties broken by language code ascending; all-zero → 'und'
    s"""
    WITH scored AS (SELECT doc_id, $scoreExprs FROM documents)
    SELECT doc_id,
           CASE WHEN score_en = 0 AND score_es = 0 AND score_de = 0 AND score_fr = 0 THEN 'und'
                WHEN score_de >= score_en AND score_de >= score_es AND score_de >= score_fr THEN 'de'
                WHEN score_en >= score_es AND score_en >= score_fr THEN 'en'
                WHEN score_es >= score_fr THEN 'es'
                ELSE 'fr' END AS pred_lang,
           score_en, score_es, score_de, score_fr
    FROM scored ORDER BY doc_id"""
  }

  private def textQuality(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id"),
      length(col("text")).cast("long").as("n_chars_obs"),
      TextFunctions.tokenCount(col("text")).as("n_tokens"),
      TextFunctions.punctRatio(col("text")).as("punct_ratio"),
      TextFunctions.stopwordRatio(lower(col("text"))).as("stopword_ratio"),
      TextFunctions.avgTokenLen(col("text")).as("avg_token_len"),
    ).orderBy(col("doc_id"))

  private def textQualitySql: String = {
    val enSet = TextFunctions.langStopwords.head._2.map(w => s"'$w'").mkString(", ")
    s"""
    WITH base AS (
      SELECT doc_id, text, length(text) AS n_chars_obs,
             CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tokens
      FROM documents)
    SELECT doc_id, n_chars_obs, n_tokens,
           CASE WHEN n_chars_obs = 0 THEN 0.0e0
                ELSE CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9\\s]')) AS DOUBLE) / n_chars_obs END AS punct_ratio,
           CASE WHEN n_tokens = 0 THEN 0.0e0
                ELSE CAST(len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                              x -> x IN ($enSet))) AS DOUBLE) / n_tokens END AS stopword_ratio,
           CASE WHEN n_tokens = 0 THEN 0.0e0
                ELSE CAST(len(regexp_extract_all(text, '\\S')) AS DOUBLE) / n_tokens END AS avg_token_len
    FROM base ORDER BY doc_id"""
  }

  /** Repetition-quality signals (the Gopher-style filters an LLM data
    * pipeline runs besides [[textQuality]]'s surface stats): per doc,
    *  - dup_line_frac / dup_2gram_frac — duplicate fraction of
    *    non-empty lines and of word 2-grams (boilerplate detector);
    *  - bullet_line_frac — lines starting with a bullet;
    *  - top_word_frac — most frequent word's share of all words
    *    (degenerate-repetition detector);
    *  - keep — the conjunction of conventional thresholds.
    * Array ops are map-side (no explode) except the top-word mode,
    * which needs a real (doc, word) count — one shuffle keyed by
    * doc_id with map-side combine, then a doc_id-co-partitioned join.
    * All fractions are exact-int IEEE divisions (hash rule #4); the
    * bullet class is explicit [ \t] because Java and RE2 disagree on
    * \s (rule #8). */
  private def textRepetition(s: SparkSession, d: String): DataFrame = {
    val withArrays = Tables.documents(s, d).select(
      col("doc_id"),
      filter(split(col("text"), "\n"), l => trim(l) =!= "").as("lines"),
      when(length(trim(col("text"))) === 0, array().cast("array<string>"))
        .otherwise(split(trim(lower(col("text"))), "\\s+")).as("w"))
    val mapSide = withArrays.select(
      col("doc_id"),
      size(col("lines")).cast("long").as("n_lines"),
      size(array_distinct(col("lines"))).cast("long").as("n_distinct_lines"),
      size(filter(col("lines"), l => l.rlike("^[ \t]*[-*•] ")))
        .cast("long").as("n_bullet_lines"),
      size(col("w")).cast("long").as("n_words"),
      expr("transform(slice(w, 1, greatest(size(w) - 1, 0)), " +
        "(x, i) -> concat(x, ' ', element_at(w, i + 2)))").as("g"))
      .select(col("doc_id"), col("n_lines"), col("n_distinct_lines"),
        col("n_bullet_lines"), col("n_words"),
        size(col("g")).cast("long").as("n_grams"),
        size(array_distinct(col("g"))).cast("long").as("n_distinct_grams"))
    val topWord = withArrays
      .select(col("doc_id"), explode(col("w")).as("word"))
      .groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id")).agg(max(col("c")).as("top_cnt"))
    mapSide.join(topWord, Seq("doc_id"), "left")
      .select(
        col("doc_id"), col("n_lines"), col("n_words"),
        when(col("n_lines") === 0, 0.0)
          .otherwise((col("n_lines") - col("n_distinct_lines")).cast("double") / col("n_lines"))
          .as("dup_line_frac"),
        when(col("n_lines") === 0, 0.0)
          .otherwise(col("n_bullet_lines").cast("double") / col("n_lines"))
          .as("bullet_line_frac"),
        when(col("n_words") === 0, 0.0)
          .otherwise(coalesce(col("top_cnt"), lit(0L)).cast("double") / col("n_words"))
          .as("top_word_frac"),
        when(col("n_grams") === 0, 0.0)
          .otherwise((col("n_grams") - col("n_distinct_grams")).cast("double") / col("n_grams"))
          .as("dup_2gram_frac"))
      .withColumn("keep",
        col("dup_line_frac") < 0.3 && col("dup_2gram_frac") < 0.2 &&
          col("top_word_frac") < 0.2 && col("bullet_line_frac") < 0.9)
      .orderBy(col("doc_id"))
  }

  private def textRepetitionSql: String = """
    WITH base AS (
      SELECT doc_id,
             list_filter(string_split(text, chr(10)), l -> trim(l) <> '') AS lines,
             CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
                  ELSE string_split_regex(trim(lower(text)), '\s+') END AS w
      FROM documents),
    counts AS (
      SELECT doc_id,
             CAST(len(lines) AS BIGINT) AS n_lines,
             CAST(len(list_distinct(lines)) AS BIGINT) AS n_distinct_lines,
             CAST(len(list_filter(lines, l -> regexp_matches(l, '^[ \t]*[-*•] '))) AS BIGINT) AS n_bullet_lines,
             CAST(len(w) AS BIGINT) AS n_words,
             list_transform(generate_series(1, greatest(len(w) - 1, 0)), i -> w[i] || ' ' || w[i + 1]) AS g
      FROM base),
    counts2 AS (
      SELECT doc_id, n_lines, n_distinct_lines, n_bullet_lines, n_words,
             CAST(len(g) AS BIGINT) AS n_grams,
             CAST(len(list_distinct(g)) AS BIGINT) AS n_distinct_grams
      FROM counts),
    words AS (SELECT doc_id, unnest(w) AS word FROM base),
    wc AS (SELECT doc_id, word, COUNT(*) AS c FROM words GROUP BY 1, 2),
    tw AS (SELECT doc_id, MAX(c) AS top_cnt FROM wc GROUP BY doc_id),
    fracs AS (
      SELECT c.doc_id, c.n_lines, c.n_words,
             CASE WHEN c.n_lines = 0 THEN 0.0e0
                  ELSE CAST(c.n_lines - c.n_distinct_lines AS DOUBLE) / c.n_lines END AS dup_line_frac,
             CASE WHEN c.n_lines = 0 THEN 0.0e0
                  ELSE CAST(c.n_bullet_lines AS DOUBLE) / c.n_lines END AS bullet_line_frac,
             CASE WHEN c.n_words = 0 THEN 0.0e0
                  ELSE CAST(COALESCE(t.top_cnt, 0) AS DOUBLE) / c.n_words END AS top_word_frac,
             CASE WHEN c.n_grams = 0 THEN 0.0e0
                  ELSE CAST(c.n_grams - c.n_distinct_grams AS DOUBLE) / c.n_grams END AS dup_2gram_frac
      FROM counts2 c LEFT JOIN tw t USING (doc_id))
    SELECT doc_id, n_lines, n_words, dup_line_frac, bullet_line_frac,
           top_word_frac, dup_2gram_frac,
           dup_line_frac < 0.3e0 AND dup_2gram_frac < 0.2e0 AND
           top_word_frac < 0.2e0 AND bullet_line_frac < 0.9e0 AS keep
    FROM fracs ORDER BY doc_id"""

  /** Faithful recursive chunker through the [[graft.functions.ChunkSplit]]
    * Generator: per-doc chunk rows with packing metadata. Rows-only
    * check (packing isn't ANSI-SQL-expressible); invariants are
    * property-tested in RecursiveSplitterSpec. */
  /** Oracle-checkable form of the recursive splitter (C2): the chunk
    * boundaries are separator-hierarchy-dependent (not SQL-expressible),
    * but the splitter's defining properties are invariants DuckDB can
    * assert blind per document —
    *  - within_size: every chunk is ≤ size chars (hard-cut guarantee);
    *  - covers_ok: total chunk chars = input chars + bounded overlap
    *    repeats (so nothing is dropped and overlap is capped);
    *  - substr_ok: every chunk is a contiguous substring of the input;
    *  - affix_ok: the first chunk is a prefix, the last a suffix.
    * norm_len is oracle-computable exactly. */
  private def chunkRecursiveQuery(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .filter(length(col("text")) > 0)
      .select(col("doc_id"), TextFunctions.normalize(col("text")).as("norm"))
      .filter(length(col("norm")) > 0)
    docs
      .select(col("doc_id"), col("norm"),
        graft.functions.ChunkSplit.chunk_split(col("norm"), 200, 50))
      .groupBy(col("doc_id"))
      .agg(
        first(length(col("norm"))).cast("long").as("norm_len"),
        first(col("norm")).as("norm0"),
        max(length(col("chunk"))).as("max_len"),
        sum(length(col("chunk"))).cast("long").as("sum_len"),
        count(lit(1)).as("n_chunks"),
        bool_and(instr(col("norm"), col("chunk")) > 0).as("substr_ok"),
        min_by(col("chunk"), col("chunk_idx")).as("first_chunk"),
        max_by(col("chunk"), col("chunk_idx")).as("last_chunk"))
      .select(col("doc_id"), col("norm_len"),
        (col("max_len") <= 200).as("within_size"),
        (col("sum_len") >= col("norm_len") &&
          col("sum_len") <= col("norm_len") + (col("n_chunks") - 1) * 50).as("covers_ok"),
        col("substr_ok"),
        (col("norm0").startsWith(col("first_chunk")) &&
          col("norm0").endsWith(col("last_chunk"))).as("affix_ok"))
      .orderBy(col("doc_id"))
  }

  private def chunkRecursiveSql: String = s"""
    WITH norm AS (SELECT doc_id, $normalizeSqlExpr AS t FROM documents WHERE length(text) > 0)
    SELECT doc_id, CAST(length(t) AS BIGINT) AS norm_len,
           TRUE AS within_size, TRUE AS covers_ok, TRUE AS substr_ok, TRUE AS affix_ok
    FROM norm WHERE length(t) > 0 ORDER BY doc_id"""

  /** Shared synthetic line/heading structure: the single-line testdata
    * docs get a newline every 8 words (MarkdownOps.synthesizeLines) and
    * lines opening with spark/window/merge/stream are promoted to
    * H1–H4 — identical regex pipeline in the oracle. */
  private def markdownize(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val synth = graft.text.MarkdownOps.synthesizeLines(c)
    val h = Seq("spark" -> "# ", "window" -> "## ", "merge" -> "### ", "stream" -> "#### ")
    h.foldLeft(synth) { case (acc, (word, prefix)) =>
      regexp_replace(acc, s"(?m)^($word )", s"$prefix$$1")
    }
  }

  private val markdownizeSqlExpr: String = {
    val synth = """regexp_replace(text, '((?:\S+ ){7}\S+) ', '\1' || chr(10), 'g')"""
    Seq("spark" -> "# ", "window" -> "## ", "merge" -> "### ", "stream" -> "#### ")
      .foldLeft(synth) { case (acc, (word, prefix)) =>
        s"regexp_replace($acc, '(?m)^($word )', '$prefix\\1', 'g')"
      }
  }

  /** O4: first long line per document over the synthesized line frame. */
  private def firstLongLineQuery(s: SparkSession, d: String): DataFrame = {
    val lines = graft.text.MarkdownOps.lineFrame(
      Tables.documents(s, d).select(col("doc_id"), markdownize(col("text")).as("md")),
      "md", Seq("doc_id"))
    graft.text.MarkdownOps.firstLongLine(lines, Seq("doc_id"))
      .orderBy(col("doc_id"))
  }

  private def firstLongLineSql: String = s"""
    WITH md AS (SELECT doc_id, $markdownizeSqlExpr AS m FROM documents),
    lines AS (
      SELECT doc_id, u.l AS line, CAST(u.i - 1 AS BIGINT) AS lineno
      FROM md, LATERAL (SELECT unnest(string_split(m, chr(10))) AS l,
                               generate_subscripts(string_split(m, chr(10)), 1) AS i) u)
    SELECT doc_id, MIN(lineno) AS first_long_lineno,
           substr(arg_min(line, lineno), 1, 200) AS first_long_line
    FROM lines WHERE length(line) >= 50
    GROUP BY doc_id ORDER BY doc_id"""

  /** C1 metadata: hierarchical header path per chunk. */
  private def headerPathsQuery(s: SparkSession, d: String): DataFrame = {
    val chunks = Chunking.annotatedHeaderChunks(
      Tables.documents(s, d).select(col("doc_id"), markdownize(col("text")).as("text")))
    Chunking.headerPaths(chunks)
  }

  private def headerPathsSql: String = {
    val levels = (1 to 4).map { l =>
      s"""CASE WHEN enc$l IS NOT NULL AND (lower$l IS NULL OR CAST(substr(enc$l, 1, 12) AS BIGINT) > lower$l)
               THEN substr(enc$l, 14) ELSE '' END AS h$l"""
    }.mkString(", ")
    val encs = (1 to 4).map { l =>
      s"""MAX(CASE WHEN header_level = $l THEN printf('%012d|', chunk_idx) || header_title END)
            OVER (PARTITION BY doc_id ORDER BY chunk_idx
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS enc$l,
          MAX(CASE WHEN header_level < $l AND header_level > 0 THEN chunk_idx END)
            OVER (PARTITION BY doc_id ORDER BY chunk_idx
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lower$l"""
    }.mkString(", ")
    s"""
    WITH md AS (SELECT doc_id, ${normalizeSqlOn(markdownizeSqlExpr)} AS t FROM documents WHERE length(text) > 0),
    marked AS (
      SELECT doc_id, regexp_replace(t, '(?m)^(#{1,4} )', chr(1) || '\\1', 'g') AS m FROM md),
    chunks AS (
      SELECT doc_id, u.c AS chunk, u.i AS raw_idx
      FROM marked, LATERAL (SELECT unnest(string_split(m, chr(1))) AS c,
                                   generate_subscripts(string_split(m, chr(1)), 1) AS i) u
      WHERE length(u.c) > 0),
    idxed AS (
      SELECT doc_id,
             CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY raw_idx) - 1 AS BIGINT) AS chunk_idx,
             CAST(length(regexp_extract(chunk, '^(#{1,6}) ', 1)) AS BIGINT) AS header_level,
             regexp_extract(chunk, '^#{1,6} ([^\n]*)', 1) AS header_title
      FROM chunks),
    encoded AS (SELECT doc_id, chunk_idx, $encs FROM idxed)
    SELECT doc_id, chunk_idx, $levels
    FROM encoded ORDER BY doc_id, chunk_idx"""
  }

  /** O2: splice figure markers into documents at their content-break
    * offsets — the reference's back-to-front string splice as an
    * order-insensitive relational rewrite. */
  private def figureSpliceQuery(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), markdownize(col("text")).as("md"))
    val lines = graft.text.MarkdownOps.lineFrame(docs, "md", Seq("doc_id"))
    val breaks = graft.text.MarkdownOps.contentBreaks(lines, Seq("doc_id"))
      .select(col("doc_id"), col("line_offset"))
    graft.text.MarkdownOps.spliceAt(docs, "md", "doc_id", breaks, "line_offset", "<!-- FIG -->")
      .select(col("doc_id"), md5(col("spliced").cast("binary")).as("spliced_md5"),
        length(col("spliced")).cast("long").as("spliced_len"))
      .orderBy(col("doc_id"))
  }

  private def figureSpliceSql: String = s"""
    WITH md AS (SELECT doc_id, $markdownizeSqlExpr AS m FROM documents),
    lines AS (
      SELECT doc_id, u.l AS line, CAST(u.i - 1 AS BIGINT) AS lineno
      FROM md, LATERAL (SELECT unnest(string_split(m, chr(10))) AS l,
                               generate_subscripts(string_split(m, chr(10)), 1) AS i) u),
    offs AS (
      SELECT doc_id, lineno,
             COALESCE(SUM(length(line) + 1) OVER (PARTITION BY doc_id ORDER BY lineno
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS line_offset,
             line
      FROM lines),
    fenced AS (
      SELECT *, COALESCE(SUM(CASE WHEN trim(line) LIKE '```%' THEN 1 ELSE 0 END)
                 OVER (PARTITION BY doc_id ORDER BY lineno
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS fences_before
      FROM offs),
    breaks AS (
      SELECT doc_id, line_offset FROM fenced
      WHERE (trim(line) = '' OR regexp_matches(trim(line), '^(-{3,}|\\*{3,}|_{3,})$$')
         OR regexp_matches(line, '^#{1,6} ')) AND fences_before % 2 = 0),
    segs AS (
      SELECT b.doc_id, b.line_offset, m.m,
             substr(m.m, CAST(COALESCE(LAG(b.line_offset) OVER (PARTITION BY b.doc_id ORDER BY b.line_offset), 0) + 1 AS INT),
                    CAST(b.line_offset - COALESCE(LAG(b.line_offset) OVER (PARTITION BY b.doc_id ORDER BY b.line_offset), 0) AS INT))
             || '<!-- FIG -->' AS seg
      FROM breaks b JOIN md m ON b.doc_id = m.doc_id),
    spliced AS (
      SELECT doc_id, string_agg(seg, '' ORDER BY line_offset) ||
             substr(ANY_VALUE(m), CAST(MAX(line_offset) + 1 AS INT)) AS s
      FROM segs GROUP BY doc_id)
    SELECT d.doc_id, md5(COALESCE(sp.s, d.m)) AS spliced_md5,
           CAST(length(COALESCE(sp.s, d.m)) AS BIGINT) AS spliced_len
    FROM md d LEFT JOIN spliced sp ON d.doc_id = sp.doc_id
    ORDER BY d.doc_id"""

  /** F12: caption-spot finder over the markdownized corpus — keyword
    * lines with blank-line-before detection. Keywords are corpus
    * vocabulary NOT promoted to headers by markdownize (those lose
    * their line-start position to the `#` prefix). */
  private def captionSpotsQuery(s: SparkSession, d: String): DataFrame = {
    val lines = graft.text.MarkdownOps.lineFrame(
      Tables.documents(s, d).select(col("doc_id"), markdownize(col("text")).as("md")),
      "md", Seq("doc_id"))
    graft.text.MarkdownOps.captionSpots(lines, Seq("doc_id"), Seq("table", "batch", "join"))
      .orderBy(col("doc_id"), col("lineno"))
  }

  private def captionSpotsSql: String = s"""
    WITH md AS (SELECT doc_id, $markdownizeSqlExpr AS m FROM documents),
    lines AS (
      SELECT doc_id, u.l AS line, CAST(u.i - 1 AS BIGINT) AS lineno
      FROM md, LATERAL (SELECT unnest(string_split(m, chr(10))) AS l,
                               generate_subscripts(string_split(m, chr(10)), 1) AS i) u),
    offs AS (
      SELECT doc_id, lineno, line,
             CAST(COALESCE(SUM(length(line) + 1) OVER (PARTITION BY doc_id ORDER BY lineno
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS line_offset
      FROM lines),
    cap AS (
      SELECT doc_id, lineno, line, line_offset,
             COALESCE(LAG(trim(line)) OVER (PARTITION BY doc_id ORDER BY lineno) = '', TRUE) AS prev_blank
      FROM offs)
    SELECT doc_id, lineno, line_offset, prev_blank
    FROM cap WHERE regexp_matches(line, '^(table|batch|join)\\b')
    ORDER BY doc_id, lineno"""

  /** F13: content-break finder (blank / rule / header lines at even
    * code-fence parity) as a driver-gated query. */
  private def contentBreaksQuery(s: SparkSession, d: String): DataFrame = {
    val lines = graft.text.MarkdownOps.lineFrame(
      Tables.documents(s, d).select(col("doc_id"), markdownize(col("text")).as("md")),
      "md", Seq("doc_id"))
    graft.text.MarkdownOps.contentBreaks(lines, Seq("doc_id"))
      .orderBy(col("doc_id"), col("lineno"))
  }

  private def contentBreaksSql: String = s"""
    WITH md AS (SELECT doc_id, $markdownizeSqlExpr AS m FROM documents),
    lines AS (
      SELECT doc_id, u.l AS line, CAST(u.i - 1 AS BIGINT) AS lineno
      FROM md, LATERAL (SELECT unnest(string_split(m, chr(10))) AS l,
                               generate_subscripts(string_split(m, chr(10)), 1) AS i) u),
    offs AS (
      SELECT doc_id, lineno, line,
             CAST(COALESCE(SUM(length(line) + 1) OVER (PARTITION BY doc_id ORDER BY lineno
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS line_offset
      FROM lines),
    fenced AS (
      SELECT *, COALESCE(SUM(CASE WHEN trim(line) LIKE '```%' THEN 1 ELSE 0 END)
                 OVER (PARTITION BY doc_id ORDER BY lineno
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS fences_before
      FROM offs),
    final AS (
      SELECT doc_id, lineno, line_offset FROM fenced
      WHERE (trim(line) = '' OR regexp_matches(trim(line), '^(-{3,}|\\*{3,}|_{3,})$$')
         OR regexp_matches(line, '^#{1,6} ')) AND fences_before % 2 = 0)
    SELECT doc_id, lineno, line_offset FROM final ORDER BY doc_id, lineno"""

  /** Rolling-hash document fingerprints: whole-doc polynomial hash +
    * winnowing-style k-gram minimum. */
  private def rollingHashQuery(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .transform(graft.Parallelism.ensure(s))
      .select(col("doc_id"),
        TextFunctions.rollingHash(col("text")).as("doc_hash"),
        TextFunctions.kgramMinFingerprint(col("text")).as("kgram_min"))
      .orderBy(col("doc_id"))

  private def rollingHashSql: String = """
    SELECT doc_id,
           list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(generate_series(1, GREATEST(length(text), 1)),
                       i -> CAST(GREATEST(ord(substr(text, CAST(i AS INT), 1)), 0) AS BIGINT))),
                       (acc, x) -> (acc * 31 + x) % 2147483647) AS doc_hash,
           list_min(list_transform(generate_series(1, GREATEST(length(text) - 7, 1)),
                    i -> list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(generate_series(0, 7),
                         j -> CAST(GREATEST(ord(substr(text, CAST(i + j AS INT), 1)), 0) AS BIGINT))),
                         (acc, x) -> (acc * 31 + x) % 2147483647))) AS kgram_min
    FROM documents ORDER BY doc_id"""

  /** PII scrub over the corpus: redact emails / IPv4s / long digit runs
    * and report per-doc match counts plus the hash of the scrubbed text.
    * The synthetic corpus carries no organic PII, so each document is
    * first augmented with deterministic doc_id-derived identifiers —
    * computable identically by the oracle — making every row exercise
    * all three patterns. Map-side only: one codegen'd projection. */
  private def piiScrubQuery(s: SparkSession, d: String): DataFrame = {
    val atext = concat(col("text"),
      lit(" contact user"), col("doc_id").cast("string"),
      lit("@example.com from 10.0."), (col("doc_id") % 256).cast("string"),
      lit(".7 ref 123456789"))
    val scrubbed = TextFunctions.piiScrub(atext)
    Tables.documents(s, d).select(
      col("doc_id"),
      regexp_count(atext, lit(TextFunctions.EmailRe)).cast("long").as("n_email"),
      regexp_count(atext, lit(TextFunctions.Ipv4Re)).cast("long").as("n_ipv4"),
      regexp_count(atext, lit(TextFunctions.LongNumRe)).cast("long").as("n_num"),
      length(scrubbed).cast("long").as("scrub_len"),
      md5(to_binary(scrubbed, lit("utf-8"))).as("scrub_md5"),
    ).orderBy(col("doc_id"))
  }

  private def piiScrubSql: String = {
    val atext = "text || ' contact user' || CAST(doc_id AS VARCHAR) || " +
      "'@example.com from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7 ref 123456789'"
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val ipv4 = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
    val num = "\\b\\d{9,}\\b"
    s"""
    WITH aug AS (SELECT doc_id, $atext AS atext FROM documents),
    scrub AS (
      SELECT doc_id, atext,
             regexp_replace(regexp_replace(regexp_replace(atext,
               '$email', '<EMAIL>', 'g'),
               '$ipv4', '<IP>', 'g'),
               '$num', '<NUM>', 'g') AS cleaned
      FROM aug)
    SELECT doc_id,
           CAST(len(regexp_extract_all(atext, '$email')) AS BIGINT) AS n_email,
           CAST(len(regexp_extract_all(atext, '$ipv4')) AS BIGINT) AS n_ipv4,
           CAST(len(regexp_extract_all(atext, '$num')) AS BIGINT) AS n_num,
           CAST(length(cleaned) AS BIGINT) AS scrub_len,
           md5(cleaned) AS scrub_md5
    FROM scrub ORDER BY doc_id"""
  }

  /** Page-anchor map over the markdownized corpus (F10/F11/W1/W2
    * composite — SURVEY.md §1's page-anchor table). */
  private def pageAnchorsQuery(s: SparkSession, d: String): DataFrame =
    graft.text.MarkdownOps.pageAnchors(
      Tables.documents(s, d).select(col("doc_id"), markdownize(col("text")).as("md")),
      "doc_id", "md")

  private def pageAnchorsSql: String = s"""
    WITH md AS (SELECT doc_id, $markdownizeSqlExpr AS m FROM documents),
    lines AS (
      SELECT doc_id, u.l AS line, CAST(u.i - 1 AS BIGINT) AS lineno
      FROM md, LATERAL (SELECT unnest(string_split(m, chr(10))) AS l,
                               generate_subscripts(string_split(m, chr(10)), 1) AS i) u),
    paged AS (
      SELECT doc_id, line, lineno,
             CAST(LEAST(FLOOR(lineno / CEIL(COUNT(*) OVER (PARTITION BY doc_id) / 4)), 3) AS BIGINT) + 1 AS page
      FROM lines),
    firsts AS (
      SELECT doc_id, page,
             array_to_string(list_slice(string_split_regex(trim(arg_min(line, lineno)), '\\s+'), 1, 5), ' ') AS snippet
      FROM paged GROUP BY doc_id, page),
    searched AS (
      SELECT f.doc_id, f.page,
             CASE WHEN length(f.snippet) > 0
                  THEN NULLIF(strpos(m.m, f.snippet), 0) - 1 END AS found,
             length(m.m) AS text_len
      FROM firsts f JOIN md m ON f.doc_id = m.doc_id),
    carried AS (
      SELECT doc_id, page, text_len,
             LAST_VALUE(found IGNORE NULLS) OVER
               (PARTITION BY doc_id ORDER BY page
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
      FROM searched),
    mono AS (
      SELECT doc_id, page, text_len,
             CAST(MAX(COALESCE(c, 0)) OVER
               (PARTITION BY doc_id ORDER BY page
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS anchor
      FROM carried)
    SELECT doc_id, page, anchor,
           COALESCE(LEAD(anchor, 1) OVER (PARTITION BY doc_id ORDER BY page),
                    CAST(text_len AS BIGINT)) AS range_end
    FROM mono ORDER BY doc_id, page"""

  /** Content-defined chunking over the corpus: chunk table keyed by
    * rolling-hash boundaries (shift-resistant dedup chunking). */
  private def cdcChunksQuery(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .transform(graft.Parallelism.ensure(s))
      .filter(length(col("text")) > 0)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .flatMap { case (id, t) =>
        Chunking.cdcChunksRolling(t).iterator.zipWithIndex
          .map { case (c, i) => (id, i.toLong, c) }
      }
      .toDF("doc_id", "chunk_idx", "chunk")
      .select(col("doc_id"), col("chunk_idx"),
        md5(col("chunk").cast("binary")).as("chunk_md5"),
        length(col("chunk")).cast("long").as("chunk_len"))
      .orderBy(col("doc_id"), col("chunk_idx"))
  }

  private def cdcChunksSql: String = """
    WITH hashes AS (
      SELECT doc_id, text, length(text) AS n,
             list_filter(generate_series(1, GREATEST(length(text) - 7, 1)),
               i -> list_reduce(list_prepend(CAST(0 AS BIGINT),
                      list_transform(generate_series(0, 7),
                        j -> CAST(GREATEST(ord(substr(text, CAST(i + j AS INT), 1)), 0) AS BIGINT))),
                      (acc, x) -> (acc * 31 + x) % 2147483647) % 64 = 0) AS bounds
      FROM documents WHERE length(text) > 0),
    spans AS (
      SELECT doc_id, text,
             list_sort(list_distinct(list_append(
               list_transform(bounds, b -> CAST(b + 7 AS BIGINT)), CAST(n AS BIGINT)))) AS ends
      FROM hashes),
    chunks AS (
      SELECT doc_id,
             CAST(u.i - 1 AS BIGINT) AS chunk_idx,
             substr(text,
                    CAST(CASE WHEN u.i = 1 THEN 0 ELSE ends[u.i - 1] END + 1 AS INT),
                    CAST(ends[u.i] - (CASE WHEN u.i = 1 THEN 0 ELSE ends[u.i - 1] END) AS INT)) AS chunk
      FROM spans, LATERAL (SELECT unnest(generate_series(1, len(ends))) AS i) u)
    SELECT doc_id, chunk_idx, md5(chunk) AS chunk_md5,
           CAST(length(chunk) AS BIGINT) AS chunk_len
    FROM chunks ORDER BY doc_id, chunk_idx"""

  /** Deterministic hash-based sampling + split assignment — the
    * reproducible train/valid/test partitioning a training-data
    * pipeline needs (content-addressed, seed-stable, no RNG state). */
  private def stratifiedSampleQuery(s: SparkSession, d: String): DataFrame = {
    val bucket = TextFunctions.md5Long(concat(lit("seed42|"), col("doc_id"))) % 100
    Tables.documents(s, d)
      .withColumn("bucket", bucket)
      .withColumn("split",
        when(col("bucket") < 80, "train")
          .when(col("bucket") < 90, "valid").otherwise("test"))
      .groupBy(col("lang"), col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      .orderBy(col("lang"), col("split"))
  }

  private def stratifiedSampleSql: String = """
    WITH assigned AS (
      SELECT lang, n_chars,
             CAST('0x' || substr(md5('seed42|' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 100 AS bucket
      FROM documents)
    SELECT lang,
           CASE WHEN bucket < 80 THEN 'train' WHEN bucket < 90 THEN 'valid' ELSE 'test' END AS split,
           COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
    FROM assigned GROUP BY 1, 2 ORDER BY 1, 2"""

  /** Deterministic global shuffle + shard export — the final stage of a
    * training-data pipeline: every document is assigned a content-
    * addressed shard (first hex nibble of a seeded md5 → 16 shards) and
    * a deterministic position within its shard (sort by the full hash),
    * with a running token total per shard for downstream pack budgeting.
    * Seeded hashing makes the shuffle reproducible across runs and
    * engines — no RNG state.
    *
    * Scale shape: exactly the plan a 100 TB shard export wants — one
    * hash projection (map-side), one shuffle on the shard key, and a
    * within-shard sort; shards are corpus/16 so each window partition
    * is one balanced export file's worth of rows. */
  private def shardShuffleQuery(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hk = md5(to_binary(concat(lit("seed42|"), col("doc_id").cast("string")), lit("utf-8")))
    val base = Tables.documents(s, d).select(
      col("doc_id"), hk.as("hk"),
      TextFunctions.tokenCount(col("text")).as("n_tokens"))
      .withColumn("shard", conv(substring(col("hk"), 1, 1), 16, 10).cast("long"))
    val w = Window.partitionBy(col("shard")).orderBy(col("hk"), col("doc_id"))
    base.select(col("shard"),
      (row_number().over(w) - 1).cast("long").as("pos"),
      col("doc_id"), col("n_tokens"),
      sum(col("n_tokens")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .as("cum_tokens"))
      .orderBy(col("shard"), col("pos"))
  }

  private def shardShuffleSql: String = """
    WITH t AS (
      SELECT doc_id, md5('seed42|' || CAST(doc_id AS VARCHAR)) AS hk,
             CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len(string_split_regex(trim(text), '\s+')) END AS BIGINT) AS n_tokens
      FROM documents),
    sh AS (SELECT doc_id, hk, n_tokens,
                  CAST('0x' || substr(hk, 1, 1) AS BIGINT) AS shard FROM t)
    SELECT shard,
           CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY hk, doc_id) - 1 AS BIGINT) AS pos,
           doc_id, n_tokens,
           CAST(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY hk, doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
    FROM sh ORDER BY shard, pos"""

  /** F20: JSON serde round-trip — serialize each doc's metadata struct
    * with to_json, parse it back with from_json, and project the
    * parsed fields plus a parse==original invariant. Gates the serde
    * semantics (parse ∘ serialize = id) rather than the engine-private
    * wire formatting. */
  private def jsonRoundtripQuery(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    Tables.documents(s, d)
      .withColumn("j", to_json(struct(col("doc_id"), col("source"), col("n_chars"))))
      .withColumn("p", from_json(col("j"), schema))
      .select(col("doc_id"),
        col("p.source").as("rt_source"),
        col("p.n_chars").as("rt_n_chars"),
        (col("p.doc_id") === col("doc_id") && col("p.source") === col("source") &&
          col("p.n_chars") === col("n_chars")).as("roundtrip_ok"))
      .orderBy(col("doc_id"))
  }

  private def jsonRoundtripSql: String = """
    SELECT doc_id, source AS rt_source, n_chars AS rt_n_chars, TRUE AS roundtrip_ok
    FROM documents ORDER BY doc_id"""

  /** S2/P1/F14/F15/F21: path algebra + extension validation
    * (tag-not-drop) — synthesize deterministic corpus paths, split
    * stem/extension, lowercase-compare against the allowlist, and
    * count per (source, ext) with blocked rows TAGGED, never dropped
    * (reference semantics: document_manager keeps unknown files with a
    * flag). */
  private def pathOpsQuery(s: SparkSession, d: String): DataFrame = {
    val path = concat(lit("/corpus/"), col("source"), lit("/Doc_"), col("doc_id"),
      element_at(array(lit(".PDF"), lit(".md"), lit(".txt"), lit(".png")),
        (col("doc_id") % 4 + 1).cast("int")))
    Tables.documents(s, d)
      .withColumn("path", path)
      .withColumn("ext", lower(element_at(split(col("path"), "\\."), -1)))
      .withColumn("stem", regexp_extract(col("path"), "([^/]+)\\.[^.]+$", 1))
      .withColumn("allowed", col("ext").isin("pdf", "md", "txt"))
      .groupBy(col("source"), col("ext"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("allowed").cast("long")).as("n_allowed"),
        min(col("stem")).as("first_stem"))
      .orderBy(col("source"), col("ext"))
  }

  private def pathOpsSql: String = """
    WITH p AS (
      SELECT source,
             '/corpus/' || source || '/Doc_' || CAST(doc_id AS VARCHAR) ||
               (['.PDF', '.md', '.txt', '.png'])[CAST(doc_id % 4 + 1 AS INT)] AS path
      FROM documents),
    e AS (
      SELECT source, path,
             lower(string_split(path, '.')[-1]) AS ext,
             regexp_extract(path, '([^/]+)\.[^.]+$', 1) AS stem
      FROM p)
    SELECT source, ext, COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN ext IN ('pdf', 'md', 'txt') THEN 1 ELSE 0 END) AS BIGINT) AS n_allowed,
           MIN(stem) AS first_stem
    FROM e GROUP BY source, ext ORDER BY source, ext"""

  /** S12: config merge — the reference's `_save_config` unions the
    * incoming config's `type` list into the existing one when the
    * index identity matches (index_manager.py:263-286). Re-expressed
    * per source: the two config halves' lang sets merge via
    * array_union with deterministic ordering; emitted as a joined
    * string (scalar, driver-hashable). */
  /** R6/J2 through the ACID table, gated end to end: seed a snapshot
    * table with every document tagged 'base', MERGE an update batch
    * (docs ≡ 0 mod 10, tagged 'upd', delete-then-add by doc_id), read
    * the committed result back. The DuckDB oracle is the merge's
    * relational definition — a CASE on the key predicate. Fresh
    * UUID-rooted table per invocation so the query is rerunnable. */
  private def snapshotMergeCycle(s: SparkSession, d: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft-snapq").toString
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("n_chars"))
    graft.sources.SnapshotTable.create(s, root,
      docs.withColumn("src", lit("base")), statsKey = Some("doc_id"))
    graft.sources.SnapshotTable.merge(s, root,
      docs.filter(col("doc_id") % 10 === 0).withColumn("src", lit("upd")),
      key = "doc_id")
    // per-doc output grows with the corpus — stays DISTRIBUTED; the
    // scratch table is deleted by the runner's drain after the
    // consuming action (localizing here would collect the corpus)
    graft.Scratch.registerForCleanup(root)
    graft.sources.SnapshotTable.read(s, root)
      .select(col("doc_id"), col("n_chars"), col("src"))
      .orderBy(col("doc_id"))
  }

  private def snapshotMergeCycleSql: String = """
    SELECT doc_id, n_chars,
           CASE WHEN doc_id % 10 = 0 THEN 'upd' ELSE 'base' END AS src
    FROM documents ORDER BY doc_id"""

  /** DELETION VECTORS, gated end to end: seed a snapshot table, run a
    * merge-on-read [[graft.sources.SnapshotTable.deleteWhere]] (a
    * predicate delete that marks (file, position) pairs in a sidecar
    * instead of rewriting data files), read the committed result. The
    * DuckDB oracle is the delete's relational definition (WHERE NOT
    * pred); the invariant booleans pin the merge-on-read contract the
    * SQL can't see — the delete rewrote NO data file (the live file
    * set is exactly the create's) and the debt is recorded for the
    * maintenance scheduler (dvFiles/dvRows positive). Both are
    * provable from the operator's contract: deleteWhere only repoints
    * dv references, and a matching predicate always records debt. */
  private def snapshotDeleteCycle(s: SparkSession, d: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft-snapdv").toString
    val docs = Tables.documents(s, d).select(col("doc_id"), col("n_chars"))
    graft.sources.SnapshotTable.create(s, root, docs, statsKey = Some("doc_id"))
    val before = graft.sources.SnapshotTable.read(s, root).inputFiles.toSet
    graft.sources.SnapshotTable.deleteWhere(s, root, col("doc_id") % 7 === 3)
    val det = graft.sources.SnapshotTable.describeDetail(s, root)
    val now = graft.sources.SnapshotTable.read(s, root)
    // the dv sidecar itself appears among the join's input files —
    // the contract is about DATA files only
    val dataNow = now.inputFiles.filter(_.contains("/data/")).toSet
    val noRewrite = dataNow == before
    val dvMarked = det.dvFiles > 0 && det.dvRows > 0
    graft.Scratch.registerForCleanup(root)
    pinInvariants("meta_snapshot_delete",
      ("no_rewrite", noRewrite, () => s"gained=${dataNow.diff(before).take(3)} " +
        s"lost=${before.diff(dataNow).take(3)}"),
      ("dv_marked", dvMarked, () => s"dvFiles=${det.dvFiles} dvRows=${det.dvRows}"))
    now.select(col("doc_id"), col("n_chars"))
      .withColumn("no_rewrite", lit(noRewrite))
      .withColumn("dv_marked", lit(dvMarked))
      .orderBy(col("doc_id"))
  }

  private def snapshotDeleteCycleSql: String = """
    SELECT doc_id, n_chars, TRUE AS no_rewrite, TRUE AS dv_marked
    FROM documents WHERE doc_id % 7 <> 3 ORDER BY doc_id"""

  /** Per-file bloom filters (manifest format 7), gated end to end: the
    * table is built as 8 id-INTERLEAVED files (7 hash-partitioned at
    * create + 1 appended) with `bloomKey = true`, so every file's
    * [min,max] range spans ~the whole id space — the fresh-micro-batch
    * shape in which range stats keep every file and the bloom is the
    * only thing standing between a point probe and a full scan. The id set is
    * restricted to `doc_id % 3 <> 1`, so in-range ABSENT keys exist by
    * construction. The rows are the present-key point reads (oracle:
    * the same IN over documents); the invariant booleans pin the
    * physical contract: `bloom_pruned` — a probe for absent in-range
    * keys scanned at most one file (range stats alone would scan all
    * 8); `probe_pruned` — the present-key probe scanned fewer files
    * than the table holds while still returning every probed row (the
    * no-false-negative half, which is what makes blooms SAFE to trust
    * on the streaming dedup index's read-skip path). */
  private def snapshotBloomReadCycle(s: SparkSession, d: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft-snapbloom").toString
    val snap = graft.sources.SnapshotTable
    val docs = Tables.documents(s, d).select(col("doc_id"), col("n_chars"))
      .filter(col("doc_id") % 3 =!= 1)
    // 7 hash-partitioned files at create + ONE appended file: hash
    // partitioning on doc_id gives every file the same ~whole-range
    // [min,max] spread the old 8 interleaved single-file appends
    // produced (range stats keep every file; only the bloom prunes),
    // while the table builds in 2 commits instead of 8 — the append
    // still proves the bloom rides the append path's entries too
    // the bloom2 probe value (absent2, computed a page below from the
    // SOURCE table only) is independent of the snapshot lifecycle —
    // its search overlaps the create+append commits (guide §2.6)
    val (_, absent2) = graft.Concurrency.overlap(
      {
        snap.create(s, root,
          docs.filter(col("doc_id") % 8 =!= 7).repartition(7, col("doc_id")),
          statsKey = Some("doc_id"), statsKey2 = Some("n_chars"), bloomKey = true)
        snap.append(s, root,
          docs.filter(col("doc_id") % 8 === 7).repartition(1), bloomKey = true)
      },
      {
        val vals = docs.select(col("n_chars").as("v")).distinct()
        vals.select((col("v") + 1).as("c"))
          .join(vals, col("c") === col("v"), "left_anti")
          .crossJoin(broadcast(vals.agg(max(col("v")).as("mx"))))
          .filter(col("c") <= col("mx"))
          .agg(min(col("c")).as("absent"))
          .collect().headOption
          .flatMap(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
      })
    val allFiles = snap.read(s, root).inputFiles.length
    // absent but IN-RANGE keys (% 3 == 1 was filtered out): range
    // stats keep every file for these; the bloom must not
    val absentScan = snap.readKeys(s, root, "doc_id", Array(1L, 4L, 7L, 10L))
    // ≤ 1 admits a rare single false positive (per-file FPR ~0.1% at
    // ~10 bits/key) — degradation toward the scan, never toward skip
    val bloomPruned = absentScan.inputFiles.length <= 1 &&
      absentScan.count() == 0
    val presentKeys = Array(0L, 2L, 3L, 5L, 6L, 8L)
    val present = snap.readKeys(s, root, "doc_id", presentKeys)
    val probePruned = present.inputFiles.length < allFiles
    // SECONDARY-KEY bloom (format 11): a point probe on an absent
    // in-range n_chars value reaches the indexed path's pushed
    // equality, whose point set probes bloom2 — files skip where the
    // secondary RANGE (interleaved appends → table-wide) cannot. The
    // absent value (absent2, computed above overlapping the commits)
    // is the FIRST GAP in the sorted distinct value set: min(v+1) that
    // is not itself a value and sits below max(v) — found by an anti
    // self-join on v+1, every stage distributed (the earlier
    // Window.orderBy form computed the same thing but collapsed the
    // distinct set onto one task; never a driver-side min..max
    // iteration either, which is unbounded when the range is wide). A
    // fully dense range has no in-range-absent value; that case must
    // be VISIBLE, not a silent vacuous pass.
    if (absent2.isEmpty)
      Console.err.println("[meta_snapshot_bloom_read] bloom2_pruned " +
        "VACUOUS: n_chars value set is dense — no in-range absent " +
        "value exists at this scale factor; bloom2 skip not exercised")
    val bloom2Pruned = absent2.forall { v =>
      val probe = snap.readIndexed(s, root).filter(col("n_chars") === v)
      val empty = probe.count() == 0
      org.apache.spark.sql.graftbridge.Bridge.flushListenerBus(s)
      // ≤ 1 scanned file: same false-positive allowance as the primary
      empty && graft.PlanWalk.keptFiles(probe).sum <= 1
    }
    graft.Scratch.registerForCleanup(root)
    pinInvariants("meta_snapshot_bloom_read",
      ("bloom_pruned", bloomPruned,
        () => s"absentScanFiles=${absentScan.inputFiles.length} " +
          s"absentRows=${absentScan.count()} total=$allFiles"),
      ("probe_pruned", probePruned,
        () => s"presentFiles=${present.inputFiles.length} total=$allFiles"),
      ("bloom2_pruned", bloom2Pruned, () => s"absent2=$absent2"))
    present.filter(col("doc_id").isin(presentKeys: _*))
      .select(col("doc_id"), col("n_chars"))
      .withColumn("bloom_pruned", lit(bloomPruned))
      .withColumn("probe_pruned", lit(probePruned))
      .withColumn("bloom2_pruned", lit(bloom2Pruned))
      .orderBy(col("doc_id"))
  }

  private def snapshotBloomReadCycleSql: String = """
    SELECT doc_id, n_chars, TRUE AS bloom_pruned, TRUE AS probe_pruned,
           TRUE AS bloom2_pruned
    FROM documents
    WHERE doc_id % 3 <> 1 AND doc_id IN (0, 2, 3, 5, 6, 8)
    ORDER BY doc_id"""

  /** The one-call MAINTENANCE cycle, gated end to end: build a
    * clustered table, load it with BOTH debt shapes — deletion vectors
    * (a 1-in-3 predicate delete, above `materializeDv`'s default
    * fraction in every file) and small files (three single-file
    * appends) — then run [[graft.sources.SnapshotTable.maintain]]
    * once. The oracle is the relational end state (survivors plus the
    * re-keyed appended slice); the invariant booleans pin the cycle's
    * physical contract: `debt_cleared` — no deletion vectors and no
    * dv rows remain after the cycle; `fixpoint` — a second cycle with
    * no intervening writes commits NOTHING (the materialize-before-
    * pack ordering converges in one call); `retained` — version count
    * respects keepVersions after expire+vacuum. */
  private def snapshotMaintainCycle(s0: SparkSession, d: String): DataFrame = {
    // corpus-bounded frames across 6 commits + 2 maintenance cycles:
    // width-4 throwaway session, same rationale as the restore cycle
    val s = probeSession(s0,
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.adaptive.enabled" -> "false")
    val root = java.nio.file.Files.createTempDirectory("graft-snapmaint").toString
    val snap = graft.sources.SnapshotTable
    val docs = Tables.documents(s, d).select(col("doc_id"), col("n_chars"))
    snap.create(s, root, docs.repartitionByRange(4, col("doc_id")),
      statsKey = Some("doc_id"))
    snap.deleteWhere(s, root, col("doc_id") % 3 === 1)
    (0 until 3).foreach(i => snap.append(s, root,
      docs.filter(col("doc_id") % 997 === i)
        .withColumn("doc_id", col("doc_id") + lit(10000000L)).coalesce(1)))
    val committed = snap.maintain(s, root, smallBytes = 1L << 20,
      keepVersions = 3, minAgeMs = 0L)
    val det = snap.describeDetail(s, root)
    val debtCleared = committed.nonEmpty && det.dvFiles == 0 && det.dvRows == 0
    val fixpoint = snap.maintain(s, root, smallBytes = 1L << 20,
      keepVersions = 3, minAgeMs = 0L).isEmpty
    val retained = snap.describeDetail(s, root).liveVersions <= 3
    graft.Scratch.registerForCleanup(root)
    pinInvariants("meta_snapshot_maintain",
      ("debt_cleared", debtCleared, () => s"committed=$committed " +
        s"dvFiles=${det.dvFiles} dvRows=${det.dvRows}"),
      ("fixpoint", fixpoint, () => "second maintain() committed a version"),
      ("retained", retained,
        () => s"liveVersions=${snap.describeDetail(s, root).liveVersions}"))
    snap.read(s, root)
      .select(col("doc_id"), col("n_chars"))
      .withColumn("debt_cleared", lit(debtCleared))
      .withColumn("fixpoint", lit(fixpoint))
      .withColumn("retained", lit(retained))
      .orderBy(col("doc_id"))
  }

  private def snapshotMaintainCycleSql: String = """
    SELECT doc_id, n_chars, TRUE AS debt_cleared, TRUE AS fixpoint,
           TRUE AS retained
    FROM (
      SELECT doc_id, n_chars FROM documents WHERE doc_id % 3 <> 1
      UNION ALL
      SELECT doc_id + 10000000, n_chars FROM documents WHERE doc_id % 997 < 3
    ) ORDER BY doc_id"""

  /** TIMESTAMP AS OF + CDC-since-instant, gated end to end: create the
    * base table (v1), MERGE an update that flips every 10th doc's
    * n_chars to -1 (v2), then PIN the two manifests' commit instants
    * ten seconds apart (the resolver keys on manifest mtime, which the
    * query owns for its temp table — determinism without sleeps). The
    * rows are `readAsOf` at an instant BETWEEN the commits: exactly the
    * pre-merge table, which is the oracle (plain documents). The
    * invariant booleans pin the resolution contract: `resolved` — the
    * boundary instants resolve to v1/v2 inclusively and a pre-table
    * instant resolves to nothing; `cdc_since` — `readChangesSince` the
    * same mid instant yields exactly the merge's delete+insert pairs
    * (2 rows per updated key, nothing from v1). */
  private def snapshotAsOfCycle(s: SparkSession, d: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft-snapasof").toString
    val snap = graft.sources.SnapshotTable
    val docs = Tables.documents(s, d).select(col("doc_id"), col("n_chars"))
    snap.create(s, root, docs, statsKey = Some("doc_id"))
    snap.merge(s, root,
      docs.filter(col("doc_id") % 10 === 0).withColumn("n_chars", lit(-1L)),
      key = "doc_id")
    val t = System.currentTimeMillis()
    def pin(v: Int, ts: Long): Unit =
      java.nio.file.Files.setLastModifiedTime(
        java.nio.file.Paths.get(root, "_snapshots", f"v$v%07d.json"),
        java.nio.file.attribute.FileTime.fromMillis(ts))
    pin(1, t - 10000); pin(2, t)
    val resolved = snap.versionAsOf(s, root, t - 10000).contains(1) &&
      snap.versionAsOf(s, root, t - 1).contains(1) &&
      snap.versionAsOf(s, root, t).contains(2) &&
      snap.versionAsOf(s, root, t - 20000).isEmpty
    val updated = docs.filter(col("doc_id") % 10 === 0).count()
    val cdcSince = snap.readChangesSince(s, root, t - 1).count() == 2 * updated
    graft.Scratch.registerForCleanup(root)
    pinInvariants("meta_snapshot_asof",
      ("resolved", resolved, () => s"asOf(t-10s)=${snap.versionAsOf(s, root, t - 10000)} " +
        s"asOf(t-1)=${snap.versionAsOf(s, root, t - 1)} asOf(t)=${snap.versionAsOf(s, root, t)}"),
      ("cdc_since", cdcSince, () =>
        s"changes=${snap.readChangesSince(s, root, t - 1).count()} expected=${2 * updated}"))
    snap.readAsOf(s, root, t - 1)
      .select(col("doc_id"), col("n_chars"))
      .withColumn("resolved", lit(resolved))
      .withColumn("cdc_since", lit(cdcSince))
      .orderBy(col("doc_id"))
  }

  private def snapshotAsOfCycleSql: String = """
    SELECT doc_id, n_chars, TRUE AS resolved, TRUE AS cdc_since
    FROM documents ORDER BY doc_id"""

  /** Merge-on-read MERGE, gated end to end: the same delete-then-add
    * cycle as `meta_snapshot_merge`, executed through
    * [[graft.sources.SnapshotTable.mergeOnRead]] — matching rows in
    * touched files are marked deleted via position sidecars and only
    * the update batch is written, so upsert write cost is proportional
    * to the UPDATES, not to the files they land in. Same oracle as the
    * copy-on-write merge (the two must be semantically
    * indistinguishable); the invariants pin what differs physically:
    * every original data file carried forward BY NAME (none
    * rewritten) and the deletions are dv-recorded. */
  private def snapshotMergeOnReadCycle(s: SparkSession, d: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft-snapmor").toString
    val docs = Tables.documents(s, d).select(col("doc_id"), col("n_chars"))
    graft.sources.SnapshotTable.create(s, root,
      docs.withColumn("src", lit("base")), statsKey = Some("doc_id"))
    val before = graft.sources.SnapshotTable.read(s, root).inputFiles.toSet
    graft.sources.SnapshotTable.mergeOnRead(s, root,
      docs.filter(col("doc_id") % 10 === 0).withColumn("src", lit("upd")),
      key = "doc_id")
    val det = graft.sources.SnapshotTable.describeDetail(s, root)
    val now = graft.sources.SnapshotTable.read(s, root)
    val dataNow = now.inputFiles.filter(_.contains("/data/")).toSet
    val carried = before.subsetOf(dataNow)
    val dvMarked = det.dvRows > 0
    graft.Scratch.registerForCleanup(root)
    pinInvariants("meta_snapshot_merge_on_read",
      ("no_rewrite", carried,
        () => s"lost=${before.diff(dataNow).take(3)} of ${before.size}"),
      ("dv_marked", dvMarked, () => s"dvRows=${det.dvRows}"))
    now.select(col("doc_id"), col("n_chars"), col("src"))
      .withColumn("no_rewrite", lit(carried))
      .withColumn("dv_marked", lit(dvMarked))
      .orderBy(col("doc_id"))
  }

  private def snapshotMergeOnReadCycleSql: String = """
    SELECT doc_id, n_chars,
           CASE WHEN doc_id % 10 = 0 THEN 'upd' ELSE 'base' END AS src,
           TRUE AS no_rewrite, TRUE AS dv_marked
    FROM documents ORDER BY doc_id"""

  /** Schema EVOLUTION through the ACID table, gated end to end: create
    * the base table (doc_id, n_chars), MERGE an update batch that
    * carries a column the table has never seen (`rev`), read back —
    * updated docs show the new column's value, untouched docs (whose
    * files predate the evolution) null-fill it. The oracle is the
    * relational definition of add-column-with-default-null. A read
    * that inferred schema from an arbitrary file instead of the
    * version's recorded schema would drop or misplace `rev` depending
    * on file order — exactly what the manifest schema line prevents. */
  private def snapshotSchemaEvoCycle(s: SparkSession, d: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft-schevo").toString
    val docs = Tables.documents(s, d).select(col("doc_id"), col("n_chars"))
    graft.sources.SnapshotTable.create(s, root, docs, statsKey = Some("doc_id"))
    graft.sources.SnapshotTable.merge(s, root,
      docs.filter(col("doc_id") % 10 === 0).withColumn("rev", lit(2L)),
      key = "doc_id")
    // per-doc output: distributed return + runner-drained cleanup,
    // same contract as snapshotMergeCycle
    graft.Scratch.registerForCleanup(root)
    graft.sources.SnapshotTable.read(s, root)
      .select(col("doc_id"), col("n_chars"), col("rev"))
      .orderBy(col("doc_id"))
  }

  private def snapshotSchemaEvoCycleSql: String = """
    SELECT doc_id, n_chars,
           CASE WHEN doc_id % 10 = 0 THEN CAST(2 AS BIGINT) ELSE NULL END AS rev
    FROM documents ORDER BY doc_id"""

  /** DESCRIBE HISTORY, gated end to end: run a deterministic
    * create→append→merge→compact lifecycle and emit the table's
    * [[graft.sources.SnapshotTable.history]] — version, committing op,
    * file count, row count. Row counts come from the manifests' per-file
    * footer counts (recorded at write time, zero Spark jobs to read
    * back); the blind oracle recomputes them from the base table. File
    * counts are pinned layout-independent: every write is a single
    * partition (repartition(1) → exactly one file for any non-empty
    * slice on every corpus), the merge keys sit beyond the live key
    * range so pruning carries every existing file untouched (+1 update
    * file), and the compaction targets 2 files from inputs that always
    * hold a ≥2-row partition. History itself is driver-side metadata
    * only; the result frame is a local relation, so the scratch table
    * deletes before return. */
  private def snapshotHistoryCycle(s: SparkSession, d: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft-snaph").toString
    val docs = Tables.documents(s, d).select(col("doc_id"), col("n_chars"))
    graft.sources.SnapshotTable.create(s, root,
      docs.filter(col("doc_id") % 2 === 0).repartition(1), statsKey = Some("doc_id"))
    graft.sources.SnapshotTable.append(s, root,
      docs.filter(col("doc_id") % 2 === 1).repartition(1), statsKey = Some("doc_id"))
    graft.sources.SnapshotTable.merge(s, root,
      docs.filter(col("doc_id") % 100 === 0)
        .select((col("doc_id") + 10000000L).as("doc_id"), col("n_chars"))
        .repartition(1),
      key = "doc_id")
    graft.sources.SnapshotTable.compact(s, root, targetFiles = 2,
      statsKey = Some("doc_id"))
    val h = graft.sources.SnapshotTable.history(s, root)
    graft.Scratch.deleteRecursively(root)
    import s.implicits._
    h.map(e => (e.version.toLong, e.op, e.nFiles.toLong, e.nRows))
      .toDF("version", "op", "n_files", "n_rows")
      .orderBy(col("version"))
  }

  private def snapshotHistoryCycleSql: String = """
    WITH c AS (
      SELECT CAST(COUNT(*) FILTER (WHERE doc_id % 2 = 0) AS BIGINT) AS ev,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(COUNT(*) FILTER (WHERE doc_id % 100 = 0) AS BIGINT) AS mg
      FROM documents)
    SELECT * FROM (
      SELECT CAST(1 AS BIGINT) AS version, 'create' AS op,
             CAST(1 AS BIGINT) AS n_files, ev AS n_rows FROM c
      UNION ALL SELECT 2, 'append', 2, n FROM c
      UNION ALL SELECT 3, 'merge', 3, n + mg FROM c
      UNION ALL SELECT 4, 'compact', 2, n + mg FROM c)
    ORDER BY version"""

  /** Catalyst-integrated file skipping, gated end to end: the table is
    * created range-clustered, read back through
    * [[graft.sources.SnapshotTable.readIndexed]] — a manifest-backed
    * FileIndex whose listFiles applies the scan's own pushed filters
    * to the per-file key stats — and filtered with an ordinary Column
    * predicate. The oracle is the predicate's relational definition:
    * any over-pruning (a file wrongly skipped) loses rows and breaks
    * the hash. File-COUNT assertions (that pruning really happened)
    * live in SnapshotTableSpec, where the scan metric is observable. */
  private def snapshotIndexedReadCycle(s: SparkSession, d: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft-snapi").toString
    val docs = Tables.documents(s, d).select(col("doc_id"), col("n_chars"))
    graft.sources.SnapshotTable.create(s, root,
      docs.repartitionByRange(4, col("doc_id")), statsKey = Some("doc_id"))
    val out = graft.sources.SnapshotTable.readIndexed(s, root, "doc_id")
      .filter(col("doc_id") < 10)
      .select(col("doc_id"), col("n_chars"))
      .orderBy(col("doc_id"))
    graft.Scratch.localizeAndDelete(s, out, Seq(root))
  }

  private def snapshotIndexedReadCycleSql: String = """
    SELECT doc_id, n_chars FROM documents WHERE doc_id < 10 ORDER BY doc_id"""

  /** Point-probe read ([[graft.sources.SnapshotTable.readKeys]]),
    * gated end to end: the table is created range-clustered so the
    * probe's keys land in DIFFERENT files with untouched files
    * between them — the shape where the r7 envelope read degenerated
    * to a full scan and the point probe must not. The oracle is the
    * IN-list's relational definition: a file wrongly skipped loses its
    * key's row and breaks the hash. File-count proofs live in
    * SnapshotTableSpec (readKeys reads 2 of 4 files); row-level
    * filtering stays with the caller by the pruning contract, hence
    * the isin filter on top of the probe. */
  private def snapshotPointReadCycle(s: SparkSession, d: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft-snapk").toString
    val docs = Tables.documents(s, d).select(col("doc_id"), col("n_chars"))
    graft.sources.SnapshotTable.create(s, root,
      docs.repartitionByRange(4, col("doc_id")), statsKey = Some("doc_id"))
    val keys = Array(1L, 250L, 499L)
    val out = graft.sources.SnapshotTable.readKeys(s, root, "doc_id", keys)
      .filter(col("doc_id").isin(keys.map(Long.box): _*))
      .select(col("doc_id"), col("n_chars"))
      .orderBy(col("doc_id"))
    graft.Scratch.localizeAndDelete(s, out, Seq(root))
  }

  private def snapshotPointReadCycleSql: String = """
    SELECT doc_id, n_chars FROM documents WHERE doc_id IN (1, 250, 499)
    ORDER BY doc_id"""

  /** TWO-KEY pruned read (format-4 secondary stats), gated end to end
    * over the engine's natural two-part identity (l_orderkey,
    * l_linenumber) — the same shape as the reference's
    * (filename, chunk_idx) chunk identity. The table is laid out
    * hierarchically (range by primary, then secondary), read through
    * the manifest-backed index, and filtered on a CONJUNCTION over
    * both keys; the oracle is the conjunction's relational
    * definition, so over-pruning on EITHER key's recorded ranges
    * loses rows and breaks the hash. */
  private def snapshot2dReadCycle(s: SparkSession, d: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft-snap2").toString
    val li = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
        col("l_extendedprice"))
    graft.sources.SnapshotTable.create(s, root,
      li.repartitionByRange(8, col("l_orderkey"), col("l_linenumber")),
      statsKey = Some("l_orderkey"), statsKey2 = Some("l_linenumber"))
    val out = graft.sources.SnapshotTable.readIndexed(s, root, "l_orderkey")
      .filter(col("l_orderkey") <= 100L && col("l_linenumber") >= 4L)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))
    graft.Scratch.localizeAndDelete(s, out, Seq(root))
  }

  private def snapshot2dReadCycleSql: String = """
    SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber, l_extendedprice
    FROM lineitem WHERE l_orderkey <= 100 AND l_linenumber >= 4
    ORDER BY l_orderkey, l_linenumber"""

  /** STRING-secondary two-key read (format-5 BINARY min2/max2), gated
    * end to end — the flipped reference identity shape: integral
    * primary, string secondary. The secondary's per-file stats are the
    * parquet footers' binary min/max in unsigned byte order (the order
    * Spark compares strings), so a pushed string conjunct prunes files
    * the integral key alone cannot; the oracle is the conjunction's
    * relational definition, so over-pruning on the binary ranges loses
    * rows and breaks the hash. Layout survives maintenance: the read
    * happens AFTER a clustered compaction re-measured the stats. */
  private def snapshot2dStringReadCycle(s: SparkSession, d: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft-snap2s").toString
    // a deterministic quarter: the 2D string-stats prune is a property
    // of the clustered layout, not the density — create + compact
    // rewrite 4× less for the same conjunctive-prune proof
    val li = Tables.lineitem(s, d)
      .filter(col("l_orderkey") % 4 === 0)
      .select(col("l_orderkey"),
        concat(lit("ln-"), col("l_linenumber").cast("string")).as("line_tag"),
        col("l_extendedprice"))
    graft.sources.SnapshotTable.create(s, root,
      li.repartitionByRange(8, col("l_orderkey"), col("line_tag")),
      statsKey = Some("l_orderkey"), statsKey2 = Some("line_tag"))
    graft.sources.SnapshotTable.compact(s, root, targetFiles = 8, cluster = true)
    val out = graft.sources.SnapshotTable.readIndexed(s, root)
      .filter(col("l_orderkey") <= 100L && col("line_tag") >= "ln-4")
      .select(col("l_orderkey"), col("line_tag"), col("l_extendedprice"))
      .orderBy(col("l_orderkey"), col("line_tag"))
    graft.Scratch.localizeAndDelete(s, out, Seq(root))
  }

  private def snapshot2dStringReadCycleSql: String = """
    SELECT l_orderkey, 'ln-' || CAST(l_linenumber AS VARCHAR) AS line_tag,
           l_extendedprice
    FROM lineitem WHERE l_orderkey <= 100 AND l_orderkey % 4 = 0
      AND 'ln-' || CAST(l_linenumber AS VARCHAR) >= 'ln-4'
    ORDER BY l_orderkey, line_tag"""

  /** INCREMENTAL change read (CDC) through the ACID table, gated end
    * to end: a create → append → merge → compact → retention lifecycle,
    * then ONE [[graft.sources.SnapshotTable.readChanges]] over the
    * whole window. The oracle is the change stream's relational
    * definition per commit — appended rows as inserts, the merge's
    * delete+insert pairs (old content on the delete), the retention
    * rewrite's deletes — and the compact contributes NOTHING (a layout
    * change is not a data change); a wrong file-set diff or a
    * mis-schema'd old-version read breaks the hash. Per-row output
    * grows with the corpus, so the frame stays DISTRIBUTED. */
  private def snapshotChangesCycle(s0: SparkSession, d: String): DataFrame = {
    // corpus-bounded (≤|documents| rows) across 5 commits: width-4
    // throwaway session, same rationale as the restore cycle
    val s = probeSession(s0,
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.adaptive.enabled" -> "false")
    val root = java.nio.file.Files.createTempDirectory("graft-snapc").toString
    val docs = Tables.documents(s, d).select(col("doc_id"), col("n_chars"))
    graft.sources.SnapshotTable.create(s, root,                        // v1
      docs.filter(col("doc_id") < 300L).repartitionByRange(2, col("doc_id")),
      statsKey = Some("doc_id"))
    graft.sources.SnapshotTable.append(s, root,                        // v2
      docs.filter(col("doc_id") >= 300L))
    graft.sources.SnapshotTable.merge(s, root,                         // v3
      docs.filter(col("doc_id") % 10 === 0)
        .withColumn("n_chars", col("n_chars") + 1000L),
      key = "doc_id")
    graft.sources.SnapshotTable.compact(s, root, targetFiles = 4,      // v4: silent
      cluster = true)
    graft.sources.SnapshotTable.retainWhere(s, root,                   // v5
      col("doc_id") % 7 =!= 0)
    graft.Scratch.registerForCleanup(root)
    graft.sources.SnapshotTable.readChanges(s, root, fromVersion = 1)
      .orderBy(col("_commit_version"), col("_change_type"), col("doc_id"))
  }

  private def snapshotChangesCycleSql: String = """
    WITH base AS (SELECT doc_id, n_chars FROM documents)
    SELECT * FROM (
      SELECT 2 AS _commit_version, 'insert' AS _change_type, doc_id, n_chars
      FROM base WHERE doc_id >= 300
      UNION ALL
      SELECT 3, 'insert', doc_id, n_chars + 1000 FROM base WHERE doc_id % 10 = 0
      UNION ALL
      SELECT 3, 'delete', doc_id, n_chars FROM base WHERE doc_id % 10 = 0
      UNION ALL
      SELECT 5, 'delete', doc_id,
             CASE WHEN doc_id % 10 = 0 THEN n_chars + 1000 ELSE n_chars END
      FROM base WHERE doc_id % 7 = 0)
    ORDER BY _commit_version, _change_type, doc_id"""

  /** RANGE-scoped compaction ([[graft.sources.SnapshotTable.compactRange]]),
    * gated end to end: a clustered table takes dv churn in its LOW key
    * region, then one `compactRange` over that region. The oracle is
    * the table's full relational content (delete applied) — a
    * mis-selected or mis-read file loses rows and breaks the hash —
    * and the booleans pin the surgical contract: files outside the
    * range carry BY NAME, the range's files are all replaced, the
    * materialization cleared every deletion vector (the churn was in
    * range), a cold-range pruned read touches only carried files, and
    * CDC is silent over the compact (row-preserving). */
  private def snapshotCompactRangeCycle(s: SparkSession, d: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft-snapcr").toString
    // a deterministic quarter of the rows: the surgical-compaction
    // contract (carry by name / replace in range / dv cleared / cold
    // prune / silent CDC) is about the FILE layout, which the 8-way
    // range partition reproduces identically at any density — while
    // the create, the rewrite, and the oracle hash move 4× less
    val li = Tables.lineitem(s, d)
      .filter(col("l_orderkey") % 4 === 0)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
    // the hot third of the keyspace — spans ~3 of the 8 range files at
    // any SF (a fixed cutoff would collapse to ≤1 file and a no-op).
    // The cutoff aggregate reads only the SOURCE frame, so it overlaps
    // the create commit (guide §2.6); only the delete needs it.
    val (_, cut) = graft.Concurrency.overlap(
      graft.sources.SnapshotTable.create(s, root,                      // v1
        li.repartitionByRange(8, col("l_orderkey")), statsKey = Some("l_orderkey")),
      li.agg(max(col("l_orderkey"))).head().getLong(0) / 3)
    graft.sources.SnapshotTable.deleteWhere(s, root,                   // v2
      col("l_orderkey") <= cut && col("l_linenumber") === 1)
    // normalize URI forms (inputFiles says file:/x, input_file_name
    // file:///x) to bare paths so the two sources compare
    def norm(f: String) = new java.net.URI(f).getPath
    def dataFiles() = graft.sources.SnapshotTable.read(s, root)
      .inputFiles.filter(_.contains("/data/")).map(norm).toSet
    val before = dataFiles()
    val v = graft.sources.SnapshotTable.compactRange(s, root, 0L, cut) // v3
    val after = dataFiles()
    val carried = before.intersect(after)
    val rewritten = after.diff(before)
    val det = graft.sources.SnapshotTable.describeDetail(s, root)
    val surgicalOk = v.isDefined && carried.nonEmpty && rewritten.nonEmpty
    val dvClearedOk = det.dvFiles == 0 && det.dvRows == 0L
    // two read-only probes of the (now final) v3 state — independent
    // jobs, overlapped (guide §2.6)
    val (coldScan, silentOk) = graft.Concurrency.overlap(
      graft.sources.SnapshotTable.readIndexed(s, root)
        .filter(col("l_orderkey") > 2L * cut)
        .select(input_file_name()).distinct().collect()
        .map(r => norm(r.getString(0))).toSet,
      v.forall(ver =>
        graft.sources.SnapshotTable.readChanges(s, root, ver - 1, v).isEmpty))
    val coldPruneOk = coldScan.nonEmpty && coldScan.subsetOf(carried)
    graft.Scratch.registerForCleanup(root)
    pinInvariants("meta_snapshot_compact_range",
      ("surgical_ok", surgicalOk, () => s"v=$v carried=${carried.size} " +
        s"rewritten=${rewritten.size}"),
      ("dv_cleared_ok", dvClearedOk,
        () => s"dvFiles=${det.dvFiles} dvRows=${det.dvRows}"),
      ("cold_prune_ok", coldPruneOk, () => s"coldScan=${coldScan.size} " +
        s"offCarried=${coldScan.diff(carried).take(3)}"),
      ("silent_ok", silentOk, () => s"cdc over compact v=$v non-empty"))
    graft.sources.SnapshotTable.read(s, root)
      .withColumn("surgical_ok", lit(surgicalOk))
      .withColumn("dv_cleared_ok", lit(dvClearedOk))
      .withColumn("cold_prune_ok", lit(coldPruneOk))
      .withColumn("silent_ok", lit(silentOk))
      .orderBy(col("l_orderkey"), col("l_linenumber"))
  }

  private def snapshotCompactRangeCycleSql: String = """
    WITH li AS (SELECT l_orderkey, l_linenumber, l_quantity
                FROM lineitem WHERE l_orderkey % 4 = 0),
    cut AS (SELECT MAX(l_orderkey) // 3 AS c FROM li)
    SELECT l_orderkey, l_linenumber, l_quantity,
           TRUE AS surgical_ok, TRUE AS dv_cleared_ok,
           TRUE AS cold_prune_ok, TRUE AS silent_ok
    FROM li, cut
    WHERE NOT (l_orderkey <= c AND l_linenumber = 1)
    ORDER BY l_orderkey, l_linenumber"""

  /** INCREMENTAL MATERIALIZED VIEW over CDC
    * ([[graft.meta.IncrementalView]]), gated end to end: a grouped
    * COUNT/SUM view created at v1 and advanced by refreshes across an
    * append → merge → delete → group-drop lifecycle — the base table
    * is never re-read after creation (each refresh aggregates only the
    * CDC window and merges by group key). The oracle is the view's
    * relational definition over the FINAL table state, so any delta
    * mis-accounting (sign error, missed dv delta, double-applied
    * window) lands in the exact per-group values and breaks the hash.
    * The booleans pin what the values can't: each refresh consumed
    * exactly its window (incl. a multi-version one) and a replay
    * consumed nothing; the cursor rode the commits to the final
    * version; maintained state equals a full recompute (exceptAll both
    * ways, RECOMPUTED not asserted); the emptied group's tombstone was
    * physically purged. */
  private val incrViewFixtureMemo =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private[graft] def clearIncrViewFixtureForTests(): Unit =
    incrViewFixtureMemo.clear()

  private def snapshotIncrViewCycle(s: SparkSession, d: String): DataFrame = {
    // lifecycle shuffles here move |groups|-sized frames (~100 rows)
    // and this gate is ~10 ops deep — the wiring passes a narrowProbe
    // session (width 4, AQE off; wide-replayable via -Dgraft.wideProbe)
    // fixture sized to measure the ENGINE, not the staging (r11/r12
    // verdicts): a 23rd of the orders (gcd(23, 100) = 1 keeps every
    // grp residue populated; grp 42 holds keys ≡ 1242 (mod 2300) —
    // this testdata's orderkeys are DENSE from 0, so key 1242 exists
    // at every driver SF (genuine dbgen output is sparser; the guard
    // before the group-drop delete below names the failure if a
    // future corpus ever empties the group), a HANDFUL of files per
    // commit, and TWO refreshes — one over the append, one over the
    // mixed merge+delete+delete window (content diff + dv-only fast
    // path in one window) — plus the no-op replay. The full refresh
    // ladder and every mechanic live in IncrementalViewSpec; the gate
    // measures the lifecycle end to end and pins the invariants.
    //
    // Master-fixture memo (fixture-memo policy, PLANS.md r19): the
    // PRE-REFRESH state — table commits v1..v3 plus the view created
    // at v1 — is a pure function of the sf dir and the view has not
    // consumed anything yet; the refresh ladder, the group-drop
    // delete, the replay, and the purge (the features under test) all
    // MUTATE state, so they run per invocation on a driver-side file
    // copy of the master. Oracle re-derives from raw orders;
    // WidthInvarianceSpec clears this memo on both replay arms.
    val base = Tables.orders(s, d)
      .filter(col("o_orderkey") % 23 === 0)
      .select(
        col("o_orderkey"),
        (col("o_orderkey") % 100).as("grp"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"))
    val master = incrViewFixtureMemo.computeIfAbsent(d, { _ =>
      graft.FixtureCensus.counted(s, "meta_snapshot_incr_view") {
        val m = java.nio.file.Files
          .createTempDirectory("graft-snapiv-master").toString
        sys.addShutdownHook { graft.Scratch.deleteRecursively(m) }
        graft.sources.SnapshotTable.create(s, s"$m/tbl",               // v1
          base.filter(col("o_orderkey") % 4 =!= 0)
            .repartitionByRange(2, col("o_orderkey")),
          statsKey = Some("o_orderkey"))
        graft.meta.IncrementalView.create(s, s"$m/tbl", s"$m/view", "grp", "cents")
        graft.sources.SnapshotTable.append(s, s"$m/tbl",               // v2
          base.filter(col("o_orderkey") % 4 === 0).coalesce(1))
        // the merge is RANGE-BOUNDED (a fixed key prefix): the
        // update's whereabouts prune to the files that hold it, so the
        // rewrite and its CDC diff measure the delta machinery, not a
        // table-wide rewrite
        graft.sources.SnapshotTable.merge(s, s"$m/tbl",                // v3
          base.filter(col("o_orderkey") % 10 === 0 && col("o_orderkey") < 4000L)
            .withColumn("cents", col("cents") + 777L)
            .coalesce(1),
          key = "o_orderkey")
        m
      }
    })
    val tmp = java.nio.file.Files.createTempDirectory("graft-snapiv").toString
    copyTree(master, tmp)
    val tbl = s"$tmp/tbl"
    val vw = s"$tmp/view"
    // refresh 1's window mixes file-level inserts (the append) with a
    // content diff (the merge); refresh 2's window is PURE dv deletes —
    // the position-delta fast path in readChanges
    val c1 = graft.meta.IncrementalView.refresh(s, tbl, vw) // (1, 3]
    // the delete is a GROUP DROP — inherently table-wide dv, the
    // hardest delete shape (the bounded-predicate shape lives in
    // IncrementalViewSpec / SnapshotDvSpec); deleteWhere returns None
    // on a no-op, so an empty grp 42 at some future tiny SF fails here
    // with a named cause — no extra probe action
    require(graft.sources.SnapshotTable
      .deleteWhere(s, tbl, col("grp") === 42L).nonEmpty,              // v4
      "incr-view fixture: grp 42 empty at this SF (needs an o_orderkey " +
        "≡ 1242 mod 2300 in the corpus — dense testdata keys have 1242)")
    val c2 = graft.meta.IncrementalView.refresh(s, tbl, vw) // (3, 4]: dv fast path
    val c3 = graft.meta.IncrementalView.refresh(s, tbl, vw) // replay: no-op
    // invariant check as two bounded collects + a driver-side set
    // compare (the view is |groups| rows by construction) — the
    // exceptAll form paid two extra full plans and shuffles to answer
    // the same 100-row question
    def rows3(df: DataFrame): Seq[(Long, Long, Long)] =
      df.select(col("grp"), col("view_cnt"), col("view_sum")).collect()
        .toSeq.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val recompute = graft.sources.SnapshotTable.read(s, tbl)
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("view_cnt"), sum(col("cents")).as("view_sum"))
    // the tombstone purge mutates only the VIEW; the recompute reads
    // only the TABLE's (final) state — independent jobs, overlapped
    // (guide §2.6). The raw-view read must stay AFTER the purge (it is
    // the purge proof), so only the recompute rides along.
    val (_, recomputeRows) = graft.Concurrency.overlap(
      graft.meta.IncrementalView.purgeTombstones(s, vw),
      rows3(recompute))
    val consumedOk = c1 == 2 && c2 == 1 && c3 == 0
    val cursorOk =
      graft.sources.SnapshotTable.lastTxnBatchId(s, vw).contains(4L)
    // ONE raw-table collect answers both questions: live rows are
    // view_cnt > 0 (IncrementalView.read's own filter) and the purge
    // proof is "no grp-42 row at all" — the previous separate
    // filter+isEmpty probe was one more action for the same fact
    val rawView = rows3(graft.sources.SnapshotTable.read(s, vw))
    val viewRows = rawView.filter(_._2 > 0L)
    val ivmOk = viewRows.toSet == recomputeRows.toSet
    val purgedOk = !rawView.exists(_._1 == 42L)
    // the result is the collected view (≤ |groups| rows) + the pinned
    // booleans — a driver-local frame, so the scratch dir needs no
    // localize pass, just deferred cleanup like every sibling gate
    graft.Scratch.registerForCleanup(tmp)
    pinInvariants("meta_snapshot_incr_view",
      ("consumed_ok", consumedOk, () => s"c1=$c1 c2=$c2 c3=$c3 expected 2/1/0"),
      ("cursor_ok", cursorOk,
        () => s"cursor=${graft.sources.SnapshotTable.lastTxnBatchId(s, vw)}"),
      ("ivm_ok", ivmOk, () => s"view=${viewRows.size} rows vs recompute " +
        s"diff=${viewRows.toSet.diff(recomputeRows.toSet).take(3)}"),
      ("purged_ok", purgedOk, () => "tombstoned group 42 still readable"))
    import s.implicits._
    viewRows.sorted
      .map { case (g, c, sm) =>
        (g, c, sm, consumedOk, cursorOk, ivmOk, purgedOk) }
      .toDF("grp", "view_cnt", "view_sum", "consumed_ok", "cursor_ok",
        "ivm_ok", "purged_ok")
  }

  /** Misra–Gries heavy hitters ([[graft.relational.HeavyHitters]])
    * over a deterministically SKEWED key (a third of the orders fold
    * into 5 hot values; the rest spread over ~900 cold ones). The
    * sketch content is merge-order private, so the gate emits the
    * DETERMINISTIC heavy set — values whose exact count exceeds n/k,
    * recomputed — which DuckDB reproduces exactly, plus the sketch's
    * contract RECOMPUTED as booleans: every candidate's estimate within
    * [true − n/k, true], every >n/k value covered by the candidate
    * list, candidate count ≤ k − 1, and the sketch's n equal to the
    * true stream length. The exact re-count is the VERIFICATION, not
    * the operator: the sketch's one aggregation moved only k-bounded
    * state per partition. */
  private def heavyHittersQuery(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val k = 20
    val skew = when(col("o_orderkey") % 3 === 0, col("o_orderkey") % 5)
      .otherwise(col("o_orderkey") % 1000 + 100)
    val v = Tables.orders(s, d).select(skew.cast("long").as("val"))
    val sk = graft.relational.HeavyHitters.sketch(s, v.as[Long], k)
    val cand = sk.items.toDF().withColumnRenamed("value", "val")
    val exact = v.groupBy(col("val")).agg(count(lit(1)).as("exact_cnt"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      .transform(graft.CacheScope.register)
    val n = exact.agg(sum(col("exact_cnt"))).head().getLong(0)
    val boundOk = exact.join(broadcast(cand), Seq("val"))
      .filter(!(col("est") <= col("exact_cnt") &&
        col("est") * k >= col("exact_cnt") * k - lit(n))).isEmpty
    val heavy = exact.filter(col("exact_cnt") * k > lit(n))
    val coverOk = heavy
      .join(broadcast(cand), Seq("val"), "left_anti").isEmpty
    val candOk = sk.items.size <= k - 1 && sk.n == n
    pinInvariants("agg_heavy_hitters",
      ("bound_ok", boundOk, () => "some candidate estimate outside [true - n/k, true]"),
      ("cover_ok", coverOk, () => "a >n/k value missing from the candidate list"),
      ("cand_ok", candOk, () => s"candidates=${sk.items.size} (cap ${k - 1}) " +
        s"sketchN=${sk.n} trueN=$n"))
    heavy
      .withColumn("bound_ok", lit(boundOk))
      .withColumn("cover_ok", lit(coverOk))
      .withColumn("cand_ok", lit(candOk))
      .orderBy(col("val"))
  }

  private def heavyHittersSql: String = """
    WITH v AS (
      SELECT CASE WHEN o_orderkey % 3 = 0 THEN o_orderkey % 5
                  ELSE o_orderkey % 1000 + 100 END AS val
      FROM orders),
    c AS (SELECT val, COUNT(*) AS exact_cnt FROM v GROUP BY val),
    t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM v)
    SELECT val, exact_cnt, TRUE AS bound_ok, TRUE AS cover_ok,
           TRUE AS cand_ok
    FROM c, t WHERE exact_cnt * 20 > n ORDER BY val"""

  /** Integer-arithmetic PageRank ([[graft.geom.PageRank]]) over the
    * deterministic modular link graph on doc_ids — 5 message-passing
    * rounds whose floor arithmetic makes the ranks BIT-IDENTICAL
    * across engines, partitionings, and cluster sizes, so the oracle
    * replays the exact iteration as 5 chained CTEs and compares raw
    * longs (no tolerance, no invariant reduction — the strongest gate
    * an iterative float algorithm can never have). Edges and nodes
    * persist once; each round is one join + one groupBy on node ids. */
  /** Master-fixture memo for the ANN auto-probe gate: the LSH-declared
    * parquet index (bucket column + schema-metadata declaration) plus
    * the collected query vector — both pure functions of the sf dir.
    * Ingest once, search many: the deployment story of every ANN
    * index, and the fixture-memo policy's canonical case. */
  private val annProbeFixtureMemo =
    new java.util.concurrent.ConcurrentHashMap[String, (String, Array[Double])]()
  private[graft] def clearAnnProbeFixtureForTests(): Unit =
    annProbeFixtureMemo.clear()

  /** The shared LSH-declared index (+ query vector 0) for both ANN
    * probe gates — built once per JVM; the build is recorded against
    * the single-query gate's name (one census line per fixture). */
  private def annProbeFixture(s: SparkSession, d: String, bits: Int,
      dim: Int, seed: Long): (String, Array[Double]) =
    annProbeFixtureMemo.computeIfAbsent(s"$d|$bits|$dim|$seed", { _ =>
      graft.FixtureCensus.counted(s, "vec_ann_probe_topk") {
        val m = java.nio.file.Files
          .createTempDirectory("graft-annprobe-master").toString
        sys.addShutdownHook { graft.Scratch.deleteRecursively(m) }
        val emb = Tables.embeddings(s, d)
          .select(col("vec_id"), graft.vector.VectorOps.asDouble(col("embedding")).as("v"))
        graft.plans.AnnProbe.withLshBucket(emb, "v", bits, dim, seed)
          .write.mode("overwrite").parquet(m)
        val q = Tables.embeddings(s, d).filter(col("vec_id") === 0L)
          .select(graft.vector.VectorOps.asDouble(col("embedding")))
          .head().getSeq[Double](0).toArray
        (m, q)
      }
    })

  /** The SURVEY §7.4 top-k-score rewrite, gated end to end: an opt-in
    * optimizer rule ([[graft.plans.AnnProbeRewrite]]) turns
    * `ORDER BY cosine(v, literal q) DESC LIMIT k` over the declared
    * index into a probe-bucket scan (query bucket + Hamming-1
    * neighbors), with the injected IN filter reaching the parquet
    * scan's PushedFilters. The ranking hashes against a blind DuckDB
    * oracle that recomputes the identical probe set from the same
    * seeded hyperplanes; `rewritten`/`pushed` pin the plan facts. */
  private def annProbeTopKQuery(s0: SparkSession, d: String): DataFrame = {
    val bits = 8; val dim = 64; val seed = 42L; val k = 10
    // AQE off so the executed plan (and its scan's PushedFilters) is
    // final at planning time — plan-only invariants, no extra actions
    val s = probeSession(s0,
      graft.plans.AnnProbe.AutoProbeKey -> "true",
      "spark.sql.adaptive.enabled" -> "false")
    graft.plans.AnnProbe.enable(s)
    val (root, qv) = annProbeFixture(s, d, bits, dim, seed)
    val qc = array(qv.map(lit): _*)
    // the fixture root is memo-stable per JVM, so the footer-schema
    // memo hits after the first invocation (inference = one job/read)
    val df = s.read.schema(Tables.cachedSchema(s, root)).parquet(root)
      .select(col("vec_id"),
        // query norm as a driver literal (same summation order —
        // bit-identical); the probe REWRITE still keys on the
        // DotProduct(v, literal) kernel, which this form keeps
        round(graft.vector.VectorOps.cosineQn(col("v"), qc,
          lit(graft.vector.VectorOps.l2NormOf(qv))), 6).as("score"))
      .orderBy(col("score").desc, col("vec_id"))
      .limit(k)
    val rewritten = df.queryExecution.optimizedPlan.exists {
      case org.apache.spark.sql.catalyst.plans.logical.Filter(
        org.apache.spark.sql.catalyst.expressions.In(
          a: org.apache.spark.sql.catalyst.expressions.AttributeReference, _), _) =>
        a.name == "bucket"
      case _ => false
    }
    val pushed = df.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.metadata.getOrElse("PushedFilters", "")
    }.exists(_.contains("In(bucket"))
    pinInvariants("vec_ann_probe_topk",
      ("rewritten", rewritten,
        () => s"no probe filter in:\n${df.queryExecution.optimizedPlan.toString.take(400)}"),
      ("pushed", pushed,
        () => s"scan PushedFilters lack In(bucket): ${df.queryExecution.executedPlan
          .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec =>
            f.metadata.getOrElse("PushedFilters", "?") }.mkString(" | ")}"))
    df.withColumn("rewritten", lit(rewritten))
      .withColumn("pushed", lit(pushed))
      .orderBy(col("score").desc, col("vec_id"))
  }

  /** Batch ids for the multi-query dense sweep — the dense twin of
    * [[queryBatch]]: screen the index against MANY query vectors in
    * one scan (embedding-space decontamination / near-dup screening). */
  private[graft] val queryVecBatch: Seq[Long] = Seq(0L, 1L, 2L, 3L)

  /** Multi-query ANN over the declared index: ONE index scan serves
    * the whole batch. The probe map — (query_id, bucket, qv) rows,
    * |queries|×(bits+1) of them, each carrying its query vector — is a
    * broadcast literal frame; the bucket equi-join fans out candidate
    * (query, vec) pairs (≈ |queries|·|corpus|/2^bits — every vector
    * has exactly ONE bucket, so no candidate dedup is needed); scoring
    * is the codegen'd column-column cosine; and the per-query top-k is
    * the custom TopKPerKey operator, exchange bounded by queries×k.
    * The single-query REWRITE serves ad-hoc SQL; this operator is the
    * planned batch form a screening pipeline runs. */
  private def annProbeMultiTopKQuery(s0: SparkSession, d: String): DataFrame = {
    val bits = 8; val dim = 64; val seed = 42L; val k = 5
    val s = probeSession(s0, "spark.sql.adaptive.enabled" -> "false")
    import s.implicits._
    val (root, _) = annProbeFixture(s, d, bits, dim, seed)
    val qvs = Tables.embeddings(s, d)
      .filter(col("vec_id").isin(queryVecBatch.map(java.lang.Long.valueOf): _*))
      .select(col("vec_id"), graft.vector.VectorOps.asDouble(col("embedding")).as("v"))
      .collect().toSeq
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val probeRows = qvs.flatMap { case (qid, qv) =>
      graft.plans.AnnProbe.probeBuckets(qv, bits, dim, seed, 1)
        .map(b => (qid, b, qv.toSeq, graft.vector.VectorOps.l2NormOf(qv)))
    }
    val probeDf = probeRows.toDF("query_id", "bucket", "qv", "qn")
    val scored = s.read.schema(Tables.cachedSchema(s, root)).parquet(root)
      .join(broadcast(probeDf), Seq("bucket"))
      .select(col("query_id"), col("vec_id"),
        round(graft.vector.VectorOps.cosineQn(col("v"), col("qv"), col("qn")), 6).as("score"))
    graft.plans.TopKPerGroup
      .topK(scored, Seq(col("query_id")), Seq(col("score").desc, col("vec_id")), k)
      .orderBy(col("query_id"), col("score").desc, col("vec_id"))
  }

  private def annProbeMultiTopKSql: String = {
    val bits = 8; val dim = 64; val seed = 42L; val k = 5
    val legs = queryVecBatch.map { qid =>
      val probes = probesSqlFor(bits, s"qb_$qid")
      (s"""q_$qid AS (SELECT v AS qv FROM emb WHERE vec_id = $qid),
         |qb_$qid AS (SELECT ${graft.vector.VectorOps.rhpLshBucketSql("qv", bits, dim, seed)} AS b FROM q_$qid),
         |probes_$qid(p) AS ($probes)""".stripMargin,
       s"""SELECT * FROM (
          |  SELECT CAST($qid AS BIGINT) AS query_id, e.vec_id,
          |         ROUND(list_dot_product(e.v, q.qv) /
          |               (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.qv, q.qv))), 6) AS score
          |  FROM bucketed e, q_$qid q
          |  WHERE e.bucket IN (SELECT p FROM probes_$qid)
          |  ORDER BY score DESC, vec_id LIMIT $k)""".stripMargin)
    }
    s"""
    WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    bucketed AS (
      SELECT vec_id, v, ${graft.vector.VectorOps.rhpLshBucketSql("v", bits, dim, seed)} AS bucket
      FROM emb),
    ${legs.map(_._1).mkString(",\n")}
    ${legs.map(_._2).mkString("\nUNION ALL\n")}
    ORDER BY query_id, score DESC, vec_id"""
  }

  private val dedupIncrFixtureMemo =
    new java.util.concurrent.ConcurrentHashMap[String, String]

  private[graft] def clearDedupIncrFixtureForTests(): Unit =
    dedupIncrFixtureMemo.clear()

  /** The incremental-dedup band index: [[graft.vector.Dedup.indexBands]]
    * of the EXISTING corpus slice (doc_id % batchMod ≠ 0 — the same
    * modulus [[graft.vector.Dedup.incrementalProbe]] splits the batch
    * on, so index and batch partition the corpus), clustered by the
    * band hash in a snapshot table — the structure a daily-crawl
    * screening pipeline maintains so each new batch verifies against
    * the corpus WITHOUT re-banding it. Pure function of the sf dir
    * (fixture-memo policy: census-counted build, oracle re-derives the
    * index inline from raw documents, width replay rebuilds). */
  private def dedupIncrFixture(s: SparkSession, d: String,
      batchMod: Int = 5): String =
    dedupIncrFixtureMemo.computeIfAbsent(s"$d|$batchMod", { _ =>
      graft.FixtureCensus.counted(s, "dedup_incr_probe") {
        val root = java.nio.file.Files
          .createTempDirectory("graft-dedupincr-master").toString
        sys.addShutdownHook { graft.Scratch.deleteRecursively(root) }
        val old = Tables.documents(s, d).filter(col("doc_id") % batchMod =!= 0)
          .transform(graft.Parallelism.ensure(s))
        val bands = Dedup.indexBands(old.select(col("doc_id"), col("text")))
          .repartitionByRange(8, col("bh"))
          .sortWithinPartitions(col("bh"))
        graft.sources.SnapshotTable.create(s, root, bands, statsKey = Some("bh"))
        root
      }
    })

  private val annSnapshotFixtureMemo =
    new java.util.concurrent.ConcurrentHashMap[String, (String, Array[Double])]

  private[graft] def clearAnnSnapshotFixtureForTests(): Unit =
    annSnapshotFixtureMemo.clear()

  /** The ANN index as a DECLARED LAYOUT of the ACID snapshot table:
    * the LSH-bucketed embeddings land in a snapshot table clustered by
    * bucket (`repartitionByRange` + `statsKey = "bucket"`, so every
    * file's manifest entry records its bucket range), and the index
    * then goes through real maintenance — a merge-on-read DELETE of
    * every 17th vector (deletion-vector sidecar, no file rewrite).
    * A vector store that cannot take deletes is a cache; this fixture
    * is the "index that lives" the reference's collection lifecycle
    * implies. Pure function of the sf dir (policy: build under the
    * census, oracle re-derives from raw tables, width replay rebuilds). */
  private def annSnapshotFixture(s: SparkSession, d: String, bits: Int,
      dim: Int, seed: Long): (String, Array[Double]) =
    annSnapshotFixtureMemo.computeIfAbsent(s"$d|$bits|$dim|$seed", { _ =>
      graft.FixtureCensus.counted(s, "vec_ann_snapshot_topk") {
        val root = java.nio.file.Files
          .createTempDirectory("graft-annsnap-master").toString
        sys.addShutdownHook { graft.Scratch.deleteRecursively(root) }
        val emb = Tables.embeddings(s, d)
          .select(col("vec_id"), graft.vector.VectorOps.asDouble(col("embedding")).as("v"))
        val bucketed = graft.plans.AnnProbe.withLshBucket(emb, "v", bits, dim, seed)
          .repartitionByRange(16, col("bucket"))
          .sortWithinPartitions(col("bucket"))
        graft.sources.SnapshotTable.create(s, root, bucketed,
          statsKey = Some("bucket"))
        graft.sources.SnapshotTable.deleteWhere(s, root,
          pmod(col("vec_id"), lit(17)) === 0)
        val q = Tables.embeddings(s, d).filter(col("vec_id") === 0L)
          .select(graft.vector.VectorOps.asDouble(col("embedding")))
          .head().getSeq[Double](0).toArray
        (root, q)
      }
    })

  /** Probe search over the LIVE snapshot-table index: the probe-key
    * set drives [[graft.sources.SnapshotTable.readKeys]], so file
    * skipping happens at the MANIFEST (driver-side stats ranges — at
    * 100 TB the probe reads the handful of files whose bucket range
    * intersects the 9 probe buckets, not the table), kept files
    * row-filter on the same IN, and the scan's dv reader hides the deleted
    * vectors — search-after-delete correctness rides the table's own
    * read path, not a rebuilt index. The blind oracle recomputes the
    * final state (deletes applied), the buckets, and the probe set
    * from the raw parquet. */
  private def annSnapshotTopKQuery(s: SparkSession, d: String): DataFrame = {
    val bits = 8; val dim = 64; val seed = 42L; val k = 10
    val (root, qv) = annSnapshotFixture(s, d, bits, dim, seed)
    val probes = graft.plans.AnnProbe.probeBuckets(qv, bits, dim, seed, 1)
    val qc = array(qv.map(lit): _*)
    graft.sources.SnapshotTable.readKeys(s, root, "bucket", probes)
      .filter(col("bucket").isin(probes.map(java.lang.Long.valueOf): _*))
      .select(col("vec_id"),
        round(graft.vector.VectorOps.cosineQn(col("v"), qc,
          lit(graft.vector.VectorOps.l2NormOf(qv))), 6).as("score"))
      .orderBy(col("score").desc, col("vec_id"))
      .limit(k)
  }

  /** Radius-1 probe-set SQL (query bucket + every 1-bit flip) — ONE
    * generator for every ANN oracle, mirroring
    * [[graft.plans.AnnProbe.probeBuckets]] at radius 1 so the probe
    * arithmetic cannot drift between gates. */
  private def probesSqlFor(bits: Int, qbCte: String): String =
    (Seq(s"SELECT b FROM $qbCte") ++ (0 until bits)
      .map(i => s"SELECT xor(b, CAST(${1L << i} AS BIGINT)) FROM $qbCte"))
      .mkString(" UNION ")

  private def annSnapshotTopKSql: String = {
    val bits = 8; val dim = 64; val seed = 42L; val k = 10
    val probesSql = probesSqlFor(bits, "qb")
    s"""
    WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    live AS (SELECT * FROM emb WHERE vec_id % 17 <> 0),
    bucketed AS (
      SELECT vec_id, v, ${graft.vector.VectorOps.rhpLshBucketSql("v", bits, dim, seed)} AS bucket
      FROM live),
    q AS (SELECT v AS qv FROM emb WHERE vec_id = 0),
    qb AS (SELECT ${graft.vector.VectorOps.rhpLshBucketSql("qv", bits, dim, seed)} AS b FROM q),
    probes(p) AS ($probesSql)
    SELECT vec_id,
           ROUND(list_dot_product(e.v, q.qv) /
                 (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.qv, q.qv))), 6) AS score
    FROM bucketed e, q
    WHERE e.bucket IN (SELECT p FROM probes)
    ORDER BY score DESC, vec_id LIMIT $k"""
  }

  private def annProbeTopKSql: String = {
    val bits = 8; val dim = 64; val seed = 42L; val k = 10
    val probesSql = probesSqlFor(bits, "qb")
    s"""
    WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    q AS (SELECT v AS qv FROM emb WHERE vec_id = 0),
    qb AS (SELECT ${graft.vector.VectorOps.rhpLshBucketSql("qv", bits, dim, seed)} AS b FROM q),
    probes(p) AS ($probesSql),
    bucketed AS (
      SELECT vec_id, v, ${graft.vector.VectorOps.rhpLshBucketSql("v", bits, dim, seed)} AS bucket
      FROM emb)
    SELECT e.vec_id,
           ROUND(list_dot_product(e.v, q.qv) /
                 (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.qv, q.qv))), 6) AS score,
           TRUE AS rewritten, TRUE AS pushed
    FROM bucketed e, q
    WHERE e.bucket IN (SELECT p FROM probes)
    ORDER BY score DESC, vec_id LIMIT $k"""
  }

  private def pageRankQuery(s0: SparkSession, d: String): DataFrame = {
    import graft.geom.PageRank
    // the rank frame is |docs| rows and every per-round shuffle is
    // tiny; at the session's width AQE turns each checkpoint's
    // multi-stage materialization into a fan of stage-jobs (59 jobs
    // measured for 12 rounds), each paying the ~0.1 s dispatch floor.
    // Integer floor arithmetic is partition-count-independent, so a
    // narrow no-AQE throwaway session changes NOTHING in the ranks —
    // only the dispatch bill (same discipline as the other lifecycle
    // gates; the 100 TB story is unchanged: callers there keep AQE).
    // Measured and REJECTED (r19): pinning broadcasts off to fold the
    // per-round BroadcastExchange jobs (~16 of 22) into the checkpoint
    // jobs — job count fell to 7 but the median ROSE 1.33→2.43 s,
    // because the SMJ rewrite serializes 3–4 shuffle STAGES per round
    // where the broadcast futures overlap the main job. Fewer jobs is
    // not the objective function; wall clock is.
    val s = probeSession(s0,
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.adaptive.enabled" -> "false")
    val ids = Tables.documents(s, d).select(col("doc_id"))
    val nodes = ids.select(col("doc_id").as("node"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      .transform(graft.CacheScope.register)
    val edges = PageRank.modularEdges(ids, "doc_id")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      .transform(graft.CacheScope.register)
    // 12 rounds — comfortably past the old 5 now that the rank frame
    // localCheckpoints every few rounds (plan depth bounded);
    // integer arithmetic keeps DuckDB bit-identical at any count.
    // Measured and REJECTED (r20): checkpointEvery 12 (fold the 3 loop
    // checkpoints into 1) benched 3.20/3.29 s vs 2.37/2.38 s at the
    // default 4 — per-round planning of the deepening join tree costs
    // more than the saved checkpoint jobs; checkpointEvery 2 benched
    // 2.53/2.61 s — more eager cuts don't pay either. 4 is the local
    // optimum; the per-round broadcast-build jobs are the remaining
    // floor and the r19 SMJ experiment already showed removing them
    // serializes the stages for a net loss.
    PageRank.run(nodes, edges, iters = 12)
      .select(col("node").as("doc_id"), col("r").as("rank"))
      .orderBy(col("doc_id"))
  }

  private def pageRankSql: String = {
    val iter = (k: Int) => s"""
    r$k AS (
      SELECT i.doc_id AS node,
             CAST(150000 + COALESCE(s.mass, 0) * 17 // 20 AS BIGINT) AS r
      FROM ids i LEFT JOIN (
        SELECT e.dst, SUM(p.r // d.outdeg) AS mass
        FROM edges e JOIN deg d ON e.src = d.src
        JOIN r${k - 1} p ON p.node = e.src
        GROUP BY e.dst) s ON s.dst = i.doc_id)"""
    s"""
    WITH ids AS (SELECT doc_id FROM documents),
    m AS (SELECT MAX(doc_id) + 1 AS m FROM ids),
    e0 AS (
      SELECT doc_id AS src, (doc_id * 7 + 1) % m AS dst FROM ids, m
      UNION
      SELECT doc_id, (doc_id * 13 + 3) % m FROM ids, m
      UNION
      SELECT doc_id, (doc_id * 29 + 7) % m FROM ids, m),
    edges AS (
      SELECT src, dst FROM e0
      WHERE src <> dst AND dst IN (SELECT doc_id FROM ids)),
    deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
    r0 AS (SELECT doc_id AS node, CAST(1000000 AS BIGINT) AS r FROM ids),
    ${(1 to 12).map(iter).mkString(",")}
    SELECT node AS doc_id, r AS rank FROM r12 ORDER BY doc_id"""
  }

  /** TRUE temporal as-of join ([[graft.relational.AsofJoin]]): every
    * click matched to the user's LATEST view at-or-before it, within a
    * 3-hour tolerance — merge_asof semantics, complementing the
    * rank-matching `join_asof_rank` and the all-pairs
    * `events_interval_join`. The oracle replays the identical one-pass
    * construction (tagged union, last-ignore-nulls carry over the same
    * (ts, side, id) order), so a tie-break or inclusivity drift breaks
    * the hash. One shuffle on user_id; no θ-join blowup. */
  private def asofTimeJoinQuery(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("eid"), col("ts"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("eid"), col("ts").as("vts"))
    graft.relational.AsofJoin
      .asof(clicks, views, Seq("user_id"), "ts", "vts", "eid",
        toleranceUs = Some(10800000000L))
      .filter(col("asof").isNotNull)
      .select(col("user_id"), col("eid").as("click_id"),
        col("asof.eid").as("view_id"),
        (unix_micros(col("ts")) - unix_micros(col("asof.vts"))).as("gap_us"))
      .orderBy(col("user_id"), col("click_id"))
  }

  private def asofTimeJoinSql: String = """
    WITH tagged AS (
      SELECT user_id, ts, event_id, 0 AS side FROM events WHERE event_type = 'view'
      UNION ALL
      SELECT user_id, ts, event_id, 1 FROM events WHERE event_type = 'click'),
    carried AS (
      SELECT user_id, ts, event_id, side,
             LAST_VALUE(CASE WHEN side = 0 THEN event_id END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, side, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS view_id,
             LAST_VALUE(CASE WHEN side = 0 THEN ts END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, side, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS vts
      FROM tagged)
    SELECT user_id, event_id AS click_id, view_id,
           epoch_us(ts) - epoch_us(vts) AS gap_us
    FROM carried
    WHERE side = 1 AND vts IS NOT NULL
      AND epoch_us(ts) - epoch_us(vts) <= 10800000000
    ORDER BY user_id, click_id"""

  private def snapshotIncrViewCycleSql: String = """
    WITH base AS (
      SELECT o_orderkey, o_orderkey % 100 AS grp,
             CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders WHERE o_orderkey % 23 = 0),
    upd AS (
      SELECT o_orderkey, grp,
             CASE WHEN o_orderkey % 10 = 0 AND o_orderkey < 4000
                  THEN cents + 777 ELSE cents END AS cents
      FROM base),
    fin AS (SELECT * FROM upd WHERE grp <> 42)
    SELECT grp, COUNT(*) AS view_cnt, CAST(SUM(cents) AS BIGINT) AS view_sum,
           TRUE AS consumed_ok, TRUE AS cursor_ok, TRUE AS ivm_ok,
           TRUE AS purged_ok
    FROM fin GROUP BY grp ORDER BY grp"""

  /** TABLE→TABLE MIRROR, gated end to end: the streaming SOURCE and
    * the transactional streaming SINK composed into one-line
    * replication — `readStream.format("graft-table")` into
    * `writeStream.format("graft-table")`, run twice over one
    * checkpoint with an append between runs (and a drained third run
    * that must deliver nothing). The sink records each batch id as the
    * manifest's txnBatchId marker and drops replays, so the oracle —
    * the source table's full row set — breaks on EITHER a source-side
    * re-delivery/loss or a sink-side double-append. */
  private def snapshotMirrorCycle(s: SparkSession, d: String): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-snapmir").toString
    val src = s"$tmp/src"
    val dst = s"$tmp/dst"
    val docs = Tables.documents(s, d).select(col("doc_id"), col("n_chars"))
    graft.sources.SnapshotTable.create(s, src,
      docs.filter(col("doc_id") < 250L), statsKey = Some("doc_id"))
    def mirror(): Unit = {
      val q = s.readStream.format("graft-table").option("path", src).load()
        .writeStream.format("graft-table").option("path", dst)
        .option("statsKey", "doc_id")
        .option("checkpointLocation", s"$tmp/cp")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    mirror()
    graft.sources.SnapshotTable.append(s, src, docs.filter(col("doc_id") >= 250L))
    mirror()
    mirror() // drained: no batch, no commit
    graft.Scratch.registerForCleanup(tmp)
    graft.sources.SnapshotTable.read(s, dst).orderBy(col("doc_id"))
  }

  private def snapshotMirrorCycleSql: String = """
    SELECT doc_id, n_chars FROM documents ORDER BY doc_id"""

  /** INCREMENTAL (small-file) compaction, gated end to end: a bulk
    * create plus a stream of tiny appends (the debt shape a streaming
    * ingest accretes), then ONE
    * [[graft.sources.SnapshotTable.compactSmall]] that bin-packs only
    * the debt — the bulk file carries by name. The oracle is the full
    * row set: a row lost (or duplicated) by the selective rewrite
    * breaks the hash; the file-level claims (big file untouched, debt
    * packed to one output, no-op fixpoint) are scan-metric-proven in
    * SnapshotTableSpec. */
  /** FILES METADATA TABLE, gated end to end: `filesDf` exposes the
    * manifest as a queryable frame (the `.files` surface — Iceberg's
    * metadata tables), so the gate ANSWERS OPERATOR QUESTIONS with
    * plain SQL over it: how many recorded rows, how much dv debt and
    * in how many files, do all files carry skipping stats and known
    * sizes. Hashed against DuckDB computing the same answers from the
    * raw corpus; `files_ok` pins the file count to the lifecycle's
    * layout (range files + each non-empty append), `stats_cover` and
    * `bytes_pos` pin the metadata completeness the planner relies on.
    * All zero data I/O — the point of a metadata table. */
  private def snapshotFilesTableCycle(s: SparkSession, d: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft-snapfiles").toString
    val docs = Tables.documents(s, d).select(col("doc_id"), col("n_chars"))
    val snap = graft.sources.SnapshotTable
    snap.create(s, root,
      docs.filter(col("doc_id") < 400L).repartitionByRange(4, col("doc_id")),
      statsKey = Some("doc_id"))
    // derive the create's file count from the TABLE (repartitionByRange
    // yields fewer than 4 files when <4 ranges are non-empty — robust
    // to sparse/edge corpora, like the restore gate's hardening)
    val createFiles = snap.filesDf(s, root).count()
    // both append-slice counts in ONE aggregate over one scan (two
    // count jobs folded; no broadcast legs, so the fold is a pure win —
    // cf. the rejected heavy-hitters fold, OPTIMIZATION_r19.md)
    val cRow = docs.filter(col("doc_id") >= 400L && col("doc_id") < 430L)
      .agg(count(when(col("doc_id") < 415L, 1)).as("c1"),
        count(when(col("doc_id") >= 415L, 1)).as("c2")).head()
    val (c1, c2) = (cRow.getLong(0), cRow.getLong(1))
    snap.append(s, root,
      docs.filter(col("doc_id") >= 400L && col("doc_id") < 415L).coalesce(1))
    snap.append(s, root,
      docs.filter(col("doc_id") >= 415L && col("doc_id") < 430L).coalesce(1))
    // the dv expectations gate on doc 0 actually existing (deleteWhere
    // commits nothing on a no-hit predicate) — the oracle derives
    // dv_files/dv_rows/live_rows from the same doc_id=0 count
    snap.deleteWhere(s, root, col("doc_id") === 0L)
    val files = snap.filesDf(s, root)
    val expectedFiles = createFiles +
      (if (c1 > 0) 1L else 0L) + (if (c2 > 0) 1L else 0L)
    // all four file-table probes in ONE aggregate over the metadata
    // frame (four count jobs folded into one; same frame, no joins)
    val p = files.agg(
      count(lit(1)).as("nfiles"),
      count(when(col("min_key").isNull || col("max_key").isNull, 1)).as("null_stats"),
      count(when(col("bytes").isNull || col("bytes") <= 0L, 1)).as("bad_bytes"),
      // the stats IDENTITY rides every row (r11 verdict task: "keyed on
      // what?" was the one question filesDf couldn't answer): recorded
      // key on every file, no phantom secondary
      count(when(col("stats_key").isNull || col("stats_key") =!= "doc_id" ||
        col("stats_key2").isNotNull, 1)).as("bad_key")).head()
    val filesOk = p.getLong(0) == expectedFiles
    val statsCover = p.getLong(1) == 0L
    val bytesPos = p.getLong(2) == 0L
    val keyIdentity = p.getLong(3) == 0L
    graft.Scratch.registerForCleanup(root)
    pinInvariants("meta_snapshot_files",
      ("files_ok", filesOk, () => s"files=${files.count()} expected=$expectedFiles"),
      ("stats_cover", statsCover, () => "a file row carries a null min/max key"),
      ("bytes_pos", bytesPos, () => "a file row carries null/non-positive bytes"),
      ("key_identity", keyIdentity,
        () => "stats_key not 'doc_id' or phantom stats_key2 present"))
    files.agg(
        sum(col("rows")).as("recorded_rows"),
        (sum(col("rows")) - coalesce(sum(col("dv_rows")), lit(0L))).as("live_rows"),
        count(col("dv")).as("dv_files"),
        coalesce(sum(col("dv_rows")), lit(0L)).as("dv_rows"))
      .withColumn("files_ok", lit(filesOk))
      .withColumn("stats_cover", lit(statsCover))
      .withColumn("bytes_pos", lit(bytesPos))
      .withColumn("key_identity", lit(keyIdentity))
  }

  private def snapshotFilesTableCycleSql: String = """
    SELECT (SELECT COUNT(*) FROM documents WHERE doc_id < 430) AS recorded_rows,
           (SELECT COUNT(*) FROM documents WHERE doc_id < 430)
             - (SELECT COUNT(*) FROM documents WHERE doc_id = 0) AS live_rows,
           (SELECT COUNT(*) FROM documents WHERE doc_id = 0) AS dv_files,
           (SELECT COUNT(*) FROM documents WHERE doc_id = 0) AS dv_rows,
           TRUE AS files_ok, TRUE AS stats_cover, TRUE AS bytes_pos,
           TRUE AS key_identity"""

  /** CHECK CONSTRAINTS, gated end to end: the ingest-time data-quality
    * contract a training-data table needs — a poisoned batch is
    * rejected at the door, loudly, with nothing committed. The
    * lifecycle: declare two constraints, take a good append, REJECT a
    * violating append (enforcement rides the write — zero extra jobs)
    * and a violating merge (one validation job naming every violated
    * rule and its row count), refuse a constraint existing data
    * already violates (a constraint is a fact, not an aspiration),
    * then drop a rule and prove it lifted with a marker row. The hash
    * gates the final state — good rows plus the post-drop marker,
    * none of the rejected rows — with `rejected`/`fact_checked`/
    * `persisted` invariants inside the result. */
  private def snapshotConstraintsCycle(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-snapcheck").toString
    val docs = Tables.documents(s, d).select(col("doc_id"), col("n_chars"))
    val snap = graft.sources.SnapshotTable
    snap.create(s, root,                                               // v1
      docs.filter(col("doc_id") < 400L).repartitionByRange(4, col("doc_id")),
      statsKey = Some("doc_id"))
    snap.addConstraint(s, root, "chars_nonneg", "n_chars >= 0")        // v2
    snap.addConstraint(s, root, "id_present", "doc_id IS NOT NULL")    // v3
    snap.append(s, root,                                               // v4: clean batch
      docs.filter(col("doc_id") >= 400L && col("doc_id") < 430L).coalesce(1))
    val cleanCount = snap.read(s, root).count()
    // a poisoned append and a poisoned merge both bounce, atomically
    val appendRejected = scala.util.Try(snap.append(s, root,
      Seq((-7777L, -5L)).toDF("doc_id", "n_chars"))).isFailure &&
      snap.read(s, root).count() == cleanCount
    val mergeRejected = scala.util.Try(snap.merge(s, root,
      Seq((0L, -1L)).toDF("doc_id", "n_chars"), key = "doc_id")).isFailure &&
      snap.read(s, root).filter(col("n_chars") < 0).count() == 0
    val rejected = appendRejected && mergeRejected
    // a rule today's data violates is refused outright
    val factChecked = scala.util.Try(
      snap.addConstraint(s, root, "impossible", "n_chars < 0")).isFailure &&
      snap.constraints(s, root).map(_._1) == Seq("chars_nonneg", "id_present")
    snap.dropConstraint(s, root, "chars_nonneg")                       // v5
    snap.append(s, root, Seq((9999L, -5L)).toDF("doc_id", "n_chars")) // now legal
    val persisted = snap.constraints(s, root) == Seq("id_present" -> "doc_id IS NOT NULL")
    graft.Scratch.registerForCleanup(root)
    pinInvariants("meta_snapshot_constraints",
      ("rejected", rejected, () => "a poisoned append/merge landed or mutated state"),
      ("fact_checked", factChecked,
        () => s"constraints=${snap.constraints(s, root).map(_._1)}"),
      ("persisted", persisted, () => s"constraints=${snap.constraints(s, root)}"))
    snap.read(s, root)
      .withColumn("rejected", lit(rejected))
      .withColumn("fact_checked", lit(factChecked))
      .withColumn("persisted", lit(persisted))
      .orderBy(col("doc_id"))
  }

  private def snapshotConstraintsCycleSql: String = """
    SELECT doc_id, n_chars,
           TRUE AS rejected, TRUE AS fact_checked, TRUE AS persisted
    FROM documents WHERE doc_id < 430
    UNION ALL
    SELECT 9999, -5, TRUE, TRUE, TRUE
    ORDER BY doc_id"""

  /** DELTA MANIFESTS (format 8), gated end to end: a lifecycle whose
    * small commits must ride O(touched-files) manifest deltas — three
    * micro appends, a narrow merge, a dv delete — followed by retention
    * that cuts the chain (shadow checkpoint) and a vacuum. What the
    * hash gates, beyond the final logical state matching DuckDB
    * replaying the same edits on the raw parquet: `delta_log` (every
    * small commit's manifest physically lists ≤2 entry lines and names
    * its base — the commit-cost-∝-touched-files property at the heart
    * of 100 TB metadata scaling), `resolves` (time travel through the
    * chain reproduces each version's exact row count), and `ckpt_used`
    * (after expiry the retained delta's shadow checkpoint exists and
    * carries the reads). A resolution bug — dropped carry, duplicated
    * entry, broken chain — flips a boolean or changes the row multiset
    * and breaks the hash. */
  /** RESTORE (rollback), gated end to end: good state (create +
    * append), then a corrupting merge AND a bad delete, then
    * `restore` back to the pre-corruption version. The hash gates the
    * restored state matching DuckDB's replay of ONLY the good edits,
    * plus three physical invariants inside the result: `zero_copy`
    * (the rollback wrote no data files — it is one manifest commit
    * whatever the table size), `history_kept` (the bad versions stay
    * live and time-travelable; the head's op is "restore"), and
    * `cdc_rollback` (replaying the restore commit's change stream on
    * the corrupt snapshot reproduces the restored state — incremental
    * consumers converge instead of diverging). */
  /** Master-fixture memo for the restore gate (fixture-memo policy,
    * PLANS.md r19): the 4-commit pre-restore lifecycle (create →
    * append → corrupting merge → bad delete) is a pure function of the
    * sf dir, the oracle re-derives the rows from the raw documents
    * table, WidthInvarianceSpec clears this memo to pin build-width
    * invariance, and the build runs under [[FixtureCensus.counted]].
    * Value: (master root, expectedCorrupt). The RESTORE itself — the
    * gate's feature — still runs per invocation, on a driver-side FILE
    * COPY of the master (restore mutates history, so invocations can't
    * share a post-restore table; the copy is a few KB of parquet +
    * manifests, zero Spark jobs). */
  private val restoreFixtureMemo =
    new java.util.concurrent.ConcurrentHashMap[String, (String, Long)]()
  private[graft] def clearRestoreFixtureForTests(): Unit =
    restoreFixtureMemo.clear()

  private def copyTree(from: String, to: String): Unit = {
    import scala.jdk.CollectionConverters._
    val src = java.nio.file.Paths.get(from)
    val dst = java.nio.file.Paths.get(to)
    java.nio.file.Files.walk(src).iterator().asScala.foreach { p =>
      val t = dst.resolve(src.relativize(p))
      if (java.nio.file.Files.isDirectory(p)) {
        java.nio.file.Files.createDirectories(t); ()
      } else {
        java.nio.file.Files.copy(p, t,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING); ()
      }
    }
  }

  private def snapshotRestoreCycle(s: SparkSession, d: String): DataFrame = {
    // the cycle's frames are ≤430 rows — the wiring passes a
    // narrowProbe session (width 4, AQE off; wide-replayable via
    // -Dgraft.wideProbe like every narrowed gate)
    val snap = graft.sources.SnapshotTable
    val (master, expectedCorrupt) = restoreFixtureMemo.computeIfAbsent(d, { _ =>
      graft.FixtureCensus.counted(s, "meta_snapshot_restore") {
        val m = java.nio.file.Files
          .createTempDirectory("graft-snaprestore-master").toString
        sys.addShutdownHook { graft.Scratch.deleteRecursively(m) }
        val docs = Tables.documents(s, d).select(col("doc_id"), col("n_chars"))
        snap.create(s, m,                                              // v1
          docs.filter(col("doc_id") < 400L).repartitionByRange(4, col("doc_id")),
          statsKey = Some("doc_id"))
        snap.append(s, m,                                              // v2: good head
          docs.filter(col("doc_id") >= 400L && col("doc_id") < 430L).coalesce(1))
        snap.merge(s, m,                                               // v3: corruption
          docs.filter(col("doc_id") % 61 === 0 && col("doc_id") < 430L)
            .withColumn("n_chars", lit(-999L)), key = "doc_id")
        snap.deleteWhere(s, m, col("doc_id") % 113 === 0)              // v4: bad delete
        // corrupt rows still visible at v4 = merged keys minus the bad
        // delete's hits (exact count from the RAW table: robust to
        // corpora where the modulus hits nothing, e.g. the edge corpus)
        val ec = docs.filter(col("doc_id") % 61 === 0 &&
          col("doc_id") < 430L && col("doc_id") % 113 =!= 0).count()
        (m, ec)
      }
    })
    val root = java.nio.file.Files.createTempDirectory("graft-snaprestore").toString
    copyTree(master, root)
    def dataFiles(): Set[String] = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(root, "data"))
        .iterator().asScala.filter(_.toString.endsWith(".parquet"))
        .map(p => java.nio.file.Paths.get(root).relativize(p).toString).toSet
    }
    val before = dataFiles()
    snap.restore(s, root, 2)                                           // v5: rollback
    val zeroCopy = dataFiles() == before
    // multiset identity as bounded collects + a driver-side sorted
    // compare (the table is ≤430 rows by construction) — the
    // exceptAll-both-ways form executed the nested readChanges plan
    // TWICE more to answer the same small question (the incr_view
    // cycle's recorded lesson). The CDC frame is collected ONCE and
    // split by change type driver-side; the v4 corrupt count rides the
    // same collect as the replay base instead of its own count job.
    def rows2(df: DataFrame): Seq[(Long, Long)] = df.collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1)))
    val baseRows = rows2(snap.read(s, root, Some(4))
      .select(col("doc_id"), col("n_chars")))
    val corruptAtV4 = baseRows.count(_._2 == -999L).toLong
    val historyKept = snap.versions(s, root) == Seq(1, 2, 3, 4, 5) &&
      snap.history(s, root).last.op == "restore" &&
      corruptAtV4 == expectedCorrupt
    val csRows = snap.readChanges(s, root, 4, Some(5))
      .select(col("_change_type"), col("doc_id"), col("n_chars"))
      .collect().toSeq
      .map(r => (r.getString(0), (r.getLong(1), r.getLong(2))))
    val replayed = (baseRows ++ csRows.collect { case ("insert", t) => t })
      .diff(csRows.collect { case ("delete", t) => t })
    // localized: the caller's action over the returned frame re-runs
    // no part of the lifecycle (the rows are already on the driver)
    val now = graft.Scratch.localizeAndDelete(s,
      snap.read(s, root).select(col("doc_id"), col("n_chars")), Seq.empty)
    val nowRows = rows2(now)
    val cdcRollback = replayed.sorted == nowRows.sorted
    graft.Scratch.registerForCleanup(root)
    pinInvariants("meta_snapshot_restore",
      ("zero_copy", zeroCopy, () => s"gained=${dataFiles().diff(before).take(3)} " +
        s"lost=${before.diff(dataFiles()).take(3)}"),
      ("history_kept", historyKept, () => s"versions=${snap.versions(s, root)} " +
        s"lastOp=${snap.history(s, root).last.op} corrupt=$corruptAtV4 " +
        s"expected=$expectedCorrupt"),
      ("cdc_rollback", cdcRollback,
        () => s"replayed=${replayed.size} now=${nowRows.size}"))
    now
      .withColumn("zero_copy", lit(zeroCopy))
      .withColumn("history_kept", lit(historyKept))
      .withColumn("cdc_rollback", lit(cdcRollback))
      .orderBy(col("doc_id"))
  }

  private def snapshotRestoreCycleSql: String = """
    SELECT doc_id, n_chars,
           TRUE AS zero_copy, TRUE AS history_kept, TRUE AS cdc_rollback
    FROM documents
    WHERE doc_id < 430
    ORDER BY doc_id"""

  /** COLUMN MAPPING (format 9), gated end to end: rename a
    * STATS-KEYED column and drop another — both ZERO-COPY metadata
    * commits (`zero_copy`: the data directory is byte-identical across
    * both DDLs) — then prove the renamed key still PRUNES from the
    * executed plan's own scan metrics (`pruned`: a point probe on the
    * renamed name reads 1 of 4 clustered files — the per-file stats
    * were measured on the physical column the rename never touched),
    * that TIME TRAVEL shows each version's own names (`names_travel`),
    * and that post-DDL writers interoperate: an append and a key-merge
    * addressed by the NEW name land correctly (the final row set is
    * the hash). DuckDB replays the lifecycle logically on the raw
    * corpus — a translation bug (wrong column read under a mapped
    * name, resurrection of dropped bytes, lost rename on the merge
    * path) changes values or flips a boolean and breaks the hash.
    * Reference analog: chunking_manager.py:170-176 (metadata-schema
    * replacement while stored data stands still). */
  private def snapshotColumnMapCycle(s: SparkSession, d: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft-snapcolmap").toString
    val docs = Tables.documents(s, d).select(col("doc_id"), col("n_chars"), col("lang"))
    val snap = graft.sources.SnapshotTable
    snap.create(s, root,                                               // v1
      docs.filter(col("doc_id") < 400L).repartitionByRange(4, col("doc_id")),
      statsKey = Some("doc_id"))
    def dataFiles(): Set[String] = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(root, "data"))
        .iterator().asScala.filter(_.toString.endsWith(".parquet"))
        .map(_.toString).toSet
    }
    val before = dataFiles()
    snap.renameColumn(s, root, "doc_id", "document_id")                // v2
    snap.dropColumn(s, root, "lang")                                   // v3
    val zeroCopy = dataFiles() == before
    // pruning proof on the RENAMED key, from the executed plan itself.
    // Degenerate layouts prove nothing and pass trivially (robust to
    // sparse/edge corpora, like the sibling gates' hardening): an
    // empty sub-400 slice has no key to probe, and a ≤1-file table
    // has nothing to prune.
    val minRow = docs.filter(col("doc_id") < 400L).agg(min(col("doc_id"))).head()
    val nTableFiles = before.size
    val pruned =
      if (minRow.isNullAt(0) || nTableFiles <= 1) true
      else {
        val probe = snap.readIndexed(s, root, "document_id")
          .filter(col("document_id") === minRow.getLong(0))
        probe.collect() // execute THIS QueryExecution (the DPP-gate gotcha)
        graft.PlanWalk.keptFiles(probe) match {
          case Nil => false
          case ss => ss.max == 1
        }
      }
    // each version reads under ITS OWN recorded names
    val namesTravel =
      snap.read(s, root, Some(1)).columns.toSeq == Seq("doc_id", "n_chars", "lang") &&
      snap.read(s, root).columns.toSeq == Seq("document_id", "n_chars")
    // writers after the DDL, addressed by the NEW name
    snap.append(s, root,                                               // v4
      docs.filter(col("doc_id") >= 400L && col("doc_id") < 430L)
        .select(col("doc_id").as("document_id"), col("n_chars")).coalesce(1))
    snap.merge(s, root,                                                // v5
      docs.filter(col("doc_id") % 97 === 0 && col("doc_id") < 430L)
        .select(col("doc_id").as("document_id"),
          (col("n_chars") + 1000000L).as("n_chars")), key = "document_id")
    graft.Scratch.registerForCleanup(root)
    pinInvariants("meta_snapshot_column_map",
      ("zero_copy", zeroCopy, () => "a rename/drop DDL moved data bytes"),
      ("pruned", pruned, () => "renamed-key point probe planned >1 file"),
      ("names_travel", namesTravel, () => "a version showed another era's names"))
    snap.read(s, root)
      .withColumn("zero_copy", lit(zeroCopy))
      .withColumn("pruned", lit(pruned))
      .withColumn("names_travel", lit(namesTravel))
      .orderBy(col("document_id"))
  }

  private def snapshotColumnMapCycleSql: String = """
    SELECT doc_id AS document_id,
           CASE WHEN doc_id % 97 = 0 THEN n_chars + 1000000 ELSE n_chars END AS n_chars,
           TRUE AS zero_copy, TRUE AS pruned, TRUE AS names_travel
    FROM documents WHERE doc_id < 430
    ORDER BY document_id"""

  /** NESTED column mapping (manifest format 10) as a gated lifecycle:
    * struct-FIELD paths through the same zero-copy DDL discipline the
    * flat gate proves. v1 seeds a struct column `meta(lang, n_chars)`
    * range-clustered on the stats key; then, all metadata-only:
    * rename `meta.lang` -> `language` (nested leaf), rename `meta` ->
    * `info` (ANCESTOR rename — the nested map key re-roots under the
    * new struct name), add `info.flag` (schema-first, minted physical
    * leaf under the active map), and rename it once data exists so
    * the final read spans files from BOTH physical eras (v1 files
    * null-fill the minted leaf; the post-DDL append carries it). A
    * deletion-vector delete predicated ON a renamed nested field
    * proves predicates translate through the struct cast. Booleans
    * ride the rows: the three DDLs moved no data bytes (`zero_copy`),
    * a stats-key point probe still plans exactly one file with the
    * nested map active (`pruned`, executed-plan numFiles), and every
    * version time-travels under its own nested names (`names_travel`).
    * Reference analog: the reference's chunk metadata IS a struct
    * (chunking_manager.py:82-87) — renaming inside it without
    * rewriting stored chunks is this exact operation. */
  private def snapshotNestedMapCycle(s: SparkSession, d: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft-snapnested").toString
    val docs = Tables.documents(s, d).select(col("doc_id"), col("lang"), col("n_chars"))
    val snap = graft.sources.SnapshotTable
    snap.create(s, root,                                               // v1
      docs.filter(col("doc_id") < 400L)
        .select(col("doc_id"),
          struct(col("lang"), col("n_chars")).as("meta"))
        .repartitionByRange(4, col("doc_id")),
      statsKey = Some("doc_id"))
    def dataFiles(): Set[String] = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(root, "data"))
        .iterator().asScala.filter(_.toString.endsWith(".parquet"))
        .map(_.toString).toSet
    }
    val before = dataFiles()
    snap.renameColumn(s, root, "meta.lang", "language")                // v2
    snap.renameColumn(s, root, "meta", "info")                         // v3
    snap.addColumn(s, root, "info.flag",                               // v4
      org.apache.spark.sql.types.LongType)
    val zeroCopy = dataFiles() == before
    // post-DDL append ships the NEW logical shape; its files spell
    // the minted/original PHYSICAL leaves
    snap.append(s, root,                                               // v5
      docs.filter(col("doc_id") >= 400L && col("doc_id") < 430L)
        .select(col("doc_id"),
          struct(col("lang").as("language"), col("n_chars"),
            (col("doc_id") % 7).as("flag")).as("info"))
        .coalesce(1))
    snap.renameColumn(s, root, "info.flag", "mark")                    // v6
    // dv delete predicated on a RENAMED nested field: the predicate
    // must match rows through the struct translation in every era
    snap.deleteWhere(s, root, col("info.n_chars") % 5 === 0)           // v7
    // pruning proof on the top-level stats key with the NESTED map
    // active, from the executed plan (degenerate layouts pass
    // trivially, same hardening as the flat gate)
    val minRow = docs.filter(col("doc_id") < 400L).agg(min(col("doc_id"))).head()
    val pruned =
      if (minRow.isNullAt(0) || before.size <= 1) true
      else {
        val probe = snap.readIndexed(s, root, "doc_id")
          .filter(col("doc_id") === minRow.getLong(0))
          .select(col("doc_id"), col("info.language"))
        probe.collect() // execute THIS QueryExecution (the DPP-gate gotcha)
        graft.PlanWalk.keptFiles(probe) match {
          case Nil => false
          case ss => ss.max == 1
        }
      }
    // each version reads under ITS OWN recorded nested names
    def nestedNames(v: Option[Int], c: String): Seq[String] =
      snap.read(s, root, v).schema(c).dataType
        .asInstanceOf[org.apache.spark.sql.types.StructType].fieldNames.toSeq
    val namesTravel =
      nestedNames(Some(1), "meta") == Seq("lang", "n_chars") &&
      nestedNames(Some(2), "meta") == Seq("language", "n_chars") &&
      nestedNames(None, "info") == Seq("language", "n_chars", "mark")
    graft.Scratch.registerForCleanup(root)
    pinInvariants("meta_snapshot_nested_map",
      ("zero_copy", zeroCopy, () => "a nested rename/add DDL moved data bytes"),
      ("pruned", pruned, () => "stats-key probe planned >1 file under nested map"),
      ("names_travel", namesTravel, () => "a version showed another era's nested names"))
    snap.read(s, root)
      .select(col("doc_id"), col("info.language").as("language"),
        col("info.n_chars").as("n_chars"), col("info.mark").as("mark"))
      .withColumn("zero_copy", lit(zeroCopy))
      .withColumn("pruned", lit(pruned))
      .withColumn("names_travel", lit(namesTravel))
      .orderBy(col("doc_id"))
  }

  private def snapshotNestedMapCycleSql: String = """
    SELECT doc_id, lang AS language, n_chars,
           CASE WHEN doc_id >= 400 THEN doc_id % 7 END AS mark,
           TRUE AS zero_copy, TRUE AS pruned, TRUE AS names_travel
    FROM documents
    WHERE doc_id < 430 AND n_chars % 5 <> 0
    ORDER BY doc_id"""

  /** One shared DSv2 catalog per JVM: the catalog instance is cached
    * by Spark on first reference, warehouse included, so the warehouse
    * directory must be stable across a session's repeated gate runs
    * (the gate DROPs and recreates its TABLE each run instead). */
  private object SqlCat {
    val name = "graft_sql"
    @volatile private var wh: String = _
    def ensure(s: SparkSession): String = synchronized {
      if (wh == null) wh = java.nio.file.Files.createTempDirectory("graft-sqlcat").toString
      s.conf.set(s"spark.sql.catalog.$name", classOf[graft.catalog.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$name.warehouse", wh)
      wh
    }
  }

  /** Per-invocation unique suffix for probe-gate catalog objects. Two
    * runners in one JVM (the shape Verify's cache/scratch scoping
    * already defends against) share [[SqlCat]]'s warehouse, so two
    * concurrent invocations of the SAME gate on fixed table names
    * interleave their DROP/CREATE/INSERT/list windows — double-landed
    * rows and corrupted before/after file listings that red a board
    * without any wrong plan. A `_uN` suffix makes every invocation's
    * tables private; Bench's `canonText` collapses the token so plan
    * fingerprints stay run-stable. */
  private val probeSeq = new java.util.concurrent.atomic.AtomicLong()
  private def uniqName(base: String): String =
    s"${base}_u${probeSeq.incrementAndGet()}"

  /** A THROWAWAY session for physical-invariant probes: fresh
    * SessionState (own SQLConf, own temp views, own session catalog)
    * sharing the caller's SparkContext. Gates that must pin optimizer
    * confs (broadcast thresholds, SPJ keys, overwrite mode, AQE)
    * run on one of these instead of toggling the SHARED session —
    * session conf is shared mutable SessionState, the one surface a
    * save/restore `finally` cannot defend when two runners interleave
    * on one session. Execution confs that matter are copied from the
    * caller; probe pins go on top; nothing is restored because nothing
    * shared was touched. */
  /** The standard narrow throwaway session for tiny-table lifecycle
    * gates: width 4, AQE off — per PLANS.md's action-floor analysis,
    * these gates' cost is task-wave + job dispatch, not data, and
    * their values are width-independent (aggregates, deterministic
    * rankings, integer arithmetic; WidthInvarianceSpec pins the
    * contract). Two corpus gates (perplexity, decontamination) also
    * run narrow — bench-confirmed wins AT GATE SCALE; a deployment
    * driving these operators over real corpora keeps the session
    * defaults, where their shuffles deserve the width. 100 TB
    * deployments keep the session defaults; this is gate economics
    * only. */
  private def narrowProbe(s: SparkSession): SparkSession =
    // dev A/B hook (graft.AbGate): -Dgraft.wideProbe=true turns every
    // narrow probe into a plain throwaway session at the caller's
    // width, so one JVM can interleave narrow/wide arms of the same
    // gate and difference out box-load drift. Never set by the driver.
    if (java.lang.Boolean.getBoolean("graft.wideProbe")) probeSession(s)
    else probeSession(s,
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.adaptive.enabled" -> "false")

  private def probeSession(s: SparkSession, pins: (String, String)*): SparkSession = {
    val iso = s.newSession()
    Seq("spark.sql.shuffle.partitions", "spark.sql.session.timeZone",
        "spark.sql.legacy.parquet.nanosAsLong")
      .foreach(k => s.conf.getOption(k).foreach(iso.conf.set(k, _)))
    pins.foreach { case (k, v) => iso.conf.set(k, v) }
    iso
  }

  /** Bounded re-probe for physical-invariant gates. A probe gate's
    * booleans (files pruned, exchanges absent, paths carried) are
    * environment-sensitive in ways its ROWS are not; a false boolean
    * used to land in the result hash as an opaque mismatch with the
    * evidence lost to stderr. This wrapper changes the failure mode:
    * `attempt` builds the WHOLE probe from scratch (throwaway session,
    * fresh `uniqName` tables) and returns the gate frame plus the list
    * of failed invariants. One failure triggers exactly one rebuild —
    * a genuine property violation fails both probes, a scheduling
    * flake doesn't — and a second failure THROWS with the accumulated
    * diag text, so the correctness artifact records the failing
    * invariant BY NAME in its `err` field instead of a silent false
    * lit. No gate ever returns a false boolean. */
  private def reprobed(gate: String)(
      attempt: () => (DataFrame, Seq[String])): DataFrame = {
    val (df1, bad1) = attempt()
    if (bad1.isEmpty) df1
    else {
      Console.err.println(s"[$gate] probe failed (${bad1.mkString("; ")}) — " +
        "rebuilding the throwaway session and tables for one bounded re-probe")
      val (df2, bad2) = attempt()
      if (bad2.isEmpty) df2
      else throw new IllegalStateException(
        s"$gate: physical invariant failed on BOTH probes (independent " +
          s"sessions and tables — a property violation, not a scheduling " +
          s"flake). first=[${bad1.mkString("; ")}] " +
          s"second=[${bad2.mkString("; ")}]")
    }
  }

  /** The no-rebuild sibling of [[reprobed]] for gates whose probe
    * evidence is a pure function of tables the gate itself just built
    * (file listings, manifest lines, version counts, recomputed
    * aggregates): every invariant boolean the oracle hardcodes TRUE is
    * checked HERE, and a false one THROWS with each failing invariant
    * named and its evidence inlined — so a driver red lands in the
    * correctness artifact's `err` field as a named, actionable failure
    * instead of an opaque hash mismatch whose diagnosis lives only in
    * uncommitted stderr. No gate returns a silent false boolean. */
  private def pinInvariants(gate: String,
      checks: (String, Boolean, () => String)*): Unit = {
    val bad = checks.collect { case (n, false, det) => s"$n: ${det()}" }
    if (bad.nonEmpty) throw new IllegalStateException(
      s"$gate: invariant(s) failed — ${bad.mkString("; ")}")
  }

  /** The snapshot table driven PURELY through `spark.sql` on a stock
    * session — the DSv2 catalog surface ([[graft.catalog.GraftCatalog]])
    * end to end: CREATE TABLE → INSERT → metadata-only DELETE (dv) →
    * MERGE INTO (group-based copy-on-write) → ALTER TABLE RENAME
    * COLUMN (zero-copy column mapping) → time travel (VERSION AS OF) →
    * SELECT, with the same executed-evidence booleans as the sibling
    * gates: the dv delete and the rename move no data bytes, time
    * travel counts match each version's state, and a point probe on
    * the RENAMED key plans exactly one file through the DSv2 scan
    * (manifest pruning — [[graft.catalog.GraftScan]]). Reference
    * analog: the name-addressed collection lifecycle of
    * index_manager.py:288-323, SQL-fronted. */
  /** Aggregate pushdown answered from the MANIFEST: `SELECT COUNT(*),
    * MIN/MAX(statsKey), MIN/MAX(statsKey2)` over a dv-free catalog
    * table resolves on the driver from recorded per-file facts
    * ([[graft.catalog.GraftScanBuilder.pushAggregation]]) — the
    * executed plan is a LocalTableScan with ZERO parquet files opened,
    * which the `meta_answered` boolean asserts (no BatchScan leaf).
    * At 100 TB this turns the reference's collection-count call
    * (get_n_documents_in_vectorstore, index_manager.py:300-302) into a
    * metadata fold instead of a full-table scan. */
  private def aggPushdownMeta(s: SparkSession, d: String): DataFrame = {
    val wh = SqlCat.ensure(s)
    val base = uniqName("docs_aggpush") // two-runner collision guard
    val t = s"${SqlCat.name}.g.$base"
    val root = s"$wh/g/$base"
    s.sql(s"CREATE TABLE $t (doc_id BIGINT, lang STRING, n_chars BIGINT) " +
      "TBLPROPERTIES ('statsKey'='doc_id', 'statsKey2'='lang')")
    Tables.documents(s, d).select(col("doc_id"), col("lang"), col("n_chars"))
      .repartitionByRange(4, col("doc_id"))
      .createOrReplaceTempView("graft_aggpush_src")
    s.sql(s"INSERT INTO $t SELECT doc_id, lang, n_chars FROM graft_aggpush_src")
    val q = s.sql(s"SELECT count(*) AS n_docs, min(doc_id) AS min_id, " +
      s"max(doc_id) AS max_id, min(lang) AS min_lang, max(lang) AS max_lang FROM $t")
    val metaAnswered = graft.PlanWalk.batchScans(q).isEmpty &&
      q.queryExecution.executedPlan.collectLeaves().forall(
        _.isInstanceOf[org.apache.spark.sql.execution.LocalTableScanExec])
    graft.Scratch.registerForCleanup(root)
    pinInvariants("agg_pushdown_meta",
      ("meta_answered", metaAnswered, () => "plan leaves: " +
        q.queryExecution.executedPlan.collectLeaves()
          .map(_.getClass.getSimpleName).mkString(",")))
    q.withColumn("meta_answered", lit(metaAnswered))
  }

  /** STORAGE-PARTITIONED JOIN through the catalog: two tables bucketed
    * on same-typed keys with the same count ([[graft.sources
    * .SnapshotTable.compactBucketed]] — bucket ids ride in file paths,
    * no manifest format change) join through plain `spark.sql` with
    * ZERO shuffle exchanges: each side's DSv2 scan reports
    * `KeyGroupedPartitioning(bucket(n, key))`
    * ([[graft.catalog.GraftScan.outputPartitioning]]), the catalog
    * resolves the `bucket` function
    * ([[graft.catalog.GraftBucketFunction]]), and Spark's SPJ
    * machinery lines the buckets up. The `zero_exchange` boolean is
    * the executed-plan proof (broadcast disabled, so a shuffle is the
    * only alternative). At 100 TB this removes the largest cost the
    * SQL surface paid: re-shuffling both fact tables on every join.
    * Reference analog: the filename-keyed upsert join,
    * /root/reference/src/etl_processor.py:163-165. */
  /** Hive-style `PARTITIONED BY` through the catalog, proven on the
    * executed plan: documents land under `_graft_p_lang=<value>`
    * directories (the partition column STAYS in the files — the
    * directory is a pruning fact, not the storage of record), a
    * literal predicate statically keeps only its value's files, and a
    * dim-filtered join narrows the scan at RUNTIME (Spark's dynamic
    * partition pruning planting an IN-subquery runtime filter on the
    * DSv2 scan — the dim rides through parquet so the optimizer can't
    * constant-fold the tier predicate into a static filter). At 100 TB
    * partition pruning is the difference between scanning a language's
    * slice and scanning the corpus. Reference analog: the
    * per-embedding-model metadata files of
    * /root/reference/src/etl_processor.py:123-124 — a partitioned
    * doc_metadata store, SQL-fronted. */
  private def partitionedDppQuery(s: SparkSession, d: String): DataFrame =
      reprobed("meta_partitioned_dpp") { () =>
    val failed = Seq.newBuilder[String]
    // throwaway session, confs PINNED — never toggled on the shared
    // session (r14 board lesson: these physical booleans must be
    // deterministic whatever another runner does to the base session).
    // DPP planting is made a CONSTANT decision, not a stats heuristic:
    // useStats off + a generous fallback ratio keeps pruningHasBenefit
    // true whatever the file layout, exchange reuse pinned on so the
    // broadcast-riding filter always survives physical planning, and
    // reuseBroadcastOnly off so even a non-broadcast plan still plants.
    val iso = probeSession(s,
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.exchange.reuse" -> "true",
      "spark.sql.optimizer.dynamicPartitionPruning.enabled" -> "true",
      "spark.sql.optimizer.dynamicPartitionPruning.useStats" -> "false",
      "spark.sql.optimizer.dynamicPartitionPruning.fallbackFilterRatio" -> "10.0",
      "spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly" -> "false",
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true")
    val wh = SqlCat.ensure(iso)
    val base = uniqName("docs_part")
    val t = s"${SqlCat.name}.g.$base"
    iso.sql(s"CREATE TABLE $t (doc_id BIGINT, lang STRING, n_chars BIGINT) " +
      "PARTITIONED BY (lang) TBLPROPERTIES ('statsKey'='doc_id')")
    Tables.documents(iso, d).select(col("doc_id"), col("lang"), col("n_chars"))
      .createOrReplaceTempView("graft_part_src")
    val dimDir = s"$wh/g/${base}_dim"
    val dimDf = iso.table("graft_part_src").select(col("lang")).distinct()
      .withColumn("tier", when(col("lang") === "en", lit("keep")).otherwise(lit("drop")))
    // the partitioned INSERT and the dim export are independent jobs —
    // overlap them (guide §2.6; same discipline as the DPP/bucketed
    // parquet fixtures)
    graft.Concurrency.overlap(
      { iso.sql(s"INSERT INTO $t SELECT doc_id, lang, n_chars FROM graft_part_src"); () },
      dimDf.write.mode("overwrite").parquet(dimDir))
    // writer-schema read-back: skips the per-read schema-inference job
    iso.read.schema(dimDf.schema).parquet(dimDir)
      .createOrReplaceTempView("graft_part_dim")
    def keptOf(df: DataFrame): Int = {
      df.collect() // executes THIS plan: runtime filters narrow ITS scan
      graft.PlanWalk.batchScans(df).map(_.scan)
        .collect { case g: graft.catalog.GraftScan => g.keptFileCount }.max
    }
    // a failed probe must NAME its invariant: the diag text rides the
    // reprobed() throw into the correctness artifact's err field
    def diag(name: String, ok: Boolean, detail: => String): Boolean = {
      if (!ok) {
        failed += s"$name: $detail"
        Console.err.println(s"[meta_partitioned_dpp] $name FALSE: $detail")
      }
      ok
    }
    val total = graft.sources.SnapshotTable.filesDf(iso, s"$wh/g/$base").count().toInt
    // static: a literal partition predicate prunes at planning time
    // (LIMIT 1 keeps the probe's driver collect at one row)
    val staticKept =
      keptOf(iso.sql(s"SELECT doc_id FROM $t WHERE lang = 'en' LIMIT 1"))
    val staticPruned = diag("static_pruned", staticKept < total,
      s"kept=$staticKept total=$total")
    // dynamic: the surviving lang is only knowable from the dim at runtime
    val j = iso.sql(s"SELECT t.lang AS lang, count(*) AS n_docs, " +
      s"sum(t.n_chars) AS sum_chars FROM $t t " +
      "JOIN graft_part_dim d ON t.lang = d.lang " +
      "WHERE d.tier = 'keep' GROUP BY t.lang")
    // guard rail: the executed plan must CARRY the planted runtime
    // filter on the fact scan — narrowing without a planted filter
    // would be a probe accident, not a pruning fact
    val keptJ = keptOf(j)
    val planted = graft.PlanWalk.batchScans(j).exists(_.runtimeFilters.nonEmpty)
    val dppPruned = diag("dpp_pruned", planted && keptJ < total,
      s"planted=$planted kept=$keptJ total=$total")
    // identity-partition SPJ: a co-partitioned graft dim joins on the
    // partition column with ZERO shuffle exchanges (broadcast off — a
    // shuffle is the only alternative), the PARTITIONED BY twin of
    // join_spj_catalog's bucketed proof
    val td = s"${SqlCat.name}.g.${base}_gdim"
    iso.sql(s"CREATE TABLE $td (lang STRING, tier STRING) " +
      "PARTITIONED BY (lang) TBLPROPERTIES ('statsKey'='tier')")
    iso.sql(s"INSERT INTO $td SELECT lang, CASE WHEN lang = 'en' THEN 'keep' " +
      "ELSE 'drop' END AS tier FROM (SELECT DISTINCT lang FROM graft_part_src)")
    // broadcast off for the SPJ leg only — iso is private, so a
    // sequential conf change on it races nothing
    iso.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val sj = iso.sql(s"SELECT t.lang, count(*) AS n FROM $t t " +
      s"JOIN $td d ON t.lang = d.lang GROUP BY t.lang")
    sj.collect() // execute THIS QueryExecution, then read ITS final plan
    val spjZeroExchange = diag("spj_zero_exchange",
      graft.PlanWalk.executedNodes(sj.queryExecution.executedPlan).count(
        _.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeLike]) == 0,
      sj.queryExecution.executedPlan.toString.linesIterator.take(12).mkString(" | "))
    graft.Scratch.registerForCleanup(s"$wh/g/$base")
    graft.Scratch.registerForCleanup(s"$wh/g/${base}_gdim")
    graft.Scratch.registerForCleanup(dimDir)
    // proofs done: the returned frame re-executes on write — un-pin
    // broadcast so the dim join plans freely again (iso is private)
    iso.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    (j.withColumn("static_pruned", lit(staticPruned))
      .withColumn("dpp_pruned", lit(dppPruned))
      .withColumn("spj_zero_exchange", lit(spjZeroExchange)),
      failed.result())
  }

  /** The daily re-ingest shape on a PARTITIONED BY table: a STATIC
    * partition-scoped overwrite (`INSERT OVERWRITE … PARTITION
    * (lang='en')`) replaces exactly one language's slice, then a
    * DYNAMIC overwrite (`partitionOverwriteMode=dynamic`) replaces
    * exactly the partitions present in its batch — Hive semantics,
    * atomically versioned, with every untouched partition's files
    * CARRIED VERBATIM (the `untouched_carried` boolean compares
    * manifest paths across both rewrites). At 100 TB this is the op a
    * recurring corpus refresh runs nightly: re-land one slice without
    * rewriting — or even reading — the other 99. Reference analog: the
    * per-model re-conversion loop of etl_processor.py re-landing one
    * embedding model's metadata. */
  private def partitionOverwriteQuery(s: SparkSession, d: String): DataFrame =
      reprobed("sink_partition_overwrite") { () =>
    val failed = Seq.newBuilder[String]
    // throwaway session + per-invocation table name: the overwrite
    // mode is PINNED on a private SessionState (never toggled on the
    // shared session) and no concurrent runner can interleave its own
    // DROP/INSERT/list window into this gate's before/after file
    // listings (the r14 board's failure signature).
    val iso = probeSession(s,
      "spark.sql.sources.partitionOverwriteMode" -> "static")
    val wh = SqlCat.ensure(iso)
    val base = uniqName("docs_pow")
    val t = s"${SqlCat.name}.g.$base"
    iso.sql(s"CREATE TABLE $t (doc_id BIGINT, lang STRING, n_chars BIGINT) " +
      "PARTITIONED BY (lang) TBLPROPERTIES ('statsKey'='doc_id')")
    Tables.documents(iso, d).select(col("doc_id"), col("lang"), col("n_chars"))
      .createOrReplaceTempView("graft_pow_src")
    iso.sql(s"INSERT INTO $t SELECT doc_id, lang, n_chars FROM graft_pow_src")
    val root = s"$wh/g/$base"
    def paths(except: String): Set[String] =
      graft.sources.SnapshotTable.filesDf(iso, root).collect().map(_.getString(0))
        .filterNot(_.contains(s"_graft_p_lang=$except")).toSet
    def diag(name: String, ok: Boolean, detail: => String): Boolean = {
      if (!ok) {
        failed += s"$name: $detail"
        Console.err.println(s"[sink_partition_overwrite] $name FALSE: $detail")
      }
      ok
    }
    val beforeEn = paths(except = "en")
    iso.sql(s"INSERT OVERWRITE $t PARTITION (lang = 'en') " +
      "SELECT doc_id, n_chars + 1000000 FROM graft_pow_src WHERE lang = 'en'")
    val afterEn = paths(except = "en")
    val carried1 = diag("static_carry", afterEn == beforeEn,
      s"gained=${(afterEn -- beforeEn).take(3)} lost=${(beforeEn -- afterEn).take(3)}")
    // dynamic leg: iso is private, sequential conf change races nothing
    iso.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    val beforeDe = paths(except = "de")
    iso.sql(s"INSERT OVERWRITE $t SELECT doc_id, lang, n_chars + 5000000 " +
      "FROM graft_pow_src WHERE lang = 'de'")
    val afterDe = paths(except = "de")
    val carried2 = diag("dynamic_carry", afterDe == beforeDe,
      s"gained=${(afterDe -- beforeDe).take(3)} lost=${(beforeDe -- afterDe).take(3)}")
    graft.Scratch.registerForCleanup(root)
    (iso.sql(s"SELECT lang, count(*) AS n_docs, sum(n_chars) AS sum_chars FROM $t " +
      "GROUP BY lang")
      .withColumn("untouched_carried", lit(carried1 && carried2)),
      failed.result())
  }

  /** SHOW PARTITIONS as a queryable relation: `<table>.partitions`
    * (Iceberg's partitions metadata table) — one row per live
    * partition tuple with dv-exact row counts, answered from the
    * MANIFEST as a LocalScan (zero data files opened; at 100 TB the
    * difference between a catalog question and a table scan). The
    * partition column comes back TYPED; a point DELETE's dv debt
    * must subtract exactly. */
  private def partitionsTableQuery(s: SparkSession, d: String): DataFrame = {
    val wh = SqlCat.ensure(s)
    val base = uniqName("docs_pmeta") // two-runner collision guard
    val t = s"${SqlCat.name}.g.$base"
    s.sql(s"CREATE TABLE $t (doc_id BIGINT, lang STRING) " +
      "PARTITIONED BY (lang) TBLPROPERTIES ('statsKey'='doc_id')")
    Tables.documents(s, d).select(col("doc_id"), col("lang"))
      .createOrReplaceTempView("graft_pmeta_src")
    s.sql(s"INSERT INTO $t SELECT doc_id, lang FROM graft_pmeta_src")
    s.sql(s"DELETE FROM $t WHERE doc_id = 0") // dv debt: counts must stay exact
    // DROP PARTITION: a pure-metadata bulk delete — one manifest write
    // removes a whole language's files; the listing must drop its row
    val dropLang = s.sql("SELECT lang FROM graft_pmeta_src WHERE doc_id = 3")
      .head().getString(0)
    s.sql(s"ALTER TABLE $t DROP PARTITION (lang = '$dropLang')")
    graft.Scratch.registerForCleanup(s"$wh/g/$base")
    s.sql(s"SELECT lang, n_rows AS n_docs FROM $t.partitions ORDER BY lang")
  }

  /** Z-ORDER AS A DECLARED LAYOUT, gated end to end: the table is
    * created with `TBLPROPERTIES ('zorder'='true')` over its two
    * recorded stats keys, rows land as PLAIN appends (the
    * OPTIMIZE-ZORDER model — a per-write interleave would re-read the
    * table), ONE scheduled `maintain(relayout = true)` cycle restores
    * the interleaved layout from the manifest declaration, and point
    * probes on EITHER key then prune files through the manifest's
    * two-key range stats — the property a primary-first hierarchical
    * layout cannot give the secondary key. At 100 TB this is the
    * maintenance contract that keeps two-dimensional probe workloads
    * (doc id × chunk idx, tenant × time) prunable without the operator
    * remembering which re-layout tool matches which table. */
  private def zorderDeclaredQuery(s: SparkSession, d: String): DataFrame =
      reprobed("meta_zorder_declared") { () =>
    val failed = Seq.newBuilder[String]
    // AQE off for this probe session: every exchange in the gate
    // carries an EXPLICIT partition count (the INSERT's REPARTITION(8)
    // hint, the maintenance rewrite's repartitionByRange(targetFiles))
    // which AQE may not coalesce, and the probes are count(*) folds
    // over an 8-file table — so AQE contributes only its per-stage
    // job dispatches here (~6 of this gate's jobs), no plan
    // improvement at any scale. The 100 TB story is unchanged: real
    // deployments keep AQE on their sessions; the declared-layout
    // machinery itself never reads this flag.
    val iso = probeSession(s, "spark.sql.adaptive.enabled" -> "false")
    val wh = SqlCat.ensure(iso)
    val base = uniqName("docs_zo")
    val t = s"${SqlCat.name}.g.$base"
    val root = s"$wh/g/$base"
    iso.sql(s"CREATE TABLE $t (doc_id BIGINT, n_chars BIGINT) TBLPROPERTIES " +
      "('statsKey'='doc_id', 'statsKey2'='n_chars', 'zorder'='true')")
    Tables.documents(iso, d).select(col("doc_id"), col("n_chars"))
      .createOrReplaceTempView("graft_zo_src")
    // plain appends: the declared interleave is deliberately NOT paid
    // per write — the layout dissolves until maintenance restores it
    iso.sql(s"INSERT INTO $t SELECT /*+ REPARTITION(8) */ doc_id, n_chars " +
      "FROM graft_zo_src")
    val snap = graft.sources.SnapshotTable
    val dissolved = !snap.describeDetail(iso, root).zorderedLayout
    snap.maintain(iso, root, smallBytes = 1L, relayout = true)
    val probeChars = iso.sql(
      "SELECT n_chars FROM graft_zo_src WHERE doc_id = 0").head().getLong(0)
    val detail = snap.describeDetail(iso, root)
    val total = detail.nFiles
    def keptOf(q: String): Int = {
      val df = iso.sql(q)
      df.collect()
      graft.PlanWalk.batchScans(df).map(_.scan)
        .collect { case g: graft.catalog.GraftScan => g.keptFileCount }.max
    }
    def diag(name: String, ok: Boolean, detail: => String): Boolean = {
      if (!ok) {
        failed += s"$name: $detail"
        Console.err.println(s"[meta_zorder_declared] $name FALSE: $detail")
      }
      ok
    }
    val restored = diag("zorder_restored",
      dissolved && detail.declaredZorder && detail.zorderedLayout && total > 1,
      s"dissolved=$dissolved declared=${detail.declaredZorder} " +
        s"laid=${detail.zorderedLayout} files=$total")
    // a point probe on EITHER key must skip files via the restored
    // interleave's per-file ranges (probe values exist by construction)
    val keptA = keptOf(s"SELECT count(*) FROM $t WHERE doc_id = 0")
    val keptB = keptOf(s"SELECT count(*) FROM $t WHERE n_chars = $probeChars")
    val prunedA = diag("probe_key1_pruned", keptA < total, s"kept=$keptA total=$total")
    val prunedB = diag("probe_key2_pruned", keptB < total, s"kept=$keptB total=$total")
    graft.Scratch.registerForCleanup(root)
    (iso.sql(s"SELECT count(*) AS n_docs, sum(n_chars) AS sum_chars FROM $t")
      .withColumn("zorder_restored", lit(restored))
      .withColumn("probe_key1_pruned", lit(prunedA))
      .withColumn("probe_key2_pruned", lit(prunedB)),
      failed.result())
  }

  /** Z-ORDER DECLARED ON A STRING PRIMARY — the exact key shape the
    * reference's 2D chunk identity motivates the layout with:
    * `(filename: STRING, chunk_idx: INT)`
    * (/root/reference/src/managers/chunking_manager.py:82-87), here
    * `(source STRING, doc_id BIGINT)`. The string key interleaves on
    * its zero-padded unsigned byte prefix (order-compatible with the
    * manifest's binary min/max comparison), so after ONE
    * `maintain(relayout = true)` cycle point probes on EITHER the
    * string or the integral key prune files through the manifest's
    * two-key stats. Same gate discipline as `meta_zorder_declared`:
    * plain appends dissolve the declared layout, maintenance restores
    * it, and every boolean rides the bounded re-probe. */
  private def zorderStringQuery(s: SparkSession, d: String): DataFrame =
      reprobed("meta_zorder_string") { () =>
    val failed = Seq.newBuilder[String]
    // AQE off: same rationale as meta_zorder_declared — all exchanges
    // carry explicit partition counts, probes are tiny count(*) folds
    val iso = probeSession(s, "spark.sql.adaptive.enabled" -> "false")
    val wh = SqlCat.ensure(iso)
    val base = uniqName("docs_zs")
    val t = s"${SqlCat.name}.g.$base"
    val root = s"$wh/g/$base"
    iso.sql(s"CREATE TABLE $t (source STRING, doc_id BIGINT) TBLPROPERTIES " +
      "('statsKey'='source', 'statsKey2'='doc_id', 'zorder'='true')")
    Tables.documents(iso, d).select(col("source"), col("doc_id"))
      .createOrReplaceTempView("graft_zs_src")
    // plain appends: the declared interleave is deliberately NOT paid
    // per write — the layout dissolves until maintenance restores it
    iso.sql(s"INSERT INTO $t SELECT /*+ REPARTITION(8) */ source, doc_id " +
      "FROM graft_zs_src")
    val snap = graft.sources.SnapshotTable
    val dissolved = !snap.describeDetail(iso, root).zorderedLayout
    snap.maintain(iso, root, smallBytes = 1L, relayout = true)
    val probeSrc = iso.sql(
      "SELECT source FROM graft_zs_src WHERE doc_id = 0").head().getString(0)
    val detail = snap.describeDetail(iso, root)
    val total = detail.nFiles
    def keptOf(q: String): Int = {
      val df = iso.sql(q)
      df.collect()
      graft.PlanWalk.batchScans(df).map(_.scan)
        .collect { case g: graft.catalog.GraftScan => g.keptFileCount }.max
    }
    def diag(name: String, ok: Boolean, detail: => String): Boolean = {
      if (!ok) {
        failed += s"$name: $detail"
        Console.err.println(s"[meta_zorder_string] $name FALSE: $detail")
      }
      ok
    }
    val restored = diag("zorder_restored",
      dissolved && detail.declaredZorder && detail.zorderedLayout && total > 1,
      s"dissolved=$dissolved declared=${detail.declaredZorder} " +
        s"laid=${detail.zorderedLayout} files=$total")
    val keptA = keptOf(s"SELECT count(*) FROM $t WHERE source = '$probeSrc'")
    val keptB = keptOf(s"SELECT count(*) FROM $t WHERE doc_id = 0")
    val prunedA = diag("probe_string_pruned", keptA < total,
      s"kept=$keptA total=$total")
    val prunedB = diag("probe_int_pruned", keptB < total,
      s"kept=$keptB total=$total")
    graft.Scratch.registerForCleanup(root)
    (iso.sql(s"SELECT count(*) AS n_docs, sum(doc_id) AS sum_ids FROM $t")
      .withColumn("zorder_restored", lit(restored))
      .withColumn("probe_string_pruned", lit(prunedA))
      .withColumn("probe_int_pruned", lit(prunedB)),
      failed.result())
  }

  /** PARTITION-SPEC EVOLUTION, gated end to end (Iceberg's ADD
    * PARTITION FIELD, fronted as `ALTER TABLE … SET TBLPROPERTIES
    * ('partitionCols'=…)`): era 1 lands under `lang=` directories, ONE
    * metadata commit adds `source` to the spec (zero data I/O — the
    * file set is compared before/after), era 2 lands under two-level
    * directories, and the probes pin the per-era pruning rule — a lang
    * predicate skips files of BOTH eras (both spell lang), a source
    * predicate skips era-2 files while conservatively keeping era 1.
    * At 100 TB this is the reference's per-embedding-model
    * re-partition (etl_processor.py:123-124) as one manifest write
    * instead of a table rewrite. */
  private def partitionEvolutionQuery(s: SparkSession, d: String): DataFrame =
      reprobed("meta_partition_evolution") { () =>
    val failed = Seq.newBuilder[String]
    val iso = probeSession(s)
    val wh = SqlCat.ensure(iso)
    val base = uniqName("docs_pevo")
    val t = s"${SqlCat.name}.g.$base"
    val root = s"$wh/g/$base"
    iso.sql(s"CREATE TABLE $t (doc_id BIGINT, lang STRING, source STRING) " +
      "PARTITIONED BY (lang) TBLPROPERTIES ('statsKey'='doc_id')")
    Tables.documents(iso, d).select(col("doc_id"), col("lang"), col("source"))
      .createOrReplaceTempView("graft_pevo_src")
    iso.sql(s"INSERT INTO $t SELECT doc_id, lang, source FROM graft_pevo_src " +
      "WHERE doc_id % 2 = 0") // era 1: lang directories
    def files(): Set[String] =
      graft.sources.SnapshotTable.filesDf(iso, root).collect()
        .map(_.getString(0)).toSet
    val era1 = files()
    iso.sql(s"ALTER TABLE $t SET TBLPROPERTIES ('partitionCols'='lang,source')")
    val metadataOnly = files() == era1
    iso.sql(s"INSERT INTO $t SELECT doc_id, lang, source FROM graft_pevo_src " +
      "WHERE doc_id % 2 = 1") // era 2: lang/source directories
    val probeSource = iso.sql(
      "SELECT source FROM graft_pevo_src WHERE doc_id = 0").head().getString(0)
    val total = files().size
    def keptOf(q: String): Int = {
      val df = iso.sql(q)
      df.collect()
      graft.PlanWalk.batchScans(df).map(_.scan)
        .collect { case g: graft.catalog.GraftScan => g.keptFileCount }.max
    }
    def diag(name: String, ok: Boolean, detail: => String): Boolean = {
      if (!ok) {
        failed += s"$name: $detail"
        Console.err.println(s"[meta_partition_evolution] $name FALSE: $detail")
      }
      ok
    }
    val keptLang = keptOf(s"SELECT doc_id FROM $t WHERE lang = 'en'")
    val keptSrc = keptOf(s"SELECT doc_id FROM $t WHERE source = '$probeSource'")
    val evoOk = diag("evolved_metadata_only", metadataOnly,
      s"file set changed across ALTER")
    val langOk = diag("lang_prunes_both_eras", keptLang < total,
      s"kept=$keptLang total=$total")
    val srcOk = diag("source_prunes_new_era",
      keptSrc < total && keptSrc >= era1.size,
      s"kept=$keptSrc era1=${era1.size} total=$total")
    graft.Scratch.registerForCleanup(root)
    (iso.sql(s"SELECT lang, source, count(*) AS n_docs FROM $t " +
      "GROUP BY lang, source ORDER BY lang, source")
      .withColumn("evolved_metadata_only", lit(evoOk))
      .withColumn("lang_prunes_both_eras", lit(langOk))
      .withColumn("source_prunes_new_era", lit(srcOk)),
      failed.result())
  }

  /** The retrieval surface fully NAME-ADDRESSED: a vector-store table
    * in the catalog, ranked by the catalog's own `cosine_sim` scalar —
    * `SELECT ... ORDER BY graft.g.cosine_sim(embedding, q) DESC LIMIT
    * k` on a stock session, hash-equal to the DataFrame-path
    * `vec_cosine_topk` (same sequential accumulation, same rounding).
    * The function executes through the magic-method [[org.apache.spark
    * .sql.catalyst.expressions.objects.Invoke]] path, so the score
    * loop compiles into the scan's codegen stage — no per-row
    * reflection. Reference analog: index_manager.py:110-116
    * (similarity_search over the store), SQL-fronted. */
  private def cosineTopKSqlCatalog(s: SparkSession, d: String): DataFrame = {
    val wh = SqlCat.ensure(s)
    val base = uniqName("vs_cos_sql") // two-runner collision guard
    val t = s"${SqlCat.name}.g.$base"
    s.sql(s"CREATE TABLE $t (vec_id BIGINT, label BIGINT, embedding ARRAY<FLOAT>) " +
      "TBLPROPERTIES ('statsKey'='vec_id')")
    Tables.embeddings(s, d)
      .select(col("vec_id"), col("label").cast("long").as("label"), col("embedding"))
      .createOrReplaceTempView("graft_cos_sql_src")
    s.sql(s"INSERT INTO $t SELECT vec_id, label, embedding FROM graft_cos_sql_src")
    graft.Scratch.registerForCleanup(s"$wh/g/$base")
    s.sql(
      s"""WITH q AS (SELECT embedding AS qv FROM $t WHERE vec_id = 0)
         |SELECT t.vec_id AS vec_id, t.label AS label,
         |       round(${SqlCat.name}.g.cosine_sim(t.embedding, q.qv), 6) AS score
         |FROM $t t, q
         |ORDER BY score DESC, vec_id
         |LIMIT 20""".stripMargin)
  }

  private def spjCatalogJoin(s: SparkSession, d: String): DataFrame = {
    // SPJ keys + broadcast-off PINNED on a throwaway session (broadcast
    // off: a shuffle is the only alternative), tables per-invocation —
    // same isolation discipline as the partition gates
    // AQE off: storage-partitioned planning is STATIC (EnsureRequirements
    // over KeyGroupedPartitioning), so with no adaptive re-plan possible
    // the zero-exchange invariants are provable on the planned physical
    // tree WITHOUT executing the join — the gate previously ran the full
    // join twice just to finalize AQE before walking the plan. The
    // executed-plan version of the same proof (plus sort-freeness) is
    // pinned in GraftCatalogSpec; width 8 matches the bucket count.
    val iso = probeSession(s,
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.shuffle.partitions" -> "8",
      "spark.sql.adaptive.enabled" -> "false")
    val wh = SqlCat.ensure(iso)
    val baseA = uniqName("spj_orders")
    val baseB = uniqName("spj_cust")
    val ta = s"${SqlCat.name}.g.$baseA"
    val tb = s"${SqlCat.name}.g.$baseB"
    val rootA = s"$wh/g/$baseA"
    val rootB = s"$wh/g/$baseB"
    // bucketing DECLARED at create: every INSERT writes bucket-per-file
    // on the stats key — the layout is established purely through SQL,
    // no maintenance call anywhere in this gate
    iso.sql(s"CREATE TABLE $ta (o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE) " +
      "TBLPROPERTIES ('statsKey'='o_custkey', 'buckets'='8')")
    iso.sql(s"CREATE TABLE $tb (c_custkey BIGINT, c_name STRING) " +
      "TBLPROPERTIES ('statsKey'='c_custkey', 'buckets'='8')")
    // a deterministic quarter of the orders: storage-partitioned join
    // planning is a property of the DECLARED bucket layout, not the
    // row count — the INSERT, MERGE, both zero-exchange collects, and
    // the oracle hash all move 4× less for the same proof
    Tables.orders(iso, d).filter(col("o_orderkey") % 4 === 0)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .createOrReplaceTempView("graft_spj_orders_src")
    Tables.customer(iso, d).select(col("c_custkey"), col("c_name"))
      .createOrReplaceTempView("graft_spj_cust_src")
    // the two bucketed INSERTs land in different tables — independent
    // jobs, overlapped (guide §2.6)
    graft.Concurrency.overlap(
      { iso.sql(s"INSERT INTO $ta SELECT o_orderkey, o_custkey, o_totalprice FROM graft_spj_orders_src"); () },
      { iso.sql(s"INSERT INTO $tb SELECT c_custkey, c_name FROM graft_spj_cust_src"); () })
    def zeroExchangeOf(df: DataFrame): Boolean =
      // AQE is OFF on iso (pinned above), so executedPlan is the final
      // static tree — walking it plans but does NOT run the join
      graft.PlanWalk.executedNodes(df.queryExecution.executedPlan)
        .count(_.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeLike]) == 0
    val joinSql = s"SELECT b.c_custkey AS c_custkey, b.c_name AS c_name, " +
      s"a.o_totalprice AS o_totalprice FROM $ta a JOIN $tb b " +
      "ON a.o_custkey = b.c_custkey"
    val zeroExchange = zeroExchangeOf(iso.sql(joinSql))
    // steady-state CDC: a MERGE rewrites files on the declared table
    // (value-neutral so the oracle stays a plain join), a point
    // DELETE leaves deletion-vector debt on the other side — and the
    // co-located join must STILL plan zero exchanges, with no
    // maintenance call anywhere (the replacing write re-buckets, the
    // scan serves dv files under their bucket ids)
    // one matched key → runtime group filtering rewrites ONE bucket
    // file (the gate proves the layout survives, not a full rewrite).
    // The MERGE commits to table A and the DELETE to table B —
    // independent single-writer commits on disjoint roots, overlapped
    // (guide §2.6) like the INSERTs above; the post-CDC join reads
    // both only after the pair completes.
    graft.Concurrency.overlap(
      { iso.sql(s"""MERGE INTO $ta t
          |USING (SELECT o_orderkey, o_custkey, o_totalprice
          |       FROM graft_spj_orders_src ORDER BY o_orderkey LIMIT 1) src
          |ON t.o_orderkey = src.o_orderkey
          |WHEN MATCHED THEN UPDATE SET *""".stripMargin); () },
      { iso.sql(s"DELETE FROM $tb WHERE c_custkey = 1"); () })
    val j2 = iso.sql(joinSql)
    val zeroExchangePostCdc = zeroExchangeOf(j2)
    graft.Scratch.registerForCleanup(rootA)
    graft.Scratch.registerForCleanup(rootB)
    // proofs done: the RETURNED frame re-executes when the runner
    // writes it — un-pin broadcast so that run plans freely (iso is
    // private; the pin existed only for the zero-exchange premise)
    iso.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    pinInvariants("join_spj_catalog",
      ("zero_exchange", zeroExchange, () => "pre-CDC SPJ planned a shuffle"),
      ("zero_exchange_post_cdc", zeroExchangePostCdc, () =>
        j2.queryExecution.executedPlan.toString.linesIterator.take(8)
          .mkString(" | ")))
    j2.withColumn("zero_exchange", lit(zeroExchange))
      .withColumn("zero_exchange_post_cdc", lit(zeroExchangePostCdc))
  }

  private def snapshotSqlCycle(s0: SparkSession, d: String): DataFrame = {
    // <400-row frames across CREATE/INSERT/DELETE/MERGE/DDL + five
    // probe reads: width-4 throwaway session (the restore cycle's
    // rationale); the catalog conf binds per-session via ensure(iso)
    val s = probeSession(s0,
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.adaptive.enabled" -> "false")
    val wh = SqlCat.ensure(s)
    val base = uniqName("docs_sql") // two-runner collision guard
    val t = s"${SqlCat.name}.g.$base"
    val snap = graft.sources.SnapshotTable
    val root = s"$wh/g/$base"
    s.sql(s"CREATE TABLE $t (doc_id BIGINT, n_chars BIGINT) " +
      "TBLPROPERTIES ('statsKey'='doc_id')")                          // v1
    val docs = Tables.documents(s, d).select(col("doc_id"), col("n_chars"))
    docs.filter(col("doc_id") < 400L).repartitionByRange(4, col("doc_id"))
      .createOrReplaceTempView("graft_sql_src")
    // the MERGE below re-reads the source; a flat view spares it the
    // range-partitioner's sample pass (the 4-file range layout matters
    // only for the INSERT that lays the table out)
    docs.filter(col("doc_id") < 400L)
      .createOrReplaceTempView("graft_sql_src_flat")
    s.sql(s"INSERT INTO $t SELECT doc_id, n_chars FROM graft_sql_src") // v2
    val vInsert = snap.versions(s, root).last
    val cInsert = s.sql(s"SELECT count(*) FROM $t").head().getLong(0)
    def dataFiles(): Set[String] = {
      import scala.jdk.CollectionConverters._
      val p = java.nio.file.Paths.get(root, "data")
      if (!java.nio.file.Files.exists(p)) Set.empty
      else java.nio.file.Files.walk(p).iterator().asScala
        .filter(_.toString.endsWith(".parquet")).map(_.toString).toSet
    }
    // metadata-only DELETE: Spark's OptimizeMetadataOnlyDeleteFromTable
    // routes the translatable predicate to SupportsDelete → a dv
    // commit; no data file may move
    val beforeDelete = dataFiles()
    s.sql(s"DELETE FROM $t WHERE doc_id >= 100 AND doc_id < 150")      // v3 (if any row)
    val dvZeroCopy = dataFiles() == beforeDelete
    val vDelete = snap.versions(s, root).last
    val cDelete = s.sql(s"SELECT count(*) FROM $t").head().getLong(0)
    // MERGE INTO: updates touch existing keys, inserts extend the table
    s.sql(
      s"""MERGE INTO $t tgt
         |USING (SELECT doc_id, n_chars + 1000000 AS n_chars FROM graft_sql_src_flat
         |       WHERE doc_id % 97 = 0
         |         AND NOT (doc_id >= 100 AND doc_id < 150)) src
         |ON tgt.doc_id = src.doc_id
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)               // v4
    // zero-copy DDL through SQL
    val beforeRename = dataFiles()
    s.sql(s"ALTER TABLE $t RENAME COLUMN doc_id TO document_id")       // v5
    val ddlZeroCopy = dataFiles() == beforeRename
    // time travel reads each version's own state (and, pre-rename, its
    // own column names). The three version reads union into ONE
    // collected plan (the delta-log gate's dispatch trick — three
    // actions become one; the per-version resolution work is
    // unchanged), and the pruning probe's min rides the vInsert leg
    // for free: the table at vInsert IS the doc_id < 400 slice, so its
    // min equals the source min the probe used to re-aggregate.
    val tt = s.sql(
      s"""SELECT 'vi' AS k, count(*) AS c, min(doc_id) AS mn
         |  FROM $t VERSION AS OF $vInsert
         |UNION ALL SELECT 'vd', count(*), NULL FROM $t VERSION AS OF $vDelete
         |UNION ALL SELECT 'vw', count(*), NULL FROM $t VERSION AS OF $vInsert
         |  WHERE doc_id >= 100 AND doc_id < 150""".stripMargin)
      .collect().map(r => r.getString(0) -> r).toMap
    val ttOk = tt("vi").getLong(1) == cInsert &&
      tt("vd").getLong(1) == cDelete &&
      tt("vw").getLong(1) == cInsert - cDelete
    // executed-plan pruning proof on the RENAMED key through the DSv2
    // scan; degenerate layouts (≤1 file, empty slice) pass trivially
    val minRow = tt("vi")
    val pruned =
      if (minRow.isNullAt(2) || beforeRename.size <= 1) true
      else {
        val probe = s.sql(
          s"SELECT * FROM $t WHERE document_id = ${minRow.getLong(2)}")
        probe.collect()
        val gs = graft.PlanWalk.batchScans(probe).map(_.scan)
          .collect { case g: graft.catalog.GraftScan => g }
        gs.nonEmpty && gs.map(_.keptFileCount).max == 1
      }
    graft.Scratch.registerForCleanup(root)
    pinInvariants("meta_snapshot_sql",
      ("dv_zero_copy", dvZeroCopy, () => "SQL DELETE moved data files"),
      ("ddl_zero_copy", ddlZeroCopy, () => "RENAME COLUMN moved data files"),
      ("time_travel", ttOk, () => s"vInsert=$vInsert cInsert=$cInsert " +
        s"vDelete=$vDelete cDelete=$cDelete"),
      ("pruned", pruned, () => "renamed-key point probe kept >1 file"))
    s.sql(s"SELECT document_id, n_chars FROM $t")
      .withColumn("dv_zero_copy", lit(dvZeroCopy))
      .withColumn("ddl_zero_copy", lit(ddlZeroCopy))
      .withColumn("time_travel", lit(ttOk))
      .withColumn("pruned", lit(pruned))
      .orderBy(col("document_id"))
  }

  private def snapshotSqlCycleSql: String = """
    SELECT doc_id AS document_id,
           CASE WHEN doc_id % 97 = 0 THEN n_chars + 1000000 ELSE n_chars END AS n_chars,
           TRUE AS dv_zero_copy, TRUE AS ddl_zero_copy,
           TRUE AS time_travel, TRUE AS pruned
    FROM documents
    WHERE doc_id < 400 AND NOT (doc_id >= 100 AND doc_id < 150)
    ORDER BY document_id"""

  private def snapshotDeltaLogCycle(s0: SparkSession, d: String): DataFrame = {
    // ≤430-row frames across 6 commits + 5 counts: width-4 throwaway
    // session for the same reason as the restore cycle
    val s = probeSession(s0,
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.adaptive.enabled" -> "false")
    val root = java.nio.file.Files.createTempDirectory("graft-snapdeltalog").toString
    val docs = Tables.documents(s, d).select(col("doc_id"), col("n_chars"))
    val snap = graft.sources.SnapshotTable
    snap.create(s, root,                                               // v1: bulk, 4 files
      docs.filter(col("doc_id") < 400L).repartitionByRange(4, col("doc_id")),
      statsKey = Some("doc_id"))
    (0 until 3).foreach { i =>                                         // v2..v4: micro appends
      snap.append(s, root,
        docs.filter(col("doc_id") >= 400L + 10L * i &&
          col("doc_id") < 400L + 10L * (i + 1)).coalesce(1))
    }
    snap.merge(s, root,                                                // v5: narrow update
      docs.filter(col("doc_id") % 397 === 0 && col("doc_id") < 400L)
        .withColumn("n_chars", lit(-1L)), key = "doc_id")
    // the v6 dv-delete commit and the probe reads are independent: the
    // expected-count aggregate reads only the SOURCE parquet, and the
    // version-count union reads only v1/v4/v5 — immutable once
    // committed, untouched by v6's dv sidecars. Overlap them (guide
    // §2.6); the raw-manifest checks below need v6, so they stay after.
    val (_, (exp, vCountRows)) = graft.Concurrency.overlap(
      snap.deleteWhere(s, root, col("doc_id") % 101 === 0),            // v6: dv delete
      {
        // chain resolution: each version's row count is its exact
        // state. Both expected counts ride ONE aggregate, and the
        // three version reads union into ONE counted plan — five
        // actions become two (the resolution work per version is
        // unchanged; only job dispatches drop)
        val e = docs.filter(col("doc_id") < 430L)
          .agg(sum(when(col("doc_id") < 400L, 1L).otherwise(0L)),
            count(lit(1))).head()
        val vc = Seq(1, 4, 5)
          .map(v => snap.read(s, root, Some(v)).select(lit(v.toLong).as("v")))
          .reduce(_ unionAll _)
          .groupBy(col("v")).count().collect()
        (e, vc)
      })
    def raw(v: Int): java.util.List[String] = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(root, "_snapshots", f"v$v%07d.json"))
    // physical: the appends are deltas of ONE entry line (header +
    // schema + 1), and the narrow merge/delete stayed delta too
    val deltaLog = (2 to 4).forall(v =>
      raw(v).get(0).contains("\"base\"") && raw(v).size <= 3) &&
      (5 to 6).forall(v => raw(v).get(0).contains("\"base\""))
    val (c400, c430) = (exp.getLong(0), exp.getLong(1))
    val vCounts = vCountRows
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val resolves = vCounts.get(1L).contains(c400) &&
      vCounts.get(4L).contains(c430) &&
      vCounts.get(5L).contains(c430)
    snap.expireVersions(s, root, keepLast = 2)                         // cuts v5's chain
    snap.vacuum(s, root, minAgeMs = 0L)
    val ckptUsed = java.nio.file.Files.exists(
      java.nio.file.Paths.get(root, "_snapshots", "v0000005.ckpt.json")) &&
      snap.read(s, root, Some(5)).count() == c430
    graft.Scratch.registerForCleanup(root)
    pinInvariants("meta_snapshot_delta_log",
      ("delta_log", deltaLog, () => (2 to 6).map(v =>
        s"v$v:${raw(v).size}L base=${raw(v).get(0).contains("\"base\"")}").mkString(" ")),
      // diag reports the PRE-expiry counts already taken — re-reading
      // v1 here would fail for the wrong reason (expireVersions above
      // dropped it)
      ("resolves", resolves, () => s"c400=$c400 c430=$c430 " +
        s"counts=${vCounts.toSeq.sortBy(_._1).mkString(",")}"),
      ("ckpt_used", ckptUsed, () => "shadow checkpoint missing or v5 misresolved"))
    snap.read(s, root)
      .withColumn("delta_log", lit(deltaLog))
      .withColumn("resolves", lit(resolves))
      .withColumn("ckpt_used", lit(ckptUsed))
      .orderBy(col("doc_id"))
  }

  private def snapshotDeltaLogCycleSql: String = """
    SELECT doc_id,
           CASE WHEN doc_id % 397 = 0 AND doc_id < 400 THEN CAST(-1 AS BIGINT)
                ELSE n_chars END AS n_chars,
           TRUE AS delta_log, TRUE AS resolves, TRUE AS ckpt_used
    FROM documents
    WHERE doc_id < 430 AND doc_id % 101 <> 0
    ORDER BY doc_id"""

  private def snapshotCompactIncrCycle(s: SparkSession, d: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft-snapci").toString
    val docs = Tables.documents(s, d).select(col("doc_id"), col("n_chars"))
    graft.sources.SnapshotTable.create(s, root,                        // bulk
      docs.filter(col("doc_id") < 400L).coalesce(1), statsKey = Some("doc_id"))
    (0 until 4).foreach { i =>                                         // debt
      graft.sources.SnapshotTable.append(s, root,
        docs.filter(col("doc_id") % 4 === i && col("doc_id") >= 400L).coalesce(1))
    }
    graft.sources.SnapshotTable.compactSmall(s, root,
      smallBytes = 1L << 20, cluster = true)
    graft.Scratch.registerForCleanup(root)
    graft.sources.SnapshotTable.read(s, root).orderBy(col("doc_id"))
  }

  private def snapshotCompactIncrCycleSql: String = """
    SELECT doc_id, n_chars FROM documents ORDER BY doc_id"""

  /** The snapshot table as a STREAMING SOURCE, gated end to end: a
    * create+append lifecycle is consumed by a real
    * `readStream.format("graft-table")` query into a parquet file
    * sink, then MORE commits land (including a compact, which must
    * deliver nothing) and a SECOND run resumes from the same
    * checkpoint. The oracle is the full document set — a re-delivered
    * batch (offset replay bug) or a lost one (offset skip) changes
    * the row multiset and breaks the hash, so exactly-once across the
    * restart is what's being hashed. Output rides a real file sink
    * and stays distributed. */
  private def snapshotStreamReadCycle(s: SparkSession, d: String): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-snapstream").toString
    val root = s"$tmp/table"
    val docs = Tables.documents(s, d).select(col("doc_id"), col("n_chars"))
    graft.sources.SnapshotTable.create(s, root,                        // v1
      docs.filter(col("doc_id") < 200L), statsKey = Some("doc_id"))
    graft.sources.SnapshotTable.append(s, root,                        // v2
      docs.filter(col("doc_id") >= 200L && col("doc_id") < 400L))
    def drain(): Unit = {
      val q = s.readStream.format("graft-table").option("path", root).load()
        .writeStream.format("parquet").option("path", s"$tmp/out")
        .option("checkpointLocation", s"$tmp/cp")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    drain()                                                            // consumes v1+v2
    graft.sources.SnapshotTable.compact(s, root, targetFiles = 2,      // v3: no rows
      cluster = true)
    graft.sources.SnapshotTable.append(s, root,                        // v4
      docs.filter(col("doc_id") >= 400L))
    drain()                                                            // resumes: v3+v4 only
    graft.Scratch.registerForCleanup(tmp)
    s.read.schema(graft.sources.SnapshotTable.tableSchema(s, root))
      .parquet(s"$tmp/out")
      .orderBy(col("doc_id"))
  }

  private def snapshotStreamReadCycleSql: String = """
    SELECT doc_id, n_chars FROM documents ORDER BY doc_id"""

  /** Z-ORDER layout, gated end to end: the table is z-order COMPACTED
    * on the engine's two-part identity and then probed with a
    * single-key predicate on EACH dimension separately — the workload
    * z-order exists for (hierarchical prunes only the leading key; a
    * balanced z-curve prunes on either). The key pair is deliberately
    * width-UNBALANCED (l_orderkey spans many bits, l_linenumber three)
    * — the exact shape where a raw-bit interleave degenerates into an
    * orderkey sort — so this gate holds the normalization honest, not
    * just the happy path. The oracle is the union of both predicates'
    * relational definitions: a file wrongly skipped under either probe
    * loses rows and breaks the hash. File-count proofs (that both
    * probes actually PRUNE) live in SnapshotTableSpec, where the scan
    * metric is observable. */
  private def snapshotZorderReadCycle(s: SparkSession, d: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft-snapz").toString
    // a deterministic orderkey slice: the z-layout's balance is a
    // property of the key domains, not the row count — the slice keeps
    // every code path (agg, interleave, range partition, both probes)
    // at a tenth of the rewrite I/O
    val li = Tables.lineitem(s, d)
      .filter(col("l_orderkey") <= 60000L)
      .select(col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
        col("l_extendedprice"))
    graft.sources.SnapshotTable.create(s, root, li.repartition(4),
      statsKey = Some("l_orderkey"), statsKey2 = Some("l_linenumber"))
    graft.sources.SnapshotTable.compact(s, root, targetFiles = 8, zorder = true)
    def probe(tag: String, pred: Column): DataFrame =
      graft.sources.SnapshotTable.readIndexed(s, root).filter(pred)
        .select(lit(tag).as("probe"), col("l_orderkey"), col("l_linenumber"),
          col("l_extendedprice"))
    val out = probe("pk", col("l_orderkey") <= 40L)
      .unionAll(probe("sk", col("l_linenumber") === 7L))
      .orderBy(col("probe"), col("l_orderkey"), col("l_linenumber"))
    graft.Scratch.localizeAndDelete(s, out, Seq(root))
  }

  private def snapshotZorderReadCycleSql: String = """
    SELECT * FROM (
      SELECT 'pk' AS probe, l_orderkey,
             CAST(l_linenumber AS BIGINT) AS l_linenumber, l_extendedprice
      FROM lineitem WHERE l_orderkey <= 40
      UNION ALL
      SELECT 'sk', l_orderkey, CAST(l_linenumber AS BIGINT), l_extendedprice
      FROM lineitem WHERE l_linenumber = 7 AND l_orderkey <= 60000)
    ORDER BY probe, l_orderkey, l_linenumber"""

  /** STRING-keyed MERGE through the ACID table, gated end to end — the
    * reference's own merge key (`filename`,
    * document_processor.py:32-49) is a string, so string keys must
    * carry the same delete-then-add semantics AND the same file
    * pruning (binary manifest stats in unsigned byte order; format 3).
    * Zero-padded names keep byte order = numeric order, so the range
    * layout is deterministic. Oracle is the merge's relational
    * definition keyed by the derived name. */
  private def snapshotStringMergeCycle(s: SparkSession, d: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft-snaps").toString
    val docs = Tables.documents(s, d)
      .select(concat(lit("doc-"), lpad(col("doc_id").cast("string"), 8, "0")).as("name"),
        col("n_chars"))
    graft.sources.SnapshotTable.create(s, root,
      docs.withColumn("src", lit("base")).repartitionByRange(2, col("name")),
      statsKey = Some("name"))
    graft.sources.SnapshotTable.merge(s, root,
      docs.filter(expr("CAST(substring(name, 5) AS BIGINT) % 10 = 0"))
        .withColumn("src", lit("upd")),
      key = "name")
    // per-doc output grows with the corpus — stays DISTRIBUTED; the
    // scratch table is deleted by the runner's drain
    graft.Scratch.registerForCleanup(root)
    graft.sources.SnapshotTable.read(s, root)
      .select(col("name"), col("n_chars"), col("src"))
      .orderBy(col("name"))
  }

  private def snapshotStringMergeCycleSql: String = """
    SELECT 'doc-' || lpad(CAST(doc_id AS VARCHAR), 8, '0') AS name, n_chars,
           CASE WHEN doc_id % 10 = 0 THEN 'upd' ELSE 'base' END AS src
    FROM documents ORDER BY name"""

  /** The re-ingestion corpus for [[sourceConvertCycle]], written ONCE
    * per (process, input dir) and deleted at JVM exit. The corpus is
    * query INPUT, not what the query gates (that's the scan+convert
    * path, which re-executes every invocation): rebuilding and deleting
    * thousands of files per run tripled the query's bench cost for no
    * added coverage, and per-invocation dirs leaked /tmp space. */
  private val srcCycleCorpus = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** S1–S4 through real bytes, gated end to end: every document is
    * written to disk as an actual file (executor-side, no driver
    * data), re-ingested via the binaryFile scan, and pushed through
    * [[graft.sources.DocumentSource.convert]] — magic-number sniff +
    * charset decode executing on real file content. Both engines
    * exclude documents whose first character could route into a
    * magic/XML branch (same regex, same RE2/Java semantics), so every
    * compared row exercises the text decode; the magic branches are
    * covered byte-for-byte by SourcesSpec. */
  /** Hive-partitioned EXPORT sink, gated end to end: write the corpus
    * `partitionBy("source", "lang")` (the layout downstream training
    * jobs read selectively), then read ONE partition back through
    * partition discovery and prove the physical layout. The oracle is
    * the partition's relational definition; the booleans pin what SQL
    * can't see — every file of the selective read lives under the
    * `source=.../lang=...` directory pair (no cross-contamination),
    * and a partition-pruned scan touches only that directory's files
    * (the at-scale point of the layout: pruning happens from paths,
    * before any footer is opened). Dynamic partition overwrite mode
    * replaces ONLY rewritten partitions on a second write — the
    * idempotent re-export contract — proven by overwriting one source
    * with marked rows and checking the others kept their bytes. */
  /** Shuffle exchanges in the EXECUTED plan (AQE-resolved). The
    * co-location proofs below hinge on this being zero: a bucketed or
    * dynamically-pruned plan that silently re-shuffles has lost the
    * property the layout was built for. */
  private def countShuffles(df: DataFrame): Int = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case other => other +: other.children.flatMap(nodes)
    }
    nodes(df.queryExecution.executedPlan).count(_.isInstanceOf[ShuffleExchangeExec])
  }

  /** BUCKETED CO-LOCATED JOIN, gated end to end: both fact tables are
    * written `bucketBy(8, orderkey)` + sorted, then joined and
    * aggregated ON THE BUCKET KEY. At 100 TB this is the difference
    * between moving terabytes twice (shuffle both sides, shuffle
    * again for the agg) and moving NOTHING: the join consumes the
    * buckets' co-partitioning and the agg consumes the join's. The
    * `colocated` boolean pins the physical property — with broadcast
    * disabled, the executed join+agg plan contains ZERO shuffle
    * exchanges — and the hash gates the joined numbers against DuckDB
    * running the same join shuffle-free in its own world. */
  private def bucketedColocatedJoin(s: SparkSession, d: String): DataFrame = {
    // broadcast-off PINNED on a throwaway session (so the join would
    // otherwise shuffle both sides); saveAsTable entries land in the
    // EXTERNAL catalog (SharedState — shared across sessions), so the
    // names are per-invocation unique like the DSv2 probe tables
    // AQE off: bucketed co-location is STATIC planning, so the
    // zero-exchange proof reads the final plan without executing the
    // join — the result's one real execution happens in the localize
    val iso = probeSession(s, "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false")
    val tmp = java.nio.file.Files.createTempDirectory("graft-bucketjoin").toString
    val liTbl = uniqName("graft_li_bucketed")
    val ordTbl = uniqName("graft_ord_bucketed")
    // a deterministic quarter of the keyspace: co-location is a
    // property of the bucketed LAYOUT, not the row count — the gate's
    // zero-exchange proof is identical while the two bucketed writes,
    // the join, and the oracle's hash all move 4× less
    // the two bucketed writes are INDEPENDENT jobs (different inputs,
    // different tables): submit them from two threads so the second
    // write's tasks back-fill the first one's tail (guide §2.6) —
    // actions are only sequential when the driver calls them
    // sequentially. Neither write touches the thread-scoped
    // cache/scratch registries, so inheriting executor threads is safe.
    graft.Concurrency.overlap(
      Tables.lineitem(iso, d).filter(col("l_orderkey") % 4 === 0)
        .select("l_orderkey", "l_quantity", "l_extendedprice")
        .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .option("path", s"$tmp/li").mode("overwrite").saveAsTable(liTbl),
      Tables.orders(iso, d).filter(col("o_orderkey") % 4 === 0)
        .select("o_orderkey", "o_totalprice")
        .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .option("path", s"$tmp/ord").mode("overwrite").saveAsTable(ordTbl))
    def joined = iso.table(liTbl)
      .join(iso.table(ordTbl), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n_items"),
        graft.Exact.exactSum(col("l_extendedprice")).as("revenue"),
        max(col("o_totalprice")).as("total_price"))
    // the physical proof: with AQE pinned off above, q's executedPlan
    // is the final static tree — walking it plans without running the
    // join (the old collect()-to-finalize-AQE leg executed the join a
    // second time just to read this boolean)
    val q = joined
    val colocated = countShuffles(q) == 0
    // proof done: let the RESULT run re-plan freely (iso is private, so
    // un-pinning races nothing — the broadcast-off pin was only the
    // zero-exchange proof's "shuffle is the only alternative" premise)
    iso.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    pinInvariants("join_bucketed_colocated",
      ("colocated", colocated, () =>
        q.queryExecution.executedPlan.toString.linesIterator.take(8)
          .mkString(" | ")))
    val out = joined.withColumn("colocated", lit(colocated))
      .orderBy(col("l_orderkey"))
    val localized = graft.Scratch.localizeAndDelete(iso, out, Seq(tmp))
    // the catalog entries point at the deleted tmp paths — drop them
    // so the external catalog never holds dangling tables
    iso.sql(s"DROP TABLE IF EXISTS $liTbl")
    iso.sql(s"DROP TABLE IF EXISTS $ordTbl")
    localized
  }

  private def bucketedColocatedJoinSql: String = s"""
    SELECT l.l_orderkey, COUNT(*) AS n_items,
           ${graft.Exact.sqlSum("l.l_extendedprice")} AS revenue,
           MAX(o.o_totalprice) AS total_price,
           TRUE AS colocated
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE l.l_orderkey % 4 = 0
    GROUP BY l.l_orderkey ORDER BY l.l_orderkey"""

  /** DYNAMIC PARTITION PRUNING, gated end to end: the corpus is
    * exported Hive-partitioned by `lang`, the dimension (a lang
    * attribute table, also on parquet) is filtered on a NON-partition
    * attribute, and the join prunes the fact scan to the surviving
    * partitions at RUNTIME — the partition values are only known
    * after the dim filter runs, so static pruning cannot do this. At
    * 100 TB this is what keeps a dimension-filtered fact query from
    * reading every partition. `dpp_pruned` pins the physical half:
    * the executed fact scan's `numFiles` metric equals the matching
    * partition's file count, strictly fewer than the table's, and the
    * plan carries a dynamicpruning subquery on the partition column. */
  private def dppPartitionedJoin(s: SparkSession, d: String): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-dpp").toString
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("n_chars"), col("source"), col("lang"))
    val dim = docs.select(col("lang")).distinct()
      .withColumn("tier", when(col("lang") === "en", lit("keep")).otherwise(lit("drop")))
    // fact and dim exports are independent jobs — overlap them
    // (guide §2.6; same discipline as the bucketed-join fixture)
    graft.Concurrency.overlap(
      docs.write.mode("overwrite").partitionBy("lang").parquet(s"$tmp/fact"),
      dim.write.mode("overwrite").parquet(s"$tmp/dim"))
    // read back with the WRITER's schema (data cols then partition col,
    // the order partitioned read-back produces): schema inference costs
    // a one-task job per read.parquet on Spark 4, and `query` below is
    // constructed twice (executed probe + result frame) — four
    // inference jobs of this gate's census for zero information
    def query = s.read.schema(docs.schema).parquet(s"$tmp/fact")
      .join(broadcast(s.read.schema(dim.schema).parquet(s"$tmp/dim")
        .filter(col("tier") === "keep")), "lang")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast("long").as("sum_chars"))
    val q = query
    // execute THIS QueryExecution (q.count() would plan and run a
    // separate derived query, leaving q's own scan metrics at zero)
    q.collect()
    // physical proof from the executed plan: the fact scan read only
    // the pruned partition's files, via a dynamicpruning subquery
    // (AQE stage descent lives in the shared graft.PlanWalk)
    val factScan = graft.PlanWalk.fileScans(q)
      .find(f => f.relation.location.rootPaths.exists(_.toString.contains("fact")))
    // static file count straight from the layout (inputFiles ignores
    // filters — the recorded gotcha — so walk the directory)
    def parquetsUnder(p: String): Int = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(p))
        .iterator().asScala.count(_.toString.endsWith(".parquet"))
    }
    val enFiles = parquetsUnder(s"$tmp/fact/lang=en")
    // dynamicpruning check FIRST (short-circuit) and staticFilesNum
    // via get: FileSourceScanExec only registers that metric when DPP
    // planned — a non-DPP plan must report dpp_pruned=false, not crash
    // on Map.apply (e.g. a single-lang corpus where numFiles happens
    // to equal enFiles)
    val dppPruned = factScan.exists { f =>
      f.partitionFilters.exists(_.toString.contains("dynamicpruning")) &&
        f.metrics("numFiles").value == enFiles &&
        f.metrics.get("staticFilesNum").exists(f.metrics("numFiles").value < _.value)
    }
    pinInvariants("join_dpp_partitioned",
      ("dpp_pruned", dppPruned, () => factScan.map(f =>
        s"numFiles=${f.metrics("numFiles").value} enFiles=$enFiles " +
          s"static=${f.metrics.get("staticFilesNum").map(_.value)} " +
          s"dyn=${f.partitionFilters.exists(_.toString.contains("dynamicpruning"))}")
        .getOrElse("no fact scan found")))
    val out = query.withColumn("dpp_pruned", lit(dppPruned))
      .orderBy(col("source"))
    graft.Scratch.localizeAndDelete(s, out, Seq(tmp))
  }

  private def dppPartitionedJoinSql: String = """
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           TRUE AS dpp_pruned
    FROM documents WHERE lang = 'en'
    GROUP BY source ORDER BY source"""

  private def partitionedExportCycle(s0: SparkSession, d: String): DataFrame = {
    // overwrite mode pinned static on a throwaway session, flipped to
    // dynamic only on that private session (probe-session discipline)
    val s = probeSession(s0,
      "spark.sql.sources.partitionOverwriteMode" -> "static",
      // tiny per-directory frames: narrow width (the export still
      // clusters one file per directory — the small-files fix is the
      // repartition below, not the width)
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.adaptive.enabled" -> "false")
    val root = java.nio.file.Files.createTempDirectory("graft-export").toString
    // a deterministic half of the docs: the layout/overwrite proofs are
    // per-directory facts, not row counts — both partitioned writes and
    // the re-read aggregate move 2× less (oracle filtered to match).
    // % 4 <= 1, not % 2: source is parity-correlated with doc_id in the
    // testdata, and the probes need src1 (odd) populated
    val docs = Tables.documents(s, d)
      .filter(col("doc_id") % 4 <= 1)
      .select(col("doc_id"), col("n_chars"), col("source"), col("lang"))
    // cluster rows by their target partition before the write: ONE
    // file per (source, lang) directory instead of one per input task
    // per directory — at 100 TB an unclustered partitioned export is
    // the classic small-files factory (|tasks| × |partitions| files)
    docs.repartition(col("source"), col("lang")).write.mode("overwrite")
      .partitionBy("source", "lang").parquet(root)
    // files an EXECUTED scan actually touched (inputFiles ignores
    // filters; input_file_name reflects partition pruning)
    def scannedFiles(df: DataFrame): Set[String] =
      df.select(input_file_name()).distinct().collect()
        .map(_.getString(0)).toSet
    // selective read: partition filters prune to one directory pair.
    // Both read-backs carry the writer's schema (data cols then the
    // two partition cols — docs' own column order): skips the
    // one-task schema-inference job each read.parquet pays on Spark 4
    val files = scannedFiles(s.read.schema(docs.schema).parquet(root)
      .filter(col("source") === "src1" && col("lang") === "en"))
    val layoutOk = files.nonEmpty &&
      files.forall(f => f.contains("/source=src1/") && f.contains("/lang=en/"))
    // dynamic overwrite: re-export src1 with bumped n_chars; other
    // sources' files must survive untouched (same paths). The carry
    // check is a FILESYSTEM fact, so it walks the directory tree
    // directly — stronger than a scan-touched set (it sees every
    // parquet, not just files a filtered read happened to touch) and
    // two Spark actions cheaper; only layout_ok above keeps the
    // executed-scan form, because pruning is the thing IT proves.
    def otherFiles(): Set[String] = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(root))
        .iterator().asScala.map(_.toString)
        .filter(p => p.endsWith(".parquet") && !p.contains("/source=src1/"))
        .toSet
    }
    val beforeOthers = otherFiles()
    s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    docs.filter(col("source") === "src1")
      .withColumn("n_chars", col("n_chars") + 1000000L)
      .repartition(col("source"), col("lang"))
      .write.mode("overwrite").partitionBy("source", "lang").parquet(root)
    val afterOthers = otherFiles()
    val overwriteOk = afterOthers == beforeOthers
    pinInvariants("sink_partitioned_export",
      ("layout_ok", layoutOk, () =>
        s"offLayout=${files.filterNot(f => f.contains("/source=src1/") &&
          f.contains("/lang=en/")).take(3)} of ${files.size}"),
      ("overwrite_ok", overwriteOk,
        () => s"gained=${afterOthers.diff(beforeOthers).take(3)} " +
          s"lost=${beforeOthers.diff(afterOthers).take(3)}"))
    val out = s.read.schema(docs.schema).parquet(root)
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      .withColumn("layout_ok", lit(layoutOk))
      .withColumn("overwrite_ok", lit(overwriteOk))
      .orderBy(col("source"), col("lang"))
    graft.Scratch.localizeAndDelete(s, out, Seq(root))
  }

  private def partitionedExportCycleSql: String = """
    SELECT source, lang, COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN source = 'src1' THEN n_chars + 1000000
                         ELSE n_chars END) AS BIGINT) AS sum_chars,
           TRUE AS layout_ok, TRUE AS overwrite_ok
    FROM documents WHERE doc_id % 4 <= 1
    GROUP BY source, lang ORDER BY source, lang"""

  private def sourceConvertCycle(s: SparkSession, d: String): DataFrame = {
    // explicit whitespace class — Java \s and RE2 \s disagree on \x0B
    val magicHead = "^[%P<\\u001F\\uFEFF \\t\\r\\n\\f\\x0B]"
    val tmpRoot = srcCycleCorpus.computeIfAbsent(d, dir => {
      val root = java.nio.file.Files.createTempDirectory("graft-srcq").toString
      Tables.documents(s, dir)
        .select(col("doc_id"), col("text"))
        .filter(length(col("text")) > 0 && !col("text").rlike(magicHead))
        .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
          it.foreach { r =>
            java.nio.file.Files.write(
              java.nio.file.Paths.get(root, f"${r.getLong(0)}%08d.txt"),
              r.getString(1).getBytes("UTF-8"))
          }
        }
      Runtime.getRuntime.addShutdownHook(
        new Thread(() => graft.Scratch.deleteRecursively(root)))
      root
    })
    graft.sources.DocumentSource.convert(s,
      graft.sources.DocumentSource.scan(s, tmpRoot))
      .select(
        element_at(split(col("filename"), "\\."), 1).cast("long").as("doc_id"),
        col("format"), col("converted"), col("n_bytes"),
        md5(col("text").cast("binary")).as("text_md5"))
      .orderBy(col("doc_id"))
  }

  private def sourceConvertCycleSql: String = """
    SELECT doc_id, 'text' AS format, TRUE AS converted,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           md5(text) AS text_md5
    FROM documents
    WHERE length(text) > 0
      AND NOT regexp_matches(text, '^[%P<\x{1F}\x{FEFF} \t\r\n\f\x{B}]')
    ORDER BY doc_id"""

  private def configMergeQuery(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val existing = docs.filter(col("doc_id") % 2 === 0)
      .groupBy(col("source")).agg(sort_array(collect_set(col("lang"))).as("ta"))
    val incoming = docs.filter(col("doc_id") % 2 =!= 0)
      .groupBy(col("source")).agg(sort_array(collect_set(col("lang"))).as("tb"))
    existing.join(incoming, Seq("source"), "full")
      .select(col("source"),
        concat_ws(",", sort_array(array_union(
          coalesce(col("ta"), array()), coalesce(col("tb"), array())))).as("merged_types"))
      .withColumn("n_types",
        when(length(col("merged_types")) === 0, 0L)
          .otherwise(size(split(col("merged_types"), ",")).cast("long")))
      .orderBy(col("source"))
  }

  private def configMergeSql: String = """
    WITH a AS (SELECT source, list_sort(list(DISTINCT lang)) AS ta
               FROM documents WHERE doc_id % 2 = 0 GROUP BY source),
    b AS (SELECT source, list_sort(list(DISTINCT lang)) AS tb
          FROM documents WHERE doc_id % 2 <> 0 GROUP BY source),
    m AS (
      SELECT source,
             array_to_string(list_sort(list_distinct(
               list_cat(COALESCE(ta, []), COALESCE(tb, [])))), ',') AS merged_types
      FROM a FULL JOIN b USING (source))
    SELECT source, merged_types,
           CAST(CASE WHEN length(merged_types) = 0 THEN 0
                ELSE len(string_split(merged_types, ',')) END AS BIGINT) AS n_types
    FROM m ORDER BY source"""

  /** Top-N per key through the CUSTOM physical operator (§2.13 ladder
    * rung (c): TopKPerKey logical node + strategy + partial/final
    * SparkPlans with bounded per-key heaps) — the same semantics as
    * the row_number window formulation the oracle runs, without ever
    * sorting whole groups. */
  private def topNOperatorQuery(s: SparkSession, d: String): DataFrame =
    graft.plans.TopKPerGroup.topK(
      Tables.orders(s, d).select(col("o_custkey"), col("o_orderkey"), col("o_totalprice")),
      Seq(col("o_custkey")),
      Seq(col("o_totalprice").desc, col("o_orderkey")), 3)
      .orderBy(col("o_custkey"), col("o_orderkey"))

  private def topNOperatorSql: String = """
    SELECT o_custkey, o_orderkey, o_totalprice FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders) t
    WHERE rn <= 3 ORDER BY o_custkey, o_orderkey"""

  /** Corpus quality gate (Gopher-style heuristic rules over the text
    * analysis metrics): per (lang, source), how many docs survive the
    * token-count / punctuation / token-length filters and how many
    * chars they carry — the prefilter a training-data pipeline runs
    * before chunking. All metrics are exact integer ratios, so the
    * double comparisons are deterministic on both engines. */
  private def qualityFilterQuery(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .withColumn("n_tokens", TextFunctions.tokenCount(col("text")))
      .withColumn("punct_ratio", TextFunctions.punctRatio(col("text")))
      .withColumn("avg_token_len", TextFunctions.avgTokenLen(col("text")))
      .withColumn("keep",
        col("n_tokens") >= 20 && col("punct_ratio") <= 0.05 &&
          col("avg_token_len").between(3.0, 10.0))
    docs.groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_total"),
        sum(col("keep").cast("long")).as("n_kept"),
        sum(when(col("keep"), col("n_chars")).otherwise(lit(0L))).as("kept_chars"))
      .orderBy(col("lang"), col("source"))
  }

  private def qualityFilterSql: String = {
    val enSet = TextFunctions.langStopwords.head._2.map(w => s"'$w'").mkString(", ")
    s"""
    WITH m AS (
      SELECT lang, source, n_chars,
             CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tokens,
             CASE WHEN length(text) = 0 THEN 0.0e0
                  ELSE CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9\\s]')) AS DOUBLE) / length(text) END AS punct_ratio,
             CASE WHEN length(trim(text)) = 0 THEN 0.0e0
                  ELSE CAST(len(regexp_extract_all(text, '\\S')) AS DOUBLE) /
                       len(string_split_regex(trim(text), '\\s+')) END AS avg_token_len
      FROM documents),
    k AS (SELECT lang, source, n_chars,
                 (n_tokens >= 20 AND punct_ratio <= 0.05 AND
                  avg_token_len BETWEEN 3.0e0 AND 10.0e0) AS keep
          FROM m)
    SELECT lang, source, COUNT(*) AS n_total,
           CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN keep THEN n_chars ELSE 0 END) AS BIGINT) AS kept_chars
    FROM k GROUP BY lang, source ORDER BY lang, source"""
  }

  /** Domain mixing (weighted per-source sampling): each source gets a
    * target sampling rate and docs are kept by deterministic
    * content-addressed hash bucket — the reproducible mixture step that
    * follows dedup/quality-filter in a training-data pipeline. */
  private def weightedMixQuery(s: SparkSession, d: String): DataFrame = {
    val rate = when(col("source") === "src0", 100)
      .when(col("source") === "src1", 50)
      .when(col("source") === "src2", 25)
      .otherwise(10)
    val bucket = TextFunctions.md5Long(concat(lit("mix42|"), col("doc_id"))) % 100
    Tables.documents(s, d)
      .withColumn("keep", bucket < rate)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_total"),
        sum(col("keep").cast("long")).as("n_kept"),
        sum(when(col("keep"), col("n_chars")).otherwise(lit(0L))).as("kept_chars"))
      .orderBy(col("source"))
  }

  private def weightedMixSql: String = """
    WITH assigned AS (
      SELECT source, n_chars,
             CAST('0x' || substr(md5('mix42|' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 100 AS bucket,
             CASE source WHEN 'src0' THEN 100 WHEN 'src1' THEN 50 WHEN 'src2' THEN 25 ELSE 10 END AS rate
      FROM documents)
    SELECT source, COUNT(*) AS n_total,
           CAST(SUM(CASE WHEN bucket < rate THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN bucket < rate THEN n_chars ELSE 0 END) AS BIGINT) AS kept_chars
    FROM assigned GROUP BY source ORDER BY source"""

  /** Fixed-BUDGET deterministic sample — the reservoir-sampling shape
    * at rest: exactly `k` documents regardless of corpus size, chosen
    * as the k smallest seeded content hashes (every row's inclusion is
    * a pure function of its key, so the sample is reproducible across
    * runs, engines, and resharding — what an actual 100 TB pipeline
    * needs where a stateful reservoir would not parallelize). The plan
    * matters: sort+limit collapses to TakeOrderedAndProject — each
    * partition keeps its local top-k and only k rows per partition
    * reach the driver-side merge, no global sort, no full shuffle
    * (plan-audited). */
  private def reservoirSampleQuery(s: SparkSession, d: String): DataFrame = {
    val k = 100
    val hkey = md5(concat(lit("rsv1|"), col("doc_id").cast("string")))
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"), col("n_chars"), hkey.as("hkey"))
      .orderBy(col("hkey")).limit(k)
      .select(col("doc_id"), col("source"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  private def reservoirSampleSql: String = """
    SELECT doc_id, source, n_chars FROM (
      SELECT doc_id, source, n_chars
      FROM documents
      ORDER BY md5('rsv1|' || CAST(doc_id AS VARCHAR)) LIMIT 100)
    ORDER BY doc_id"""

  /** J3b interval-containment join: orders bucketed into price ranges
    * via a broadcast range join against a generated bounds table. */
  private def rangeBucketsQuery(s: SparkSession, d: String): DataFrame = {
    val bounds = s.range(0, 12).select(
      col("id").as("bucket"),
      (col("id") * 50000.0).as("lo"),
      ((col("id") + 1) * 50000.0).as("hi"))
    Tables.orders(s, d)
      .join(broadcast(bounds), col("o_totalprice") >= col("lo") && col("o_totalprice") < col("hi"))
      .groupBy(col("bucket"), col("lo"))
      .agg(count(lit(1)).as("n_orders"), graft.Exact.exactSum(col("o_totalprice")).as("total"))
      .select(col("bucket"), col("lo"), col("n_orders"), col("total"))
      .orderBy(col("bucket"))
  }

  private def rangeBucketsSql: String = s"""
    WITH bounds AS (
      SELECT i AS bucket, i * 50000.0e0 AS lo, (i + 1) * 50000.0e0 AS hi
      FROM (SELECT unnest(generate_series(0, 11)) AS i))
    SELECT bucket, lo, COUNT(*) AS n_orders, ${graft.Exact.sqlSum("o_totalprice")} AS total
    FROM orders JOIN bounds ON o_totalprice >= lo AND o_totalprice < hi
    GROUP BY bucket, lo ORDER BY bucket"""

  private def chunkTableQuery(s: SparkSession, d: String): DataFrame =
    Chunking.chunkTable(Tables.documents(s, d))
      .select(col("doc_id"), col("chunk_idx"), md5(col("chunk").cast("binary")).as("chunk_md5"), col("chunk_len"))
      .orderBy(col("doc_id"), col("chunk_idx"))

  private def chunkTableSql: String = s"""
    WITH norm AS (SELECT doc_id, $normalizeSqlExpr AS t FROM documents WHERE length(text) > 0),
    chunks AS (
      SELECT doc_id, CAST(s.i // 150 AS BIGINT) AS chunk_idx,
             substr(t, s.i + 1, 200) AS chunk
      FROM norm, LATERAL (SELECT unnest(generate_series(0, GREATEST(length(t) - 1, 0), 150)) AS i) s)
    SELECT doc_id, chunk_idx, md5(chunk) AS chunk_md5,
           length(chunk) AS chunk_len
    FROM chunks ORDER BY doc_id, chunk_idx"""

  private def chunkStatsSql: String = s"""
    WITH norm AS (SELECT doc_id, $normalizeSqlExpr AS t FROM documents WHERE length(text) > 0),
    chunks AS (
      SELECT doc_id, substr(t, s.i + 1, 200) AS chunk
      FROM norm, LATERAL (SELECT unnest(generate_series(0, GREATEST(length(t) - 1, 0), 150)) AS i) s)
    SELECT doc_id, COUNT(*) AS n_chunks,
           CAST(SUM(length(chunk)) AS BIGINT) AS sum_chars,
           CAST(MAX(length(chunk)) AS BIGINT) AS max_chunk
    FROM chunks GROUP BY doc_id ORDER BY doc_id"""

  private def chunkHeadersSql: String = s"""
    WITH norm AS (SELECT doc_id, $normalizeSqlExpr AS t FROM documents WHERE length(text) > 0),
    marked AS (
      SELECT doc_id, regexp_replace(t, '(?m)^(#{1,4} )', chr(1) || '\\1', 'g') AS m FROM norm),
    chunks AS (
      SELECT doc_id, u.c AS chunk, u.i - 1 AS raw_idx
      FROM marked, LATERAL (SELECT unnest(string_split(m, chr(1))) AS c,
                                   generate_subscripts(string_split(m, chr(1)), 1) AS i) u
      WHERE length(u.c) > 0),
    idxed AS (
      SELECT doc_id, chunk,
             CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY raw_idx) - 1 AS BIGINT) AS chunk_idx
      FROM chunks)
    SELECT doc_id, chunk_idx,
           CAST(length(regexp_extract(chunk, '^(#{1,6}) ', 1)) AS BIGINT) AS header_level,
           regexp_extract(chunk, '^#{1,6} ([^\n]*)', 1) AS header_title,
           CASE WHEN length(trim(chunk)) = 0 THEN 0
                ELSE len(string_split_regex(trim(chunk), '\\s+')) END AS n_tokens,
           CAST(length(chunk) AS BIGINT) AS chunk_len
    FROM idxed ORDER BY doc_id, chunk_idx"""
}
