package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl.Catalog
import graft.operators._
import graft.sources.Tables
import graft.streaming.EventStreams

/** Driver contract — see SURVEY.md §7.
  *
  * Every implemented operator from SURVEY.md §2 is registered here once,
  * as a [[SparkEntry.Query]]: a named query over the driver testdata,
  * with (where SQL-expressible) a DuckDB oracle. Column names and ORDER
  * BYs match between the Spark query and the oracle exactly (the
  * driver's compare sorts columns by name and hashes values).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Insights.topProductsByRevenue(spark, "/root/testdata/sf0.001")

  /** Which of `graft.Bench`'s totals a query's time is reported in. Every
    * query stays in the sweep and in the bench `value`; the split lets
    * the headline track analytic capability on its own.
    */
  sealed trait Family
  /** The result is the analytic payload. */
  case object Analytic extends Family
  /** Measures the engine (sweeps every sketch dial or LSH split against
    * exact twins, grades ANN recall): bench weight with no analytic
    * payload.
    */
  case object Diagnostic extends Family
  /** A multi-batch streaming replay whose cost is the replay harness
    * (state-store and sink-log commits × batches, kill/restart cycles),
    * not the operator, which its batch twin (q26/q28/q66/q141) oracle-
    * checks on its own.
    */
  case object Harness extends Family

  /** One registered query: the driver's name for it, its Spark plan over
    * an sf directory, its DuckDB oracle and its bench family.
    */
  final class Query private (val name: String,
      val plan: (SparkSession, String) => DataFrame,
      sql: () => Option[String], val family: Family) {
    /** SQL over the same parquet tables that DuckDB runs to produce the
      * rows `plan` must match; None where the result is engine-specific.
      */
    def oracle: Option[String] = sql()
  }

  object Query {
    def apply(name: String, plan: (SparkSession, String) => DataFrame,
        oracle: => String, family: Family = Analytic): Query =
      new Query(name, plan, () => Some(oracle), family)

    /** A query the driver checks for rows only: it has no oracle. */
    def rowsOnly(name: String,
        plan: (SparkSession, String) => DataFrame): Query =
      new Query(name, plan, () => None, Analytic)
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  val roster: Seq[Query] = Seq(
    // --- BI insight queries (SQL Analysis docx Q1-Q4) ---
    Query("q01_top_products", Insights.topProductsByRevenue,
      Insights.topProductsByRevenueSql),
    Query("q02_monthly_revenue", Insights.monthlyRevenue,
      Insights.monthlyRevenueSql),
    Query("q03_revenue_by_store", Insights.revenueByStore,
      Insights.revenueByStoreSql),
    Query("q04_balance_bucket", Insights.revenueByBalanceBucket,
      Insights.revenueByBalanceBucketSql),
    // --- dashboard KPIs (F4-F8) ---
    Query("q05_kpi_summary", Insights.kpiSummary, Insights.kpiSummarySql),
    Query("q06_category_share", Insights.categoryShare,
      Insights.categoryShareSql),
    // --- warehouse build (dims, surrogate keys, fact, upsert) ---
    Query("q07_dim_date", (s, d) => Star.dimDate(s, d).orderBy("date_key"),
      Star.dimDateSql),
    Query("q08_dim_store", (s, d) => Star.dimStore(s, d).orderBy("store_key"),
      Star.dimStoreSql),
    // testdata has duplicate (orderkey, linenumber) pairs, so the sort
    // must tiebreak across the whole payload to be deterministic.
    // the repartition is the exchange barrier that stops the ORDER BY's
    // range-sampling job from re-executing the whole join pipeline
    // (see ScalableKeys/percentile note: AQE materializes at exchanges)
    Query("q09_fact_sales", (s, d) => Star.factSales(s, d)
        .repartition(col("sales_id"))
        .orderBy("sales_id", "product_key", "store_key", "date_key",
          "quantity", "unit_price", "discount_pct"),
      Star.factSalesSql),
    Query("q13_date_upsert", (s, d) =>
      Star.upsertByKey(
        Star.dimDateFrom(Tables.orders(s, d), "o_orderdate"),
        Star.dimDateFrom(Tables.lineitem(s, d), "l_shipdate"),
        "date_key").orderBy("date_key"),
      Star.dateUpsertSql),
    // --- data-quality checks (K1-K3) ---
    Query("q10_fk_integrity", Validation.fkIntegrity,
      Validation.fkIntegritySql),
    Query("q11_null_audit", Validation.nullAudit, Validation.nullAuditSql),
    Query("q12_row_counts", Validation.rowCounts, Validation.rowCountsSql),
    // --- deduplication (exact, MinHash+LSH, SimHash) ---
    Query("q14_dedup_exact", Dedup.exactDedup, Dedup.exactDedupSql),
    Query("q15_minhash_signatures", Dedup.minhashSignatures,
      Dedup.minhashSignaturesSql),
    Query("q16_neardup_pairs", (s, d) => Dedup.neardupPairs(s, d),
      Dedup.neardupPairsSql),
    Query("q17_simhash", Dedup.simhash, Dedup.simhashSql),
    Query("q18_simhash_neardup", Dedup.simhashNeardup, Dedup.simhashNeardupSql),
    // --- text analysis ---
    Query("q19_text_stats", TextAnalysis.textStats, TextAnalysis.textStatsSql),
    Query("q20_language_id", TextAnalysis.languageId,
      TextAnalysis.languageIdSql),
    Query("q21_fingerprints", TextAnalysis.fingerprints,
      TextAnalysis.fingerprintsSql),
    // --- similarity search over embeddings ---
    Query("q22_embed_stats", Similarity.embedStats, Similarity.embedStatsSql),
    Query("q23_knn_bruteforce", (s, d) => Similarity.knnBruteForce(s, d),
      Similarity.knnBruteForceSql),
    Query("q24_ann_lsh", Similarity.annLsh, Similarity.annLshSql),
    Query("q25_embed_neardup", (s, d) => Similarity.embeddingNeardup(s, d, 0.4),
      Similarity.embeddingNeardupSql(0.4)),
    // --- event-stream analytics (batch form) ---
    Query("q26_events_hourly", Events.hourlyByType, Events.hourlyByTypeSql),
    Query("q27_events_sliding", Events.slidingHourly, Events.slidingHourlySql),
    Query("q28_events_sessions", Events.sessionize, Events.sessionizeSql),
    Query("q29_events_daily", Events.dailyTypeRollup,
      Events.dailyTypeRollupSql),
    // --- multimodal binary columns: per-kind REAL codec decode ---
    Query("q30_media_features", Multimodal.mediaFeatures,
      Multimodal.mediaFeaturesSql),
    Query("q31_media_rollup", Multimodal.mediaKindRollup,
      Multimodal.mediaKindRollupSql),
    // --- JSON props, blocking Jaccard, IVF ANN ---
    Query("q32_events_props", Events.propsRollup, Events.propsRollupSql),
    Query("q33_ngram_jaccard", (s, d) => Dedup.ngramJaccardPairs(s, d),
      Dedup.ngramJaccardPairsSql),
    Query("q34_ann_ivf", Similarity.annIvf, Similarity.annIvfSql),
    // product-quantization ANN: codes-table scan + broadcast per-query
    // distance table, fixed-order ADC (cell-exact vs the oracle)
    Query("q138_ann_pq", Similarity.annPq, Similarity.annPqSql),
    // SemDeDup-style cluster-then-dedup: data-adaptive blocking beside
    // q25's LSH bands; per-cluster md5 cap bounds pair work at k*cap^2
    Query("q140_semantic_dedup", (s, d) => Similarity.semanticDedup(s, d),
      Similarity.semanticDedupSql),
    // PQ over TRAINED sub-codebooks (one Lloyd step, engine-exact
    // quantized-mean fit); same search tail as q138
    Query("q142_ann_pq_trained", (s, d) => Similarity.annPqTrained(s, d),
      Similarity.annPqTrainedSql),
    // IVF×PQ composition (IVFADC): coarse cells prune the ADC scan to
    // each query's nprobe nearest cells; trained codebooks + the same
    // shortlist/re-rank tail
    Query("q144_ann_ivf_pq", (s, d) => Similarity.annIvfPq(s, d),
      Similarity.annIvfPqSql),
    // streaming sketched-distinct: KMV bottom-k longs as windowed state
    // (constant per open window); engine-portable md5-60 cells make the
    // readout fully hash-checkable. q157's fold reconstructs these
    // per-window finals by design, so both carry this one oracle
    Query("q141_streaming_distinct",
      EventStreams.hourlyDistinctKmvAvailableNow,
      EventStreams.hourlyDistinctKmvSql),
    Query("q35_media_frames", Multimodal.mediaFrames,
      Multimodal.mediaFramesSql),
    // --- CSV cleaning chains over dirty fixtures (B2-B6, C1-C4) ---
    Query("q36_clean_sales", CleanCsv.cleanSalesCsv, CleanCsv.cleanSalesCsvSql),
    Query("q37_clean_products", CleanCsv.cleanProductsCsv,
      CleanCsv.cleanProductsCsvSql),
    Query("q38_clean_customers", CleanCsv.cleanCustomersCsv,
      CleanCsv.cleanCustomersCsvSql),
    // full-MERGE semantics (E6): lineitem-derived dim_date (tagged) wins
    // over the orders-derived one on matched date_keys
    Query("q39_date_merge", (s, d) =>
      Star.mergeByKey(
        Star.dimDateFrom(Tables.orders(s, d), "o_orderdate")
          .withColumn("src", lit("orders")),
        Star.dimDateFrom(Tables.lineitem(s, d), "l_shipdate")
          .withColumn("src", lit("lineitem")),
        "date_key").orderBy("date_key"),
      Star.dateMergeSql),
    // derived money arithmetic over the dirty fixtures (B10 + B11)
    Query("q40_derived_amounts", CleanCsv.derivedAmountsCsv,
      CleanCsv.derivedAmountsCsvSql),
    // token counting: whitespace + BPE-ish regex pre-tokenizer
    Query("q41_token_counts", TextAnalysis.tokenCounts,
      TextAnalysis.tokenCountsSql),
    // windowed BI analytics: per-group top-N, running totals, ROLLUP
    Query("q42_top_brands_region", Insights.topBrandsPerRegion,
      Insights.topBrandsPerRegionSql),
    Query("q43_running_revenue", Insights.monthlyRunningRevenue,
      Insights.monthlyRunningRevenueSql),
    Query("q44_revenue_rollup", Insights.revenueRollup,
      Insights.revenueRollupSql),
    // HLL sketch KPIs — no oracle (estimates are engine-specific), so
    // the driver records the weaker rows-only check for this one
    Query.rowsOnly("q45_kpi_approx", Insights.kpiSummaryApprox),
    // as-of join (temporal nearest-prior) — DuckDB native ASOF oracle
    Query("q46_asof_join", AsofJoin.purchaseBeforeClick,
      AsofJoin.purchaseBeforeClickSql),
    // salted aggregation: results independent of the salt (oracle is
    // the plain GROUP BY). l_quantity is integer-valued, so the double
    // sum is exact and order-independent.
    Query("q47_salted_agg", (s, d) =>
      Salting.saltedSum(Tables.lineitem(s, d)
          .select("l_returnflag", "l_quantity"),
        "l_returnflag", "l_quantity", numSalts = 8)
        .orderBy("l_returnflag"),
      """SELECT l_returnflag,
      |  CAST(SUM(l_quantity) AS DOUBLE) AS sum_l_quantity
      |FROM lineitem GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin),
    // JSONL sink + scan roundtrip, fidelity-checked by text md5
    Query("q48_jsonl_roundtrip", Tables.documentsJsonlRoundtrip,
      Tables.documentsJsonlRoundtripSql),
    // exact percentile KPIs (R-7 interpolation matches quantile_cont)
    Query("q49_percentiles", Insights.percentileSummary,
      Insights.percentileSummarySql),
    // chunked range join (no-equi-key interval containment)
    Query("q50_range_join", RangeJoin.clicksNearErrors,
      RangeJoin.clicksNearErrorsSql),
    // corpus vocabulary (term/document frequency, top of distribution)
    Query("q51_vocabulary", TextAnalysis.vocabulary,
      TextAnalysis.vocabularySql),
    // IQR box-plot outlier audit per return flag
    Query("q52_outlier_audit", Validation.outlierAudit,
      Validation.outlierAuditSql),
    // corpus sampling policies: deterministic split, domain caps, packing
    Query("q53_train_split", Sampling.trainSplit, Sampling.trainSplitSql),
    Query("q54_domain_caps", (s, d) => Sampling.domainCaps(s, d),
      Sampling.domainCapsSql),
    Query("q55_seq_packing", (s, d) => Sampling.seqPacking(s, d),
      Sampling.seqPackingSql),
    // within-doc repetition gates and PII scrubbing
    Query("q56_repetition", TextAnalysis.repetition,
      TextAnalysis.repetitionSql),
    Query("q57_pii_redaction", TextAnalysis.piiRedaction,
      TextAnalysis.piiRedactionSql),
    // int8 embedding quantization (ANN storage path)
    Query("q58_embed_quantize", Similarity.embedQuantize,
      Similarity.embedQuantizeSql),
    // SCD Type-2 dim maintenance over a deterministic staged snapshot
    Query("q59_scd2", Scd.customerScd2, Scd.customerScd2Sql),
    // connected-components cluster resolution over near-dup pairs
    Query("q60_dedup_clusters", Dedup.dedupClusters, Dedup.dedupClustersSql),
    // bloom-prefiltered semi join (native BloomFilterAggregate/MightContain)
    Query("q61_bloom_join", Insights.highValueItems,
      Insights.highValueItemsSql),
    // incremental rollup: merged batch partials == full recompute
    Query("q62_incremental_rollup", Events.incrementalDailyRollup,
      Events.incrementalDailyRollupSql),
    // product-analytics: click->purchase funnel, latest-state compaction
    Query("q63_click_funnel", Events.clickFunnel, Events.clickFunnelSql),
    Query("q66_latest_by_user", Events.latestByUser, Events.latestByUserSql),
    // reshape operators: pivot (long->wide) and unpivot (wide->long)
    Query("q64_region_pivot", Insights.monthlyRegionPivot,
      Insights.monthlyRegionPivotSql),
    Query("q65_props_unpivot", Insights.propsRollupUnpivot,
      Insights.propsRollupUnpivotSql),
    // Z-order clustering key for multidimensional file skipping
    Query("q67_zorder", Layout.ordersZOrder, Layout.ordersZOrderSql),
    // feature-engineering / exact distributed statistics
    Query("q68_value_deciles", Features.valueDeciles, Features.valueDecilesSql),
    Query("q69_exact_corr", Features.exactCorr, Features.exactCorrSql),
    Query("q70_price_histogram", Features.priceHistogram,
      Features.priceHistogramSql),
    Query("q71_moving_revenue", Features.movingRevenue,
      Features.movingRevenueSql),
    // blocked edit-distance record linkage
    Query("q72_fuzzy_match", Dedup.fuzzyNameMatch, Dedup.fuzzyNameMatchSql),
    // fixed-window document chunking with overlap (RAG/pretraining)
    Query("q73_doc_chunks", TextAnalysis.chunkDocs, TextAnalysis.chunkDocsSql),
    // set algebra cohorts (INTERSECT / EXCEPT)
    Query("q74_set_cohorts", Insights.customerHalfCohorts,
      Insights.customerHalfCohortsSql),
    // raw SQL channel: multi-statement script via the quote-aware runner
    Query("q75_sql_channel", Catalog.sqlChannel, Catalog.sqlChannelSql),
    // log-free TF-IDF term salience, top-k terms per doc
    Query("q76_tfidf", TextAnalysis.tfidf, TextAnalysis.tfidfSql),
    // overlap-coefficient containment (subset-duplicate detection)
    Query("q77_containment", Dedup.containmentPairs, Dedup.containmentPairsSql),
    // event debouncing and rolling 7-day active users
    Query("q78_debounce", Events.debounce, Events.debounceSql),
    Query("q79_active_users", Events.rollingActiveUsers,
      Events.rollingActiveUsersSql),
    // retention cohort triangle and gaps-and-islands streaks
    Query("q80_retention", Events.retentionCohorts, Events.retentionCohortsSql),
    Query("q81_streaks", Events.activityStreaks, Events.activityStreaksSql),
    // --- corpus curation (exact-substring dedup, quality
    // gates, eval-set decontamination) ---
    Query("q82_shingle_dedup", Corpus.shingleDedup, Corpus.shingleDedupSql),
    Query("q83_quality_gates", Corpus.qualityGates, Corpus.qualityGatesSql),
    Query("q84_decontamination", Corpus.decontamination,
      Corpus.decontaminationSql),
    // full CUBE lattice + gap-filled month spine + percent-of-parent
    Query("q85_revenue_cube", Insights.revenueCube, Insights.revenueCubeSql),
    Query("q86_month_spine", Insights.monthSpineRevenue,
      Insights.monthSpineRevenueSql),
    Query("q89_brand_share", Insights.brandShareInType,
      Insights.brandShareInTypeSql),
    // interval sweep line, Markov transitions, inter-arrival percentiles
    Query("q87_concurrent_sessions", Events.concurrentSessions,
      Events.concurrentSessionsSql),
    Query("q88_transitions", Events.transitionMatrix,
      Events.transitionMatrixSql),
    Query("q90_interarrival", Events.interarrival, Events.interarrivalSql),
    // robust (MAD) outlier fences; GDPR cascade-erasure audit
    Query("q91_mad_outliers", Features.madOutliers, Features.madOutliersSql),
    Query("q92_gdpr_erasure", Validation.gdprErasure,
      Validation.gdprErasureSql),
    // --- retail BI classics (RFM, basket affinity, Pareto,
    // acquisition split, fulfilment SLA) ---
    Query("q93_rfm_segments", RetailBi.rfmSegments, RetailBi.rfmSegmentsSql),
    Query("q94_basket_pairs", RetailBi.basketPairs, RetailBi.basketPairsSql),
    Query("q95_abc_classes", RetailBi.abcClassification,
      RetailBi.abcClassificationSql),
    Query("q96_new_vs_returning", RetailBi.newVsReturning,
      RetailBi.newVsReturningSql),
    Query("q97_ship_lag", RetailBi.shipLag, RetailBi.shipLagSql),
    // corpus curation II: template grams, mojibake gate, temperature mix
    Query("q98_boilerplate", Corpus.boilerplateGrams,
      Corpus.boilerplateGramsSql),
    Query("q99_encoding_gate", Corpus.encodingGate, Corpus.encodingGateSql),
    Query("q100_domain_mixture", Corpus.domainMixture, Corpus.domainMixtureSql),
    // statistical QA: Benford, independence, anomaly z, concentration
    Query("q101_benford", StatQa.benfordAudit, StatQa.benfordAuditSql),
    Query("q102_independence", StatQa.segmentRegionIndependence,
      StatQa.segmentRegionIndependenceSql),
    Query("q103_daily_anomalies", StatQa.dailyAnomalies,
      StatQa.dailyAnomaliesSql),
    Query("q104_revenue_gini", StatQa.revenueGini, StatQa.revenueGiniSql),
    // ANN recall gate; explicit grouping-sets lattice
    Query("q105_ann_recall", Similarity.annRecall,
      Similarity.annRecallSql, Diagnostic),
    Query("q106_priority_sets", Insights.prioritySets,
      Insights.prioritySetsSql),
    // --- frontier/sampling/skew/reconcile/tokenizer ---
    // 2-D Pareto frontier (bucket-local pass, NOT the O(n^2) self-join)
    Query("q107_skyline", Skyline.skylineParts, Skyline.skylinePartsSql),
    // deterministic weighted sample (priority sampling, u/w order keys)
    Query("q108_weighted_sample", (s, d) => Sampling.weightedSample(s, d),
      Sampling.weightedSampleSql),
    // stratified sample with exact per-language quotas
    Query("q109_stratified_sample", Sampling.stratifiedSample,
      Sampling.stratifiedSampleSql),
    // heavy-hitter key-skew audit (salting/AQE decision input)
    Query("q110_heavy_hitters", StatQa.heavyHitters, StatQa.heavyHittersSql),
    // FULL OUTER cross-source daily reconciliation
    Query("q111_daily_reconcile", Validation.dailyReconcile,
      Validation.dailyReconcileSql),
    // BPE first-merge pair counts off the vocabulary (tokenizer induction)
    Query("q112_bpe_merges", Corpus.bpeMerges, Corpus.bpeMergesSql),
    // per-group top-k via the custom TopKByValue Aggregator (UDAF path)
    Query("q113_topk_per_segment", Insights.topCustomersPerSegment,
      Insights.topCustomersPerSegmentSql),
    // weekday seasonality profile (ppm shares + seasonal index)
    Query("q114_weekday_seasonality", RetailBi.weekdaySeasonality,
      RetailBi.weekdaySeasonalitySql),
    // analytic rank features (percent_rank / cume_dist, tie-free order)
    Query("q115_price_ranks", Features.priceRanks, Features.priceRanksSql),
    // exact weighted median from integer prefix sums (no interpolation)
    Query("q116_weighted_median", Features.weightedMedian,
      Features.weightedMedianSql),
    // correlated EXISTS / NOT EXISTS via spark.sql (ANSI text == oracle)
    Query("q117_exists_subquery", Insights.qualifiedOrders,
      Insights.qualifiedOrdersSql),
    // --- sink fidelity + approximate twins for the 100 TB read path ---
    // parquet replace+append then CSV sink/scan roundtrip, hash-checked
    // cell-exact against the original table (A2/A3/A4 driver-visible):
    // the oracle reads the ORIGINAL table, so equality proves the staged
    // replace/append/CSV hops preserved every cell
    Query("q118_sink_roundtrip", Tables.ordersSinkRoundtrip,
      Tables.ordersSinkRoundtripSql),
    // t-digest approx percentiles beside exact q49, as a CHECKED shape:
    // exact values hash-oracled, the live estimates audited by an
    // EXECUTED in-row bound bit (est_within_bound) the oracle pins to 1
    // (raw estimates stay available via approxPercentileSummary,
    // tolerance-asserted in ApproxSpec)
    Query("q119_approx_percentiles", Insights.approxPercentileChecked,
      Insights.approxPercentileCheckedSql),
    // Misra-Gries candidate + exact-verify heavy hitters beside exact
    // q110, SELF-CERTIFYING: the certificate (reported Nth count > Σ
    // decrement rounds, ApproxSpec-pinned) proves the candidate path
    // exact, with an exact fallback when it fails, so either way the
    // plain exact top-N SQL is a valid oracle
    Query("q120_approx_heavy_hitters", StatQa.approxHeavyHitters,
      StatQa.heavyHittersSql),
    // measured recall/cost sweep over every (bands x bits) split of the
    // LSH signature, ranked against the q23 brute-force ground truth
    Query("q121_ann_config_sweep", Similarity.annConfigSweep,
      Similarity.annConfigSweepSql, Diagnostic),
    // bigram-coverage quality score (integer-exact LM-filter stand-in)
    Query("q122_bigram_coverage", TextAnalysis.bigramCoverage,
      TextAnalysis.bigramCoverageSql),
    // deterministic shard assignment + balance audit (integer load ppm)
    Query("q123_shard_stats", Sampling.shardStats, Sampling.shardStatsSql),
    // REAL Structured Streaming run (file source -> watermarked window
    // agg -> memory sink, available-now trigger); oracle = q26 batch SQL
    Query("q124_streaming_hourly", EventStreams.hourlyByTypeAvailableNow,
      // the streaming run must reproduce the BATCH oracle cell-exactly
      Events.hourlyByTypeSql),
    // APPEND-mode streaming session windows: only sessions the final
    // watermark passed are emitted; the oracle recomputes that cutoff
    Query("q125_streaming_sessions", EventStreams.sessionWindowsAvailableNow,
      EventStreams.sessionWindowsAvailableNowSql),
    // backward as-of join: one key shuffle + shared window, no range
    // fan-out; oracle is DuckDB's native ASOF LEFT JOIN
    Query("q126_asof_attribution", Events.purchaseClickAsof,
      Events.purchaseClickAsofSql),
    // CDC changeset extract: one full-outer sort-merge join, I/U/D ops
    Query("q127_snapshot_diff", Scd.customerSnapshotDiff,
      Scd.customerSnapshotDiffSql),
    // distributed Lloyd k-means: decimal-exact centroid sums, cosine
    // assignment; the trained-quantizer completion of q34's IVF
    Query("q128_kmeans_clusters", (s, d) => Similarity.kmeans(s, d, iters = 3),
      Similarity.kmeansSql(iters = 3)),
    // integer-exact damped PageRank over symmetrized q94 basket pairs
    Query("q129_copurchase_rank", Graph.copurchaseRank,
      Graph.copurchaseRankSql),
    // point-in-time join: orders resolve the segment valid on the
    // order date against the Type-2 dim (equi key + date band)
    Query("q130_pit_sales", Scd.pitSales, Scd.pitSalesSql),
    // flatMapGroupsWithState sessionizer as a real streaming run:
    // in-batch closures + event-time-timeout evictions, both oracled
    Query("q131_streaming_stateful",
      EventStreams.sessionizeStatefulAvailableNow,
      EventStreams.sessionizeStatefulAvailableNowSql),
    // at-least-once ingest dedup: a doubled replay must collapse back
    // to the batch rollup
    Query("q132_streaming_dedup", EventStreams.dedupStreamAvailableNow,
      EventStreams.dedupStreamAvailableNowSql),
    // stream-stream interval join (dual watermarks + time-range state
    // bound) drained against the batch-join oracle
    Query("q133_streaming_join", EventStreams.errorClickPairsAvailableNow,
      EventStreams.errorClickPairsAvailableNowSql),
    // MULTI-micro-batch replay: chronological file split + one file per
    // trigger, so watermark advancement and mid-stream state eviction
    // across data batches is driver-checked (self-asserts >1 data batch)
    Query("q134_streaming_batched", EventStreams.sessionWindowsBatchedReplay,
      // same final-watermark cutoff as q125: the chronological split means
      // intermediate watermarks drop nothing, so the drained multi-batch
      // sink equals the single-batch emitted set
      EventStreams.sessionWindowsAvailableNowSql),
    // DURABLE parquet sink + checkpoint: killed mid-replay after >=1
    // committed batch, restarted, drained — exactly-once across the
    // kill, batch-read back through the sink's _spark_metadata log
    Query("q143_streaming_restart", EventStreams.sessionWindowsDurableRestart,
      // kill/restart through a durable parquet sink: exactly-once means
      // the recovered sink equals the same final-watermark cutoff
      EventStreams.sessionWindowsAvailableNowSql, Harness),
    // watermark ENFORCEMENT: a deliberately-late tail file (copy of the
    // oldest bucket, highest mtime) must be dropped without trace
    // (self-asserts numRowsDroppedByWatermark > 0)
    Query("q146_streaming_late", EventStreams.sessionWindowsLateReplay,
      // the late tail must be watermark-DROPPED without trace: emitted
      // set equals the cutoff over the ORIGINAL events
      EventStreams.sessionWindowsAvailableNowSql, Harness),
    // general-path PageRank: DIRECTED co-purchase edges (low->high part
    // key) with genuine dangling nodes; per-iteration mass redistribution
    Query("q135_directed_rank", Graph.directedRank, Graph.directedRankSql),
    // sketch-accuracy sweep: error-vs-state for q45's HLL rsd and q119's
    // t-digest accuracy dials, as a CHECKED shape: portable columns
    // (dials, state, bounds, exact companions, and within_bound EXECUTED
    // from the live estimates, pinned to 1) under a full oracle; only
    // the engine-specific max_err_ppm stays spec-only (ApproxSpec
    // asserts it per dial on the full frame)
    Query("q136_sketch_sweep", Insights.sketchAccuracySweepChecked,
      Insights.sketchAccuracySweepCheckedSql, Diagnostic),
    // pre-aggregated HLL shard cells merged on read (the 100 TB KPI
    // pattern: sketch once, roll up forever); rows-only, with an
    // in-row self-oracle (merge_is_lossless) pinned by HllSpec
    Query.rowsOnly("q137_hll_shards", Insights.sketchShardRollup),
    // sampled KPI + CLT error bar (AQP): deterministic hash-sample,
    // 1/p extrapolation, exact-moment arithmetic -> full oracle
    Query("q139_sampled_kpi", (s, d) => Insights.sampledKpi(s, d),
      Insights.sampledKpiSql),
    // sampled GROUP-BY AQP: per-brand revenue estimates + per-group HT
    // 95% intervals from the same deterministic sample panel (q139's
    // buckets); sample filter below the broadcast dim join
    Query("q145_sampled_groups", Insights.sampledGroupKpi,
      Insights.sampledGroupKpiSql),
    // incremental near-dup admission: incoming (odd) batch probed
    // against the PERSISTED corpus (even) band index - O(batch) per
    // ingest, never re-pairs the corpus
    Query("q147_incremental_dedup", Dedup.incrementalDedup,
      Dedup.incrementalDedupSql),
    // UPDATE output mode over the multi-batch replay: the sink is the
    // update log; folding it (latest update per key) must equal the
    // batch aggregate (self-asserts the log shows cross-batch updates)
    Query("q148_streaming_update", EventStreams.hourlyByTypeUpdateReplay,
      // folding the update log must reproduce the q26 batch aggregate
      Events.hourlyByTypeSql, Harness),
    // stream-static enrichment join: events joined to the static
    // customer dim (broadcast) below a segment rollup
    Query("q149_streaming_enrich", EventStreams.segmentRollupStream,
      EventStreams.segmentRollupStreamSql),
    // mergeable histogram percentile cells: per-shard bucket counts,
    // rollup by vector add, percentile from the cumulative walk -
    // integer-exact, so it carries a FULL oracle (q137's pattern for
    // percentiles, without t-digest's implementation-defined state)
    Query("q150_histogram_cells", (s, d) =>
      Insights.histogramPercentileCells(s, d),
      Insights.histogramPercentileCellsSql),
    // triangle counting with degree-ordered orientation: wedge fanout
    // bounded by out-degree^2 = O(m) total, hub-safe
    Query("q151_triangle_count", Graph.triangleCounts, Graph.triangleCountsSql),
    // distribution drift (TVD + Linf, ppm) between stream halves -
    // integer-exact, no libm in either engine
    Query("q152_value_drift", StatQa.valueDrift, StatQa.valueDriftSql),
    // exact audience-overlap matrix: one fact dedup, user-grain
    // self-join bounded by the type vocabulary
    Query("q153_audience_overlap", Events.audienceOverlap,
      Events.audienceOverlapSql),
    // foreachBatch MERGE sink: versioned latest-by-user target folded
    // across batches (idempotent struct-max merge = exactly-once state)
    Query("q154_streaming_upsert", EventStreams.latestByUserUpsertReplay,
      // the folded upsert target must equal the q66 batch latest-by-user
      Events.latestByUserSql, Harness),
    // cluster-balanced diversity sample: proportional quotas with a
    // tail floor, md5-rank selection, map-side argmax assignment
    Query("q155_diversity_sample", (s, d) => Similarity.diversitySample(s, d),
      Similarity.diversitySampleSql),
    // REAL image codec at the decode boundary: BMP
    // encode -> header parse + pixel walk + structural layout inverse,
    // partition-wise with per-partition codec state
    Query("q156_media_decode", Multimodal.mediaDecode,
      Multimodal.mediaDecodeSql),
    // the q141 sketch in its DEPLOYMENT mode: Update output + watermark
    // EVICTION of closed windows, observed via numRowsRemoved; the fold
    // equals the q141 finals so both share one hash-checked oracle
    Query("q157_streaming_evict", EventStreams.hourlyDistinctKmvUpdateReplay,
      EventStreams.hourlyDistinctKmvSql, Harness),
    // slowly-changing-dim pickup: foreachBatch re-read + mid-stream
    // version bump, v1/v2 names both observed in the folded output
    Query("q160_stream_dim_swap", EventStreams.dimSwapEnrichReplay,
      EventStreams.dimSwapEnrichReplaySql, Harness),
    // IVF×PQ against the PERSISTED codes index (encode once at ingest,
    // search reads codes parquet; PlanSpec pins no pq_encode in search)
    Query("q158_pq_stored", Similarity.annIvfPqStored,
      // identical results to q144: the stored index holds the same codes
      Similarity.annIvfPqSql),
    // the incremental-dedup LOOP: round-1 admits appended to the index
    // as a versioned segment, round 2 dedups against corpus + admits
    Query("q159_dedup_loop", Dedup.incrementalDedupLoop,
      Dedup.incrementalDedupLoopSql),
    // mergeable Count-Min shard cells (per-key counts from merged
    // integer grids, never rescanning facts) — FULL oracle, min>=exact
    Query("q161_cms_cells", (s, d) => StatQa.cmsShardCells(s, d),
      StatQa.cmsShardCellsSql),
    // attribute-filtered ANN: predicate evaluated inside probed cells
    Query("q162_filtered_ann", Similarity.annIvfFiltered,
      Similarity.annIvfFilteredSql),
    // stream-stream LEFT OUTER interval join: unmatched errors surface
    // on watermark-proven no-match (state eviction semantics)
    Query("q163_streaming_outer_join",
      EventStreams.errorClickLeftOuterAvailableNow,
      EventStreams.errorClickLeftOuterAvailableNowSql),
    // ORC sink/scan roundtrip (third columnar format; oracle reads the
    // original table - the q118 sink-fidelity discipline)
    Query("q164_orc_roundtrip", Tables.ordersOrcRoundtrip,
      Tables.ordersOrcRoundtripSql),
    // sparse keyword retrieval (inverted-index shape): term-pruned
    // postings, integer rarity weights, top-k TakeOrdered
    Query("q165_keyword_search", TextAnalysis.keywordSearch,
      TextAnalysis.keywordSearchSql),
    // SECOND real codec with real compression on the wire: deflate
    // audio container, per-partition Inflater reuse, CRC32-verified
    // roundtrip (q156's BMP sibling)
    Query("q166_audio_decode", Multimodal.audioDecodeRun,
      Multimodal.audioDecodeSql),
    // positional-postings phrase search: term-pruned (doc_id, pos)
    // pairs, adjacency verified by a position-equi-join per term
    Query("q167_phrase_search", (s, d) => TextAnalysis.phraseSearch(s, d),
      TextAnalysis.phraseSearchSql),
    // REAL frame sampling over a REAL seekable container: per-frame
    // deflate streams behind a (offset, compLen, CRC32) directory;
    // only every 4th frame is inflated — sampled bytes, not container
    // bytes, set the cost (q35 samples the same container at 48/3)
    Query("q168_video_frames", Multimodal.videoFramesRun,
      Multimodal.videoFramesSql),
    // REAL resize: BMP decode -> nearest-neighbor 16x16 gather ->
    // re-encode -> decode with the unmodified decoder; the oracle
    // replays the integer gather
    Query("q169_media_resize", Multimodal.mediaResize,
      Multimodal.mediaResizeSql),
    // stream-stream FULL OUTER interval join: both unmatched sides
    // surface by state eviction (completes the q133/q163 triad)
    Query("q170_streaming_full_outer",
      EventStreams.errorClickFullOuterAvailableNow,
      EventStreams.errorClickFullOuterAvailableNowSql),
    // BM25 ranking: tf saturation + length normalization over the
    // q165 postings shape; integer idf weights, floor-quantized
    // per-term contributions (order-free exact cross-engine sum)
    Query("q171_bm25_search", (s, d) => TextAnalysis.bm25Search(s, d),
      TextAnalysis.bm25SearchSql),
    // Spark 4 transformWithState (arbitrary-state v2): per-user
    // lifetime profile in TWO typed state variables (ValueState agg +
    // MapState per-type counts), RocksDB-backed, Update-mode drain
    Query("q172_transform_with_state", (s, d) =>
      EventStreams.userLifetimeAvailableNow(s, d),
      EventStreams.userLifetimeAvailableNowSql),
    // sorted export: exact equi-width buckets -> per-bucket dirs with
    // within-file key order (the min/max data-skipping layout); the
    // manifest round-trips through the written files
    Query("q173_sorted_export", Layout.sortedExportManifest,
      Layout.sortedExportManifestSql),
    // transformWithState TIMERS + ListState: event-time inactivity
    // digest — one re-armed timer per user, trailing-3 id list state,
    // emit+clear on expiry (the v2 API's other half vs q172)
    Query("q174_tws_timers", EventStreams.inactivityDigestAvailableNow,
      EventStreams.inactivityDigestAvailableNowSql),
    // transformWithState INITIAL STATE: bootstrap streaming state from
    // a batch history snapshot, stream only the live tail — profiles
    // must equal the full-history fold (the pipeline-migration move)
    Query("q175_tws_bootstrap", EventStreams.userLifetimeBootstrapAvailableNow,
      EventStreams.userLifetimeBootstrapAvailableNowSql),
    // schema evolution: two parquet generations (v2 adds a column),
    // mergeSchema read unifies them; old segments surface the evolved
    // column as the -1 sentinel
    Query("q176_schema_evolution", Tables.ordersEvolvedRead,
      Tables.ordersEvolvedReadSql),
    // stream-static LEFT ANTI: the streaming suppression-list shape
    // (GDPR/contamination blocklist), broadcast + stateless map-side
    Query("q177_streaming_anti", EventStreams.suppressedStreamAvailableNow,
      EventStreams.suppressedStreamAvailableNowSql),
    // mergeable KMV distinct cells: bottom-K md5 hashes per shard,
    // merged == direct as an EXACT oracle equality (the sketch-shard
    // family's fully-checkable distinct sketch)
    Query("q178_kmv_cells", (s, d) => StatQa.kmvShardCells(s, d),
      StatQa.kmvShardCellsSql),
    // Spark 4 VARIANT: parse-once binary JSON, typed variant_get paths,
    // try_variant_get missing-path NULL semantics pinned
    Query("q179_variant_props", Events.variantPathRollup,
      Events.variantPathRollupSql),
    // stream-stream LEFT SEMI interval join: completes the join-type
    // matrix (inner/left/full/anti/semi); chunk replicas folded at
    // error grain
    Query("q180_streaming_semi", EventStreams.errorClickSemiAvailableNow,
      EventStreams.errorClickSemiAvailableNowSql),
    // per-group OLS fit from one map-side-combining moments aggregate;
    // engine-exact via cents quantization + hi/lo double crossing
    Query("q181_group_ols", StatQa.groupOls, StatQa.groupOlsSql),
    // scene-change detection over the fully-decoded frame stream:
    // real inflate+CRC per frame, LAG threshold, per-media rollup
    Query("q182_scene_changes", Multimodal.sceneChanges,
      Multimodal.sceneChangesSql),
    // rolling 7-day distinct from the persisted daily KMV cells:
    // merge-on-read per day; cell_kth == direct_kth per window is the
    // oracle-checked merge property
    Query("q183_rolling_distinct", StatQa.rollingDistinctCells,
      StatQa.rollingDistinctCellsSql),
    // hybrid retrieval: BM25 + dense cosine rank lists fused by
    // reciprocal-rank fusion (1/(60+rank)), full-outer rank join
    Query("q184_hybrid_rrf", Similarity.hybridRrfSearch,
      Similarity.hybridRrfSearchSql),
    // EXACT all-pairs set-similarity join via prefix filtering — the
    // no-recall-loss dedup tier above LSH banding; candidates pruned
    // ~1000x by the rarest-prefix index (lemma proven in DedupSpec)
    Query("q185_allpairs_jaccard", (s, d) => Dedup.allPairsJaccard(s, d),
      Dedup.allPairsJaccardSql),
    // (context, next-token) training-sequence construction over user
    // timelines: 3 LAGs + histogram, no self-joins
    Query("q186_context_windows", Events.contextWindows,
      Events.contextWindowsSql),
    // bucketed co-located join as a CORRECTNESS row: write-side shuffle
    // amortization, zero-Exchange SMJ REQUIRED on the physical plan
    Query("q187_bucket_join", Layout.bucketedJoinRollup,
      Layout.bucketedJoinRollupSql),
    // half-life-decayed engagement: engine-exact recency weighting via
    // BIGINT right-shifts (no pow, order-free integer sums)
    Query("q188_decayed_engagement", Events.decayedEngagement,
      Events.decayedEngagementSql),
    // explicit GROUPING SETS: the non-hierarchical multi-grain report
    // (detail + brand marginal + grand total) in one Expand+agg
    Query("q189_grouping_sets", Insights.revenueGroupingSets,
      Insights.revenueGroupingSetsSql),
    // interval x interval OVERLAP join: sessions vs derived campaign
    // windows, exact integer overlap microseconds
    Query("q190_interval_overlap", Events.campaignOverlap,
      Events.campaignOverlapSql),
    // linear multi-touch attribution: purchase cents split equally
    // (floor div) across the window's prior touches, per channel
    Query("q191_multitouch", Events.multiTouchAttribution,
      Events.multiTouchAttributionSql),
    // whole-session path histogram: struct-sorted event order, top-50
    Query("q192_session_paths", Events.sessionPaths, Events.sessionPathsSql),
    // order-independent per-table content fingerprints (xor + mod-2^59
    // sum of canonical-row md5-60s) - the replication verification row
    Query("q193_table_checksums", Validation.tableChecksums,
      Validation.tableChecksumsSql),
    // keep-best dedup: each near-dup cluster keeps its highest-quality
    // member (q83 gate score, ties to min id) via one struct-max agg
    Query("q194_keep_best", Dedup.keepBestDedup, Dedup.keepBestDedupSql),
    // incremental ANN index maintenance: the new batch's codes appended
    // as a _SUCCESS-committed segment (base never rewritten), search
    // reads the segment union - results identical to q144/q158
    Query("q195_ann_index_append", Similarity.annIndexAppend,
      Similarity.annIndexAppendSql),
    // the COMPOSED corpus build: gates -> near-dup -> decontamination
    // -> diversity sample -> packing, as one telescoping ledger +
    // packed-sequence histogram (the north-star integration DAG)
    Query("q196_corpus_pipeline", Corpus.corpusPipeline,
      Corpus.corpusPipelineSql),
    // fuzzy string join (edit distance <= 1) via complete 1-deletion
    // neighborhood blocking + levenshtein verify - entity resolution
    // without the n^2 cross join
    Query("q197_fuzzy_join", Joins.fuzzyNameJoin, Joins.fuzzyNameJoinSql),
    // hierarchical subtree rollup: per-row ancestor-chain fold + one
    // ancestor-grain exchange (the scalable form of a recursive CTE;
    // the oracle walks the same tree with WITH RECURSIVE)
    Query("q198_hierarchy_rollup", Graph.hierarchyRollup,
      Graph.hierarchyRollupSql),
    // ANN index lifecycle closed: segments folded into one compacted
    // dir (pure code copy, no re-encode) with an EXECUTED
    // search-equality check (the q137 self-oracle idiom). Diagnostic:
    // it runs the q144 search twice (compacted vs union) to prove the
    // compaction lossless, an audit of the index lifecycle
    Query("q199_ann_compact", Similarity.annIndexCompact,
      Similarity.annIndexCompactSql, Diagnostic),
    // CUPED variance-reduced A/B readout: hash arms, pre-period
    // covariate, pooled theta, algebraic adjusted means (q181's
    // engine-exact sufficient-statistics discipline)
    Query("q200_cuped_lift", StatQa.cupedLift, StatQa.cupedLiftSql),
    // Hamilton largest-remainder token-budget apportionment across
    // sources by gate-passing token supply - the mixture-design step;
    // all-integer, sum(final) == budget by construction
    Query("q201_token_apportionment", Sampling.tokenApportionment,
      Sampling.tokenApportionmentSql),
    // q83's gate battery on the LIVE path: file-streamed document
    // batches, fused map-side gates, idempotent per-batch ledgers
    // folded to the batch answer (stateless => split-invariant)
    Query("q202_streaming_gate", EventStreams.corpusGateStreamAvailableNow,
      EventStreams.corpusGateStreamSql),
    // mutual-kNN graph (SemDeDup clustering substrate): rank-mutual
    // edges over strict-dial LSH candidates, never the n^2 cross join
    Query("q203_mutual_knn", (s, d) => Similarity.mutualKnnGraph(s, d),
      Similarity.mutualKnnGraphSql),
    // the SemDeDup ENDGAME: q203 edges -> q60 components (shared
    // propagateMinLabels) -> q194 keep-best policy, one registered query
    Query("q204_semantic_endgame", Similarity.semanticDedupEndgame,
      Similarity.semanticDedupEndgameSql),
    // q196 stage 2 on the live path: per-batch near-dup admission
    // against the committed band-segment union (q159's index idiom),
    // ledger folds to the batch answer exactly
    Query("q205_streaming_neardup", (s, d) =>
      EventStreams.streamingNeardupAdmission(s, d),
      Corpus.streamingNeardupAdmissionSql()),
    // contrastive (anchor, positive, hard-negative) triplets mined
    // from the committed kNN artifacts: positive = best mutual
    // partner, hard negative = best-ranked non-mutual candidate
    Query("q206_triplet_mining", Similarity.tripletMining,
      Similarity.tripletMiningSql),
    // the data-mixing step after q201: greedy hash-ordered selection
    // up to each source's quota, ideal-position weighted round-robin
    // interleave (every schedule prefix holds the designed mixture)
    Query("q207_interleaved_schedule", Sampling.interleavedSchedule,
      Sampling.interleavedScheduleSql),
    // q199's compaction transplanted to the near-dup band index: the
    // q159 segment chain folded into one generation (pure band-row
    // copy), the SAME batch probed against union vs compacted —
    // admissions identical, equality EXECUTED (probes_equal column)
    Query("q208_band_index_compact", Dedup.bandIndexCompact,
      Dedup.bandIndexCompactSql),
    // q205 with the PRODUCTION amortization dial exercised on the
    // driver-checked path: 4 batches,
    // maxLiveSegments = 2 — batch 2 probes TWO live segments, batch 3
    // probes the folded generation, and the replay ENDS with live =
    // {generation, b3} (amortized, not folded every batch). Same
    // oracle family, nBatches = 4.
    Query("q209_streaming_neardup_amortized", (s, d) =>
      EventStreams.streamingNeardupAdmission(s, d,
        nFiles = 4, maxLiveSegments = 2),
      Corpus.streamingNeardupAdmissionSql(nBatches = 4)),
    // the sign-LSH dedup family's live path (q25 on the stream): per-
    // batch band-probe against committed signature segments, exact-
    // cosine verify on ids-only pairs, q205's compaction + two-tier
    // probe guard machinery verbatim on the vector table
    Query("q210_streaming_embedding_neardup", (s, d) =>
      EventStreams.streamingEmbeddingNeardup(s, d),
      Similarity.streamingEmbeddingNeardupSql()),
  )

  /** Each registered query's plan, by name. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    roster.map(q => q.name -> q.plan).toMap

  /** Each registered query's oracle SQL, by name; queries without one are
    * absent.
    */
  def oracleSql: Map[String, String] =
    roster.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
