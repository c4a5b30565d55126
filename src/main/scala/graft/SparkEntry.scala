package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator from SURVEY.md §2 is registered here as a
  * named query over the driver testdata, with (where SQL-expressible) a
  * DuckDB oracle in [[oracleSql]]. Column names and ORDER BYs match
  * between the Spark query and the oracle exactly (the driver's compare
  * sorts columns by name and hashes values).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Insights.topProductsByRevenue(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- BI insight queries (SQL Analysis docx Q1-Q4) ---
    "q01_top_products" -> ((s, d) => Insights.topProductsByRevenue(s, d)),
    "q02_monthly_revenue" -> ((s, d) => Insights.monthlyRevenue(s, d)),
    "q03_revenue_by_store" -> ((s, d) => Insights.revenueByStore(s, d)),
    "q04_balance_bucket" -> ((s, d) => Insights.revenueByBalanceBucket(s, d)),
    // --- dashboard KPIs (F4-F8) ---
    "q05_kpi_summary" -> ((s, d) => Insights.kpiSummary(s, d)),
    "q06_category_share" -> ((s, d) => Insights.categoryShare(s, d)),
    // --- warehouse build (dims, surrogate keys, fact, upsert) ---
    "q07_dim_date" -> ((s, d) => Star.dimDate(s, d).orderBy("date_key")),
    "q08_dim_store" -> ((s, d) => Star.dimStore(s, d).orderBy("store_key")),
    // testdata has duplicate (orderkey, linenumber) pairs, so the sort
    // must tiebreak across the whole payload to be deterministic.
    // the repartition is the exchange barrier that stops the ORDER BY's
    // range-sampling job from re-executing the whole join pipeline
    // (see ScalableKeys/percentile note: AQE materializes at exchanges)
    "q09_fact_sales" -> ((s, d) => Star.factSales(s, d)
      .repartition(org.apache.spark.sql.functions.col("sales_id"))
      .orderBy("sales_id",
      "product_key", "store_key", "date_key", "quantity", "unit_price",
      "discount_pct")),
    "q13_date_upsert" -> ((s, d) =>
      Star.upsertByKey(
        Star.dimDateFrom(graft.sources.Tables.orders(s, d), "o_orderdate"),
        Star.dimDateFrom(graft.sources.Tables.lineitem(s, d), "l_shipdate"),
        "date_key").orderBy("date_key")),
    // --- data-quality checks (K1-K3) ---
    "q10_fk_integrity" -> ((s, d) => Validation.fkIntegrity(s, d)),
    "q11_null_audit" -> ((s, d) => Validation.nullAudit(s, d)),
    "q12_row_counts" -> ((s, d) => Validation.rowCounts(s, d)),
    // --- deduplication (exact, MinHash+LSH, SimHash) ---
    "q14_dedup_exact" -> ((s, d) => Dedup.exactDedup(s, d)),
    "q15_minhash_signatures" -> ((s, d) => Dedup.minhashSignatures(s, d)),
    "q16_neardup_pairs" -> ((s, d) => Dedup.neardupPairs(s, d)),
    "q17_simhash" -> ((s, d) => Dedup.simhash(s, d)),
    "q18_simhash_neardup" -> ((s, d) => Dedup.simhashNeardup(s, d)),
    // --- text analysis ---
    "q19_text_stats" -> ((s, d) => TextAnalysis.textStats(s, d)),
    "q20_language_id" -> ((s, d) => TextAnalysis.languageId(s, d)),
    "q21_fingerprints" -> ((s, d) => TextAnalysis.fingerprints(s, d)),
    // --- similarity search over embeddings ---
    "q22_embed_stats" -> ((s, d) => Similarity.embedStats(s, d)),
    "q23_knn_bruteforce" -> ((s, d) => Similarity.knnBruteForce(s, d)),
    "q24_ann_lsh" -> ((s, d) => Similarity.annLsh(s, d)),
    "q25_embed_neardup" -> ((s, d) => Similarity.embeddingNeardup(s, d, 0.4)),
    // --- event-stream analytics (batch form) ---
    "q26_events_hourly" -> ((s, d) => Events.hourlyByType(s, d)),
    "q27_events_sliding" -> ((s, d) => Events.slidingHourly(s, d)),
    "q28_events_sessions" -> ((s, d) => Events.sessionize(s, d)),
    "q29_events_daily" -> ((s, d) => Events.dailyTypeRollup(s, d)),
    // --- multimodal binary columns: per-kind REAL codec decode ---
    "q30_media_features" -> ((s, d) => Multimodal.mediaFeatures(s, d)),
    "q31_media_rollup" -> ((s, d) => Multimodal.mediaKindRollup(s, d)),
    // --- round-2 additions: JSON props, blocking Jaccard, IVF ANN ---
    "q32_events_props" -> ((s, d) => Events.propsRollup(s, d)),
    "q33_ngram_jaccard" -> ((s, d) => Dedup.ngramJaccardPairs(s, d)),
    "q34_ann_ivf" -> ((s, d) => Similarity.annIvf(s, d)),
    // product-quantization ANN: codes-table scan + broadcast per-query
    // distance table, fixed-order ADC (cell-exact vs the oracle)
    "q138_ann_pq" -> ((s, d) => Similarity.annPq(s, d)),
    // SemDeDup-style cluster-then-dedup: data-adaptive blocking beside
    // q25's LSH bands; per-cluster md5 cap bounds pair work at k*cap^2
    "q140_semantic_dedup" -> ((s, d) => Similarity.semanticDedup(s, d)),
    // PQ over TRAINED sub-codebooks (one Lloyd step, engine-exact
    // quantized-mean fit); same search tail as q138
    "q142_ann_pq_trained" -> ((s, d) => Similarity.annPqTrained(s, d)),
    // IVF×PQ composition (IVFADC): coarse cells prune the ADC scan to
    // each query's nprobe nearest cells; trained codebooks + the same
    // shortlist/re-rank tail
    "q144_ann_ivf_pq" -> ((s, d) => Similarity.annIvfPq(s, d)),
    // streaming sketched-distinct: KMV bottom-k longs as windowed state
    // (constant per open window); engine-portable md5-60 cells make the
    // readout fully hash-checkable (round 12 — was rows-only HLL)
    "q141_streaming_distinct" -> ((s, d) =>
      graft.streaming.EventStreams.hourlyDistinctKmvAvailableNow(s, d)),
    "q35_media_frames" -> ((s, d) => Multimodal.mediaFrames(s, d)),
    // --- round-3: CSV cleaning chains over dirty fixtures (B2-B6, C1-C4) ---
    "q36_clean_sales" -> ((s, d) => CleanCsv.cleanSalesCsv(s, d)),
    "q37_clean_products" -> ((s, d) => CleanCsv.cleanProductsCsv(s, d)),
    "q38_clean_customers" -> ((s, d) => CleanCsv.cleanCustomersCsv(s, d)),
    // full-MERGE semantics (E6): lineitem-derived dim_date (tagged) wins
    // over the orders-derived one on matched date_keys
    "q39_date_merge" -> ((s, d) =>
      Star.mergeByKey(
        Star.dimDateFrom(graft.sources.Tables.orders(s, d), "o_orderdate")
          .withColumn("src", lit("orders")),
        Star.dimDateFrom(graft.sources.Tables.lineitem(s, d), "l_shipdate")
          .withColumn("src", lit("lineitem")),
        "date_key").orderBy("date_key")),
    // derived money arithmetic over the dirty fixtures (B10 + B11)
    "q40_derived_amounts" -> ((s, d) => CleanCsv.derivedAmountsCsv(s, d)),
    // token counting: whitespace + BPE-ish regex pre-tokenizer
    "q41_token_counts" -> ((s, d) => TextAnalysis.tokenCounts(s, d)),
    // windowed BI analytics: per-group top-N, running totals, ROLLUP
    "q42_top_brands_region" -> ((s, d) => Insights.topBrandsPerRegion(s, d)),
    "q43_running_revenue" -> ((s, d) => Insights.monthlyRunningRevenue(s, d)),
    "q44_revenue_rollup" -> ((s, d) => Insights.revenueRollup(s, d)),
    // HLL sketch KPIs — no oracle (estimates are engine-specific), so
    // the driver records the weaker rows-only check for this one
    "q45_kpi_approx" -> ((s, d) => Insights.kpiSummaryApprox(s, d)),
    // as-of join (temporal nearest-prior) — DuckDB native ASOF oracle
    "q46_asof_join" -> ((s, d) => AsofJoin.purchaseBeforeClick(s, d)),
    // salted aggregation: results independent of the salt (oracle is
    // the plain GROUP BY). l_quantity is integer-valued, so the double
    // sum is exact and order-independent.
    "q47_salted_agg" -> ((s, d) =>
      Salting.saltedSum(graft.sources.Tables.lineitem(s, d)
          .select("l_returnflag", "l_quantity"),
        "l_returnflag", "l_quantity", numSalts = 8)
        .orderBy("l_returnflag")),
    // JSONL sink + scan roundtrip, fidelity-checked by text md5
    "q48_jsonl_roundtrip" -> ((s, d) =>
      graft.sources.Tables.documentsJsonlRoundtrip(s, d)),
    // exact percentile KPIs (R-7 interpolation matches quantile_cont)
    "q49_percentiles" -> ((s, d) => Insights.percentileSummary(s, d)),
    // chunked range join (no-equi-key interval containment)
    "q50_range_join" -> ((s, d) => RangeJoin.clicksNearErrors(s, d)),
    // corpus vocabulary (term/document frequency, top of distribution)
    "q51_vocabulary" -> ((s, d) => TextAnalysis.vocabulary(s, d)),
    // IQR box-plot outlier audit per return flag
    "q52_outlier_audit" -> ((s, d) => Validation.outlierAudit(s, d)),
    // corpus sampling policies: deterministic split, domain caps, packing
    "q53_train_split" -> ((s, d) => Sampling.trainSplit(s, d)),
    "q54_domain_caps" -> ((s, d) => Sampling.domainCaps(s, d)),
    "q55_seq_packing" -> ((s, d) => Sampling.seqPacking(s, d)),
    // within-doc repetition gates and PII scrubbing
    "q56_repetition" -> ((s, d) => TextAnalysis.repetition(s, d)),
    "q57_pii_redaction" -> ((s, d) => TextAnalysis.piiRedaction(s, d)),
    // int8 embedding quantization (ANN storage path)
    "q58_embed_quantize" -> ((s, d) => Similarity.embedQuantize(s, d)),
    // SCD Type-2 dim maintenance over a deterministic staged snapshot
    "q59_scd2" -> ((s, d) => Scd.customerScd2(s, d)),
    // connected-components cluster resolution over near-dup pairs
    "q60_dedup_clusters" -> ((s, d) => Dedup.dedupClusters(s, d)),
    // bloom-prefiltered semi join (native BloomFilterAggregate/MightContain)
    "q61_bloom_join" -> ((s, d) => Insights.highValueItems(s, d)),
    // incremental rollup: merged batch partials == full recompute
    "q62_incremental_rollup" -> ((s, d) => Events.incrementalDailyRollup(s, d)),
    // product-analytics: click->purchase funnel, latest-state compaction
    "q63_click_funnel" -> ((s, d) => Events.clickFunnel(s, d)),
    "q66_latest_by_user" -> ((s, d) => Events.latestByUser(s, d)),
    // reshape operators: pivot (long->wide) and unpivot (wide->long)
    "q64_region_pivot" -> ((s, d) => Insights.monthlyRegionPivot(s, d)),
    "q65_props_unpivot" -> ((s, d) => Insights.propsRollupUnpivot(s, d)),
    // Z-order clustering key for multidimensional file skipping
    "q67_zorder" -> ((s, d) => Layout.ordersZOrder(s, d)),
    // feature-engineering / exact distributed statistics
    "q68_value_deciles" -> ((s, d) => Features.valueDeciles(s, d)),
    "q69_exact_corr" -> ((s, d) => Features.exactCorr(s, d)),
    "q70_price_histogram" -> ((s, d) => Features.priceHistogram(s, d)),
    "q71_moving_revenue" -> ((s, d) => Features.movingRevenue(s, d)),
    // blocked edit-distance record linkage
    "q72_fuzzy_match" -> ((s, d) => Dedup.fuzzyNameMatch(s, d)),
    // fixed-window document chunking with overlap (RAG/pretraining)
    "q73_doc_chunks" -> ((s, d) => TextAnalysis.chunkDocs(s, d)),
    // set algebra cohorts (INTERSECT / EXCEPT)
    "q74_set_cohorts" -> ((s, d) => Insights.customerHalfCohorts(s, d)),
    // raw SQL channel: multi-statement script via the quote-aware runner
    "q75_sql_channel" -> ((s, d) => graft.etl.Catalog.sqlChannel(s, d)),
    // log-free TF-IDF term salience, top-k terms per doc
    "q76_tfidf" -> ((s, d) => TextAnalysis.tfidf(s, d)),
    // overlap-coefficient containment (subset-duplicate detection)
    "q77_containment" -> ((s, d) => Dedup.containmentPairs(s, d)),
    // event debouncing and rolling 7-day active users
    "q78_debounce" -> ((s, d) => Events.debounce(s, d)),
    "q79_active_users" -> ((s, d) => Events.rollingActiveUsers(s, d)),
    // retention cohort triangle and gaps-and-islands streaks
    "q80_retention" -> ((s, d) => Events.retentionCohorts(s, d)),
    "q81_streaks" -> ((s, d) => Events.activityStreaks(s, d)),
    // --- round-4: corpus curation (exact-substring dedup, quality
    // gates, eval-set decontamination) ---
    "q82_shingle_dedup" -> ((s, d) => Corpus.shingleDedup(s, d)),
    "q83_quality_gates" -> ((s, d) => Corpus.qualityGates(s, d)),
    "q84_decontamination" -> ((s, d) => Corpus.decontamination(s, d)),
    // full CUBE lattice + gap-filled month spine + percent-of-parent
    "q85_revenue_cube" -> ((s, d) => Insights.revenueCube(s, d)),
    "q86_month_spine" -> ((s, d) => Insights.monthSpineRevenue(s, d)),
    "q89_brand_share" -> ((s, d) => Insights.brandShareInType(s, d)),
    // interval sweep line, Markov transitions, inter-arrival percentiles
    "q87_concurrent_sessions" -> ((s, d) => Events.concurrentSessions(s, d)),
    "q88_transitions" -> ((s, d) => Events.transitionMatrix(s, d)),
    "q90_interarrival" -> ((s, d) => Events.interarrival(s, d)),
    // robust (MAD) outlier fences; GDPR cascade-erasure audit
    "q91_mad_outliers" -> ((s, d) => Features.madOutliers(s, d)),
    "q92_gdpr_erasure" -> ((s, d) => Validation.gdprErasure(s, d)),
    // --- round-4: retail BI classics (RFM, basket affinity, Pareto,
    // acquisition split, fulfilment SLA) ---
    "q93_rfm_segments" -> ((s, d) => RetailBi.rfmSegments(s, d)),
    "q94_basket_pairs" -> ((s, d) => RetailBi.basketPairs(s, d)),
    "q95_abc_classes" -> ((s, d) => RetailBi.abcClassification(s, d)),
    "q96_new_vs_returning" -> ((s, d) => RetailBi.newVsReturning(s, d)),
    "q97_ship_lag" -> ((s, d) => RetailBi.shipLag(s, d)),
    // corpus curation II: template grams, mojibake gate, temperature mix
    "q98_boilerplate" -> ((s, d) => Corpus.boilerplateGrams(s, d)),
    "q99_encoding_gate" -> ((s, d) => Corpus.encodingGate(s, d)),
    "q100_domain_mixture" -> ((s, d) => Corpus.domainMixture(s, d)),
    // statistical QA: Benford, independence, anomaly z, concentration
    "q101_benford" -> ((s, d) => StatQa.benfordAudit(s, d)),
    "q102_independence" -> ((s, d) => StatQa.segmentRegionIndependence(s, d)),
    "q103_daily_anomalies" -> ((s, d) => StatQa.dailyAnomalies(s, d)),
    "q104_revenue_gini" -> ((s, d) => StatQa.revenueGini(s, d)),
    // ANN recall gate; explicit grouping-sets lattice
    "q105_ann_recall" -> ((s, d) => Similarity.annRecall(s, d)),
    "q106_priority_sets" -> ((s, d) => Insights.prioritySets(s, d)),
    // --- round-4 wave 2: frontier/sampling/skew/reconcile/tokenizer ---
    // 2-D Pareto frontier (bucket-local pass, NOT the O(n^2) self-join)
    "q107_skyline" -> ((s, d) => Skyline.skylineParts(s, d)),
    // deterministic weighted sample (priority sampling, u/w order keys)
    "q108_weighted_sample" -> ((s, d) => Sampling.weightedSample(s, d)),
    // stratified sample with exact per-language quotas
    "q109_stratified_sample" -> ((s, d) => Sampling.stratifiedSample(s, d)),
    // heavy-hitter key-skew audit (salting/AQE decision input)
    "q110_heavy_hitters" -> ((s, d) => StatQa.heavyHitters(s, d)),
    // FULL OUTER cross-source daily reconciliation
    "q111_daily_reconcile" -> ((s, d) => Validation.dailyReconcile(s, d)),
    // BPE first-merge pair counts off the vocabulary (tokenizer induction)
    "q112_bpe_merges" -> ((s, d) => Corpus.bpeMerges(s, d)),
    // per-group top-k via the custom TopKByValue Aggregator (UDAF path)
    "q113_topk_per_segment" -> ((s, d) => Insights.topCustomersPerSegment(s, d)),
    // weekday seasonality profile (ppm shares + seasonal index)
    "q114_weekday_seasonality" -> ((s, d) => RetailBi.weekdaySeasonality(s, d)),
    // analytic rank features (percent_rank / cume_dist, tie-free order)
    "q115_price_ranks" -> ((s, d) => Features.priceRanks(s, d)),
    // exact weighted median from integer prefix sums (no interpolation)
    "q116_weighted_median" -> ((s, d) => Features.weightedMedian(s, d)),
    // correlated EXISTS / NOT EXISTS via spark.sql (ANSI text == oracle)
    "q117_exists_subquery" -> ((s, d) => Insights.qualifiedOrders(s, d)),
    // --- round-5: sink fidelity + approximate twins for the 100 TB
    // read path ---
    // parquet replace+append then CSV sink/scan roundtrip, hash-checked
    // cell-exact against the original table (A2/A3/A4 driver-visible)
    "q118_sink_roundtrip" -> ((s, d) =>
      graft.sources.Tables.ordersSinkRoundtrip(s, d)),
    // t-digest approx percentiles beside exact q49 — CHECKED shape
    // since round 14: exact values hash-oracled, the live estimates
    // audited by an EXECUTED in-row bound bit the oracle pins to 1
    // (raw estimates stay available via approxPercentileSummary,
    // tolerance-asserted in ApproxSpec)
    "q119_approx_percentiles" -> ((s, d) =>
      Insights.approxPercentileChecked(s, d)),
    // Misra-Gries candidate + exact-verify heavy hitters beside exact
    // q110 — SELF-CERTIFYING since round 13: the Σ-decrement-rounds
    // certificate proves the candidate path exact (else exact
    // fallback), so the oracle is the plain exact top-N SQL
    "q120_approx_heavy_hitters" -> ((s, d) =>
      StatQa.approxHeavyHitters(s, d)),
    // measured recall/cost sweep over every (bands x bits) split of the
    // LSH signature, ranked against the q23 brute-force ground truth
    "q121_ann_config_sweep" -> ((s, d) => Similarity.annConfigSweep(s, d)),
    // bigram-coverage quality score (integer-exact LM-filter stand-in)
    "q122_bigram_coverage" -> ((s, d) => TextAnalysis.bigramCoverage(s, d)),
    // deterministic shard assignment + balance audit (integer load ppm)
    "q123_shard_stats" -> ((s, d) => Sampling.shardStats(s, d)),
    // REAL Structured Streaming run (file source -> watermarked window
    // agg -> memory sink, available-now trigger); oracle = q26 batch SQL
    "q124_streaming_hourly" -> ((s, d) =>
      graft.streaming.EventStreams.hourlyByTypeAvailableNow(s, d)),
    // APPEND-mode streaming session windows: only sessions the final
    // watermark passed are emitted; the oracle recomputes that cutoff
    "q125_streaming_sessions" -> ((s, d) =>
      graft.streaming.EventStreams.sessionWindowsAvailableNow(s, d)),
    // backward as-of join: one key shuffle + shared window, no range
    // fan-out; oracle is DuckDB's native ASOF LEFT JOIN
    "q126_asof_attribution" -> ((s, d) => Events.purchaseClickAsof(s, d)),
    // CDC changeset extract: one full-outer sort-merge join, I/U/D ops
    "q127_snapshot_diff" -> ((s, d) => Scd.customerSnapshotDiff(s, d)),
    // distributed Lloyd k-means: decimal-exact centroid sums, cosine
    // assignment; the trained-quantizer completion of q34's IVF
    "q128_kmeans_clusters" -> ((s, d) => Similarity.kmeans(s, d, iters = 3)),
    // integer-exact damped PageRank over symmetrized q94 basket pairs
    "q129_copurchase_rank" -> ((s, d) => Graph.copurchaseRank(s, d)),
    // point-in-time join: orders resolve the segment valid on the
    // order date against the Type-2 dim (equi key + date band)
    "q130_pit_sales" -> ((s, d) => Scd.pitSales(s, d)),
    // flatMapGroupsWithState sessionizer as a real streaming run:
    // in-batch closures + event-time-timeout evictions, both oracled
    "q131_streaming_stateful" -> ((s, d) =>
      graft.streaming.EventStreams.sessionizeStatefulAvailableNow(s, d)),
    // at-least-once ingest dedup: a doubled replay must collapse back
    // to the batch rollup
    "q132_streaming_dedup" -> ((s, d) =>
      graft.streaming.EventStreams.dedupStreamAvailableNow(s, d)),
    // stream-stream interval join (dual watermarks + time-range state
    // bound) drained against the batch-join oracle
    "q133_streaming_join" -> ((s, d) =>
      graft.streaming.EventStreams.errorClickPairsAvailableNow(s, d)),
    // MULTI-micro-batch replay: chronological file split + one file per
    // trigger, so watermark advancement and mid-stream state eviction
    // across data batches is driver-checked (self-asserts >1 data batch)
    "q134_streaming_batched" -> ((s, d) =>
      graft.streaming.EventStreams.sessionWindowsBatchedReplay(s, d)),
    // DURABLE parquet sink + checkpoint: killed mid-replay after >=1
    // committed batch, restarted, drained — exactly-once across the
    // kill, batch-read back through the sink's _spark_metadata log
    "q143_streaming_restart" -> ((s, d) =>
      graft.streaming.EventStreams.sessionWindowsDurableRestart(s, d)),
    // watermark ENFORCEMENT: a deliberately-late tail file (copy of the
    // oldest bucket, highest mtime) must be dropped without trace
    // (self-asserts numRowsDroppedByWatermark > 0)
    "q146_streaming_late" -> ((s, d) =>
      graft.streaming.EventStreams.sessionWindowsLateReplay(s, d)),
    // general-path PageRank: DIRECTED co-purchase edges (low->high part
    // key) with genuine dangling nodes; per-iteration mass redistribution
    "q135_directed_rank" -> ((s, d) => Graph.directedRank(s, d)),
    // sketch-accuracy sweep: error-vs-state for q45's HLL rsd and q119's
    // t-digest accuracy dials — CHECKED shape since round 14: portable
    // columns (dials, bounds, exact companions, executed within_bound)
    // under a full oracle; only the engine-specific max_err_ppm stays
    // spec-only (ApproxSpec asserts it per dial on the full frame)
    "q136_sketch_sweep" -> ((s, d) =>
      Insights.sketchAccuracySweepChecked(s, d)),
    // pre-aggregated HLL shard cells merged on read (the 100 TB KPI
    // pattern: sketch once, roll up forever); rows-only, with an
    // in-row self-oracle (merge_is_lossless) pinned by HllSpec
    "q137_hll_shards" -> ((s, d) => Insights.sketchShardRollup(s, d)),
    // sampled KPI + CLT error bar (AQP): deterministic hash-sample,
    // 1/p extrapolation, exact-moment arithmetic -> full oracle
    "q139_sampled_kpi" -> ((s, d) => Insights.sampledKpi(s, d)),
    // sampled GROUP-BY AQP: per-brand revenue estimates + per-group HT
    // 95% intervals from the same deterministic sample panel (q139's
    // buckets); sample filter below the broadcast dim join
    "q145_sampled_groups" -> ((s, d) => Insights.sampledGroupKpi(s, d)),
    // incremental near-dup admission: incoming (odd) batch probed
    // against the PERSISTED corpus (even) band index - O(batch) per
    // ingest, never re-pairs the corpus
    "q147_incremental_dedup" -> ((s, d) => Dedup.incrementalDedup(s, d)),
    // UPDATE output mode over the multi-batch replay: the sink is the
    // update log; folding it (latest update per key) must equal the
    // batch aggregate (self-asserts the log shows cross-batch updates)
    "q148_streaming_update" -> ((s, d) =>
      graft.streaming.EventStreams.hourlyByTypeUpdateReplay(s, d)),
    // stream-static enrichment join: events joined to the static
    // customer dim (broadcast) below a segment rollup
    "q149_streaming_enrich" -> ((s, d) =>
      graft.streaming.EventStreams.segmentRollupStream(s, d)),
    // mergeable histogram percentile cells: per-shard bucket counts,
    // rollup by vector add, percentile from the cumulative walk -
    // integer-exact, so it carries a FULL oracle (q137's pattern for
    // percentiles, without t-digest's implementation-defined state)
    "q150_histogram_cells" -> ((s, d) =>
      Insights.histogramPercentileCells(s, d)),
    // triangle counting with degree-ordered orientation: wedge fanout
    // bounded by out-degree^2 = O(m) total, hub-safe
    "q151_triangle_count" -> ((s, d) => Graph.triangleCounts(s, d)),
    // distribution drift (TVD + Linf, ppm) between stream halves -
    // integer-exact, no libm in either engine
    "q152_value_drift" -> ((s, d) => StatQa.valueDrift(s, d)),
    // exact audience-overlap matrix: one fact dedup, user-grain
    // self-join bounded by the type vocabulary
    "q153_audience_overlap" -> ((s, d) => Events.audienceOverlap(s, d)),
    // foreachBatch MERGE sink: versioned latest-by-user target folded
    // across batches (idempotent struct-max merge = exactly-once state)
    "q154_streaming_upsert" -> ((s, d) =>
      graft.streaming.EventStreams.latestByUserUpsertReplay(s, d)),
    // cluster-balanced diversity sample: proportional quotas with a
    // tail floor, md5-rank selection, map-side argmax assignment
    "q155_diversity_sample" -> ((s, d) => Similarity.diversitySample(s, d)),
    // REAL image codec at the decode boundary: BMP
    // encode -> header parse + pixel walk + structural layout inverse,
    // partition-wise with per-partition codec state
    "q156_media_decode" -> ((s, d) => Multimodal.mediaDecode(s, d)),
    // the q141 sketch in its DEPLOYMENT mode: Update output + watermark
    // EVICTION of closed windows, observed via numRowsRemoved; the fold
    // equals the q141 finals so both share one hash-checked oracle
    "q157_streaming_evict" -> ((s, d) =>
      graft.streaming.EventStreams.hourlyDistinctKmvUpdateReplay(s, d)),
    // slowly-changing-dim pickup: foreachBatch re-read + mid-stream
    // version bump, v1/v2 names both observed in the folded output
    "q160_stream_dim_swap" -> ((s, d) =>
      graft.streaming.EventStreams.dimSwapEnrichReplay(s, d)),
    // IVF×PQ against the PERSISTED codes index (encode once at ingest,
    // search reads codes parquet; PlanSpec pins no pq_encode in search)
    "q158_pq_stored" -> ((s, d) => Similarity.annIvfPqStored(s, d)),
    // the incremental-dedup LOOP: round-1 admits appended to the index
    // as a versioned segment, round 2 dedups against corpus + admits
    "q159_dedup_loop" -> ((s, d) => Dedup.incrementalDedupLoop(s, d)),
    // mergeable Count-Min shard cells (per-key counts from merged
    // integer grids, never rescanning facts) — FULL oracle, min>=exact
    "q161_cms_cells" -> ((s, d) => StatQa.cmsShardCells(s, d)),
    // attribute-filtered ANN: predicate evaluated inside probed cells
    "q162_filtered_ann" -> ((s, d) => Similarity.annIvfFiltered(s, d)),
    // stream-stream LEFT OUTER interval join: unmatched errors surface
    // on watermark-proven no-match (state eviction semantics)
    "q163_streaming_outer_join" -> ((s, d) =>
      graft.streaming.EventStreams.errorClickLeftOuterAvailableNow(s, d)),
    // ORC sink/scan roundtrip (third columnar format; oracle reads the
    // original table - the q118 sink-fidelity discipline)
    "q164_orc_roundtrip" -> ((s, d) =>
      graft.sources.Tables.ordersOrcRoundtrip(s, d)),
    // sparse keyword retrieval (inverted-index shape): term-pruned
    // postings, integer rarity weights, top-k TakeOrdered
    "q165_keyword_search" -> ((s, d) => TextAnalysis.keywordSearch(s, d)),
    // SECOND real codec with real compression on the wire: deflate
    // audio container, per-partition Inflater reuse, CRC32-verified
    // roundtrip (q156's BMP sibling)
    "q166_audio_decode" -> ((s, d) => Multimodal.audioDecodeRun(s, d)),
    // positional-postings phrase search: term-pruned (doc_id, pos)
    // pairs, adjacency verified by a position-equi-join per term
    "q167_phrase_search" -> ((s, d) => TextAnalysis.phraseSearch(s, d)),
    // REAL frame sampling over a REAL seekable container: per-frame
    // deflate streams behind a (offset, compLen, CRC32) directory;
    // only every 4th frame is inflated — sampled bytes, not container
    // bytes, set the cost (q35 samples the same container at 48/3)
    "q168_video_frames" -> ((s, d) => Multimodal.videoFramesRun(s, d)),
    // REAL resize: BMP decode -> nearest-neighbor 16x16 gather ->
    // re-encode -> decode with the unmodified decoder; the oracle
    // replays the integer gather
    "q169_media_resize" -> ((s, d) => Multimodal.mediaResize(s, d)),
    // stream-stream FULL OUTER interval join: both unmatched sides
    // surface by state eviction (completes the q133/q163 triad)
    "q170_streaming_full_outer" -> ((s, d) =>
      graft.streaming.EventStreams.errorClickFullOuterAvailableNow(s, d)),
    // BM25 ranking: tf saturation + length normalization over the
    // q165 postings shape; integer idf weights, floor-quantized
    // per-term contributions (order-free exact cross-engine sum)
    "q171_bm25_search" -> ((s, d) => TextAnalysis.bm25Search(s, d)),
    // Spark 4 transformWithState (arbitrary-state v2): per-user
    // lifetime profile in TWO typed state variables (ValueState agg +
    // MapState per-type counts), RocksDB-backed, Update-mode drain
    "q172_transform_with_state" -> ((s, d) =>
      graft.streaming.EventStreams.userLifetimeAvailableNow(s, d)),
    // sorted export: exact equi-width buckets -> per-bucket dirs with
    // within-file key order (the min/max data-skipping layout); the
    // manifest round-trips through the written files
    "q173_sorted_export" -> ((s, d) => Layout.sortedExportManifest(s, d)),
    // transformWithState TIMERS + ListState: event-time inactivity
    // digest — one re-armed timer per user, trailing-3 id list state,
    // emit+clear on expiry (the v2 API's other half vs q172)
    "q174_tws_timers" -> ((s, d) =>
      graft.streaming.EventStreams.inactivityDigestAvailableNow(s, d)),
    // transformWithState INITIAL STATE: bootstrap streaming state from
    // a batch history snapshot, stream only the live tail — profiles
    // must equal the full-history fold (the pipeline-migration move)
    "q175_tws_bootstrap" -> ((s, d) =>
      graft.streaming.EventStreams.userLifetimeBootstrapAvailableNow(s, d)),
    // schema evolution: two parquet generations (v2 adds a column),
    // mergeSchema read unifies them; old segments surface the evolved
    // column as the -1 sentinel
    "q176_schema_evolution" -> ((s, d) =>
      graft.sources.Tables.ordersEvolvedRead(s, d)),
    // stream-static LEFT ANTI: the streaming suppression-list shape
    // (GDPR/contamination blocklist), broadcast + stateless map-side
    "q177_streaming_anti" -> ((s, d) =>
      graft.streaming.EventStreams.suppressedStreamAvailableNow(s, d)),
    // mergeable KMV distinct cells: bottom-K md5 hashes per shard,
    // merged == direct as an EXACT oracle equality (the sketch-shard
    // family's fully-checkable distinct sketch)
    "q178_kmv_cells" -> ((s, d) => StatQa.kmvShardCells(s, d)),
    // Spark 4 VARIANT: parse-once binary JSON, typed variant_get paths,
    // try_variant_get missing-path NULL semantics pinned
    "q179_variant_props" -> ((s, d) => Events.variantPathRollup(s, d)),
    // stream-stream LEFT SEMI interval join: completes the join-type
    // matrix (inner/left/full/anti/semi); chunk replicas folded at
    // error grain
    "q180_streaming_semi" -> ((s, d) =>
      graft.streaming.EventStreams.errorClickSemiAvailableNow(s, d)),
    // per-group OLS fit from one map-side-combining moments aggregate;
    // engine-exact via cents quantization + hi/lo double crossing
    "q181_group_ols" -> ((s, d) => StatQa.groupOls(s, d)),
    // scene-change detection over the fully-decoded frame stream:
    // real inflate+CRC per frame, LAG threshold, per-media rollup
    "q182_scene_changes" -> ((s, d) => Multimodal.sceneChanges(s, d)),
    // rolling 7-day distinct from the persisted daily KMV cells:
    // merge-on-read per day; cell_kth == direct_kth per window is the
    // oracle-checked merge property
    "q183_rolling_distinct" -> ((s, d) => StatQa.rollingDistinctCells(s, d)),
    // hybrid retrieval: BM25 + dense cosine rank lists fused by
    // reciprocal-rank fusion (1/(60+rank)), full-outer rank join
    "q184_hybrid_rrf" -> ((s, d) => Similarity.hybridRrfSearch(s, d)),
    // EXACT all-pairs set-similarity join via prefix filtering — the
    // no-recall-loss dedup tier above LSH banding; candidates pruned
    // ~1000x by the rarest-prefix index (lemma proven in DedupSpec)
    "q185_allpairs_jaccard" -> ((s, d) => Dedup.allPairsJaccard(s, d)),
    // (context, next-token) training-sequence construction over user
    // timelines: 3 LAGs + histogram, no self-joins
    "q186_context_windows" -> ((s, d) => Events.contextWindows(s, d)),
    // bucketed co-located join as a CORRECTNESS row: write-side shuffle
    // amortization, zero-Exchange SMJ REQUIRED on the physical plan
    "q187_bucket_join" -> ((s, d) => Layout.bucketedJoinRollup(s, d)),
    // half-life-decayed engagement: engine-exact recency weighting via
    // BIGINT right-shifts (no pow, order-free integer sums)
    "q188_decayed_engagement" -> ((s, d) => Events.decayedEngagement(s, d)),
    // explicit GROUPING SETS: the non-hierarchical multi-grain report
    // (detail + brand marginal + grand total) in one Expand+agg
    "q189_grouping_sets" -> ((s, d) => Insights.revenueGroupingSets(s, d)),
    // interval x interval OVERLAP join: sessions vs derived campaign
    // windows, exact integer overlap microseconds
    "q190_interval_overlap" -> ((s, d) => Events.campaignOverlap(s, d)),
    // linear multi-touch attribution: purchase cents split equally
    // (floor div) across the window's prior touches, per channel
    "q191_multitouch" -> ((s, d) => Events.multiTouchAttribution(s, d)),
    // whole-session path histogram: struct-sorted event order, top-50
    "q192_session_paths" -> ((s, d) => Events.sessionPaths(s, d)),
    // order-independent per-table content fingerprints (xor + mod-2^59
    // sum of canonical-row md5-60s) - the replication verification row
    "q193_table_checksums" -> ((s, d) => Validation.tableChecksums(s, d)),
    // keep-best dedup: each near-dup cluster keeps its highest-quality
    // member (q83 gate score, ties to min id) via one struct-max agg
    "q194_keep_best" -> ((s, d) => Dedup.keepBestDedup(s, d)),
    // incremental ANN index maintenance: the new batch's codes appended
    // as a _SUCCESS-committed segment (base never rewritten), search
    // reads the segment union - results identical to q144/q158
    "q195_ann_index_append" -> ((s, d) => Similarity.annIndexAppend(s, d)),
    // the COMPOSED corpus build: gates -> near-dup -> decontamination
    // -> diversity sample -> packing, as one telescoping ledger +
    // packed-sequence histogram (the north-star integration DAG)
    "q196_corpus_pipeline" -> ((s, d) => Corpus.corpusPipeline(s, d)),
    // fuzzy string join (edit distance <= 1) via complete 1-deletion
    // neighborhood blocking + levenshtein verify - entity resolution
    // without the n^2 cross join
    "q197_fuzzy_join" -> ((s, d) => Joins.fuzzyNameJoin(s, d)),
    // hierarchical subtree rollup: per-row ancestor-chain fold + one
    // ancestor-grain exchange (the scalable form of a recursive CTE;
    // the oracle walks the same tree with WITH RECURSIVE)
    "q198_hierarchy_rollup" -> ((s, d) => Graph.hierarchyRollup(s, d)),
    // ANN index lifecycle closed: segments folded into one compacted
    // dir (pure code copy, no re-encode) with an EXECUTED
    // search-equality check (the q137 self-oracle idiom)
    "q199_ann_compact" -> ((s, d) => Similarity.annIndexCompact(s, d)),
    // CUPED variance-reduced A/B readout: hash arms, pre-period
    // covariate, pooled theta, algebraic adjusted means (q181's
    // engine-exact sufficient-statistics discipline)
    "q200_cuped_lift" -> ((s, d) => StatQa.cupedLift(s, d)),
    // Hamilton largest-remainder token-budget apportionment across
    // sources by gate-passing token supply - the mixture-design step;
    // all-integer, sum(final) == budget by construction
    "q201_token_apportionment" -> ((s, d) => Sampling.tokenApportionment(s, d)),
    // q83's gate battery on the LIVE path: file-streamed document
    // batches, fused map-side gates, idempotent per-batch ledgers
    // folded to the batch answer (stateless => split-invariant)
    "q202_streaming_gate" -> ((s, d) =>
      graft.streaming.EventStreams.corpusGateStreamAvailableNow(s, d)),
    // mutual-kNN graph (SemDeDup clustering substrate): rank-mutual
    // edges over strict-dial LSH candidates, never the n^2 cross join
    "q203_mutual_knn" -> ((s, d) => Similarity.mutualKnnGraph(s, d)),
    // --- round 12 ---
    // the SemDeDup ENDGAME: q203 edges -> q60 components (shared
    // propagateMinLabels) -> q194 keep-best policy, one registered query
    "q204_semantic_endgame" -> ((s, d) =>
      Similarity.semanticDedupEndgame(s, d)),
    // q196 stage 2 on the live path: per-batch near-dup admission
    // against the committed band-segment union (q159's index idiom),
    // ledger folds to the batch answer exactly
    "q205_streaming_neardup" -> ((s, d) =>
      graft.streaming.EventStreams.streamingNeardupAdmission(s, d)),
    // contrastive (anchor, positive, hard-negative) triplets mined
    // from the committed kNN artifacts: positive = best mutual
    // partner, hard negative = best-ranked non-mutual candidate
    "q206_triplet_mining" -> ((s, d) => Similarity.tripletMining(s, d)),
    // the data-mixing step after q201: greedy hash-ordered selection
    // up to each source's quota, ideal-position weighted round-robin
    // interleave (every schedule prefix holds the designed mixture)
    "q207_interleaved_schedule" -> ((s, d) =>
      Sampling.interleavedSchedule(s, d)),
    // q199's compaction transplanted to the near-dup band index: the
    // q159 segment chain folded into one generation (pure band-row
    // copy), the SAME batch probed against union vs compacted —
    // admissions identical, equality EXECUTED (probes_equal column)
    "q208_band_index_compact" -> ((s, d) => Dedup.bandIndexCompact(s, d)),
    // q205 with the PRODUCTION amortization dial exercised on the
    // driver-checked path (round-13 verdict ask #6): 4 batches,
    // maxLiveSegments = 2 — batch 2 probes TWO live segments, batch 3
    // probes the folded generation, and the replay ENDS with live =
    // {generation, b3} (amortized, not folded every batch). Same
    // oracle family, nBatches = 4.
    "q209_streaming_neardup_amortized" -> ((s, d) =>
      graft.streaming.EventStreams.streamingNeardupAdmission(s, d,
        nFiles = 4, maxLiveSegments = 2)),
    // the sign-LSH dedup family's live path (q25 on the stream): per-
    // batch band-probe against committed signature segments, exact-
    // cosine verify on ids-only pairs, q205's compaction + two-tier
    // probe guard machinery verbatim on the vector table
    "q210_streaming_embedding_neardup" -> ((s, d) =>
      graft.streaming.EventStreams.streamingEmbeddingNeardup(s, d)),
  )

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] = Map(
    "q01_top_products" -> Insights.topProductsByRevenueSql,
    "q02_monthly_revenue" -> Insights.monthlyRevenueSql,
    "q03_revenue_by_store" -> Insights.revenueByStoreSql,
    "q04_balance_bucket" -> Insights.revenueByBalanceBucketSql,
    "q05_kpi_summary" -> Insights.kpiSummarySql,
    "q06_category_share" -> Insights.categoryShareSql,
    "q07_dim_date" -> Star.dimDateSql,
    "q08_dim_store" -> Star.dimStoreSql,
    "q09_fact_sales" -> Star.factSalesSql,
    "q13_date_upsert" -> Star.dateUpsertSql,
    "q10_fk_integrity" -> Validation.fkIntegritySql,
    "q11_null_audit" -> Validation.nullAuditSql,
    "q12_row_counts" -> Validation.rowCountsSql,
    "q14_dedup_exact" -> Dedup.exactDedupSql,
    "q15_minhash_signatures" -> Dedup.minhashSignaturesSql,
    "q16_neardup_pairs" -> Dedup.neardupPairsSql,
    "q17_simhash" -> Dedup.simhashSql,
    "q18_simhash_neardup" -> Dedup.simhashNeardupSql,
    "q19_text_stats" -> TextAnalysis.textStatsSql,
    "q20_language_id" -> TextAnalysis.languageIdSql,
    "q21_fingerprints" -> TextAnalysis.fingerprintsSql,
    "q22_embed_stats" -> Similarity.embedStatsSql,
    "q23_knn_bruteforce" -> Similarity.knnBruteForceSql,
    "q24_ann_lsh" -> Similarity.annLshSql,
    "q25_embed_neardup" -> Similarity.embeddingNeardupSql(0.4),
    "q26_events_hourly" -> Events.hourlyByTypeSql,
    "q27_events_sliding" -> Events.slidingHourlySql,
    "q28_events_sessions" -> Events.sessionizeSql,
    "q29_events_daily" -> Events.dailyTypeRollupSql,
    "q30_media_features" -> Multimodal.mediaFeaturesSql,
    "q31_media_rollup" -> Multimodal.mediaKindRollupSql,
    "q156_media_decode" -> Multimodal.mediaDecodeSql,
    "q166_audio_decode" -> Multimodal.audioDecodeSql,
    "q32_events_props" -> Events.propsRollupSql,
    "q33_ngram_jaccard" -> Dedup.ngramJaccardPairsSql,
    "q34_ann_ivf" -> Similarity.annIvfSql,
    "q138_ann_pq" -> Similarity.annPqSql,
    "q139_sampled_kpi" -> Insights.sampledKpiSql,
    "q145_sampled_groups" -> Insights.sampledGroupKpiSql,
    "q147_incremental_dedup" -> Dedup.incrementalDedupSql,
    "q159_dedup_loop" -> Dedup.incrementalDedupLoopSql,
    "q161_cms_cells" -> StatQa.cmsShardCellsSql,
    "q162_filtered_ann" -> Similarity.annIvfFilteredSql,
    "q163_streaming_outer_join" ->
      graft.streaming.EventStreams.errorClickLeftOuterAvailableNowSql,
    "q164_orc_roundtrip" -> graft.sources.Tables.ordersOrcRoundtripSql,
    "q165_keyword_search" -> TextAnalysis.keywordSearchSql,
    "q167_phrase_search" -> TextAnalysis.phraseSearchSql,
    "q168_video_frames" -> Multimodal.videoFramesSql,
    "q169_media_resize" -> Multimodal.mediaResizeSql,
    "q170_streaming_full_outer" ->
      graft.streaming.EventStreams.errorClickFullOuterAvailableNowSql,
    "q171_bm25_search" -> TextAnalysis.bm25SearchSql,
    "q172_transform_with_state" ->
      graft.streaming.EventStreams.userLifetimeAvailableNowSql,
    "q173_sorted_export" -> Layout.sortedExportManifestSql,
    "q174_tws_timers" ->
      graft.streaming.EventStreams.inactivityDigestAvailableNowSql,
    "q175_tws_bootstrap" ->
      graft.streaming.EventStreams.userLifetimeBootstrapAvailableNowSql,
    "q176_schema_evolution" -> graft.sources.Tables.ordersEvolvedReadSql,
    "q177_streaming_anti" ->
      graft.streaming.EventStreams.suppressedStreamAvailableNowSql,
    "q178_kmv_cells" -> StatQa.kmvShardCellsSql,
    "q179_variant_props" -> Events.variantPathRollupSql,
    "q180_streaming_semi" ->
      graft.streaming.EventStreams.errorClickSemiAvailableNowSql,
    "q181_group_ols" -> StatQa.groupOlsSql,
    "q182_scene_changes" -> Multimodal.sceneChangesSql,
    "q183_rolling_distinct" -> StatQa.rollingDistinctCellsSql,
    "q184_hybrid_rrf" -> Similarity.hybridRrfSearchSql,
    "q185_allpairs_jaccard" -> Dedup.allPairsJaccardSql,
    "q186_context_windows" -> Events.contextWindowsSql,
    "q187_bucket_join" -> Layout.bucketedJoinRollupSql,
    "q188_decayed_engagement" -> Events.decayedEngagementSql,
    "q189_grouping_sets" -> Insights.revenueGroupingSetsSql,
    "q190_interval_overlap" -> Events.campaignOverlapSql,
    "q191_multitouch" -> Events.multiTouchAttributionSql,
    "q192_session_paths" -> Events.sessionPathsSql,
    "q193_table_checksums" -> Validation.tableChecksumsSql,
    "q194_keep_best" -> Dedup.keepBestDedupSql,
    "q195_ann_index_append" -> Similarity.annIndexAppendSql,
    "q196_corpus_pipeline" -> Corpus.corpusPipelineSql,
    "q197_fuzzy_join" -> Joins.fuzzyNameJoinSql,
    "q198_hierarchy_rollup" -> Graph.hierarchyRollupSql,
    "q199_ann_compact" -> Similarity.annIndexCompactSql,
    "q200_cuped_lift" -> StatQa.cupedLiftSql,
    "q201_token_apportionment" -> Sampling.tokenApportionmentSql,
    "q202_streaming_gate" -> graft.streaming.EventStreams.corpusGateStreamSql,
    "q203_mutual_knn" -> Similarity.mutualKnnGraphSql,
    "q204_semantic_endgame" -> Similarity.semanticDedupEndgameSql,
    "q205_streaming_neardup" -> Corpus.streamingNeardupAdmissionSql(),
    "q206_triplet_mining" -> Similarity.tripletMiningSql,
    "q207_interleaved_schedule" -> Sampling.interleavedScheduleSql,
    "q208_band_index_compact" -> Dedup.bandIndexCompactSql,
    "q209_streaming_neardup_amortized" ->
      Corpus.streamingNeardupAdmissionSql(nBatches = 4),
    "q210_streaming_embedding_neardup" ->
      Similarity.streamingEmbeddingNeardupSql(),
    // round 12: KMV cells are engine-portable (md5-60 bottom-k), so
    // BOTH streaming distinct queries carry the one full oracle — the
    // q157 fold reconstructs the q141 per-window finals by design
    "q141_streaming_distinct" ->
      graft.streaming.EventStreams.hourlyDistinctKmvSql,
    "q157_streaming_evict" -> graft.streaming.EventStreams.hourlyDistinctKmvSql,
    // folding the update log must reproduce the q26 batch aggregate
    "q148_streaming_update" -> Events.hourlyByTypeSql,
    "q149_streaming_enrich" ->
      graft.streaming.EventStreams.segmentRollupStreamSql,
    "q160_stream_dim_swap" ->
      graft.streaming.EventStreams.dimSwapEnrichReplaySql,
    "q150_histogram_cells" -> Insights.histogramPercentileCellsSql,
    "q151_triangle_count" -> Graph.triangleCountsSql,
    "q152_value_drift" -> StatQa.valueDriftSql,
    "q153_audience_overlap" -> Events.audienceOverlapSql,
    // the folded upsert target must equal the q66 batch latest-by-user
    "q154_streaming_upsert" -> Events.latestByUserSql,
    "q155_diversity_sample" -> Similarity.diversitySampleSql,
    "q140_semantic_dedup" -> Similarity.semanticDedupSql,
    "q142_ann_pq_trained" -> Similarity.annPqTrainedSql,
    "q144_ann_ivf_pq" -> Similarity.annIvfPqSql,
    // identical results to q144: the stored index holds the same codes
    "q158_pq_stored" -> Similarity.annIvfPqSql,
    "q35_media_frames" -> Multimodal.mediaFramesSql,
    "q36_clean_sales" -> CleanCsv.cleanSalesCsvSql,
    "q37_clean_products" -> CleanCsv.cleanProductsCsvSql,
    "q38_clean_customers" -> CleanCsv.cleanCustomersCsvSql,
    "q39_date_merge" -> Star.dateMergeSql,
    "q40_derived_amounts" -> CleanCsv.derivedAmountsCsvSql,
    "q41_token_counts" -> TextAnalysis.tokenCountsSql,
    "q42_top_brands_region" -> Insights.topBrandsPerRegionSql,
    "q43_running_revenue" -> Insights.monthlyRunningRevenueSql,
    "q44_revenue_rollup" -> Insights.revenueRollupSql,
    "q46_asof_join" -> AsofJoin.purchaseBeforeClickSql,
    "q47_salted_agg" -> """SELECT l_returnflag,
      |  CAST(SUM(l_quantity) AS DOUBLE) AS sum_l_quantity
      |FROM lineitem GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin,
    "q48_jsonl_roundtrip" -> graft.sources.Tables.documentsJsonlRoundtripSql,
    "q49_percentiles" -> Insights.percentileSummarySql,
    "q50_range_join" -> RangeJoin.clicksNearErrorsSql,
    "q51_vocabulary" -> TextAnalysis.vocabularySql,
    "q52_outlier_audit" -> Validation.outlierAuditSql,
    "q53_train_split" -> Sampling.trainSplitSql,
    "q54_domain_caps" -> Sampling.domainCapsSql,
    "q55_seq_packing" -> Sampling.seqPackingSql,
    "q56_repetition" -> TextAnalysis.repetitionSql,
    "q57_pii_redaction" -> TextAnalysis.piiRedactionSql,
    "q58_embed_quantize" -> Similarity.embedQuantizeSql,
    "q59_scd2" -> Scd.customerScd2Sql,
    "q60_dedup_clusters" -> Dedup.dedupClustersSql,
    "q61_bloom_join" -> Insights.highValueItemsSql,
    "q62_incremental_rollup" -> Events.incrementalDailyRollupSql,
    "q63_click_funnel" -> Events.clickFunnelSql,
    "q64_region_pivot" -> Insights.monthlyRegionPivotSql,
    "q65_props_unpivot" -> Insights.propsRollupUnpivotSql,
    "q66_latest_by_user" -> Events.latestByUserSql,
    "q67_zorder" -> Layout.ordersZOrderSql,
    "q68_value_deciles" -> Features.valueDecilesSql,
    "q69_exact_corr" -> Features.exactCorrSql,
    "q70_price_histogram" -> Features.priceHistogramSql,
    "q71_moving_revenue" -> Features.movingRevenueSql,
    "q72_fuzzy_match" -> Dedup.fuzzyNameMatchSql,
    "q73_doc_chunks" -> TextAnalysis.chunkDocsSql,
    "q74_set_cohorts" -> Insights.customerHalfCohortsSql,
    "q75_sql_channel" -> graft.etl.Catalog.sqlChannelSql,
    "q76_tfidf" -> TextAnalysis.tfidfSql,
    "q77_containment" -> Dedup.containmentPairsSql,
    "q78_debounce" -> Events.debounceSql,
    "q79_active_users" -> Events.rollingActiveUsersSql,
    "q80_retention" -> Events.retentionCohortsSql,
    "q81_streaks" -> Events.activityStreaksSql,
    "q82_shingle_dedup" -> Corpus.shingleDedupSql,
    "q83_quality_gates" -> Corpus.qualityGatesSql,
    "q84_decontamination" -> Corpus.decontaminationSql,
    "q85_revenue_cube" -> Insights.revenueCubeSql,
    "q86_month_spine" -> Insights.monthSpineRevenueSql,
    "q89_brand_share" -> Insights.brandShareInTypeSql,
    "q87_concurrent_sessions" -> Events.concurrentSessionsSql,
    "q88_transitions" -> Events.transitionMatrixSql,
    "q90_interarrival" -> Events.interarrivalSql,
    "q91_mad_outliers" -> Features.madOutliersSql,
    "q92_gdpr_erasure" -> Validation.gdprErasureSql,
    "q93_rfm_segments" -> RetailBi.rfmSegmentsSql,
    "q94_basket_pairs" -> RetailBi.basketPairsSql,
    "q95_abc_classes" -> RetailBi.abcClassificationSql,
    "q96_new_vs_returning" -> RetailBi.newVsReturningSql,
    "q97_ship_lag" -> RetailBi.shipLagSql,
    "q98_boilerplate" -> Corpus.boilerplateGramsSql,
    "q99_encoding_gate" -> Corpus.encodingGateSql,
    "q100_domain_mixture" -> Corpus.domainMixtureSql,
    "q101_benford" -> StatQa.benfordAuditSql,
    "q102_independence" -> StatQa.segmentRegionIndependenceSql,
    "q103_daily_anomalies" -> StatQa.dailyAnomaliesSql,
    "q104_revenue_gini" -> StatQa.revenueGiniSql,
    "q105_ann_recall" -> Similarity.annRecallSql,
    "q106_priority_sets" -> Insights.prioritySetsSql,
    "q107_skyline" -> Skyline.skylinePartsSql,
    "q108_weighted_sample" -> Sampling.weightedSampleSql,
    "q109_stratified_sample" -> Sampling.stratifiedSampleSql,
    "q110_heavy_hitters" -> StatQa.heavyHittersSql,
    "q111_daily_reconcile" -> Validation.dailyReconcileSql,
    "q112_bpe_merges" -> Corpus.bpeMergesSql,
    "q113_topk_per_segment" -> Insights.topCustomersPerSegmentSql,
    "q114_weekday_seasonality" -> RetailBi.weekdaySeasonalitySql,
    "q115_price_ranks" -> Features.priceRanksSql,
    "q116_weighted_median" -> Features.weightedMedianSql,
    "q117_exists_subquery" -> Insights.qualifiedOrdersSql,
    // q118: oracle reads the ORIGINAL table — equality proves the
    // staged replace/append/CSV hops preserved every cell
    "q118_sink_roundtrip" -> graft.sources.Tables.ordersSinkRoundtripSql,
    // q119: exact percentiles hash-oracled; the t-digest estimates
    // feed the EXECUTED est_within_bound bit the oracle pins to 1
    "q119_approx_percentiles" -> Insights.approxPercentileCheckedSql,
    // q120: the Misra-Gries certificate (reported Nth count > Σ
    // decrement rounds, ApproxSpec-pinned) proves the output equals
    // the exact top-N, with an exact fallback when it fails — either
    // way the plain exact SQL is a valid oracle
    "q120_approx_heavy_hitters" -> StatQa.heavyHittersSql,
    "q121_ann_config_sweep" -> Similarity.annConfigSweepSql,
    "q122_bigram_coverage" -> TextAnalysis.bigramCoverageSql,
    "q123_shard_stats" -> Sampling.shardStatsSql,
    // the streaming run must reproduce the BATCH oracle cell-exactly
    "q124_streaming_hourly" -> Events.hourlyByTypeSql,
    "q125_streaming_sessions" ->
      graft.streaming.EventStreams.sessionWindowsAvailableNowSql,
    "q126_asof_attribution" -> Events.purchaseClickAsofSql,
    "q127_snapshot_diff" -> Scd.customerSnapshotDiffSql,
    "q128_kmeans_clusters" -> Similarity.kmeansSql(iters = 3),
    "q129_copurchase_rank" -> Graph.copurchaseRankSql,
    "q130_pit_sales" -> Scd.pitSalesSql,
    "q131_streaming_stateful" ->
      graft.streaming.EventStreams.sessionizeStatefulAvailableNowSql,
    "q132_streaming_dedup" ->
      graft.streaming.EventStreams.dedupStreamAvailableNowSql,
    "q133_streaming_join" ->
      graft.streaming.EventStreams.errorClickPairsAvailableNowSql,
    // same final-watermark cutoff as q125: the chronological split means
    // intermediate watermarks drop nothing, so the drained multi-batch
    // sink equals the single-batch emitted set
    "q134_streaming_batched" ->
      graft.streaming.EventStreams.sessionWindowsAvailableNowSql,
    "q135_directed_rank" -> Graph.directedRankSql,
    // q136: portable sweep columns (dials/state/bounds/exact
    // companions) hash-oracled; within_bound EXECUTED from the live
    // estimates, pinned to 1 — only max_err_ppm stays spec-only
    "q136_sketch_sweep" -> Insights.sketchAccuracySweepCheckedSql,
    // kill/restart through a durable parquet sink: exactly-once means
    // the recovered sink equals the same final-watermark cutoff
    "q143_streaming_restart" ->
      graft.streaming.EventStreams.sessionWindowsAvailableNowSql,
    // the late tail must be watermark-DROPPED without trace: emitted
    // set equals the cutoff over the ORIGINAL events
    "q146_streaming_late" ->
      graft.streaming.EventStreams.sessionWindowsAvailableNowSql,
  )
}
