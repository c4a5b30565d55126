package graft

import graft.operators.{Insights, Star}

/** Physical-plan quality gates (the "would this survive 100x scale-up"
  * checks): pushdown reaches the scans, small sides broadcast, top-k
  * avoids global sorts, the fact build never shuffles the fact except
  * on the orders join.
  */
class PlanSpec extends SparkSpec {

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("percentile family: no percentile buffer, one scan, merged windows (q91)") {
    val df = graft.operators.Features.madOutliers(spark, sf0001)
    df.collect() // finalize the adaptive plan (exchange reuse etc.)
    // string checks on the FINAL adaptive plan only (the Initial Plan
    // section repeats every node and would double the counts)
    val p = plan(df).split("== Initial Plan ==").head
    // the round-5 contract: breakpoints from prefix sums, never from
    // Spark's unspillable percentile aggregation buffer
    assert(!p.contains("percentile"), s"percentile buffer crept back:\n$p")
    // ONE narrow fact scan feeds both the median and the MAD chain
    assert("FileScan".r.findAllIn(p).length === 1,
      s"expected 1 lineitem scan in:\n$p")
    assert(p.contains("ReadSchema: struct<l_extendedprice:double,l_returnflag:string>"),
      s"scan not pruned to the two needed columns:\n$p")
    // each chain is one running-sum batch plus ONE merged pick batch (a
    // split would re-buffer the partition per pick): 2 per chain
    assert("Window ".r.findAllIn(p).length === 4,
      s"expected 4 WindowExecs (2 chains x 2 batches) in:\n$p")
    // no joins anywhere: medians attach via window aggregates
    assert(!p.contains("Join"), s"unexpected join in:\n$p")
  }

  test("q01: part side broadcasts; top-k plans as TakeOrderedAndProject") {
    val p = plan(Insights.topProductsByRevenue(spark, sf0001))
    assert(p.contains("BroadcastHashJoin"), s"no broadcast join in:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k should plan as TakeOrderedAndProject, got:\n$p")
    assert(!p.contains("SortMergeJoin"), "dim join degraded to SMJ")
  }

  test("q171 bm25: weights broadcast, top-k is TakeOrdered, no global sort") {
    val p = plan(graft.operators.TextAnalysis.bm25Search(spark, sf0001))
    assert(p.contains("BroadcastHashJoin"),
      s"posting->weight join must broadcast the tiny weight side:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k should plan as TakeOrderedAndProject, got:\n$p")
    assert(!p.contains("SortMergeJoin"),
      "weight join degraded to SMJ — weights are per-query-term tiny")
  }

  test("q173 consumer: key-range read prunes bucket directories at planning time") {
    import org.apache.spark.sql.functions._
    val dir = graft.operators.Layout.writeSortedExport(spark, sf0001)
    val li = graft.sources.Tables.lineitem(spark, sf0001)
    val Array(mn, mx) = li.agg(min("l_partkey"), max("l_partkey"))
      .head().toSeq.map(_.asInstanceOf[Long]).toArray
    // a narrow key range in the middle of the domain
    val lo = mn + (mx - mn) * 2 / 16
    val hi = mn + (mx - mn) * 3 / 16
    val pruned = graft.operators.Layout
      .readSortedExportRange(spark, dir, lo, hi, mn, mx)
    // correctness: pruned read == full filter
    val expect = li.filter(col("l_partkey").between(lo, hi)).count()
    assert(pruned.count() === expect, "pruned range read lost rows")
    assert(expect > 0, "degenerate fixture: empty range")
    // pruning: the executed scan must read a strict subset of the
    // bucket files (planning-time partition pruning, not a post-filter)
    def scannedFiles(df: org.apache.spark.sql.DataFrame): Long =
      df.select(input_file_name()).distinct().count()
    val allFiles = scannedFiles(spark.read.parquet(dir))
    val prunedFiles = scannedFiles(pruned)
    assert(prunedFiles < allFiles,
      s"no directory pruning: $prunedFiles of $allFiles files scanned")
    assert(prunedFiles <= 2,
      s"a 1/16-wide range must touch at most 2 buckets, got $prunedFiles")
  }

  test("broadcast hints are size-gated: disabling the threshold disables the hint") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // with the gate open the plan must degrade to a shuffle join, not
      // force a broadcast of a dim Catalyst was told never to broadcast
      val p = plan(Insights.topProductsByRevenue(spark, sf0001))
      assert(!p.contains("BroadcastHashJoin"),
        s"hard broadcast hint survived threshold=-1:\n$p")
      val pf = plan(Star.factSales(spark, sf0001))
      assert(!pf.contains("BroadcastHashJoin"),
        s"fact build still hint-broadcasts at threshold=-1:\n$pf")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("approx KPI: HLL distinct counts within 5% of exact; no Expand in plan") {
    val exact = Insights.kpiSummary(spark, sf0001).collect()(0)
    val approx = Insights.kpiSummaryApprox(spark, sf0001).collect()(0)
    val nOrders = exact.getAs[Long]("n_orders").toDouble
    val nCust = exact.getAs[Long]("n_customers").toDouble
    assert(math.abs(approx.getAs[Long]("n_orders_approx") - nOrders) / nOrders < 0.05)
    assert(math.abs(approx.getAs[Long]("n_customers_approx") - nCust) / nCust < 0.05)
    // the non-distinct KPIs are unchanged by the sketch swap
    assert(approx.getAs[Double]("total_revenue") ===
      exact.getAs[Double]("total_revenue"))
    // HLL aggregates plan as plain partial aggregation — none of the
    // Expand row-multiplication a multi-distinct exact aggregate needs
    val planStr = Insights.kpiSummaryApprox(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!planStr.contains("Expand"))
    // round 7: the customer KPI sketches o_custkey through the
    // size-gated broadcast with NO pre-distinct hop — under the gate
    // the whole KPI row is one scan + map-side partials + a 1-row
    // exchange; no wide (hash-partitioned) shuffle anywhere
    assert(planStr.contains("BroadcastHashJoin"),
      s"q45 customer hop no longer broadcasts under the gate:\n$planStr")
    assert(!planStr.contains("Exchange hashpartitioning"),
      s"q45 plans a wide shuffle:\n$planStr")
  }

  test("asof/range joins: one key exchange, no nested-loop or cartesian product") {
    val asof = graft.operators.AsofJoin.purchaseBeforeClick(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!asof.contains("BroadcastNestedLoop") && !asof.contains("Cartesian"))
    assert(!asof.contains("Join")) // window composition plans NO join at all
    val range = graft.operators.RangeJoin.clicksNearErrors(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!range.contains("BroadcastNestedLoop") &&
      !range.contains("Cartesian"))
  }

  test("q24/q25: LSH candidate dedup exchanges ids only, never vectors") {
    for (df <- Seq(graft.operators.Similarity.annLsh(spark, sf0001),
        graft.operators.Similarity.embeddingNeardup(spark, sf0001, 0.4))) {
      val aggLines = df.queryExecution.sparkPlan.toString
        .linesIterator.filter(_.contains("HashAggregate")).toSeq
      assert(aggLines.nonEmpty, "expected a HashAggregate for the distinct")
      assert(!aggLines.exists(_.contains("emb")),
        s"candidate distinct still carries embedding columns:\n${aggLines.mkString("\n")}")
    }
  }

  test("q25 adaptive dial: loosest rung under the ceiling, refusal only at the 1x16 backstop") {
    // Round 12 (round-11 `weak`): the dial is CHOSEN from the O(n)
    // signature histogram instead of hard-coded. Dense fixture: 4096
    // vectors, sigs 0..4095 (top 4 bits constant) — the 4x4 dial's
    // band 3 is one 4096-vector bucket (predicted 9,953,280 pairs =
    // 2430/vec) while 2x8 splits it (552,960 = 135/vec).
    import graft.operators.Similarity.chooseNeardupDial
    val dense = (0L until 4096L).map(s => (s, 1L))
    val ((nb, bits), vol) = chooseNeardupDial(dense, 4096L, 1024L)
    assert((nb, bits) === (2, 8))
    assert(vol === 552960L && vol <= 1024L * 4096L)
    // a roomier ceiling keeps the loosest (highest-recall) dial
    assert(chooseNeardupDial(dense, 4096L, 4096L)._1 === (4, 4))
    // exact-signature flood no banding can split: loud refusal with
    // per-dial predictions (round 11: a 464M-pair SMJ ground at sf3)
    val e = intercept[IllegalArgumentException] {
      chooseNeardupDial(Seq((0L, 100000L)), 100000L, 6144L)
    }
    assert(e.getMessage.contains("candidate blowup"), e.getMessage)
    // and the executed query at fixture scale picks a dial and runs
    assert(graft.operators.Similarity.embeddingNeardup(spark, sf0001, 0.4)
      .count() > 0)
  }

  test("q01: scan reads only needed columns and prunes with filters") {
    val qe = Insights.topProductsByRevenue(spark, sf0001).queryExecution
    // sparkPlan, not executedPlan: AQE wraps the latter before execution
    val scans = qe.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.nonEmpty)
    val liScan = scans.find(_.toString.contains("lineitem")).get
    val readCols = liScan.requiredSchema.fieldNames.toSet
    assert(readCols === Set("l_partkey", "l_extendedprice", "l_discount"),
      s"lineitem scan should read 3 columns, got $readCols")
  }

  test("fact build: dim joins broadcast, exactly one fact scan (q09 pin)") {
    val p = plan(Star.factSales(spark, sf0001))
    val nBroadcast = "BroadcastHashJoin".r.findAllIn(p).length
    assert(nBroadcast >= 3, s"expected >=3 broadcast joins, got $nBroadcast in:\n$p")
    // date_key is computed map-side from l_shipdate, NOT via a dim_date
    // join — so the fact build reads exactly two files (lineitem +
    // orders); a third FileScan means the extra lineitem pass crept back
    assert("FileScan".r.findAllIn(p).length === 2,
      s"fact build should scan exactly lineitem + orders, got:\n$p")
    // at this scale no join should degrade to a sort-merge (the gated
    // dims broadcast; orders is small enough for Catalyst's own choice)
    assert(!p.contains("SortMergeJoin"), s"join degraded to SMJ in:\n$p")
  }

  test("monthly trend: partial aggregation before the shuffle") {
    val p = plan(Insights.monthlyRevenue(spark, sf0001))
    assert(p.contains("HashAggregate"), p)
    // partial -> exchange -> final: two HashAggregates around one Exchange
    val nAgg = "HashAggregate".r.findAllIn(p).length
    assert(nAgg >= 2, s"expected partial+final HashAggregate, got $nAgg")
  }

  test("filters push down to parquet (PushedFilters non-empty on filtered scan)") {
    import org.apache.spark.sql.functions._
    val df = graft.sources.Tables.lineitem(spark, sf0001)
      .filter(col("l_quantity") > 10)
      .select("l_orderkey")
    val scan = df.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.head
    assert(scan.metadata("PushedFilters").contains("GreaterThan(l_quantity"),
      s"filter not pushed: ${scan.metadata("PushedFilters")}")
  }

  test("partitioned write: partition filter prunes directories at the scan") {
    import org.apache.spark.sql.functions._
    import graft.sources.Tables
    val dir = java.nio.file.Files.createTempDirectory("graft_part").toString
    Tables.writePartitioned(
      Tables.lineitem(spark, sf0001)
        .withColumn("ship_year", year(col("l_shipdate"))),
      s"$dir/li", "ship_year")
    val df = spark.read.parquet(s"$dir/li").filter(col("ship_year") === 1995)
    val scan = df.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.head
    assert(scan.metadata("PartitionFilters").contains("ship_year"),
      s"no partition filter: ${scan.metadata("PartitionFilters")}")
    assert(df.count() > 0)
    // pruned scan must touch only the one matching partition directory
    assert(scan.relation.location.listFiles(scan.partitionFilters, Nil)
      .length === 1)
  }

  test("bucketed co-located join plans with zero shuffle exchanges") {
    import graft.sources.{Bucketing, Tables}
    graft.etl.Catalog.dropTable(spark, "b_lineitem")
    graft.etl.Catalog.dropTable(spark, "b_orders")
    Seq("b_lineitem", "b_orders").foreach(t => graft.etl.Catalog.deletePath(
      spark, spark.conf.get("spark.sql.warehouse.dir") + s"/$t"))
    Bucketing.writeBucketed(
      Tables.lineitem(spark, sf0001).select("l_orderkey", "l_quantity")
        .withColumnRenamed("l_orderkey", "k"), "b_lineitem", "k", 8)
    Bucketing.writeBucketed(
      Tables.orders(spark, sf0001).select("o_orderkey", "o_custkey")
        .withColumnRenamed("o_orderkey", "k"), "b_orders", "k", 8)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = Bucketing.coLocatedJoin(spark, "b_lineitem", "b_orders", "k")
      val p = joined.queryExecution.sparkPlan.toString
      assert(!p.contains("Exchange"),
        s"bucketed join should not shuffle:\n$p")
      assert(joined.count() === Tables.lineitem(spark, sf0001).count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      graft.etl.Catalog.dropTable(spark, "b_lineitem")
      graft.etl.Catalog.dropTable(spark, "b_orders")
    }
  }

  test("round-3 narrow ops plan as pure map-side passes (no joins, no aggregates)") {
    // split assignment, PII redaction, quantization, z-keys: the only
    // allowed exchange is the presentation sort/top-k
    val narrow = Seq(
      graft.operators.Sampling.trainSplit(spark, sf0001),
      graft.operators.TextAnalysis.piiRedaction(spark, sf0001),
      graft.operators.Similarity.embedQuantize(spark, sf0001),
      graft.operators.Layout.ordersZOrder(spark, sf0001))
    narrow.foreach { df =>
      val p = df.queryExecution.sparkPlan.toString
      assert(!p.contains("Join"), s"unexpected join in narrow op:\n$p")
      assert(!p.contains("HashAggregate"),
        s"unexpected aggregate in narrow op:\n$p")
    }
  }

  test("q69 exact correlation: partial aggregation below the group-key exchange") {
    val p = plan(graft.operators.Features.exactCorr(spark, sf0001))
    val nAgg = "HashAggregate".r.findAllIn(p).length
    assert(nAgg >= 2, s"expected partial+final HashAggregate, got $nAgg in:\n$p")
    assert(!p.contains("Join"))
  }

  test("q64 pivot with explicit values: no distinct-collect, dims broadcast") {
    val df = graft.operators.Insights.monthlyRegionPivot(spark, sf0001)
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin"), s"nation/region should broadcast:\n$p")
    // pivot aggregates in two passes (partial/final), never via Expand
    assert(!p.contains("Expand"), s"pivot should not plan an Expand:\n$p")
  }

  test("q54 domain caps: the rank window partitions by source (no global funnel)") {
    val p = plan(graft.operators.Sampling.domainCaps(spark, sf0001))
    assert(p.contains("RunningWindowFunction") || p.contains("Window"), p)
    assert(!p.contains("SinglePartition"),
      s"cap ranking funneled through one partition:\n$p")
  }

  test("q130 PIT join: equi-key extracted (no cartesian), date band as residual") {
    val p = graft.operators.Scd.pitSales(spark, sf0001)
      .queryExecution.sparkPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"PIT join must plan as an equi join with a residual, got:\n$p")
  }

  // exchanges exist only after EnsureRequirements: run the frame, read
  // the finalized adaptive plan's Final section
  private def finalPlan(df: org.apache.spark.sql.DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
  }

  test("q128 kmeans: assignment collapses map-side (partial argmax before the vec exchange)") {
    val p = finalPlan(graft.operators.Similarity.kmeans(spark, sf0001))
    assert(p.contains("BroadcastExchange"),
      s"centroids should broadcast, got:\n$p")
    // the partial max(struct) must appear BELOW the vec_id exchange:
    // count partial_max aggregates — one per assignToCentroids call
    assert("partial_max".r.findAllIn(p).length >= 2,
      s"expected map-side partial argmax collapse in:\n$p")
  }

  test("q126 as-of join: two hash exchanges (tie collapse + union window) plus the presentation sort") {
    val p = finalPlan(graft.operators.Events.purchaseClickAsof(spark, sf0001))
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).length
    val rangeEx = "Exchange rangepartitioning".r.findAllIn(p).length
    val singleEx = "Exchange SinglePartition".r.findAllIn(p).length
    // one exchange collapses clicks to (user_id, click_ts) grain (the
    // tie-free-ASOF contract), one shuffles the union for the per-user
    // window; anything more means the asof shape regressed. The
    // bounded presentation sort is one task behind a one-partition
    // shuffle (the window stage keeps its parallelism), not a range sort
    assert(hashEx == 2 && rangeEx == 0 && singleEx == 1,
      s"expected 2 hash + 1 single-partition exchange, got " +
        s"$hashEx hash/$rangeEx range/$singleEx single in:\n$p")
  }

  test("per-row-heavy text scans spread before fused work (single-row-group guard)") {
    // the sf1 soak found these serializing their per-row work into ONE
    // task on single-row-group inputs (testdata is that shape), so the
    // spread must stay in the plan: a hash exchange of defaultParallelism
    // partitions over every column of the spread frame, with no sort
    // feeding it. A round-robin exchange sorts its whole input first
    // (sortBeforeRepartition), so none may appear anywhere.
    import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, RoundRobinPartitioning}
    import org.apache.spark.sql.execution.SortExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val width = spark.sparkContext.defaultParallelism
    val heavy = Seq(
      "q19 textStats" -> graft.operators.TextAnalysis.textStats(spark, sf0001),
      "q57 piiRedaction" -> graft.operators.TextAnalysis.piiRedaction(spark, sf0001),
      "q83 qualityGates" -> graft.operators.Corpus.qualityGates(spark, sf0001),
      "q27 slidingHourly" -> graft.operators.Events.slidingHourly(spark, sf0001),
      "q09 factSales" -> Star.factSales(spark, sf0001),
      "q26 hourlyByType" -> graft.operators.Events.hourlyByType(spark, sf0001),
      "q14 exactDedup" -> graft.operators.Dedup.exactDedup(spark, sf0001))
    heavy.foreach { case (name, df) =>
      val p = df.queryExecution.sparkPlan
      val roundRobin = p.collect { case e: ShuffleExchangeExec
        if e.outputPartitioning.isInstanceOf[RoundRobinPartitioning] => e }
      assert(roundRobin.isEmpty, s"$name plans a round-robin exchange:\n$p")
      val spreads = p.collect { case e: ShuffleExchangeExec => e }.filter { e =>
        e.outputPartitioning match {
          case h: HashPartitioning => h.numPartitions == width &&
            e.child.output.forall(h.references.contains)
          case _ => false
        }
      }
      assert(spreads.nonEmpty,
        s"$name: no $width-way hash exchange over every column of its input:\n$p")
      spreads.foreach { e =>
        assert(e.child.collectFirst { case s: SortExec => s }.isEmpty,
          s"$name: a sort feeds the spread exchange:\n$p")
      }
    }
  }

  test("q138 PQ: distance table broadcasts, no cartesian, codes scan is narrow") {
    val df = graft.operators.Similarity.annPq(spark, sf0001)
    df.collect()
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin"),
      s"per-query distance table should broadcast-join the codes:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian crept in:\n$p")
  }

  test("q138 PQ: one materialized embeddings scan (no FileScan re-reads)") {
    // round-7 verdict: pqSearch re-derived the embeddings scan 8 times
    // (encode, query table, re-rank fetch each re-read the parquet);
    // the localCheckpoint must collapse every consumer onto one
    // materialized scan
    val df = graft.operators.Similarity.annPq(spark, sf0001)
    df.collect()
    val p = plan(df)
    assert("FileScan".r.findAllIn(p).length === 0,
      s"embeddings parquet re-read crept back into pqSearch:\n$p")
    assert(p.contains("Scan ExistingRDD"),
      s"expected the localCheckpoint scan:\n$p")
  }

  test("q144 IVF×PQ: codes scan is cell-filtered by broadcast probes, no cartesian") {
    val df = graft.operators.Similarity.annIvfPq(spark, sf0001)
    df.collect()
    val p = plan(df)
    // the probe list and the distance table both broadcast onto the
    // codes scan; candidate generation stays map-side
    assert(p.contains("BroadcastHashJoin"),
      s"probe/distance joins must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian crept in:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"ADC candidate generation must not shuffle-join:\n$p")
    // the cluster equi-key is the pruning: it must appear as a join key
    assert(p.contains("cluster"),
      s"cell filter missing from the executed plan:\n$p")
  }

  test("q158 stored-index PQ: search reads the codes parquet, never re-encodes") {
    val df = graft.operators.Similarity.annIvfPqStored(spark, sf0001)
    df.collect()
    val p = plan(df)
    assert(!p.contains("pq_encode"),
      s"stored-index search path must not re-encode the corpus:\n$p")
    assert(p.contains("FileScan") && p.contains("codes"),
      s"expected a FileScan of the persisted codes parquet:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      s"ADC candidate generation must stay broadcast/map-side:\n$p")
    // stored-index results must equal the re-encoding q144 exactly
    val live = graft.operators.Similarity.annIvfPq(spark, sf0001)
    assert(df.exceptAll(live).count() === 0 &&
      live.exceptAll(df).count() === 0,
      "stored-index search diverged from the in-line encoding path")
  }

  test("q139 sampled KPI: one scan, sample filter below the aggregate") {
    val df = graft.operators.Insights.sampledKpi(spark, sf0001)
    df.collect()
    val p = plan(df).split("== Initial Plan ==").head
    assert("FileScan".r.findAllIn(p).length === 1,
      s"AQP must read lineitem exactly once:\n$p")
    assert(p.contains("Filter"), s"sample predicate missing:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
  }

  test("q145 sampled group-by: one fact scan, sample filter below the broadcast dim join") {
    val df = graft.operators.Insights.sampledGroupKpi(spark, sf0001)
    df.collect()
    val p = plan(df).split("== Initial Plan ==").head
    assert("FileScan".r.findAllIn(p).length === 2,
      s"group AQP must read lineitem and part exactly once each:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"part dim must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"dim join shuffled:\n$p")
  }

  test("q140 semantic dedup: no cartesian; pair join is cluster-equi-keyed") {
    val df = graft.operators.Similarity.semanticDedup(spark, sf0001)
    df.collect()
    val p = plan(df)
    assert(!p.contains("CartesianProduct"), s"all-pairs crept in:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"pair join must stay equi-keyed on cluster:\n$p")
  }

  test("freeTransientBlocks drops eager localCheckpoint blocks between queries") {
    import org.apache.spark.sql.functions._
    // simulate an iterative operator's materialization outliving its query
    val ckpt = spark.range(1000).withColumn("x", rand()).localCheckpoint(true)
    ckpt.count()
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty,
      "localCheckpoint should register persistent blocks")
    graft.sources.Tables.freeTransientBlocks(spark)
    // unpersist is async (blocking=false) but deregistration is immediate
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      "janitor must deregister every persistent RDD (the Bench/Verify " +
        "between-queries contract; see Tables.freeTransientBlocks)")
  }

  test("AQE splits a skewed shuffle join at runtime (OptimizeSkewedJoin)") {
    // The runtime half of the skew story (Salting.scala is the a-priori
    // half): one hot key carries ~90% of the left side, AQE's skew-join
    // rule must SPLIT that reducer into subpartitions at runtime, each
    // joined against a replicated copy of the matching right rows —
    // no code change, no salt. Thresholds are lowered so local-mode
    // partition sizes qualify; the assertions are (a) the finalized
    // plan actually took the skew path, (b) the result is exactly the
    // unsplit join's (splitting must never change semantics).
    import org.apache.spark.sql.functions.{col, count, lit, sum, when}
    val overrides = Map(
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64KB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = overrides.keys.map(k =>
      k -> spark.conf.getOption(k)).toMap
    try {
      overrides.foreach { case (k, v) => spark.conf.set(k, v) }
      val n = 400000L
      // 90% of rows on key 0, the rest uniform over 1..4000
      val left = spark.range(n).select(
        when(col("id") % 10 =!= 0, lit(0L))
          .otherwise(col("id") % 4000 + 1).as("k"),
        col("id").as("v"))
      val right = spark.range(4001).select(
        col("id").as("k"), (col("id") * 7).as("w"))
      val joined = left.join(right, Seq("k"))
        .agg(count(lit(1)).as("n"), sum(col("v") + col("w")).as("s"))
      val row = joined.collect().head
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true") || plan.contains("skewed"),
        s"AQE did not take the skew-join path:\n$plan")
      assert(row.getLong(0) === n,
        "every left row has exactly one match - the split changed the result")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("config layering: env beats props beats defaults; validation rejects junk") {
    val c1 = graft.etl.GraftConfig.load(env = Map.empty)
    assert(c1.stagingDir === "/tmp/graft_retail/staging")
    val c2 = graft.etl.GraftConfig.load(
      props = Map("graft.staging.dir" -> "/p/staging"), env = Map.empty)
    assert(c2.stagingDir === "/p/staging")
    val c3 = graft.etl.GraftConfig.load(
      props = Map("graft.staging.dir" -> "/p/staging"),
      env = Map("GRAFT_STAGING_DIR" -> "/e/staging"))
    assert(c3.stagingDir === "/e/staging")
    intercept[IllegalArgumentException] {
      graft.etl.GraftConfig.load(
        props = Map("graft.shuffle.partitions" -> "-1"), env = Map.empty)
    }
  }

  test("q195 segmented ANN index: append never rewrites base; union search re-encodes nothing") {
    // first invocation builds base + appends the batch segment
    val df1 = graft.operators.Similarity.annIndexAppend(spark, sf0001)
    df1.collect()
    val baseDir = new java.io.File("/tmp/graft_index",
      "pqseg_" + graft.sources.Tables.pathKey(sf0001) + "/base")
    val before = baseDir.listFiles().map(f =>
      f.getName -> f.lastModified).toMap
    // second invocation re-runs the APPEND path (fresh segment) — the
    // base segment's files must be byte-identical untouched
    val df2 = graft.operators.Similarity.annIndexAppend(spark, sf0001)
    df2.collect()
    val after = baseDir.listFiles().map(f =>
      f.getName -> f.lastModified).toMap
    assert(before === after, "the append rewrote base-segment files")
    val p = plan(df2)
    assert(!p.contains("pq_encode"),
      s"segment search path must not re-encode any segment:\n$p")
    assert(p.contains("base") && p.contains("seg1"),
      s"expected FileScans of both index segments:\n$p")
    // a post-append vector is findable: both provenances appear
    val flags = df2.select("from_appended").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(flags === Set(0L, 1L),
      s"appended segment never (or always) served a neighbor: $flags")
    // segment union must equal the monolithic / live-encode search
    val live = graft.operators.Similarity.annIvfPq(spark, sf0001)
    val noFlag = df2.drop("from_appended")
    assert(noFlag.exceptAll(live).count() === 0 &&
      live.exceptAll(noFlag).count() === 0,
      "segmented search diverged from the monolithic encoding path")
  }

  test("q199 compaction: lossless fold, counts telescope, _SUCCESS-committed") {
    val row = graft.operators.Similarity.annIndexCompact(spark, sf0001).head()
    assert(row.getLong(3) === 1L,
      "search against the compacted index diverged from the segment union")
    assert(row.getLong(0) + row.getLong(1) === row.getLong(2),
      "compacted code-row count != base + segment")
    val comp = new java.io.File("/tmp/graft_index",
      "pqseg_" + graft.sources.Tables.pathKey(sf0001) + "/compacted")
    assert(new java.io.File(comp, "_SUCCESS").exists,
      "compacted segment is not commit-marked")
  }

  // ---- result sorts planned by graft.sources.PresentationSort ----

  /** Whether `rows` are in order on `keys` (name, ascending?). */
  private def sortedOn(rows: Seq[org.apache.spark.sql.Row],
      keys: (String, Boolean)*): Boolean = {
    def cmp(a: org.apache.spark.sql.Row, b: org.apache.spark.sql.Row): Int =
      keys.iterator.map { case (k, asc) =>
        val c = (a.getAs[Any](k), b.getAs[Any](k)) match {
          case (x: Comparable[Any @unchecked], y) => x.compareTo(y)
          case (x, y) => fail(s"non-comparable sort key $k: $x, $y")
        }
        if (asc) c else -c
      }.find(_ != 0).getOrElse(0)
    rows.sliding(2).forall {
      case Seq(a, b) => cmp(a, b) <= 0
      case _ => true
    }
  }

  /** Run `body` with AQE partition coalescing off, so a shuffle keeps
    * the session's 8 partitions however small the data is.
    */
  private def uncoalesced[A](body: => A): A = {
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try body finally spark.conf.set(key, prev)
  }

  test("result sorts: bounded dashboard and stream results collect in ORDER BY order with no range exchange") {
    val cases: Seq[(String, org.apache.spark.sql.DataFrame, Seq[(String, Boolean)])] = Seq(
      ("q02", Insights.monthlyRevenue(spark, sf0001),
        Seq("sales_year" -> true, "sales_month" -> true)),
      ("q03", Insights.revenueByStore(spark, sf0001),
        Seq("revenue" -> false, "store_name" -> true)),
      ("q04", Insights.revenueByBalanceBucket(spark, sf0001),
        Seq("revenue" -> false, "balance_bucket" -> true)),
      ("q06", Insights.categoryShare(spark, sf0001),
        Seq("revenue" -> false, "brand" -> true)),
      ("q124", graft.streaming.EventStreams.hourlyByTypeAvailableNow(spark, sf0001),
        Seq("window_start" -> true, "event_type" -> true)),
      ("q133", graft.streaming.EventStreams.errorClickPairsAvailableNow(spark, sf0001),
        Seq("error_id" -> true, "click_id" -> true)))
    cases.foreach { case (name, df, keys) =>
      val rows = df.collect().toSeq
      assert(rows.nonEmpty, s"$name: empty result")
      assert(sortedOn(rows, keys: _*), s"$name: rows out of ORDER BY order")
      val p = finalPlan(df)
      assert(!p.toLowerCase.contains("rangepartitioning"),
        s"$name: result sort still plans a range exchange:\n$p")
    }
  }

  test("result sorts: a frame above the row bound keeps the distributed range sort") {
    import org.apache.spark.sql.functions._
    val big = spark.range(0, graft.sources.PresentationSort.MaxRows + 1, 1, 8)
      .toDF("id").withColumn("k", pmod(col("id") * 2654435761L, lit(1000003L)))
      .orderBy("k", "id")
    val rows = big.collect().toSeq
    assert(sortedOn(rows, "k" -> true, "id" -> true))
    assert(finalPlan(big).toLowerCase.contains("rangepartitioning"),
      s"stream-scale frame must keep the range sort:\n${finalPlan(big)}")
  }

  test("result sorts: orderBy + limit still plans TakeOrderedAndProject") {
    import org.apache.spark.sql.functions._
    val topK = spark.range(0, 1000, 1, 8).toDF("id")
      .groupBy(pmod(col("id") * 37, lit(97)).as("k")).count()
      .orderBy(desc("count"), asc("k")).limit(5)
    assert(topK.collect().length === 5)
    assert(plan(topK).contains("TakeOrderedAndProject"),
      s"top-k lost its TakeOrderedAndProject:\n${plan(topK)}")
  }

  test("result sorts: a bounded orderBy write keeps one file per range partition") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_sorted_write").toFile
    try uncoalesced {
      val out = new java.io.File(dir, "out").getPath
      spark.range(0, 1000, 1, 8).toDF("id")
        .withColumn("k", pmod(col("id") * 37, lit(997)))
        .orderBy("k", "id").write.parquet(out)
      val files = new java.io.File(out).listFiles
        .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      // the range sort's 8 partitions, one file each, in key order
      assert(files.length === 8, s"expected 8 range-sorted files, got ${files.length}")
      val rows = files.toSeq.flatMap(f => spark.read.parquet(f.getPath).collect())
      assert(rows.length === 1000)
      assert(sortedOn(rows, "k" -> true, "id" -> true),
        "files concatenated in name order are not globally sorted")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(dir)
  }

  test("result sorts: q104's rank window stage keeps its parallelism") {
    // the sort's input is 150 p_type rows but the window stage below it
    // is part-grain: the one-task sort must sit behind a shuffle, not a
    // coalesce(1) that funnels the window into one task
    val stageTasks =
      new java.util.concurrent.ConcurrentLinkedQueue[(Int, Seq[String])]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        stageTasks.add((e.stageInfo.numTasks,
          e.stageInfo.rddInfos.flatMap(_.scope).map(_.name)))
    }
    spark.sparkContext.addSparkListener(listener)
    try uncoalesced {
      val df = graft.operators.StatQa.revenueGini(spark, sf0001)
      val rows = df.collect().toSeq
      assert(sortedOn(rows, "p_type" -> true))
      assert(!finalPlan(df).toLowerCase.contains("rangepartitioning"))
      // drain the async listener bus before reading the stages
      Thread.sleep(500)
      import scala.jdk.CollectionConverters._
      val windowStages = stageTasks.asScala.toSeq.filter(_._2.contains("Window"))
      assert(windowStages.nonEmpty, s"no Window stage seen: $stageTasks")
      assert(windowStages.forall(_._1 > 1),
        s"the rank window ran in a single task: $windowStages\n${finalPlan(df)}")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** Spark jobs submitted while `body` runs. */
  private def jobsDuring[A](body: => A): (A, Int) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val a = body
      // drain the async listener bus before reading the count
      Thread.sleep(500)
      (a, jobs.get)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** Whether the finalized plan sorts in one partition: no range
    * exchange, and a coalesce or single-partition shuffle below the sort.
    */
  private def onePartitionSort(df: org.apache.spark.sql.DataFrame): Boolean = {
    val p = finalPlan(df)
    !p.toLowerCase.contains("rangepartitioning") &&
      (p.contains("Coalesce 1") || p.contains("SinglePartition"))
  }

  test("result sorts: q94's join-topped result needs no build job and no range exchange") {
    // pairs ⋈ per-item counts (distinct on the join key, twice) × one
    // order count: the pair side's runtime count bounds the result
    val (df, buildJobs) = jobsDuring(graft.operators.RetailBi.basketPairs(spark, sf0001))
    assert(buildJobs === 0, "building q94's frame ran Spark jobs")
    val rows = df.collect().toSeq
    assert(rows.nonEmpty)
    assert(sortedOn(rows, "part_a" -> true, "part_b" -> true))
    assert(onePartitionSort(df), s"q94 did not plan a one-partition sort:\n${finalPlan(df)}")
  }

  test("result sorts: parquet read-backs are bounded by the footers of their committed files") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_readback").toFile
    def write(rows: Long, name: String): String = {
      val path = new java.io.File(dir, name).getPath
      spark.range(0, rows, 1, 8).toDF("id")
        .withColumn("k", pmod(col("id") * 2654435761L, lit(1000003L)))
        .write.parquet(path)
      path
    }
    def checkSorted(df: org.apache.spark.sql.DataFrame, rows: Long): Unit = {
      val got = df.collect().toSeq
      assert(got.length === rows)
      assert(sortedOn(got, "k" -> true, "id" -> true))
    }
    try uncoalesced {
      val small = write(1000, "small")
      val big = write(graft.sources.PresentationSort.MaxRows + 1, "big")
      val smallSorted = spark.read.parquet(small).orderBy("k", "id")
      checkSorted(smallSorted, 1000)
      assert(onePartitionSort(smallSorted),
        s"a 1000-row read-back must sort in one partition:\n${finalPlan(smallSorted)}")
      val bigSorted = spark.read.parquet(big).orderBy("k", "id")
      checkSorted(bigSorted, graft.sources.PresentationSort.MaxRows + 1)
      assert(finalPlan(bigSorted).toLowerCase.contains("rangepartitioning"),
        s"a read-back above the bound must keep the range sort:\n${finalPlan(bigSorted)}")

      // a streaming file sink whose directory also holds files no batch
      // committed (a failed attempt's leftovers): only the committed
      // 1000 rows count, not what a directory listing would find
      val sink = new java.io.File(dir, "sink")
      spark.readStream.schema(spark.read.parquet(small).schema).parquet(small)
        .writeStream.format("parquet")
        .option("path", sink.getPath)
        .option("checkpointLocation", new java.io.File(dir, "ckpt").getPath)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination()
      new java.io.File(big).listFiles.filter(_.getName.endsWith(".parquet")).foreach(f =>
        java.nio.file.Files.copy(f.toPath, new java.io.File(sink, s"orphan-${f.getName}").toPath))
      val sinkSorted = spark.read.parquet(sink.getPath).orderBy("k", "id")
      checkSorted(sinkSorted, 1000)
      assert(onePartitionSort(sinkSorted),
        s"a sink read-back must count committed files only:\n${finalPlan(sinkSorted)}")
      // a union is bounded by the sum of its inputs
      val unionSorted = spark.read.parquet(small)
        .union(spark.read.parquet(sink.getPath)).orderBy("k", "id")
      checkSorted(unionSorted, 2000)
      assert(onePartitionSort(unionSorted),
        s"a union of bounded read-backs must sort in one partition:\n${finalPlan(unionSorted)}")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(dir)
  }

  test("result sorts: a small many-to-many join keeps the range sort") {
    import org.apache.spark.sql.functions._
    // 100k result rows, but neither side is distinct on the key, so
    // the only bound is the 1000 x 1000 product (the sort key is a
    // permutation of the ids, so no input ordering satisfies the sort)
    def side(name: String) = spark.range(0, 1000, 1, 8)
      .select(pmod(col("id"), lit(10L)).as("key"),
        pmod(col("id") * 7919L, lit(1000L)).as(name))
    val df = side("a").join(side("b"), "key").orderBy("a", "b")
    val rows = uncoalesced(df.collect().toSeq)
    assert(rows.length === 100000)
    assert(sortedOn(rows, "a" -> true, "b" -> true))
    assert(finalPlan(df).toLowerCase.contains("rangepartitioning"),
      s"a many-to-many join must keep the range sort:\n${finalPlan(df)}")
  }

  test("result sorts: a left join onto an aggregate AQE has materialized sorts in one partition") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_stagejoin").toFile
    try uncoalesced {
      val path = new java.io.File(dir, "facts").getPath
      spark.range(0, 2000, 1, 8)
        .select(pmod(col("id"), lit(300L)).as("key"), col("id"))
        .write.parquet(path)
      val facts = spark.read.parquet(path)
      // no static bound: the footers sit below both aggregates, so
      // only the runtime counts of their stages bound the join, and
      // the right stage's distinct key comes from the plan it stands for
      val df = facts.groupBy("key").agg(count(lit(1)).as("n"))
        .join(facts.groupBy("key").agg(sum("id").as("s")), Seq("key"), "left")
        .orderBy("key")
      val rows = df.collect().toSeq
      assert(rows.length === 300)
      assert(sortedOn(rows, "key" -> true))
      assert(onePartitionSort(df),
        s"the join onto a materialized aggregate must sort in one partition:\n${finalPlan(df)}")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(dir)
  }

  test("q184 hybrid: no Window ranks an unlimited embeddings scan") {
    // round-10 verdict's one `weak`: the vector ranker used to run
    // row_number over a global window on the FULL embeddings scan. The
    // fix takes a distributed top-n (TakeOrderedAndProject) first and
    // windows the <=n-row result — pin that every Window whose subtree
    // touches the embeddings table sits above a TakeOrderedAndProject.
    import org.apache.spark.sql.execution.TakeOrderedAndProjectExec
    import org.apache.spark.sql.execution.window.WindowExec
    val df = graft.operators.Similarity.hybridRrfSearch(spark, sf0001)
    val plan = df.queryExecution.sparkPlan
    val windows = plan.collect { case w: WindowExec => w }
    assert(windows.nonEmpty, s"expected ranking windows in:\n$plan")
    windows.foreach { w =>
      val rawEmb = w.child.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec
            if s.toString.contains("embeddings") => s
      }
      val limited = w.child.collect { case t: TakeOrderedAndProjectExec => t }
      assert(rawEmb.isEmpty || limited.nonEmpty,
        s"a Window ranks the raw embeddings scan (no top-n below it):\n$w")
    }
  }

  test("unpartitioned windows rank bounded grains only (q71/q95/q150/q201)") {
    // round-15 verdict item: every Window.orderBy WITHOUT a partitionBy
    // funnels its whole input through one task — safe ONLY when the
    // input is a bounded grain, never raw fact rows. Pin the bound
    // structurally for all remaining unpartitioned-window queries
    // (q184's embeddings ranker has its own TakeOrdered pin above):
    // below every empty-partitionSpec WindowExec there must be an
    // aggregation (grain collapse: dates/buckets/parts/sources) or a
    // limit before any file scan. Bounds per site: q71 date grain,
    // q150 <=nb histogram buckets, q95 part-catalog grain (the
    // documented q06-pattern dim-sized sort), q201 source grain.
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.aggregate.{BaseAggregateExec}
    import org.apache.spark.sql.execution.{TakeOrderedAndProjectExec}
    val dfs = Map(
      "q71" -> graft.operators.Features.movingRevenue(spark, sf0001),
      "q95" -> graft.operators.RetailBi.abcClassification(spark, sf0001),
      "q150" -> Insights.histogramPercentileCells(spark, sf0001),
      "q201" -> graft.operators.Sampling.tokenApportionment(spark, sf0001))
    dfs.foreach { case (name, df) =>
      val windows = df.queryExecution.sparkPlan.collect {
        case w: WindowExec if w.partitionSpec.isEmpty => w
      }
      assert(windows.nonEmpty,
        s"$name: expected unpartitioned windows (did the shape change?)")
      windows.foreach { w =>
        val collapsed = w.child.collect {
          case a: BaseAggregateExec => a
          case t: TakeOrderedAndProjectExec => t
          case l: org.apache.spark.sql.execution.GlobalLimitExec => l
          // checkpointed inputs are grain-collapsed upstream by
          // construction (the RDD scan hides the aggregate)
          case r: org.apache.spark.sql.execution.RDDScanExec => r
        }
        assert(collapsed.nonEmpty,
          s"$name: an unpartitioned Window consumes an un-collapsed " +
            s"scan (unbounded single-task funnel):\n$w")
      }
    }
  }

  test("q136 sketch sweep: HLL materialization overlaps the digest jobs (thread overlap pinned)") {
    // round-15 put the HLL base materialization on a second driver
    // thread so it OVERLAPS the independent t-digest/exact jobs (guide
    // §2.6); a refactor that silently serializes it back would show up
    // here as strictly disjoint job intervals. Listener events are
    // async — timestamps are taken at delivery, but the overlap window
    // is hundreds of ms wide, far above bus latency.
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val intervals =
      new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        starts.put(j.jobId, System.nanoTime)
      override def onJobEnd(
          j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        Option(starts.get(j.jobId))
          .foreach(s => intervals.add((s, System.nanoTime)))
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      Insights.sketchAccuracySweepChecked(spark, sf0001)
        .write.format("noop").mode("overwrite").save()
      // drain the async listener bus before reading the intervals
      Thread.sleep(500)
      import scala.jdk.CollectionConverters._
      val iv = intervals.asScala.toSeq
      val overlapping = iv.combinations(2).exists {
        case Seq((s1, e1), (s2, e2)) => s1 < e2 && s2 < e1
        case _ => false
      }
      assert(overlapping,
        s"expected at least two concurrent jobs in the sketch sweep " +
          s"(HLL off-thread overlap); saw ${iv.size} strictly serial jobs")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("q01-q06 revenue sums run on longs: no wide decimal buffer, no decimal cast off the fallback") {
    // the executable form of "revenue sums run on longs": every revenue
    // aggregate is one long Sum of Insights.revenueE4, so no aggregate
    // buffer may hold a decimal above the 18-digit compact-long
    // precision (those buffers go through java.math.BigDecimal per
    // row), and the source doubles may be cast to decimal only inside
    // the kernel's fallback branch (the ELSE of its rint-guarded CASE)
    import org.apache.spark.sql.catalyst.expressions.{Cast, CaseWhen, Expression, Rint}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.types.DecimalType
    object Aqe extends AdaptiveSparkPlanHelper
    val money = Set("l_extendedprice", "l_discount")
    def castsOffFallback(e: Expression): Seq[Expression] = e match {
      case cw: CaseWhen if cw.branches.exists(_._2.find(_.isInstanceOf[Rint]).isDefined) =>
        cw.branches.flatMap { case (c, v) => castsOffFallback(c) ++ castsOffFallback(v) }
      case c: Cast if c.dataType.isInstanceOf[DecimalType] &&
          c.child.references.exists(a => money(a.name)) =>
        c +: castsOffFallback(c.child)
      case other => other.children.flatMap(castsOffFallback)
    }
    Seq("q01_top_products", "q02_monthly_revenue", "q03_revenue_by_store",
        "q04_balance_bucket", "q05_kpi_summary", "q06_category_share")
      .foreach { name =>
        val df = SparkEntry.queries(name)(spark, sf0001)
        df.collect() // finalize the adaptive plan
        val plan = df.queryExecution.executedPlan
        val aggs = Aqe.collect(plan) { case a: BaseAggregateExec => a }
        assert(aggs.nonEmpty, s"$name: no aggregate in:\n$plan")
        val wide = aggs.flatMap(_.aggregateExpressions
            .flatMap(_.aggregateFunction.aggBufferAttributes))
          .filter(_.dataType match {
            case d: DecimalType => d.precision > 18
            case _ => false
          })
        assert(wide.isEmpty,
          s"$name: decimal aggregate buffers above precision 18 " +
            s"(${wide.mkString(", ")}) in:\n$plan")
        val casts = Aqe.flatMap(plan)(_.expressions.flatMap(castsOffFallback))
        assert(casts.isEmpty,
          s"$name: money column cast to decimal outside the fallback " +
            s"(${casts.mkString(", ")}) in:\n$plan")
      }
  }
}
