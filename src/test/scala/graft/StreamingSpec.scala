package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.operators.Events
import graft.sources.Tables
import graft.streaming.EventStreams
import graft.streaming.EventStreams.Event

/** Batch/stream parity: the streaming operators must produce the same
  * buckets as their batch twins in operators.Events (SURVEY.md §7.5).
  *
  * STREAMING-FAMILY FLOOR (round-15 decision, closing the "≤38 s"
  * bench ask carried since round 12): the family's residual per-query
  * seconds are platform micro-batch machinery, not plan cost. Measured
  * decomposition (Prof per-batch durationMs, rounds 14-15): ~230 ms of
  * WAL/offset/planning floor per micro-batch plus state-store get/put
  * at ~70 µs/row (HDFSBackedStateStore), times the batch counts the
  * ORACLES pin (restart fixtures need two query startups, late-tail
  * proofs need ≥3 staged files + a pacer batch, outer joins emit only
  * on finalization batches). Dials A/B'd and exhausted: state
  * partitions 8 optimal (vs 4/16/32), tmpfs checkpoints neutral,
  * sessionWindow local-merge no win, RocksDB provider on the
  * q143/q148/q157 trio a wash inside host noise (round-15:
  * 5.61/3.63/3.52 s HDFSBacked vs 5.30/3.16/3.83 s RocksDB warm), AQE
  * on the foreachBatch dedup trio likewise. Any further reduction
  * requires renegotiating fixture semantics the oracles hash — i.e. it
  * is not an optimization, and the ask is retired. (See
  * OPTIMIZATION_r15.md "Streaming family".)
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def eventData: Seq[Event] =
    Tables.events(spark, sf0001)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[Event].collect().toSeq

  test("streaming hourly windows == batch hourly windows") {
    val stream = MemoryStream[Event](spark, 1)
    stream.addData(eventData)
    val q = EventStreams.hourlyByType(stream.toDF())
      .writeStream.format("memory").queryName("hourly_out")
      .outputMode(OutputMode.Complete).start()
    try { q.processAllAvailable() } finally { q.stop() }

    val got = spark.table("hourly_out")
      .orderBy("window_start", "event_type")
      .select("window_start", "event_type", "n_events", "sum_value")
      .collect()
    val want = Events.hourlyByType(spark, sf0001)
      .select("window_start", "event_type", "n_events", "sum_value")
      .collect()
    assert(got.length === want.length)
    assert(got.sameElements(want))
  }

  test("streaming dedup: re-delivered events collapse to one, matching batch distinct") {
    val data = eventData
    // simulate at-least-once delivery: every 3rd event arrives twice
    val redelivered = data ++ data.zipWithIndex.collect {
      case (e, i) if i % 3 == 0 => e
    }
    val stream = MemoryStream[Event](spark, 4)
    stream.addData(redelivered)
    val q = EventStreams.dedupStream(stream.toDF())
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode(OutputMode.Append).start()
    try { q.processAllAvailable() } finally { q.stop() }

    val got = spark.table("dedup_out")
    assert(got.count() === data.length)
    assert(got.select("event_id").distinct().count() === data.length)
  }

  test("stream-stream interval join matches the batch range join's pair count") {
    val stream = MemoryStream[Event](spark, 5)
    stream.addData(eventData)
    val q = EventStreams.errorClickPairsStream(stream.toDF())
      .writeStream.format("memory").queryName("pairs_out")
      .outputMode(OutputMode.Append).start()
    try { q.processAllAvailable() } finally { q.stop() }

    val got = spark.table("pairs_out")
    val wantPairs = graft.operators.RangeJoin.clicksNearErrors(spark, sf0001)
      .agg(sum("n_clicks")).collect()(0).getLong(0)
    assert(got.count() === wantPairs)
    // no duplicate pairs
    assert(got.select("error_id", "click_id").distinct().count() === wantPairs)
  }

  test("stateful sessionizer closes sessions on watermark timeout, matching batch") {
    val data = eventData
    val stream = MemoryStream[Event](spark, 2)
    val q = EventStreams.sessionizeStateful(stream.toDS())
      .writeStream.format("memory").queryName("sessions_out")
      .outputMode(OutputMode.Append).start()
    try {
      stream.addData(data)
      q.processAllAvailable()
      // sentinel far-future event pushes the watermark past every gap,
      // timing out (and emitting) all open sessions except its own
      val maxTs = data.map(_.ts.getTime).max
      stream.addData(Event(-1L, new Timestamp(maxTs + 86400000L), -1L, "x", 0.0))
      q.processAllAvailable()
      stream.addData(Event(-2L, new Timestamp(maxTs + 2 * 86400000L), -1L, "x", 0.0))
      q.processAllAvailable()
    } finally q.stop()

    val got = spark.table("sessions_out").filter($"user_id" >= 0)
      .select("user_id", "session_start", "session_end", "n_events")
      .orderBy("user_id", "session_start").collect()
    val want = Events.sessionize(spark, sf0001)
      .select("user_id", "session_start", "session_end", "n_events")
      .orderBy("user_id", "session_start").collect()
    assert(got.length === want.length,
      s"streaming sessions ${got.length} != batch ${want.length}")
    assert(got.sameElements(want))
  }

  test("file-source streaming: readEventStream tails parquet and matches batch counts") {
    // file-source streaming requires a directory to tail
    val dir = java.nio.file.Files.createTempDirectory("graft_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf0001/events.parquet"),
      dir.resolve("events.parquet"))
    val stream = EventStreams.readEventStream(spark, dir.toString)
    val q = stream.groupBy("event_type").count()
      .writeStream.format("memory").queryName("fs_out")
      .outputMode(OutputMode.Complete).start()
    try { q.processAllAvailable() } finally { q.stop() }
    val got = spark.table("fs_out").orderBy("event_type").collect()
    val want = Tables.events(spark, sf0001).groupBy("event_type").count()
      .orderBy("event_type").collect()
    assert(got.sameElements(want))
  }

  test("q134 multi-batch replay == single-batch emitted set (watermark advances mid-stream)") {
    // the chronological file split means intermediate watermarks drop
    // nothing, so the drained multi-batch sink must equal q125's
    // single-batch one CELL-EXACTLY — while actually exercising
    // mid-stream emission + state eviction (the replay self-asserts
    // >1 data batch via recentProgress and throws otherwise)
    val multi = EventStreams.sessionWindowsBatchedReplay(spark, sf0001)
      .collect().toSeq
    val single = EventStreams.sessionWindowsAvailableNow(spark, sf0001)
      .collect().toSeq
    assert(multi === single)
    assert(multi.nonEmpty)
  }

  test("q143 kill/restart through a durable sink: exactly-once, no duplicates, no gaps") {
    // the helper kills the query after >=1 committed data batch and
    // restarts it from the checkpoint (self-asserts both runs committed
    // data batches, throwing if recovery was not actually exercised)
    val recovered = EventStreams.sessionWindowsDurableRestart(spark, sf0001)
      .collect().toSeq
    // no duplicates: a re-run batch double-committing to the sink would
    // duplicate (user, session_start) keys
    val keys = recovered.map(r => (r.getLong(2), r.getTimestamp(0)))
    assert(keys.distinct.size === keys.size,
      "duplicate sessions in the recovered sink")
    // no gaps: the recovered sink equals the uninterrupted emitted set
    val single = EventStreams.sessionWindowsAvailableNow(spark, sf0001)
      .select("session_start", "session_end", "user_id", "n_events",
        "sum_value")
      .collect().toSeq
    assert(recovered.map(_.toSeq).toSet === single.map(_.toSeq).toSet)
    assert(recovered.nonEmpty)
  }

  test("q146 late tail is watermark-dropped without trace") {
    // the helper self-asserts numRowsDroppedByWatermark > 0; the
    // emitted set must equal the clean replay's (the late copies of
    // old events leave no trace - no re-opened sessions)
    val late = EventStreams.sessionWindowsLateReplay(spark, sf0001)
      .collect().toSeq
    val single = EventStreams.sessionWindowsAvailableNow(spark, sf0001)
      .collect().toSeq
    assert(late === single)
    assert(late.nonEmpty)
  }

  test("q148 update-mode log folds to the batch aggregate (self-asserts cross-batch updates)") {
    // the helper requires >=2 data batches AND a log strictly larger
    // than the key set (some window updated across batches); the fold
    // must equal the batch rollup cell-exactly
    val got = EventStreams.hourlyByTypeUpdateReplay(spark, sf0001)
      .collect().toSeq
    val want = Events.hourlyByType(spark, sf0001).collect().toSeq
    assert(got.map(_.toSeq) === want.map(_.toSeq))
    assert(got.nonEmpty)
  }

  test("q149 stream-static enrichment equals the batch join rollup") {
    val got = EventStreams.segmentRollupStream(spark, sf0001)
      .collect().toSeq
    val want = Tables.events(spark, sf0001)
      .join(broadcast(Tables.customer(spark, sf0001)
        .select(col("c_custkey"), col("c_mktsegment"))),
        col("user_id") === col("c_custkey"))
      .groupBy(col("c_mktsegment").as("segment"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(28,10)")).cast("double")
          .as("sum_value"))
      .orderBy("segment").collect().toSeq
    assert(got.map(_.toSeq) === want.map(_.toSeq))
    assert(got.nonEmpty)
  }

  test("q154 foreachBatch upsert target equals the batch latest-by-user") {
    // the helper self-asserts >=2 data batches (the merge genuinely
    // folded across versions); the final version must equal the batch
    // CDC compaction cell-exactly
    val got = EventStreams.latestByUserUpsertReplay(spark, sf0001)
      .select("user_id", "event_id", "ts", "event_type", "value")
      .collect().toSeq
    val want = Events.latestByUser(spark, sf0001)
      .select("user_id", "event_id", "ts", "event_type", "value")
      .collect().toSeq
    assert(got.map(_.toSeq) === want.map(_.toSeq))
    assert(got.nonEmpty)
  }

  // batch restatement of the q141/q157 KMV readout: per-window bottom-k
  // over distinct md5-60 user hashes — the same deterministic values
  // the DuckDB oracle states (both queries are hash-green since round
  // 12; this spec pins streaming == batch engine-internally)
  private def kmvBatchWant(k: Int = 256): Map[(java.sql.Timestamp, String),
      (Long, Long, Long, Double)] = {
    val hashExpr = "CAST(conv(substring(md5(CAST(CAST(user_id AS " +
      "STRING) AS BINARY)), 1, 15), 16, 10) AS BIGINT)"
    Tables.events(spark, sf0001)
      .withColumn("h", expr(hashExpr))
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), expr(
        s"slice(array_sort(collect_set(h)), 1, $k)").as("kmv"))
      .select(col("window.start"), col("event_type"), col("n"),
        size(col("kmv")).cast("long").as("k_used"),
        element_at(col("kmv"), size(col("kmv"))).as("kth"),
        when(size(col("kmv")) < k, size(col("kmv")).cast("double"))
          .otherwise(lit((k - 1).toDouble) *
            lit(graft.functions.KmvAgg.TwoPow60) /
            col("kth").cast("double")).as("est"))
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
  }

  private def kmvRows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getTimestamp(0), r.getString(1)) ->
      ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap

  test("q141 streaming KMV distinct equals the batch bottom-k cell-exactly") {
    val got = kmvRows(
      EventStreams.hourlyDistinctKmvAvailableNow(spark, sf0001))
    val want = kmvBatchWant()
    assert(got === want)
    assert(got.nonEmpty)
    // and the estimator tracks the true distinct (vacuity guard: the
    // readout is not accidentally counting events)
    val exact = Tables.events(spark, sf0001)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(countDistinct(col("user_id")).as("x"))
      .select(col("window.start"), col("event_type"), col("x"))
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2)).toMap
    exact.foreach { case (key, x) =>
      val est = got(key)._4
      val tol = math.max(2.0, 3 * x / math.sqrt(255.0))
      assert(math.abs(est - x) <= tol, s"$key: est $est vs exact $x")
    }
  }

  test("q157 update-mode KMV folds to the q141 finals, eviction asserted") {
    // the query itself require()s numRowsRemoved > 0 and >=2 data
    // batches — reaching the assertions below means eviction happened
    val got = kmvRows(
      EventStreams.hourlyDistinctKmvUpdateReplay(spark, sf0001))
    val want = kmvBatchWant()
    assert(got === want,
      "folded update log != batch bottom-k (an update was lost to " +
        "eviction or the fold picked a non-final update)")
    assert(got.nonEmpty)
  }

  test("q205 streaming near-dup admission folds to q196 stage 2 exactly") {
    val led = EventStreams.streamingNeardupAdmission(spark, sf0001)
      .collect()
    val admitted = led.map(_.getAs[Long]("n_admitted")).sum
    val dropped = led.map(_.getAs[Long]("n_dup_dropped")).sum
    val stage2 = graft.operators.Corpus.corpusPipeline(spark, sf0001)
      .filter(col("stage_idx") === 2).head()
    assert(admitted === stage2.getAs[Long]("n_admitted"))
    assert(dropped === stage2.getAs[Long]("n_discarded"))
    // the stage discriminates at spec scale (round-11 vacuity rule)
    assert(led.length >= 2 && dropped > 0)
  }

  test("q205 cross-batch drop: a later batch's dup of an earlier admit drops BY HISTORY") {
    import spark.implicits._
    // three distinct gate-passing texts from the real corpus; copies
    // placed across the id ranges so batch 2 must drop one doc against
    // batch 0's segment, one against batch 1's, and one in-batch
    val texts = graft.operators.Corpus.withGateScore(
        Tables.documents(spark, sf0001))
      .filter(col("score") === 4).orderBy("doc_id")
      .limit(3).collect().map(_.getAs[String]("text"))
    assert(texts.distinct.length === 3)
    val fix = new java.io.File("/tmp/graft_fixture/q205")
    org.apache.commons.io.FileUtils.deleteQuietly(fix)
    fix.mkdirs()
    Seq((1L, texts(0)), (11L, texts(1)),
        (21L, texts(0)), (22L, texts(2)), (23L, texts(2)),
        (29L, texts(1)))
      .map { case (id, t) => (id, t, "en", "fix", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite")
      .parquet(new java.io.File(fix, "documents.parquet").getPath)
    // explicit nFiles = 3: the fixture ids are laid out for the
    // [0,10)/[10,20)/[20,30) ranges (the registered q205 default is 2)
    val led = EventStreams.streamingNeardupAdmission(spark, fix.getPath,
        nFiles = 3)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    // (n_docs, n_gate, n_dup_dropped, n_dropped_by_history, n_admitted)
    assert(led(0L) === ((1L, 1L, 0L, 0L, 1L)))
    assert(led(1L) === ((1L, 1L, 0L, 0L, 1L)))
    assert(led(2L) === ((4L, 4L, 3L, 2L, 1L)))
  }

  test("q205 segment compaction: never-compact and compact-every-batch ledgers identical") {
    import spark.implicits._
    // same fixture shape as the cross-batch test (its own dir: specs
    // must not order-depend), replayed twice — maxLiveSegments = 1
    // folds history into a generation after every batch, 1000 never
    // folds; admissions and history attribution must be IDENTICAL,
    // which is the q199 probe-equality property on the streaming path
    val texts = graft.operators.Corpus.withGateScore(
        Tables.documents(spark, sf0001))
      .filter(col("score") === 4).orderBy("doc_id")
      .limit(3).collect().map(_.getAs[String]("text"))
    val fix = new java.io.File("/tmp/graft_fixture/q205compact")
    org.apache.commons.io.FileUtils.deleteQuietly(fix)
    fix.mkdirs()
    Seq((1L, texts(0)), (11L, texts(1)),
        (21L, texts(0)), (22L, texts(2)), (23L, texts(2)),
        (29L, texts(1)))
      .map { case (id, t) => (id, t, "en", "fix", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite")
      .parquet(new java.io.File(fix, "documents.parquet").getPath)
    def run(maxLive: Int): Seq[Seq[Long]] =
      EventStreams.streamingNeardupAdmission(spark, fix.getPath,
          nFiles = 3, maxLiveSegments = maxLive)
        .collect().map(r => (0 to 5).map(r.getLong)).toSeq
    val compacted = run(1)
    // after the compacting run, history is folded: only generation
    // segments remain live (the O(batches) union is gone)
    val segBase = new java.io.File("/tmp/graft_stream_sink",
      "neardup_" + Tables.pathKey(fix.getPath) + "_n3m1/seg")
    val live = segBase.listFiles()
      .filter(d => new java.io.File(d, "_SUCCESS").exists)
    assert(live.nonEmpty && live.forall(_.getName.startsWith("gen")),
      s"expected only folded generations, saw ${live.map(_.getName).toSeq}")
    assert(live.length === 1, "compact-every-batch must leave one generation")
    val uncompacted = run(1000)
    assert(compacted === uncompacted,
      "compaction changed an admission/attribution decision")
  }

  test("q209 amortized dial: replay ends with >1 live segment (fold is per-K-batches, not per-batch)") {
    // the registered q209 row (nFiles = 4, maxLiveSegments = 2): batch
    // 2 probes TWO live segments {b0, b1}, commits b2 -> 3 > 2 folds
    // to gen2; batch 3 probes the generation and commits b3 -> live =
    // {gen2, b3}, UNDER the dial, so no fold — the end state proves
    // the production amortization ran on the driver-checked path
    val led = SparkEntry.queries("q209_streaming_neardup_amortized")(
      spark, sf0001).collect()
    assert(led.length === 4, "4-file replay must ledger 4 batches")
    val segBase = new java.io.File("/tmp/graft_stream_sink",
      "neardup_" + Tables.pathKey(sf0001) + "_n4m2/seg")
    val live = segBase.listFiles()
      .filter(d => new java.io.File(d, "_SUCCESS").exists)
      .map(_.getName).sorted
    assert(live.length === 2 && live.exists(_.startsWith("gen")) &&
      live.exists(_.startsWith("b")),
      s"expected {generation, tail batch} live, saw ${live.toSeq}")
  }

  test("q205 fold write parallelism scales with segment bytes, admissions identical") {
    import spark.implicits._
    // round-14 (verdict ask #1): the generation fold must NOT be an
    // unconditional coalesce(1) — with a tiny foldTargetBytes the
    // fixture's band index exceeds one target unit, so the fold must
    // write >1 part file (i.e. >1 task), and the ledger must be
    // byte-identical to the default single-file run.
    val texts = graft.operators.Corpus.withGateScore(
        Tables.documents(spark, sf0001))
      .filter(col("score") === 4).orderBy("doc_id")
      .limit(3).collect().map(_.getAs[String]("text"))
    val fix = new java.io.File("/tmp/graft_fixture/q205parfold")
    org.apache.commons.io.FileUtils.deleteQuietly(fix)
    fix.mkdirs()
    Seq((1L, texts(0)), (11L, texts(1)),
        (21L, texts(0)), (22L, texts(2)), (23L, texts(2)),
        (29L, texts(1)))
      .map { case (id, t) => (id, t, "en", "fix", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite")
      .parquet(new java.io.File(fix, "documents.parquet").getPath)
    def run(target: Long): Seq[Seq[Long]] =
      EventStreams.streamingNeardupAdmission(spark, fix.getPath,
          nFiles = 3, maxLiveSegments = 1, foldTargetBytes = target)
        .collect().map(r => (0 to 5).map(r.getLong)).toSeq
    val parallel = run(1024L)
    val segBase = new java.io.File("/tmp/graft_stream_sink",
      "neardup_" + Tables.pathKey(fix.getPath) + "_n3m1/seg")
    val gen = segBase.listFiles()
      .filter(d => new java.io.File(d, "_SUCCESS").exists)
    assert(gen.length === 1)
    val parts = gen.head.listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(parts > 1,
      s"fold with 1 KiB target wrote $parts part file(s) — the write " +
        "did not parallelize with segment bytes")
    assert(parallel === run(64L << 20),
      "fold parallelism changed an admission/attribution decision")
  }

  test("q205 probe-volume guard: degenerate inflow refuses with the dial; raised dial admits identically") {
    import spark.implicits._
    // 3 batches × 8 IDENTICAL gate-passing docs: every band row of
    // every batch lands in the same 4 buckets, the worst case the
    // guard exists for. cap=10 must refuse at batch 0 (exact tier-1
    // bound 4·8·8 = 256); cap=800 forces the EXACT tier on every batch
    // (tier 0 clears only when hist+batch band rows <= cap/32 = 25 —
    // batches carry 32/64/96 rows, so all three take tier 1, and the
    // per-batch exact bounds 256/512/768 all clear 800; the round-14
    // 5000 cap let batches 1-2 clear tier 0 and the dial-equality
    // assertion covered only batch 0, round-14 ADVICE #5);
    // the default cap clears tier 0 action-free — and the two
    // completing runs must ledger identically (dial equality).
    val text = graft.operators.Corpus.withGateScore(
        Tables.documents(spark, sf0001))
      .filter(col("score") === 4).orderBy("doc_id")
      .limit(1).collect().head.getAs[String]("text")
    val fix = new java.io.File("/tmp/graft_fixture/q205guard")
    org.apache.commons.io.FileUtils.deleteQuietly(fix)
    fix.mkdirs()
    val ids = Seq(1L, 2L, 3L, 4L, 6L, 7L, 8L, 9L)
    (ids ++ ids.map(_ + 10L) ++ ids.map(_ + 20L))
      .map(id => (id, text, "en", "fix", text.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite")
      .parquet(new java.io.File(fix, "documents.parquet").getPath)
    def run(cap: Long): Seq[Seq[Long]] =
      EventStreams.streamingNeardupAdmission(spark, fix.getPath,
          nFiles = 3, maxLiveSegments = 1, maxProbePairs = cap)
        .collect().map(r => (0 to 5).map(r.getLong)).toSeq
    val refusal = intercept[Throwable] { run(10L) }
    val messages = Iterator.iterate(refusal)(_.getCause)
      .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse(""))
      .mkString("\n")
    assert(messages.contains("maxProbePairs"),
      s"guard refusal must carry the dial name; got:\n$messages")
    val forced = run(800L)
    assert(forced === run(64L << 20),
      "probe guard tier changed an admission/attribution decision")
  }

  test("q210 cross-batch drop: a later batch's duplicate vector drops BY HISTORY") {
    // v11 is a verbatim copy of v1 (cosine 1, identical signature —
    // band-agree guaranteed); v2 is orthogonal. nFiles = 2 splits ids
    // [0,6) / [6,12): batch 1 must drop v11 against batch 0's segment.
    val mk = (hot: Int) => Array.tabulate(64)(i =>
      if (i == hot) 1.0f else 0.0f)
    val rows = Seq((1L, mk(0), 1), (2L, mk(7), 2), (11L, mk(0), 1))
      .map { case (id, e, l) =>
        org.apache.spark.sql.Row(id, e.toSeq, l) }
    val fix = new java.io.File("/tmp/graft_fixture/q210")
    org.apache.commons.io.FileUtils.deleteQuietly(fix)
    fix.mkdirs()
    spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1),
        Tables.embeddingsSchema)
      .write.mode("overwrite")
      .parquet(new java.io.File(fix, "embeddings.parquet").getPath)
    val led = EventStreams.streamingEmbeddingNeardup(spark, fix.getPath)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(3),
        r.getLong(4), r.getLong(5)))).toMap
    // (n_vecs, n_dup_dropped, n_dropped_by_history, n_admitted)
    assert(led(0L) === ((2L, 0L, 0L, 2L)))
    assert(led(1L) === ((1L, 1L, 1L, 0L)))
  }

  test("probe guard shares one scan past the checkpoint threshold, rows unchanged") {
    import spark.implicits._
    // tier 1 with a sub-cap exact bound and ckptProbeRows = 0: the
    // helper must hand back a CHECKPOINTED frame (the bound agg and
    // the downstream join then read one materialization instead of
    // scanning history twice) carrying exactly the input rows
    val probe = Seq((5L, 0, 1L), (6L, 0, 1L))
      .toDF("doc_id", "band_idx", "band_key")
    val shared = EventStreams.guardProbeVolume(probe, Seq.empty,
      bandRows = 4L, batchLo = 5L, idCol = "doc_id",
      bucketCols = Seq("band_idx", "band_key"), maxProbePairs = 10L,
      batchId = 0L, tag = "spec-probe-volume", ckptProbeRows = 0L)
    assert(shared ne probe)
    assert(shared.queryExecution.analyzed.getClass.getSimpleName
      .contains("LogicalRDD"),
      s"expected a checkpointed frame, got ${shared.queryExecution.analyzed.getClass}")
    assert(shared.collect().toSet === probe.collect().toSet)
    // below the threshold the frame passes through untouched
    val passthrough = EventStreams.guardProbeVolume(probe, Seq.empty,
      bandRows = 4L, batchLo = 5L, idCol = "doc_id",
      bucketCols = Seq("band_idx", "band_key"), maxProbePairs = 10L,
      batchId = 0L, tag = "spec-probe-volume")
    assert(passthrough eq probe)
  }

  test("q210 banding rung is recall-invariant for exact-copy vectors") {
    // identical vectors have identical 16-bit signatures, so they
    // band-agree at EVERY rung — the drop set must not depend on the
    // dial (the production claim behind the sf10 1×16 operating
    // point; SOAK.md round-14). Two copy pairs spanning the batch
    // boundary plus one non-dup: 2×8 and 1×16 must ledger identically.
    val mk = (hot: Int) => Array.tabulate(64)(i =>
      if (i == hot) 1.0f else 0.0f)
    val rows = Seq((1L, mk(0), 1), (2L, mk(7), 2), (3L, mk(11), 3),
        (11L, mk(0), 1), (12L, mk(11), 3))
      .map { case (id, e, l) =>
        org.apache.spark.sql.Row(id, e.toSeq, l) }
    val fix = new java.io.File("/tmp/graft_fixture/q210dial")
    org.apache.commons.io.FileUtils.deleteQuietly(fix)
    fix.mkdirs()
    spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1),
        Tables.embeddingsSchema)
      .write.mode("overwrite")
      .parquet(new java.io.File(fix, "embeddings.parquet").getPath)
    def run(nb: Int, bits: Int): Seq[(Long, Long, Long, Long, Long)] =
      EventStreams.streamingEmbeddingNeardup(spark, fix.getPath,
          nBandsDial = nb, bitsPerBand = bits)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(3),
          r.getLong(4), r.getLong(5))).toSeq
    val loose = run(2, 8)
    // both copies land in batch 1 and drop by history against batch 0
    assert(loose.map(t => (t._1, t._3, t._4, t._5)) ===
      Seq((0L, 0L, 0L, 3L), (1L, 2L, 2L, 0L)))
    assert(loose === run(1, 16),
      "exact-copy drops must be banding-rung-invariant")
    // the ORACLE side bands at the same rung (round-14 ADVICE #3): the
    // SQL's banding dial is parameterized to mirror the Scala defaults,
    // so a variant registered at another rung stays hash-matchable
    val sql116 = graft.operators.Similarity
      .streamingEmbeddingNeardupSql(nBandsDial = 1, bitsPerBand = 16)
    assert(sql116.contains("range(0, 1)"))
    assert(sql116.contains("(sig >> (r.b * 16)) & 65535"))
    val sql28 = graft.operators.Similarity.streamingEmbeddingNeardupSql()
    assert(sql28.contains("range(0, 2)"))
    assert(sql28.contains("(sig >> (r.b * 8)) & 255"))
  }

  test("q210 empty staged bucket still emits an all-zero ledger row (oracle series twin)") {
    // round-14 ADVICE #4: stageIdBatches writes a (0-row) file
    // for an empty id-range bucket, the file source fires a batch for
    // it, and the ledger gets an all-zero row — the oracle now emits
    // one row per range(0, nBatches) so that row has a twin. Pin the
    // Scala half here: ids {1,2} land in bucket 0, {9} in bucket 2,
    // bucket 1 ([4,7) of max+1=10 under id·3 div 10) is EMPTY.
    val mk = (hot: Int) => Array.tabulate(64)(i =>
      if (i == hot) 1.0f else 0.0f)
    val rows = Seq((1L, mk(0), 1), (2L, mk(7), 2), (9L, mk(0), 1))
      .map { case (id, e, l) =>
        org.apache.spark.sql.Row(id, e.toSeq, l) }
    val fix = new java.io.File("/tmp/graft_fixture/q210empty")
    org.apache.commons.io.FileUtils.deleteQuietly(fix)
    fix.mkdirs()
    spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1),
        Tables.embeddingsSchema)
      .write.mode("overwrite")
      .parquet(new java.io.File(fix, "embeddings.parquet").getPath)
    val led = EventStreams.streamingEmbeddingNeardup(spark, fix.getPath,
        nFiles = 3)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(3),
        r.getLong(4), r.getLong(5)))).toMap
    assert(led.keySet === Set(0L, 1L, 2L))
    // (n_vecs, n_dup_dropped, n_dropped_by_history, n_admitted)
    assert(led(0L) === ((2L, 0L, 0L, 2L)))
    assert(led(1L) === ((0L, 0L, 0L, 0L)),
      "empty bucket must still ledger an all-zero row")
    assert(led(2L) === ((1L, 1L, 1L, 0L)))
  }

  test("q172 transformWithState: RocksDB state persists across micro-batches") {
    // the 4-file chronological replay self-asserts >=2 data batches AND
    // >=1 user re-emitting (accumulated state), then folds the Update
    // log to final profiles — which must equal the single-batch run
    // cell-exactly (counts/nanos sums are order-free exact)
    val multi = EventStreams.userLifetimeAvailableNow(spark, sf0001, nFiles = 4)
      .collect().toSeq
    val single = EventStreams.userLifetimeAvailableNow(spark, sf0001)
      .collect().toSeq
    assert(multi === single)
    assert(multi.nonEmpty)
  }

  test("q174 timers fire mid-stream and CLEAR state: a returning user restarts at zero") {
    import spark.implicits._
    // controlled 2-batch fixture: user 7 has 3 early events, goes quiet
    // past the 30-min gap (+10-min delay), then returns with 2 more; a
    // pacer user keeps the watermark advancing in both batches
    val base = 1700000000000000L // µs
    val min = 60L * 1000000
    def write(dir: String, name: String,
        rows: Seq[(Long, Long, Long)]): Unit = {
      // the file-stream source lists FILES, not parquet directories:
      // write to a scratch dir and hoist the single part file up
      val tmp = s"$dir/_tmp_$name"
      rows.toDF("event_id", "us", "user_id")
        .selectExpr("event_id", "timestamp_micros(us) AS ts", "user_id",
          "'click' AS event_type", "CAST(1.0 AS DOUBLE) AS value",
          "'{}' AS props")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(f => f.getName.startsWith("part-") &&
          f.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath,
        new java.io.File(dir, name).toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      org.apache.commons.io.FileUtils
        .deleteDirectory(new java.io.File(tmp))
    }
    val dir = java.nio.file.Files
      .createTempDirectory("graft_tws_timer_").toString
    // the watermark lags one batch (computed from the PREVIOUS batch's
    // max event time), so pacer-only batches separate the timer fire
    // from the user's return:
    //   b0: user 7's burst (timer armed at 2min + 30min = 32min)
    //   b1: pacer 120min  (wm during b1 still -8min — nothing fires)
    //   b2: pacer 125min  (wm now 110min > 32min -> timer FIRES, clears)
    //   b3: user 7 returns + pacer 175min (fresh state, timer 161min;
    //       finalization wm 165min > 161min -> second digest)
    write(dir, "b0.parquet", Seq(
      (1L, base, 7L), (2L, base + min, 7L), (3L, base + 2 * min, 7L),
      (100L, base, 9L)))
    write(dir, "b1.parquet", Seq((101L, base + 120 * min, 9L)))
    write(dir, "b2.parquet", Seq((102L, base + 125 * min, 9L)))
    write(dir, "b3.parquet", Seq(
      (4L, base + 130 * min, 7L), (5L, base + 131 * min, 7L),
      (103L, base + 175 * min, 9L)))
    val sink = "graft_tws_timer_spec"
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.get(provKey)
    spark.conf.set(provKey, "org.apache.spark.sql.execution.streaming." +
      "state.RocksDBStateStoreProvider")
    try {
      val ev = spark.readStream
        .schema(graft.sources.Tables.eventsMicrosSchema)
        .option("maxFilesPerTrigger", "1")
        .parquet(dir)
        .select("event_id", "ts", "user_id", "event_type", "value")
        .withWatermark("ts", "10 minutes")
        .as[EventStreams.Event]
      val q = ev.groupByKey(_.user_id)
        .transformWithState(
          new graft.streaming.InactivityDigestProcessor(30),
          org.apache.spark.sql.streaming.TimeMode.EventTime(),
          org.apache.spark.sql.streaming.OutputMode.Update())
        .writeStream.format("memory").queryName(sink)
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Update)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    } finally spark.conf.set(provKey, prev)
    val digests = spark.table(sink)
      .filter(col("user_id") === 7L)
      .orderBy("n_events")
      .collect().map(r => (r.getLong(1), r.getString(2)))
    // two digests: the mid-stream timer fired with the FIRST 3 events,
    // then the cleared state accumulated ONLY the 2 return events (a
    // leaked state would make the second digest n=5 with old ids)
    assert(digests.toSeq === Seq((2L, "4-5"), (3L, "1-2-3")),
      s"expected clear-then-restart digests, got ${digests.toSeq}")
  }

  test("q175 bootstrap: history seeds state; history-only users stay silent") {
    import spark.implicits._
    val base = 1700000000000000L
    val min = 60L * 1000000
    // midpoint cutoff lands at 50min: user 1 = history only (absent),
    // user 2 = history + live (full profile must include history),
    // user 3 = live only (no bootstrap, plain fold)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_tws_boot_").toString
    val tmp = s"$dir/_tmp"
    Seq(
      (10L, base, 1L, "click", 1.5),
      (11L, base + 10 * min, 1L, "view", 2.5),
      (20L, base + 20 * min, 2L, "click", 1.0),
      (21L, base + 80 * min, 2L, "click", 4.0),
      (30L, base + 90 * min, 3L, "error", 0.25),
      (99L, base + 100 * min, 9L, "view", 0.0))
      .toDF("event_id", "us", "user_id", "event_type", "value")
      .selectExpr("event_id", "timestamp_micros(us) AS ts", "user_id",
        "event_type", "CAST(value AS DOUBLE) AS value", "'{}' AS props")
      .coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .filter(f => f.getName.startsWith("part-") &&
        f.getName.endsWith(".parquet")).head
    java.nio.file.Files.move(part.toPath,
      new java.io.File(dir, "events.parquet").toPath)
    val got = EventStreams.userLifetimeBootstrapAvailableNow(spark, dir)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(!got.contains(1L), "history-only user must not emit")
    // user 2: bootstrapped history click (1.0) + live click (4.0)
    assert(got(2L) === ((2L, 5000000000L, 1L)),
      s"bootstrapped profile must include history: ${got.get(2L)}")
    // user 3: live-only, no initial state — plain fold
    assert(got(3L) === ((1L, 250000000L, 1L)), s"live-only: ${got.get(3L)}")
  }

  test("session_window streaming runs and covers every user") {
    val stream = MemoryStream[Event](spark, 3)
    stream.addData(eventData)
    val q = EventStreams.sessionWindows(stream.toDF())
      .writeStream.format("memory").queryName("swin_out")
      .outputMode(OutputMode.Complete).start()
    try { q.processAllAvailable() } finally { q.stop() }
    val users = spark.table("swin_out").select("user_id").distinct().count()
    val wantUsers = Tables.events(spark, sf0001)
      .select("user_id").distinct().count()
    assert(users === wantUsers)
  }

  test("state width derives from the events footers: 1 at sf0.001/sf0.01, 8 (joins 4) at 100,000 rows") {
    val sf001 = new java.io.File(new java.io.File(sf0001).getParent, "sf0.01").getPath
    assert(Tables.eventsRows(spark, sf0001) === 1000L)
    assert(Tables.eventsRows(spark, sf001) === 10000L)
    // a 100,000-row events table (the sf0.1 size), staged as one file
    // the way the testdata ships it
    val dir = java.nio.file.Files.createTempDirectory("graft_events_100k").toFile
    try {
      val tmp = new java.io.File(dir, "_w")
      spark.range(0, 100000, 1, 4)
        .select(col("id").as("event_id"), expr("timestamp_micros(id)").as("ts"),
          (col("id") % 97).as("user_id"), lit("view").as("event_type"),
          col("id").cast("double").as("value"), lit("{}").as("props"))
        .coalesce(1).write.parquet(tmp.getPath)
      val part = tmp.listFiles.find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        new java.io.File(dir, "events.parquet").toPath)
      org.apache.commons.io.FileUtils.deleteQuietly(tmp)
      assert(Tables.eventsRows(spark, dir.getPath) === 100000L)
      def width(n: Int, sfDir: String) =
        EventStreams.statePartitions(n, Tables.eventsRows(spark, sfDir))
      assert(width(8, sf0001) === 1 && width(8, sf001) === 1)
      assert(width(4, sf0001) === 1 && width(4, sf001) === 1)
      assert(width(8, dir.getPath) === 8, "windowed-agg sites at sf0.1")
      assert(width(4, dir.getPath) === 4, "stream-stream join sites at sf0.1")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(dir)
  }

  test("q124 runs on the derived state width and still equals the batch hourly rollup") {
    val widths = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        e.progress.stateOperators.foreach(o => widths.add(o.numShufflePartitions.toInt))
    }
    spark.streams.addListener(listener)
    try {
      val cols = Seq("window_start", "event_type", "n_events", "sum_value")
      val got = EventStreams.hourlyByTypeAvailableNow(spark, sf0001)
        .select(cols.map(col): _*).collect()
      val want = Events.hourlyByType(spark, sf0001)
        .select(cols.map(col): _*).collect()
      assert(got.nonEmpty)
      assert(got.sameElements(want))
      // drain the async listener bus before reading the progress
      Thread.sleep(500)
      import scala.jdk.CollectionConverters._
      assert(widths.asScala.toSeq.distinct === Seq(1),
        s"q124 state partitions at sf0.001: ${widths.asScala.toSeq}")
    } finally spark.streams.removeListener(listener)
  }

  /** Progress of every streaming query `body` starts whose name begins
    * with `prefix`, one batch-ordered sequence per run. Spark posts a
    * run's terminated event after its last progress event on the same
    * asynchronous bus, so waiting for every started run to terminate
    * drains its progress.
    */
  private def progressOf[A](prefix: String)(body: => A)
      : (A, Seq[Seq[org.apache.spark.sql.streaming.StreamingQueryProgress]]) = {
    import org.apache.spark.sql.streaming.StreamingQueryListener
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    import scala.jdk.CollectionConverters._
    val started = java.util.concurrent.ConcurrentHashMap.newKeySet[java.util.UUID]()
    val done = java.util.concurrent.ConcurrentHashMap.newKeySet[java.util.UUID]()
    val progress = new java.util.concurrent.ConcurrentLinkedQueue[
      org.apache.spark.sql.streaming.StreamingQueryProgress]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = started.add(e.runId)
      override def onQueryProgress(e: QueryProgressEvent): Unit = progress.add(e.progress)
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = done.add(e.runId)
    }
    spark.streams.addListener(listener)
    try {
      val a = body
      val deadline = System.nanoTime + 60L * 1000 * 1000 * 1000
      while (!started.asScala.forall(done.contains) && System.nanoTime < deadline)
        Thread.sleep(10)
      assert(started.asScala.forall(done.contains), "a started replay never terminated")
      val runs = progress.asScala.toSeq
        .filter(p => Option(p.name).exists(_.startsWith(prefix)))
        .groupBy(_.runId).values.map(_.sortBy(_.batchId)).toSeq
      (a, runs)
    } finally spark.streams.removeListener(listener)
  }

  test("Complete mode runs no finalization batch: q124 and q141 run one micro-batch, q125 two") {
    assert(spark.conf.get("spark.sql.streaming.noDataMicroBatches.enabled") === "true",
      "these counts are for the default conf")
    val (_, hourly) = progressOf("graft_stream_hourly_")(
      EventStreams.hourlyByTypeAvailableNow(spark, sf0001).collect())
    assert(hourly.map(_.length) === Seq(1), s"q124 batches: $hourly")
    val (_, kmv) = progressOf("graft_stream_kmvdist_")(
      EventStreams.hourlyDistinctKmvAvailableNow(spark, sf0001).collect())
    assert(kmv.map(_.length) === Seq(1), s"q141 batches: $kmv")
    // Append mode: the data batch, then the finalization batch that
    // advances the watermark and emits the closed sessions
    val (_, sessions) = progressOf("graft_stream_sessions_")(
      EventStreams.sessionWindowsAvailableNow(spark, sf0001).collect())
    assert(sessions.map(_.map(_.numInputRows > 0)) === Seq(Seq(true, false)),
      s"q125 batches: $sessions")
  }

  test("Tables.withConfs restores a set key and unsets an absent one, also when the body throws") {
    val setKey = "spark.sql.shuffle.partitions"
    val absentKey = "graft.spec.withconfs.absent"
    val keptKey = "spark.sql.ansi.enabled"
    val before = spark.conf.getAll
    assert(before.contains(setKey) && !before.contains(absentKey))
    def restored(): Unit = {
      val now = spark.conf.getAll
      assert(now.get(setKey) === before.get(setKey))
      assert(now.get(keptKey) === before.get(keptKey))
      assert(now.get(absentKey) === None, s"$absentKey was left set")
    }
    val seen = Tables.withConfs(spark, setKey -> Some("3"),
        absentKey -> Some("x"), keptKey -> None) {
      (spark.conf.get(setKey), spark.conf.get(absentKey), spark.conf.getAll.get(keptKey))
    }
    assert(seen === (("3", "x", before.get(keptKey))))
    restored()
    val thrown = intercept[IllegalStateException] {
      Tables.withConfs(spark, setKey -> Some("5"), absentKey -> Some("y")) {
        assert(spark.conf.get(setKey) === "5" && spark.conf.get(absentKey) === "y")
        throw new IllegalStateException("body failed")
      }
    }
    assert(thrown.getMessage === "body failed")
    restored()
  }

  test("a memory table drained by EventStreams.drain is dropped by Tables.dropDrainedStreamTables") {
    def tables() = spark.catalog.listTables().collect().map(_.name).toSet
    val before = tables()
    val (q, rows) = EventStreams.drain(
      EventStreams.readEventStream(spark, sf0001, glob = Some("events.parquet")),
      EventStreams.memorySink("janitor_spec"), width = 1)
    assert(!q.isActive && q.exception.isEmpty)
    assert(rows.count() === Tables.eventsRows(spark, sf0001))
    val made = tables() -- before
    assert(made.size === 1, s"drain registered $made")
    Tables.dropDrainedStreamTables(spark)
    assert((tables() intersect made).isEmpty, s"$made outlived the janitor")
  }

  test("the runner sets RocksDB only for transformWithState plans and restores the provider conf") {
    import scala.jdk.CollectionConverters._
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    def provider() = (spark.conf.getAll.get(provKey), spark.conf.get(provKey))
    val before = provider()
    def rocksOps(runs: Seq[Seq[org.apache.spark.sql.streaming.StreamingQueryProgress]]) = {
      val ops = runs.flatten.flatMap(_.stateOperators)
      assert(ops.nonEmpty, "no state operator progress")
      ops.map(_.customMetrics.keySet.asScala.exists(_.startsWith("rocksdb"))).distinct
    }
    val (lifetime, tws) = progressOf("graft_stream_tws_")(
      EventStreams.userLifetimeAvailableNow(spark, sf0001).collect())
    assert(lifetime.nonEmpty)
    assert(provider() === before)
    assert(rocksOps(tws) === Seq(true), "q172 did not run on RocksDB")
    val (_, hourly) = progressOf("graft_stream_hourly_")(
      EventStreams.hourlyByTypeAvailableNow(spark, sf0001).collect())
    assert(provider() === before)
    assert(rocksOps(hourly) === Seq(false), "q124 ran on RocksDB")
  }
}
