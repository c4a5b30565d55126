package graft.devtools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StateOperatorProgress

import graft.operators.{Dedup, Similarity}
import graft.sources.Tables
import graft.streaming.EventStreams

/** Scale probers (dev-only): each probe runs one registered query's
  * operator at a large sf, with the dials a soak varies, and prints JSON
  * lines whose last one carries the probe's arguments, its result and
  * `totalSec`. Results land in SOAK.md.
  *
  * Usage: `runMain graft.devtools.Soak <probe> <sfDir> [args…]`, with
  * probe one of
  *
  *  - `stream [nFiles] [keyMult]` — the streaming family's STATE-STORE
  *    axis: stages events chronologically, replays the session-window
  *    query one file per trigger, and prints one line per micro-batch
  *    with the state-operator metrics (rows kept / updated / evicted,
  *    state memory), so state scaling at sf≥1 is measured, not
  *    asserted. `keyMult` (default 1) unions K copies of the events
  *    with per-copy user/event id offsets and UNCHANGED timestamps
  *    before staging, so K times as many users are concurrently active.
  *    The replicator scales events per user (denser sessions), not user
  *    cardinality, so state ROWS plateau at the source's key count no
  *    matter the sf; and a per-row key SPLIT does not help either (each
  *    synthetic key is active 1/K as often — measured: split 8 moved
  *    state rows 12.0k -> 12.5k). Concurrent copies are the axis that
  *    actually grows live state. Default cores: 8 (state partitions).
  *  - `neardup [nFiles] [maxLiveSegments]` — the q205 near-dup
  *    band-index COMPACTION axis: replays the streaming admission over
  *    many staged batches and prints the per-batch ledger; per-batch
  *    times come from the query's own `neardup-batch-ms:` stderr line.
  *    Run once with maxLiveSegments=4 (compacting) and once with a huge
  *    value (never compacts) to see the union-growth curve.
  *  - `embneardup [nFiles] [maxLive] [maxProbePairs] [nBands] [bits]` —
  *    q210 (streaming embedding near-dup admission) the same way, with
  *    the guard's stderr diagnostics (emb-probe-pair-volume).
  *  - `jaccard [maxScoredPairs]` — q33's escape hatch: the pair-volume
  *    guard refuses replication-densified corpora once the block
  *    partition would score more than `maxScoredPairs` candidate pairs
  *    (the unguarded sf10 run filled 78 GB of sort spill).
  *  - `allpairs [maxCandPerDoc]` — q185's escape hatch: the
  *    candidate-volume guard refuses the near-dup-dense synthetic sf3
  *    corpus at the shipped ceiling (measured 1097.3 candidates/doc >
  *    1024).
  *  - `knn [maxCandPairs] [broadcastMB]` — the q203/q204/q206 kNN
  *    artifact build's escape hatch (the unguarded sf10 build spilled
  *    >60 GB), with a broadcast threshold wide enough for the vector
  *    table, so the size gate plans map-side lookups instead of sorting
  *    the candidate stream with embedding payloads. The artifacts are
  *    keyed on the embeddings files, the (k, bands, bits) dial and the
  *    build fingerprint, not on the candidate ceiling, so a dialed build
  *    is then served to q203/q204/q206 verbatim: the registered queries
  *    complete at sf10 against the identical index.
  *
  * The escape-hatch probes run the SAME query with a deliberately raised
  * ceiling (the action the guard's message prescribes) and report rows
  * and wall time, so SOAK.md can state that a refusal is a dial, not a
  * wall.
  *
  *   dev/spark_java.sh -Xmx32g graft.devtools.Soak embneardup /tmp/sf10 12 4
  */
object Soak {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Soak " +
      "<stream|neardup|embneardup|jaccard|allpairs|knn> <sfDir> [args…]")
    val Array(probe, sfDir) = args.take(2)
    def arg[A](i: Int, default: A)(parse: String => A): A =
      args.lift(i + 2).map(parse).getOrElse(default)
    val spark = Tables.cliSession(
      defaultCpus = if (probe == "stream") 8 else 32, "ERROR")
    val t0 = System.nanoTime()
    def secs(): Double = math.rint((System.nanoTime() - t0) / 1e7) / 100
    val fields: Seq[(String, Any)] = probe match {
      case "stream" => stream(spark, sfDir, arg(0, 8)(_.toInt),
        arg(1, 1)(_.toInt), secs _)
      case "neardup" =>
        val (nFiles, maxLive) = (arg(0, 12)(_.toInt), arg(1, 4)(_.toInt))
        EventStreams.streamingNeardupAdmission(spark, sfDir,
          nFiles = nFiles, maxLiveSegments = maxLive).collect()
          .foreach(r => println(json(Seq("batch", "docs", "gate", "dups",
            "byHist", "admitted").zipWithIndex
            .map { case (k, i) => k -> r.getLong(i) })))
        Seq("nFiles" -> nFiles, "maxLiveSegments" -> maxLive)
      case "embneardup" =>
        val (nFiles, maxLive) = (arg(0, 12)(_.toInt), arg(1, 4)(_.toInt))
        val cap = arg(2, 64L << 20)(_.toLong)
        val (nb, bits) = (arg(3, 2)(_.toInt), arg(4, 8)(_.toInt))
        EventStreams.streamingEmbeddingNeardup(spark, sfDir,
          nFiles = nFiles, maxLiveSegments = maxLive,
          maxProbePairs = cap, nBandsDial = nb, bitsPerBand = bits)
          .collect()
          .foreach(r => println(json(Seq("batch", "vecs", "cands", "dups",
            "byHist", "admitted").zipWithIndex
            .map { case (k, i) => k -> r.getLong(i) })))
        Seq("nFiles" -> nFiles, "maxLiveSegments" -> maxLive,
          "maxProbePairs" -> cap, "dial" -> s"${nb}x$bits")
      case "jaccard" =>
        val cap = arg(0, 1024L * 1000 * 1000)(_.toLong)
        Seq("maxScoredPairs" -> cap, "pairs" -> Dedup.ngramJaccardPairs(
          spark, sfDir, maxScoredPairs = cap).count())
      case "allpairs" =>
        val cap = arg(0, 2048L)(_.toLong)
        val docs = Tables.spread(Tables.documents(spark, sfDir))
        Seq("maxCandPerDoc" -> cap, "pairs" ->
          Dedup.allPairsJaccardOn(docs, maxCandPerDoc = cap).count())
      case "knn" =>
        val cap = arg(0, 1024L * 1000 * 1000)(_.toLong)
        val broadcast = s"${arg(1, 256)(_.toInt)}MB"
        Seq("maxCandPairs" -> cap, "edges" -> Tables.withConfs(spark,
            "spark.sql.autoBroadcastJoinThreshold" -> Some(broadcast)) {
          Similarity.mutualKnnGraph(spark, sfDir, maxCandPairs = cap).count()
        })
      case other => sys.error(s"Soak: unknown probe $other")
    }
    println(json(("sfDir" -> sfDir) +: fields :+ ("totalSec" -> secs())))
    spark.stop()
  }

  /** One JSON object line: strings quoted, other values as printed. */
  private def json(fields: Seq[(String, Any)]): String =
    fields.map {
      case (k, v: String) => s""""$k":"$v""""
      case (k, v) => s""""$k":$v"""
    }.mkString("{", ",", "}")

  /** The `stream` probe: prints one line per micro-batch and returns the
    * summary fields, with `stageSec` read off `secs`.
    */
  private def stream(spark: SparkSession, sfDir: String, nFiles: Int,
      keyMult: Int, secs: () => Double): Seq[(String, Any)] = {
    val srcDir =
      if (keyMult <= 1) sfDir
      else {
        val d = Tables.Stage.scratch(s"mult${keyMult}_", sfDir)
        val ev = Tables.events(spark, sfDir)
        (0 until keyMult).map(k => ev
            .withColumn("user_id", col("user_id") + lit(k * 100000000L))
            .withColumn("event_id", col("event_id") + lit(k * 100000000000L)))
          .reduce(_ unionByName _)
          .write.mode("overwrite")
          .parquet(new java.io.File(d, "events.parquet").getPath)
        d.getPath
      }
    val staging = EventStreams.stageChronologicalEvents(spark, srcDir, nFiles)
    val stageSec = secs()
    val events = EventStreams.readEventStream(spark, staging,
      maxFilesPerTrigger = Some(1))
    val (q, sink) = EventStreams.drain(EventStreams.sessionWindows(events),
      EventStreams.memorySink("soak"), width = 8) // state partitions
    q.recentProgress.foreach { p =>
      val so = p.stateOperators.headOption
      def l(f: StateOperatorProgress => Long): Long = so.map(f).getOrElse(-1L)
      println(json(Seq("batchId" -> p.batchId, "inputRows" -> p.numInputRows,
        "stateRowsTotal" -> l(_.numRowsTotal),
        "stateRowsUpdated" -> l(_.numRowsUpdated),
        "stateRowsRemoved" -> l(_.numRowsRemoved),
        "stateMemBytes" -> l(_.memoryUsedBytes),
        "durationMs" -> p.durationMs.getOrDefault("triggerExecution", -1L))))
    }
    Seq("nFiles" -> nFiles, "keyMult" -> keyMult, "emitted" -> sink.count(),
      "stageSec" -> stageSec)
  }
}
