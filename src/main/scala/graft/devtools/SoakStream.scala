package graft.devtools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

import graft.sources.Tables
import graft.streaming.EventStreams

/** Soak prober for the streaming family's STATE-STORE axis (round-7
  * VERDICT stretch task): stages events chronologically, replays the
  * session-window query one file per trigger, and prints one JSON line
  * per micro-batch with the state-operator metrics
  * (`recentProgress.stateOperators`) — rows kept / updated / evicted
  * and state memory — so state scaling at sf≥1 is measured, not
  * asserted. Results land in SOAK.md.
  *
  * Usage: `SPARK_GRAFT_CPUS=32 runMain graft.devtools.SoakStream
  *   <sfDir> [nFiles] [keySplit]`
  *
  * `keyMult` (default 1) unions K copies of the events with per-copy
  * user/event id offsets and UNCHANGED timestamps before staging, so K
  * times as many users are concurrently active. The replicator scales
  * events per user (denser sessions), not user cardinality, so state
  * ROWS plateau at the source's key count no matter the sf; and a
  * per-row key SPLIT does not help either (each synthetic key is
  * active 1/K as often — measured: split 8 moved state rows 12.0k ->
  * 12.5k). Concurrent copies are the axis that actually grows live
  * state.
  */
object SoakStream {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val nFiles = args.drop(1).headOption.map(_.toInt).getOrElse(8)
    val keyMult = args.drop(2).headOption.map(_.toInt).getOrElse(1)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = Tables.graftSession(SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-soakstream")
      .config("spark.sql.shuffle.partitions", "8") // state partitions
      .config("spark.ui.enabled", "false"))
    spark.sparkContext.setLogLevel("ERROR")

    val t0 = System.nanoTime()
    val srcDir =
      if (keyMult <= 1) sfDir
      else {
        import org.apache.spark.sql.functions._
        val d = new java.io.File("/tmp/graft_stage",
          s"mult${keyMult}_" + Tables.pathKey(sfDir))
        val ev = Tables.events(spark, sfDir)
        (0 until keyMult).map(k => ev
            .withColumn("user_id", col("user_id") + lit(k * 100000000L))
            .withColumn("event_id", col("event_id") + lit(k * 100000000000L)))
          .reduce(_ unionByName _)
          .write.mode("overwrite").parquet(new java.io.File(d, "events.parquet").getPath)
        d.getPath
      }
    val staging = EventStreams.stageChronologicalEvents(spark, srcDir, nFiles)
    val tStage = (System.nanoTime() - t0) / 1e9

    val stream = EventStreams.readEventStream(spark, staging,
      maxFilesPerTrigger = Some(1))
    val q = EventStreams.sessionWindows(stream)
      .writeStream.format("memory").queryName("soak_sessions")
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val tAll = (System.nanoTime() - t0) / 1e9

    q.recentProgress.foreach { p =>
      val so = p.stateOperators.headOption
      def l(f: org.apache.spark.sql.streaming.StateOperatorProgress => Long)
          : Long = so.map(f).getOrElse(-1L)
      println(s"""{"batchId":${p.batchId},"inputRows":${p.numInputRows},""" +
        s""""stateRowsTotal":${l(_.numRowsTotal)},""" +
        s""""stateRowsUpdated":${l(_.numRowsUpdated)},""" +
        s""""stateRowsRemoved":${l(_.numRowsRemoved)},""" +
        s""""stateMemBytes":${l(_.memoryUsedBytes)},""" +
        s""""durationMs":${p.durationMs.getOrDefault("triggerExecution", -1L)}}""")
    }
    val emitted = spark.table("soak_sessions").count()
    println(s"""{"sfDir":"$sfDir","nFiles":$nFiles,"keyMult":$keyMult,"emitted":$emitted,""" +
      s""""stageSec":${math.rint(tStage * 100) / 100},""" +
      s""""totalSec":${math.rint(tAll * 100) / 100}}""")
    spark.stop()
  }
}
