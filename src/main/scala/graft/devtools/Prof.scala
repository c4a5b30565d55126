package graft.devtools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Stage-level profiler for registered queries (dev-only): runs each
  * named query `passes` times with [[Tables.janitor]] between runs and
  * prints, per run, the wall time and per-stage task counts with
  * summed task run/deserialize/GC times.
  *
  * The one diagnostic this adds over Bench: `taskRunSum` vs
  * `wall × cores`. taskRunSum ≫ wall·cores means per-row poison
  * (interpreted aggregates, wide buffers — the round-7 HLL finding was
  * made with exactly this signal); wall ≫ taskRunSum/cores means a
  * serial tail (single-task final merge, driver-side work, skew).
  *
  * Usage: `runMain graft.devtools.Prof <sfDir> <q1,q2,...> [passes]`.
  * For an A/B of a conf, pass it as a JVM system property, which
  * SparkConf reads: `dev/spark_java.sh -Dspark.k=v graft.devtools.Prof …`.
  */
object Prof {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.drop(1).headOption
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq("q01_top_products"))
    val passes = args.drop(2).headOption.map(_.toInt).getOrElse(2)
    val spark = Tables.cliSession(defaultCpus = 32, "WARN")

    val stages =
      new java.util.concurrent.ConcurrentLinkedQueue[(Int, Int, Long, Long, Long, Long)]()
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted)
            : Unit = {
          val si = sc.stageInfo
          val ms = (for {
            s <- si.submissionTime; c <- si.completionTime
          } yield c - s).getOrElse(-1L)
          val tm = si.taskMetrics
          stages.add((si.stageId, si.numTasks, ms,
            tm.executorRunTime, tm.executorDeserializeTime, tm.jvmGCTime))
        }
      })

    // per-micro-batch phase breakdown for streaming queries: collects
    // every progress event's durationMs map (queryPlanning, addBatch,
    // walCommit, ...) so family-wide planning overhead is measurable
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.streams.addListener(
      new org.apache.spark.sql.streaming.StreamingQueryListener {
        import org.apache.spark.sql.streaming.StreamingQueryListener._
        override def onQueryStarted(e: QueryStartedEvent): Unit = ()
        override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
        override def onQueryProgress(e: QueryProgressEvent): Unit = {
          val p = e.progress
          import scala.jdk.CollectionConverters._
          val dm = p.durationMs.asScala.toSeq.sortBy(-_._2)
            .map { case (k, v) => s"$k=$v" }.mkString(" ")
          batches.add(s"batch ${p.batchId} rows=${p.numInputRows} $dm")
        }
      })

    def time(name: String)(df: => DataFrame): Unit = {
      stages.clear()
      batches.clear()
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      println(f"PROF $name ${(System.nanoTime() - t0) / 1e9}%.2f s")
      Thread.sleep(200)
      import scala.jdk.CollectionConverters._
      batches.asScala.foreach(b => println(s"PROF   $b"))
      stages.asScala.toSeq.sortBy(_._1).foreach {
        case (id, n, ms, run, deser, gc) =>
          println(s"PROF   stage $id: $n tasks, wall $ms ms, " +
            s"taskRunSum $run ms, deserSum $deser ms, gcSum $gc ms")
      }
      Tables.janitor(spark, name)
    }

    time("warmup")(Tables.lineitem(spark, sfDir)
      .select(count(lit(1)).as("c")))
    for (name <- names; pass <- 1 to passes)
      time(s"$name pass$pass")(graft.SparkEntry.queries(name)(spark, sfDir))
    spark.stop()
  }
}
