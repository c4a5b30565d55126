package graft.devtools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.ExplainMode

import graft.SparkEntry
import graft.sources.Tables

/** Plan-capture utility for the optimization-round deliverables: writes
  * `.explain("formatted")` output for each named registered query to
  * `<outDir>/<query>_<tag>.txt`, after executing the plan (noop sink) so
  * AQE finalizes join strategies / coalesced exchanges and the dumped
  * text reflects what the bench actually ran.
  *
  * Usage: `runMain graft.devtools.DumpPlans <sfDir> <outDir> <tag> [q...]`
  */
object DumpPlans {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val tag = args(2)
    val names = if (args.length > 3) args.drop(3).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val spark = Tables.cliSession(defaultCpus = 32, "ERROR")
    Files.createDirectories(Paths.get(outDir))
    for (n <- names) {
      try {
        spark.sparkContext.setJobDescription(s"dumpplans: $n")
        val df = SparkEntry.queries(n)(spark, sfDir)
        // Execute THIS QueryExecution (round-15 ADVICE: a noop write
        // plans a SEPARATE QueryExecution, so the dumped adaptive plan
        // stayed isFinalPlan=false and the exchange counts were
        // pre-AQE). Driving the executedPlan's RDD runs the very
        // AdaptiveSparkPlanExec the explain below renders, so AQE
        // finalizes join strategies / coalesced exchanges in it.
        df.queryExecution.executedPlan.execute().foreach(_ => ())
        val txt = df.queryExecution.explainString(
          ExplainMode.fromString("formatted"))
        Files.write(Paths.get(outDir, s"${n}_$tag.txt"),
          txt.getBytes("UTF-8"))
        val plan = df.queryExecution.executedPlan.toString
        if (plan.contains("AdaptiveSparkPlan") &&
            !plan.contains("isFinalPlan=true"))
          println(s"[dumpplans] $n WARN adaptive plan NOT finalized")
        def count(node: String) = node.r.findAllIn(plan).length
        println(s"[dumpplans] $n scans=${count("FileScan")} " +
          s"exchanges=${count("Exchange")} " +
          s"reused=${count("ReusedExchange")} " +
          s"singlePartition=${count("SinglePartition")}")
      } catch {
        case e: Throwable =>
          println(s"[dumpplans] $n FAILED: ${e.getMessage}")
      }
      Tables.janitor(spark, n)
    }
    spark.stop()
  }
}
