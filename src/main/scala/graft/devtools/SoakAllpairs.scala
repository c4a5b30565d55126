package graft.devtools

import org.apache.spark.sql.SparkSession

import graft.operators.Dedup
import graft.sources.Tables

/** q185 escape-hatch prober (round-13 sf3 sweep): the candidate-volume
  * guard refuses the deliberately near-dup-dense synthetic sf3 corpus
  * at the shipped ceiling (measured 1097.3 candidates/doc > 1024).
  * This main runs the SAME query with a deliberately raised
  * `maxCandPerDoc` — the action the guard's message prescribes — and
  * reports rows + wall time, so SOAK.md can state that the refusal is
  * a dial, not a wall.
  *
  * Usage: `runMain graft.devtools.SoakAllpairs <sfDir> [maxCandPerDoc]`
  */
object SoakAllpairs {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/tmp/sf3")
    val cap = args.drop(1).headOption.map(_.toLong).getOrElse(2048L)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Tables.graftSession(SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-soakallpairs")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false"))
    spark.sparkContext.setLogLevel("ERROR")
    val t0 = System.nanoTime()
    val docs = Tables.spread(Tables.documents(spark, sfDir))
    val n = Dedup.allPairsJaccardOn(docs, maxCandPerDoc = cap).count()
    val tAll = (System.nanoTime() - t0) / 1e9
    println(s"""{"sfDir":"$sfDir","maxCandPerDoc":$cap,"pairs":$n,""" +
      s""""totalSec":${math.rint(tAll * 100) / 100}}""")
    spark.stop()
  }
}
