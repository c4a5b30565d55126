package graft.devtools

import org.apache.spark.sql.SparkSession

import graft.operators.Similarity
import graft.sources.Tables

/** q203/q204/q206 escape-hatch prober (round-14 sf10 probe): the kNN
  * artifact build's candidate-volume guard refuses replication-
  * densified synthetic corpora (the unguarded sf10 build spilled
  * >60 GB). This main runs the SAME build with a deliberately raised
  * ceiling and a broadcast threshold wide enough for the vector table
  * (the size gate then plans map-side lookups instead of sorting the
  * candidate stream with embedding payloads), and reports edges +
  * wall time. The artifacts are keyed on the embeddings mtime, the
  * (k, bands, bits) dial and the build fingerprint, not on the
  * candidate ceiling, so a successful dialed build is then served to
  * q203/q204/q206 verbatim by the same build — the registered queries
  * complete at sf10 against the identical index.
  *
  * Usage: `runMain graft.devtools.SoakKnn <sfDir> [maxCandPairs]
  *   [broadcastMB]`
  */
object SoakKnn {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/tmp/sf10")
    val cap = args.drop(1).headOption.map(_.toLong)
      .getOrElse(1024L * 1000 * 1000)
    val bMb = args.drop(2).headOption.map(_.toInt).getOrElse(256)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Tables.graftSession(SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-soakknn")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.autoBroadcastJoinThreshold", s"${bMb}MB")
      .config("spark.ui.enabled", "false"))
    spark.sparkContext.setLogLevel("ERROR")
    val t0 = System.nanoTime()
    val n = Similarity.mutualKnnGraph(spark, sfDir,
      maxCandPairs = cap).count()
    val tAll = (System.nanoTime() - t0) / 1e9
    println(s"""{"sfDir":"$sfDir","maxCandPairs":$cap,"edges":$n,""" +
      s""""totalSec":${math.rint(tAll * 100) / 100}}""")
    spark.stop()
  }
}
