package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session; suites
  * grab it lazily so sbt test forks once).
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sf0001 = "/root/testdata/sf0.001"
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = graft.sources.Tables.graftSession(SparkSession.builder()
      .master("local[16]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false"))
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
