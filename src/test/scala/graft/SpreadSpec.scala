package graft

import graft.sources.Tables
import org.apache.spark.DefaultParallelism
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

/** The [[Tables.spread]] contract: a no-op on inputs already split
  * `defaultParallelism` ways; otherwise exactly `defaultParallelism`
  * partitions from a hash exchange over every column, holding the same
  * rows, each row in the same partition on every run and in every input
  * order (the retry determinism Spark's sort before a round-robin
  * exchange buys, here without the sort).
  */
class SpreadSpec extends SparkSpec {

  private def width = spark.sparkContext.defaultParallelism
  private def lineitem = Tables.lineitem(spark, sf0001)

  /** Each partition index of `df`'s output mapped to its row multiset. */
  private def placement(df: DataFrame): Map[Int, Map[Row, Int]] =
    df.rdd.mapPartitionsWithIndex((i, rows) => rows.map(r => (i, r)))
      .collect().toSeq.groupBy(_._1).map { case (i, rs) =>
        i -> rs.groupBy(_._2).map { case (r, same) => r -> same.size }
      }

  private def multiset(df: DataFrame): Map[Row, Int] =
    df.collect().toSeq.groupBy(identity).map { case (r, same) => r -> same.size }

  test("a frame with defaultParallelism or more partitions comes back unchanged") {
    for (n <- Seq(width, width + 3)) {
      val split = spark.range(0, 1000, 1, n).toDF("id")
      assert(Tables.spread(split) eq split, s"$n-partition frame was re-planned")
    }
    DefaultParallelism.withValue(spark.sparkContext, 6) {
      val split = spark.range(0, 1000, 1, 6).toDF("id")
      assert(Tables.spread(split) eq split,
        "6 partitions at defaultParallelism 6 must be left alone")
    }
  }

  test("a one-partition frame comes back hash-spread to defaultParallelism") {
    assert(lineitem.rdd.getNumPartitions === 1, "fixture should be one split")
    // a dotted name resolves too: every column goes into the hash
    val in = lineitem.withColumnRenamed("l_tax", "l.tax")
    val out = Tables.spread(in)
    assert(out.rdd.getNumPartitions === width)
    val exchanges = out.queryExecution.sparkPlan.collect {
      case e: ShuffleExchangeExec => e.outputPartitioning }
    exchanges match {
      case Seq(h: HashPartitioning) =>
        assert(h.numPartitions === width)
        assert(h.references.map(_.name).toSet === in.columns.toSet)
      case other => fail(s"expected one hash exchange, got $other")
    }
    DefaultParallelism.withValue(spark.sparkContext, 6) {
      assert(Tables.spread(lineitem).rdd.getNumPartitions === 6)
    }
  }

  test("the spread holds the input's rows, balanced even on a low-cardinality first column") {
    // l_returnflag has 3 values: a key-only hash would fill 3 partitions
    val in = lineitem.select("l_returnflag", "l_linestatus", "l_orderkey",
      "l_linenumber", "l_quantity")
    val placed = placement(Tables.spread(in))
    val merged = placed.values.flatten.groupMapReduce(_._1)(_._2)(_ + _)
    assert(merged === multiset(in))
    val sizes = (0 until width).map(i => placed.get(i).fold(0)(_.values.sum))
    val mean = sizes.sum.toDouble / width
    assert(sizes.forall(_ > 0) && sizes.max <= 2 * mean,
      s"unbalanced spread: partition sizes $sizes")
  }

  test("each row lands in the same partition on every run and in every input order") {
    val li = lineitem
    val first = placement(Tables.spread(li))
    assert(placement(Tables.spread(li)) === first)
    // a retried task may see its input in another order
    val reversed = li.orderBy(li.columns.map(c => li.col(c).desc).toIndexedSeq: _*)
      .coalesce(1)
    assert(reversed.rdd.getNumPartitions === 1)
    assert(placement(Tables.spread(reversed)) === first)
  }

  test("writeParquetFiles writes the input rows as exactly nFiles files") {
    val dir = java.nio.file.Files.createTempDirectory("graft_files").toString
    def files(p: String) = new java.io.File(p).listFiles()
      .count(_.getName.endsWith(".parquet"))
    val in = lineitem.select("l_orderkey", "l_linenumber", "l_quantity")
    for (n <- Seq(1, 4)) {
      val path = s"$dir/n$n"
      Tables.writeParquetFiles(in, path, n)
      assert(files(path) === n)
      assert(multiset(spark.read.parquet(path)) === multiset(in))
    }
  }
}
