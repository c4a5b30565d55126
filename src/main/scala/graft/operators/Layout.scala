package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Data-layout operators: multidimensional clustering keys for write-time
  * file organization. Sorting (or range-partitioning) a 100 TB table by a
  * Z-value over its two hottest filter columns gives parquet min/max
  * file skipping on BOTH dimensions at once — the lakehouse OPTIMIZE
  * ZORDER idea, reduced to a pure column expression any writer can use
  * with `repartitionByRange(zCol).sortWithinPartitions(zCol)`.
  */
object Layout {

  val ZBits = 16 // bits per coordinate of the z-order value

  /** Interleave the low `ZBits` bits of two non-negative ints into a
    * Z-value (Morton code): bit i of x lands at position 2i, bit i of y
    * at 2i+1. Built from shift/and/multiply-by-power-of-two only, so it
    * is integer-exact, codegen'd, and expressible identically in any
    * ANSI engine (the [[zValueSql]] twin).
    */
  def zValue(x: Column, y: Column): Column =
    (0 until ZBits).map { i =>
      (shiftright(x, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i))) +
        (shiftright(y, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i + 1)))
    }.reduce(_ + _)

  def zValueSql(x: String, y: String): String =
    (0 until ZBits).map { i =>
      s"((($x >> $i) & 1) * ${1L << (2 * i)}" +
        s" + (($y >> $i) & 1) * ${1L << (2 * i + 1)})"
    }.mkString(" + ")

  val ZOrderTopK = 100 // orders kept by the z-ordered read

  /** Registered query: the Z-key an order-layout job would sort by —
    * customer key × order date interleaved — for the first 100 orders
    * in Z order (deterministic total order via the orderkey tiebreak).
    * In a real write path the SELECT becomes
    * `orders.repartitionByRange(col("z")).sortWithinPartitions("z")`
    * feeding the parquet sink; the query checks the key math.
    */
  def ordersZOrder(spark: SparkSession, sfDir: String): DataFrame = {
    val dateKey = date_format(col("o_orderdate"), "yyyyMMdd").cast("long")
    Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_custkey"),
        dateKey.as("date_key"),
        zValue(pmod(col("o_custkey"), lit(65536L)),
          pmod(dateKey, lit(65536L))).as("z"))
      .orderBy(col("z"), col("o_orderkey"))
      .limit(ZOrderTopK)
  }

  def ordersZOrderSql: String = {
    val dk = "CAST(strftime(o_orderdate, '%Y%m%d') AS BIGINT)"
    s"""SELECT o_orderkey, o_custkey, $dk AS date_key,
       |  ${zValueSql("(o_custkey % 65536)", s"($dk % 65536)")} AS z
       |FROM orders
       |ORDER BY z, o_orderkey
       |LIMIT $ZOrderTopK""".stripMargin
  }

  // ------------------------------------------------------------------
  // q173 — SORTED EXPORT: the ordered-parquet layout a 100 TB producer
  // writes so downstream scans get min/max data skipping on the sort
  // key. Spark's repartitionByRange samples its boundaries (fast but
  // nondeterministic → not oracle-able); this operator uses exact
  // integer EQUI-WIDTH buckets instead — bucket = least(B-1,
  // (k-min)·B div (max-min+1)) — so the layout is a pure function of
  // the data and every per-file manifest fact (row count, key bounds,
  // payload checksum) is restatable in ANSI SQL. Each bucket lands in
  // its own partition directory with rows sorted by key WITHIN the
  // file (sortWithinPartitions, pinned physically by LayoutSpec):
  // a reader's key predicate prunes directories AND row groups.
  // ------------------------------------------------------------------

  val ExportBuckets = 16 // range buckets of the sorted export

  /** Write lineitem as a bucket-partitioned, within-file-sorted parquet
    * export; returns the export directory. Rebuilt per call (delete +
    * rewrite) so a testdata regen can never serve stale files.
    */
  def writeSortedExport(spark: SparkSession, sfDir: String): String = {
    val dir = Tables.Sorted.scratch("", sfDir).getPath
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_quantity"))
    val bounds = broadcast(li.agg(min(col("l_partkey")).as("mn"),
      max(col("l_partkey")).as("mx")))
    li.crossJoin(bounds)
      .withColumn("bucket", least(lit(ExportBuckets - 1),
        expr(s"(l_partkey - mn) * $ExportBuckets div (mx - mn + 1)")))
      .drop("mn", "mx")
      .repartition(ExportBuckets, col("bucket"))
      .sortWithinPartitions("bucket", "l_partkey", "l_orderkey",
        "l_linenumber")
      .write.mode("overwrite").partitionBy("bucket").parquet(dir)
    dir
  }

  /** Registered q173: write the sorted export, read it BACK, and emit
    * the per-bucket manifest — row count, key bounds, exact quantity
    * checksum (cents BIGINT). Equality with the source-side oracle
    * proves the layout hop preserved every row and routed each to the
    * right bucket (the q118/q164 sink-fidelity discipline); the
    * within-file sort order itself is pinned physically in LayoutSpec.
    */
  def sortedExportManifest(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = writeSortedExport(spark, sfDir)
    spark.read.parquet(dir)
      .groupBy(col("bucket").cast("long").as("bucket"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("l_partkey")).as("min_key"),
        max(col("l_partkey")).as("max_key"),
        // l_quantity is DOUBLE: floor() before the integer cast —
        // Spark's double->long cast truncates where DuckDB's rounds
        sum(floor(col("l_quantity") * 100).cast("long")).cast("long")
          .as("qty_cents"))
      .orderBy("bucket")
  }

  /** The CONSUMER path of the sorted export: a key-range read. The
    * bucket is a derived column, so a raw `l_partkey BETWEEN lo AND hi`
    * predicate alone cannot prune partition directories — the reader
    * must translate the key range into its bucket range first (the
    * exact equi-width formula makes that a pure computation, no data
    * scan). With the `bucket IN (...)` predicate attached, Spark's
    * partition pruning skips every other directory at planning time
    * and the parquet min/max row-group stats (rows are key-sorted
    * within files) prune the rest. PlanSpec pins the directory-level
    * pruning.
    */
  def readSortedExportRange(spark: SparkSession, dir: String, lo: Long,
      hi: Long, mn: Long, mx: Long): DataFrame = {
    // A request entirely outside [mn, mx] is an empty read by
    // definition — return it as one instead of letting the bucket
    // arithmetic go negative (hi < mn would otherwise produce a
    // nonsensical bucket window that only the key filter rescues).
    if (hi < mn || lo > mx || lo > hi)
      return spark.read.parquet(dir).filter(lit(false))
    def bucketOf(k: Long): Long =
      math.max(0L,
        math.min(ExportBuckets - 1L, (k - mn) * ExportBuckets / (mx - mn + 1)))
    val bLo = bucketOf(math.max(lo, mn))
    val bHi = bucketOf(math.min(hi, mx))
    spark.read.parquet(dir)
      .filter(col("bucket").isin((bLo.toInt to bHi.toInt): _*) &&
        col("l_partkey").between(lo, hi))
  }

  /** q187 — the BUCKETED CO-LOCATED JOIN as a driver-checked query
    * (SURVEY.md §2 J4's join half; until now pinned only in PlanSpec):
    * both join sides are written `bucketBy(16, k).sortBy(k)` — the
    * shuffle paid ONCE at write time — and the recurring fact⋈orders
    * join then plans as a zero-Exchange sort-merge join over matching
    * buckets, which the query REQUIRES on its own physical plan (with
    * the broadcast gate forced off so the planner cannot dodge the
    * claim by broadcasting the small side at test scale). At 100 TB
    * this is the difference between re-shuffling 100 TB nightly and
    * reading pre-bucketed parquet: the one unavoidable exchange in a
    * recurring star build, amortized to zero.
    *
    * The rollup output is integer-exact cents, restated by the oracle
    * from the raw tables — proving the bucketed write+join preserved
    * every row, not just planned prettily.
    */
  def bucketedJoinRollup(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.sources.{Bucketing, Tables}
    // table names carry BOTH SOURCE MTIMES (Tables.sourceMtime: a
    // missing source fails loudly): a testdata regen of either side gets
    // fresh tables, while repeat runs in one session (Bench's two
    // passes) reuse the already-written buckets — the
    // write-once/join-forever economics this operator exists to
    // demonstrate. The bucket spec lives in the session catalog, so the
    // reuse guard is the catalog, not a freshStagedDir marker: the files
    // alone cannot be reused by another JVM.
    val pk = Tables.pathKey(sfDir)
    val key = Seq("lineitem", "orders")
      .map(t => Tables.sourceMtime(new java.io.File(sfDir, s"$t.parquet")))
      .mkString(s"${pk}_", "_", "")
    val lt = s"graft_b_li_$key"
    val ot = s"graft_b_ord_$key"
    if (!spark.catalog.tableExists(lt) || !spark.catalog.tableExists(ot)) {
      // before writing, drop every table this sfDir left under the
      // warehouse dir (older source mtimes included), so the warehouse
      // holds one pair per sfDir
      val wh = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"))
      val fs = wh.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val left = if (!fs.exists(wh)) Seq.empty[String]
        else fs.listStatus(wh).toSeq.map(_.getPath.getName).filter(n =>
          n.startsWith(s"graft_b_li_${pk}_") || n.startsWith(s"graft_b_ord_${pk}_"))
      (left ++ Seq(lt, ot)).distinct.foreach { t =>
        graft.etl.Catalog.dropTable(spark, t)
        graft.etl.Catalog.deletePath(spark,
          new org.apache.hadoop.fs.Path(wh, t).toString)
      }
      Bucketing.writeBucketed(Tables.lineitem(spark, sfDir)
        .select(col("l_orderkey").as("k"), col("l_returnflag"),
          col("l_quantity")), lt, "k", 16)
      Bucketing.writeBucketed(Tables.orders(spark, sfDir)
        .select(col("o_orderkey").as("k"), col("o_totalprice")), ot, "k", 16)
    }
    val joined = Tables.withConfs(spark,
        "spark.sql.autoBroadcastJoinThreshold" -> Some("-1")) {
      val j = Bucketing.coLocatedJoin(spark, lt, ot, "k")
      val p = j.queryExecution.sparkPlan.toString
      require(!p.contains("Exchange"),
        s"bucketed join planned a shuffle - co-location broken:\n$p")
      j
    }
    joined.groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(floor(col("l_quantity") * 100).cast("long")).cast("long")
          .as("qty_cents"),
        sum(floor(col("o_totalprice") * 100).cast("long")).cast("long")
          .as("price_cents"))
      .orderBy("l_returnflag")
  }

  /** Oracle for [[bucketedJoinRollup]]: the plain join from the raw
    * tables — equality proves bucketed write + co-located join fidelity.
    */
  val bucketedJoinRollupSql: String =
    """SELECT l_returnflag, COUNT(*) AS n,
      |  CAST(SUM(CAST(floor(l_quantity * 100) AS BIGINT)) AS BIGINT)
      |    AS qty_cents,
      |  CAST(SUM(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |    AS price_cents
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY 1
      |ORDER BY l_returnflag""".stripMargin

  def sortedExportManifestSql: String =
    s"""WITH b AS (
       |  SELECT least($ExportBuckets - 1,
       |           (l_partkey - (SELECT min(l_partkey) FROM lineitem))
       |             * $ExportBuckets
       |             // ((SELECT max(l_partkey) FROM lineitem)
       |                - (SELECT min(l_partkey) FROM lineitem) + 1))
       |           AS bucket,
       |         l_partkey, l_quantity
       |  FROM lineitem)
       |SELECT CAST(bucket AS BIGINT) AS bucket,
       |  COUNT(*) AS n_rows,
       |  CAST(MIN(l_partkey) AS BIGINT) AS min_key,
       |  CAST(MAX(l_partkey) AS BIGINT) AS max_key,
       |  CAST(SUM(CAST(floor(l_quantity * 100) AS BIGINT)) AS BIGINT)
       |    AS qty_cents
       |FROM b
       |GROUP BY bucket
       |ORDER BY bucket""".stripMargin
}
