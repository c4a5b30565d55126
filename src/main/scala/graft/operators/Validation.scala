package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Data-quality / validation operators (SURVEY.md §2 group K) — the
  * reference's only "tests" (`scripts/generate_data.py:286-309`,
  * `data/validation_report.txt`): row counts per table, FK referential
  * integrity via anti-join, null-cell totals.
  *
  * All checks are single-pass aggregations: the null audit computes every
  * per-column null count in ONE scan of each table (no per-column jobs),
  * and the FK checks are anti-joins whose dim side broadcasts only while
  * it fits ([[Joins.broadcastIfSmall]]) — at 100 TB each check costs one
  * fact scan plus, for the orders FK, a shuffle anti-join.
  */
object Validation {

  /** K1 — row counts per table (`scripts/generate_data.py:286-291`). */
  def rowCounts(spark: SparkSession, sfDir: String): DataFrame = {
    val names = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem")
    names.map { n =>
      Tables.load(spark, sfDir, n)
        .agg(count(lit(1)).as("n_rows"))
        .select(lit(n).as("table_name"), col("n_rows"))
    }.reduce(_.unionByName(_)).orderBy("table_name")
  }

  val rowCountsSql: String =
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem")
      .map(n => s"SELECT '$n' AS table_name, COUNT(*) AS n_rows FROM $n")
      .mkString("", "\nUNION ALL\n", "\nORDER BY table_name")

  /** K2 — FK referential integrity (anti-join counts; C6/E7;
    * `scripts/generate_data.py:299-304`). Expected 0 bad rows each.
    *
    * The dim side is size-gated, not hard-hinted: orders/part scale with
    * the dataset, and at 100 TB the orders key set does not fit a
    * broadcast — the check must degrade to a shuffle anti-join (which
    * AQE further prunes with a runtime bloom filter on the fact side).
    */
  def fkIntegrity(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
    def orphans(name: String, dim: DataFrame, factKey: String,
        dimKey: String): DataFrame =
      li.join(Joins.broadcastIfSmall(dim), col(factKey) === col(dimKey),
          "left_anti")
        .agg(count(lit(1)).as("bad_rows"))
        .select(lit(name).as("fk_check"), col("bad_rows"))
    orphans("lineitem_orders", Tables.orders(spark, sfDir)
        .select("o_orderkey"), "l_orderkey", "o_orderkey")
      .unionByName(orphans("lineitem_part", Tables.part(spark, sfDir)
        .select("p_partkey"), "l_partkey", "p_partkey"))
      .unionByName(orphans("lineitem_supplier", Tables.supplier(spark, sfDir)
        .select("s_suppkey"), "l_suppkey", "s_suppkey"))
      .orderBy("fk_check")
  }

  val fkIntegritySql: String =
    """SELECT 'lineitem_orders' AS fk_check, COUNT(*) AS bad_rows
      |FROM lineitem WHERE NOT EXISTS
      |  (SELECT 1 FROM orders WHERE o_orderkey = l_orderkey)
      |UNION ALL
      |SELECT 'lineitem_part', COUNT(*) FROM lineitem WHERE NOT EXISTS
      |  (SELECT 1 FROM part WHERE p_partkey = l_partkey)
      |UNION ALL
      |SELECT 'lineitem_supplier', COUNT(*) FROM lineitem WHERE NOT EXISTS
      |  (SELECT 1 FROM supplier WHERE s_suppkey = l_suppkey)
      |ORDER BY fk_check""".stripMargin

  /** IQR outlier audit (K-family extension): per return flag, count
    * line prices outside [q1 − 1.5·IQR, q3 + 1.5·IQR] — the classic
    * box-plot fence a data-quality gate applies before training-set
    * inclusion. Two passes: a scale-safe exact-quartile aggregate
    * ([[Features.groupPercentiles]] — value-grain collapse + prefix
    * sum, no percentile buffer over fact rows) to a flag-grain fence
    * table (bounded by the flag domain → broadcasts), then one fact
    * scan counting violations. The fence arithmetic is written with
    * the identical expression tree on both sides (q1 − 1.5·(q3−q1)),
    * so the IEEE doubles agree bit-exact.
    */
  def outlierAudit(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
    val fences = Features.groupPercentiles(
      li.select(col("l_returnflag"), col("l_extendedprice")),
      Seq("l_returnflag"), "l_extendedprice",
      Seq("q1" -> 0.25, "q3" -> 0.75))
    val lo = col("q1") - lit(1.5) * (col("q3") - col("q1"))
    val hi = col("q3") + lit(1.5) * (col("q3") - col("q1"))
    li.join(Joins.broadcastIfSmall(fences), Seq("l_returnflag"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_rows"),
        sum((col("l_extendedprice") < lo || col("l_extendedprice") > hi)
          .cast("long")).as("n_outliers"))
      .orderBy("l_returnflag")
  }

  val outlierAuditSql: String =
    s"""WITH q AS (
      |  ${Features.groupPercentilesSql("lineitem", Seq("l_returnflag"),
             "l_extendedprice", Seq("q1" -> 0.25, "q3" -> 0.75))})
      |SELECT l.l_returnflag, COUNT(*) AS n_rows,
      |  CAST(SUM(CASE WHEN l_extendedprice < q1 - 1.5 * (q3 - q1)
      |                  OR l_extendedprice > q3 + 1.5 * (q3 - q1)
      |           THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
      |FROM lineitem l JOIN q ON l.l_returnflag = q.l_returnflag
      |GROUP BY l.l_returnflag
      |ORDER BY l.l_returnflag""".stripMargin

  /** K3/F9 — null-cell totals per table (`scripts/generate_data.py:294-296`):
    * sum over all columns of null indicators, one scan per table.
    */
  def nullAudit(spark: SparkSession, sfDir: String): DataFrame = {
    val names = Seq("customer", "supplier", "part", "orders", "lineitem")
    names.map { n =>
      val df = Tables.load(spark, sfDir, n)
      val nullCells = df.columns
        .map(c => sum(col(c).isNull.cast("long")))
        .reduce(_ + _)
      df.agg(nullCells.as("null_cells"))
        .select(lit(n).as("table_name"), col("null_cells"))
    }.reduce(_.unionByName(_)).orderBy("table_name")
  }

  val nullAuditSql: String = {
    def tbl(n: String, cols: Seq[String]): String = {
      val expr = cols
        .map(c => s"SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"SELECT '$n' AS table_name, CAST($expr AS BIGINT) AS null_cells FROM $n"
    }
    Seq(
      tbl("customer", Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal",
        "c_mktsegment")),
      tbl("supplier", Seq("s_suppkey", "s_name", "s_nationkey", "s_acctbal")),
      tbl("part", Seq("p_partkey", "p_name", "p_brand", "p_type", "p_size",
        "p_retailprice")),
      tbl("orders", Seq("o_orderkey", "o_custkey", "o_orderstatus",
        "o_totalprice", "o_orderdate", "o_orderpriority")),
      tbl("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey",
        "l_linenumber", "l_quantity", "l_extendedprice", "l_discount",
        "l_tax", "l_returnflag", "l_linestatus", "l_shipdate"))
    ).mkString("", "\nUNION ALL\n", "\nORDER BY table_name")
  }

  val TombstoneMod = 97 // one customer in this many is erased

  /** Right-to-erasure (GDPR Art. 17) cascade audit: a deterministic
    * tombstone set of customers (c_custkey ≡ 0 mod `TombstoneMod`) must be
    * erased together with their orders and those orders' line items —
    * this reports, per table, how many rows the cascade removes. The
    * deletes themselves are the anti-joins of these semi-joins; the
    * audit is what a compliance pipeline logs before committing them.
    *
    * Scale shape: the tombstone set semi-joins into orders (broadcast
    * while it fits, size-gated on the customer scan it derives from);
    * the orders→lineitem cascade reuses [[Joins.bloomSemiJoin]], so the
    * lineitem scan is bloom-pruned map-side before the exact semi-join
    * shuffle — the same runtime-filter shape Spark's own DPP/runtime
    * filters use, made explicit.
    */
  def gdprErasure(spark: SparkSession, sfDir: String): DataFrame = {
    val cust = Tables.customer(spark, sfDir)
    val orders = Tables.orders(spark, sfDir)
    val li = Tables.lineitem(spark, sfDir)
    val tomb = cust.filter(pmod(col("c_custkey"), lit(TombstoneMod)) === 0)
      .select("c_custkey")
    val deadOrders = orders
      .join(Joins.broadcastIfSmall(tomb, cust),
        col("o_custkey") === col("c_custkey"), "left_semi")
    val deadLi = Joins.bloomSemiJoin(li, "l_orderkey",
      deadOrders.select("o_orderkey"), "o_orderkey")
    def audit(name: String, total: DataFrame, dead: DataFrame): DataFrame =
      total.agg(count(lit(1)).as("rows_before"))
        .crossJoin(dead.agg(count(lit(1)).as("rows_deleted")))
        .select(lit(name).as("table_name"), col("rows_before"),
          col("rows_deleted"),
          (col("rows_before") - col("rows_deleted")).as("rows_after"))
    audit("customer", cust, tomb)
      .unionByName(audit("orders", orders, deadOrders))
      .unionByName(audit("lineitem", li, deadLi))
      .orderBy("table_name")
  }

  def gdprErasureSql: String =
    s"""WITH tomb AS (
       |  SELECT c_custkey FROM customer WHERE c_custkey % $TombstoneMod = 0),
       |dead_orders AS (
       |  SELECT o_orderkey FROM orders
       |  WHERE o_custkey IN (SELECT c_custkey FROM tomb)),
       |dead_li AS (
       |  SELECT 1 AS x FROM lineitem
       |  WHERE l_orderkey IN (SELECT o_orderkey FROM dead_orders))
       |SELECT 'customer' AS table_name,
       |  (SELECT COUNT(*) FROM customer) AS rows_before,
       |  (SELECT COUNT(*) FROM tomb) AS rows_deleted,
       |  (SELECT COUNT(*) FROM customer) - (SELECT COUNT(*) FROM tomb)
       |    AS rows_after
       |UNION ALL
       |SELECT 'orders',
       |  (SELECT COUNT(*) FROM orders),
       |  (SELECT COUNT(*) FROM dead_orders),
       |  (SELECT COUNT(*) FROM orders)
       |    - (SELECT COUNT(*) FROM dead_orders)
       |UNION ALL
       |SELECT 'lineitem',
       |  (SELECT COUNT(*) FROM lineitem),
       |  (SELECT COUNT(*) FROM dead_li),
       |  (SELECT COUNT(*) FROM lineitem) - (SELECT COUNT(*) FROM dead_li)
       |ORDER BY table_name""".stripMargin

  /** Cross-source daily reconciliation via FULL OUTER join: order
    * revenue per day vs event volume per day, with a presence flag
    * showing which source is missing the date — the standard "do the
    * warehouse and the clickstream agree on what days exist" audit.
    * Both inputs aggregate to day grain BEFORE the join, so the full
    * outer join (sort-merge at scale) carries one row per day per
    * side, not raw facts. Metrics are coalesced to 0 rather than left
    * NULL: nullable-int columns decay to float64 in pandas and the
    * presence flag already encodes missingness.
    */
  def dailyReconcile(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("revd"),
        count(lit(1)).as("n_ord"))
    val e = Tables.events(spark, sfDir)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n_ev"))
    o.join(e, Seq("day"), "full_outer")
      .select(col("day"),
        coalesce(col("revd").cast("double"), lit(0.0)).as("order_revenue"),
        coalesce(col("n_ord"), lit(0L)).as("n_orders"),
        coalesce(col("n_ev"), lit(0L)).as("n_events"),
        when(col("n_ord").isNotNull && col("n_ev").isNotNull, lit("both"))
          .when(col("n_ord").isNull, lit("events_only"))
          .otherwise(lit("orders_only")).as("presence"))
      .orderBy("day")
  }

  val dailyReconcileSql: String =
    """WITH o AS (
      |  SELECT CAST(o_orderdate AS DATE) AS day,
      |    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS revd,
      |    COUNT(*) AS n_ord
      |  FROM orders GROUP BY 1),
      |e AS (
      |  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
      |    COUNT(*) AS n_ev
      |  FROM events GROUP BY 1)
      |SELECT COALESCE(o.day, e.day) AS day,
      |  CAST(COALESCE(revd, 0) AS DOUBLE) AS order_revenue,
      |  CAST(COALESCE(n_ord, 0) AS BIGINT) AS n_orders,
      |  CAST(COALESCE(n_ev, 0) AS BIGINT) AS n_events,
      |  CASE WHEN o.day IS NOT NULL AND e.day IS NOT NULL THEN 'both'
      |       WHEN o.day IS NULL THEN 'events_only'
      |       ELSE 'orders_only' END AS presence
      |FROM o FULL OUTER JOIN e ON o.day = e.day
      |ORDER BY day""".stripMargin

  /** q193 — ORDER-INDEPENDENT content checksums per table: the
    * replication/migration verification primitive ("did every row
    * survive the copy, cell-exactly?") that row counts (q12) and daily
    * sums (q111) cannot give. Each row is serialized CANONICALLY
    * (integer keys as decimal strings, money floor-quantized to cents,
    * timestamps at epoch-microsecond grain — the three renderings both
    * engines produce byte-identically), hashed to a portable md5-60,
    * and folded with two order-free combiners: XOR (cheap, flips on
    * any single-row change) and an exact wide SUM taken mod 2^59
    * (catches the paired/duplicated changes XOR cancels). Any engine
    * with md5 reproduces the fingerprint bit-for-bit — which is the
    * point: source and destination need not share a runtime.
    *
    * Scale shape: embarrassingly parallel — one narrow projection per
    * table, map-side partial XOR/SUM, a 1-row exchange each.
    */
  def tableChecksums(spark: SparkSession, sfDir: String): DataFrame = {
    val h = (s: String) => graft.operators.TextAnalysis.md5Hash60(expr(s))
    def one(name: String, df: DataFrame, rowExpr: String): DataFrame =
      df.select(h(rowExpr).as("h"))
        .agg(count(lit(1)).as("n_rows"),
          expr("bit_xor(h)").cast("long").as("xor_h"),
          (sum(col("h").cast("decimal(38,0)")) %
            lit(576460752303423488L)).cast("long").as("sum_h_mod"))
        .select(lit(name).as("table_name"), col("n_rows"),
          col("xor_h"), col("sum_h_mod"))
    one("orders", Tables.orders(spark, sfDir),
      """concat_ws('|', o_orderkey, o_custkey, o_orderstatus,
        |CAST(floor(o_totalprice * 100) AS BIGINT),
        |unix_micros(o_orderdate), o_orderpriority)""".stripMargin)
      .unionByName(one("lineitem", Tables.lineitem(spark, sfDir),
        """concat_ws('|', l_orderkey, l_partkey, l_suppkey, l_linenumber,
          |CAST(floor(l_quantity * 100) AS BIGINT),
          |CAST(floor(l_extendedprice * 100) AS BIGINT),
          |CAST(floor(l_discount * 100) AS BIGINT),
          |CAST(floor(l_tax * 100) AS BIGINT),
          |l_returnflag, l_linestatus, unix_micros(l_shipdate))""".stripMargin))
      .unionByName(one("events", Tables.events(spark, sfDir),
        """concat_ws('|', event_id, user_id, event_type,
          |CAST(floor(value * 100) AS BIGINT), unix_micros(ts))""".stripMargin))
      .orderBy("table_name")
  }

  /** Oracle for [[tableChecksums]]: the identical canonical rendering,
    * hash, and folds — epoch_us == unix_micros, `//`-free (no division
    * anywhere), the modulus an exact power of two (2^59) so HUGEINT
    * and DECIMAL(38,0) agree.
    */
  val tableChecksumsSql: String = {
    def row(cols: String) = s"md5(concat_ws('|', $cols))"
    def hash(cols: String) =
      s"CAST(('0x' || substr(${row(cols)}, 1, 15)) AS BIGINT)"
    def one(name: String, table: String, cols: String) =
      s"""SELECT '$name' AS table_name,
         |  CAST(COUNT(*) AS BIGINT) AS n_rows,
         |  CAST(bit_xor(${hash(cols)}) AS BIGINT) AS xor_h,
         |  CAST(SUM(CAST(${hash(cols)} AS HUGEINT)) % 576460752303423488
         |    AS BIGINT) AS sum_h_mod
         |FROM $table""".stripMargin
    Seq(
      one("orders", "orders",
        """o_orderkey, o_custkey, o_orderstatus,
          |CAST(floor(o_totalprice * 100) AS BIGINT),
          |epoch_us(CAST(o_orderdate AS TIMESTAMP)),
          |o_orderpriority""".stripMargin),
      one("lineitem", "lineitem",
        """l_orderkey, l_partkey, l_suppkey, l_linenumber,
          |CAST(floor(l_quantity * 100) AS BIGINT),
          |CAST(floor(l_extendedprice * 100) AS BIGINT),
          |CAST(floor(l_discount * 100) AS BIGINT),
          |CAST(floor(l_tax * 100) AS BIGINT),
          |l_returnflag, l_linestatus,
          |epoch_us(CAST(l_shipdate AS TIMESTAMP))""".stripMargin),
      one("events", "events",
        """event_id, user_id, event_type,
          |CAST(floor(value * 100) AS BIGINT),
          |epoch_us(CAST(ts AS TIMESTAMP))""".stripMargin))
      .mkString("", "\nUNION ALL\n", "\nORDER BY table_name")
  }
}
