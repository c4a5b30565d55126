package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Cast, EvalMode, MakeDecimal, NumericEvalContext}
import org.apache.spark.sql.catalyst.expressions.aggregate.Sum
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.{toColumn, toExpression}
import org.apache.spark.sql.types.LongType

import graft.functions.HllAgg
import graft.sources.Tables

/** The reference's BI insight queries (SQL Analysis docx Q1-Q4) and
  * dashboard KPI measures (Project Documentation docx §5), re-expressed
  * against the driver testdata star (FIXTURES.md role mapping).
  *
  * Money correctness strategy (SURVEY.md §7.4.3): a revenue value never
  * enters an aggregate as a double — double summation would differ
  * between Spark's partial aggregation and DuckDB's sequential sum in the
  * last ulps. Each row's revenue becomes an exact scaled integer,
  * [[revenueE4]] (a `Long` in 1e-4 currency units, equal to the DuckDB
  * oracle's `DECIMAL(18,2) × (1 − DECIMAL(4,2))` product), and
  * [[revenueSum]] adds those longs with ONE integer `Sum` under pinned
  * ANSI overflow checking — associative, partition-order independent,
  * and loud on overflow in any session. The total converts to
  * `decimal(34,4)` once, after the aggregate, so it has the type and
  * value of the oracle's decimal `SUM` while no row or aggregate buffer
  * pays the `BigDecimal` path. Final aggregate columns are then cast to
  * DOUBLE for PRESENTATION: both engines perform one correctly-rounded
  * decimal→double conversion of the same exact value, so the rendered
  * float64 is bit-identical — whereas a DECIMAL output column renders
  * differently per engine (Spark parquet → exact Decimal objects, DuckDB
  * fetchdf → float64), which failed the round-1 harness hash compare on
  * every decimal-typed output.
  *
  * Every query ends in an explicit total ORDER BY (with tiebreak) so
  * results are row-order deterministic across engines.
  */
object Insights {

  /** Exact per-row revenue in decimal: extendedprice * (1 - discount),
    * with l_extendedprice rounded to DECIMAL(18,2) and l_discount to
    * DECIMAL(4,2). The definition [[revenueE4]] reproduces, and its
    * fallback for values off the cents fast path.
    */
  def revenueDec: Column =
    col("l_extendedprice").cast("decimal(18,2)") *
      (lit(1).cast("decimal(3,2)") - col("l_discount").cast("decimal(4,2)"))

  /** SQL fragment equivalent of [[revenueDec]] for the DuckDB oracle. */
  val revenueSql: String =
    "CAST(l_extendedprice AS DECIMAL(18,2)) * " +
      "(CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))"

  /** Fast-path guard of the cents kernel: `x` lies within `1e-6` cent of
    * a whole number of cents `k = rint(x·100)` and `|x| < bound`.
    *
    * Why passing it makes `rint(x·100)` equal the decimal cast's cents:
    * with `|x| < 1e9`, `x·100 < 2^37`, so the double product is within
    * half an ulp (2^-17 ≈ 7.7e-6) of the real one, and the guard puts
    * that product within 1e-6 of `k`: `|x − k/100| < 8.7e-8`. Spark
    * casts a double to decimal by rounding its decimal string
    * (`Double.toString`) HALF_UP; that string reads back as `x`, so it
    * is within half an ulp of `x` (< 6e-8 below 1e9) and within 1.5e-7
    * of `k/100` — far inside the half-cent (5e-3) either side — and the
    * cast yields exactly `k/100`.
    * The bound keeps `k/100` inside the narrowest target type:
    * 1e9 ≪ 1e16 for `decimal(18,2)`; 99 < 99.995 for `decimal(4,2)`.
    * NaN, ±Inf and out-of-range values fail `abs(x) < bound` (NaN sorts
    * above every double in Spark), and a null makes the guard null;
    * each takes the fallback branch, so it raises the cast's error or
    * returns its null exactly as the decimal expression does. Ties such
    * as 1.005 or 2.675 (`x·100` ≈ 100.4999…) fail the tolerance and are
    * rounded by the decimal cast itself.
    */
  private def centsGuard(x: Column, bound: Double): Column =
    abs(x) < bound && abs(x * 100 - rint(x * 100)) < 1e-6

  private def centsFast(x: Column): Column = rint(x * 100).cast("long")

  /** A price's cents as a long: `x` cast to `decimal(18,2)` (rounded
    * HALF_UP) and scaled by 100 — from `rint` when [[centsGuard]] holds,
    * else from that decimal expression itself.
    */
  def cents(x: Column): Column =
    when(centsGuard(x, 1e9), centsFast(x))
      .otherwise((x.cast("decimal(18,2)") * 100).cast("long"))

  /** [[revenueDec]] as an exact `Long` in 1e-4 currency units:
    * `cents(price) · (100 − cents(discount))`, equal to
    * `CAST(revenueDec * 10000 AS BIGINT)`. Rows off the fast path (see
    * [[centsGuard]]) compute that decimal expression itself; its cast to
    * long is ANSI whatever the session says, so a row whose 1e-4 value
    * passes `Long.MaxValue` (a 9.2e14 line) fails with `CAST_OVERFLOW`
    * where a non-ANSI session's plain cast would wrap.
    */
  def revenueE4: Column = {
    val price = col("l_extendedprice")
    val disc = col("l_discount")
    when(centsGuard(price, 1e9) && centsGuard(disc, 99.0),
        centsFast(price) * (lit(100L) - centsFast(disc)))
      .otherwise(toColumn(Cast(toExpression(revenueDec * 10000), LongType,
        None, EvalMode.ANSI)))
  }

  /** Exact `Sum` of a long column with ANSI overflow checking pinned:
    * a bare `sum(long)` follows `spark.sql.ansi.enabled` and wraps
    * silently when it is off; this one raises `ARITHMETIC_OVERFLOW` in
    * every session.
    */
  def sumE4(e4: Column): Column =
    toColumn(Sum(toExpression(e4), NumericEvalContext(EvalMode.ANSI))
      .toAggregateExpression())

  /** A 1e-4-unit long total as `decimal(34,4)`: the type of a decimal
    * `SUM` over [[revenueDec]], converted once after the aggregate.
    */
  def e4Decimal(e4Total: Column): Column =
    toColumn(MakeDecimal(toExpression(e4Total), 34, 4))

  /** The decimal `SUM` of [[revenueDec]] — same `decimal(34,4)` type,
    * same value — as one long `Sum` of [[revenueE4]] (see [[sumE4]]).
    * The long cannot pass `Long.MaxValue` before `sum·10^4` passes
    * 2^53, the limit below which the double presentation cast is exact
    * in both engines.
    */
  def revenueSum: Column = e4Decimal(sumE4(revenueE4))

  private def sumRev: Column =
    revenueSum.cast("double").as("revenue")

  val TopProducts = 5 // products kept by revenue (q01)

  /** Q1 — top-5 products by revenue (SQL Analysis docx Q1; SURVEY.md §2
    * E2+F1+G1+G3+B10). part broadcasts while it fits the session
    * threshold ([[Joins.broadcastIfSmall]] — part scales with the
    * dataset, so the hint must not be unconditional); the top-k plans as
    * TakeOrderedAndProject (no full sort of the groups).
    */
  def topProductsByRevenue(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .join(Joins.broadcastIfSmall(Tables.part(spark, sfDir)),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_name").as("product_name"))
      .agg(sumRev)
      .orderBy(desc("revenue"), asc("product_name"))
      .limit(TopProducts)

  def topProductsByRevenueSql: String =
    s"""SELECT p_name AS product_name,
       |       CAST(SUM($revenueSql) AS DOUBLE) AS revenue
       |FROM lineitem JOIN part ON l_partkey = p_partkey
       |GROUP BY p_name
       |ORDER BY revenue DESC, product_name ASC
       |LIMIT $TopProducts""".stripMargin

  /** Q2 — monthly revenue trend (SQL Analysis docx Q2; E3+F2+G2). The
    * date-dim join collapses to date-part extraction on the fact column —
    * same results, one less join (dim_date is a pure function of the
    * date; SURVEY.md §2 note under E).
    */
  def monthlyRevenue(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .groupBy(
        year(col("l_shipdate")).as("sales_year"),
        month(col("l_shipdate")).as("sales_month"))
      .agg(sumRev, count(lit(1)).as("n_sales"))
      .orderBy("sales_year", "sales_month")

  val monthlyRevenueSql: String =
    s"""SELECT CAST(year(l_shipdate) AS INT) AS sales_year,
       |       CAST(month(l_shipdate) AS INT) AS sales_month,
       |       CAST(SUM($revenueSql) AS DOUBLE) AS revenue,
       |       COUNT(*) AS n_sales
       |FROM lineitem
       |GROUP BY 1, 2
       |ORDER BY sales_year, sales_month""".stripMargin

  /** Q3 — revenue by store/region (SQL Analysis docx Q3; E4+F2+G1). The
    * store dim (supplier⋈nation⋈region) broadcasts onto the fact while
    * small (supplier scales with the dataset -> size-gated hint);
    * nation/region are fixed lookup tables and broadcast unconditionally.
    */
  def revenueByStore(spark: SparkSession, sfDir: String): DataFrame = {
    val store = Tables.supplier(spark, sfDir)
      .join(broadcast(Tables.nation(spark, sfDir)),
        col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(spark, sfDir)),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("s_suppkey"), col("s_name").as("store_name"),
        col("r_name").as("region"))
    Tables.lineitem(spark, sfDir)
      // size-gate by the SUPPLIER SCAN, not the joined dim (round-15):
      // Catalyst's join-cardinality estimate for supplier x nation x
      // region overshoots the broadcast threshold at every scale, so
      // the bare gate never fired and a ~1000-row dim was sort-merge
      // joined against the fact; the proxy is the side that actually
      // scales (guide §3.1: estimates are often badly wrong after
      // joins -- hint explicitly when you know the side is small)
      .join(Joins.broadcastIfSmall(store, Tables.supplier(spark, sfDir)),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy("store_name", "region")
      .agg(sumRev)
      .orderBy(desc("revenue"), asc("store_name"))
  }

  val revenueByStoreSql: String =
    s"""SELECT s_name AS store_name, r_name AS region,
       |       CAST(SUM($revenueSql) AS DOUBLE) AS revenue
       |FROM lineitem
       |JOIN supplier ON l_suppkey = s_suppkey
       |JOIN nation ON s_nationkey = n_nationkey
       |JOIN region ON n_regionkey = r_regionkey
       |GROUP BY s_name, r_name
       |ORDER BY revenue DESC, store_name ASC""".stripMargin

  /** Customer balance bucket, the H1 CASE-bucket analog (SQL Analysis
    * docx Q4 buckets age; testdata customers carry acctbal instead).
    * Strict `<` boundaries keep double comparisons engine-agnostic.
    */
  def balanceBucket(c: Column): Column =
    when(c < 0, "negative")
      .when(c < 2000, "0-2k")
      .when(c < 5000, "2k-5k")
      .when(c < 8000, "5k-8k")
      .otherwise("8k+")

  /** Q4 — revenue by customer-balance bucket (E5+F3+H1+G1).
    *
    * Scale shape: the fact is pre-aggregated by orderkey BEFORE the
    * orders join (partial-aggregation-below-join, which Catalyst does
    * not derive on its own) — the big-big shuffle then carries one row
    * per order instead of one per lineitem (~4x less at TPC-H shape,
    * and the ratio is the win at 100 TB). customer broadcasts onto the
    * order-grain result. Results are identical to the direct 3-way
    * join + group (the oracle states the direct form).
    */
  def revenueByBalanceBucket(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .groupBy(col("l_orderkey"))
      .agg(sumE4(revenueE4).as("order_rev_e4"), count(lit(1)).as("order_lines"))
      .join(Tables.orders(spark, sfDir).select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .join(Joins.broadcastIfSmall(Tables.customer(spark, sfDir)
          .select("c_custkey", "c_acctbal")),
        col("o_custkey") === col("c_custkey"))
      .groupBy(balanceBucket(col("c_acctbal")).as("balance_bucket"))
      .agg(e4Decimal(sumE4(col("order_rev_e4"))).cast("double").as("revenue"),
        sum(col("order_lines")).as("n_sales"))
      .orderBy(desc("revenue"), asc("balance_bucket"))

  val revenueByBalanceBucketSql: String =
    s"""SELECT CASE WHEN c_acctbal < 0 THEN 'negative'
       |            WHEN c_acctbal < 2000 THEN '0-2k'
       |            WHEN c_acctbal < 5000 THEN '2k-5k'
       |            WHEN c_acctbal < 8000 THEN '5k-8k'
       |            ELSE '8k+' END AS balance_bucket,
       |       CAST(SUM($revenueSql) AS DOUBLE) AS revenue,
       |       COUNT(*) AS n_sales
       |FROM lineitem
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |GROUP BY 1
       |ORDER BY revenue DESC, balance_bucket ASC""".stripMargin

  /** Dashboard KPI row (F4-F7): total revenue, order count, distinct
    * customers, total line count. One global aggregate over the
    * order-grain join (see the comment in the body). countDistinct is
    * exact, as the reference's KPI is;
    * [[kpiSummaryApprox]] (native HllAgg sketch — NOT the built-in
    * `approx_count_distinct`, see its scaladoc) is the knob to flip at
    * extreme cardinality.
    */
  def kpiSummary(spark: SparkSession, sfDir: String): DataFrame = {
    // Scale shape: one lineitem pass. The fact collapses to order grain
    // (1e-4-unit revenue, line count) BEFORE the one orders join, as in
    // q04, so the join and the global aggregate carry one row per order
    // and count(*) there is the order count. Only the customer KPI
    // needs a distinct, and one countDistinct per aggregate plans no
    // Expand. The inner join is the oracle's own form.
    val revenue = e4Decimal(sumE4(col("order_rev_e4"))).cast("double")
    val lines = sum(col("order_lines"))
    Tables.lineitem(spark, sfDir)
      .groupBy(col("l_orderkey"))
      .agg(sumE4(revenueE4).as("order_rev_e4"), count(lit(1)).as("order_lines"))
      .join(Tables.orders(spark, sfDir).select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .agg(
        revenue.as("total_revenue"),
        // F6 avg order amount: decimal sum -> double -> divide. Exact
        // cross-engine while sum*10^4 < 2^53 (decimal->double is a
        // single correctly-rounded conversion in both engines).
        (revenue / lines).as("avg_line_amount"),
        count(lit(1)).as("n_orders"),
        countDistinct(col("o_custkey")).as("n_customers"),
        lines.as("n_lines"))
  }

  val kpiSummarySql: String =
    s"""SELECT CAST(SUM($revenueSql) AS DOUBLE) AS total_revenue,
       |       CAST(CAST(SUM($revenueSql) AS DOUBLE) / COUNT(*) AS DOUBLE)
       |         AS avg_line_amount,
       |       COUNT(DISTINCT l_orderkey) AS n_orders,
       |       COUNT(DISTINCT o_custkey) AS n_customers,
       |       COUNT(*) AS n_lines
       |FROM lineitem
       |JOIN orders ON l_orderkey = o_orderkey""".stripMargin

  val ApproxRsd = 0.01 // relative standard deviation of the HLL distinct counts

  /** [[kpiSummary]] with the distinct-count KPIs flipped to the native
    * HLL sketch ([[graft.functions.HllAgg]]) — the extreme-cardinality
    * path the exact KPI's scaladoc points at. Exact COUNT DISTINCT must
    * shuffle every distinct key; the HLL sketch is a few KB per
    * partition, merged map-side, so the whole KPI row costs one scan and
    * a one-row exchange no matter how many distinct customers 100 TB
    * holds. rsd=0.01 ≈ ±1% — fine for a dashboard tile, not for a
    * reconciliation report (that's [[kpiSummary]]). No DuckDB oracle:
    * HLL estimates are implementation-specific, so the driver records a
    * rows-only check; the tolerance vs exact is asserted in ApproxSpec.
    *
    * NOT the built-in `approx_count_distinct`: Spark flattens HLL++
    * registers into thousands of Long buffer columns and the per-row
    * cost then scales with the register count (~25 us/row at rsd=0.01,
    * profiled round 7 — the sketch twin cost MORE than the exact KPI it
    * shadows, VERDICT r6 "What's wrong #1"). The typed-Aggregator
    * sketch keeps registers as one opaque byte array and hashes in the
    * codegen'd projection; see HllAgg's scaladoc for the numbers.
    */
  def kpiSummaryApprox(spark: SparkSession, sfDir: String): DataFrame = {
    // ONE pass for all four KPIs (round 7): HLL tolerates duplicate
    // keys, so the customer KPI needs no pre-distinct hop — join every
    // line to its order's custkey through the size-gated broadcast and
    // sketch o_custkey directly. Under the gate the whole query is one
    // scan + map-side partial aggregates + a 1-row exchange (no wide
    // shuffle at all — the former distinct+shuffle-join customer hop
    // made q45 cost the same as the exact q05 it twins, VERDICT r6);
    // above the gate Catalyst/AQE degrade the join to shuffle, which is
    // still one pass. This is the shape that wins at 100 TB.
    Tables.lineitem(spark, sfDir)
      .join(Joins.broadcastIfSmall(
          Tables.orders(spark, sfDir).select("o_orderkey", "o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .agg(
        revenueSum.cast("double").as("total_revenue"),
        HllAgg.countDistinct(col("l_orderkey"), ApproxRsd)
          .as("n_orders_approx"),
        HllAgg.countDistinct(col("o_custkey"), ApproxRsd)
          .as("n_customers_approx"),
        count(lit(1)).as("n_lines"))
      .select("total_revenue", "n_orders_approx", "n_customers_approx",
        "n_lines")
  }

  /** Exact percentile KPIs per return flag (median/p90 quantity, median
    * line price), R-7 interpolated — computed scale-safe via
    * [[Features.groupPercentiles]]: collapse to (flag, value) grain
    * first, then prefix-sum breakpoint selection. No percentile buffer
    * ever sees a fact row; per-column state is bounded by the value
    * DOMAIN (quantities are small integers, prices a bounded price
    * list). Two narrow single-column collapses replace the one
    * sort-heavy percentile agg; the 3-row results join broadcast. The
    * approximate twin for sketchable accuracy needs is
    * [[approxPercentileSummary]] (t-digest, merged map-side).
    */
  def percentileSummary(spark: SparkSession, sfDir: String): DataFrame =
    percentileSummaryOn(
      Tables.lineitem(spark, sfDir)
        .select("l_returnflag", "l_quantity", "l_extendedprice"))
      // result sort (3 return-flag rows; PresentationSort plans it as
      // one task); it lives HERE, not in percentileSummaryOn, whose
      // consumers (q119/q136) join the summary
      .orderBy("l_returnflag")

  /** [[percentileSummary]] over an explicit (l_returnflag, l_quantity,
    * l_extendedprice) frame — so multi-consumer queries (q119's
    * exact+estimate audit, q136's sweep) can stage the projected scan
    * ONCE (eager localCheckpoint) instead of re-reading the fact table
    * per consumer (guide §2.4: two operations keyed the same way share
    * one materialization).
    */
  def percentileSummaryOn(li3: DataFrame): DataFrame = {
    // ONE fact scan: stack both measure columns map-side (a 2× explode
    // is free next to a shuffle), collapse to (flag, measure, value)
    // grain, run the prefix-sum breakpoints per (flag, measure), then
    // pivot the 6 bounded rows back to the KPI layout.
    val stacked = Tables.spread(li3)
      .select(col("l_returnflag"), explode(array(
        struct(lit("qty").as("vc"),
          col("l_quantity").cast("double").as("v")),
        struct(lit("price").as("vc"),
          col("l_extendedprice").cast("double").as("v")))).as("s"))
      .select(col("l_returnflag"), col("s.vc").as("vc"), col("s.v").as("v"))
    val grain = stacked.groupBy("l_returnflag", "vc", "v")
      .agg(count(lit(1)).as("w"))
    Features.weightedPercentiles(grain, Seq("l_returnflag", "vc"),
        "v", "w", Seq("p50" -> 0.5, "p90" -> 0.9))
      .groupBy("l_returnflag")
      .agg(
        max(when(col("vc") === "qty", col("p50"))).as("median_qty"),
        max(when(col("vc") === "qty", col("p90"))).as("p90_qty"),
        max(when(col("vc") === "price", col("p50"))).as("median_price"))
  }

  val percentileSummarySql: String = {
    val qtySql = Features.groupPercentilesSql("lineitem",
      Seq("l_returnflag"), "l_quantity",
      Seq("median_qty" -> 0.5, "p90_qty" -> 0.9))
    val priceSql = Features.groupPercentilesSql("lineitem",
      Seq("l_returnflag"), "l_extendedprice",
      Seq("median_price" -> 0.5))
    s"""WITH qy AS (
       |  $qtySql),
       |pr AS (
       |  $priceSql)
       |SELECT qy.l_returnflag, median_qty, p90_qty, median_price
       |FROM qy JOIN pr ON qy.l_returnflag = pr.l_returnflag
       |ORDER BY qy.l_returnflag""".stripMargin
  }

  /** approx_percentile's accuracy dial: one of the dials q136 measured
    * bounds for (100, 1000, 10000).
    */
  val PercentileAccuracy = 10000

  /** Approximate twin of [[percentileSummary]] for the 100 TB read
    * path: `approx_percentile` (t-digest sketch, accuracy parameter =
    * 1/eps) merges map-side like any partial aggregate — constant
    * memory per group regardless of the value domain. Rows-only
    * registration (q45 contract): sketch results are
    * implementation-defined, so the oracle can't hash-match them; the
    * tolerance against the exact q49 values is asserted in ScalaTest
    * instead (ApproxSpec).
    */
  def approxPercentileSummary(spark: SparkSession, sfDir: String): DataFrame =
    approxPercentileSummaryOn(
      Tables.lineitem(spark, sfDir)
        .select("l_returnflag", "l_quantity", "l_extendedprice"),
      PercentileAccuracy)

  /** [[approxPercentileSummary]] over an explicit 3-column frame (the
    * [[percentileSummaryOn]] staging contract).
    */
  def approxPercentileSummaryOn(li3: DataFrame,
      accuracy: Int): DataFrame =
    // NO scan spread here: t-digest partials are cheap per row, and a
    // repartition exchange plus a 32-digest final merge costs more than
    // it buys (measured 0.8 -> 2.0 s at sf0.1 with the spread)
    li3
      .groupBy(col("l_returnflag"))
      .agg(
        expr(s"approx_percentile(l_quantity, 0.5, $accuracy)")
          .cast("double").as("median_qty"),
        expr(s"approx_percentile(l_quantity, 0.9, $accuracy)")
          .cast("double").as("p90_qty"),
        expr(s"approx_percentile(l_extendedprice, 0.5, $accuracy)")
          .cast("double").as("median_price"))
      .orderBy("l_returnflag")

  /** q119's REGISTERED shape (round-14, whitelist 4 → 2): the exact
    * percentile KPIs — bit-identical to q49's engine-portable R-7
    * values — PLUS an EXECUTED per-flag audit of the live t-digest
    * estimates, the q208 `probes_equal` discipline. `bound_ppm` is the
    * documented dial ceiling plus the one-value-step floor, both
    * derived from the EXACT values only, so the DuckDB oracle restates
    * them cell-exactly; `est_within_bound` compares the live
    * `approx_percentile` estimates against the exact values in-row
    * (never assumed) and the oracle pins the expected 1 — an estimate
    * drifting out of its documented tolerance hash-mismatches in
    * CORRECTNESS instead of hiding behind a rows-only row. The raw
    * estimates stay available via [[approxPercentileSummary]]
    * (tolerance-asserted in ApproxSpec).
    */
  def approxPercentileChecked(spark: SparkSession, sfDir: String): DataFrame = {
    // stage the projected fact scan ONCE for both consumers (round-15):
    // the estimate aggregate and the exact prefix-sum path each
    // re-read + re-projected lineitem from parquet (~0.7 s warm per
    // scan at sf0.1); the eager checkpoint pays one scan and both
    // subtrees read blocks
    val li3 = Tables.lineitem(spark, sfDir)
      .select("l_returnflag", "l_quantity", "l_extendedprice")
      .localCheckpoint(true)
    val est = approxPercentileSummaryOn(li3, PercentileAccuracy)
      .select(col("l_returnflag"), col("median_qty").as("e_mq"),
        col("p90_qty").as("e_pq"), col("median_price").as("e_mp"))
    percentileSummaryOn(li3).join(est, "l_returnflag")
      // dial-10000 documented ceiling (5000 ppm, q136's enumerated
      // bound) + the per-flag one-value-step floor; floor() explicit
      // so the BIGINT conversion truncates identically in both engines
      .withColumn("bound_ppm", expr(
        """5000 + CAST(floor(greatest(1e6 / median_qty,
          |  1e6 / p90_qty, 1e4 / median_price)) AS BIGINT)"""
          .stripMargin))
      .withColumn("est_within_bound", expr(
        """CAST(greatest(
          |  CAST(abs(e_mq - median_qty) * 1e6 / median_qty AS BIGINT),
          |  CAST(abs(e_pq - p90_qty) * 1e6 / p90_qty AS BIGINT),
          |  CAST(abs(e_mp - median_price) * 1e6 / median_price AS BIGINT)
          |) <= bound_ppm AS BIGINT)""".stripMargin))
      .select("l_returnflag", "median_qty", "p90_qty", "median_price",
        "bound_ppm", "est_within_bound")
      .orderBy("l_returnflag")
  }

  val approxPercentileCheckedSql: String = {
    val qtySql = Features.groupPercentilesSql("lineitem",
      Seq("l_returnflag"), "l_quantity",
      Seq("median_qty" -> 0.5, "p90_qty" -> 0.9))
    val priceSql = Features.groupPercentilesSql("lineitem",
      Seq("l_returnflag"), "l_extendedprice",
      Seq("median_price" -> 0.5))
    s"""WITH qy AS (
       |  $qtySql),
       |pr AS (
       |  $priceSql)
       |SELECT qy.l_returnflag, median_qty, p90_qty, median_price,
       |  5000 + CAST(floor(greatest(1e6 / median_qty,
       |    1e6 / p90_qty, 1e4 / median_price)) AS BIGINT) AS bound_ppm,
       |  CAST(1 AS BIGINT) AS est_within_bound
       |FROM qy JOIN pr ON qy.l_returnflag = pr.l_returnflag
       |ORDER BY qy.l_returnflag""".stripMargin
  }

  /** q136 — sketch-accuracy sweep: the measurement query for the approx
    * twins' accuracy dials (the q121 pattern applied to q45's HLL rsd
    * and q119's t-digest accuracy). One row per (sketch, dial):
    * `state_units` (the cost the dial buys accuracy with — nominal HLL
    * register count (1.04/rsd)², or the t-digest centroid budget) and
    * `max_err_ppm`, the worst relative error vs the EXACT q05/q49
    * values across all KPI cells, in integer parts-per-million.
    *
    * Scan economy: the HLL dials share ONE aggregate per key family
    * (opaque byte-array state, cheap to co-locate); the t-digest dials
    * run one 3-sketch aggregate EACH (co-locating all 9 digests in one
    * buffer measured superlinear — see the inline note). Rows-only
    * registration (q45/q119/q120 contract — sketch estimates are
    * implementation-specific); ApproxSpec asserts the shipped defaults
    * sit on the knee of the measured curve.
    */
  def sketchAccuracySweep(spark: SparkSession, sfDir: String): DataFrame = {
    val hllDials = Seq(0.05, 0.02, 0.01) // q45 default rsd = 0.01
    val tdDials = Seq(100, 1000, 10000)  // q119 default accuracy = 10000
    // ONE staged projection feeds every lineitem consumer (round-15):
    // the sweep previously re-read + re-projected the fact table six
    // times (3 t-digest dial aggs + the exact percentile path + both
    // HLL key aggs) at ~0.7 s warm per parquet scan; the eager
    // checkpoint pays one scan and all consumers read blocks. The
    // per-dial AGGREGATES stay separate by measured necessity
    // (ObjectHashAggregate superlinearity, see the t-digest note) —
    // only the scan is shared.
    val li = Tables.lineitem(spark, sfDir)
      .select("l_returnflag", "l_quantity", "l_extendedprice",
        "l_orderkey")
      .localCheckpoint(true)
    def dialCol(rsd: Double): String =
      s"a_${math.round(rsd * 1000000)}"
    // ---- HLL family: n_orders (lineitem grain) + n_customers (via the
    // orders hop q45 uses), exact twins in the same aggs. The sketch
    // under measurement is the NATIVE HllAgg q45 actually ships (not
    // the built-in — see kpiSummaryApprox's scaladoc for why), so the
    // sweep grades the production estimator. The exact reference counts
    // ride in the same aggregates as codegen'd count-distincts; HllAgg's
    // object-state buffer doesn't hit the built-in's distinct-rewrite
    // trap (partial HLL register rows per key) because the typed
    // aggregator state is one opaque cell, but keeping the exact count
    // as countDistinct in the same agg still plans an Expand — so the
    // sweep measures on the DISTINCT-key grain instead: HLL is
    // duplicate-insensitive (estimates identical on distinct keys), and
    // count(1) over the grain is the exact answer. One codegen'd key
    // shuffle each, paid only because the sweep must compute the exact
    // answer too; q45's production path stays raw-grain one-pass.
    val ordAgg = li.select("l_orderkey").distinct.agg(
      count(lit(1)).as("xo"),
      hllDials.map(r =>
        HllAgg.countDistinct(col("l_orderkey"), r).as("o" + dialCol(r))): _*)
    val custKeys = li.select("l_orderkey")
      .join(Joins.broadcastIfSmall(
          Tables.orders(spark, sfDir).select("o_orderkey", "o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
    val custAgg = custKeys.select("o_custkey").distinct.agg(
      count(lit(1)).as("xc"),
      hllDials.map(r =>
        HllAgg.countDistinct(col("o_custkey"), r).as("c" + dialCol(r))): _*)
    def hllRowsOf(hllBase: DataFrame) = hllDials.map { r =>
      val d = dialCol(r)
      val regs = HllAgg.registersForRsd(r)
      hllBase.select(
        lit("hll_count_distinct").as("sketch"),
        lit(math.round(r * 1000000)).as("dial"),
        lit(regs).as("state_units"),
        expr(s"""greatest(abs(o$d - xo) * 1000000 div xo,
                |         abs(c$d - xc) * 1000000 div xc)""".stripMargin)
          .cast("long").as("max_err_ppm"),
        // documented per-dial ceiling: 3·rsd (the 3-sigma band of the
        // HLL++ estimator) in ppm — the in-row bound the q137
        // self-oracle discipline asks each dial row to carry
        lit(math.round(3 * r * 1000000)).as("bound_ppm"),
        // engine-portable exact companions (round-14 partial oracle):
        // the true distinct counts the dials estimate, hash-checked by
        // DuckDB; step_ppm is a t-digest-family concept, 0 here
        col("xo").cast("long").as("exact_orders"),
        col("xc").cast("long").as("exact_customers"),
        lit(0L).as("step_ppm"))
    }
    // ---- t-digest family: q119's 3 percentile KPIs per return flag,
    // one aggregate PER DIAL, joined to the exact q49 values. Not one
    // 9-sketch aggregate: co-locating every dial's digests in a single
    // ObjectHashAggregate buffer measured SUPERLINEAR in sketches (9
    // sketches 18.9 s at sf1 vs 3 sketches 2.9 s — buffer memory
    // pressure in the partials plus a single-task final merging
    // 26 partials x 9 digests serially). Per-dial aggs re-scan, but a
    // scan is the cheap part of a diagnostics sweep (~0.4 s of 46 s)
    // and each dial's final merge handles 3 digests, not 9.
    val tdAggs = tdDials.map { a =>
      li.select("l_returnflag", "l_quantity", "l_extendedprice")
        .groupBy(col("l_returnflag")) // reads the staged checkpoint
        .agg(
          expr(s"approx_percentile(l_quantity, 0.5, $a)")
            .cast("double").as(s"mq_$a"),
          expr(s"approx_percentile(l_quantity, 0.9, $a)")
            .cast("double").as(s"pq_$a"),
          expr(s"approx_percentile(l_extendedprice, 0.5, $a)")
            .cast("double").as(s"mp_$a"))
    }
    val tdAgg = tdAggs.reduce(_.join(_, "l_returnflag"))
    val exact = percentileSummaryOn(
        li.select("l_returnflag", "l_quantity", "l_extendedprice"))
      .select(col("l_returnflag"), col("median_qty").as("x_mq"),
        col("p90_qty").as("x_pq"), col("median_price").as("x_mp"))
    // materialize the 1-row HLL all-dials frame ONCE (eager, tiny): the
    // per-dial selects would otherwise each re-run both scans.
    // Round-15: launched on a separate driver thread so the HLL
    // materialization OVERLAPS the independent t-digest/exact one
    // (guide §2.6 — actions are only sequential because the driver
    // calls them sequentially; the scheduler is thread-safe and job
    // descriptions are thread-local). Serial before: ~1 s HLL + ~2.5 s
    // digest/exact; overlapped they cost max(), not sum().
    val (hllBase, joined) = Tables.overlapped(spark, threads = 1) { ov =>
      val hllBaseF = ov.submit("q136: hll dials")(
        ordAgg.crossJoin(custAgg).localCheckpoint(true))
      // same once-only materialization for the |flags|-row frame
      val joined = tdAgg.join(exact, "l_returnflag").localCheckpoint(true)
      (hllBaseF.get(), joined)
    }
    val hllRows = hllRowsOf(hllBase)
    val tdRows = tdDials.map { a =>
      joined.agg(
        max(expr(
          s"""greatest(
             |  CAST(abs(mq_$a - x_mq) * 1000000 / x_mq AS BIGINT),
             |  CAST(abs(pq_$a - x_pq) * 1000000 / x_pq AS BIGINT),
             |  CAST(abs(mp_$a - x_mp) * 1000000 / x_mp AS BIGINT))""".stripMargin))
          .as("e"),
        // one-VALUE-STEP allowance: t-digest's guarantee is on RANK
        // error; converting to value error crosses the domain's step
        // (quantities step by 1, prices by 0.01). At sf1/sf3 the
        // round-13 soak measured dial 1000 exactly one quantity step
        // off (40000 ppm = 1/25) while dial 10000 nailed the cell —
        // the step floor is distribution-determined, not dial-buyable,
        // so the documented bound carries it explicitly.
        // floor() explicit so the BIGINT conversion truncates
        // identically in both engines (Spark CAST truncates, DuckDB
        // rounds); e-notation keeps the literals double-typed in the
        // oracle restatement
        max(expr(
          """CAST(floor(greatest(1e6 / x_mq, 1e6 / x_pq,
            |                    1e4 / x_mp)) AS BIGINT)""".stripMargin))
          .as("step"))
        .select(
          lit("tdigest_percentile").as("sketch"),
          lit(a.toLong).as("dial"),
          lit(a.toLong).as("state_units"),
          coalesce(col("e"), lit(0L)).cast("long").as("max_err_ppm"),
          // documented per-dial ceiling: the measured accuracy-term at
          // sf0.001/sf0.01 with >=4x margin (accuracy 100
          // worst-observed 3.8%, 1000 0.27%, 10000 0.08%) PLUS the
          // one-value-step floor above
          // dials are enumerated EXPLICITLY: a new dial must ship with
          // its own measured ceiling, not silently inherit the
          // tightest one (round-14 ADVICE — a coarser dial under the
          // 10000-dial bound would spuriously fail ApproxSpec, or
          // worse, pass too loosely)
          (lit(a match {
            case 100 => 160000L; case 1000 => 11000L; case 10000 => 5000L
            case d => sys.error(
              s"unmeasured t-digest dial $d: add a measured bound_ppm")
          }) + coalesce(col("step"), lit(0L)).cast("long"))
            .as("bound_ppm"),
          // engine-portable companions: the step floor derives from
          // EXACT values only, so DuckDB restates it; distinct counts
          // are an HLL-family concept, 0 here
          lit(0L).as("exact_orders"),
          lit(0L).as("exact_customers"),
          coalesce(col("step"), lit(0L)).cast("long").as("step_ppm"))
    }
    (hllRows ++ tdRows).reduce(_.unionByName(_))
      // the q137 in-row self-oracle: every dial row STATES its bound
      // and whether the measured error clears it; ApproxSpec asserts
      // within_bound == 1 for EVERY row, not just the shipped defaults
      .withColumn("within_bound",
        (col("max_err_ppm") <= col("bound_ppm")).cast("long"))
      .orderBy("sketch", "dial")
  }

  /** q136's REGISTERED shape (round-14, whitelist 4 → 2): the sweep's
    * engine-portable columns under a full DuckDB oracle — dials,
    * state units, the documented bounds (literal + exact-value step
    * floor, both restatable by DuckDB), the EXACT companions each
    * sketch family estimates (true distinct counts / the step floor),
    * and the EXECUTED `within_bound` bit the oracle pins to 1 (the
    * q208 `probes_equal` discipline: a dial drifting out of its
    * documented ceiling hash-mismatches in CORRECTNESS). Only the raw
    * `max_err_ppm` (a function of the engine-specific estimates) stays
    * out of the hashed surface; ApproxSpec asserts it per dial on the
    * full [[sketchAccuracySweep]] frame.
    */
  def sketchAccuracySweepChecked(spark: SparkSession,
      sfDir: String): DataFrame =
    sketchAccuracySweep(spark, sfDir)
      .select("sketch", "dial", "state_units", "bound_ppm",
        "within_bound", "exact_orders", "exact_customers", "step_ppm")

  val sketchAccuracySweepCheckedSql: String = {
    val qtySql = Features.groupPercentilesSql("lineitem",
      Seq("l_returnflag"), "l_quantity",
      Seq("x_mq" -> 0.5, "x_pq" -> 0.9))
    val priceSql = Features.groupPercentilesSql("lineitem",
      Seq("l_returnflag"), "l_extendedprice", Seq("x_mp" -> 0.5))
    val hllRows = Seq(0.05, 0.02, 0.01).map { r =>
      s"""  SELECT 'hll_count_distinct' AS sketch,
         |    CAST(${math.round(r * 1000000)} AS BIGINT) AS dial,
         |    CAST(${HllAgg.registersForRsd(r)} AS BIGINT) AS state_units,
         |    CAST(${math.round(3 * r * 1000000)} AS BIGINT) AS bound_ppm,
         |    CAST(1 AS BIGINT) AS within_bound,
         |    CAST(xo.o AS BIGINT) AS exact_orders,
         |    CAST(xc.c AS BIGINT) AS exact_customers,
         |    CAST(0 AS BIGINT) AS step_ppm
         |  FROM xo, xc""".stripMargin
    }
    val tdRows = Seq(100 -> 160000L, 1000 -> 11000L, 10000 -> 5000L)
      .map { case (a, b) =>
        s"""  SELECT 'tdigest_percentile' AS sketch,
           |    CAST($a AS BIGINT) AS dial,
           |    CAST($a AS BIGINT) AS state_units,
           |    CAST($b + st.s AS BIGINT) AS bound_ppm,
           |    CAST(1 AS BIGINT) AS within_bound,
           |    CAST(0 AS BIGINT) AS exact_orders,
           |    CAST(0 AS BIGINT) AS exact_customers,
           |    CAST(st.s AS BIGINT) AS step_ppm
           |  FROM st""".stripMargin
      }
    s"""WITH qy AS (
       |  $qtySql),
       |pr AS (
       |  $priceSql),
       |ex AS (
       |  SELECT qy.l_returnflag, x_mq, x_pq, x_mp
       |  FROM qy JOIN pr ON qy.l_returnflag = pr.l_returnflag),
       |st AS (
       |  SELECT MAX(CAST(floor(greatest(1e6 / x_mq, 1e6 / x_pq,
       |    1e4 / x_mp)) AS BIGINT)) AS s FROM ex),
       |xo AS (SELECT COUNT(DISTINCT l_orderkey) AS o FROM lineitem),
       |xc AS (
       |  SELECT COUNT(DISTINCT o.o_custkey) AS c
       |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey)
       |SELECT * FROM (
       |${(hllRows ++ tdRows).mkString("\n  UNION ALL\n")}
       |) ORDER BY sketch, dial""".stripMargin
  }

  /** q137 — PRE-AGGREGATED sketch shards, the pattern that actually
    * carries the approximate KPIs at 100 TB: aggregate the fact ONCE
    * into per-shard HLL register cells (here one per ship-date year; in
    * production a month / tenant / file), persistable as ordinary
    * BINARY columns, then answer any later distinct-count rollup by
    * MERGING cells — never rescanning the fact. Output is one summary
    * row carrying the self-oracle: `est_merged` (merge of the shard
    * cells) vs `est_direct` (single-pass sketch over the raw rows) with
    * `merge_is_lossless` — elementwise-max merge makes the two register
    * files bit-identical, so these are EQUAL, not merely close (HllSpec
    * pins it; a false here means the merge lost information).
    * `sum_shard_ests` rides along to show why naive addition is wrong:
    * orders spanning shard boundaries are double-counted, so the sum
    * OVERSHOOTS the true distinct count. Rows-only registration (sketch
    * estimates are implementation-specific; the q45 contract).
    */
  def sketchShardRollup(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), year(col("l_shipdate")).as("shard"))
    val shards = li.groupBy("shard").agg(
      HllAgg.sketch(col("l_orderkey"), ApproxRsd).as("sk"),
      HllAgg.countDistinct(col("l_orderkey"), ApproxRsd).as("est_shard"))
      // eager, tiny (|years| rows): the merged and sum branches below
      // would otherwise each re-run the shard aggregation
      .localCheckpoint(true)
    val merged = shards.agg(
      count(lit(1)).as("n_shards"),
      HllAgg.mergeEstimate(col("sk"), ApproxRsd).as("est_merged"),
      sum(col("est_shard")).as("sum_shard_ests"))
    val direct = li.agg(
      HllAgg.countDistinct(col("l_orderkey"), ApproxRsd).as("est_direct"))
    merged.crossJoin(direct)
      .select(
        col("n_shards").cast("long").as("n_shards"),
        col("est_merged"),
        col("est_direct"),
        (col("est_merged") === col("est_direct")).as("merge_is_lossless"),
        col("sum_shard_ests").cast("long").as("sum_shard_ests"))
  }

  val HistogramBins = 4096 // histogram cells of the percentile sketch

  /** q150 — MERGEABLE histogram percentile cells, the percentile
    * analog of q137's HLL shard pattern and the engine-exact
    * complement to the t-digest twins (q119): aggregate the fact ONCE
    * into per-shard equi-width bucket counts over exact price cents —
    * (shard, bucket, n) BIGINT rows, ≤4096 cells per shard,
    * persistable as an ordinary table — then answer any later
    * percentile rollup by SUMMING cells (vector add: associative,
    * commutative, lossless) and walking the cumulative histogram.
    * Never rescans the fact. Unlike a t-digest cell the merge is
    * EXACT, every step is integer arithmetic, and the estimate is
    * deterministic — so this query carries a FULL DuckDB oracle
    * (rows+hash), not a rows-only tolerance contract.
    *
    * Estimate definition (a model constant, stated so both engines
    * compute it identically): bucket(c) = (c−lo)·nb div (hi−lo+1);
    * for percentile p% the target rank is ceil(N·p/100) in integers
    * ((N·p+99) div 100), the answer bucket is the smallest with
    * cumulative ≥ target, and the estimate is the bucket's integer
    * midpoint lo + (2b+1)(hi−lo+1) div (2nb), presented in currency
    * units via one exact BIGINT→double division by 100. Accuracy is
    * bounded by the bucket width (range/4096 ≈ 0.025% of the value
    * range; ApproxSpec measures vs the exact q49-family percentiles).
    * Heavy-tailed domains would swap the grid for a log-scale one —
    * the cells, merge, and walk are unchanged.
    *
    * Scale shape: one scan → (shard, bucket) partial-aggregated
    * shuffle; the merged histogram is ≤ nb rows, so the cumulative
    * window and the percentile selection are driver-trivial no matter
    * the fact size. The lo/hi grid bounds ride a broadcast 1-row agg.
    */
  def histogramPercentileCells(spark: SparkSession, sfDir: String,
      nb: Int = HistogramBins): DataFrame = {
    val base = Tables.lineitem(spark, sfDir)
      .select(cents(col("l_extendedprice")).as("c"),
        year(col("l_shipdate")).as("shard"))
    val bounds = base.agg(min(col("c")).as("lo"), max(col("c")).as("hi"))
    val cells = base.crossJoin(broadcast(bounds))
      .select(col("shard"),
        expr(s"((c - lo) * $nb) div (hi - lo + 1)").as("bucket"))
      .groupBy("shard", "bucket")
      .agg(count(lit(1)).as("n"))
      // eager, ≤ shards × nb rows: the merged walk and the metadata
      // columns below both consume it
      .localCheckpoint(true)
    val meta = cells.agg(
      countDistinct(col("shard")).as("n_shards"),
      count(lit(1)).as("n_cells"))
    val merged = cells.groupBy("bucket")
      .agg(sum(col("n")).as("n"))
    val wCum = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy()
    // ≤ nb rows past this point: the global windows are bounded
    val cum = merged
      .withColumn("cum", sum(col("n")).over(wCum))
      .withColumn("nt", sum(col("n")).over(wAll))
    val pcts = spark.createDataFrame(
      Seq(Tuple1(50L), Tuple1(90L), Tuple1(99L))).toDF("pct")
    broadcast(pcts).join(cum,
        col("cum") >= expr("(nt * pct + 99) div 100"))
      .groupBy("pct")
      .agg(min(col("bucket")).as("b"), max(col("nt")).as("n_rows"))
      .crossJoin(broadcast(bounds))
      .crossJoin(broadcast(meta))
      .select(
        col("pct"),
        col("n_rows"),
        (expr(s"lo + ((2 * b + 1) * (hi - lo + 1)) div (2 * $nb)")
          .cast("double") / lit(100.0)).as("est_price"),
        col("n_shards").cast("long").as("n_shards"),
        col("n_cells"))
      .orderBy("pct")
  }

  def histogramPercentileCellsSql: String =
    s"""WITH base AS (
       |  SELECT CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
       |           AS c,
       |         year(l_shipdate) AS shard
       |  FROM lineitem),
       |bounds AS (SELECT MIN(c) AS lo, MAX(c) AS hi FROM base),
       |cells AS (
       |  SELECT shard, ((c - lo) * $HistogramBins) // (hi - lo + 1) AS bucket,
       |         CAST(COUNT(*) AS BIGINT) AS n
       |  FROM base, bounds GROUP BY 1, 2),
       |meta AS (
       |  SELECT CAST(COUNT(DISTINCT shard) AS BIGINT) AS n_shards,
       |         CAST(COUNT(*) AS BIGINT) AS n_cells
       |  FROM cells),
       |merged AS (
       |  SELECT bucket, CAST(SUM(n) AS BIGINT) AS n
       |  FROM cells GROUP BY 1),
       |cum AS (
       |  SELECT bucket,
       |    CAST(SUM(n) OVER (ORDER BY bucket
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
       |    CAST(SUM(n) OVER () AS BIGINT) AS nt
       |  FROM merged),
       |pcts AS (SELECT CAST(unnest([50, 90, 99]) AS BIGINT) AS pct),
       |sel AS (
       |  SELECT pct, MIN(bucket) AS b, MAX(nt) AS n_rows
       |  FROM pcts JOIN cum ON cum >= (nt * pct + 99) // 100
       |  GROUP BY pct)
       |SELECT pct, n_rows,
       |  CAST(lo + ((2 * b + 1) * (hi - lo + 1)) // (2 * $HistogramBins) AS DOUBLE)
       |    / 100.0 AS est_price,
       |  n_shards, n_cells
       |FROM sel, bounds, meta
       |ORDER BY pct""".stripMargin

  val KpiSamplePct = 1 // sample percentage of q139; divides 100

  /** q139 — sampled KPI with an error bar (approximate query
    * processing): the revenue/line-count KPIs answered from a
    * deterministic `GroupSamplePct`% hash-sample with unbiased 1/p
    * extrapolation and a 95% Horvitz-Thompson confidence half-width — the read path
    * when even ONE full scan of a 100 TB fact is too expensive and an
    * error-bounded answer suffices. Bernoulli-by-hash selection
    * (md5-bucket < p, the q53 split idiom) makes the sample — and
    * therefore every output cell — deterministic and cell-exact
    * oracle-checkable; at scale the sample predicate fuses into the
    * scan and reads p% of rows after (on a sorted/bucketed layout)
    * skipping most files entirely.
    *
    * Exactness discipline: per-row revenue in 1e-4-unit BIGINT
    * ([[revenueE4]]: cents × (100−discount-hundredths)), first/second
    * moments summed in DECIMAL(38,0), converted once via
    * [[Features.decToDouble]] (the hi/lo split — second
    * moments cross 2^53 far below sf1), then the estimator arithmetic
    * runs in doubles with the IDENTICAL expression tree on both
    * engines. Identical rows hash into the same bucket, so exact
    * duplicates enter together (content-cluster sampling — unbiased
    * for totals, documented for the CI).
    */
  def sampledKpi(spark: SparkSession, sfDir: String,
      pctSample: Int = KpiSamplePct): DataFrame = {
    // est_lines extrapolates by the integer 100/pctSample; a rate that
    // does not divide 100 would silently floor the multiplier
    require(100 % pctSample == 0,
      s"pctSample must divide 100, got $pctSample")
    val sampled = Tables.lineitem(spark, sfDir)
      .select(
        pmod(TextAnalysis.md5Hash60(concat_ws(":", lit("aqp"),
            col("l_orderkey"), col("l_linenumber"), col("l_partkey"))),
          lit(100)).as("b"),
        revenueE4.as("rev_e4"))
      .filter(col("b") < pctSample)
    val agg = sampled.agg(
      count(lit(1)).as("n_sampled"),
      sum(col("rev_e4").cast("decimal(38,0)")).as("s_e4"),
      sum((col("rev_e4") * col("rev_e4")).cast("decimal(38,0)"))
        .as("q_e8"))
    val s = Features.decToDouble(col("s_e4"), 0) / lit(10000.0)
    val q = Features.decToDouble(col("q_e8"), 0) / lit(100000000.0)
    val rate = lit(pctSample.toDouble) / lit(100.0)
    // Horvitz-Thompson variance for a TOTAL under Bernoulli (Poisson)
    // sampling: Var(T-hat) = ((1-p)/p^2)·Σ_pop x², estimated
    // unbiasedly by ((1-p)/p^2)·Σ_SAMPLE x². An SRS-style
    // mean-variance CI is ~2x too narrow here: the sample SIZE is
    // random too, and with x-bar far from 0 that term dominates
    // (measured: |err| 1.42e8 vs the SRS CI's 1.36e8 at sf0.01 — the
    // HT CI is 2.7e8 and covers).
    agg.select(
      col("n_sampled"),
      (s / rate).as("est_revenue"),
      (col("n_sampled") * lit(100L / pctSample)).as("est_lines"),
      (lit(1.96) * sqrt((lit(1.0) - rate) * q) / rate).as("ci95_revenue"))
  }

  def sampledKpiSql: String = {
    val revE4 = """(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) *
      |(100 - CAST(CAST(l_discount AS DECIMAL(4,2)) * 100 AS BIGINT)))"""
      .stripMargin
    val key = "'aqp:' || CAST(l_orderkey AS VARCHAR) || ':' || " +
      "CAST(l_linenumber AS VARCHAR) || ':' || CAST(l_partkey AS VARCHAR)"
    val s = s"(${Features.decToDoubleSql("s_e4", 0)} / 10000.0)"
    val q = s"(${Features.decToDoubleSql("q_e8", 0)} / 100000000.0)"
    val rate = s"(CAST($KpiSamplePct AS DOUBLE) / CAST(100 AS DOUBLE))"
    s"""WITH sampled AS (
       |  SELECT $revE4 AS rev_e4
       |  FROM lineitem
       |  WHERE ${TextAnalysis.md5Hash60Sql(key)} % 100 < $KpiSamplePct),
       |agg AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_sampled,
       |         CAST(SUM(CAST(rev_e4 AS HUGEINT)) AS DECIMAL(38,0)) AS s_e4,
       |         CAST(SUM(CAST(rev_e4 AS HUGEINT) * rev_e4) AS DECIMAL(38,0))
       |           AS q_e8
       |  FROM sampled)
       |SELECT n_sampled,
       |  ($s / $rate) AS est_revenue,
       |  CAST(n_sampled * ${100L / KpiSamplePct} AS BIGINT) AS est_lines,
       |  (1.96 * sqrt((1.0 - $rate) * $q) / $rate) AS ci95_revenue
       |FROM agg""".stripMargin
  }

  val GroupSamplePct = 10 // sample percentage of q145; divides 100

  /** q145 — sampled GROUP-BY AQP: per-brand revenue estimates with
    * per-group Horvitz-Thompson 95% intervals, the dashboard-
    * accelerator shape of q139 (which stops at one grand total). Same
    * deterministic Bernoulli-by-hash panel — q139's `aqp` bucket key,
    * so the 1% KPI sample is a nested subset of this 10% group panel
    * (one persisted sample serves every dashboard at scale) — with the
    * sample filter BELOW the dim join and the aggregate: the scan
    * reads p% of the fact, the broadcast part join sees only sampled
    * rows. Per-group estimator: groups are disjoint domains under
    * Poisson sampling, so the HT total/variance apply per group
    * unchanged — est_g = S_g/p, Var_g = ((1−p)/p²)·Σ_g x² — and the
    * same exactness discipline (1e-4-unit BIGINT rows, DECIMAL(38,0)
    * moments, one decToDouble conversion, identical IEEE tail) makes
    * every cell hash-match the oracle. Default 10%: at 1% a 25-group
    * split leaves too few rows per group for the CLT interval to be
    * honest (ApproxSpec measures coverage against the exact totals).
    */
  def sampledGroupKpi(spark: SparkSession, sfDir: String): DataFrame = {
    val sampled = Tables.lineitem(spark, sfDir)
      .select(col("l_partkey"),
        pmod(TextAnalysis.md5Hash60(concat_ws(":", lit("aqp"),
            col("l_orderkey"), col("l_linenumber"), col("l_partkey"))),
          lit(100)).as("b"),
        revenueE4.as("rev_e4"))
      .filter(col("b") < GroupSamplePct)
      .join(Joins.broadcastIfSmall(
          Tables.part(spark, sfDir).select("p_partkey", "p_brand")),
        col("l_partkey") === col("p_partkey"))
    val agg = sampled.groupBy(col("p_brand").as("brand")).agg(
      count(lit(1)).as("n_sampled"),
      sum(col("rev_e4").cast("decimal(38,0)")).as("s_e4"),
      sum((col("rev_e4") * col("rev_e4")).cast("decimal(38,0)"))
        .as("q_e8"))
    val s = Features.decToDouble(col("s_e4"), 0) / lit(10000.0)
    val q = Features.decToDouble(col("q_e8"), 0) / lit(100000000.0)
    val rate = lit(GroupSamplePct.toDouble) / lit(100.0)
    agg.select(
      col("brand"),
      col("n_sampled"),
      (s / rate).as("est_revenue"),
      (lit(1.96) * sqrt((lit(1.0) - rate) * q) / rate).as("ci95_revenue"))
      .orderBy("brand")
  }

  def sampledGroupKpiSql: String = {
    val revE4 = """(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) *
      |(100 - CAST(CAST(l_discount AS DECIMAL(4,2)) * 100 AS BIGINT)))"""
      .stripMargin
    val key = "'aqp:' || CAST(l_orderkey AS VARCHAR) || ':' || " +
      "CAST(l_linenumber AS VARCHAR) || ':' || CAST(l_partkey AS VARCHAR)"
    val s = s"(${Features.decToDoubleSql("s_e4", 0)} / 10000.0)"
    val q = s"(${Features.decToDoubleSql("q_e8", 0)} / 100000000.0)"
    val rate = s"(CAST($GroupSamplePct AS DOUBLE) / CAST(100 AS DOUBLE))"
    s"""WITH sampled AS (
       |  SELECT p_brand AS brand, $revE4 AS rev_e4
       |  FROM lineitem JOIN part ON l_partkey = p_partkey
       |  WHERE ${TextAnalysis.md5Hash60Sql(key)} % 100 < $GroupSamplePct),
       |agg AS (
       |  SELECT brand, CAST(COUNT(*) AS BIGINT) AS n_sampled,
       |         CAST(SUM(CAST(rev_e4 AS HUGEINT)) AS DECIMAL(38,0)) AS s_e4,
       |         CAST(SUM(CAST(rev_e4 AS HUGEINT) * rev_e4) AS DECIMAL(38,0))
       |           AS q_e8
       |  FROM sampled GROUP BY brand)
       |SELECT brand, n_sampled,
       |  ($s / $rate) AS est_revenue,
       |  (1.96 * sqrt((1.0 - $rate) * $q) / $rate) AS ci95_revenue
       |FROM agg
       |ORDER BY brand""".stripMargin
  }

  /** Category revenue mix with share-of-total % (F8; "Electronics 37.78%").
    * The grand total comes from an empty-frame window aggregate — a
    * single-row broadcast exchange, not a second scan. Share is computed
    * in decimal from exact sums: numerator*1000000/denominator as an
    * integer-scaled ratio, avoiding engine-specific decimal-division
    * rounding (see pct_ppm = parts-per-million).
    */
  def categoryShare(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy()
    Tables.lineitem(spark, sfDir)
      .join(Joins.broadcastIfSmall(
          Tables.part(spark, sfDir).select("p_partkey", "p_brand")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand").as("brand"))
      .agg(revenueSum.as("rev"))
      // integer ppm via INTEGER division on sums rounded HALF_UP to
      // cents (the weekdaySeasonality idiom; decimal `/` + floor
      // diverges between engines when the ratio sits within an ulp of
      // an int)
      .withColumn("cents", (col("rev") * 100).cast("decimal(38,0)"))
      .withColumn("totc", sum(col("cents")).over(w))
      .withColumn("share_ppm",
        expr("CAST((cents * 1000000) div totc AS BIGINT)"))
      .select(col("brand"), col("rev").cast("double").as("revenue"),
        col("share_ppm"))
      .orderBy(desc("revenue"), asc("brand"))
  }

  val categoryShareSql: String =
    s"""WITH b AS (
       |  SELECT p_brand AS brand, SUM($revenueSql) AS rev
       |  FROM lineitem JOIN part ON l_partkey = p_partkey
       |  GROUP BY p_brand),
       |w2 AS (SELECT brand, rev,
       |       CAST(rev * 100 AS HUGEINT) AS cents FROM b)
       |SELECT brand, CAST(rev AS DOUBLE) AS revenue,
       |       CAST((cents * 1000000) // SUM(cents) OVER () AS BIGINT)
       |         AS share_ppm
       |FROM w2
       |ORDER BY revenue DESC, brand ASC""".stripMargin

  /** The store dim used by the regional insights: supplier joined to the
    * fixed nation/region lookups, projected to key + region name.
    */
  private def storeRegion(spark: SparkSession, sfDir: String): DataFrame =
    Tables.supplier(spark, sfDir).select("s_suppkey", "s_nationkey")
      .join(broadcast(Tables.nation(spark, sfDir)
          .select("n_nationkey", "n_regionkey")),
        col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(spark, sfDir)
          .select("r_regionkey", "r_name")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("s_suppkey"), col("r_name"))

  val TopBrands = 3 // brands kept per region

  /** Top-k brands by revenue within each region — ranked window over a
    * partitioned group (G-family extension: per-group top-N, the
    * "dashboard drill-down" shape).
    *
    * Scale shape: the window runs AFTER aggregation to (region, brand)
    * grain — a few hundred rows regardless of fact size — so the rank
    * never sees fact-grain data and the per-region partitions cannot
    * skew. Ranking orders by the exact decimal sum (ties broken by brand)
    * so Spark and DuckDB rank identically; the double cast is
    * presentation-only.
    */
  def topBrandsPerRegion(spark: SparkSession, sfDir: String): DataFrame = {
    // round-16 A/B: the round-15 q44-shape scan spread (then a
    // projected round-robin exchange under the all-broadcast plan) measured a
    // LOSS here — best-of-6 1.32 s unspread vs 1.80 s spread on one
    // host — because this agg's per-row work is one decimal
    // multiply-add, too cheap to pay an exchange of the
    // fact scan for (q44 keeps its spread: its Expand×3 rollup is the
    // expensive-pipeline case the spread exists for). Reverted to the
    // plain scan; the storeRegion/part broadcasts (one less fact
    // exchange, plan-verified) stay.
    val agg = Tables.lineitem(spark, sfDir)
      .join(Joins.broadcastIfSmall(
          Tables.part(spark, sfDir).select("p_partkey", "p_brand")),
        col("l_partkey") === col("p_partkey"))
      .join(Joins.broadcastIfSmall(storeRegion(spark, sfDir),
          Tables.supplier(spark, sfDir)),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("r_name").as("region"), col("p_brand").as("brand"))
      .agg(revenueSum.as("rev"))
    val w = Window.partitionBy(col("region"))
      .orderBy(desc("rev"), asc("brand"))
    agg.withColumn("rank_in_region", row_number().over(w).cast("int"))
      .filter(col("rank_in_region") <= TopBrands)
      .select(col("region"), col("brand"),
        col("rev").cast("double").as("revenue"), col("rank_in_region"))
      .orderBy("region", "rank_in_region")
  }

  def topBrandsPerRegionSql: String =
    s"""WITH a AS (
       |  SELECT r_name AS region, p_brand AS brand, SUM($revenueSql) AS rev
       |  FROM lineitem
       |  JOIN part ON l_partkey = p_partkey
       |  JOIN supplier ON l_suppkey = s_suppkey
       |  JOIN nation ON s_nationkey = n_nationkey
       |  JOIN region ON n_regionkey = r_regionkey
       |  GROUP BY r_name, p_brand),
       |r AS (
       |  SELECT region, brand, rev,
       |         CAST(ROW_NUMBER() OVER (PARTITION BY region
       |           ORDER BY rev DESC, brand ASC) AS INT) AS rank_in_region
       |  FROM a)
       |SELECT region, brand, CAST(rev AS DOUBLE) AS revenue, rank_in_region
       |FROM r WHERE rank_in_region <= $TopBrands
       |ORDER BY region, rank_in_region""".stripMargin

  /** Monthly revenue with a per-year running total and month-over-month
    * delta (cumulative window + lag — the "trend with momentum" BI
    * shape). Windows run on the month-grain aggregate (dozens of rows at
    * any fact size); the cumulative sum and the lag delta stay in exact
    * decimal until the final double presentation cast, so every cell is
    * one correctly-rounded conversion in both engines. The first month of
    * each year has no predecessor: the delta coalesces to 0.
    */
  def monthlyRunningRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    val m = Tables.lineitem(spark, sfDir)
      .groupBy(
        year(col("l_shipdate")).as("sales_year"),
        month(col("l_shipdate")).as("sales_month"))
      .agg(revenueSum.as("rev"))
    val byMonth = Window.partitionBy(col("sales_year"))
      .orderBy(col("sales_month"))
    val cum = byMonth.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    m.select(
        col("sales_year"), col("sales_month"),
        col("rev").cast("double").as("revenue"),
        sum(col("rev")).over(cum).cast("double").as("cum_revenue"),
        coalesce(col("rev") - lag(col("rev"), 1).over(byMonth),
          lit(0).cast("decimal(4,2)")).cast("double").as("mom_delta"))
      .orderBy("sales_year", "sales_month")
  }

  val monthlyRunningRevenueSql: String =
    s"""WITH m AS (
       |  SELECT CAST(year(l_shipdate) AS INT) AS sales_year,
       |         CAST(month(l_shipdate) AS INT) AS sales_month,
       |         SUM($revenueSql) AS rev
       |  FROM lineitem GROUP BY 1, 2)
       |SELECT sales_year, sales_month,
       |       CAST(rev AS DOUBLE) AS revenue,
       |       CAST(SUM(rev) OVER (PARTITION BY sales_year ORDER BY sales_month
       |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
       |         AS cum_revenue,
       |       CAST(COALESCE(rev - LAG(rev, 1) OVER (PARTITION BY sales_year
       |         ORDER BY sales_month), 0) AS DOUBLE) AS mom_delta
       |FROM m
       |ORDER BY sales_year, sales_month""".stripMargin

  /** Region × brand revenue ROLLUP (grouping sets): detail rows, per-
    * region subtotals, and the grand total in one aggregate. Spark plans
    * a single Expand + hash aggregate (one fact scan, one shuffle at
    * group grain × 3 grouping sets). Rolled-up keys present as 'ALL'
    * (no real region/brand uses that name); grouping_level is the
    * bitmask (0 detail, 1 brand rolled, 3 both rolled).
    */
  def revenueRollup(spark: SparkSession, sfDir: String): DataFrame =
    // scan spread (round-15): with both dims broadcast the whole
    // scan -> join -> Expand(x3) -> decimal partial-agg pipeline fuses
    // into the scan stage, which is 3 single-row-group tasks on this
    // testdata — the rollup's heavy per-row work serialized 3-wide on
    // a 32-core session (the SMJ it replaced was accidentally
    // providing the spread). Project to the 4 needed columns BEFORE
    // the spread exchange (guide §2.3).
    Tables.spread(Tables.lineitem(spark, sfDir)
        .select("l_partkey", "l_suppkey", "l_extendedprice",
          "l_discount"))
      .join(Joins.broadcastIfSmall(
          Tables.part(spark, sfDir).select("p_partkey", "p_brand")),
        col("l_partkey") === col("p_partkey"))
      .join(Joins.broadcastIfSmall(storeRegion(spark, sfDir),
          Tables.supplier(spark, sfDir)),
        col("l_suppkey") === col("s_suppkey"))
      .rollup(col("r_name"), col("p_brand"))
      .agg(revenueSum.cast("double").as("revenue"),
        count(lit(1)).as("n_sales"),
        grouping_id().cast("int").as("grouping_level"))
      .select(
        coalesce(col("r_name"), lit("ALL")).as("region"),
        coalesce(col("p_brand"), lit("ALL")).as("brand"),
        col("revenue"), col("n_sales"), col("grouping_level"))
      .orderBy("grouping_level", "region", "brand")

  val revenueRollupSql: String =
    s"""SELECT COALESCE(r_name, 'ALL') AS region,
       |       COALESCE(p_brand, 'ALL') AS brand,
       |       CAST(SUM($revenueSql) AS DOUBLE) AS revenue,
       |       COUNT(*) AS n_sales,
       |       CAST(GROUPING(r_name, p_brand) AS INT) AS grouping_level
       |FROM lineitem
       |JOIN part ON l_partkey = p_partkey
       |JOIN supplier ON l_suppkey = s_suppkey
       |JOIN nation ON s_nationkey = n_nationkey
       |JOIN region ON n_regionkey = r_regionkey
       |GROUP BY ROLLUP (r_name, p_brand)
       |ORDER BY grouping_level, region, brand""".stripMargin

  /** q189 — explicit GROUPING SETS (the non-hierarchical member of the
    * multi-grain family next to q44's ROLLUP and q85's CUBE): detail
    * (region × brand), the BRAND-ONLY marginal — the one a rollup
    * cannot produce, since it is not a prefix of the hierarchy — and
    * the grand total, in ONE aggregate. Spark plans a single Expand
    * (one fact scan replicated per set) + one hash aggregate; at
    * 100 TB that is one shuffle for all three reports instead of
    * three scans. grouping_id disambiguates rows exactly as both
    * engines define it (bitmask over the grouping columns).
    */
  def revenueGroupingSets(spark: SparkSession, sfDir: String): DataFrame =
    // projected scan spread under all-broadcast joins: the q44 shape
    // (Expand x3 + decimal partial agg would fuse into the 3-task scan
    // stage)
    Tables.spread(Tables.lineitem(spark, sfDir)
        .select("l_partkey", "l_suppkey", "l_extendedprice",
          "l_discount"))
      .join(Joins.broadcastIfSmall(
          Tables.part(spark, sfDir).select("p_partkey", "p_brand")),
        col("l_partkey") === col("p_partkey"))
      .join(Joins.broadcastIfSmall(storeRegion(spark, sfDir),
          Tables.supplier(spark, sfDir)),
        col("l_suppkey") === col("s_suppkey"))
      .groupingSets(
        Seq(Seq(col("r_name"), col("p_brand")), Seq(col("p_brand")), Seq()),
        col("r_name"), col("p_brand"))
      .agg(revenueSum.cast("double").as("revenue"),
        count(lit(1)).as("n_sales"),
        grouping_id().cast("int").as("grouping_level"))
      .select(
        coalesce(col("r_name"), lit("ALL")).as("region"),
        coalesce(col("p_brand"), lit("ALL")).as("brand"),
        col("revenue"), col("n_sales"), col("grouping_level"))
      .orderBy("grouping_level", "region", "brand")

  val revenueGroupingSetsSql: String =
    s"""SELECT COALESCE(r_name, 'ALL') AS region,
       |       COALESCE(p_brand, 'ALL') AS brand,
       |       CAST(SUM($revenueSql) AS DOUBLE) AS revenue,
       |       COUNT(*) AS n_sales,
       |       CAST(GROUPING(r_name, p_brand) AS INT) AS grouping_level
       |FROM lineitem
       |JOIN part ON l_partkey = p_partkey
       |JOIN supplier ON l_suppkey = s_suppkey
       |JOIN nation ON s_nationkey = n_nationkey
       |JOIN region ON n_regionkey = r_regionkey
       |GROUP BY GROUPING SETS ((r_name, p_brand), (p_brand), ())
       |ORDER BY grouping_level, region, brand""".stripMargin

  val HighValuePriceMin = 400000.0 // unit price of a high-value item

  /** Line items of high-value orders via [[Joins.bloomSemiJoin]]: the
    * bloom built over the qualifying orderkeys prunes the lineitem scan
    * map-side before the semi-join shuffle. The result is exactly the
    * plain semi join (bloom false positives are removed by the exact
    * join); the oracle is that plain form.
    */
  def highValueItems(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity"))
    val hv = Tables.orders(spark, sfDir)
      .filter(col("o_totalprice").cast("double") > HighValuePriceMin)
      .select("o_orderkey")
    Joins.bloomSemiJoin(li, "l_orderkey", hv, "o_orderkey",
        expectedItems = 100000L)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_items"),
        // l_quantity is integer-valued: the double sum is exact and
        // order-independent (same contract as q47)
        sum(col("l_quantity").cast("double")).as("sum_qty"))
      .orderBy("l_returnflag")
  }

  /** Monthly revenue pivoted to one column per region (the wide
    * dashboard layout). The pivot value list is FIXED (the five region
    * names) — passing explicit values to `pivot` skips the extra
    * distinct-collect job Spark otherwise runs, and makes the output
    * schema static, which is what you want in a scheduled report at any
    * scale. Aggregation is exact decimal, presented as double.
    */
  def monthlyRegionPivot(spark: SparkSession, sfDir: String): DataFrame = {
    val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    val joined = Tables.orders(spark, sfDir)
      .join(Tables.customer(spark, sfDir),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, sfDir)),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(spark, sfDir)),
        col("n_regionkey") === col("r_regionkey"))
    val wide = joined
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
      .pivot("r_name", regions)
      .agg(sum(col("o_totalprice").cast("decimal(28,10)")))
    // one select, not withColumn+drop: Spark resolves column names
    // case-insensitively, so withColumn("africa", ...) would REPLACE
    // the pivot column "AFRICA" and the subsequent drop would kill it.
    // Presentation through decToDouble, not a bare cast: a monthly
    // region sum's scaled integer (value * 1e10) crosses 2^53 already
    // at sf1, where Spark's one-rounding cast and DuckDB's
    // int128/10^scale double-rounding diverge 1 ulp (the sf1 soak
    // caught exactly one such cell).
    wide.select(col("month") +: regions.map { r =>
        coalesce(Features.decToDouble(col(s"`$r`"), 10), lit(0.0))
          .as(r.toLowerCase.replace(" ", "_"))
      }: _*)
      .orderBy("month")
  }

  val monthlyRegionPivotSql: String = {
    val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    val cases = regions.map { r =>
      val alias = r.toLowerCase.replace(" ", "_")
      val sum = s"""COALESCE(SUM(CASE WHEN r_name = '$r'
         |    THEN CAST(o_totalprice AS DECIMAL(28,10)) END), 0)""".stripMargin
      s"${Features.decToDoubleSql(sum, 10)} AS $alias"
    }
    s"""SELECT strftime(o_orderdate, '%Y-%m') AS month,
       |  ${cases.mkString(",\n  ")}
       |FROM orders
       |JOIN customer ON o_custkey = c_custkey
       |JOIN nation ON c_nationkey = n_nationkey
       |JOIN region ON n_regionkey = r_regionkey
       |GROUP BY month
       |ORDER BY month""".stripMargin
  }

  /** The inverse reshape: melt the per-type JSON-props rollup from wide
    * (one column per measure) to long (event_type, metric, value) with
    * the Dataset.unpivot operator — schema-static, no shuffle beyond
    * the source agg; value presented as double for a uniform melt type.
    */
  def propsRollupUnpivot(spark: SparkSession, sfDir: String): DataFrame = {
    val wide = Events.propsRollup(spark, sfDir)
    wide.select(col("event_type"),
        col("n_events").cast("double").as("n_events"),
        col("sum_k").cast("double").as("sum_k"),
        col("min_k").cast("double").as("min_k"),
        col("max_k").cast("double").as("max_k"))
      .unpivot(Array(col("event_type")),
        Array(col("n_events"), col("sum_k"), col("min_k"), col("max_k")),
        "metric", "value")
      .orderBy("event_type", "metric")
  }

  val propsRollupUnpivotSql: String = {
    val metrics = Seq("n_events", "sum_k", "min_k", "max_k")
    val arms = metrics.map { m =>
      s"""SELECT event_type, '$m' AS metric, CAST($m AS DOUBLE) AS value
         |FROM wide""".stripMargin
    }
    // stripMargin before substitution: propsRollupSql has no margin
    // chars, but keep the template/inner split for consistency
    s"""WITH wide AS (@WIDE@)
       |${arms.mkString("\nUNION ALL\n")}
       |ORDER BY event_type, metric""".stripMargin
      .replace("@WIDE@", Events.propsRollupSql)
  }

  /** Cohort set algebra: customers ordering in BOTH calendar halves
    * (INTERSECT) vs the first half only (EXCEPT) — the retention-style
    * question that exercises Spark's set operators (which plan as
    * aggregates/joins, not row-order-sensitive ops, so they hold at any
    * partitioning). Distinct set semantics on both engines.
    */
  def customerHalfCohorts(spark: SparkSession, sfDir: String): DataFrame = {
    val orders = Tables.orders(spark, sfDir)
      .select(col("o_custkey"), month(col("o_orderdate")).as("m"))
    val h1 = orders.filter(col("m") <= 6).select("o_custkey")
    val h2 = orders.filter(col("m") > 6).select("o_custkey")
    h1.intersect(h2).withColumn("cohort", lit("both_halves"))
      .unionByName(h1.except(h2).withColumn("cohort", lit("h1_only")))
      .select("cohort", "o_custkey")
      .orderBy("cohort", "o_custkey")
  }

  val customerHalfCohortsSql: String =
    """WITH h1 AS (
      |  SELECT o_custkey FROM orders WHERE month(o_orderdate) <= 6),
      |h2 AS (
      |  SELECT o_custkey FROM orders WHERE month(o_orderdate) > 6)
      |SELECT 'both_halves' AS cohort, o_custkey
      |FROM (SELECT o_custkey FROM h1 INTERSECT SELECT o_custkey FROM h2)
      |UNION ALL
      |SELECT 'h1_only' AS cohort, o_custkey
      |FROM (SELECT o_custkey FROM h1 EXCEPT SELECT o_custkey FROM h2)
      |ORDER BY cohort, o_custkey""".stripMargin

  def highValueItemsSql: String =
    s"""SELECT l_returnflag, COUNT(*) AS n_items,
       |  CAST(SUM(CAST(l_quantity AS DOUBLE)) AS DOUBLE) AS sum_qty
       |FROM lineitem
       |WHERE l_orderkey IN (
       |  SELECT o_orderkey FROM orders
       |  WHERE CAST(o_totalprice AS DOUBLE) > $HighValuePriceMin)
       |GROUP BY l_returnflag
       |ORDER BY l_returnflag""".stripMargin

  /** Full CUBE over (region, return flag) with grouping flags — the
    * complete marginals lattice (ROLLUP's q44 gives only the
    * hierarchical prefix subtotals; CUBE adds the column marginals,
    * e.g. per-returnflag totals across all regions).
    *
    * Scale shape: the aggregate-then-cube rewrite. Spark plans CUBE as
    * Expand × grouping-sets BEFORE the partial aggregate, so cubing the
    * fact directly hashes every fact row 4 times; instead the fact is
    * collapsed to base grain (region × flag — one ordinary exchange
    * whose map side already reduces to ≤15 rows per partition) and the
    * CUBE's Expand runs over the ~15-row base frame. Exact because SUM
    * and COUNT re-aggregate (Σ of partial Σs, Σ of partial counts) and
    * the money stays a 1e-4-unit long through both levels. NULL group keys are
    * coalesced to 'ALL' (same presentation contract as q44: NULL
    * renders differently in Spark parquet vs DuckDB fetchdf).
    */
  def revenueCube(spark: SparkSession, sfDir: String): DataFrame = {
    val base = Tables.lineitem(spark, sfDir)
      .join(Joins.broadcastIfSmall(storeRegion(spark, sfDir),
          Tables.supplier(spark, sfDir)),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("r_name"), col("l_returnflag"))
      .agg(sumE4(revenueE4).as("rev_e4"), count(lit(1)).as("n_base"))
    base
      .cube(col("r_name"), col("l_returnflag"))
      .agg(e4Decimal(sumE4(col("rev_e4"))).cast("double").as("revenue"),
        sum(col("n_base")).as("n_sales"),
        grouping_id().cast("int").as("grouping_level"))
      .select(
        coalesce(col("r_name"), lit("ALL")).as("region"),
        coalesce(col("l_returnflag"), lit("ALL")).as("return_flag"),
        col("revenue"), col("n_sales"), col("grouping_level"))
      .orderBy("grouping_level", "region", "return_flag")
  }

  val revenueCubeSql: String =
    s"""SELECT COALESCE(r_name, 'ALL') AS region,
       |       COALESCE(l_returnflag, 'ALL') AS return_flag,
       |       CAST(SUM($revenueSql) AS DOUBLE) AS revenue,
       |       COUNT(*) AS n_sales,
       |       CAST(GROUPING(r_name, l_returnflag) AS INT) AS grouping_level
       |FROM lineitem
       |JOIN supplier ON l_suppkey = s_suppkey
       |JOIN nation ON s_nationkey = n_nationkey
       |JOIN region ON n_regionkey = r_regionkey
       |GROUP BY CUBE (r_name, l_returnflag)
       |ORDER BY grouping_level, region, return_flag""".stripMargin

  /** Gap-filled monthly revenue per region: a generated month spine
    * (global min..max order month) cross-joined with the region dim,
    * left-joined to the actual monthly totals, zeros filled in — the
    * "no silent missing months in the trend chart" contract every BI
    * report needs.
    *
    * Scale shape: the spine is derived from a 1-row global min/max agg
    * (broadcast both ways: the 1-row bounds into the sequence, the
    * ~spine×regions frame into the join against the aggregated monthly
    * totals, which are already at month grain — a few hundred rows
    * regardless of fact size). Months are integer month-since-epoch
    * arithmetic, so the spine is pure `sequence()` — no calendar UDF.
    */
  def monthSpineRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    val orders = Tables.orders(spark, sfDir)
    val custRegion = Tables.customer(spark, sfDir)
      .select("c_custkey", "c_nationkey")
      .join(broadcast(Tables.nation(spark, sfDir)
          .select("n_nationkey", "n_regionkey")),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(spark, sfDir)
          .select("r_regionkey", "r_name")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("c_custkey"), col("r_name"))
    val monthOf = year(col("o_orderdate")) * 12 + month(col("o_orderdate")) - 1
    val monthly = orders
      .join(Joins.broadcastIfSmall(custRegion,
        Tables.customer(spark, sfDir)),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("r_name"), monthOf.as("m"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("rev"),
        count(lit(1)).as("n"))
    // bounds come from the aggregated monthly frame (bounded rows), not
    // a second orders scan — AQE reuses monthly's exchange, and the
    // spine spans exactly the joined months (identical here, where
    // order→customer FK integrity holds)
    val spine = monthly
      .agg(min(col("m")).as("lo"), max(col("m")).as("hi"))
      .select(explode(sequence(col("lo"), col("hi"))).as("m"))
      .crossJoin(broadcast(Tables.region(spark, sfDir).select("r_name")))
    spine.join(monthly, Seq("r_name", "m"), "left")
      .select(col("r_name").as("region"),
        (col("m") / 12).cast("int").as("sales_year"),
        (pmod(col("m"), lit(12)) + 1).cast("int").as("sales_month"),
        coalesce(col("rev").cast("double"), lit(0.0)).as("revenue"),
        coalesce(col("n"), lit(0L)).as("n_orders"))
      .orderBy("region", "sales_year", "sales_month")
  }

  val monthSpineRevenueSql: String =
    """WITH monthly AS (
      |  SELECT r_name,
      |    year(o_orderdate) * 12 + month(o_orderdate) - 1 AS m,
      |    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev,
      |    COUNT(*) AS n
      |  FROM orders
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |  JOIN region ON n_regionkey = r_regionkey
      |  GROUP BY 1, 2),
      |bounds AS (
      |  SELECT min(m) AS lo, max(m) AS hi FROM monthly),
      |spine AS (
      |  SELECT r_name, unnest(range(lo, hi + 1)) AS m
      |  FROM bounds, region)
      |SELECT s.r_name AS region,
      |  CAST(s.m // 12 AS INT) AS sales_year,
      |  CAST(s.m % 12 + 1 AS INT) AS sales_month,
      |  COALESCE(CAST(rev AS DOUBLE), 0.0) AS revenue,
      |  COALESCE(n, 0) AS n_orders
      |FROM spine s LEFT JOIN monthly mo
      |  ON s.r_name = mo.r_name AND s.m = mo.m
      |ORDER BY region, sales_year, sales_month""".stripMargin

  /** Explicit GROUPING SETS — the lattice shape CUBE (q85) and ROLLUP
    * (q44) can't express: region marginals, priority marginals, and the
    * grand total, WITHOUT the region×priority cross cells. This is the
    * "three independent dashboard tiles in one pass" pattern: Spark
    * plans one Expand over the three sets instead of three scans.
    *
    * Scale shape: one broadcast-dim join, one Expand(3) + hash agg —
    * the exchange carries only the bounded marginal keys.
    */
  def prioritySets(spark: SparkSession, sfDir: String): DataFrame = {
    val custRegion = Tables.customer(spark, sfDir)
      .select("c_custkey", "c_nationkey")
      .join(broadcast(Tables.nation(spark, sfDir)
          .select("n_nationkey", "n_regionkey")),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(spark, sfDir)
          .select("r_regionkey", "r_name")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("c_custkey"), col("r_name"))
    Tables.orders(spark, sfDir)
      .join(Joins.broadcastIfSmall(custRegion,
        Tables.customer(spark, sfDir)),
        col("o_custkey") === col("c_custkey"))
      .groupingSets(
        Seq(Seq(col("r_name")), Seq(col("o_orderpriority")), Seq()),
        col("r_name"), col("o_orderpriority"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
          .as("revenue"),
        count(lit(1)).as("n_orders"),
        grouping_id().cast("int").as("grouping_level"))
      .select(coalesce(col("r_name"), lit("ALL")).as("region"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("revenue"), col("n_orders"), col("grouping_level"))
      .orderBy("grouping_level", "region", "priority")
  }

  val prioritySetsSql: String =
    """SELECT COALESCE(r_name, 'ALL') AS region,
      |  COALESCE(o_orderpriority, 'ALL') AS priority,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n_orders,
      |  CAST(GROUPING(r_name, o_orderpriority) AS INT) AS grouping_level
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY GROUPING SETS ((r_name), (o_orderpriority), ())
      |ORDER BY grouping_level, region, priority""".stripMargin

  /** Percent-of-parent share: each brand's revenue as a share of its
    * part-type parent (q06 is share-of-grand-total; this is the
    * two-level hierarchical version every drill-down dashboard needs).
    * Shares are integer parts-per-million from exact decimal sums —
    * no engine-specific decimal-division rounding (q06 contract).
    *
    * Scale shape: the window partitions by p_type AFTER aggregation to
    * (type, brand) grain — bounded rows regardless of fact size.
    */
  def brandShareInType(spark: SparkSession, sfDir: String): DataFrame = {
    val byType = Window.partitionBy("p_type")
    Tables.lineitem(spark, sfDir)
      .join(Joins.broadcastIfSmall(
          Tables.part(spark, sfDir).select("p_partkey", "p_type", "p_brand")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_type"), col("p_brand"))
      .agg(revenueSum.as("rev"))
      // cents-scaled INTEGER division, as in categoryShare
      .withColumn("cents", (col("rev") * 100).cast("decimal(38,0)"))
      .withColumn("totc", sum(col("cents")).over(byType))
      .withColumn("share_ppm",
        expr("CAST((cents * 1000000) div totc AS BIGINT)"))
      .select(col("p_type"), col("p_brand"),
        col("rev").cast("double").as("revenue"), col("share_ppm"))
      .orderBy("p_type", "p_brand")
  }

  val brandShareInTypeSql: String =
    s"""WITH b AS (
       |  SELECT p_type, p_brand, SUM($revenueSql) AS rev
       |  FROM lineitem JOIN part ON l_partkey = p_partkey
       |  GROUP BY p_type, p_brand),
       |w2 AS (SELECT p_type, p_brand, rev,
       |       CAST(rev * 100 AS HUGEINT) AS cents FROM b)
       |SELECT p_type, p_brand, CAST(rev AS DOUBLE) AS revenue,
       |  CAST((cents * 1000000) // SUM(cents) OVER (PARTITION BY p_type)
       |    AS BIGINT) AS share_ppm
       |FROM w2
       |ORDER BY p_type, p_brand""".stripMargin

  val TopCustomers = 3 // customers kept per segment

  /** Top-k customers per market segment through the custom
    * [[graft.functions.TopKByValue]] Aggregator — the UDAF form of
    * per-group top-N. Unlike the ROW_NUMBER window (q42's shape), the
    * aggregate's state is a bounded k-list, so the exchange carries at
    * most k rows per (segment, partition) and no per-segment sort ever
    * materializes — the right shape when groups are huge and k is
    * small. The oracle is the definitional window form; the unique
    * custkey tiebreak makes both engine-exact.
    */
  def topCustomersPerSegment(spark: SparkSession,
      sfDir: String): DataFrame = {
    val topk = udaf(graft.functions.TopKByValue(TopCustomers))
    Tables.customer(spark, sfDir)
      .groupBy("c_mktsegment")
      .agg(topk(col("c_acctbal"), col("c_custkey"), col("c_name"))
        .as("top"))
      .select(col("c_mktsegment"), posexplode(col("top")))
      .select(col("c_mktsegment"), (col("pos") + 1).cast("int").as("rank"),
        col("col.key").as("c_custkey"), col("col.tag").as("c_name"),
        col("col.sortVal").as("c_acctbal"))
      .orderBy("c_mktsegment", "rank")
  }

  /** Correlated-subquery surface: EXISTS / NOT EXISTS through
    * `spark.sql` (SURVEY §3 entry point 2 — SQL text, not DataFrame
    * combinators). The SQL is pure ANSI, so the very same text IS the
    * DuckDB oracle. Catalyst rewrites the EXISTS to a left-semi and the
    * NOT EXISTS to a left-anti join on o_orderkey (RewritePredicateSubquery)
    * — the same shuffle shape as the hand-built q10 anti-joins, so the
    * subquery form costs nothing extra at scale.
    */
  def qualifiedOrders(spark: SparkSession, sfDir: String): DataFrame = {
    Seq("orders", "lineitem").foreach { t =>
      graft.sources.Tables.load(spark, sfDir, t).createOrReplaceTempView(t)
    }
    spark.sql(qualifiedOrdersSql)
  }

  /** Oracle == the query text itself (ANSI; AnsiSqlSpec-portable). */
  val qualifiedOrdersSql: String =
    """SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS total
      |FROM orders o
      |WHERE EXISTS (
      |    SELECT 1 FROM lineitem l
      |    WHERE l.l_orderkey = o.o_orderkey
      |      AND CAST(l.l_quantity AS DOUBLE) >= 45.0)
      |  AND NOT EXISTS (
      |    SELECT 1 FROM lineitem l
      |    WHERE l.l_orderkey = o.o_orderkey
      |      AND CAST(l.l_discount AS DOUBLE) > 0.08)
      |ORDER BY o_orderkey""".stripMargin

  def topCustomersPerSegmentSql: String =
    s"""WITH r AS (
       |  SELECT c_mktsegment, c_custkey, c_name, c_acctbal,
       |    ROW_NUMBER() OVER (PARTITION BY c_mktsegment
       |      ORDER BY c_acctbal DESC, c_custkey) AS rank
       |  FROM customer)
       |SELECT c_mktsegment, CAST(rank AS INT) AS rank,
       |  c_custkey, c_name, c_acctbal
       |FROM r WHERE rank <= $TopCustomers
       |ORDER BY c_mktsegment, rank""".stripMargin
}
