package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Classic retail-BI analyses over the star schema — RFM customer
  * segmentation, market-basket affinity, ABC/Pareto classification,
  * new-vs-returning cohort split, and fulfilment-lag distributions
  * (the dashboard staples of the reference's BI layer, reference
  * `sql/insights.sql` family; see SURVEY.md §2 F/G/H).
  *
  * Determinism conventions as established rounds 1-3: money aggregates
  * in exact DECIMAL cast to double once at presentation; percentile
  * breakpoints via R-7 interpolation (Spark `percentile` ≡ DuckDB
  * `quantile_cont`, the q49 contract); shares as integer
  * parts-per-million from exact sums; ratio columns as IEEE doubles
  * computed with identical operand trees in both engines.
  */
object RetailBi {

  private def monDec = col("o_totalprice").cast("decimal(18,2)")

  /** RFM (recency / frequency / monetary) segmentation: per-customer
    * order stats scored 1-5 against exact quintile breakpoints, rolled
    * up to segment grain. Scoring is by THRESHOLD quintile (value
    * compared against the exact 20/40/60/80th percentiles), not ntile —
    * ntile needs a global total-order window (single partition over
    * every customer), while threshold scoring is a 1-row breakpoint agg
    * broadcast back over a map-side comparison: the scalable shape.
    *
    * Recency is measured in days before the corpus' last order date
    * (the "analysis date" a live dashboard would pin to `now()`).
    *
    * Scale shape: one exchange to customer grain, a 1-row global agg
    * for the anchor date, a 1-row agg for the 12 breakpoints (both
    * broadcast), then a bounded 125-cell rollup. Nothing global ever
    * sorts.
    */
  def rfmSegments(spark: SparkSession, sfDir: String): DataFrame = {
    // one orders exchange feeds everything: the anchor date is
    // max(last_date) over the customer grain (same value as a direct
    // orders max, but its subtree shares cust0's exchange, so AQE
    // reuses one scan instead of four)
    val cust0 = Tables.orders(spark, sfDir)
      .groupBy("o_custkey")
      .agg(max(to_date(col("o_orderdate"))).as("last_date"),
        count(lit(1)).as("freq"), sum(monDec).as("mon_dec"))
    val anchor = cust0.agg(max(col("last_date")).as("anchor"))
    val cust = cust0
      .crossJoin(broadcast(anchor))
      .select(col("o_custkey"),
        datediff(col("anchor"), col("last_date")).cast("long").as("rec"),
        col("freq"), col("mon_dec").cast("double").as("mon"))
    // quintile breakpoints via the q49 prefix-sum contract — the last
    // percentile() holdout converted: rec/freq collapse to tiny value
    // domains (days / order counts); mon's distinct set is
    // customer-bounded, for which the sort-based window spills
    // gracefully where a percentile buffer would OOM
    def quints(vc: String, prefix: String) = Features.groupPercentiles(
      cust.select(col(vc)), Seq(), vc,
      Seq(s"${prefix}1" -> 0.2, s"${prefix}2" -> 0.4,
        s"${prefix}3" -> 0.6, s"${prefix}4" -> 0.8))
    val breaks = quints("rec", "r")
      .crossJoin(quints("freq", "f"))
      .crossJoin(quints("mon", "m"))
    def score(v: org.apache.spark.sql.Column, b: String): org.apache.spark.sql.Column =
      lit(1) + (v > col(s"${b}1")).cast("int") + (v > col(s"${b}2")).cast("int") +
        (v > col(s"${b}3")).cast("int") + (v > col(s"${b}4")).cast("int")
    cust.crossJoin(broadcast(breaks))
      // low recency is GOOD: invert so 5 = most recent, matching f/m
      .select(col("o_custkey"),
        (lit(6) - score(col("rec").cast("double"), "r")).as("r_score"),
        score(col("freq").cast("double"), "f").as("f_score"),
        score(col("mon"), "m").as("m_score"), col("mon"))
      .groupBy("r_score", "f_score", "m_score")
      .agg(count(lit(1)).as("n_customers"),
        sum(col("mon").cast("decimal(18,2)")).cast("double")
          .as("total_monetary"))
      .orderBy("r_score", "f_score", "m_score")
  }

  val rfmSegmentsSql: String = {
    def quintsSql(vc: String, prefix: String) =
      Features.groupPercentilesSql("cust", Seq(), vc,
        Seq(s"${prefix}1" -> 0.2, s"${prefix}2" -> 0.4,
          s"${prefix}3" -> 0.6, s"${prefix}4" -> 0.8))
    s"""WITH cust AS (
      |  SELECT o_custkey,
      |    date_diff('day', MAX(CAST(o_orderdate AS DATE)),
      |      (SELECT MAX(CAST(o_orderdate AS DATE)) FROM orders)) AS rec,
      |    COUNT(*) AS freq,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS mon
      |  FROM orders GROUP BY o_custkey),
      |b AS (
      |  SELECT * FROM (${quintsSql("rec", "r")}) rb,
      |    (${quintsSql("freq", "f")}) fb,
      |    (${quintsSql("mon", "m")}) mb),
      |scored AS (
      |  SELECT o_custkey, mon,
      |    6 - (1 + CAST(CAST(rec AS DOUBLE) > r1 AS INT)
      |           + CAST(CAST(rec AS DOUBLE) > r2 AS INT)
      |           + CAST(CAST(rec AS DOUBLE) > r3 AS INT)
      |           + CAST(CAST(rec AS DOUBLE) > r4 AS INT)) AS r_score,
      |    1 + CAST(CAST(freq AS DOUBLE) > f1 AS INT)
      |      + CAST(CAST(freq AS DOUBLE) > f2 AS INT)
      |      + CAST(CAST(freq AS DOUBLE) > f3 AS INT)
      |      + CAST(CAST(freq AS DOUBLE) > f4 AS INT) AS f_score,
      |    1 + CAST(mon > m1 AS INT) + CAST(mon > m2 AS INT)
      |      + CAST(mon > m3 AS INT) + CAST(mon > m4 AS INT) AS m_score
      |  FROM cust, b)
      |SELECT r_score, f_score, m_score, COUNT(*) AS n_customers,
      |  CAST(SUM(CAST(mon AS DECIMAL(18,2))) AS DOUBLE) AS total_monetary
      |FROM scored
      |GROUP BY r_score, f_score, m_score
      |ORDER BY r_score, f_score, m_score""".stripMargin
  }

  val BasketMinPairs = 2 // baskets a product pair must share to be reported
  val BasketMaxItems = 64 // basket size above which a basket is skipped

  /** Market-basket pair affinity: for every pair of parts co-occurring
    * in ≥`BasketMinPairs` orders, the co-occurrence count, each part's own
    * order count, and the lift
    * `P(a,b) / (P(a)·P(b)) = n_ab·N / (n_a·n_b)` — computed as IEEE
    * doubles over identical int64 operands with an identical operand
    * tree in both engines (the SNIPPETS left-fold convention).
    *
    * Scale shape: ONE exchange of the fact (the groupBy on the order
    * key, building each order's sorted item set — bounded by items-per-
    * order); pair generation is then a map-side array combination over
    * that set (no self-join, no second fact exchange — the sorted array
    * canonicalizes `a < b` for free), and item counts and the order
    * count are derived from the SAME aggregated base, so AQE reuses its
    * exchange instead of rescanning. Pair blowup stays items-per-
    * order², never corpus² — and items-per-order is itself CAPPED at
    * `maxItems` before pair generation (first `maxItems` of the sorted
    * set, deterministic), so one pathological mega-basket can't fan out
    * an unbounded items² blob or overflow its task. Like the LSH
    * mega-bucket cap, the cap is a documented RECALL trade: pairs
    * involving an order's items beyond the cap are dropped; item counts
    * and the lift denominators stay uncapped. Default 64 ≫ any real
    * basket (reference carts are single-digit), so results are exact
    * until an order is degenerate.
    */
  def basketPairs(spark: SparkSession, sfDir: String): DataFrame =
    basketPairsFrom(Tables.lineitem(spark, sfDir),
      Tables.part(spark, sfDir), BasketMinPairs, BasketMaxItems)

  /** [[basketPairs]] over an explicit lineitem frame (testability:
    * the mega-basket cap is exercised on an adversarial fixture).
    * `partProxy` sizes the item-count broadcast gate — item counts are
    * bounded by the part catalog, so the catalog scan is the honest
    * scaling upper bound.
    */
  /** Baskets at order grain: the ONE fact exchange the pair family
    * builds on (sorted distinct item arrays).
    */
  private[graft] def baskets(lineitem: DataFrame): DataFrame =
    lineitem
      .groupBy(col("l_orderkey").as("o"))
      .agg(sort_array(collect_set(col("l_partkey"))).as("items"))

  /** Distinct co-purchase pairs (part_a < part_b) with basket counts,
    * generated map-side from the basket arrays (items-per-order capped
    * at `maxItems` — the mega-basket guard). Shared by q94 (lift) and
    * q129 (PageRank edges).
    */
  private[graft] def basketPairCounts(baskets: DataFrame,
      minPairs: Int, maxItems: Int): DataFrame =
    baskets
      .select(explode(
          graft.functions.item_pairs(col("items"), maxItems)).as("pr"))
      .select(col("pr.part_a"), col("pr.part_b"))
      .groupBy("part_a", "part_b")
      .agg(count(lit(1)).as("n_pair"))
      .filter(col("n_pair") >= minPairs)

  def basketPairsFrom(lineitem: DataFrame, partProxy: DataFrame,
      minPairs: Int, maxItems: Int): DataFrame = {
    val bk = baskets(lineitem)
    val pairs = basketPairCounts(bk, minPairs, maxItems)
    val itemCounts = bk
      .select(explode(col("items")).as("p"))
      .groupBy(col("p"))
      .agg(count(lit(1)).as("n_item"))
    // Catalyst rewrites this count to a 1-column (l_orderkey) scan +
    // map-side distinct rather than reusing the fat o-grain collect_set
    // exchange — at 100 TB that's the cheaper branch (one narrow column
    // re-read, small distinct exchange), so we keep the plain form.
    val nOrders = bk.agg(count(lit(1)).as("n_orders"))
    pairs
      .join(Joins.broadcastIfSmall(
          itemCounts.select(col("p").as("part_a"), col("n_item").as("n_a")),
          partProxy),
        Seq("part_a"))
      .join(Joins.broadcastIfSmall(
          itemCounts.select(col("p").as("part_b"), col("n_item").as("n_b")),
          partProxy),
        Seq("part_b"))
      .crossJoin(broadcast(nOrders))
      .select(col("part_a"), col("part_b"), col("n_pair"),
        col("n_a"), col("n_b"),
        ((col("n_pair").cast("double") * col("n_orders").cast("double")) /
          (col("n_a").cast("double") * col("n_b").cast("double")))
          .as("lift"))
      .orderBy("part_a", "part_b")
  }

  /** Oracle cap parity (ADVICE r9): the Spark side's `maxItems = 64`
    * basket cap (first 64 of each order's sorted distinct items feeds
    * PAIR generation; item counts and the order count stay uncapped)
    * is restated verbatim — `capped` is a ROW_NUMBER ≤ 64 slice of the
    * sorted distinct items, used ONLY by the pairs CTE. No-op at
    * current data (max basket ~7), exact at any data.
    */
  def basketPairsSql: String =
    // items/capped MATERIALIZED (round-14): multi-referenced CTEs that
    // DuckDB would otherwise inline per reference, re-running the
    // distinct + ROW_NUMBER window (measured fine at sf3 — 4.8 s —
    // but the q129 twin of this tree spilled 76 GB when inlined into
    // its PageRank iterations; pinning the hint here keeps the whole
    // pair family one-shot regardless of how many consumers reference
    // the CTEs)
    s"""WITH items AS MATERIALIZED (
       |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
       |capped AS MATERIALIZED (
       |  SELECT o, p FROM (
       |    SELECT o, p,
       |      ROW_NUMBER() OVER (PARTITION BY o ORDER BY p) AS rn
       |    FROM items)
       |  WHERE rn <= $BasketMaxItems),
       |pairs AS (
       |  SELECT a.p AS part_a, b.p AS part_b, COUNT(*) AS n_pair
       |  FROM capped a JOIN capped b ON a.o = b.o AND a.p < b.p
       |  GROUP BY a.p, b.p
       |  HAVING COUNT(*) >= $BasketMinPairs),
       |ic AS (SELECT p, COUNT(*) AS n_item FROM items GROUP BY p),
       |n AS (SELECT COUNT(DISTINCT o) AS n_orders FROM items)
       |SELECT part_a, part_b, n_pair, ia.n_item AS n_a, ib.n_item AS n_b,
       |  (CAST(n_pair AS DOUBLE) * CAST(n_orders AS DOUBLE)) /
       |    (CAST(ia.n_item AS DOUBLE) * CAST(ib.n_item AS DOUBLE)) AS lift
       |FROM pairs
       |JOIN ic ia ON part_a = ia.p
       |JOIN ic ib ON part_b = ib.p
       |CROSS JOIN n
       |ORDER BY part_a, part_b""".stripMargin

  /** ABC (Pareto) classification: parts ranked by revenue, classified A
    * while the running share of total revenue is ≤80%, B to ≤95%, C for
    * the tail; reported at class grain. Running shares are integer ppm
    * from exact decimal sums (q06 contract).
    *
    * Scale shape: the fact collapses to part grain FIRST (one
    * exchange); the cumulative window then orders the bounded part-
    * grain frame — a dim-sized single-partition sort, explicitly
    * documented as such (same reasoning as the q06 grand-total window:
    * the window input is catalog-sized, not fact-sized).
    */
  def abcClassification(spark: SparkSession, sfDir: String): DataFrame = {
    val byRev = Window.orderBy(col("rev").desc, col("l_partkey"))
    Tables.lineitem(spark, sfDir)
      .groupBy("l_partkey")
      .agg(Insights.revenueSum.as("rev"))
      .withColumn("cum", sum(col("rev")).over(
        byRev.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("total", sum(col("rev")).over(
        Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      // integer ppm via exact INTEGER division on cents-scaled sums
      // (the weekdaySeasonality idiom): a decimal `/` feeding FLOOR
      // diverges between engines — Spark keeps a scale-capped decimal,
      // DuckDB returns DOUBLE — so the two floors can disagree when the
      // true ratio sits within an ulp of an integer
      .withColumn("cum_ppm", expr(
        """CAST((CAST(cum * 100 AS DECIMAL(38,0)) * 1000000)
          |  div CAST(total * 100 AS DECIMAL(38,0)) AS BIGINT)""".stripMargin))
      .withColumn("abc_class",
        when(col("cum_ppm") <= 800000L, lit("A"))
          .when(col("cum_ppm") <= 950000L, lit("B"))
          .otherwise(lit("C")))
      .groupBy("abc_class")
      .agg(count(lit(1)).as("n_parts"),
        sum(col("rev")).cast("double").as("revenue"),
        min("cum_ppm").as("min_cum_ppm"), max("cum_ppm").as("max_cum_ppm"))
      .orderBy("abc_class")
  }

  val abcClassificationSql: String =
    s"""WITH pr AS (
       |  SELECT l_partkey, SUM(${Insights.revenueSql}) AS rev
       |  FROM lineitem GROUP BY l_partkey),
       |ranked AS (
       |  SELECT l_partkey, rev,
       |    SUM(rev) OVER (ORDER BY rev DESC, l_partkey
       |      ROWS UNBOUNDED PRECEDING) AS cum,
       |    SUM(rev) OVER () AS total
       |  FROM pr),
       |classed AS (
       |  SELECT rev,
       |    CAST((CAST(cum * 100 AS HUGEINT) * 1000000)
       |      // CAST(total * 100 AS HUGEINT) AS BIGINT) AS cum_ppm
       |  FROM ranked),
       |classed2 AS (
       |  SELECT rev, cum_ppm,
       |    CASE WHEN cum_ppm <= 800000 THEN 'A'
       |         WHEN cum_ppm <= 950000 THEN 'B'
       |         ELSE 'C' END AS abc_class
       |  FROM classed)
       |SELECT abc_class, COUNT(*) AS n_parts,
       |  CAST(SUM(rev) AS DOUBLE) AS revenue,
       |  MIN(cum_ppm) AS min_cum_ppm, MAX(cum_ppm) AS max_cum_ppm
       |FROM classed2
       |GROUP BY abc_class
       |ORDER BY abc_class""".stripMargin

  /** New-vs-returning monthly split: an order is "new" when its month
    * equals the customer's first-ever order month. The acquisition/
    * retention trend every subscription and commerce dashboard leads
    * with.
    *
    * Scale shape: first-order month at customer grain, joined back on
    * the SAME key the grain was built on (co-partitioned, no second
    * exchange of the fact), then a bounded (month × 2) rollup.
    * n_customers is exact distinct per cell — one Expand-free
    * two-level agg since the cell count is bounded.
    */
  def newVsReturning(spark: SparkSession, sfDir: String): DataFrame = {
    val orders = Tables.orders(spark, sfDir)
      .select(col("o_custkey"),
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate")) - 1)
          .as("m"),
        monDec.as("mon"))
    val firstMonth = orders.groupBy("o_custkey")
      .agg(min(col("m")).as("first_m"))
    orders.join(firstMonth, Seq("o_custkey"))
      .withColumn("is_new", (col("m") === col("first_m")).cast("int"))
      .groupBy("m", "is_new")
      .agg(count(lit(1)).as("n_orders"),
        countDistinct(col("o_custkey")).as("n_customers"),
        sum(col("mon")).cast("double").as("revenue"))
      .select((col("m") / 12).cast("int").as("sales_year"),
        (pmod(col("m"), lit(12)) + 1).cast("int").as("sales_month"),
        col("is_new"), col("n_orders"), col("n_customers"), col("revenue"))
      .orderBy("sales_year", "sales_month", "is_new")
  }

  val newVsReturningSql: String =
    """WITH o AS (
      |  SELECT o_custkey,
      |    year(o_orderdate) * 12 + month(o_orderdate) - 1 AS m,
      |    CAST(o_totalprice AS DECIMAL(18,2)) AS mon
      |  FROM orders),
      |fm AS (SELECT o_custkey, MIN(m) AS first_m FROM o GROUP BY o_custkey)
      |SELECT CAST(o.m // 12 AS INT) AS sales_year,
      |  CAST(o.m % 12 + 1 AS INT) AS sales_month,
      |  CAST(o.m = fm.first_m AS INT) AS is_new,
      |  COUNT(*) AS n_orders,
      |  CAST(COUNT(DISTINCT o.o_custkey) AS BIGINT) AS n_customers,
      |  CAST(SUM(mon) AS DOUBLE) AS revenue
      |FROM o JOIN fm ON o.o_custkey = fm.o_custkey
      |GROUP BY o.m, CAST(o.m = fm.first_m AS INT)
      |ORDER BY sales_year, sales_month, is_new""".stripMargin

  /** Fulfilment-lag distribution: days between order placement and each
    * line's ship date, summarized per order priority with exact min/max
    * and R-7 median/p90 (q49 percentile contract). The SLA view: are
    * urgent orders actually shipping faster?
    *
    * Scale shape: a fact-fact equi-join on the order key (both sides
    * hash-partition on it — at scale this is THE shuffle, and it's
    * unavoidable and linear), then ONE collapse to (priority, lag)
    * grain — lags are small integers, so the grain is bounded by the
    * lag-day DOMAIN, not by fact rows. Base stats and the prefix-sum
    * percentiles ([[Features.weightedPercentiles]], q49 R-7 contract)
    * both derive from that grain; no percentile buffer anywhere.
    */
  def shipLag(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), to_date(col("l_shipdate")).as("ship"))
    val o = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_orderpriority"),
        to_date(col("o_orderdate")).as("placed"))
    val grain = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .select(col("o_orderpriority"),
        datediff(col("ship"), col("placed")).cast("long").as("lag_days"))
      .groupBy("o_orderpriority", "lag_days")
      .agg(count(lit(1)).as("w"))
    val base = grain.groupBy("o_orderpriority")
      .agg(sum("w").as("n_lines"),
        min("lag_days").as("min_lag"), max("lag_days").as("max_lag"))
    val pct = Features.weightedPercentiles(grain, Seq("o_orderpriority"),
      "lag_days", "w", Seq("median_lag" -> 0.5, "p90_lag" -> 0.9))
    base.join(pct, Seq("o_orderpriority")).orderBy("o_orderpriority")
  }

  val shipLagSql: String = {
    val pctSql = Features.weightedPercentilesSql("g",
      Seq("o_orderpriority"), "lag_days", "w",
      Seq("median_lag" -> 0.5, "p90_lag" -> 0.9))
    s"""WITH lg AS (
       |  SELECT o_orderpriority,
       |    date_diff('day', CAST(o_orderdate AS DATE),
       |      CAST(l_shipdate AS DATE)) AS lag_days
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |g AS (
       |  SELECT o_orderpriority, lag_days, COUNT(*) AS w
       |  FROM lg GROUP BY o_orderpriority, lag_days),
       |b AS (
       |  SELECT o_orderpriority, CAST(SUM(w) AS BIGINT) AS n_lines,
       |    MIN(lag_days) AS min_lag, MAX(lag_days) AS max_lag
       |  FROM g GROUP BY o_orderpriority),
       |p AS (
       |  $pctSql)
       |SELECT b.o_orderpriority, n_lines, min_lag, max_lag,
       |  median_lag, p90_lag
       |FROM b JOIN p ON b.o_orderpriority = p.o_orderpriority
       |ORDER BY b.o_orderpriority""".stripMargin
  }

  /** Weekday seasonality profile: revenue share and a seasonal index
    * per ship weekday (1=Mon..7=Sun, the reference's B8 convention) —
    * index 1_000_000 ppm = that weekday carries exactly its uniform
    * 1/7 share. One partial→final agg to 7 rows; the grand total is a
    * window over those 7 rows (bounded, the q06 pattern). Shares in
    * integer ppm via exact INTEGER division on cents-scaled sums (the
    * heavy-hitters idiom) — engine-exact by construction at any
    * revenue scale, unlike a decimal `/` whose result type diverges
    * between engines (Spark keeps a scale-capped decimal, DuckDB
    * returns DOUBLE).
    */
  def weekdaySeasonality(spark: SparkSession, sfDir: String): DataFrame = {
    val wAll = Window.partitionBy()
    Tables.lineitem(spark, sfDir)
      .groupBy(Cleaning.weekdayMon1(to_date(col("l_shipdate")))
          .cast("int").as("weekday"))
      .agg(Insights.revenueSum.as("revd"))
      // revd is decimal(34,4): the cast to decimal(38,0) rounds the
      // cents HALF_UP, as DuckDB's CAST(... AS HUGEINT) does
      .withColumn("cents", (col("revd") * 100).cast("decimal(38,0)"))
      .withColumn("total", sum("cents").over(wAll))
      .select(col("weekday"), col("revd").cast("double").as("revenue"),
        expr("CAST((cents * 1000000) div total AS BIGINT)")
          .as("share_ppm"),
        expr("CAST((cents * 7000000) div total AS BIGINT)")
          .as("index_ppm"))
      .orderBy("weekday")
  }

  val weekdaySeasonalitySql: String =
    s"""WITH wd AS (
       |  SELECT CAST(isodow(CAST(l_shipdate AS TIMESTAMP)) AS INT)
       |      AS weekday,
       |    SUM(${Insights.revenueSql}) AS revd
       |  FROM lineitem GROUP BY 1),
       |w2 AS (SELECT weekday, revd,
       |    CAST(revd * 100 AS HUGEINT) AS cents FROM wd),
       |t AS (SELECT SUM(cents) AS total FROM w2)
       |SELECT weekday, CAST(revd AS DOUBLE) AS revenue,
       |  CAST((cents * 1000000) // total AS BIGINT) AS share_ppm,
       |  CAST((cents * 7000000) // total AS BIGINT) AS index_ppm
       |FROM w2, t
       |ORDER BY weekday""".stripMargin
}
