package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Feature-engineering / statistics operators: quantile binning, exact
  * distributed moments (correlation/regression), fixed-width histograms,
  * and trailing-window smoothing. The common thread is cross-engine
  * determinism at scale: every aggregate here is either integer-exact,
  * decimal-exact, or a window with a total order — no floating partial
  * sums whose value depends on partitioning.
  */
object Features {

  /** Engine-portable exact-decimal → double conversion for values whose
    * SCALED integer exceeds 2^53. Above that line the two engines stop
    * agreeing on a plain cast: Spark rounds the decimal to double once
    * (correctly — BigDecimal.doubleValue), while DuckDB converts the
    * int128 payload and divides by 10^scale — two roundings, which for
    * ~1 in 2000 values lands 1 ulp away (observed: q69's second moments
    * at sf0.001). The fix decomposes the scaled integer at a 1e9
    * boundary:
    *
    *   sc = c * 10^scale          (exact integer, both engines)
    *   hi = sc div 1e9, lo = sc mod 1e9   (exact integer arithmetic)
    *   d  = (double(hi) * 1e9 + double(lo)) / 10^scale
    *
    * lo < 1e9 converts exactly; every remaining step is a single
    * correctly-rounded IEEE op on identical operands in both engines,
    * so the result is bit-identical by construction (it may differ from
    * the ideal single rounding in the last ulp — irrelevant, both
    * engines agree). `scale` must be ≥ the value's fractional digits
    * (so sc is integral) and the value nonnegative with sc < ~1.8e28
    * (hi must fit an exact uint64 conversion); decimal moments are far
    * inside both bounds.
    */
  def decToDouble(c: org.apache.spark.sql.Column,
      scale: Int): org.apache.spark.sql.Column = {
    val pow = BigInt(10).pow(scale).toLong
    // decimal(29,0): big enough for any moment here, small enough that
    // the /1e9 quotient keeps ≥9 fractional digits after Spark's
    // precision-cap scale adjustment — i.e. floor() sees the exact value.
    // Widening to (38,0) would cap that quotient's scale at 6, where
    // HALF_UP rounding can cross an integer boundary and break the
    // floor — so the width stays 29 and the range is GUARDED instead:
    // beyond ~1e28 the narrowing cast would silently null, so fail
    // loudly (assert_true) rather than let outputs go null at large sf.
    val sc0 = (c * lit(pow)).cast("decimal(38,0)")
    val inRange = sc0.isNull ||
      abs(sc0) < lit(BigDecimal("10000000000000000000000000000"))
    val sc = when(
      assert_true(inRange, lit("decToDouble: |value|*1e" + scale +
        " >= 1e28 - outside the exact-floor range; split the sum or " +
        "reduce the scale")).isNull,
      sc0).cast("decimal(29,0)")
    val hi = floor(sc / lit(1000000000L)).cast("decimal(29,0)")
    val lo = (sc - hi * lit(1000000000L)).cast("decimal(29,0)")
    (hi.cast("double") * lit(1.0e9) + lo.cast("double")) /
      lit(pow.toDouble)
  }

  /** DuckDB twin of [[decToDouble]] — same decomposition on HUGEINT. */
  def decToDoubleSql(e: String, scale: Int): String = {
    val pow = BigInt(10).pow(scale)
    s"""((CAST(CAST(($e) * $pow AS HUGEINT) // 1000000000 AS DOUBLE)
       |  * 1000000000.0
       |  + CAST(CAST(($e) * $pow AS HUGEINT) % 1000000000 AS DOUBLE))
       |  / $pow.0)""".stripMargin
  }

  /** Scale-safe exact percentiles over an already-collapsed
    * (group, value, weight) grain: R-7 linear interpolation computed
    * with prefix sums instead of a percentile buffer. Shape:
    *
    *   1. one per-group prefix-sum window over the VALUE GRAIN (state
    *      bounded by the value domain, never by fact rows);
    *   2. a per-group agg that picks the two bracketing values
    *      `v_lo = value at 0-based rank ⌊h⌋`, `v_hi = rank ⌊h⌋+1`
    *      (h = (n−1)·p, the R-7 position) via `min(when(cumw > ⌊h⌋))`;
    *   3. `v_lo + (h−⌊h⌋)·(v_hi − v_lo)` — the exact expression both
    *      engines evaluate on bit-identical double operands, so results
    *      hash-match quantile semantics by construction.
    *
    * This replaces `percentile()` on the 100 TB read path: Spark's
    * exact percentile buffers every distinct value per group inside ONE
    * aggregation buffer on one executor, while this form keeps the
    * collapse a spillable hash aggregate and the window input
    * domain-bounded. For a group whose distinct-value set outgrows a
    * partition, the scale path swaps the window for the
    * [[ScalableKeys]] range-partition + per-partition-offset prefix
    * sum (q116 contract — same breakpoint algebra).
    *
    * `grain` carries a BIGINT multiplicity in `weightCol`; duplicate
    * (groupCols, valueCol) rows are allowed — the breakpoint pick is
    * tie-stable (whatever the intra-tie running-sum order, the row
    * crossing rank k carries the same VALUE). `ps` maps output column
    * name → percentile.
    */
  def weightedPercentiles(grain: DataFrame, groupCols: Seq[String],
      valueCol: String, weightCol: String,
      ps: Seq[(String, Double)]): DataFrame = {
    val pb = Window.partitionBy(groupCols.map(col): _*)
    // both frames share one (partition, order) spec → ONE WindowExec,
    // one sort; the group total rides the entire-partition frame
    val ordRun = pb.orderBy(col(valueCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ordAll = pb.orderBy(col(valueCol))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val c = grain
      .withColumn("__cumw", sum(col(weightCol)).over(ordRun))
      .withColumn("__n", sum(col(weightCol)).over(ordAll))
    val aggs = ps.flatMap { case (name, p) =>
      // h exactly as DuckDB computes it: double(n-1) * double(p)
      val h = (col("__n") - 1).cast("double") * lit(p)
      val kLo = floor(h) // LongType in Spark; integral either way
      Seq(
        min(when(col("__cumw") > kLo, col(valueCol))).as(s"__lo_$name"),
        min(when(col("__cumw") > kLo + 1, col(valueCol))).as(s"__hi_$name"),
        max(h - kLo).as(s"__f_$name"))
    }
    val out = ps.map { case (name, _) =>
      val lo = col(s"__lo_$name").cast("double")
      val hi = coalesce(col(s"__hi_$name"), col(s"__lo_$name"))
        .cast("double")
      (lo + col(s"__f_$name") * (hi - lo)).as(name)
    }
    // the grouped agg needs no exchange: the window output is already
    // hash(groupCols)-partitioned. The trailing repartition(1) is a
    // MATERIALIZATION BARRIER on the group-count-bounded result, not a
    // distribution choice: without an exchange above the window chain,
    // a downstream global ORDER BY's range-partition sampling pass
    // re-executes the entire chain a second time (measured ~2x on the
    // percentile family).
    c.groupBy(groupCols.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
      .select(groupCols.map(col) ++ out: _*)
      .repartition(1)
  }

  /** Row-grain form of [[weightedPercentiles]]: ATTACHES the R-7
    * percentile columns to every grain row via unbounded-frame window
    * aggregates over the same per-group partitioning, instead of
    * collapsing. Use when a downstream derivation needs the breakpoint
    * next to each row (e.g. MAD's |value − median|): everything after
    * the grain exchange — running sum, breakpoint pick, derivation,
    * even a re-collapse on a derived column — stays in ONE hash(group)
    * stage with no joins, no broadcasts and no further exchanges
    * (window output partitioning already satisfies any groupBy on a
    * subset of the group columns).
    */
  def withWeightedPercentiles(grain: DataFrame, groupCols: Seq[String],
      valueCol: String, weightCol: String,
      ps: Seq[(String, Double)]): DataFrame = {
    val pb = Window.partitionBy(groupCols.map(col): _*)
    val ordRun = pb.orderBy(col(valueCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ordAll = pb.orderBy(col(valueCol))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    var c = grain
      .withColumn("__cumw", sum(col(weightCol)).over(ordRun))
      .withColumn("__n", sum(col(weightCol)).over(ordAll))
    // h/kLo must be materialized columns: they feed the when() inside
    // the next window batch, and window exprs can't nest. Every frame
    // shares the one (partition, order) spec, so each batch is a
    // single WindowExec and the sort happens once.
    for ((name, p) <- ps) {
      // h exactly as DuckDB computes it: double(n-1) * double(p)
      c = c.withColumn(s"__h_$name",
          (col("__n") - 1).cast("double") * lit(p))
        .withColumn(s"__k_$name", floor(col(s"__h_$name")))
    }
    // all breakpoint picks in ONE projection: sequential withColumns
    // would split them into separate Window operators (the extracted
    // CASE WHEN pre-projection breaks spec-adjacency); a single select
    // keeps every pick in one WindowExec over the existing sort
    val picks = ps.flatMap { case (name, _) =>
      Seq(
        min(when(col("__cumw") > col(s"__k_$name"), col(valueCol)))
          .over(ordAll).as(s"__rlo_$name"),
        min(when(col("__cumw") > col(s"__k_$name") + 1, col(valueCol)))
          .over(ordAll).as(s"__rhi_$name"))
    }
    c = c.select(c.columns.map(col) ++ picks: _*)
    val out = ps.map { case (name, _) =>
      val lo = col(s"__rlo_$name").cast("double")
      val hi = coalesce(col(s"__rhi_$name"), col(s"__rlo_$name"))
        .cast("double")
      (lo + (col(s"__h_$name") - col(s"__k_$name")) * (hi - lo)).as(name)
    }
    c.select(grain.columns.map(col) ++ out: _*)
  }

  /** [[weightedPercentiles]] over raw rows: collapses to value grain
    * (one spillable partial-agg pass) and weights by multiplicity.
    */
  def groupPercentiles(df: DataFrame, groupCols: Seq[String],
      valueCol: String, ps: Seq[(String, Double)]): DataFrame =
    weightedPercentiles(
      df.groupBy((groupCols :+ valueCol).map(col): _*)
        .agg(count(lit(1)).as("__w")),
      groupCols, valueCol, "__w", ps)

  /** DuckDB twin of [[weightedPercentiles]] — same prefix-sum + R-7
    * expression tree, emitted as a standalone SELECT over `src` (a
    * table, CTE name, or parenthesized subquery). Every float step is
    * written with the identical operand tree as the Spark side
    * (CAST(n-1 AS DOUBLE) * CAST(p AS DOUBLE), FLOOR, the
    * lo + f*(hi-lo) blend), so the cells are bit-identical.
    */
  def weightedPercentilesSql(src: String, groupCols: Seq[String],
      valueExpr: String, weightExpr: String,
      ps: Seq[(String, Double)]): String = {
    val grpSel = if (groupCols.isEmpty) "" else groupCols.mkString(", ") + ", "
    val grpBy =
      if (groupCols.isEmpty) "" else "GROUP BY " + groupCols.mkString(", ")
    val pbOrd = if (groupCols.isEmpty) ""
      else s"PARTITION BY ${groupCols.mkString(", ")} "
    val aggs = ps.map { case (name, p) =>
      val h = s"CAST(n - 1 AS DOUBLE) * CAST($p AS DOUBLE)"
      s"""    MIN(CASE WHEN cumw > FLOOR($h) THEN v END) AS lo_$name,
         |    MIN(CASE WHEN cumw > FLOOR($h) + 1 THEN v END) AS hi_$name,
         |    MAX($h - FLOOR($h)) AS f_$name""".stripMargin
    }.mkString(",\n")
    val outs = ps.map { case (name, _) =>
      s"""CAST(lo_$name AS DOUBLE) + f_$name *
         |    (CAST(COALESCE(hi_$name, lo_$name) AS DOUBLE)
         |      - CAST(lo_$name AS DOUBLE)) AS $name""".stripMargin
    }.mkString(",\n  ")
    s"""SELECT ${grpSel}$outs
       |FROM (
       |  SELECT ${grpSel}
       |$aggs
       |  FROM (
       |    SELECT ${grpSel}($valueExpr) AS v,
       |      SUM($weightExpr) OVER (${pbOrd}ORDER BY ($valueExpr)
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumw,
       |      SUM($weightExpr) OVER (${if (pbOrd.isEmpty) "" else pbOrd.trim})
       |        AS n
       |    FROM $src) pc
       |  $grpBy) pa""".stripMargin
  }

  /** DuckDB twin of [[groupPercentiles]]: value-grain collapse inline. */
  def groupPercentilesSql(src: String, groupCols: Seq[String],
      valueExpr: String, ps: Seq[(String, Double)]): String = {
    val grpSel = if (groupCols.isEmpty) "" else groupCols.mkString(", ") + ", "
    val grain =
      s"""(SELECT ${grpSel}($valueExpr) AS v, COUNT(*) AS w
         |     FROM $src GROUP BY ${grpSel}($valueExpr)) vg""".stripMargin
    weightedPercentilesSql(grain, groupCols, "v", "w", ps)
  }

  val DecileCount = 10 // quantile buckets of the value deciles

  /** Equi-depth (decile) binning of event values per type — the
    * rank-based feature transform. ntile over a per-type window with a
    * total order (value, event_id tiebreak), rolled up to bin
    * boundaries. The exchange is on event_type only; each type's sort
    * stays inside its partition.
    */
  def valueDeciles(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("event_type")
      .orderBy(col("value"), col("event_id"))
    Tables.events(spark, sfDir)
      .withColumn("decile", ntile(DecileCount).over(w))
      .groupBy("event_type", "decile")
      .agg(count(lit(1)).as("n_events"),
        min("value").as("min_value"), max("value").as("max_value"))
      .orderBy("event_type", "decile")
  }

  def valueDecilesSql: String =
    s"""SELECT event_type, decile, COUNT(*) AS n_events,
       |  MIN(value) AS min_value, MAX(value) AS max_value
       |FROM (
       |  SELECT event_type, event_id, value,
       |    NTILE($DecileCount) OVER (PARTITION BY event_type
       |      ORDER BY value, event_id) AS decile
       |  FROM events)
       |GROUP BY event_type, decile
       |ORDER BY event_type, decile""".stripMargin

  /** Exact distributed correlation + regression slope of
    * (l_quantity, l_extendedprice) per return flag, from DECIMAL moment
    * sums — not `corr()`, whose double partial sums are
    * partitioning-dependent. The five moments are exact decimals (one
    * map-side partial-agg pass), converted to double ONCE each, then
    * combined with scalar IEEE arithmetic — bit-identical on any
    * cluster size and in any engine. This is how you get reproducible
    * statistics at 100 TB.
    */
  def exactCorr(spark: SparkSession, sfDir: String): DataFrame = {
    val x = col("l_quantity").cast("decimal(18,2)")
    val y = col("l_extendedprice").cast("decimal(18,2)")
    Tables.lineitem(spark, sfDir)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(x).as("sx"), sum(y).as("sy"),
        sum(x * x).as("sxx"), sum(y * y).as("syy"),
        sum(x * y).as("sxy"))
      // second moments overflow the 2^53 exact-cast range — convert via
      // the [[decToDouble]] decomposition (plain casts diverge 1 ulp
      // between engines; observed on syy at sf0.001)
      .select(col("l_returnflag"), col("n"),
        col("n").cast("double").as("nd"),
        decToDouble(col("sx"), 2).as("sxd"),
        decToDouble(col("sy"), 2).as("syd"),
        decToDouble(col("sxx"), 4).as("sxxd"),
        decToDouble(col("syy"), 4).as("syyd"),
        decToDouble(col("sxy"), 4).as("sxyd"))
      .select(col("l_returnflag"), col("n"),
        ((col("nd") * col("sxyd") - col("sxd") * col("syd")) /
          (sqrt(col("nd") * col("sxxd") - col("sxd") * col("sxd")) *
            sqrt(col("nd") * col("syyd") - col("syd") * col("syd"))))
          .as("corr_qty_price"),
        ((col("nd") * col("sxyd") - col("sxd") * col("syd")) /
          (col("nd") * col("sxxd") - col("sxd") * col("sxd")))
          .as("beta_price_per_qty"))
      .orderBy("l_returnflag")
  }

  val exactCorrSql: String = {
    val m = """SELECT l_returnflag, COUNT(*) AS n,
              |    SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sx,
              |    SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS sy,
              |    SUM(CAST(l_quantity AS DECIMAL(18,2))
              |      * CAST(l_quantity AS DECIMAL(18,2))) AS sxx,
              |    SUM(CAST(l_extendedprice AS DECIMAL(18,2))
              |      * CAST(l_extendedprice AS DECIMAL(18,2))) AS syy,
              |    SUM(CAST(l_quantity AS DECIMAL(18,2))
              |      * CAST(l_extendedprice AS DECIMAL(18,2))) AS sxy
              |  FROM lineitem GROUP BY l_returnflag""".stripMargin
    val d = s"""SELECT l_returnflag, n, CAST(n AS DOUBLE) AS nd,
               |    ${decToDoubleSql("sx", 2)} AS sxd,
               |    ${decToDoubleSql("sy", 2)} AS syd,
               |    ${decToDoubleSql("sxx", 4)} AS sxxd,
               |    ${decToDoubleSql("syy", 4)} AS syyd,
               |    ${decToDoubleSql("sxy", 4)} AS sxyd
               |  FROM ($m)""".stripMargin
    s"""SELECT l_returnflag, n,
       |  (nd * sxyd - sxd * syd)
       |  / (sqrt(nd * sxxd - sxd * sxd) * sqrt(nd * syyd - syd * syd))
       |    AS corr_qty_price,
       |  (nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd)
       |    AS beta_price_per_qty
       |FROM (
       |  $d)
       |ORDER BY l_returnflag""".stripMargin
  }

  /** Analytic rank functions: percent_rank and cume_dist of part price
    * within its type — the [0,1]-normalized rank features a model
    * pipeline feeds instead of raw prices. Both engines define
    * percent_rank = (rank-1)/(n-1) and cume_dist = rank_rows/n; with
    * the unique (price, partkey) order the ranks are tie-free, so the
    * doubles are single identical IEEE divisions. Types with one part
    * are excluded (percent_rank's 0/0 is engine-defined there).
    * The window partitions by p_type — bounded by the type domain.
    */
  def priceRanks(spark: SparkSession, sfDir: String): DataFrame = {
    val byType = Window.partitionBy("p_type")
    val ord = Window.partitionBy("p_type")
      .orderBy(col("price"), col("p_partkey"))
    Tables.part(spark, sfDir)
      .select(col("p_partkey"), col("p_type"),
        col("p_retailprice").as("price"))
      .withColumn("n_in_type", count(lit(1)).over(byType))
      .filter(col("n_in_type") >= 2)
      .withColumn("pr", percent_rank().over(ord))
      .withColumn("cd", cume_dist().over(ord))
      .orderBy("p_type", "price", "p_partkey")
  }

  val priceRanksSql: String =
    """WITH c AS (
      |  SELECT p_partkey, p_type, p_retailprice AS price,
      |    COUNT(*) OVER (PARTITION BY p_type) AS n_in_type
      |  FROM part),
      |f AS (SELECT * FROM c WHERE n_in_type >= 2)
      |SELECT p_partkey, p_type, price, CAST(n_in_type AS BIGINT)
      |    AS n_in_type,
      |  PERCENT_RANK() OVER (PARTITION BY p_type
      |    ORDER BY price, p_partkey) AS pr,
      |  CUME_DIST() OVER (PARTITION BY p_type
      |    ORDER BY price, p_partkey) AS cd
      |FROM f
      |ORDER BY p_type, price, p_partkey""".stripMargin

  /** Exact weighted median (lower median) of line price weighted by
    * quantity, per return flag: the smallest price whose cumulative
    * weight reaches half the total. Entirely integer arithmetic on the
    * weights (quantity is integral), so the breakpoint is
    * engine-exact — no percentile interpolation. Collapses to
    * (flag, price) grain first (partial agg), then one per-flag
    * prefix-sum window; for a corpus where one flag's distinct-price
    * set outgrows a partition, the scale path is the
    * [[ScalableKeys.withPrefixSum]] range-partition + offsets form.
    */
  def weightedMedian(spark: SparkSession, sfDir: String): DataFrame = {
    val ord = Window.partitionBy("l_returnflag").orderBy("price")
      .rowsBetween(Window.unboundedPreceding, 0)
    // same (partition, order) spec as `ord` so both frames share one
    // WindowExec and one sort
    val all = Window.partitionBy("l_returnflag").orderBy("price")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.lineitem(spark, sfDir)
      .select(col("l_returnflag"), col("l_extendedprice").as("price"),
        round(col("l_quantity")).cast("long").as("w"))
      .groupBy("l_returnflag", "price").agg(sum("w").as("w"))
      .withColumn("cumw", sum("w").over(ord))
      .withColumn("total", sum("w").over(all))
      .filter(col("cumw") * 2 >= col("total"))
      .groupBy("l_returnflag")
      .agg(min("price").as("weighted_median"),
        max("total").as("total_weight"))
      // materialization barrier (3 rows): without it the ORDER BY's
      // range sampling re-runs the prefix-sum window (measured ~2x)
      .repartition(1)
      .orderBy("l_returnflag")
  }

  val weightedMedianSql: String =
    """WITH g AS (
      |  SELECT l_returnflag, l_extendedprice AS price,
      |    CAST(SUM(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS w
      |  FROM lineitem GROUP BY 1, 2),
      |c AS (
      |  SELECT l_returnflag, price, w,
      |    SUM(w) OVER (PARTITION BY l_returnflag ORDER BY price
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumw,
      |    SUM(w) OVER (PARTITION BY l_returnflag) AS total
      |  FROM g)
      |SELECT l_returnflag, MIN(price) AS weighted_median,
      |  CAST(MAX(total) AS BIGINT) AS total_weight
      |FROM c WHERE cumw * 2 >= total
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  val PriceBinWidth = 50000L // price histogram bin width, in price units

  /** Fixed-width histogram of order totals in integer cents — bin
    * arithmetic entirely in BIGINT (cents div binWidthCents), so bin
    * edges are exact: no double rounding at the boundaries, identical
    * bins in every engine. One partial-agg pass; presentation converts
    * cents to dollars at the end.
    */
  def priceHistogram(spark: SparkSession, sfDir: String): DataFrame = {
    val binCents = PriceBinWidth * 100
    // o_totalprice is a DOUBLE in the testdata: *100 can land at
    // x.9999…, so round() before the integer cast (Spark casts by
    // truncation, DuckDB by rounding — round() makes both exact)
    Tables.orders(spark, sfDir)
      .withColumn("cents", round(col("o_totalprice") * 100).cast("long"))
      .withColumn("bin", expr(s"cents div $binCents"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_orders"), sum("cents").as("sum_cents"))
      .select((col("bin") * PriceBinWidth).cast("long").as("bin_low"),
        col("n_orders"),
        (col("sum_cents").cast("double") / 100.0).as("sum_price"))
      .orderBy("bin_low")
  }

  def priceHistogramSql: String = {
    val binCents = PriceBinWidth * 100
    s"""SELECT CAST((CAST(round(o_totalprice * 100) AS BIGINT) // $binCents)
       |    * $PriceBinWidth AS BIGINT) AS bin_low,
       |  COUNT(*) AS n_orders,
       |  CAST(CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
       |    / 100.0 AS DOUBLE) AS sum_price
       |FROM orders
       |GROUP BY bin_low
       |ORDER BY bin_low""".stripMargin
  }

  val MovingWindowDays = 7 // trailing window of the moving revenue, in days

  /** 7-day trailing revenue smoothing: daily grain first (decimal-exact
    * sums), then a RANGE window keyed on integer day number. The global
    * window is over DAILY grain — bounded by the calendar (a few
    * thousand rows regardless of fact size), the documented exception
    * to the no-global-window rule (same class as q06's grand total).
    * The decimal window sum stays exact; the single decimal→double
    * conversion happens in the final projection.
    */
  def movingRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables.lineitem(spark, sfDir)
      .groupBy(to_date(col("l_shipdate")).as("ship_date"))
      .agg(Insights.revenueSum.as("rev"),
        count(lit(1)).as("n_items"))
      .withColumn("day_n", datediff(col("ship_date"),
        lit("1970-01-01").cast("date")))
    val w = Window.orderBy("day_n").rangeBetween(-(MovingWindowDays - 1), 0)
    daily
      .withColumn("mov_rev", sum("rev").over(w))
      .withColumn("mov_n", sum("n_items").over(w))
      .select(col("ship_date"),
        col("rev").cast("double").as("revenue"),
        col("mov_rev").cast("double").as(s"revenue_${MovingWindowDays}d"),
        (col("mov_rev").cast("double") / col("mov_n"))
          .as(s"avg_item_revenue_${MovingWindowDays}d"))
      .orderBy("ship_date")
  }

  def movingRevenueSql: String =
    s"""WITH daily AS (
       |  SELECT CAST(l_shipdate AS DATE) AS ship_date,
       |    SUM(${Insights.revenueSql}) AS rev,
       |    COUNT(*) AS n_items,
       |    datediff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE))
       |      AS day_n
       |  FROM lineitem
       |  GROUP BY CAST(l_shipdate AS DATE))
       |SELECT ship_date,
       |  CAST(rev AS DOUBLE) AS revenue,
       |  CAST(SUM(rev) OVER w AS DOUBLE) AS revenue_${MovingWindowDays}d,
       |  CAST(SUM(rev) OVER w AS DOUBLE)
       |    / CAST(SUM(n_items) OVER w AS DOUBLE) AS avg_item_revenue_${MovingWindowDays}d
       |FROM daily
       |WINDOW w AS (ORDER BY day_n
       |  RANGE BETWEEN ${MovingWindowDays - 1} PRECEDING AND CURRENT ROW)
       |ORDER BY ship_date""".stripMargin

  val MadCutoff = 3.0 // outlier cut, in median absolute deviations

  /** Robust outlier detection via Median Absolute Deviation per return
    * flag: med = median(price), mad = median(|price − med|), outlier ⇔
    * |price − med| > k·mad. The robust alternative to the IQR audit
    * (q52) — MAD has a 50% breakdown point, so a heavy-tailed price
    * column can't drag the fence the way it drags stddev.
    *
    * Determinism: medians are R-7 interpolated via the
    * [[weightedPercentiles]] prefix-sum form over identical inputs
    * (q49 contract); |x − med| and k·mad are IEEE double ops on
    * bit-identical operands; the fence compare is strict.
    *
    * Scale shape: ONE collapse of the fact to (flag, price, weight)
    * grain — everything downstream (median, the |x−med| re-grain, MAD,
    * the outlier-weight rollup) runs on frames bounded by the price
    * DOMAIN, never by fact rows; no percentile buffers anywhere.
    * Medians attach per-row via [[withWeightedPercentiles]]'s
    * unbounded-frame window aggregates, so the whole post-grain chain
    * (median → deviation re-grain → MAD → rollup) is a SINGLE
    * hash(flag) stage: no joins, no broadcasts, three exchanges total
    * (grain, flag, final ORDER BY).
    */
  def madOutliers(spark: SparkSession, sfDir: String): DataFrame = {
    val grain = Tables.lineitem(spark, sfDir)
      .groupBy(col("l_returnflag"), col("l_extendedprice").as("price"))
      .agg(count(lit(1)).as("w"))
    val withMed = withWeightedPercentiles(grain, Seq("l_returnflag"),
      "price", "w", Seq("med" -> 0.5))
    // no re-grain on the deviation: the breakpoint pick is tie-stable
    // (duplicate |price − med| values pick the same bracketing VALUES
    // whatever the intra-tie cumw order), so the second prefix-sum
    // chain runs directly on the attached frame — one sort, zero
    // additional aggregates, still inside the hash(flag) stage
    val dev = withMed.withColumn("adev", abs(col("price") - col("med")))
    withWeightedPercentiles(dev, Seq("l_returnflag"),
      "adev", "w", Seq("mad" -> 0.5))
      .groupBy("l_returnflag")
      .agg(sum("w").as("n_rows"),
        max(col("med")).as("median_price"),
        max(col("mad")).as("mad"),
        sum(when(col("adev") > lit(MadCutoff) * col("mad"), col("w"))
          .otherwise(lit(0L))).as("n_outliers"))
      // materialization barrier (3 rows) so the ORDER BY's range
      // sampling doesn't re-execute the window chain (see
      // weightedPercentiles)
      .repartition(1)
      .orderBy("l_returnflag")
  }

  def madOutliersSql: String = {
    val medSql = weightedPercentilesSql("grain", Seq("l_returnflag"),
      "price", "w", Seq("med" -> 0.5))
    val madSql = weightedPercentilesSql("ag", Seq("l_returnflag"),
      "adev", "w", Seq("mad" -> 0.5))
    s"""WITH grain AS (
       |  SELECT l_returnflag, l_extendedprice AS price, COUNT(*) AS w
       |  FROM lineitem GROUP BY 1, 2),
       |med AS (
       |  $medSql),
       |ag AS (
       |  SELECT g.l_returnflag, abs(price - med) AS adev,
       |    SUM(w) AS w, MAX(med) AS med
       |  FROM grain g JOIN med ON g.l_returnflag = med.l_returnflag
       |  GROUP BY 1, 2),
       |mad AS (
       |  $madSql)
       |SELECT ag.l_returnflag, CAST(SUM(w) AS BIGINT) AS n_rows,
       |  MAX(ag.med) AS median_price, MAX(mad.mad) AS mad,
       |  CAST(SUM(CASE WHEN adev > $MadCutoff * mad.mad THEN w ELSE 0 END)
       |    AS BIGINT) AS n_outliers
       |FROM ag JOIN mad ON ag.l_returnflag = mad.l_returnflag
       |GROUP BY ag.l_returnflag
       |ORDER BY ag.l_returnflag""".stripMargin
  }
}
