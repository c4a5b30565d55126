package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Star-schema construction over the driver testdata, re-expressing the
  * reference's warehouse build (`etl/etl.py:109-122,251-306`,
  * `sql/ddl_oracle.sql:26-85`) with the retail-role mapping of
  * FIXTURES.md §A: lineitem->fact_sales, part->dim_product,
  * customer->dim_customer, supplier⋈nation⋈region->dim_store,
  * dim_date derived from l_shipdate.
  *
  * Key design decisions (SURVEY.md §7.3-7.4):
  *   - Surrogate keys (D3) are dense ranks by natural id — value-identical
  *     to `row_number() OVER (ORDER BY natural_id)` (which is what the SQL
  *     oracles state), but computed via [[ScalableKeys.withRankByKey]]
  *     (range-repartition + in-partition sort + offset ids) so NO table,
  *     dim or fact, ever funnels through a single-partition window.
  *   - The fact build joins 4 dims. Dims are broadcast via
  *     [[Joins.broadcastIfSmall]] — the hint applies only while the dim's
  *     estimated size is under the session broadcast threshold, so the
  *     fact is built in a single map-side stage (scan lineitem -> 4
  *     BroadcastHashJoins -> project) at retail scale, and a dim that
  *     outgrows the threshold degrades to a shuffle join instead of a
  *     driver OOM. This replaces the reference's driver-side dict
  *     `.map()` join (E1, `etl/etl.py:272-282`).
  */
object Star {

  /** dim_product (part; `sql/ddl_oracle.sql:38-49`). */
  def dimProduct(spark: SparkSession, sfDir: String): DataFrame =
    ScalableKeys.withRankByKey(
      Tables.part(spark, sfDir)
        .select(
          col("p_partkey").as("product_id"),
          col("p_name").as("product_name"),
          col("p_type").as("category"),
          col("p_brand").as("brand"),
          col("p_retailprice").as("price"),
          col("p_size").as("size_")),
      "product_id", "product_key")

  /** dim_customer (customer; `sql/ddl_oracle.sql:26-36`). */
  def dimCustomer(spark: SparkSession, sfDir: String): DataFrame =
    ScalableKeys.withRankByKey(
      Tables.customer(spark, sfDir)
        .select(
          col("c_custkey").as("customer_id"),
          col("c_name").as("customer_name"),
          col("c_nationkey").as("nation_id"),
          col("c_acctbal").as("acctbal"),
          col("c_mktsegment").as("membership_level")),
      "customer_id", "customer_key")

  /** dim_store (supplier ⋈ nation ⋈ region; `sql/ddl_oracle.sql:52-60`).
    * nation/region are tiny lookup tables -> broadcast; no shuffle.
    */
  def dimStore(spark: SparkSession, sfDir: String): DataFrame =
    ScalableKeys.withRankByKey(
      Tables.supplier(spark, sfDir)
        .join(broadcast(Tables.nation(spark, sfDir)),
          col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(spark, sfDir)),
          col("n_regionkey") === col("r_regionkey"))
        .select(
          col("s_suppkey").as("store_id"),
          col("s_name").as("store_name"),
          col("n_name").as("city"),
          col("r_name").as("region")),
      "store_id", "store_key")

  /** dim_date derived from fact ship dates, exactly as `etl/etl.py:109-120`:
    * distinct normalized dates (D1, B7) + date parts (B8) + yyyyMMdd int
    * key (B9), weekday 1=Mon..7=Sun.
    *
    * Scale note: distinct-of-dates aggregates 100 TB down to a few
    * thousand rows; partial aggregation makes the shuffle negligible.
    */
  def dimDate(spark: SparkSession, sfDir: String): DataFrame =
    dimDateFrom(Tables.lineitem(spark, sfDir), "l_shipdate")

  def dimDateFrom(df: DataFrame, dateCol: String): DataFrame =
    df.select(Cleaning.normalizeDate(col(dateCol)).as("calendar_date"))
      .distinct()
      .select(
        Cleaning.dateKey(col("calendar_date")).as("date_key"),
        col("calendar_date"),
        dayofmonth(col("calendar_date")).as("day"),
        month(col("calendar_date")).as("month"),
        year(col("calendar_date")).as("year"),
        quarter(col("calendar_date")).as("quarter"),
        Cleaning.weekdayMon1(col("calendar_date")).as("weekday"))

  /** fact_sales (`sql/ddl_oracle.sql:74-85`): lineitem + o_custkey, with
    * the surrogate keys mapped on via broadcast joins (E1 as a real
    * join), payload projected (B1).
    *
    * The orders join is the one non-dim join: at 100 TB both sides are
    * large, so it is a shuffle hash join on l_orderkey — unavoidable and
    * key-balanced (orderkey is dense). The dims broadcast. date_key is
    * NOT joined: dim_date's key is a pure function of the date
    * (yyyyMMdd), so a lookup join against a dim whose rows were distinct
    * ship dates in the first place is an identity mapping — computing
    * the key map-side is value-identical and saves a second full
    * lineitem scan (the dim build) plus a broadcast. The date JOIN
    * path stays exercised where it is semantic (q02 via E3).
    */
  def factSales(spark: SparkSession, sfDir: String): DataFrame = {
    // Spread the fact scan before the fused per-row work: the broadcast
    // probes + date_key formatting + downstream shuffle write all fuse
    // into the scan stage, which on a single-row-group input runs at
    // file-split parallelism (1-3 tasks).
    val li = Tables.spread(Tables.lineitem(spark, sfDir))
    val ord = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_custkey"))
    // The rank-keyed dim builds each run two small eager jobs (range
    // sampling + the zipWithIndex count). The three dims are
    // independent, so construct them concurrently — Spark's scheduler
    // is thread-safe and interleaves the jobs across the executor
    // cores instead of paying 3x sequential job-scheduling latency
    // (exactly how an orchestrator would submit independent dim loads).
    // Key-only rank builds: the fact needs just (natural_id, surrogate),
    // and the rank is a function of the natural key alone, so dragging
    // the full dim payload through the range-sort + RDD hop is wasted
    // cell conversion. Value-identical to dimCustomer/dimProduct/
    // dimStore's keys (rank by the same unique natural id; the oracle
    // CTEs rank over the bare source tables the same way).
    val keySources = Seq(
      ("customer", Tables.customer(spark, sfDir)
        .select(col("c_custkey").as("customer_id")), "customer_id", "customer_key"),
      ("product", Tables.part(spark, sfDir)
        .select(col("p_partkey").as("product_id")), "product_id", "product_key"),
      ("store", Tables.supplier(spark, sfDir)
        .select(col("s_suppkey").as("store_id")), "store_id", "store_key"))
    val Seq(cust, prod, store) =
      Tables.overlapped(spark, keySources.size) { ov =>
        keySources.map { case (dim, df, id, key) =>
          ov.submit(s"fact_sales: rank $dim keys")(
            ScalableKeys.withRankByKey(df, id, key))
        }.map(_.get())
      }

    // The rank-keyed dims pass through an RDD hop, so their own plans
    // carry no size statistics; each gate sizes on the dim's source
    // table scan instead (an upper bound that scales with the dim).
    li.join(ord, col("l_orderkey") === col("o_orderkey"), "left")
      .join(Joins.broadcastIfSmall(cust, Tables.customer(spark, sfDir)),
        col("o_custkey") === col("customer_id"), "left")
      .join(Joins.broadcastIfSmall(prod, Tables.part(spark, sfDir)),
        col("l_partkey") === col("product_id"), "left")
      .join(Joins.broadcastIfSmall(store, Tables.supplier(spark, sfDir)),
        col("l_suppkey") === col("store_id"), "left")
      .withColumn("date_key",
        Cleaning.dateKey(Cleaning.normalizeDate(col("l_shipdate"))))
      .select(
        (col("l_orderkey") * 10 + col("l_linenumber")).as("sales_id"),
        col("customer_key"),
        col("product_key"),
        col("store_key"),
        col("date_key"),
        col("l_quantity").cast("int").as("quantity"),
        col("l_extendedprice").as("unit_price"),
        (col("l_discount") * 100).as("discount_pct"),
        (col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("total_amount"))
  }

  /** DuckDB fragment: [[dimDateFrom]] over `table.dateCol` (no ORDER BY). */
  def dimDateFromSql(table: String, dateCol: String): String =
    s"""SELECT CAST(strftime(d, '%Y%m%d') AS INT) AS date_key,
       |       d AS calendar_date,
       |       CAST(day(d) AS INT) AS day,
       |       CAST(month(d) AS INT) AS month,
       |       CAST(year(d) AS INT) AS year,
       |       CAST(quarter(d) AS INT) AS quarter,
       |       CAST(isodow(d) AS INT) AS weekday
       |FROM (SELECT DISTINCT CAST($dateCol AS DATE) AS d FROM $table)""".stripMargin

  /** DuckDB oracle for [[dimDate]] (ordered by date_key). */
  val dimDateSql: String =
    dimDateFromSql("lineitem", "l_shipdate") + "\nORDER BY date_key"

  /** DuckDB oracle for [[dimStore]] (ordered by store_key). */
  val dimStoreSql: String =
    """SELECT s_suppkey AS store_id, s_name AS store_name,
      |       n_name AS city, r_name AS region,
      |       CAST(row_number() OVER (ORDER BY s_suppkey) AS BIGINT) AS store_key
      |FROM supplier
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |ORDER BY store_key""".stripMargin

  /** DuckDB oracle for [[factSales]] (ordered by sales_id). */
  val factSalesSql: String =
    """WITH cust AS (SELECT c_custkey,
      |    CAST(row_number() OVER (ORDER BY c_custkey) AS BIGINT) AS customer_key
      |  FROM customer),
      |prod AS (SELECT p_partkey,
      |    CAST(row_number() OVER (ORDER BY p_partkey) AS BIGINT) AS product_key
      |  FROM part),
      |store AS (SELECT s_suppkey,
      |    CAST(row_number() OVER (ORDER BY s_suppkey) AS BIGINT) AS store_key
      |  FROM supplier)
      |SELECT l_orderkey * 10 + l_linenumber AS sales_id,
      |       customer_key, product_key, store_key,
      |       CAST(strftime(CAST(l_shipdate AS DATE), '%Y%m%d') AS INT) AS date_key,
      |       CAST(l_quantity AS INT) AS quantity,
      |       l_extendedprice AS unit_price,
      |       l_discount * 100 AS discount_pct,
      |       l_extendedprice * (1 - l_discount) AS total_amount
      |FROM lineitem
      |LEFT JOIN orders ON l_orderkey = o_orderkey
      |LEFT JOIN cust ON o_custkey = c_custkey
      |LEFT JOIN prod ON l_partkey = p_partkey
      |LEFT JOIN store ON l_suppkey = s_suppkey
      |ORDER BY sales_id, product_key, store_key, date_key, quantity,
      |         unit_price, discount_pct""".stripMargin

  /** DuckDB oracle for the dim_date upsert demo: since every dim_date row
    * is a pure function of its date, `existing ∪ anti-join(staged)` equals
    * the dim built over the union of distinct dates.
    */
  val dateUpsertSql: String =
    """SELECT CAST(strftime(d, '%Y%m%d') AS INT) AS date_key,
      |       d AS calendar_date,
      |       CAST(day(d) AS INT) AS day,
      |       CAST(month(d) AS INT) AS month,
      |       CAST(year(d) AS INT) AS year,
      |       CAST(quarter(d) AS INT) AS quarter,
      |       CAST(isodow(d) AS INT) AS weekday
      |FROM (SELECT CAST(o_orderdate AS DATE) AS d FROM orders
      |      UNION SELECT CAST(l_shipdate AS DATE) FROM lineitem)
      |ORDER BY date_key""".stripMargin

  /** DuckDB oracle for the registered [[mergeByKey]] query (q39): the
    * lineitem-derived dim_date (tagged src='lineitem') MERGEs over the
    * orders-derived one (src='orders') — staged rows win on matched
    * date_keys, unmatched existing rows survive. The src tag is what
    * makes UPDATE-on-match observable (both sides derive identical date
    * parts, so without it merge and upsert would coincide).
    */
  val dateMergeSql: String =
    s"""WITH e AS (SELECT x.*, 'orders' AS src
       |           FROM (${dimDateFromSql("orders", "o_orderdate")}) x),
       |     s AS (SELECT x.*, 'lineitem' AS src
       |           FROM (${dimDateFromSql("lineitem", "l_shipdate")}) x)
       |SELECT * FROM s
       |UNION ALL
       |SELECT * FROM e WHERE date_key NOT IN (SELECT date_key FROM s)
       |ORDER BY date_key""".stripMargin

  /** Insert-if-absent upsert for dim_date (I1; `etl/etl.py:179-224`):
    * `existing ∪ (staged ANTI-JOIN existing ON date_key)` — the staged
    * MERGE WHEN NOT MATCHED THEN INSERT, modeled pure-functionally so a
    * re-run is a no-op (idempotence, SURVEY.md §7.4.2). No table format
    * needed; at scale this is an anti-join on the (tiny) dim.
    */
  def upsertByKey(existing: DataFrame, staged: DataFrame, key: String): DataFrame =
    existing.unionByName(
      staged.join(Joins.broadcastIfSmall(existing.select(key)), Seq(key),
        "left_anti"))

  /** Full MERGE semantics (E6 + I1; `etl/etl.py:166-224`): staged rows
    * WIN on matched keys (UPDATE), unmatched staged rows INSERT, existing
    * rows without a staged match survive. Pure-functionally:
    * `staged ∪ (existing ANTI-JOIN staged ON key)` — idempotent (re-running
    * the same staged batch is a no-op), and the recompute-and-overwrite
    * shape Delta/Iceberg MERGE compiles to.
    *
    * Scale: one anti-join, shuffle-on-key both sides (or broadcast when
    * the staged batch is small — left to AQE); no row-by-row driver loop.
    * If staged carries duplicate keys, pre-dedup with keep-newest:
    * [[keepNewestByKey]].
    */
  def mergeByKey(existing: DataFrame, staged: DataFrame, key: String): DataFrame =
    staged.unionByName(
      existing.join(staged.select(key), Seq(key), "left_anti"))

  /** Keep the newest row per key (by `versionCol` desc, ties broken
    * deterministically by the remaining columns) — the staged-batch
    * pre-dedup for [[mergeByKey]]. max_by-style aggregation, not a
    * global window: shuffles once on the key.
    */
  def keepNewestByKey(df: DataFrame, key: String, versionCol: String): DataFrame = {
    val others = df.columns.filterNot(_ == key)
    val ordered = struct(col(versionCol) +: others.filterNot(_ == versionCol)
      .map(col): _*)
    df.groupBy(col(key))
      .agg(max_by(struct(others.map(col): _*), ordered).as("_newest"))
      .select(col(key) +: others.map(c => col(s"_newest.$c").as(c)): _*)
  }
}
