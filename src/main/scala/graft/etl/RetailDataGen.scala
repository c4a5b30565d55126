package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded retail-shaped demo data generator (SURVEY.md §2 M;
  * `scripts/generate_data.py:19-263`): distributed spark.range +
  * seeded rand replaces the reference's single-process Faker loop.
  * Distributions mirror the reference where they affect downstream
  * semantics: category-dependent price ranges, cost = price * U(0.4,
  * 0.9), qty in 1..5, discrete discount set, 2-year date window,
  * weighted membership tiers (`scripts/generate_data.py:116-118,
  * 63-76, 161, 243-247, 234-235`).
  *
  * Everything derives from seeded rand(seed + columnOffset) — fully
  * deterministic for a fixed partitioning, and generated distributed
  * (100M customers is a spark.range, not a driver loop).
  */
object RetailDataGen {

  val Categories = Seq("Electronics", "Home & Kitchen", "Fashion",
    "Sports", "Toys", "Books", "Health", "Automotive")
  val Regions = Seq("North", "South", "East", "West", "Central")
  val StoreTypes = Seq("Flagship", "Outlet", "Mall", "Online", "Pop-up")
  val Tiers = Seq("Bronze", "Silver", "Gold", "Platinum")
  val TierWeights = Seq(0.5, 0.3, 0.15, 0.05)
  val Sizes = Seq("XS", "S", "M", "L", "XL", "One Size", "N/A")
  val Discounts = Seq(0, 5, 10, 15, 20, 25, 30)

  private def pick(options: Seq[String], r: org.apache.spark.sql.Column) =
    element_at(array(options.map(lit): _*),
      (r * options.size).cast("int") + 1)

  /** Weighted categorical pick via cumulative thresholds. */
  private def pickWeighted(options: Seq[String], weights: Seq[Double],
      r: org.apache.spark.sql.Column) = {
    val cum = weights.scanLeft(0.0)(_ + _).tail
    options.zip(cum).reverse.tail.foldRight(
        lit(options.last): org.apache.spark.sql.Column) {
      case ((opt, threshold), elze) => when(r < threshold, opt).otherwise(elze)
    }
  }

  def customers(spark: SparkSession, n: Long, seed: Long = 42): DataFrame =
    spark.range(1, n + 1).select(
      col("id").as("customer_id"),
      concat(lit("First"), col("id")).as("first_name"),
      concat(lit("Last"), col("id")).as("last_name"),
      pick(Seq("Male", "Female", "Non-binary", "Other"), rand(seed + 1))
        .as("gender"),
      (lit(18) + (rand(seed + 2) * 68).cast("int")).as("age"), // 18..85
      concat(lit("City"), (rand(seed + 3) * 200).cast("int")).as("city"),
      concat(lit("State"), (rand(seed + 4) * 30).cast("int")).as("state"),
      pickWeighted(Tiers, TierWeights, rand(seed + 5)).as("membership_level"))

  def products(spark: SparkSession, n: Long, seed: Long = 42): DataFrame = {
    // category-dependent price ranges (scripts/generate_data.py:63-76)
    val catCol = pick(Categories, rand(seed + 11))
    val priceBase = when(catCol === "Electronics", 5000.0)
      .when(catCol === "Home & Kitchen", 2000.0)
      .when(catCol === "Automotive", 3000.0)
      .otherwise(500.0)
    spark.range(1, n + 1).select(
        col("id").as("product_id"),
        concat(lit("Product "), col("id")).as("product_name"),
        catCol.as("category"))
      .withColumn("sub_category", concat(col("category"), lit(" Sub"),
        (rand(seed + 12) * 5).cast("int")))
      .withColumn("brand", concat(lit("Brand"), (rand(seed + 13) * 50).cast("int")))
      .withColumn("price", round(
        (lit(1.0) + rand(seed + 14) * 9.0) *
          when(col("category") === "Electronics", 5000.0)
            .when(col("category") === "Home & Kitchen", 2000.0)
            .when(col("category") === "Automotive", 3000.0)
            .otherwise(500.0) / 10.0, 2))
      .withColumn("cost", round(col("price") * (lit(0.4) + rand(seed + 15) * 0.5), 2))
      .withColumn("color", pick(Seq("Red", "Blue", "Green", "Black", "White"),
        rand(seed + 16)))
      .withColumn("size", pick(Sizes, rand(seed + 17)))
  }

  def stores(spark: SparkSession, n: Long, seed: Long = 42): DataFrame =
    spark.range(1, n + 1).select(
      col("id").as("store_id"),
      concat(lit("Store "), col("id")).as("store_name"),
      concat(lit("City"), (rand(seed + 21) * 200).cast("int")).as("city"),
      concat(lit("State"), (rand(seed + 22) * 30).cast("int")).as("state"),
      pick(Regions, rand(seed + 23)).as("region"),
      pick(StoreTypes, rand(seed + 24)).as("store_type"))

  val SalesAnchor = "2025-09-12" // last sale date of the generated data

  /** Sales facts with dd-MM-yyyy string dates over a trailing-2-years
    * window anchored at a fixed date (determinism; the reference anchors
    * at "today", `scripts/generate_data.py:234-235`).
    */
  def sales(spark: SparkSession, n: Long, nCustomers: Long, nProducts: Long,
      nStores: Long, seed: Long = 42): DataFrame =
    spark.range(1, n + 1).select(
        col("id").as("sales_id"),
        (lit(1) + (rand(seed + 31) * nCustomers).cast("long")).as("customer_id"),
        (lit(1) + (rand(seed + 32) * nProducts).cast("long")).as("product_id"),
        (lit(1) + (rand(seed + 33) * nStores).cast("long")).as("store_id"),
        (lit(1) + (rand(seed + 34) * 5).cast("int")).as("quantity"),
        date_format(
          date_sub(to_date(lit(SalesAnchor)),
            (rand(seed + 35) * 730).cast("int")),
          "dd-MM-yyyy").as("sales_date"),
        element_at(array(Discounts.map(d => lit(d.toDouble)): _*),
          (rand(seed + 36) * Discounts.size).cast("int") + 1).as("discount_pct"))
      // unit_price/total_amount derived downstream against product price
      // (B10); placeholder columns keep the raw-CSV shape
      .withColumn("unit_price", round(lit(100.0) + rand(seed + 37) * 900.0, 2))
      .withColumn("total_amount", round(col("unit_price") * col("quantity"), 2))

  /** Write the 4 CSVs exactly as the reference's generator does
    * (`scripts/generate_data.py:278-281`).
    */
  def writeAll(spark: SparkSession, dir: String, baseRows: Long = 1000,
      seed: Long = 42): Unit = {
    val nCust = baseRows
    val nProd = baseRows
    val nStore = math.max(baseRows / 10, 5L)
    val nSales = baseRows * 5
    graft.sources.Tables.writeCsv(customers(spark, nCust, seed), s"$dir/customers")
    graft.sources.Tables.writeCsv(products(spark, nProd, seed), s"$dir/products")
    graft.sources.Tables.writeCsv(stores(spark, nStore, seed), s"$dir/stores")
    graft.sources.Tables.writeCsv(
      sales(spark, nSales, nCust, nProd, nStore, seed), s"$dir/sales")
  }
}
