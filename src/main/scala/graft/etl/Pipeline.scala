package graft.etl

import java.util.concurrent.CompletableFuture

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.operators.{Cleaning, Joins, ScalableKeys, Star}
import graft.sources.Tables

/** The reference's full ETL pipeline (`etl/etl.py` entry point 1,
  * SURVEY.md §3), re-expressed as one overlapped pass over inputs
  * parsed once:
  *
  *   extract (CSV, declared schemas) -> clean/type (B/C ops) ->
  *   stage (CSV sinks, A2) -> dims with surrogate keys (D3) ->
  *   dim_date derive + idempotent upsert (I1) -> fact build via
  *   broadcast key-mapping joins (E1) -> parquet warehouse (A3/A4).
  *
  * Parse once: the four cleaned frames are persisted (MEMORY_AND_DISK,
  * lineage kept) for the run, so each raw CSV is parsed and cleaned
  * once however many sinks read it; they are unpersisted when `run`
  * ends, and the returned frames recompute from lineage.
  *
  * Overlapped sinks: every sink — the four staging CSVs, the three dim
  * loads (rank build plus write), dim_date and fact_sales — is an
  * independent job in one [[Tables.overlapped]] scope sized to the sinks.
  * Only fact_sales waits, on the three dims' rank keys. A dim's keys
  * are built only when its table or fact_sales is loaded.
  *
  * The reference's driver->Oracle round trips (chunked INSERTs,
  * sequence-backfill MERGE, read-back key maps) disappear: keys are
  * assigned in-plan, the "read back the key map" step IS the broadcast
  * join, and per-job atomic parquet writes replace transactions (I3).
  * `run` joins every sink before it returns or rethrows the first
  * failure, so no write outlives it.
  *
  * Idempotency (I2): `run` skips a warehouse table that is already
  * loaded (the `inspect(engine).has_table` guard, `etl/etl.py:229-234`),
  * except dim_date which takes the MERGE-upsert path on every run
  * (`etl/etl.py:179-224`). A table counts as loaded only once its
  * `_SUCCESS` marker is committed ([[Catalog.committed]]), so a load
  * killed mid-write is redone, not skipped.
  */
object Pipeline {

  case class Warehouse(dimCustomer: DataFrame, dimProduct: DataFrame,
    dimStore: DataFrame, dimDate: DataFrame, factSales: DataFrame)

  /** Extract + clean the 4 raw CSVs (dir layout from RetailDataGen). */
  def extractAndClean(spark: SparkSession, inputDir: String):
      (DataFrame, DataFrame, DataFrame, DataFrame) = (
    Cleaning.cleanCustomers(
      Tables.readCsv(spark, s"$inputDir/customers", Tables.customersCsvSchema)),
    Cleaning.cleanProducts(
      Tables.readCsv(spark, s"$inputDir/products", Tables.productsCsvSchema)),
    Cleaning.cleanStores(
      Tables.readCsv(spark, s"$inputDir/stores", Tables.storesCsvSchema)),
    Cleaning.cleanSales(
      Tables.readCsv(spark, s"$inputDir/sales", Tables.salesCsvSchema)))

  /** A dimension table: its cleaned source and its surrogate key. */
  private case class Dim(table: String, source: DataFrame, naturalId: String,
      key: String) {
    /** Surrogate keys via [[ScalableKeys.withRankByKey]] — value-identical
      * to `row_number() OVER (ORDER BY naturalId)` but with no
      * single-partition window funnel (StarSpec proves the equivalence).
      * Eager: runs the range-sampling and zipWithIndex count jobs.
      */
    def keyed: DataFrame = ScalableKeys.withRankByKey(source, naturalId, key)
  }

  /** fact_sales over the cleaned sales and the rank-keyed dims.
    *
    * E1: the reference pulls {natural_id -> key} maps to the client and
    * dict-maps them (etl/etl.py:263-282); here each map IS a broadcast
    * hash join — the fact never shuffles. The hints are size-gated
    * (Joins.broadcastIfSmall): a dim that outgrows the broadcast
    * threshold falls back to a shuffle join instead of a driver OOM.
    * The rank-keyed dims have RDD-severed lineage (no stats), so each
    * gate sizes on the cleaned source frame the dim was derived from.
    * date_key is computed map-side, as in [[Star.factSales]]: dim_date
    * keys on the same expression over the same (non-null) sales dates,
    * so a lookup join would be an identity mapping.
    */
  private def factFrom(sales: DataFrame, keyed: Seq[(Dim, DataFrame)]): DataFrame =
    keyed.foldLeft(sales) { case (fact, (d, dim)) =>
      fact.join(Joins.broadcastIfSmall(dim.select(d.naturalId, d.key), d.source),
        Seq(d.naturalId), "left")
    }.select(col("sales_id"), col("customer_key"), col("product_key"),
      col("store_key"), Cleaning.dateKey(col("sales_date")).as("date_key"),
      col("quantity"), col("unit_price"), col("discount_pct"),
      col("total_amount"))

  /** Full run: extract -> clean -> stage -> build -> load parquet
    * warehouse, as one overlapped pass (see the object doc). Re-runs
    * are no-ops for loaded tables (I2) except dim_date, which merges new
    * dates (I1). A skipped table's frame in the result reads the stored
    * table.
    */
  def run(spark: SparkSession, inputDir: String, stagingDir: String,
      warehouseDir: String): Warehouse = {
    val (customers, products, stores, sales) = extractAndClean(spark, inputDir)
    val staged = Seq("stg_customer" -> customers, "stg_product" -> products,
      "stg_store" -> stores, "stg_sales" -> sales)
    val dims = Seq(
      Dim("dim_customer", customers, "customer_id", "customer_key"),
      Dim("dim_product", products, "product_id", "product_key"),
      Dim("dim_store", stores, "store_id", "store_key"))
    def path(table: String) = s"$warehouseDir/$table"
    val loaded = (dims.map(_.table) ++ Seq("dim_date", "fact_sales"))
      .filter(t => Catalog.committed(spark, path(t))).toSet
    val loadFact = !loaded("fact_sales")
    val dimDate = Star.dimDateFrom(sales, "sales_date")

    val cleaned = staged.map(_._2)
    cleaned.foreach(_.persist(StorageLevel.MEMORY_AND_DISK))
    try {
      // the scope waits for every sink and rethrows the first failed one
      val (keys, fact) = Tables.overlapped(spark,
          staged.size + dims.size + 2) { ov =>
        def sink[T](name: String)(write: => T) =
          ov.submit(s"etl: $name")(write)
        staged.foreach { case (name, df) =>
          sink(name)(Tables.writeCsv(df, s"$stagingDir/$name"))
        }
        // each dim's rank keys complete their own future before the dim
        // write starts, so the fact waits on the keys and not the writes
        val keys = dims.map { d =>
          val load = !loaded(d.table)
          d -> Option.when(load || loadFact) {
            val k = new CompletableFuture[DataFrame]
            sink(d.table) {
              try k.complete(d.keyed)
              catch { case e: Throwable => k.completeExceptionally(e); throw e }
              if (load) Tables.overwriteParquet(k.get(), path(d.table))
            }
            k
          }
        }
        sink("dim_date") {
          val datePath = path("dim_date")
          if (!loaded("dim_date")) Tables.overwriteParquet(dimDate, datePath)
          else {
            // staged MERGE-upsert via temp + swap: can't overwrite a path
            // while reading it
            val tmp = s"$datePath._staged"
            Tables.overwriteParquet(
              Star.upsertByKey(spark.read.parquet(datePath), dimDate,
                "date_key"), tmp)
            Tables.overwriteParquet(spark.read.parquet(tmp), datePath)
            Catalog.deletePath(spark, tmp)
          }
        }
        val fact = Option.when(loadFact)(sink("fact_sales") {
          val f = factFrom(sales, keys.map { case (d, k) => d -> k.get.get() })
          Tables.overwriteParquet(f, path("fact_sales"))
          f
        })
        (keys, fact)
      }

      def built(table: String, f: Option[DataFrame]) =
        f.getOrElse(spark.read.parquet(path(table)))
      val Seq(dimCustomer, dimProduct, dimStore) =
        keys.map { case (d, k) => built(d.table, k.map(_.get())) }
      Warehouse(dimCustomer, dimProduct, dimStore, dimDate,
        built("fact_sales", fact.map(_.get())))
    } finally {
      cleaned.foreach(_.unpersist())
    }
  }
}
