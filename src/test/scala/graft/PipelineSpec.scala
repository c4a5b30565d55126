package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.etl.{Catalog, Pipeline, RetailDataGen, ValidationReport}
import graft.operators.{Salting, ScalableKeys}
import graft.sources.Tables

/** Golden end-to-end run of the retail ETL (SURVEY.md §5 "golden
  * pipeline test"): generate seeded CSVs -> full pipeline -> assert the
  * reference's own invariants (K1-K4) + KPI aggregates + idempotency.
  */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private lazy val base = Files.createTempDirectory("graft_e2e").toString
  private lazy val wh = {
    RetailDataGen.writeAll(spark, s"$base/raw", baseRows = 500)
    Pipeline.run(spark, s"$base/raw", s"$base/staging", s"$base/warehouse")
  }

  test("pipeline loads a complete star: counts, no orphan keys") {
    wh // force
    val fact = spark.read.parquet(s"$base/warehouse/fact_sales")
    assert(fact.count() === 2500) // baseRows*5, all rows survive cleaning
    assert(fact.filter($"customer_key".isNull || $"product_key".isNull ||
      $"store_key".isNull || $"date_key".isNull).count() === 0)
    val dimC = spark.read.parquet(s"$base/warehouse/dim_customer")
    assert(dimC.count() === dimC.select("customer_key").distinct().count())
    // every fact key resolves to a row of its dim
    Seq("customer_key" -> "dim_customer", "product_key" -> "dim_product",
      "store_key" -> "dim_store", "date_key" -> "dim_date").foreach {
      case (key, dim) =>
        val d = spark.read.parquet(s"$base/warehouse/$dim").select(key)
        assert(fact.join(d, Seq(key), "left_anti").count() === 0,
          s"fact_sales rows whose $key is missing from $dim")
    }
  }

  test("a table whose load was killed mid-write (_temporary only) is reloaded") {
    wh
    val store = s"$base/warehouse/dim_store"
    val nStores = spark.read.parquet(store).count()
    Catalog.deletePath(spark, store)
    Files.createDirectories(java.nio.file.Paths.get(store, "_temporary", "0"))
    Pipeline.run(spark, s"$base/raw", s"$base/staging", s"$base/warehouse")
    assert(Catalog.committed(spark, store))
    assert(spark.read.parquet(store).count() === nStores)
  }

  test("Pipeline.run overlaps its sinks: jobs of at least two sinks run concurrently") {
    wh
    // the sinks are independent jobs on one overlap pool; a refactor
    // that serializes them again shows up here as strictly disjoint
    // job intervals of different sinks (one sink's own broadcast and
    // cache-stage jobs may overlap each other on a single thread, so
    // jobs are told apart by the sink's job description). Listener
    // events are async — timestamps are taken at delivery, far finer
    // than the sinks' overlap window.
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long)]()
    val intervals =
      new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, Long)]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .filter(_.startsWith("etl: "))
          .foreach(sink => starts.put(j.jobId, (sink, System.nanoTime)))
      override def onJobEnd(
          j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        Option(starts.get(j.jobId))
          .foreach { case (sink, s) => intervals.add((sink, s, System.nanoTime)) }
    }
    val out = s"$base/overlap"
    spark.sparkContext.addSparkListener(listener)
    try {
      Pipeline.run(spark, s"$base/raw", s"$out/staging", s"$out/warehouse")
      // drain the async listener bus before reading the intervals
      Thread.sleep(500)
      import scala.jdk.CollectionConverters._
      val iv = intervals.asScala.toSeq
      assert(iv.nonEmpty, "no Pipeline.run sink job was seen")
      val overlapping = iv.combinations(2).exists {
        case Seq((k1, s1, e1), (k2, s2, e2)) => k1 != k2 && s1 < e2 && s2 < e1
        case _ => false
      }
      assert(overlapping,
        s"expected jobs of at least two Pipeline.run sinks to run " +
          s"concurrently; saw ${iv.size} jobs, sinks strictly serial")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("failure path: run joins every sink before it throws, unpersists, leaves no pool thread") {
    wh
    import org.apache.commons.io.FileUtils
    import org.apache.spark.storage.StorageLevel
    def settled(): Unit = {
      import scala.jdk.CollectionConverters._
      val live = Thread.getAllStackTraces.keySet.asScala
        .filter(_.getName == "graft-overlap")
      live.foreach(_.join(2000)) // idle workers exit right after shutdown
      assert(!live.exists(_.isAlive), "a graft-overlap thread outlived run")
      val (c, p, st, sl) = Pipeline.extractAndClean(spark, s"$base/raw")
      Seq(c, p, st, sl).foreach(df =>
        assert(df.storageLevel === StorageLevel.NONE,
          "a cleaned frame is still persisted"))
    }

    // (a) a raw dir missing `stores`: extraction fails, nothing runs
    val partial = s"$base/raw_no_stores"
    Seq("customers", "products", "sales").foreach(t =>
      FileUtils.copyDirectory(new java.io.File(s"$base/raw/$t"),
        new java.io.File(s"$partial/$t")))
    val e1 = intercept[Exception](Pipeline.run(spark, partial,
      s"$base/fail_a/staging", s"$base/fail_a/warehouse"))
    assert(e1.getMessage.contains("stores"), e1.getMessage)
    settled()

    // (b) the staging sinks fail (the staging dir is a regular file)
    // while the warehouse sinks succeed: run rethrows only after the
    // loads have committed, so every table is complete when it throws
    val out = s"$base/fail_b"
    Files.createDirectories(java.nio.file.Paths.get(out))
    Files.write(java.nio.file.Paths.get(out, "staging"), Array[Byte](1))
    val e2 = intercept[Exception](Pipeline.run(spark, s"$base/raw",
      s"$out/staging", s"$out/warehouse"))
    assert(String.valueOf(e2.getMessage).contains(s"$out/staging"), e2)
    Seq("dim_customer", "dim_product", "dim_store", "dim_date",
      "fact_sales").foreach(t =>
      assert(Catalog.committed(spark, s"$out/warehouse/$t"),
        s"$t was not committed when run threw"))
    settled()
  }

  test("Tables.overlapped: a throwing body returns only after its running job finished") {
    val finished = new java.util.concurrent.atomic.AtomicBoolean(false)
    val started = new java.util.concurrent.CountDownLatch(1)
    val e = intercept[IllegalStateException] {
      Tables.overlapped(spark) { ov =>
        ov.submit("overlap spec: slow job") {
          started.countDown()
          Thread.sleep(500)
          finished.set(true)
        }
        started.await()
        throw new IllegalStateException("body failed")
      }
    }
    assert(e.getMessage === "body failed")
    assert(finished.get, "the scope returned while its job was still running")
  }

  test("staged CSVs are written and re-readable (A2 roundtrip)") {
    wh
    val staged = Tables.readCsv(spark, s"$base/staging/stg_customer",
      Tables.customersCsvSchema)
    assert(staged.count() > 0)
  }

  test("dim_date: one row per distinct sale date, 2-year window (<=731)") {
    wh
    val dd = spark.read.parquet(s"$base/warehouse/dim_date")
    assert(dd.count() === dd.select("date_key").distinct().count())
    assert(dd.count() <= 731)
    assert(dd.filter($"weekday" < 1 || $"weekday" > 7).count() === 0)
  }

  test("re-run is idempotent: same warehouse counts (I1/I2)") {
    wh
    val before = spark.read.parquet(s"$base/warehouse/fact_sales").count()
    val ddBefore = spark.read.parquet(s"$base/warehouse/dim_date").count()
    Pipeline.run(spark, s"$base/raw", s"$base/staging", s"$base/warehouse")
    assert(spark.read.parquet(s"$base/warehouse/fact_sales").count() === before)
    assert(spark.read.parquet(s"$base/warehouse/dim_date").count() === ddBefore)
  }

  test("validation report: 0 nulls in cleaned frames, 0 bad FKs (K1-K3)") {
    val (c, p, s, sl) = Pipeline.extractAndClean(spark, s"$base/raw")
    val r = ValidationReport.validate(c, p, s, sl)
    assert(r.rowCounts("sales") === 2500)
    assert(r.badFkRows === 0)
    assert(r.nullCells.values.sum === 0)
    ValidationReport.writeReport(r, s"$base/validation_report.txt")
    assert(new String(Files.readAllBytes(
      java.nio.file.Paths.get(s"$base/validation_report.txt")))
      .contains("sales_rows_with_bad_fk: 0"))
  }

  test("KPI aggregates over the warehouse match direct computation (F5-F7)") {
    wh
    val fact = spark.read.parquet(s"$base/warehouse/fact_sales")
    val direct = Pipeline.extractAndClean(spark, s"$base/raw")._4
    val kpiFact = fact.agg(
      sum($"total_amount".cast("decimal(18,2)")).as("rev"),
      countDistinct($"customer_key").as("nc")).head()
    val kpiDirect = direct.agg(
      sum($"total_amount".cast("decimal(18,2)")).as("rev"),
      countDistinct($"customer_id").as("nc")).head()
    assert(kpiFact.getDecimal(0) === kpiDirect.getDecimal(0))
    assert(kpiFact.getLong(1) === kpiDirect.getLong(1))
  }

  test("catalog ops: exists guard, drop, script runner") {
    val df = Seq((1, "a"), (2, "b")).toDF("id", "v")
    Catalog.dropTable(spark, "graft_cat_test")
    // a dropped managed table can leave its location behind if a prior
    // run died mid-create; clear it so the table can be created again
    Catalog.deletePath(spark,
      spark.conf.get("spark.sql.warehouse.dir") + "/graft_cat_test")
    assert(!Catalog.tableExists(spark, "graft_cat_test"))
    df.write.format("parquet").saveAsTable("graft_cat_test")
    assert(Catalog.tableExists(spark, "graft_cat_test"))
    val results = Catalog.runScript(spark,
      """-- comment
        |SELECT COUNT(*) AS n FROM graft_cat_test;
        |SELECT 1 AS one;
        |""".stripMargin)
    assert(results.length === 2)
    assert(results.head.as[Long].head() === 2L)
    Catalog.dropTable(spark, "graft_cat_test")
  }

  test("runScript: ';' inside quoted literals/comments does not split (J6)") {
    assert(Catalog.splitStatements(
      "INSERT INTO t VALUES ('a;b');\n-- note; semicolon\nSELECT 'x''y;z';\nSELECT 1")
      .map(_.trim).filter(_.nonEmpty) === Seq(
        "INSERT INTO t VALUES ('a;b')",
        "-- note; semicolon\nSELECT 'x''y;z'",
        "SELECT 1"))
    // double-quoted strings (Spark's non-ANSI default dialect) too
    assert(Catalog.splitStatements("SELECT \"a;b\" AS s; SELECT \"x\"\"y;\"")
      .map(_.trim).filter(_.nonEmpty) === Seq(
        "SELECT \"a;b\" AS s", "SELECT \"x\"\"y;\""))
    Catalog.dropTable(spark, "graft_script_q")
    Catalog.deletePath(spark,
      spark.conf.get("spark.sql.warehouse.dir") + "/graft_script_q")
    Catalog.runScript(spark,
      """CREATE TABLE graft_script_q (s STRING) USING parquet;
        |INSERT INTO graft_script_q VALUES ('a;b');
        |INSERT INTO graft_script_q VALUES ('c''d;e')""".stripMargin)
    assert(spark.table("graft_script_q").as[String].collect().toSet ===
      Set("a;b", "c'd;e"))
    Catalog.dropTable(spark, "graft_script_q")
  }

  test("parquet append sink accumulates batches (A3)") {
    val dir = Files.createTempDirectory("graft_append").toString + "/t"
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    Tables.appendParquet(df, dir)
    Tables.appendParquet(df, dir)
    assert(spark.read.parquet(dir).count() === 4)
  }

  test("ScalableKeys: dense sequential ids without a global sort") {
    val df = spark.range(0, 10000).toDF("v").repartition(8)
    val withIds = ScalableKeys.withSequentialIds(df, "id", startAt = 100)
    assert(withIds.count() === 10000)
    val ids = withIds.select("id").as[Long].collect().sorted
    assert(ids.head === 100 && ids.last === 10099)
    assert(ids.distinct.length === 10000)
  }

  test("Salting: salted sum equals its unsalted twin") {
    val large = spark.range(0, 5000)
      .select((col("id") % 10).as("k"), col("id").as("v"))
    val plainSum = large.groupBy("k").agg(sum("v").as("sum_v"))
      .orderBy("k").collect()
    val saltedSum = Salting.saltedSum(large, "k", "v", 4)
      .orderBy("k").collect()
    assert(plainSum.sameElements(saltedSum))
  }
}
