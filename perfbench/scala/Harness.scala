package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.etl.{Pipeline, RetailDataGen}
import graft.sources.Tables

/** One benchmark run in one JVM: a closed loop with a single client on
  * `local[cores]`. `perfbench/run.py` launches it and turns the event
  * file it writes into metrics.
  *
  * Set-up builds the session, (for `etl`) generates the seeded raw
  * CSVs, and runs `warmup-passes` warm-up passes. Timed passes then
  * repeat until `seconds` have elapsed (at least `min-passes`). Every operation's
  * output is checked outside its timed region, and the janitor runs
  * between operations, as in `graft.Bench`.
  *
  * Arguments (`--key value`): kind (`queries` | `etl`), ops (comma list
  * of registered query names), seed, seconds, warmup-passes, min-passes,
  * trace (0|1),
  * cores, sf-dir, work-dir, out, etl-base-rows.
  */
object Harness {

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val kind = a("kind")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val minPasses = a("min-passes").toInt
    val warmupPasses = a("warmup-passes").toInt
    val trace = a("trace") == "1"
    val cores = a("cores").toInt
    val workDir = new File(a("work-dir")).getAbsoluteFile

    val spark = Tables.graftSession(SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(workDir, "spark-local").toString)
      .config("spark.sql.warehouse.dir",
        new File(workDir, "spark-warehouse").toString))
    spark.sparkContext.setLogLevel("ERROR")
    val sessionReadyMs = Clock.nowMs

    val batchRec = new BatchRecorder
    spark.streams.addListener(batchRec)
    val jobRec = new JobRecorder
    val planRec = new PlanRecorder
    if (trace) {
      spark.sparkContext.addSparkListener(jobRec)
      spark.listenerManager.register(planRec)
    }

    val ops = ArrayBuffer[Map[String, Any]]()
    val setupExtra = collection.mutable.Map[String, Any]()
    val passes = ArrayBuffer[Map[String, Any]]()

    // between operations: drop the finished one's checkpointed blocks
    // and drained stream tables, then GC so the ContextCleaner's weak
    // references surface and shuffle and broadcast cleanup lands here
    // rather than inside the next operation's timed region
    // (graft.Bench's janitor contract)
    def janitor(): Unit = {
      assert(spark.streams.active.isEmpty,
        "janitor with active streaming queries: " +
          spark.streams.active.map(_.name).mkString(","))
      Tables.freeTransientBlocks(spark)
      Tables.dropDrainedStreamTables(spark)
      System.gc()
      Thread.sleep(50)
    }

    // after each pass: the heap still in use after the last janitor's GC
    def passEnd(pass: Int, phase: String, start: Double): Map[String, Any] =
      Map("pass" -> pass, "phase" -> phase, "start_ms" -> start,
        "end_ms" -> Clock.nowMs, "heap_mb" -> heapMb)

    def heapMb: Double =
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

    def errorOf(t: Throwable): String =
      (t.getClass.getName + ": " + String.valueOf(t.getMessage)).take(500)

    /** Run and record one operation: `construct` builds it, `act` is its
      * final action, `check` inspects the action's result after the clock
      * has stopped. A throw from any of them is recorded as the op's error.
      */
    def timeOp[A, B](pass: Int, phase: String, name: String)(
        construct: => A)(act: A => B)(check: B => Map[String, Any]): Unit = {
      val t0 = Clock.nowMs
      var tc = Double.NaN
      val outcome: Either[String, B] =
        try {
          val built = construct
          tc = Clock.nowMs
          Right(act(built))
        } catch { case t: Throwable => Left(errorOf(t)) }
      val t1 = Clock.nowMs
      if (tc.isNaN) tc = t1
      val checked: Map[String, Any] = outcome match {
        case Right(b) =>
          try check(b)
          catch { case t: Throwable => Map("error" -> ("check: " + errorOf(t))) }
        case Left(err) => Map("error" -> err)
      }
      val j0 = Clock.nowMs
      janitor()
      val j1 = Clock.nowMs
      ops += Map("pass" -> pass, "phase" -> phase, "name" -> name,
        "start_ms" -> t0, "construct_end_ms" -> tc, "end_ms" -> t1,
        "janitor_start_ms" -> j0, "janitor_end_ms" -> j1) ++ checked
    }

    def runPasses(runPass: (Int, String) => Map[String, Any]): Double = {
      val warm0 = Clock.nowMs
      for (w <- warmupPasses to 1 by -1) passes += runPass(-w, "warmup")
      val firstTimedMs = Clock.nowMs
      // a pass starts only if one as long as the last would end by the
      // deadline, so a run measures about `seconds`
      val deadline = firstTimedMs + seconds * 1000
      var p = 1
      var lastMs = 0.0
      while (p <= minPasses || Clock.nowMs + lastMs <= deadline) {
        val t0 = Clock.nowMs
        passes += runPass(p, "timed")
        lastMs = Clock.nowMs - t0
        p += 1
      }
      setupExtra("warmup_s") = (firstTimedMs - warm0) / 1000
      firstTimedMs
    }

    def passOrder(names: Seq[String], pass: Int): Seq[String] =
      new scala.util.Random(seed * 1000003L + pass).shuffle(names)

    val firstTimedMs = kind match {
      case "queries" =>
        val sfDir = a("sf-dir")
        val names = a("ops").split(",").toSeq
        runPasses { (pass, phase) =>
          val start = Clock.nowMs
          passOrder(names, pass).foreach { name =>
            timeOp(pass, phase, name)(SparkEntry.queries(name)(spark, sfDir)) {
              df => (df.schema, df.collect()) } { case (schema, rows) =>
              val (n, h) = Digest.of(schema, rows)
              Map("rows" -> n, "digest" -> h)
            }
          }
          passEnd(pass, phase, start)
        }

      case "etl" =>
        val baseRows = a("etl-base-rows").toLong
        val raw = new File(workDir, "etl-raw").toString
        val g0 = Clock.nowMs
        RetailDataGen.writeAll(spark, raw, baseRows, seed)
        setupExtra("gen_s") = (Clock.nowMs - g0) / 1000
        val rawBytes = tree(new File(raw))._2
        val observed = collection.mutable.Map[Int, Map[String, Any]]()
        val first = runPasses { (pass, phase) =>
          val start = Clock.nowMs
          val out = new File(workDir, s"etl-pass-$pass")
          val staging = new File(out, "staging").toString
          val warehouse = new File(out, "warehouse").toString
          var stored = Map[String, Any]()
          timeOp(pass, phase, "pipeline_run")(()) { _ =>
            Pipeline.run(spark, raw, staging, warehouse) } { _ =>
            val got = etlObserved(spark, warehouse)
            observed(pass) = got
            val (files, bytes) = tree(out)
            stored = Map("stored_bytes" -> bytes, "raw_bytes" -> rawBytes,
              "files" -> files, "fact_rows" -> got("fact_sales"))
            Map("rows" -> got("fact_sales"))
          }
          org.apache.commons.io.FileUtils.deleteQuietly(out)
          passEnd(pass, phase, start) ++ stored
        }
        // the reference figures are derived after the timed loop, so
        // deriving them counts in neither set-up nor any pass
        val expected = etlExpected(spark, raw)
        setupExtra("etl_expected") = expected
        for (i <- ops.indices; got <- observed.get(ops(i)("pass").asInstanceOf[Int])) {
          val bad = expected.keys.toSeq.sorted.filter(k =>
            !same(expected(k), got.getOrElse(k, null)))
          if (bad.nonEmpty) ops(i) = ops(i) + ("error" -> bad.map(k =>
            s"$k: expected ${expected(k)}, got ${got.getOrElse(k, null)}")
            .mkString("; "))
        }
        first

      case other => sys.error(s"unknown kind '$other'")
    }

    // listener events are delivered asynchronously: wait until every
    // queue has been quiet for half a second before writing them out
    def sizes = (batchRec.batches.size, jobRec.jobs.size,
      jobRec.stages.size, planRec.executions.size)
    var last = sizes
    var quietSince = Clock.nowMs
    val drainDeadline = Clock.nowMs + 10000
    while (Clock.nowMs - quietSince < 500 && Clock.nowMs < drainDeadline) {
      Thread.sleep(50)
      val now = sizes
      if (now != last) { last = now; quietSince = Clock.nowMs }
    }

    val jvmStartMs =
      ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val result = Map(
      "setup" -> (Map("jvm_start_ms" -> jvmStartMs,
        "session_ready_ms" -> sessionReadyMs,
        "first_timed_ms" -> firstTimedMs) ++ setupExtra),
      "passes" -> passes,
      "ops" -> ops,
      "batches" -> batchRec.batches.asScala.toSeq,
      "trace" -> (if (!trace) null else Map(
        "jobs" -> jobRec.jobs.asScala.toSeq,
        "stages" -> jobRec.stages.asScala.toSeq,
        "executions" -> planRec.executions.asScala.toSeq)))
    val outFile = new File(a("out"))
    val json = new ObjectMapper().registerModule(DefaultScalaModule)
    json.writeValue(outFile, result)
    spark.stop()
  }

  /** Files and bytes under a directory tree. */
  def tree(dir: File): (Long, Long) =
    if (dir.isFile) (1L, dir.length)
    else Option(dir.listFiles).toSeq.flatten.map(tree)
      .foldLeft((0L, 0L)) { case ((f, b), (f2, b2)) => (f + f2, b + b2) }

  private def same(want: Any, got: Any): Boolean = (want, got) match {
    case (w: Double, g: Double) => math.abs(w - g) <= 1e-9 * math.max(1.0, math.abs(w))
    case _ => want == got
  }

  private def csv(spark: SparkSession, path: String) =
    spark.read.option("header", "true").csv(path)

  /** What a correct load of the raw CSVs must hold, derived from the raw
    * files with plain Spark SQL and the reference's cleaning rules
    * (`etl/etl.py`), not through the program's pipeline.
    */
  def etlExpected(spark: SparkSession, raw: String): Map[String, Any] = {
    val sales = csv(spark, s"$raw/sales")
      .filter(to_date(col("sales_date"), "dd-MM-yyyy").isNotNull &&
        col("quantity").cast("int") > 0)
    Map(
      "dim_customer" -> csv(spark, s"$raw/customers")
        .filter(col("age").cast("int").between(18, 100)).count(),
      "dim_product" -> csv(spark, s"$raw/products")
        .filter(col("cost").cast("double") < col("price").cast("double")).count(),
      "dim_store" -> csv(spark, s"$raw/stores").count(),
      "fact_sales" -> sales.count(),
      "dim_date" -> sales.select("sales_date").distinct().count(),
      "fact_null_keys" -> 0L,
      "fact_total_amount" -> sales
        .agg(sum(col("total_amount").cast("double"))).head().getDouble(0))
  }

  /** The same figures read back from a loaded warehouse. */
  def etlObserved(spark: SparkSession, warehouse: String): Map[String, Any] = {
    def t(name: String) = spark.read.parquet(s"$warehouse/$name")
    val fact = t("fact_sales")
    val keys = Seq("customer_key", "product_key", "store_key", "date_key")
    val f = fact.agg(count(lit(1)),
      sum(when(keys.map(k => col(k).isNull).reduce(_ || _), 1).otherwise(0))
        .cast("long"),
      sum(col("total_amount"))).head()
    Map(
      "dim_customer" -> t("dim_customer").count(),
      "dim_product" -> t("dim_product").count(),
      "dim_store" -> t("dim_store").count(),
      "dim_date" -> t("dim_date").count(),
      "fact_sales" -> f.getLong(0),
      "fact_null_keys" -> f.getLong(1),
      "fact_total_amount" -> f.getDouble(2))
  }
}
