package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, md5, to_date}
import org.apache.spark.sql.types._

/** Table catalog: explicit schemas + readers for the driver testdata
  * (TPC-H-ish star, FIXTURES.md §A) and for reference-shaped retail CSVs
  * (FIXTURES.md §B; reference `etl/etl.py:50-58` reads CSVs with inferred
  * dtypes — we declare schemas explicitly instead, which at 100 TB avoids a
  * full-scan inference pass and guarantees stable types across files).
  *
  * Covers SURVEY.md §2 A1 (CSV scan), A2 (CSV sink), A5 (table scan),
  * A6 (typed sink schema).
  *
  * Also the session contract: [[graftSession]] builds every graft
  * session with the [[PresentationSort]] rule, so a result `orderBy`
  * on a bounded frame plans as one task from plan facts (static
  * bounds, parquet footer counts, join keys) or AQE runtime row counts.
  * The footer reader [[parquetRows]] is shared by that rule and the
  * events readers. Local files go through [[GraftLocalFs]], which the
  * session registers for the `file` scheme.
  */
object Tables {

  /** Session configs every graft entrypoint needs; apply at builder time:
    * `Tables.graftConfigs.foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }`.
    */
  val graftConfigs: Seq[(String, String)] = Seq(
    // events.parquet ts may be INT64 TIMESTAMP(NANOS) depending on the
    // generator run (the driver has shipped both NANOS and MICROS);
    // enable raw-nanos reads and dispatch per path via eventsTsIsNanos
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    // cross-engine determinism: all timestamps interpreted in UTC
    "spark.sql.session.timeZone" -> "UTC",
    // static conf: generated-class cache (default 100 entries) churns
    // on a 100+-query session, recompiling every stage's codegen on
    // each re-run; a long-lived analytics session should amortize
    // compilation, exactly as a warm cluster would
    "spark.sql.codegen.cache.maxEntries" -> "5000",
    // the ContextCleaner only frees dropped persisted/checkpointed
    // blocks after a GC surfaces their weak references, and its
    // safety-net periodic GC defaults to 30 MINUTES — a many-query
    // session accumulates dead eager-localCheckpoint blocks (pagerank
    // edges, k-means vectors, shingle grains) in the unified pool's
    // storage share for that whole window, squeezing execution memory
    "spark.cleaner.periodicGC.interval" -> "60s",
    // status/UI stores retain per-execution metadata for the JVM
    // lifetime up to these caps (defaults: 1000 executions, 1000 stages
    // per job...) — pure driver-heap ballast in a 266-execution sweep;
    // keep enough for debugging, not an archive
    "spark.sql.ui.retainedExecutions" -> "64",
    "spark.ui.retainedJobs" -> "200",
    "spark.ui.retainedStages" -> "200",
    "spark.ui.retainedTasks" -> "10000") ++
    // file: scheme through java.nio, not a chmod/readlink process per
    // file and rename (no libhadoop); see GraftLocalFs
    GraftLocalFs.configs

  /** Apply [[graftConfigs]] to a builder, inject the [[PresentationSort]]
    * rule (static and AQE runtime optimizer) and construct the session —
    * the one way every graft entrypoint (Verify, Bench, RunPipeline, dev
    * mains, tests) should build its SparkSession, so the [[events]]
    * nanosAsLong invariant and the result-sort planning hold everywhere.
    * `getOrCreate` silently drops `withExtensions` when a session
    * already exists, so a returned session without the rule fails here
    * instead of planning every result sort as a range exchange. Likewise
    * a session whose `file:` scheme does not resolve to [[GraftLocalFs]]
    * (a local `FileSystem` cached before the session was built) fails
    * instead of forking a process per local file it writes.
    */
  def graftSession(builder: SparkSession.Builder): SparkSession = {
    val spark = graftConfigs
      .foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }
      .withExtensions { e =>
        e.injectOptimizerRule(_ => PresentationSort)
        e.injectRuntimeOptimizerRule(_ => PresentationSort)
      }
      .getOrCreate()
    val state = spark.sessionState
    require(
      state.optimizer.extendedOperatorOptimizationRules.contains(PresentationSort) &&
        state.adaptiveRulesHolder.runtimeOptimizerRules.contains(PresentationSort),
      "graftSession: getOrCreate returned an existing SparkSession built " +
        "without the PresentationSort rule; stop it before building a graft session")
    GraftLocalFs.requireResolved(state.newHadoopConf())
    spark
  }

  /** The graft session of a command-line main: `local[n]` with `n`
    * shuffle partitions and no UI, where `n` is `SPARK_GRAFT_CPUS` or
    * else the main's `defaultCpus`, logging at `logLevel`.
    */
  def cliSession(defaultCpus: Int, logLevel: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus.toString)
    val spark = graftSession(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false"))
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }

  /** Drop every persisted / eager-localCheckpointed RDD block in the
    * session. Iterative operators (PageRank, k-means, connected
    * components, the shingle grain) checkpoint intermediates whose
    * blocks outlive their query: the ContextCleaner frees them only
    * after a GC collects the RDD handle, so a session sweeping many
    * queries (Verify/Bench run 130+ back-to-back in one JVM) bleeds
    * storage memory into later queries' execution share. Call BETWEEN
    * queries — never mid-query: unpersisting a localCheckpoint severs
    * its only copy (lineage is truncated), and any still-live frame
    * over it would fail on recompute. The next query rebuilds its own
    * state from source.
    */
  def freeTransientBlocks(spark: SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.valuesIterator
      .foreach(_.unpersist(blocking = false))

  /** Name prefix of the memory tables that streaming replays drain
    * into (`<prefix><tag>_<n>`, built by
    * `graft.streaming.EventStreams.memorySink`).
    */
  val StreamTablePrefix = "graft_stream_"

  /** Drop the memory-sink temp views left by completed streaming
    * replays (each replay registers a fresh [[StreamTablePrefix]]
    * table whose FULL drained result lives in
    * driver heap — a many-query session otherwise accumulates every
    * past replay's rows for the JVM lifetime). Same contract as
    * [[freeTransientBlocks]]: call BETWEEN queries, after the current
    * query's frame is consumed — the returned DataFrames read the view
    * lazily, so dropping it mid-consumption would fail the read.
    */
  def dropDrainedStreamTables(spark: SparkSession): Unit =
    spark.catalog.listTables().collect()
      .filter(_.name.startsWith(StreamTablePrefix))
      .foreach(t => spark.catalog.dropTempView(t.name))

  /** Clean up between two queries of a sweep (Bench, Verify and the dev
    * mains), outside any timed section: drop the finished query's
    * persisted and checkpointed blocks ([[freeTransientBlocks]]) and its
    * drained stream tables ([[dropDrainedStreamTables]]), so a long
    * sweep does not bleed storage memory and driver heap into later
    * queries. Both unpersist what a running stream may still read, so no
    * streaming query may be active: registered streams are AvailableNow
    * and finish inside their query.
    *
    * Shuffle files and broadcasts are cleaned only after their
    * dependency objects are GC'd (ContextCleaner weak refs). With the
    * 60 s periodic GC alone, a fast sweep accumulates hundreds of
    * shuffles whose cleanup RPCs and file deletes then land inside later
    * queries' timed sections (the sf1 late-sweep residue, SOAK.md). So
    * the janitor nudges a GC and gives the cleaner thread 50 ms to
    * drain, and each query starts from a clean block manager. A real
    * cluster sheds this via executor lifecycle; it is sweep hygiene, not
    * plan cost. `after` names the finished query in the assert message.
    */
  def janitor(spark: SparkSession, after: String): Unit = {
    assert(spark.streams.active.isEmpty,
      s"janitor with active streaming queries after $after: " +
        spark.streams.active.map(_.name).mkString(","))
    freeTransientBlocks(spark)
    dropDrainedStreamTables(spark)
    System.gc()
    Thread.sleep(50)
  }

  /** Run `body` with every `key -> Some(value)` set on the session,
    * then put each of those keys back exactly, also when `body`
    * throws: a key that was set gets its value again, and a key that
    * was not set is unset (not pinned to its default). `key -> None`
    * leaves the key as it is. The one place graft code sets a session
    * conf: execution settings live on the session, so a scope that
    * leaks one changes every later query.
    */
  def withConfs[A](spark: SparkSession, confs: (String, Option[String])*)(
      body: => A): A = {
    val scoped = confs.collect { case (k, Some(v)) => (k, v) }
    val explicit = spark.conf.getAll
    val prev = scoped.map { case (k, _) => (k, explicit.get(k)) }
    scoped.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  // --------------------------------------------------------------------
  // Driver testdata schemas (parquet). Declaring them (rather than relying
  // on footer merge) keeps reads deterministic and lets a 1000-file scan
  // skip schema reconciliation.
  // --------------------------------------------------------------------

  val regionSchema: StructType = StructType(Seq(
    StructField("r_regionkey", IntegerType),
    StructField("r_name", StringType)))

  val nationSchema: StructType = StructType(Seq(
    StructField("n_nationkey", IntegerType),
    StructField("n_name", StringType),
    StructField("n_regionkey", IntegerType)))

  val customerSchema: StructType = StructType(Seq(
    StructField("c_custkey", LongType),
    StructField("c_name", StringType),
    StructField("c_nationkey", IntegerType),
    StructField("c_acctbal", DoubleType),
    StructField("c_mktsegment", StringType)))

  val supplierSchema: StructType = StructType(Seq(
    StructField("s_suppkey", LongType),
    StructField("s_name", StringType),
    StructField("s_nationkey", IntegerType),
    StructField("s_acctbal", DoubleType)))

  val partSchema: StructType = StructType(Seq(
    StructField("p_partkey", LongType),
    StructField("p_name", StringType),
    StructField("p_brand", StringType),
    StructField("p_type", StringType),
    StructField("p_size", IntegerType),
    StructField("p_retailprice", DoubleType)))

  val ordersSchema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType),
    StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType),
    StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", TimestampType),
    StructField("o_orderpriority", StringType)))

  val lineitemSchema: StructType = StructType(Seq(
    StructField("l_orderkey", LongType),
    StructField("l_partkey", LongType),
    StructField("l_suppkey", LongType),
    StructField("l_linenumber", IntegerType),
    StructField("l_quantity", DoubleType),
    StructField("l_extendedprice", DoubleType),
    StructField("l_discount", DoubleType),
    StructField("l_tax", DoubleType),
    StructField("l_returnflag", StringType),
    StructField("l_linestatus", StringType),
    StructField("l_shipdate", TimestampType)))

  /** events.parquet has been written with `ts` as INT64 TIMESTAMP(NANOS)
    * — which Spark's parquet reader rejects as a timestamp
    * ([PARQUET_TYPE_ILLEGAL]) unless legacy nanosAsLong reads it as a raw
    * long — by some generators, and as plain TIMESTAMP(MICROS) by others.
    * [[eventsTsIsNanos]] sniffs the footer once per path and [[events]] /
    * streaming readers normalize both encodings to a micros timestamp.
    * This is the nanos-shaped declared schema; [[eventsMicrosSchema]] is
    * the micros twin.
    */
  val eventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  val eventsMicrosSchema: StructType = StructType(
    eventsSchema.fields.map(f =>
      if (f.name == "ts") f.copy(dataType = TimestampType) else f))

  /** The parquet files at `path`: the file itself, or the visible files
    * under a directory, filtered by `glob` at its top level.
    */
  private def parquetFiles(s: SparkSession, path: String,
      glob: Option[String]): Seq[org.apache.hadoop.fs.FileStatus] = {
    import org.apache.hadoop.fs.{FileStatus, GlobFilter, Path}
    val root = new Path(path)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    def visible(f: FileStatus) = !f.getPath.getName.startsWith("_") &&
      !f.getPath.getName.startsWith(".")
    def files(f: FileStatus): Seq[FileStatus] =
      if (f.isFile) Seq(f)
      else fs.listStatus(f.getPath).toSeq.filter(visible).flatMap(files)
    val top = fs.getFileStatus(root)
    if (top.isFile) Seq(top)
    else fs.listStatus(root).toSeq.filter(f => visible(f) &&
      glob.forall(g => new GlobFilter(g).accept(f.getPath))).flatMap(files)
  }

  /** A cache source's identity: each visible file's qualified path,
    * length and mtime, from the [[parquetFiles]] listing. It changes
    * when any file is added, removed or rewritten, also a part file
    * rewritten in place under a directory whose own mtime stays put. A
    * missing or empty source fails: with no file, the key never changes.
    */
  private def sourceId(s: SparkSession, path: String,
      glob: Option[String] = None): Seq[(String, Long, Long)] = {
    val files = try parquetFiles(s, path, glob)
      catch { case _: java.io.FileNotFoundException => Nil }
    require(files.nonEmpty, s"cache source missing: $path " +
      "(mtime 0 would freeze the artifact key)")
    files.map(idOf)
  }

  private def idOf(f: org.apache.hadoop.fs.FileStatus) =
    (f.getPath.toString, f.getLen, f.getModificationTime)

  private val memos = new java.util.concurrent.ConcurrentHashMap[
    (Seq[(String, Long, Long)], String), Any]()

  /** The one per-JVM value memo: `compute` once per [[sourceId]] of
    * `path` and caller `key`, of which it must be a pure function.
    * `compute` runs outside the map because it may call the memo again
    * (a codebook fit starts from the quantizer fit, and any job may
    * reach [[parquetRows]] through [[PresentationSort]]), which
    * `computeIfAbsent` refuses as a recursive update. Racing misses
    * both compute; every caller gets the first value stored.
    */
  def memo[V](s: SparkSession, path: String, key: String,
      glob: Option[String] = None)(compute: => V): V =
    memoOn(sourceId(s, path, glob), key)(compute)

  private def memoOn[V](id: Seq[(String, Long, Long)], key: String)(
      compute: => V): V =
    Option(memos.get((id, key))).getOrElse {
      val v = compute
      Option(memos.putIfAbsent((id, key), v)).getOrElse(v)
    }.asInstanceOf[V]

  /** Row count of parquet `files`, summed from their footers on the
    * driver with no Spark job. Each file's count is memoized on that
    * file alone, so a rewritten file is read again.
    */
  private[sources] def parquetRows(s: SparkSession,
      files: Seq[org.apache.hadoop.fs.FileStatus]): Long = {
    val conf = s.sparkContext.hadoopConfiguration
    files.map { f =>
      memoOn(Seq(idOf(f)), "footerRows") {
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(f, conf))
        try reader.getRecordCount finally reader.close()
      }
    }.sum
  }

  /** Whether the events parquet at `path` (filtered by `glob`) stores
    * `ts` as TIMESTAMP(NANOS) (inferred as LongType under nanosAsLong)
    * rather than TIMESTAMP(MICROS). Sniffed once per file set through
    * [[memo]]: testdata REGENERATED at the same path may flip the
    * encoding, and a stale answer silently applies the wrong ts branch
    * (1970 or year-56k timestamps).
    */
  def eventsTsIsNanos(s: SparkSession, path: String,
      glob: Option[String] = None): Boolean =
    memo(s, path, "eventsTsIsNanos", glob) {
      val r = s.read
      glob.foreach(g => r.option("pathGlobFilter", g))
      r.parquet(path).schema("ts").dataType == LongType
    }

  /** Rows of the events table under `sfDir`, from its footers. */
  def eventsRows(s: SparkSession, sfDir: String): Long =
    parquetRows(s, parquetFiles(s, sfDir, Some("events.parquet")))

  val documentsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  val embeddingsSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  private val schemas: Map[String, StructType] = Map(
    "region" -> regionSchema, "nation" -> nationSchema,
    "customer" -> customerSchema, "supplier" -> supplierSchema,
    "part" -> partSchema, "orders" -> ordersSchema,
    "lineitem" -> lineitemSchema, "events" -> eventsSchema,
    "documents" -> documentsSchema, "embeddings" -> embeddingsSchema)

  /** Parquet table scan with declared schema (SURVEY.md §2 A5 analog). */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.schema(schemas(name)).parquet(s"$sfDir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  /** Requires `spark.sql.legacy.parquet.nanosAsLong=true`, set ONCE at
    * session construction (Verify/Bench/tests via [[graftSession]]) —
    * mutating session conf inside a reader would be a global side effect
    * on unrelated reads in the same session. The flag is inert for
    * micros-encoded files but mandatory to even sniff a nanos footer.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    require(s.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") == "true",
      "set spark.sql.legacy.parquet.nanosAsLong=true at session build " +
        "(events.parquet may store ts as TIMESTAMP(NANOS); see Tables.graftConfigs)")
    val path = s"$d/events.parquet"
    if (eventsTsIsNanos(s, path))
      load(s, d, "events")
        .withColumn("ts",
          org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
    else s.read.schema(eventsMicrosSchema).parquet(path)
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  // --------------------------------------------------------------------
  // Retail CSV shapes (reference inputs; `etl/etl.py:50-58`, FIXTURES.md §B)
  // --------------------------------------------------------------------

  val customersCsvSchema: StructType = StructType(Seq(
    StructField("customer_id", StringType),  // raw strings; coercion is an
    StructField("first_name", StringType),   // explicit op (Cleaning.scala),
    StructField("last_name", StringType),    // mirroring pandas read+to_numeric
    StructField("gender", StringType),
    StructField("age", StringType),
    StructField("city", StringType),
    StructField("state", StringType),
    StructField("membership_level", StringType)))

  val productsCsvSchema: StructType = StructType(Seq(
    StructField("product_id", StringType),
    StructField("product_name", StringType),
    StructField("category", StringType),
    StructField("sub_category", StringType),
    StructField("brand", StringType),
    StructField("price", StringType),
    StructField("cost", StringType),
    StructField("color", StringType),
    StructField("size", StringType)))

  val storesCsvSchema: StructType = StructType(Seq(
    StructField("store_id", StringType),
    StructField("store_name", StringType),
    StructField("city", StringType),
    StructField("state", StringType),
    StructField("region", StringType),
    StructField("store_type", StringType)))

  val salesCsvSchema: StructType = StructType(Seq(
    StructField("sales_id", StringType),
    StructField("customer_id", StringType),
    StructField("product_id", StringType),
    StructField("store_id", StringType),
    StructField("quantity", StringType),
    StructField("sales_date", StringType),   // dd-MM-yyyy strings
    StructField("discount_pct", StringType),
    StructField("unit_price", StringType),
    StructField("total_amount", StringType)))

  /** CSV scan (SURVEY.md §2 A1): header row, declared schema, PERMISSIVE
    * mode reproduces pandas' read-then-coerce behavior (`etl/etl.py:50-58`).
    */
  def readCsv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read
      .option("header", "true")
      .option("mode", "PERMISSIVE")
      .schema(schema)
      .csv(path)

  /** CSV staging sink (SURVEY.md §2 A2; `etl/etl.py:127-137`). */
  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("header", "true").csv(path)

  /** JSONL (one JSON object per line) sink — the interchange format
    * LLM-corpus tooling expects. Spark's json writer escapes control
    * characters, so arbitrary document text round-trips losslessly.
    */
  def writeJsonl(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  /** JSONL scan with a declared schema (no sampling-based inference pass
    * — at 100 TB schema inference is a full extra scan).
    */
  def readJsonl(spark: SparkSession, path: String,
      schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** A root of graft's on-disk artifacts, whose entry for one input
    * directory is `<root>/<tag><pathKey(sfDir)><suffix>`.
    */
  final class ArtifactRoot private[Tables] (val path: String) {
    def dir(tag: String, sfDir: String, suffix: String = ""): String =
      s"$path/$tag${pathKey(sfDir)}$suffix"

    /** [[dir]] deleted and made again, fresh for one call. */
    def scratch(tag: String, sfDir: String,
        suffix: String = ""): java.io.File = {
      val d = new java.io.File(dir(tag, sfDir, suffix))
      org.apache.commons.io.FileUtils.deleteQuietly(d)
      d.mkdirs()
      d
    }
  }

  /** The artifact roots: staged splits, kNN artifacts and fixtures;
    * indexes; streaming sinks and checkpoints; the sorted export.
    */
  val Stage = new ArtifactRoot("/tmp/graft_stage")
  val Index = new ArtifactRoot("/tmp/graft_index")
  val StreamSink = new ArtifactRoot("/tmp/graft_stream_sink")
  val Sorted = new ArtifactRoot("/tmp/graft_sorted")

  /** The one freshness rule for every on-disk artifact (staged stream
    * splits, kNN artifacts, PQ and band indexes, roundtrip fixtures):
    * reuse `dir` only when its `_graft_stage_key` marker equals the
    * current key — every source's [[sourceId]] (the identity the value
    * [[memo]] keys on), the caller's dial string and
    * [[buildFingerprint]] — and every `required` path under it still
    * exists (a marker alone is not proof the data survived a /tmp
    * cleaner). Otherwise delete `dir`, run `build(dir)` and write the
    * marker LAST, so a build that dies midway leaves no marker and the
    * next call rebuilds. A missing source fails before anything is
    * deleted. Freshness is re-checked on every call (one listing per
    * source), so no per-JVM memo can serve a stale artifact. The
    * underscore prefix keeps Spark's file sources from reading the
    * marker as data.
    */
  def freshStagedDir(s: SparkSession, dir: String, sources: Seq[String],
      key: String, required: Seq[String])(build: String => Unit): String = {
    val root = new java.io.File(dir)
    val marker = new java.io.File(root, "_graft_stage_key")
    val full = (sources.map(p => sourceId(s, p)
        .map { case (f, len, mtime) => s"$f:$len:$mtime" }.mkString(","))
      :+ key :+ buildFingerprint).mkString("#")
    val fresh = marker.exists && {
      try new String(java.nio.file.Files.readAllBytes(marker.toPath),
        "UTF-8") == full
      catch { case _: Exception => false }
    } && required.forall(r => new java.io.File(root, r).exists)
    if (!fresh) {
      org.apache.commons.io.FileUtils.deleteQuietly(root)
      root.mkdirs()
      build(dir)
      java.nio.file.Files.write(marker.toPath, full.getBytes("UTF-8"))
    }
    dir
  }

  /** mtime of a local source file, for q187's catalog table names
    * (`Layout.bucketedJoinRollup`), whose reuse guard is the session
    * catalog rather than a [[freshStagedDir]] marker.
    * `File.lastModified` is 0 for a missing path, which would freeze
    * the name, so a missing source fails loudly instead.
    */
  def sourceMtime(f: java.io.File): Long = {
    val mt = f.lastModified
    require(mt > 0, s"cache source missing: $f " +
      "(mtime 0 would freeze the artifact key)")
    mt
  }

  /** Hash of the graft class files this JVM runs, computed once: a code
    * change yields a new key in every [[freshStagedDir]] marker, so no
    * cache serves an artifact an older build wrote.
    */
  lazy val buildFingerprint: String = codeFingerprint(
    new java.io.File(getClass.getProtectionDomain.getCodeSource.getLocation.toURI))

  /** Fingerprint of a code location: for a class directory, md5 over
    * every `.class` file under `graft/` (relative path and bytes,
    * sorted by path); for a jar, md5 of the jar file.
    */
  private[graft] def codeFingerprint(location: java.io.File): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    if (location.isDirectory) {
      val base = location.toPath
      val walk = java.nio.file.Files.walk(base.resolve("graft"))
      val classes = try {
        import scala.jdk.CollectionConverters._
        walk.iterator.asScala
          .filter(_.toString.endsWith(".class"))
          .map(p => base.relativize(p).toString -> p).toVector.sortBy(_._1)
      } finally walk.close()
      classes.foreach { case (rel, p) =>
        md.update(rel.getBytes("UTF-8"))
        md.update(java.nio.file.Files.readAllBytes(p))
      }
    } else md.update(java.nio.file.Files.readAllBytes(location.toPath))
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  private def srcParquet(sfDir: String, table: String): String =
    s"$sfDir/$table.parquet"

  /** q48 — JSONL roundtrip fidelity: stage `documents` as JSONL (once
    * per source version — the staging analog of a one-time
    * export), read it back with the declared schema, and fingerprint
    * the text. The oracle reads the original parquet directly, so equal
    * md5s prove the JSON encode/decode preserved every document
    * byte-exactly.
    */
  def documentsJsonlRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val path = freshStagedDir(spark, Stage.dir("jsonl_docs_", sfDir),
      Seq(srcParquet(sfDir, "documents")), "jsonl", Seq("_SUCCESS")) { p =>
      writeJsonl(documents(spark, sfDir), p)
    }
    readJsonl(spark, path, documentsSchema)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
        md5(col("text").cast("binary")).as("text_md5"))
      .orderBy("doc_id")
  }

  val documentsJsonlRoundtripSql: String =
    """SELECT doc_id, lang, source, n_chars, md5(text) AS text_md5
      |FROM documents ORDER BY doc_id""".stripMargin

  /** q118 — staged-sink roundtrip fidelity for the remaining sinks
    * (SURVEY.md §2 A2 CSV sink, A3 parquet append, A4 replace):
    * replace-write the even-key half of `orders` into a parquet staging
    * dir, APPEND the odd-key half, re-scan with the declared schema,
    * export that to a header CSV, re-scan the CSV typed — and return
    * the payload itself. The oracle reads the original parquet
    * directly, so a hash match proves both sinks and both scans
    * preserved every cell: doubles survive the CSV hop via Java's
    * shortest-roundtrip formatting, and the timestamp is presented at
    * DATE grain on both sides (the q97 date contract). Staging is
    * keyed per source version like the q48 JSONL stage.
    */
  def ordersSinkRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val base = freshStagedDir(spark, Stage.dir("sink_orders_", sfDir),
      Seq(srcParquet(sfDir, "orders")), "sink",
      Seq("pq/_SUCCESS", "csv/_SUCCESS")) { p =>
      val o = orders(spark, sfDir)
      overwriteParquet(o.filter(col("o_orderkey") % 2 === 0), p + "/pq")
      appendParquet(o.filter(col("o_orderkey") % 2 === 1), p + "/pq")
      val back = spark.read.schema(ordersSchema).parquet(p + "/pq")
      writeCsv(back.withColumn("o_orderdate", to_date(col("o_orderdate"))),
        p + "/csv")
    }
    val csvSchema = StructType(ordersSchema.fields.map {
      case f if f.name == "o_orderdate" => f.copy(dataType = DateType)
      case f => f
    })
    readCsv(spark, base + "/csv", csvSchema).orderBy("o_orderkey")
  }

  val ordersSinkRoundtripSql: String =
    """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
      |  CAST(o_orderdate AS DATE) AS o_orderdate, o_orderpriority
      |FROM orders ORDER BY o_orderkey""".stripMargin

  /** q164 — ORC sink + scan roundtrip: the third columnar format the
    * engine writes/reads natively (parquet q118, CSV q36-38/q118,
    * JSONL q48, JDBC, this). DuckDB cannot read ORC, so the oracle
    * reads the ORIGINAL table — equality proves the ORC hop preserved
    * every cell (the q118 discipline: the sink is judged by what comes
    * back). Declared-schema read, staged once per source version.
    */
  def ordersOrcRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val base = freshStagedDir(spark, Stage.dir("orc_orders_", sfDir),
      Seq(srcParquet(sfDir, "orders")), "orc", Seq("_SUCCESS")) { p =>
      orders(spark, sfDir).write.mode("overwrite").orc(p)
    }
    spark.read.schema(ordersSchema).orc(base).orderBy("o_orderkey")
  }

  val ordersOrcRoundtripSql: String =
    """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
      |  o_orderdate, o_orderpriority
      |FROM orders ORDER BY o_orderkey""".stripMargin

  // ------------------------------------------------------------------
  // q176 — SCHEMA EVOLUTION across parquet segments: the operational
  // reality of a long-lived 100 TB table is that new columns appear in
  // new segments while years of old segments lack them. The staged
  // fixture writes the orders table as two generations — v1 without
  // `o_clerk_flag`, v2 (later orderkeys) WITH it — and the read merges
  // footers (`mergeSchema=true`) into one unified frame where the old
  // segment's new column is NULL. The registered query COALESCEs the
  // evolved column to a -1 sentinel (NULL numeric outputs compare
  // None-vs-NaN differently across the driver's two readers) so the
  // oracle can restate the generation rule from the source table.
  // ------------------------------------------------------------------

  /** Cutover key: orders below it are "v1 era", at/above it "v2 era". */
  private def evolveCutover(spark: SparkSession, sfDir: String): Long = {
    val Array(mn, mx) = orders(spark, sfDir)
      .agg(org.apache.spark.sql.functions.min("o_orderkey"),
        org.apache.spark.sql.functions.max("o_orderkey"))
      .head().toSeq.map(_.asInstanceOf[Long]).toArray
    mn + (mx - mn) / 2
  }

  def ordersEvolvedRead(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val cut = evolveCutover(spark, sfDir)
    val base = freshStagedDir(spark, Stage.dir("evolve_orders_", sfDir),
      Seq(srcParquet(sfDir, "orders")), s"evolve#$cut",
      Seq("seg=v1/_SUCCESS", "seg=v2/_SUCCESS")) { p =>
      val o = orders(spark, sfDir)
      o.filter(col("o_orderkey") < cut)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .write.mode("overwrite").parquet(s"$p/seg=v1")
      o.filter(col("o_orderkey") >= cut)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          (col("o_orderkey") % 2 === 0).cast("int").as("o_clerk_flag"))
        .write.mode("overwrite").parquet(s"$p/seg=v2")
    }
    spark.read.option("mergeSchema", "true").parquet(base)
      .select(col("o_orderkey"), col("o_custkey"),
        col("o_totalprice").cast("double").as("o_totalprice"),
        coalesce(col("o_clerk_flag").cast("long"), lit(-1L))
          .as("clerk_flag"),
        col("seg"))
      .orderBy("o_orderkey")
  }

  /** Oracle for [[ordersEvolvedRead]]: the generation rule restated —
    * v1-era rows carry the -1 missing-column sentinel, v2-era rows the
    * parity flag the v2 writer stamped.
    */
  val ordersEvolvedReadSql: String =
    """WITH b AS (
      |  SELECT min(o_orderkey) + (max(o_orderkey) - min(o_orderkey)) // 2
      |    AS cut FROM orders)
      |SELECT o_orderkey, o_custkey,
      |  CAST(o_totalprice AS DOUBLE) AS o_totalprice,
      |  CAST(CASE WHEN o_orderkey < cut THEN -1
      |            WHEN o_orderkey % 2 = 0 THEN 1 ELSE 0 END AS BIGINT)
      |    AS clerk_flag,
      |  CASE WHEN o_orderkey < cut THEN 'v1' ELSE 'v2' END AS seg
      |FROM orders, b
      |ORDER BY o_orderkey""".stripMargin

  /** Parquet sink, append (SURVEY.md §2 A3 — the JDBC batch append becomes
    * a partitioned parquet append; per-job atomicity via the output
    * committer replaces the reference's explicit transaction, I3).
    */
  def appendParquet(df: DataFrame, path: String): Unit =
    df.write.mode("append").parquet(path)

  /** Parquet sink, replace (SURVEY.md §2 A4; `etl/etl.py:199-207`). */
  def overwriteParquet(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)

  val CompactTargetBytes = 128L * 1024 * 1024 // compacted file size

  /** Small-files compaction: rewrite a parquet directory into
    * ~`CompactTargetBytes` output files (the operational fix for the
    * accumulate-tiny-appends problem that kills scan parallelism
    * bookkeeping at 100 TB). Sizing comes from the optimized plan's
    * statistics (file footers — no job), the rewrite is one
    * [[writeParquetFiles]], and the swap keeps the original as a
    * `_compact_bak` directory until the rewrite is renamed into place:
    * a failed write leaves the original untouched, and a crash
    * mid-swap leaves the data recoverable in the backup — no window
    * where the bytes exist only in a temp the next run would clobber.
    * (True single-op atomicity needs a table format's metadata commit;
    * this is the best a bare filesystem offers.)
    */
  def compactParquet(spark: SparkSession, path: String): Int = {
    val df = spark.read.parquet(path)
    val inputBytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val nFiles = ((inputBytes + CompactTargetBytes - 1) / CompactTargetBytes)
      .max(BigInt(1)).min(BigInt(1 << 20)).toInt
    val tmp = path + "_compact_tmp"
    writeParquetFiles(df, tmp, nFiles)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(conf)
    val dst = new org.apache.hadoop.fs.Path(path)
    val src = new org.apache.hadoop.fs.Path(tmp)
    val bak = new org.apache.hadoop.fs.Path(path + "_compact_bak")
    if (fs.exists(bak)) fs.delete(bak, true)
    if (!fs.rename(dst, bak))
      throw new java.io.IOException(s"compaction: cannot stage backup of $path")
    if (!fs.rename(src, dst)) {
      fs.rename(bak, dst) // restore the original before failing
      throw new java.io.IOException(s"compaction swap failed for $path")
    }
    fs.delete(bak, true)
    nFiles
  }

  // --------------------------------------------------------------------
  // JDBC source/sink (SURVEY.md §2 A3/A5 as REAL JDBC — the reference
  // loads staged CSVs into Oracle over JDBC with a 5000-row batch,
  // `etl/etl.py:143-160,266-269`, `etl/config.ini:26`)
  // --------------------------------------------------------------------

  val JdbcFetchSize = 5000 // rows per JDBC fetch

  /** JDBC table scan (A5). For large tables pass `partitionColumn` +
    * bounds so the read parallelizes into `numPartitions` range-bounded
    * queries — a single-connection JDBC read is the classic 100 TB
    * anti-pattern (one task pulls everything).
    */
  def readJdbc(spark: SparkSession, url: String, table: String,
      props: Map[String, String] = Map.empty,
      partitionColumn: Option[String] = None, lowerBound: Long = 0L,
      upperBound: Long = 0L, numPartitions: Int = 8): DataFrame = {
    val base = spark.read.format("jdbc")
      .option("url", url)
      .option("dbtable", table)
      .option("fetchsize", JdbcFetchSize)
      .options(props)
    partitionColumn.fold(base) { c =>
      base.option("partitionColumn", c)
        .option("lowerBound", lowerBound)
        .option("upperBound", upperBound)
        .option("numPartitions", numPartitions)
    }.load()
  }

  /** JDBC batch sink (A3): executeBatch every `batchSize` rows, exactly
    * the reference's `cursor.executemany` batching (5000,
    * `etl/config.ini:26`). One connection per partition — writer
    * parallelism = input partitions, so the caller sets it.
    */
  def writeJdbc(df: DataFrame, url: String, table: String,
      mode: String = "append",
      props: Map[String, String] = Map.empty,
      batchSize: Int = 5000): Unit =
    df.write.format("jdbc")
      .option("url", url)
      .option("dbtable", table)
      .option("batchsize", batchSize)
      .options(props)
      .mode(mode)
      .save()

  /** `df` spread to `defaultParallelism` partitions, for CPU-heavy
    * per-row work fused above it.
    *
    * The driver testdata ships one row group per parquet file, so a scan
    * stage is ONE task no matter the split config, and an expensive
    * projection fused into it runs single-threaded. An input that already
    * has `defaultParallelism` or more partitions (production inputs with
    * thousands of row groups) comes back unchanged; the check costs only
    * a file listing.
    *
    * The exchange hashes every column. A round-robin `repartition(n)`
    * would sort each input partition first
    * (`spark.sql.execution.sortBeforeRepartition`, so that a retried
    * task sends the same rows to the same reducers), and on a one-split
    * input that is one task sorting the whole table. A hash exchange is
    * just as retry-deterministic without the sort, because the row's own
    * values pick its partition. Every column, not a key, so a
    * low-cardinality leading column cannot collapse the spread.
    */
  def spread(df: DataFrame): DataFrame = {
    val n = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= n) df else hashPartitioned(df, n)
  }

  /** Overwrite `path` with `df` as `nFiles` parquet files (at most: a
    * hash partition can be empty). One file takes a `coalesce(1)`, no
    * exchange; more take the [[spread]] exchange.
    */
  def writeParquetFiles(df: DataFrame, path: String, nFiles: Int): Unit =
    (if (nFiles > 1) hashPartitioned(df, nFiles) else df.coalesce(1))
      .write.mode("overwrite").parquet(path)

  /** `df` in `n` partitions hashed on every column, each named through
    * `df.col` with backquotes so names with dots resolve.
    */
  private def hashPartitioned(df: DataFrame, n: Int): DataFrame =
    df.repartition(n,
      df.columns.toSeq.map(c => df.col("`" + c.replace("`", "``") + "`")): _*)

  /** Scope for overlapping INDEPENDENT driver actions inside one query
    * (guide §2.6: jobs are only sequential because the caller invokes
    * them sequentially; the scheduler is thread-safe and job
    * descriptions are thread-local). `body` submits jobs through
    * [[Overlap.submit]]; they run on `threads` daemon threads named
    * `graft-overlap`, so no failure can keep the JVM from exiting.
    *
    * The scope waits for EVERY submitted job before it returns or
    * throws: a job left running after its query failed (q205's segment
    * commit after a probe guard's `require`) would keep reading
    * checkpoint blocks the janitor frees. A failure the body raised
    * itself wins; otherwise the first failed job in submission order
    * is rethrown, unwrapped from its `ExecutionException`.
    */
  def overlapped[T](spark: SparkSession, threads: Int = 2)(
      body: Overlap => T): T = {
    val ov = new Overlap(spark, threads)
    try {
      val out = try Right(body(ov)) catch { case e: Throwable => Left(e) }
      val failed = ov.join()
      out match {
        case Left(e) if !failed.exists(_ eq e) => throw e
        case _ => failed.headOption.foreach(e => throw e)
      }
      out.toOption.get
    } finally ov.pool.shutdown()
  }

  /** The jobs of one [[overlapped]] scope; submit from the body's thread. */
  final class Overlap private[Tables] (spark: SparkSession, threads: Int) {
    private[Tables] val pool =
      java.util.concurrent.Executors.newFixedThreadPool(threads,
        (r: Runnable) => {
          val t = new Thread(r, "graft-overlap")
          t.setDaemon(true)
          t
        })
    private val jobs =
      scala.collection.mutable.ArrayBuffer.empty[Job[_]]

    /** Run `thunk` on a pool thread under its own job description. */
    def submit[T](desc: String)(thunk: => T): Job[T] = {
      val job = new Job(pool.submit(new java.util.concurrent.Callable[T] {
        def call(): T = {
          spark.sparkContext.setJobDescription(desc)
          thunk
        }
      }))
      jobs += job
      job
    }

    /** Wait for every job; their failures in submission order. */
    private[Tables] def join(): Seq[Throwable] =
      jobs.toSeq.flatMap { j =>
        try { j.get(); None } catch { case e: Throwable => Some(e) }
      }
  }

  /** A submitted job; `get` waits and rethrows the job's own failure. */
  final class Job[T] private[Tables] (
      f: java.util.concurrent.Future[T]) {
    def get(): T =
      try f.get() catch {
        case e: java.util.concurrent.ExecutionException
            if e.getCause != null => throw e.getCause
      }
  }

  /** Collision-free /tmp directory key for a source path: md5 of the
    * FULL path (String.hashCode is 32-bit — two sfDirs can collide and
    * concurrent sessions would clobber each other's staging / index /
    * sink version chains; safe before only because the sbt project lock
    * serialized runs). Every [[ArtifactRoot]] entry name carries it.
    */
  def pathKey(path: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(path.getBytes("UTF-8"))
      .map(b => f"${b & 0xff}%02x").mkString.take(16)

  /** Hive-partitioned parquet sink (SURVEY.md §2 J4's pruning half:
    * directory partitioning replaces the reference's fact-FK indexes for
    * date/categorical predicates — a filter on the partition column
    * prunes whole directories before any IO).
    */
  def writePartitioned(df: DataFrame, path: String, cols: String*): Unit =
    df.write.mode("overwrite").partitionBy(cols: _*).parquet(path)
}
