package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.streaming.EventStreams

/** Corpus-curation operators for LLM training-data pipelines over
  * `documents` (SURVEY.md §7.5 extensions): word-shingle exact-substring
  * deduplication, rule-based quality gates, and eval-set
  * decontamination. These are the standard curation passes published
  * for large pretraining corpora (exact-substring dedup, Gopher-style
  * quality rules, n-gram test-set decontamination), re-expressed as
  * declarative Spark plans.
  *
  * Cross-engine determinism follows the TextAnalysis conventions:
  * whitespace tokenization identical in Spark `split` and DuckDB
  * `string_split_regex`; shingle identity via [[TextAnalysis.md5Hash60]]
  * (md5-derived 60-bit keys, bit-identical in both engines); ratios are
  * IEEE double ops on identical integer inputs.
  */
object Corpus {

  /** Word n-gram shingles of `tks` (an array<string> column), joined
    * with single spaces. Guarded so short docs yield an empty array —
    * Spark's `sequence(1, 0)` would otherwise produce a DESCENDING
    * range, not an empty one.
    */
  def shinglesExpr(tksCol: String, n: Int): Column = expr(
    s"""CASE WHEN size($tksCol) >= $n
       |  THEN transform(sequence(1, size($tksCol) - ${n - 1}),
       |         i -> array_join(slice($tksCol, i, $n), ' '))
       |  ELSE array() END""".stripMargin)

  /** DuckDB twin of [[shinglesExpr]]: `range(1, k+1)` is end-exclusive,
    * so short docs yield the empty list without a CASE guard; list
    * slices are 1-based inclusive like Spark's `slice`.
    */
  def shinglesSql(tks: String, n: Int): String =
    s"""list_transform(range(1, greatest(len($tks) - ${n - 1}, 0) + 1),
       |  i -> array_to_string($tks[i:i+${n - 1}], ' '))""".stripMargin

  private[graft] val tokensSparkSql =
    "filter(split(lower(trim(text)), '\\\\s+'), w -> w <> '')"
  private[graft] val tokensDuckSql =
    "list_filter(string_split_regex(lower(trim(text)), '\\s+'), w -> w <> '')"

  /** (doc_id, shingle-hash) instances for every word `n`-gram in the
    * corpus — the shared scan for [[shingleDedup]] and
    * [[decontamination]]. The 60-bit hash keeps every downstream
    * exchange at ~16 bytes/row no matter how long the shingle text is.
    */
  private def shingleHashes(spark: SparkSession, sfDir: String,
      n: Int): DataFrame =
    shingleHashesOf(
      Tables.spread(Tables.documents(spark, sfDir)), n)

  /** [[shingleHashes]] over an explicit (possibly pre-restricted)
    * document frame — q196 semi-joins the survivors BEFORE the shingle
    * explode so the expensive per-row work never runs on dropped docs.
    */
  private[graft] def shingleHashesOf(docs: DataFrame, n: Int): DataFrame =
    docs
      .withColumn("tks", expr(tokensSparkSql))
      .select(col("doc_id"), explode(shinglesExpr("tks", n)).as("sh"))
      .select(col("doc_id"), TextAnalysis.md5Hash60(col("sh")).as("h"))

  private def shingleHashesSql(n: Int): String =
    s"""tk AS (SELECT doc_id, $tokensDuckSql AS tks FROM documents),
       |sh AS (SELECT doc_id, unnest(${shinglesSql("tks", n)}) AS s
       |       FROM tk),
       |hs AS (SELECT doc_id, ${TextAnalysis.md5Hash60Sql("s")} AS h
       |       FROM sh)""".stripMargin

  val ShingleN = 8 // shingle length of the shingle dedup, in tokens

  /** Exact-substring deduplication at word-shingle grain (the n-gram
    * approximation of suffix-array exact-substring dedup from the
    * "Deduplicating Training Data" line of work): for every doc, the
    * fraction of its `ShingleN`-gram instances that occur ≥2 times
    * anywhere in the corpus (any doc, counting multiplicity).
    *
    * Scale shape: explode → partial-agg at (doc, hash) grain (map-side
    * combine collapses within-doc repeats before the exchange) →
    * hash-grain corpus counts → a co-partitioned join back (both sides
    * already hash-partitioned on `h`, no extra exchange) → final
    * doc-grain agg. Every exchange carries (int64 doc, int64 hash,
    * count) — never shingle text. No all-pairs structure anywhere; at
    * 100 TB this is three linear shuffles of ~24-byte rows.
    */
  def shingleDedup(spark: SparkSession, sfDir: String): DataFrame = {
    // perDoc feeds BOTH the corpus rollup and the join-back; without a
    // materialization the shingle scan (the expensive subtree) executes
    // once per branch — Catalyst reuses identical exchanges, but the two
    // branches shuffle at different grains. The checkpointed frame is
    // the compact (int64, int64, count) grain, not shingle text.
    val perDoc = shingleHashes(spark, sfDir, ShingleN)
      .groupBy("doc_id", "h").agg(count(lit(1)).as("c_doc"))
      .localCheckpoint(true)
    val corpus = perDoc.groupBy("h").agg(sum("c_doc").as("c_all"))
    val agg = perDoc.join(corpus, Seq("h"))
      .groupBy("doc_id")
      .agg(sum("c_doc").as("n_shingles"),
        sum(when(col("c_all") >= 2, col("c_doc")).otherwise(lit(0L)))
          .as("n_dup_shingles"))
    // docs shorter than n tokens have no shingles but must still report
    Tables.documents(spark, sfDir).select("doc_id")
      .join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_dup_shingles"), lit(0L)).as("n_dup_shingles"),
        (coalesce(col("n_dup_shingles"), lit(0L)).cast("double") /
          greatest(coalesce(col("n_shingles"), lit(0L)), lit(1L)))
          .as("dup_frac"))
      .orderBy("doc_id")
  }

  def shingleDedupSql: String =
    s"""WITH ${shingleHashesSql(ShingleN)},
       |pd AS (SELECT doc_id, h, COUNT(*) AS c_doc FROM hs
       |       GROUP BY doc_id, h),
       |cc AS (SELECT h, SUM(c_doc) AS c_all FROM pd GROUP BY h),
       |agg AS (
       |  SELECT pd.doc_id,
       |    CAST(SUM(c_doc) AS BIGINT) AS n_shingles,
       |    CAST(SUM(CASE WHEN c_all >= 2 THEN c_doc ELSE 0 END) AS BIGINT)
       |      AS n_dup_shingles
       |  FROM pd JOIN cc ON pd.h = cc.h
       |  GROUP BY pd.doc_id)
       |SELECT d.doc_id,
       |  COALESCE(agg.n_shingles, 0) AS n_shingles,
       |  COALESCE(agg.n_dup_shingles, 0) AS n_dup_shingles,
       |  CAST(COALESCE(agg.n_dup_shingles, 0) AS DOUBLE)
       |    / greatest(COALESCE(agg.n_shingles, 0), 1) AS dup_frac
       |FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id
       |ORDER BY d.doc_id""".stripMargin

  /** Gopher-style rule-based quality gates, reported as per-source pass
    * rates (the corpus-curation dashboard view: which crawl sources
    * survive filtering). Gates, per doc:
    *   - g_len:     20 ≤ token count ≤ 60
    *   - g_wordlen: 3.8 ≤ mean word length ≤ 4.6
    *   - g_stop:    ≥2 distinct common-English stopwords present
    *   - g_alpha:   ≥80% of tokens purely alphabetic
    *
    * Scale shape: one narrow codegen'd pass over the scan (token array
    * built once per row, all four gates computed from it), then a
    * single low-cardinality agg on `source` — the only exchange carries
    * one row of partial counters per (partition, source).
    */
  def qualityGates(spark: SparkSession, sfDir: String): DataFrame = {
    val gated = Tables.spread(Tables.documents(spark, sfDir))
      .withColumn("tks", expr(tokensSparkSql))
      .withColumn("n_tokens", size(col("tks")))
      .withColumn("sum_len",
        expr("aggregate(tks, 0L, (a, w) -> a + length(w))"))
      .withColumn("mean_wl",
        col("sum_len").cast("double") / greatest(col("n_tokens"), lit(1)))
      .withColumn("n_stop", size(expr(
        "filter(array_distinct(tks), w -> w IN ('the','a','of','and','in'))")))
      .withColumn("alpha_frac",
        size(expr("filter(tks, w -> w rlike '^[a-z]+$')")).cast("double") /
          greatest(col("n_tokens"), lit(1)))
      .select(col("source"),
        (col("n_tokens") >= 20 && col("n_tokens") <= 60).cast("int").as("g_len"),
        (col("mean_wl") >= 3.8 && col("mean_wl") <= 4.6).cast("int").as("g_wordlen"),
        (col("n_stop") >= 2).cast("int").as("g_stop"),
        (col("alpha_frac") >= 0.8).cast("int").as("g_alpha"))
    gated
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("g_len").as("n_pass_len"),
        sum("g_wordlen").as("n_pass_wordlen"),
        sum("g_stop").as("n_pass_stop"),
        sum("g_alpha").as("n_pass_alpha"),
        sum(col("g_len") * col("g_wordlen") * col("g_stop") * col("g_alpha"))
          .as("n_pass_all"))
      .withColumn("pass_rate",
        col("n_pass_all").cast("double") / greatest(col("n_docs"), lit(1L)))
      .orderBy("source")
  }

  /** Per-doc quality score (0–4: how many q83 gates pass) — the
    * ranking signal q194's keep-best dedup uses to pick a cluster's
    * survivor. Exactly the [[qualityGates]] gate expressions at doc
    * grain; same narrow codegen'd scan shape.
    */
  def docGateScores(spark: SparkSession, sfDir: String): DataFrame =
    withGateScore(Tables.spread(Tables.documents(spark, sfDir)))
      .select(col("doc_id"), col("score"))

  /** The q83 gate battery on any frame with a `text` column: appends
    * `n_tokens` and the 0–4 `score` (shared by the batch q83/q194/q196
    * consumers and the q202 streaming gate — one definition, no drift).
    */
  private[graft] def withGateScore(df: DataFrame): DataFrame =
    df.withColumn("tks", expr(tokensSparkSql))
      .withColumn("n_tokens", size(col("tks")))
      .withColumn("sum_len",
        expr("aggregate(tks, 0L, (a, w) -> a + length(w))"))
      .withColumn("mean_wl",
        col("sum_len").cast("double") / greatest(col("n_tokens"), lit(1)))
      .withColumn("n_stop", size(expr(
        "filter(array_distinct(tks), w -> w IN ('the','a','of','and','in'))")))
      .withColumn("alpha_frac",
        size(expr("filter(tks, w -> w rlike '^[a-z]+$')")).cast("double") /
          greatest(col("n_tokens"), lit(1)))
      .withColumn("score",
        (col("n_tokens") >= 20 && col("n_tokens") <= 60).cast("long") +
          (col("mean_wl") >= 3.8 && col("mean_wl") <= 4.6).cast("long") +
          (col("n_stop") >= 2).cast("long") +
          (col("alpha_frac") >= 0.8).cast("long"))

  /** Band rows (doc_id, band_idx, band_key) of a docs frame — the q196
    * stage-2 banding (native minhash + banded split, with the
    * repartition plan barrier) exposed for the streaming admission
    * path (q205), so stream and batch can never drift.
    */
  private[graft] def bandsOf(docs: DataFrame): DataFrame =
    Dedup.bandedFromSigs(
      docs.select(col("doc_id"),
        graft.functions.minhash_sig(col("text"), Dedup.NumHashes)
          .as("minhash"))
        .repartition(col("doc_id")))

  /** Distinct word-3-shingle arrays (doc_id, sh) — the q196 stage-2
    * verification grain, shared with q205 for the same no-drift reason.
    */
  private[graft] def shinglesOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      array_distinct(graft.functions.word_shingles(col("text"))).as("sh"))

  /** DuckDB CTE body for [[docGateScores]]: `(SELECT doc_id, score ...)`. */
  val docGateScoresSql: String =
    s"""SELECT doc_id,
       |  CAST(n_tokens BETWEEN 20 AND 60 AS BIGINT)
       |    + CAST(mean_wl BETWEEN 3.8 AND 4.6 AS BIGINT)
       |    + CAST(n_stop >= 2 AS BIGINT)
       |    + CAST(alpha_frac >= 0.8 AS BIGINT) AS score
       |FROM (
       |  SELECT doc_id,
       |    len(tks) AS n_tokens,
       |    CAST(list_sum(list_transform(tks, w -> length(w))) AS DOUBLE)
       |      / greatest(len(tks), 1) AS mean_wl,
       |    len(list_filter(list_distinct(tks),
       |      w -> w IN ('the','a','of','and','in'))) AS n_stop,
       |    CAST(len(list_filter(tks,
       |      w -> regexp_matches(w, '^[a-z]+$$'))) AS DOUBLE)
       |      / greatest(len(tks), 1) AS alpha_frac
       |  FROM (SELECT doc_id, $tokensDuckSql AS tks FROM documents))""".stripMargin

  val qualityGatesSql: String =
    s"""WITH g AS (
       |  SELECT source, tks,
       |    len(tks) AS n_tokens,
       |    CAST(list_sum(list_transform(tks, w -> length(w))) AS DOUBLE)
       |      / greatest(len(tks), 1) AS mean_wl,
       |    len(list_filter(list_distinct(tks),
       |      w -> w IN ('the','a','of','and','in'))) AS n_stop,
       |    CAST(len(list_filter(tks,
       |      w -> regexp_matches(w, '^[a-z]+$$'))) AS DOUBLE)
       |      / greatest(len(tks), 1) AS alpha_frac
       |  FROM (SELECT source, $tokensDuckSql AS tks FROM documents)),
       |f AS (
       |  SELECT source,
       |    CAST(n_tokens BETWEEN 20 AND 60 AS INT) AS g_len,
       |    CAST(mean_wl BETWEEN 3.8 AND 4.6 AS INT) AS g_wordlen,
       |    CAST(n_stop >= 2 AS INT) AS g_stop,
       |    CAST(alpha_frac >= 0.8 AS INT) AS g_alpha
       |  FROM g)
       |SELECT source, COUNT(*) AS n_docs,
       |  CAST(SUM(g_len) AS BIGINT) AS n_pass_len,
       |  CAST(SUM(g_wordlen) AS BIGINT) AS n_pass_wordlen,
       |  CAST(SUM(g_stop) AS BIGINT) AS n_pass_stop,
       |  CAST(SUM(g_alpha) AS BIGINT) AS n_pass_alpha,
       |  CAST(SUM(g_len * g_wordlen * g_stop * g_alpha) AS BIGINT)
       |    AS n_pass_all,
       |  CAST(SUM(g_len * g_wordlen * g_stop * g_alpha) AS DOUBLE)
       |    / greatest(COUNT(*), 1) AS pass_rate
       |FROM f
       |GROUP BY source
       |ORDER BY source""".stripMargin

  val DecontamN = 5 // n-gram length of the decontamination check
  val EvalMod = 5 // one document in this many is held out as eval

  /** Eval-set decontamination (the GPT-3/PaLM-style n-gram overlap
    * check): a deterministic held-out slice (doc_id ≡ 0 mod `EvalMod`)
    * plays the benchmark set; every training doc reports how many of
    * its distinct `DecontamN`-gram shingles collide with the eval set's
    * shingle inventory. Docs with any collision are what a real
    * pipeline would drop or flag before training.
    *
    * Scale shape: the eval inventory is DISTINCT hashes of a small
    * held-out set — broadcast when it fits (size-gated via the
    * documents-scan proxy, since the aggregate's own stats are
    * unknown post-explode), so the train side never shuffles; the
    * doc-grain agg is the only exchange and carries 16-byte rows.
    */
  def decontamination(spark: SparkSession, sfDir: String): DataFrame = {
    val hs = shingleHashes(spark, sfDir, DecontamN)
    val evalSet = hs.filter(pmod(col("doc_id"), lit(EvalMod)) === 0)
      .select("h").distinct().withColumn("hit", lit(1))
    val train = hs.filter(pmod(col("doc_id"), lit(EvalMod)) =!= 0)
      .select("doc_id", "h").distinct()
    val agg = train
      .join(Joins.broadcastIfSmall(evalSet,
        Tables.documents(spark, sfDir)), Seq("h"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_distinct_shingles"),
        sum(coalesce(col("hit"), lit(0))).as("n_contaminated"))
    Tables.documents(spark, sfDir)
      .filter(pmod(col("doc_id"), lit(EvalMod)) =!= 0).select("doc_id")
      .join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_distinct_shingles"), lit(0L))
          .as("n_distinct_shingles"),
        coalesce(col("n_contaminated"), lit(0L)).as("n_contaminated"),
        (coalesce(col("n_contaminated"), lit(0L)) > 0).cast("int")
          .as("is_contaminated"))
      .orderBy("doc_id")
  }

  val BoilerplateN = 5 // n-gram length of the boilerplate check

  /** Per-source template ("boilerplate") n-gram detection: a gram is
    * boilerplate for a source when it appears in ≥20% of that source's
    * docs (`df·5 ≥ n_docs` — integer arithmetic, no float threshold).
    * Reports, per source, how much of the gram stream those template
    * grams cover — the signal a curation pipeline uses to strip shared
    * headers/footers/navigation before dedup scoring.
    *
    * Scale shape: the explode collapses to (source, doc, hash) grain
    * with a map-side combine, then to (source, hash) document
    * frequencies; every exchange carries ~24-byte hash rows, and the
    * final rollup is source-grain (bounded). No text ever shuffles.
    */
  def boilerplateGrams(spark: SparkSession, sfDir: String): DataFrame = {
    val inst = Tables.spread(Tables.documents(spark, sfDir))
      .withColumn("tks", expr(tokensSparkSql))
      .select(col("source"), col("doc_id"),
        explode(shinglesExpr("tks", BoilerplateN)).as("sh"))
      .select(col("source"), col("doc_id"),
        TextAnalysis.md5Hash60(col("sh")).as("h"))
      .groupBy("source", "doc_id", "h")
      .agg(count(lit(1)).as("c"))
    val nDocs = Tables.documents(spark, sfDir)
      .groupBy("source").agg(count(lit(1)).as("n_docs"))
    val grams = inst.groupBy("source", "h")
      .agg(count(lit(1)).as("df"), sum("c").as("inst"))
      .join(Joins.broadcastIfSmall(nDocs,
        Tables.documents(spark, sfDir)), Seq("source"))
      .withColumn("is_boiler", (col("df") * 5 >= col("n_docs")).cast("int"))
    grams.groupBy("source")
      .agg(first(col("n_docs")).as("n_docs"),
        count(lit(1)).as("n_distinct_grams"),
        sum("is_boiler").as("n_boiler_grams"),
        sum("inst").as("n_instances"),
        sum(when(col("is_boiler") === 1, col("inst")).otherwise(lit(0L)))
          .as("n_boiler_instances"))
      .withColumn("coverage_ppm",
        floor(col("n_boiler_instances") * 1000000 /
          greatest(col("n_instances"), lit(1L))).cast("long"))
      .orderBy("source")
  }

  def boilerplateGramsSql: String =
    s"""WITH tk AS (SELECT source, doc_id, $tokensDuckSql AS tks
       |            FROM documents),
       |sh AS (SELECT source, doc_id, unnest(${shinglesSql("tks", BoilerplateN)}) AS s
       |       FROM tk),
       |inst AS (
       |  SELECT source, doc_id, ${TextAnalysis.md5Hash60Sql("s")} AS h,
       |    COUNT(*) AS c
       |  FROM sh GROUP BY source, doc_id, ${TextAnalysis.md5Hash60Sql("s")}),
       |nd AS (SELECT source, COUNT(*) AS n_docs FROM documents
       |       GROUP BY source),
       |grams AS (
       |  SELECT inst.source, h, COUNT(*) AS df, SUM(c) AS inst,
       |    MIN(n_docs) AS n_docs,
       |    CAST(COUNT(*) * 5 >= MIN(n_docs) AS INT) AS is_boiler
       |  FROM inst JOIN nd ON inst.source = nd.source
       |  GROUP BY inst.source, h)
       |SELECT source, CAST(MIN(n_docs) AS BIGINT) AS n_docs,
       |  COUNT(*) AS n_distinct_grams,
       |  CAST(SUM(is_boiler) AS BIGINT) AS n_boiler_grams,
       |  CAST(SUM(inst) AS BIGINT) AS n_instances,
       |  CAST(SUM(CASE WHEN is_boiler = 1 THEN inst ELSE 0 END) AS BIGINT)
       |    AS n_boiler_instances,
       |  CAST(FLOOR(SUM(CASE WHEN is_boiler = 1 THEN inst ELSE 0 END)
       |    * 1000000 / greatest(SUM(inst), 1)) AS BIGINT) AS coverage_ppm
       |FROM grams
       |GROUP BY source
       |ORDER BY source""".stripMargin

  /** Encoding-quality gate: per-doc counts of bytes-gone-wrong
    * indicators — characters outside printable ASCII + whitespace,
    * control characters, and U+FFFD replacement characters (the
    * mojibake tell) — rolled up per source. A doc is clean when it has
    * no non-ASCII and no replacement chars. All counts are integer
    * length deltas of regex strips, identical in Spark's Java regex and
    * DuckDB's RE2 for these hex classes.
    *
    * Scale shape: one narrow codegen'd pass (three regexp_replace over
    * the scan), then a source-grain agg — the only exchange is one
    * partial-counter row per (partition, source).
    */
  def encodingGate(spark: SparkSession, sfDir: String): DataFrame = {
    val printable = "[\\x20-\\x7e\\t\\n\\r]"
    val ctrl = "[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]"
    val gated = Tables.spread(Tables.documents(spark, sfDir))
      .select(col("source"),
        length(col("text")).as("nc"),
        length(regexp_replace(col("text"), printable, "")).as("non_ascii"),
        (length(col("text")) -
          length(regexp_replace(col("text"), ctrl, ""))).as("n_ctrl"),
        (length(col("text")) -
          length(regexp_replace(col("text"), "�", ""))).as("n_repl"))
    gated.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(((col("non_ascii") === 0) && (col("n_repl") === 0)).cast("long"))
          .as("n_clean"),
        sum(col("nc")).as("total_chars"),
        sum(col("non_ascii")).as("total_non_ascii"),
        sum(col("n_ctrl")).as("total_ctrl"),
        sum(col("n_repl")).as("total_repl"))
      .withColumn("clean_ppm",
        floor(col("n_clean") * 1000000 / greatest(col("n_docs"), lit(1L)))
          .cast("long"))
      .orderBy("source")
  }

  val encodingGateSql: String =
    s"""WITH g AS (
       |  SELECT source, length(text) AS nc,
       |    length(regexp_replace(text, '[\\x20-\\x7e\\t\\n\\r]', '', 'g'))
       |      AS non_ascii,
       |    length(text) - length(regexp_replace(text,
       |      '[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]', '', 'g')) AS n_ctrl,
       |    length(text) - length(replace(text, chr(65533), '')) AS n_repl
       |  FROM documents)
       |SELECT source, COUNT(*) AS n_docs,
       |  CAST(SUM(CASE WHEN non_ascii = 0 AND n_repl = 0 THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_clean,
       |  CAST(SUM(nc) AS BIGINT) AS total_chars,
       |  CAST(SUM(non_ascii) AS BIGINT) AS total_non_ascii,
       |  CAST(SUM(n_ctrl) AS BIGINT) AS total_ctrl,
       |  CAST(SUM(n_repl) AS BIGINT) AS total_repl,
       |  CAST(FLOOR(SUM(CASE WHEN non_ascii = 0 AND n_repl = 0
       |      THEN 1 ELSE 0 END) * 1000000
       |    / greatest(COUNT(*), 1)) AS BIGINT) AS clean_ppm
       |FROM g
       |GROUP BY source
       |ORDER BY source""".stripMargin

  /** Temperature-flattened domain mixture (the multilingual-sampling
    * recipe): per-source weights `w = floor(1000·√n)` (α = 0.5,
    * integerized so the weight SUM is exact and order-independent),
    * a corpus budget of ⌊N/2⌋ docs allotted proportionally to weight,
    * and per-doc keep decisions by md5-uniform against the source's
    * keep probability — re-running on any partitioning keeps the SAME
    * docs (the [[Sampling.trainSplit]] determinism contract).
    *
    * The keep probability is computed as IEEE doubles over exact
    * integers with an identical operand tree in both engines, floored
    * BEFORE the bigint cast (DuckDB casts double→int by rounding,
    * Spark by truncation — floor-then-cast is exact either way).
    *
    * Scale shape: source-grain stats (bounded) broadcast back over a
    * map-side hash filter; no fact-sized exchange at all beyond the
    * one stats agg.
    */
  def domainMixture(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir).select("doc_id", "source")
    val stats = docs.groupBy("source")
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("w", floor(sqrt(col("n_docs").cast("double")) * 1000.0)
        .cast("long"))
    val totals = stats.agg(sum("w").as("sw"), sum("n_docs").as("n_total"))
      .withColumn("budget", expr("n_total div 2"))
    val withP = stats.crossJoin(broadcast(totals))
      .withColumn("p_keep_ppm",
        least(lit(1000000L),
          floor((col("budget").cast("double") * col("w").cast("double") *
            lit(1000000.0)) /
            (col("sw").cast("double") * col("n_docs").cast("double")))
            .cast("long")))
      .select("source", "n_docs", "w", "p_keep_ppm")
    docs
      .withColumn("u_ppm", pmod(TextAnalysis.md5Hash60(
        concat(lit("mix:"), col("doc_id").cast("string"))), lit(1000000L)))
      .join(Joins.broadcastIfSmall(withP,
        Tables.documents(spark, sfDir)), Seq("source"))
      .groupBy("source")
      .agg(first(col("n_docs")).as("n_docs"), first(col("w")).as("w"),
        first(col("p_keep_ppm")).as("p_keep_ppm"),
        sum((col("u_ppm") < col("p_keep_ppm")).cast("long")).as("n_kept"))
      .orderBy("source")
  }

  val domainMixtureSql: String =
    s"""WITH stats AS (
       |  SELECT source, COUNT(*) AS n_docs,
       |    CAST(FLOOR(sqrt(CAST(COUNT(*) AS DOUBLE)) * 1000.0) AS BIGINT)
       |      AS w
       |  FROM documents GROUP BY source),
       |tot AS (
       |  SELECT CAST(SUM(w) AS BIGINT) AS sw,
       |    CAST(SUM(n_docs) AS BIGINT) AS n_total,
       |    CAST(SUM(n_docs) // 2 AS BIGINT) AS budget
       |  FROM stats),
       |p AS (
       |  SELECT source, n_docs, w,
       |    least(1000000, CAST(FLOOR(
       |      (CAST(budget AS DOUBLE) * CAST(w AS DOUBLE) * 1000000.0) /
       |      (CAST(sw AS DOUBLE) * CAST(n_docs AS DOUBLE))) AS BIGINT))
       |      AS p_keep_ppm
       |  FROM stats, tot)
       |SELECT d.source, CAST(MIN(p.n_docs) AS BIGINT) AS n_docs,
       |  CAST(MIN(p.w) AS BIGINT) AS w,
       |  CAST(MIN(p.p_keep_ppm) AS BIGINT) AS p_keep_ppm,
       |  CAST(SUM(CASE WHEN
       |      ${TextAnalysis.md5Hash60Sql("'mix:' || CAST(doc_id AS VARCHAR)")}
       |        % 1000000 < p.p_keep_ppm
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
       |FROM documents d JOIN p ON d.source = p.source
       |GROUP BY d.source
       |ORDER BY d.source""".stripMargin

  def decontaminationSql: String =
    s"""WITH ${shingleHashesSql(DecontamN)},
       |ev AS (SELECT DISTINCT h FROM hs WHERE doc_id % $EvalMod = 0),
       |tr AS (SELECT DISTINCT doc_id, h FROM hs
       |       WHERE doc_id % $EvalMod <> 0),
       |agg AS (
       |  SELECT tr.doc_id,
       |    COUNT(*) AS n_distinct_shingles,
       |    CAST(SUM(CASE WHEN ev.h IS NOT NULL THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_contaminated
       |  FROM tr LEFT JOIN ev ON tr.h = ev.h
       |  GROUP BY tr.doc_id)
       |SELECT d.doc_id,
       |  COALESCE(agg.n_distinct_shingles, 0) AS n_distinct_shingles,
       |  COALESCE(agg.n_contaminated, 0) AS n_contaminated,
       |  CAST(COALESCE(agg.n_contaminated, 0) > 0 AS INT)
       |    AS is_contaminated
       |FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id
       |WHERE d.doc_id % $EvalMod <> 0
       |ORDER BY d.doc_id""".stripMargin

  val BpeMerges = 20 // BPE merges learned

  /** The counting step of one BPE merge round — the tokenizer-induction
    * primitive: corpus frequency of every adjacent character pair,
    * weighted by word frequency (the pair with the top count is what a
    * BPE trainer would merge first). Two-stage reduction: corpus →
    * word-frequency table first (the vocabulary is orders of magnitude
    * smaller than the token stream), then pairs explode off the VOCAB,
    * not the corpus — at 100 TB the expensive explode touches |vocab|
    * rows, and both aggs are partial→final hash aggregates.
    *
    * ORACLE CONTRACT — like [[TextAnalysis.fingerprints]], character
    * positions count UTF-16 code units in Spark vs code points in
    * DuckDB: identical for the driver's ASCII corpus.
    */
  def bpeMerges(spark: SparkSession, sfDir: String): DataFrame = {
    val words = Tables.spread(Tables.documents(spark, sfDir))
      .select(explode(expr(tokensSparkSql)).as("w"))
      .filter(length(col("w")) >= 2)
      .groupBy("w").agg(count(lit(1)).as("f"))
    words
      .select(col("f"), explode(expr(
        "transform(sequence(1, length(w) - 1), i -> substr(w, i, 2))"))
        .as("pair"))
      .groupBy("pair").agg(sum("f").as("merge_count"))
      .orderBy(col("merge_count").desc, col("pair"))
      .limit(BpeMerges)
  }

  def bpeMergesSql: String =
    s"""WITH toks AS (
       |  SELECT unnest($tokensDuckSql) AS w FROM documents),
       |words AS (
       |  SELECT w, COUNT(*) AS f FROM toks
       |  WHERE length(w) >= 2 GROUP BY w),
       |pairs AS (
       |  SELECT substr(w, CAST(i AS INT), 2) AS pair, f
       |  FROM words, UNNEST(range(1, length(w))) AS u(i))
       |SELECT pair, CAST(SUM(f) AS BIGINT) AS merge_count
       |FROM pairs GROUP BY pair
       |ORDER BY merge_count DESC, pair
       |LIMIT $BpeMerges""".stripMargin

  val PipelineQuota = 32 // diversity picks of the pipeline
  val PipelineMinQuota = 2 // floor on one cell's pipeline quota
  val PipelinePackBudget = 512 // tokens per packed sequence

  // ------------------------------------------------------------------
  // q196 — the COMPOSED corpus-build pipeline (round-10 verdict ask
  // #4): every stage of the LLM curation chain exists and is
  // individually green (gates q83, near-dup q15/q147, decontamination
  // q84, diversity sample q155, sequence packing q55); this registers
  // the one materialized DAG a training-data pipeline actually runs,
  // with a per-stage admitted/discarded LEDGER plus the final
  // packed-sequence histogram. Stage semantics (each deterministic and
  // restated verbatim by the oracle):
  //   1 gates      train docs (doc_id % 5 != 0 — the eval split is the
  //                contamination reference, never pipeline input) with
  //                all four q83 gates passing (score == 4).
  //   2 near_dup   drop an admit b when SOME admit a < b shares an LSH
  //                band and has exact 3-shingle Jaccard >= 1/2
  //                (integer form 2·|A∩B| >= |A∪B| — no float
  //                threshold). Candidates are band-collisions only;
  //                the rule is single-pass (b compares against all
  //                admits below it, not against survivors — the
  //                chained variant is q194's cluster keep-best).
  //   3 decontam   drop a survivor containing ANY distinct word
  //                5-shingle that appears in the eval split (q84).
  //   4 diversity  cluster-balanced quotas over the survivors'
  //                embeddings (q155 semantics: argmax-cosine to the
  //                q34 seed centroids, integer quota
  //                max(minQuota, total·n_c div n), md5-rank picks).
  //   5 packing    greedy 512-token bins over the sample in doc order
  //                (q55 distributed prefix sum).
  // Output: stage rows (stage_idx 1-5) with n_in / n_admitted /
  // n_discarded / a stage detail (gate-score sum, dup pairs,
  // contaminated-shingle hits, clusters sampled, packs built), then
  // the docs-per-pack histogram as stage_idx 100+n rows. PipelineSpec
  // asserts the ledger TELESCOPES: n_in(k) = n_admitted(k-1) and
  // n_admitted = n_in - n_discarded on every row.
  //
  // Scale shape: each stage is the same plan its standalone query
  // ships (banded candidate exchange, broadcast eval-hash set and
  // quota table, one window at cluster grain, prefix-sum packing); the
  // inter-stage handoff is an id-set join — admit frames are
  // checkpointed once and carry (doc_id) only, so no stage reshuffles
  // another's payloads. The ledger scalars are aggregate actions on
  // those checkpointed id frames (bounded driver state: six longs).
  // ------------------------------------------------------------------
  def corpusPipeline(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // ---- stage 1: quality gates over the train split ----
    val train = docGateScores(spark, sfDir)
      .filter(pmod(col("doc_id"), lit(EvalMod)) =!= 0)
      .localCheckpoint(true)
    // ledger-scalar FUSION (round-15): each ledger action is a full
    // driver job (~0.15-0.25 s of scheduling/planning floor each on a
    // warm session — the stage walls of this query sum to ~1.9 s of a
    // ~5 s wall, the rest being exactly this per-action floor). The
    // three stage-1 scalars collapse into ONE aggregate over the
    // checkpointed train frame: nTrain = count, gateDetail = Σscore,
    // n1 = Σ(score==4) — n1 equals count(s1) by construction (s1 IS
    // the score==4 filter). Same fusion per stage below; every ledger
    // value is bit-identical to the per-frame count it replaces
    // (CorpusSpec's "q196 pipeline: ledger telescopes" test pins them).
    val t = train.agg(count(lit(1)), coalesce(sum("score"), lit(0L)),
      coalesce(sum((col("score") === 4).cast("long")), lit(0L))).head()
    val (nTrain, gateDetail, n1) =
      (t.getLong(0), t.getLong(1), t.getLong(2))
    val s1 = train.filter(col("score") === 4).select("doc_id")
      .localCheckpoint(true)
    // ---- stage 2: near-dup drop among the admits ----
    // SEMI-JOIN BEFORE the expensive per-row expressions: a join does
    // not reorder below a project, so `minhashSignaturesRaw(...).join`
    // would compute every doc's signature and then discard the
    // non-admits — at a 1% admit rate that is 100× wasted signature
    // work at scale. Restrict the scan first, then compute.
    val admittedDocs = Tables.spread(Tables.documents(spark, sfDir))
      .join(s1, Seq("doc_id"), "left_semi")
    val bands = bandsOf(admittedDocs).localCheckpoint(true)
    val cands = bands
      .select(col("doc_id").as("doc_a"), col("band_idx"), col("band_key"))
      .join(bands.select(col("doc_id").as("doc_b"), col("band_idx"),
        col("band_key")), Seq("band_idx", "band_key"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    val sh = shinglesOf(admittedDocs)
    val dupPairs = cands
      .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")),
        Seq("doc_a"))
      .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")),
        Seq("doc_b"))
      .withColumn("n_inter",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
      .withColumn("n_union",
        (size(col("sh_a")) + size(col("sh_b"))).cast("long")
          - col("n_inter"))
      .filter(col("n_inter") * 2 >= col("n_union"))
      .select("doc_a", "doc_b")
      .localCheckpoint(true)
    // one job for both stage-2 scalars: every dropped doc_b is an
    // admit (pairs form among s1 members only), so
    // n2 = n1 - countDistinct(doc_b) — identical to count(s2)
    val d2 = dupPairs.agg(count(lit(1)),
      coalesce(countDistinct(col("doc_b")), lit(0L))).head()
    val (dupDetail, n2) = (d2.getLong(0), n1 - d2.getLong(1))
    val s2 = s1.join(dupPairs.select(col("doc_b").as("doc_id")).distinct(),
        Seq("doc_id"), "left_anti")
      .localCheckpoint(true)
    // ---- stage 3: eval-set decontamination (5-shingle hashes) ----
    // each side's shingle explode runs on a pre-restricted scan: the
    // doc_id % 5 filter pushes to the eval side's scan, and the
    // survivor side semi-joins s2 BEFORE exploding (same reasoning as
    // stage 2's semi-join-first)
    val docsSpread = Tables.spread(Tables.documents(spark, sfDir))
    val evalH = shingleHashesOf(
        docsSpread.filter(pmod(col("doc_id"), lit(EvalMod)) === 0),
        DecontamN)
      .select("h").distinct()
    val contamHits = shingleHashesOf(
        docsSpread.join(s2, Seq("doc_id"), "left_semi"), DecontamN)
      .select("doc_id", "h").distinct()
      .join(Joins.broadcastIfSmall(evalH, Tables.documents(spark, sfDir)),
        Seq("h"))
      .localCheckpoint(true)
    // same fusion: contaminated doc_ids are all s2 members, so
    // n3 = n2 - countDistinct(doc_id) — identical to count(s3)
    val d3 = contamHits.agg(count(lit(1)),
      coalesce(countDistinct(col("doc_id")), lit(0L))).head()
    val (contamDetail, n3) = (d3.getLong(0), n2 - d3.getLong(1))
    val s3 = s2.join(contamHits.select("doc_id").distinct(),
        Seq("doc_id"), "left_anti")
      .localCheckpoint(true)
    // ---- stage 4: cluster-balanced diversity sample ----
    val centroids = Similarity
      .ivfQuantizer(spark, sfDir, Similarity.IvfClusters).map(_._2)
    val assigned = Tables.embeddings(spark, sfDir)
      .join(s3.select(col("doc_id").as("vec_id")), Seq("vec_id"))
      .select(col("vec_id"),
        graft.functions.argmax_cosine(col("embedding"), centroids)
          .as("cluster"))
    val sizes = assigned.groupBy("cluster").agg(count(lit(1)).as("n_c"))
    val nAll = broadcast(assigned.agg(count(lit(1)).as("n")))
    val quotas = broadcast(sizes.crossJoin(nAll).select(col("cluster"),
      greatest(lit(PipelineMinQuota.toLong),
        expr(s"${PipelineQuota}L * n_c div n")).as("quota")))
    val wCell = Window.partitionBy("cluster")
      .orderBy(md5(col("vec_id").cast("string").cast("binary")),
        col("vec_id"))
    val s4 = assigned
      .withColumn("pick_rank", row_number().over(wCell))
      .filter(col("pick_rank") <=
        lit(math.max(PipelineMinQuota, PipelineQuota).toLong))
      .join(quotas, Seq("cluster"))
      .filter(col("pick_rank") <= col("quota"))
      .select(col("vec_id").as("doc_id"), col("cluster"))
      .localCheckpoint(true)
    // one job for both stage-4 scalars
    val d4 = s4.agg(count(lit(1)),
      coalesce(countDistinct(col("cluster")), lit(0L))).head()
    val (n4, divDetail) = (d4.getLong(0), d4.getLong(1))
    // ---- stage 5: sequence packing over the sample ----
    val toks = Tables.documents(spark, sfDir)
      .join(s4.select("doc_id"), Seq("doc_id"))
      .select(col("doc_id"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("toks"))
    val packs = ScalableKeys
      .withPrefixSum(toks, "doc_id", "toks", "cum_before")
      .withColumn("pack_id", expr(s"cum_before div $PipelinePackBudget"))
      .groupBy("pack_id")
      .agg(count(lit(1)).as("n_docs"),
        sum("toks").cast("long").as("pack_tokens"))
      .localCheckpoint(true)
    val nPacks = packs.count()
    // ---- the ledger + the packed histogram ----
    val ledger = Seq(
      (1L, "gates", nTrain, n1, nTrain - n1, gateDetail),
      (2L, "near_dup", n1, n2, n1 - n2, dupDetail),
      (3L, "decontam", n2, n3, n2 - n3, contamDetail),
      (4L, "diversity", n3, n4, n3 - n4, divDetail),
      (5L, "packing", n4, n4, 0L, nPacks)
    ).toDF("stage_idx", "stage", "n_in", "n_admitted", "n_discarded",
      "detail")
    val hist = packs.groupBy("n_docs")
      .agg(count(lit(1)).as("n_admitted"),
        sum("pack_tokens").cast("long").as("detail"))
      .select((lit(100L) + col("n_docs")).as("stage_idx"),
        lit("hist_docs_per_pack").as("stage"),
        col("n_docs").as("n_in"),
        col("n_admitted"),
        lit(0L).as("n_discarded"),
        col("detail"))
    ledger.unionByName(hist).orderBy("stage_idx")
  }

  /** DuckDB oracle for [[corpusPipeline]]: the five stages restated as
    * one CTE chain — the banded-LSH prefix (the q15/q147 oracle block),
    * per-doc gate scores, the integer-Jaccard dup rule, the 5-shingle
    * eval intersection, the q155 quota sample, the q55 prefix-sum
    * packing — then the same ledger + histogram union.
    */
  def corpusPipelineSql: String = {
    val cos = Similarity.cosineExprDuck("e.embedding", "s.centroid")
    // @BANDED@ is substituted AFTER stripMargin (the Dedup oracle
    // idiom): the banded CTE's own continuation lines begin with `||`,
    // which a second stripMargin pass would truncate to `|`
    s"""@BANDED@,
       |gate AS MATERIALIZED (${docGateScoresSql}),
       |train AS (SELECT doc_id, score FROM gate WHERE doc_id % $EvalMod <> 0),
       |s1 AS MATERIALIZED (SELECT doc_id FROM train WHERE score = 4),
       |bandedq AS (SELECT b.* FROM banded b JOIN s1 USING (doc_id)),
       |cands AS MATERIALIZED (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bandedq a JOIN bandedq b
       |    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
       |   AND a.doc_id < b.doc_id),
       |@DOCSH@,
       |inter AS (
       |  SELECT c.doc_a, c.doc_b,
       |    len(list_intersect(a.sh, b.sh)) AS n_inter
       |  FROM cands c
       |  JOIN docsh a ON a.doc_id = c.doc_a
       |  JOIN docsh b ON b.doc_id = c.doc_b),
       |dups AS MATERIALIZED (
       |  SELECT i.doc_a, i.doc_b FROM inter i
       |  JOIN sizes sa ON sa.doc_id = i.doc_a
       |  JOIN sizes sb ON sb.doc_id = i.doc_b
       |  WHERE 2 * i.n_inter >= sa.n + sb.n - i.n_inter),
       |s2 AS MATERIALIZED (SELECT doc_id FROM s1
       |  WHERE doc_id NOT IN (SELECT doc_b FROM dups)),
       |${shingleHashesSql(DecontamN)},
       |evh AS MATERIALIZED (
       |  SELECT DISTINCT h FROM hs WHERE doc_id % $EvalMod = 0),
       |contam AS MATERIALIZED (
       |  SELECT DISTINCT t.doc_id, t.h
       |  FROM (SELECT DISTINCT doc_id, h FROM hs) t
       |  JOIN s2 USING (doc_id) JOIN evh USING (h)),
       |s3 AS MATERIALIZED (SELECT doc_id FROM s2
       |  WHERE doc_id NOT IN (SELECT DISTINCT doc_id FROM contam)),
       |seeds AS (
       |  SELECT CAST(row_number() OVER (
       |           ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS INT)
       |           AS cluster,
       |         embedding AS centroid
       |  FROM embeddings
       |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
       |  LIMIT ${Similarity.IvfClusters}),
       |assigned AS MATERIALIZED (
       |  SELECT vec_id, cluster FROM (
       |    SELECT e.vec_id, s.cluster,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY $cos DESC,
       |                 s.cluster ASC) AS rn
       |    FROM embeddings e JOIN s3 ON e.vec_id = s3.doc_id
       |    CROSS JOIN seeds s)
       |  WHERE rn = 1),
       |sizes4 AS (SELECT cluster, COUNT(*) AS n_c FROM assigned GROUP BY 1),
       |ntot AS (SELECT COUNT(*) AS n FROM assigned),
       |quotas AS (
       |  SELECT cluster,
       |    GREATEST($PipelineMinQuota, $PipelineQuota * n_c // ntot.n) AS quota
       |  FROM sizes4 CROSS JOIN ntot),
       |ranked AS (
       |  SELECT cluster, vec_id,
       |    row_number() OVER (PARTITION BY cluster
       |      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS pick_rank
       |  FROM assigned),
       |s4 AS MATERIALIZED (
       |  SELECT r.vec_id AS doc_id, r.cluster
       |  FROM ranked r JOIN quotas q USING (cluster)
       |  WHERE r.pick_rank <= q.quota),
       |t5 AS (
       |  SELECT d.doc_id,
       |    CAST(len(string_split_regex(trim(d.text), '\\s+')) AS BIGINT)
       |      AS toks
       |  FROM documents d JOIN s4 USING (doc_id)),
       |c5 AS (
       |  SELECT doc_id, toks,
       |    COALESCE(SUM(toks) OVER (ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS cum_before
       |  FROM t5),
       |packs AS MATERIALIZED (
       |  SELECT cum_before // $PipelinePackBudget AS pack_id, COUNT(*) AS n_docs,
       |    CAST(SUM(toks) AS BIGINT) AS pack_tokens
       |  FROM c5 GROUP BY 1)
       |SELECT * FROM (
       |  SELECT CAST(1 AS BIGINT) AS stage_idx, 'gates' AS stage,
       |    (SELECT COUNT(*) FROM train) AS n_in,
       |    (SELECT COUNT(*) FROM s1) AS n_admitted,
       |    (SELECT COUNT(*) FROM train) - (SELECT COUNT(*) FROM s1)
       |      AS n_discarded,
       |    (SELECT CAST(SUM(score) AS BIGINT) FROM train) AS detail
       |  UNION ALL
       |  SELECT 2, 'near_dup', (SELECT COUNT(*) FROM s1),
       |    (SELECT COUNT(*) FROM s2),
       |    (SELECT COUNT(*) FROM s1) - (SELECT COUNT(*) FROM s2),
       |    (SELECT COUNT(*) FROM dups)
       |  UNION ALL
       |  SELECT 3, 'decontam', (SELECT COUNT(*) FROM s2),
       |    (SELECT COUNT(*) FROM s3),
       |    (SELECT COUNT(*) FROM s2) - (SELECT COUNT(*) FROM s3),
       |    (SELECT COUNT(*) FROM contam)
       |  UNION ALL
       |  SELECT 4, 'diversity', (SELECT COUNT(*) FROM s3),
       |    (SELECT COUNT(*) FROM s4),
       |    (SELECT COUNT(*) FROM s3) - (SELECT COUNT(*) FROM s4),
       |    (SELECT COUNT(DISTINCT cluster) FROM s4)
       |  UNION ALL
       |  SELECT 5, 'packing', (SELECT COUNT(*) FROM s4),
       |    (SELECT COUNT(*) FROM s4), 0,
       |    (SELECT COUNT(*) FROM packs)
       |  UNION ALL
       |  SELECT CAST(100 + n_docs AS BIGINT), 'hist_docs_per_pack',
       |    CAST(n_docs AS BIGINT), CAST(COUNT(*) AS BIGINT),
       |    CAST(0 AS BIGINT), CAST(SUM(pack_tokens) AS BIGINT)
       |  FROM packs GROUP BY n_docs
       |) ORDER BY stage_idx""".stripMargin
      .replace("@BANDED@", Dedup.lshBandedCte)
      .replace("@DOCSH@", Dedup.docShingleSetsCte)
  }

  /** DuckDB oracle for the STREAMING near-dup admission (q205 —
    * `EventStreams.streamingNeardupAdmission`): the q196 stage-2 rule
    * restated PER BATCH, where a doc's batch is the deterministic
    * staged range `doc_id·n div (max_id+1)`
    * ([[graft.streaming.EventStreams.stageIdBatches]]). A drop
    * is "by history" when any duplicate partner sits in an earlier
    * batch — the property that makes the replay genuinely incremental.
    */
  def streamingNeardupAdmissionSql(
      nBatches: Int = EventStreams.ReplayFiles): String =
    s"""@BANDED@,
       |gate AS MATERIALIZED (${docGateScoresSql}),
       |mx AS (SELECT MAX(doc_id) + 1 AS m FROM documents),
       |train AS MATERIALIZED (
       |  SELECT g.doc_id, g.score,
       |    CAST((g.doc_id * $nBatches) // mx.m AS BIGINT) AS batch_idx
       |  FROM gate g CROSS JOIN mx WHERE g.doc_id % $EvalMod <> 0),
       |s1 AS MATERIALIZED (
       |  SELECT doc_id, batch_idx FROM train WHERE score = 4),
       |bandedq AS (SELECT b.* FROM banded b JOIN s1 USING (doc_id)),
       |cands AS MATERIALIZED (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bandedq a JOIN bandedq b
       |    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
       |   AND a.doc_id < b.doc_id),
       |@DOCSH@,
       |inter AS (
       |  SELECT c.doc_a, c.doc_b,
       |    len(list_intersect(a.sh, b.sh)) AS n_inter
       |  FROM cands c
       |  JOIN docsh a ON a.doc_id = c.doc_a
       |  JOIN docsh b ON b.doc_id = c.doc_b),
       |dups AS MATERIALIZED (
       |  SELECT i.doc_a, i.doc_b FROM inter i
       |  JOIN sizes sa ON sa.doc_id = i.doc_a
       |  JOIN sizes sb ON sb.doc_id = i.doc_b
       |  WHERE 2 * i.n_inter >= sa.n + sb.n - i.n_inter),
       |dropped AS MATERIALIZED (
       |  SELECT sb.doc_id, sb.batch_idx,
       |    MAX(CASE WHEN sa.batch_idx < sb.batch_idx THEN 1 ELSE 0 END)
       |      AS by_hist
       |  FROM dups d
       |  JOIN s1 sb ON sb.doc_id = d.doc_b
       |  JOIN s1 sa ON sa.doc_id = d.doc_a
       |  GROUP BY 1, 2),
       |led AS (
       |  -- one row per staged batch index, even when a range bucket
       |  -- holds zero train docs (round-14 ADVICE #4: the Scala replay
       |  -- writes a ledger row for EVERY staged file, so an empty
       |  -- bucket's all-zero row needs this oracle twin)
       |  SELECT r.batch_idx, COUNT(t.doc_id) AS n_docs,
       |    COALESCE(SUM(CASE WHEN t.score = 4 THEN 1 ELSE 0 END), 0)
       |      AS n_gate
       |  FROM (SELECT unnest(range(0, $nBatches)) AS batch_idx) r
       |  LEFT JOIN train t ON t.batch_idx = r.batch_idx
       |  GROUP BY 1),
       |drops AS (
       |  SELECT batch_idx, COUNT(*) AS n_dup,
       |    SUM(by_hist) AS n_hist
       |  FROM dropped GROUP BY 1)
       |SELECT l.batch_idx,
       |  CAST(l.n_docs AS BIGINT) AS n_docs,
       |  CAST(l.n_gate AS BIGINT) AS n_gate,
       |  CAST(COALESCE(d.n_dup, 0) AS BIGINT) AS n_dup_dropped,
       |  CAST(COALESCE(d.n_hist, 0) AS BIGINT) AS n_dropped_by_history,
       |  CAST(l.n_gate - COALESCE(d.n_dup, 0) AS BIGINT) AS n_admitted
       |FROM led l LEFT JOIN drops d USING (batch_idx)
       |ORDER BY l.batch_idx""".stripMargin
      .replace("@BANDED@", Dedup.lshBandedCte)
      .replace("@DOCSH@", Dedup.docShingleSetsCte)
}
