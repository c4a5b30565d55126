package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables
import TextAnalysis.{md5Hash60, md5Hash60Sql}

/** Corpus-sampling operators for training-data pipelines: deterministic
  * train/val/test splits, per-domain quota caps, and fixed-budget
  * sequence packing. These are the selection policies a pretraining
  * pipeline applies after cleaning/dedup and before tokenization.
  *
  * All three are hash- or prefix-sum-driven, so the SAME rows are chosen
  * on any cluster size, any partitioning, and any engine — reshuffling
  * the input never changes the sample. That determinism is what makes
  * the DuckDB oracles exact (and what makes reruns reproducible at
  * 100 TB).
  */
object Sampling {

  val TrainPct = 80 // training share of the split, in percent
  val ValPct = 10 // validation share of the split, in percent

  /** Deterministic train/val/test assignment by hash bucket: bucket =
    * md5(doc_id) mod 100, split by cumulative percentage. Adding docs
    * never reassigns existing ones (the property random() splits lack),
    * and the op is a narrow map-side projection — fuses into the scan
    * at 100 TB, no shuffle, no state.
    */
  def trainSplit(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("source"),
        pmod(md5Hash60(col("doc_id").cast("string")), lit(100)).cast("int")
          .as("bucket"))
      .withColumn("split",
        when(col("bucket") < TrainPct, lit("train"))
          .when(col("bucket") < TrainPct + ValPct, lit("val"))
          .otherwise(lit("test")))
      .orderBy("doc_id")

  def trainSplitSql: String =
    s"""SELECT doc_id, lang, source,
       |  CAST(${md5Hash60Sql("CAST(doc_id AS VARCHAR)")} % 100 AS INT)
       |    AS bucket,
       |  CASE
       |    WHEN ${md5Hash60Sql("CAST(doc_id AS VARCHAR)")} % 100 < $TrainPct
       |      THEN 'train'
       |    WHEN ${md5Hash60Sql("CAST(doc_id AS VARCHAR)")} % 100
       |        < ${TrainPct + ValPct} THEN 'val'
       |    ELSE 'test'
       |  END AS split
       |FROM documents
       |ORDER BY doc_id""".stripMargin

  val DomainCap = 10 // documents kept per domain

  /** Per-domain quota sampling: keep at most `cap` docs per source,
    * chosen by deterministic hash rank (the "cap over-represented
    * domains" policy of web-corpus curation). Rank is a window
    * partitioned by source — the shuffle is one exchange on the domain
    * key carrying (doc_id, source, hash), never the text. For a
    * pathologically hot domain (one source = most of the corpus), the
    * scale path is a two-phase cap: pre-filter with an approximate
    * hash-quantile cutoff per domain, then rank only the survivors —
    * same output, bounded partition size.
    */
  def domainCaps(spark: SparkSession, sfDir: String,
      cap: Int = DomainCap): DataFrame = {
    val w = Window.partitionBy("source").orderBy(col("h"), col("doc_id"))
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"),
        md5Hash60(concat(col("source"), lit(":"), col("doc_id").cast("string")))
          .as("h"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= cap)
      .select(col("doc_id"), col("source"), col("rk"))
      .orderBy("source", "rk")
  }

  def domainCapsSql: String =
    s"""WITH ranked AS (
       |  SELECT doc_id, source,
       |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY
       |      ${md5Hash60Sql("source || ':' || CAST(doc_id AS VARCHAR)")},
       |      doc_id) AS rk
       |  FROM documents)
       |SELECT doc_id, source, CAST(rk AS INT) AS rk
       |FROM ranked WHERE rk <= $DomainCap
       |ORDER BY source, rk""".stripMargin

  val PackBudget = 512 // token budget of one packed sequence

  /** Fixed-budget sequence packing: assign docs (in doc_id order) to
    * consecutive packs of ~`budget` whitespace tokens via an exclusive
    * prefix sum — pack_id = tokens_before / budget. This is the
    * streaming/contiguous packing a tokenizer shard job uses: each pack
    * overflows the budget by at most one doc's tokens (documented
    * trade vs bin-packing, which is neither deterministic nor
    * shuffle-free). The prefix sum is [[ScalableKeys.withPrefixSum]] —
    * range partition + per-partition offsets, NOT a single-partition
    * global window — so the same code holds on a 1000-executor corpus.
    */
  def seqPacking(spark: SparkSession, sfDir: String,
      budget: Int = PackBudget): DataFrame = {
    val toks = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("toks"))
    ScalableKeys.withPrefixSum(toks, "doc_id", "toks", "cum_before")
      .withColumn("pack_id", expr(s"cum_before div $budget"))
      .groupBy("pack_id")
      .agg(count(lit(1)).as("n_docs"), sum("toks").as("pack_tokens"),
        min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
      .withColumn("fill_ratio",
        col("pack_tokens").cast("double") / budget.toDouble)
      .orderBy("pack_id")
  }

  val WeightedK = 50 // rows drawn by the weighted sample

  /** Weighted sample without replacement via priority sampling
    * (Efraimidis-Spirakis order sampling with the monotone u/w key):
    * each doc draws a deterministic md5-uniform u in [0,1) and is
    * ranked by u / weight — the k smallest keys are the sample, so
    * heavier docs (here: longer, weight = n_chars) are proportionally
    * likelier to be chosen, yet the draw is a pure hash of the doc id:
    * same sample on any partitioning, any cluster size, both engines.
    *
    * All arithmetic is single IEEE divisions of exactly-representable
    * inputs (2^60 is a power of two), so the keys — and the ORDER BY —
    * are bit-identical in Spark and DuckDB. The plan is a narrow
    * map-side projection + TakeOrderedAndProject: no global sort, no
    * shuffle of the corpus at 100 TB.
    */
  def weightedSample(spark: SparkSession, sfDir: String,
      k: Int = WeightedK): DataFrame =
    Tables.documents(spark, sfDir)
      .filter(col("n_chars") > 0)
      .select(col("doc_id"), col("n_chars").as("weight"),
        ((md5Hash60(concat(lit("ws:"), col("doc_id").cast("string")))
            .cast("double") / lit(1152921504606846976L).cast("double"))
          / col("n_chars").cast("double")).as("priority"))
      .orderBy(col("priority"), col("doc_id"))
      .limit(k)

  def weightedSampleSql: String =
    s"""SELECT doc_id, n_chars AS weight,
       |  (CAST(${md5Hash60Sql("'ws:' || CAST(doc_id AS VARCHAR)")} AS DOUBLE)
       |     / CAST(1152921504606846976 AS DOUBLE))
       |    / CAST(n_chars AS DOUBLE) AS priority
       |FROM documents WHERE n_chars > 0
       |ORDER BY priority, doc_id
       |LIMIT $WeightedK""".stripMargin

  val StratumDenom = 5 // one row in this many is kept per stratum

  /** Stratified sample with exact per-stratum quotas: within each
    * language stratum, rank docs by a deterministic hash and keep
    * exactly ceil(|stratum| / denom) of them — the equal-rate design
    * that, unlike the per-row hash-threshold split ([[trainSplit]]),
    * guarantees the drawn count per stratum is exact, not binomial.
    *
    * The quota join broadcasts the per-language counts (bounded by the
    * language-code domain, like nation/region). The rank window
    * partitions by lang — the shuffle carries (doc_id, lang, hash),
    * never text; a pathologically hot stratum degrades like
    * [[domainCaps]] (documented two-phase cutoff path).
    */
  def stratifiedSample(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"),
        md5Hash60(concat(lit("strat:"), col("doc_id").cast("string")))
          .as("h"))
    val quotas = d.groupBy("lang")
      .agg(expr(s"(count(1) + ${StratumDenom - 1}) div $StratumDenom")
        .as("quota"))
    val w = Window.partitionBy("lang").orderBy(col("h"), col("doc_id"))
    d.withColumn("rk", row_number().over(w))
      .join(broadcast(quotas), Seq("lang"))
      .filter(col("rk") <= col("quota"))
      .select(col("lang"), col("doc_id"), col("rk"), col("quota"))
      .orderBy("lang", "rk")
  }

  def stratifiedSampleSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, lang,
       |    ${md5Hash60Sql("'strat:' || CAST(doc_id AS VARCHAR)")} AS h
       |  FROM documents),
       |q AS (SELECT lang,
       |    CAST((COUNT(*) + ${StratumDenom - 1}) // $StratumDenom AS BIGINT) AS quota
       |  FROM d GROUP BY lang),
       |r AS (SELECT doc_id, lang,
       |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY h, doc_id) AS rk
       |  FROM d)
       |SELECT r.lang, r.doc_id, CAST(rk AS INT) AS rk, quota
       |FROM r JOIN q ON r.lang = q.lang
       |WHERE rk <= quota
       |ORDER BY r.lang, rk""".stripMargin

  def seqPackingSql: String =
    s"""WITH t AS (
       |  SELECT doc_id,
       |    CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
       |      AS toks
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, toks,
       |    COALESCE(SUM(toks) OVER (ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS cum_before
       |  FROM t)
       |SELECT CAST(cum_before // $PackBudget AS BIGINT) AS pack_id,
       |  COUNT(*) AS n_docs,
       |  CAST(SUM(toks) AS BIGINT) AS pack_tokens,
       |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc,
       |  CAST(SUM(toks) AS DOUBLE) / $PackBudget AS fill_ratio
       |FROM c GROUP BY pack_id
       |ORDER BY pack_id""".stripMargin

  val StatShards = 16 // shards of the shard statistics

  /** Deterministic shard assignment + balance audit — the "write the
    * corpus as N stable shards" step before a training run, plus the
    * skew check that tells you whether the shard key is safe to write
    * by. shard = md5(doc_id) mod N (the trainSplit hash contract:
    * adding docs never moves existing ones), reported at shard grain
    * with doc/char loads and an integer-ppm load factor (1e6 = exactly
    * the uniform share — the q114 index convention).
    *
    * Scale shape: the assignment is a narrow map-side projection; the
    * audit is one partial→final agg to N rows; the grand total rides a
    * window over those N rows (q06 pattern). The actual shard WRITE at
    * 100 TB is `df.repartition(N, shard).write` — same expression, no
    * extra pass.
    */
  def shardStats(spark: SparkSession, sfDir: String): DataFrame = {
    val wAll = Window.partitionBy()
    Tables.documents(spark, sfDir)
      .select(pmod(md5Hash60(col("doc_id").cast("string")), lit(StatShards))
          .cast("int").as("shard"),
        col("n_chars"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_chars").cast("long").as("n_chars"))
      .withColumn("total_docs", sum("n_docs").over(wAll))
      .select(col("shard"), col("n_docs"), col("n_chars"),
        expr(s"CAST(n_docs * $StatShards * 1000000 div total_docs AS BIGINT)")
          .as("load_ppm"))
      .orderBy("shard")
  }

  def shardStatsSql: String =
    s"""WITH s AS (
       |  SELECT CAST(${md5Hash60Sql("CAST(doc_id AS VARCHAR)")} % $StatShards
       |      AS INT) AS shard,
       |    n_chars
       |  FROM documents),
       |g AS (
       |  SELECT shard, COUNT(*) AS n_docs,
       |    CAST(SUM(n_chars) AS BIGINT) AS n_chars
       |  FROM s GROUP BY shard),
       |t AS (SELECT SUM(n_docs) AS total_docs FROM g)
       |SELECT shard, n_docs, n_chars,
       |  CAST(n_docs * $StatShards * 1000000 // total_docs AS BIGINT)
       |    AS load_ppm
       |FROM g, t
       |ORDER BY shard""".stripMargin

  val TokenBudget = 100000L // token budget apportioned across sources

  /** q201 — TOKEN-BUDGET APPORTIONMENT across sources (the training
    * mixture-design step after curation): a global token budget is
    * divided among sources in proportion to their gate-passing token
    * SUPPLY (per-source sum of whitespace tokens over docs passing all
    * four q83 gates) using Hamilton's LARGEST-REMAINDER method — exact
    * integer quotas floor(B·w_s / W), then the B − Σfloor leftover
    * tokens go one each to the largest remainders (B·w_s mod W,
    * ties → source ascending). All-integer arithmetic: the allocation
    * is bit-identical in both engines and Σfinal == B by construction
    * (the property the spec/oracle checks row-by-row).
    *
    * Scale shape: the supply is one gate-fused scan + a source-grain
    * agg; the apportionment runs on the BOUNDED per-source frame
    * (sources are a catalog, not data) — the global windows below rank
    * a handful of rows, documented as such.
    */
  def tokenApportionment(spark: SparkSession, sfDir: String): DataFrame = {
    // the ONE q83 gate battery (Corpus.withGateScore, shared with
    // q83/q194/q196/q202): all-four-gates-pass == score 4, so a future
    // threshold tweak changes every consumer together (round-12 ADVICE)
    val gated = Corpus.withGateScore(
        Tables.spread(Tables.documents(spark, sfDir)))
      .filter(col("score") === 4)
    val supply = gated.groupBy("source")
      .agg(sum(col("n_tokens").cast("long")).as("supply_tokens"))
    // bounded frame from here on: one row per source
    val wAll = Window.partitionBy()
    val wRem = Window.orderBy(desc("rem"), asc("source"))
    supply
      .withColumn("total_supply", sum("supply_tokens").over(wAll))
      .withColumn("quota_tokens",
        expr(s"$TokenBudget * supply_tokens div total_supply"))
      .withColumn("rem", expr(s"$TokenBudget * supply_tokens % total_supply"))
      .withColumn("leftover",
        lit(TokenBudget) - sum("quota_tokens").over(wAll))
      .withColumn("rem_rank", row_number().over(wRem).cast("long"))
      .select(col("source"), col("supply_tokens"), col("quota_tokens"),
        (col("rem_rank") <= col("leftover")).cast("long").as("extra"),
        (col("quota_tokens") +
          (col("rem_rank") <= col("leftover")).cast("long"))
          .as("final_tokens"))
      .orderBy("source")
  }

  /** q207 — INTERLEAVED TRAINING SCHEDULE (the data-mixing step after
    * q201's apportionment): turns per-source token quotas into ONE
    * deterministic global training order. Per source, gate-admitted
    * docs are ranked by a seeded md5 shuffle key and selected greedily
    * while the running token sum stays within the source's
    * largest-remainder quota; each selected doc then gets the IDEAL
    * POSITION of weighted round-robin — pos_key = (2·i+1)·budget div
    * (2·quota_s) for the source's i-th doc, the classic smooth
    * interleave: a source holding p% of the budget occupies ~p% of
    * every schedule prefix, so a training run truncated at any step
    * has seen the designed mixture. All arithmetic is BIGINT div/%
    * (exact in both engines); ties are broken (pos_key, source, rank)
    * so the global row_number is total.
    *
    * Scale shape: the per-source rank+prefix-sum windows shuffle
    * doc-grain rows by source (at 100 TB a hot source routes through
    * the q08 range-partitioned-rank idiom instead); the final global
    * numbering is over the SELECTED set, bounded by budget/min-doc-
    * tokens by construction — a schedule is small even when the corpus
    * is not.
    */
  def interleavedSchedule(spark: SparkSession, sfDir: String): DataFrame = {
    val quotas = tokenApportionment(spark, sfDir)
      .select(col("source"), col("final_tokens"))
    val admitted = Corpus.withGateScore(
        Tables.spread(Tables.documents(spark, sfDir)))
      .filter(col("score") === 4)
      .select(col("doc_id"), col("source"),
        col("n_tokens").cast("long").as("n_tokens"),
        TextAnalysis.md5Hash60(concat(lit("sched:"),
          col("doc_id").cast("string"))).as("shuf"))
    val wSrc = Window.partitionBy("source").orderBy("shuf", "doc_id")
    val selected = admitted
      .withColumn("rk", row_number().over(wSrc).cast("long"))
      .withColumn("cum", sum("n_tokens").over(
        wSrc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .join(quotas, Seq("source"))
      .filter(col("cum") <= col("final_tokens"))
      .withColumn("pos_key", expr(
        s"(2 * (rk - 1) + 1) * ${TokenBudget}L div " +
          "(2 * greatest(final_tokens, 1))"))
    // global numbering WITHOUT a single-partition window (round-12
    // verdict #2): the selected set is budget-bounded at the registered
    // dial, but the bound is a user parameter — a 100 B-token budget
    // selects millions of rows, so the rank goes through the
    // range-partitioned two-pass (value-identical to row_number() over
    // (pos_key, source, rk), StarSpec/SamplingSpec-pinned)
    ScalableKeys.withRankByKeys(selected
        .select(col("source"), col("doc_id"), col("n_tokens"),
          col("pos_key"), col("rk")),
        Seq("pos_key", "source", "rk"), "schedule_pos")
      .select(col("schedule_pos"), col("source"), col("doc_id"),
        col("n_tokens"), col("pos_key"))
      // the rank comes from an RDD zipWithIndex: repartition so AQE
      // counts it
      .repartition(col("schedule_pos"))
      .orderBy("schedule_pos")
  }

  /** Oracle for [[interleavedSchedule]]: q201's full apportionment
    * spliced as a subquery (post-stripMargin replace), the identical
    * shuffle-rank/prefix-sum selection, ideal positions in BIGINT
    * `//`, same total tie-break.
    */
  def interleavedScheduleSql: String =
    s"""WITH quotas AS (
       |  SELECT source, final_tokens FROM (@APPORTION@) qq),
       |adm AS (
       |  SELECT doc_id, source, n_tokens,
       |    ${graft.operators.TextAnalysis.md5Hash60Sql(
             "'sched:' || CAST(doc_id AS VARCHAR)")} AS shuf
       |  FROM (
       |    SELECT doc_id, source, len(tks) AS n_tokens,
       |      CAST(list_sum(list_transform(tks, w -> length(w))) AS DOUBLE)
       |        / greatest(len(tks), 1) AS mean_wl,
       |      len(list_filter(list_distinct(tks),
       |        w -> w IN ('the','a','of','and','in'))) AS n_stop,
       |      CAST(len(list_filter(tks,
       |        w -> regexp_matches(w, '^[a-z]+$$'))) AS DOUBLE)
       |        / greatest(len(tks), 1) AS alpha_frac
       |    FROM (SELECT doc_id, source, ${Corpus.tokensDuckSql} AS tks
       |          FROM documents))
       |  WHERE n_tokens BETWEEN 20 AND 60
       |    AND mean_wl BETWEEN 3.8 AND 4.6
       |    AND n_stop >= 2 AND alpha_frac >= 0.8),
       |ranked AS (
       |  SELECT a.*, q.final_tokens,
       |    CAST(row_number() OVER (PARTITION BY a.source
       |      ORDER BY shuf, doc_id) AS BIGINT) AS rk,
       |    SUM(n_tokens) OVER (PARTITION BY a.source
       |      ORDER BY shuf, doc_id
       |      ROWS UNBOUNDED PRECEDING) AS cum
       |  FROM adm a JOIN quotas q ON a.source = q.source),
       |sel AS (
       |  SELECT *,
       |    CAST((2 * (rk - 1) + 1) * $TokenBudget //
       |      (2 * greatest(final_tokens, 1)) AS BIGINT) AS pos_key
       |  FROM ranked WHERE cum <= final_tokens)
       |SELECT CAST(row_number() OVER (ORDER BY pos_key, source, rk)
       |    AS BIGINT) AS schedule_pos,
       |  source, doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, pos_key
       |FROM sel
       |ORDER BY schedule_pos""".stripMargin
      .replace("@APPORTION@", tokenApportionmentSql)

  /** Oracle for [[tokenApportionment]]: the identical gate filter,
    * supply rollup, and largest-remainder ranking in integer SQL.
    */
  def tokenApportionmentSql: String =
    s"""WITH g AS (
       |  SELECT source, len(tks) AS n_tokens,
       |    CAST(list_sum(list_transform(tks, w -> length(w))) AS DOUBLE)
       |      / greatest(len(tks), 1) AS mean_wl,
       |    len(list_filter(list_distinct(tks),
       |      w -> w IN ('the','a','of','and','in'))) AS n_stop,
       |    CAST(len(list_filter(tks,
       |      w -> regexp_matches(w, '^[a-z]+$$'))) AS DOUBLE)
       |      / greatest(len(tks), 1) AS alpha_frac
       |  FROM (SELECT source, ${Corpus.tokensDuckSql} AS tks
       |        FROM documents)),
       |sup AS (
       |  SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS supply_tokens
       |  FROM g
       |  WHERE n_tokens BETWEEN 20 AND 60
       |    AND mean_wl BETWEEN 3.8 AND 4.6
       |    AND n_stop >= 2 AND alpha_frac >= 0.8
       |  GROUP BY source),
       |q AS (
       |  SELECT source, supply_tokens,
       |    CAST($TokenBudget * supply_tokens //
       |      SUM(supply_tokens) OVER () AS BIGINT) AS quota_tokens,
       |    CAST($TokenBudget * supply_tokens %
       |      SUM(supply_tokens) OVER () AS BIGINT) AS rem
       |  FROM sup),
       |r AS (
       |  SELECT *,
       |    CAST($TokenBudget - SUM(quota_tokens) OVER () AS BIGINT) AS leftover,
       |    CAST(row_number() OVER (ORDER BY rem DESC, source) AS BIGINT)
       |      AS rem_rank
       |  FROM q)
       |SELECT source, supply_tokens, quota_tokens,
       |  CAST(rem_rank <= leftover AS BIGINT) AS extra,
       |  quota_tokens + CAST(rem_rank <= leftover AS BIGINT)
       |    AS final_tokens
       |FROM r
       |ORDER BY source""".stripMargin
}
