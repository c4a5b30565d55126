package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Text-analysis operators for training-data pipelines over `documents`
  * (SURVEY.md §7.5): token counting, quality scoring, n-gram language ID,
  * document fingerprinting.
  *
  * Everything here is a narrow per-row transform built from codegen'd
  * built-ins (split / regexp / higher-order array functions) — no UDFs, no
  * shuffles; at 100 TB these fuse into the scan stage and cost one pass.
  *
  * Cross-engine determinism: hashes are derived from md5 (identical in
  * Spark and DuckDB); ratios are IEEE double ops on identical inputs.
  */
object TextAnalysis {

  /** Documents scan spread to the session's parallelism before the
    * fused per-row text work (regex scans, token splits, gram explodes)
    * — single-row-group inputs otherwise run the whole pass in one
    * task (sf1 soak: 6-8x superlinear on every text query).
    */
  private def spreadDocs(spark: SparkSession, sfDir: String): DataFrame =
    Tables.spread(Tables.documents(spark, sfDir))

  /** 60-bit hash from md5 hex (first 15 nibbles), usable as a portable,
    * seedable hash in both engines: Spark `conv(substr(md5(x),1,15),16,10)`,
    * DuckDB `('0x'||substr(md5(x),1,15))::BIGINT`.
    */
  def md5Hash60(c: Column): Column =
    conv(substring(md5(c.cast("binary")), 1, 15), 16, 10).cast("long")

  def md5Hash60Sql(e: String): String =
    s"CAST(('0x' || substr(md5($e), 1, 15)) AS BIGINT)"

  /** Whitespace tokens (lowercased). */
  def tokens(c: Column): Column = split(lower(trim(c)), "\\s+")

  val tokensSql = "string_split_regex(lower(trim(text)), '\\s+')"

  /** Per-language stopword lists for the n-gram-heuristic language ID.
    * Public common-word lists; the testdata docs are synthetic
    * English-ish word soup, so this measures operator behavior, not
    * real-world accuracy.
    */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "it", "was", "for"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "es", "se", "no"),
    "de" -> Seq("der", "die", "und", "das", "ist", "nicht", "mit", "ein", "zu", "den"),
    "fr" -> Seq("le", "les", "des", "et", "une", "est", "dans", "pour", "qui", "sur"))

  /** Token/char/punctuation statistics + a composite quality score
    * (length, punctuation and stopword ratios — the classic cheap
    * pretraining-corpus quality gates).
    */
  def textStats(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = spreadDocs(spark, sfDir)
    val en = stopwords("en").map(w => s"'$w'").mkString(", ")
    docs.select(
        col("doc_id"), col("lang"),
        length(col("text")).as("n_chars_actual"),
        col("n_chars"),
        expr("size(split(lower(trim(text)), '\\\\s+'))").as("n_tokens"),
        expr("size(regexp_extract_all(text, '[A-Za-z]+', 0))").as("n_words"),
        expr("size(regexp_extract_all(text, '[.,;:!?]', 0))").as("n_punct"),
        expr(s"size(filter(split(lower(trim(text)), '\\\\s+'), w -> w IN ($en)))")
          .as("n_stopwords"))
      .withColumn("punct_ratio",
        col("n_punct").cast("double") / greatest(col("n_chars_actual"), lit(1)))
      .withColumn("stopword_ratio",
        col("n_stopwords").cast("double") / greatest(col("n_tokens"), lit(1)))
      .withColumn("quality_score",
        col("stopword_ratio") * 0.4 +
          (lit(1.0) - col("punct_ratio")) * 0.3 +
          least(lit(1.0), col("n_tokens").cast("double") / 100.0) * 0.3)
      .orderBy("doc_id")
  }

  val textStatsSql: String = {
    val en = stopwords("en").map(w => s"'$w'").mkString(", ")
    s"""SELECT doc_id, lang,
       |  CAST(length(text) AS INT) AS n_chars_actual,
       |  n_chars,
       |  CAST(len($tokensSql) AS INT) AS n_tokens,
       |  CAST(len(regexp_extract_all(text, '[A-Za-z]+')) AS INT) AS n_words,
       |  CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS INT) AS n_punct,
       |  CAST(len(list_filter($tokensSql, w -> w IN ($en))) AS INT) AS n_stopwords,
       |  CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS DOUBLE)
       |    / greatest(length(text), 1) AS punct_ratio,
       |  CAST(len(list_filter($tokensSql, w -> w IN ($en))) AS DOUBLE)
       |    / greatest(len($tokensSql), 1) AS stopword_ratio,
       |  (CAST(len(list_filter($tokensSql, w -> w IN ($en))) AS DOUBLE)
       |    / greatest(len($tokensSql), 1)) * 0.4
       |  + (1.0 - CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS DOUBLE)
       |    / greatest(length(text), 1)) * 0.3
       |  + least(1.0, CAST(len($tokensSql) AS DOUBLE) / 100.0) * 0.3
       |    AS quality_score
       |FROM documents
       |ORDER BY doc_id""".stripMargin
  }

  /** GPT-2-style pre-tokenizer pattern (BPE-ish): contraction suffixes,
    * then space-prefixed letter runs / digit runs / symbol runs. Every
    * match is one pre-token; whitespace between tokens is skipped (the
    * leading ` ?` folds one space into the following token, as BPE
    * vocabularies do). ASCII classes only, so Java regex (Spark codegen)
    * and RE2 (DuckDB) produce identical token streams — both engines use
    * leftmost-first alternation, and no lookaround is needed.
    */
  val bpePattern = "'(?:s|t|re|ve|m|ll|d)| ?[a-z]+| ?[0-9]+| ?[^\\sa-z0-9]+"

  /** Token counting two ways (SURVEY §7.5): cheap whitespace split and the
    * BPE-ish regex pre-tokenizer, plus distinct-token and chars-per-token
    * ratios (the "is this compressible text or junk" gates a pretraining
    * pipeline applies before paying for real BPE). Narrow one-pass
    * projection; fuses into the scan at 100 TB.
    */
  def tokenCounts(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = spreadDocs(spark, sfDir)
    // Column API (not expr-SQL) so the pattern's ' needs no escaping
    def bpeToks = regexp_extract_all(lower(col("text")), lit(bpePattern), lit(0))
    docs.select(
        col("doc_id"),
        length(col("text")).as("n_chars"),
        size(split(trim(col("text")), "\\s+")).as("n_ws_tokens"),
        size(bpeToks).as("n_bpe_tokens"),
        size(array_distinct(bpeToks)).as("n_distinct_bpe"))
      .withColumn("chars_per_token",
        col("n_chars").cast("double") / greatest(col("n_bpe_tokens"), lit(1)))
      .withColumn("type_token_ratio",
        col("n_distinct_bpe").cast("double") /
          greatest(col("n_bpe_tokens"), lit(1)))
      .orderBy("doc_id")
  }

  val tokenCountsSql: String = {
    // DuckDB single-quoted literals keep backslashes as-is; only ' doubles
    val p = bpePattern.replace("'", "''")
    s"""SELECT doc_id,
       |  CAST(length(text) AS INT) AS n_chars,
       |  CAST(len(string_split_regex(trim(text), '\\s+')) AS INT)
       |    AS n_ws_tokens,
       |  CAST(len(regexp_extract_all(lower(text), '$p')) AS INT)
       |    AS n_bpe_tokens,
       |  CAST(len(list_distinct(regexp_extract_all(lower(text), '$p'))) AS INT)
       |    AS n_distinct_bpe,
       |  CAST(length(text) AS DOUBLE)
       |    / greatest(len(regexp_extract_all(lower(text), '$p')), 1)
       |    AS chars_per_token,
       |  CAST(len(list_distinct(regexp_extract_all(lower(text), '$p'))) AS DOUBLE)
       |    / greatest(len(regexp_extract_all(lower(text), '$p')), 1)
       |    AS type_token_ratio
       |FROM documents
       |ORDER BY doc_id""".stripMargin
  }

  val VocabSize = 100 // tokens kept by frequency

  /** Corpus vocabulary — the word-count shape every training pipeline
    * runs to build token statistics: explode to token grain, aggregate
    * term frequency and document frequency, keep the top of the
    * distribution. Scale shape: the explode is map-side (no
    * materialized token table); partial aggregation collapses each
    * partition to its distinct terms before the term-hash shuffle, so
    * the exchange carries vocabulary-sized data, not corpus-sized; the
    * top-k is TakeOrderedAndProject. Ordering (tf desc, term asc) is
    * total, so the cutoff is deterministic.
    */
  def vocabulary(spark: SparkSession, sfDir: String): DataFrame =
    spreadDocs(spark, sfDir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .filter(col("term") =!= "")
      .groupBy("term")
      .agg(count(lit(1)).as("tf"), countDistinct(col("doc_id")).as("df"))
      .orderBy(desc("tf"), asc("term"))
      .limit(VocabSize)

  def vocabularySql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest($tokensSql) AS term FROM documents)
       |SELECT term, COUNT(*) AS tf, COUNT(DISTINCT doc_id) AS df
       |FROM toks WHERE term <> ''
       |GROUP BY term
       |ORDER BY tf DESC, term ASC
       |LIMIT $VocabSize""".stripMargin

  val TfidfTopK = 3 // terms kept per document by tf-idf

  /** TF-IDF-style term salience, log-free: score = tf × N / df (the
    * rational idf — monotone in the classic log form, so top-k per doc
    * is identical, and exactly reproducible: integer counts composed
    * with two IEEE ops, no transcendental whose last ulp could differ
    * between libm and DuckDB). Keep the `TfidfTopK` most salient terms per
    * doc.
    *
    * Scale shape: tf is a (doc, term)-grain partial→final agg; df
    * re-aggregates tf by term (vocabulary-sized exchange); N is a
    * 1-row broadcast; the per-doc top-k is a window partitioned by
    * doc_id with a total order.
    */
  def tfidf(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = spreadDocs(spark, sfDir)
    val toks = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .filter(col("term") =!= "")
    val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy("doc_id")
      .orderBy(desc("score"), asc("term"))
    tf.join(dfreq, "term")
      .crossJoin(broadcast(n))
      .withColumn("score",
        col("tf").cast("double") * col("n_docs") / col("df"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TfidfTopK)
      .select("doc_id", "rank", "term", "tf", "df", "score")
      .orderBy("doc_id", "rank")
  }

  def tfidfSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest($tokensSql) AS term FROM documents),
       |tf AS (
       |  SELECT doc_id, term, COUNT(*) AS tf
       |  FROM toks WHERE term <> '' GROUP BY doc_id, term),
       |dfreq AS (
       |  SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
       |n AS (SELECT COUNT(*) AS n_docs FROM documents),
       |scored AS (
       |  SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
       |    CAST(tf.tf AS DOUBLE) * n.n_docs / dfreq.df AS score
       |  FROM tf JOIN dfreq USING (term), n),
       |ranked AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
       |    ORDER BY score DESC, term ASC) AS rank
       |  FROM scored)
       |SELECT doc_id, CAST(rank AS INT) AS rank, term, tf, df, score
       |FROM ranked WHERE rank <= $TfidfTopK
       |ORDER BY doc_id, rank""".stripMargin

  /** Language ID by stopword-hit voting: per language, count tokens in
    * that language's stopword list; predict the argmax (ties broken by
    * language code order). One pass, no shuffle.
    */
  def languageId(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = spreadDocs(spark, sfDir)
    val hitCols = stopwords.toSeq.sortBy(_._1).map { case (langCode, words) =>
      val list = words.map(w => s"'$w'").mkString(", ")
      expr(s"size(filter(split(lower(trim(text)), '\\\\s+'), w -> w IN ($list)))")
        .as(s"hits_$langCode")
    }
    val scored = docs.select(col("doc_id") +: col("lang").as("labeled_lang") +:
      hitCols: _*)
    // argmax via greatest + case chain (deterministic tiebreak: code order)
    val langs = stopwords.keys.toSeq.sorted
    val maxHits = greatest(langs.map(l => col(s"hits_$l")): _*)
    val predicted = langs.foldRight(lit("unknown"): Column) { (lc, elze) =>
      when(col(s"hits_$lc") === maxHits && maxHits > 0, lit(lc)).otherwise(elze)
    }
    scored
      .withColumn("predicted_lang", predicted)
      .orderBy("doc_id")
  }

  val languageIdSql: String = {
    val langs = stopwords.keys.toSeq.sorted
    val hitExprs = langs.map { lc =>
      val list = stopwords(lc).map(w => s"'$w'").mkString(", ")
      s"CAST(len(list_filter($tokensSql, w -> w IN ($list))) AS INT) AS hits_$lc"
    }
    val maxExpr = "greatest(" + langs.map(l => s"hits_$l").mkString(", ") + ")"
    val caseExpr = langs.foldRight("'unknown'") { (lc, elze) =>
      s"CASE WHEN hits_$lc = $maxExpr AND $maxExpr > 0 THEN '$lc' ELSE $elze END"
    }
    s"""WITH scored AS (
       |  SELECT doc_id, lang AS labeled_lang, ${hitExprs.mkString(",\n    ")}
       |  FROM documents)
       |SELECT doc_id, labeled_lang, ${langs.map(l => s"hits_$l").mkString(", ")},
       |       $caseExpr AS predicted_lang
       |FROM scored
       |ORDER BY doc_id""".stripMargin
  }

  /** Document fingerprints (rolling-hash style): a whole-document content
    * hash on normalized text, plus a min-gram fingerprint — the minimum
    * hash over all 8-char character grams (the winnowing/MinHash-of-
    * k-grams idea collapsed to one value). Near-identical docs get equal
    * min_gram_fp with high probability; the whole-doc fp only matches
    * exact duplicates.
    */
  def fingerprints(spark: SparkSession, sfDir: String): DataFrame =
    spreadDocs(spark, sfDir).select(
        col("doc_id"),
        md5Hash60(lower(trim(col("text")))).as("doc_fp"),
        graft.functions.mingram_fp(col("text")).as("min_gram_fp"))
      .orderBy("doc_id")

  val ChunkSize = 200 // chunk length, in characters
  val ChunkStride = 150 // stride between chunk starts, in characters

  /** Fixed-window document chunking with overlap (the RAG/pretraining
    * chunker): windows of `ChunkSize` chars at `ChunkStride` intervals
    * (overlap = size - stride). Map-side generate — posexplode over a per-row
    * sequence, no shuffle except the presentation sort; at 100 TB the
    * chunk table never materializes doc text twice because the
    * substring is computed inside the generator's projection.
    */
  def chunkDocs(spark: SparkSession, sfDir: String): DataFrame =
    spreadDocs(spark, sfDir)
      .select(col("doc_id"),
        posexplode(expr(
          s"""transform(sequence(0, greatest(length(text) - 1, 0) div $ChunkStride),
             |  i -> substring(text, i * $ChunkStride + 1, $ChunkSize))""".stripMargin))
          .as(Seq("chunk_idx", "chunk")))
      .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
        length(col("chunk")).as("chunk_len"),
        md5(col("chunk").cast("binary")).as("chunk_md5"))
      .orderBy("doc_id", "chunk_idx")

  def chunkDocsSql: String =
    s"""SELECT doc_id, chunk_idx, CAST(length(chunk) AS INT) AS chunk_len,
       |  md5(chunk) AS chunk_md5
       |FROM (
       |  SELECT doc_id,
       |    unnest(range(0, nch)) AS chunk_idx,
       |    unnest(list_transform(range(0, nch),
       |      i -> substr(text, CAST(i * $ChunkStride + 1 AS INT), $ChunkSize))) AS chunk
       |  FROM (
       |    SELECT doc_id, text,
       |      greatest(length(text) - 1, 0) // $ChunkStride + 1 AS nch
       |    FROM documents))
       |ORDER BY doc_id, chunk_idx""".stripMargin

  /** Within-document repetition signals (the cheap "is this doc mostly
    * boilerplate/spam" gates from corpus-quality papers): duplicate-token
    * fraction and the fraction of bigrams taken by the single most
    * frequent bigram.
    *
    * Scale shape: the doc-level token stats are a narrow map-side pass;
    * the bigram mode is computed at (doc_id, bigram) grain via
    * explode→partial-agg→final-agg, NOT a per-row O(tokens²) HOF — the
    * exchange carries per-doc distinct bigram counts, and both
    * doc-grain frames co-partition on doc_id for the final join.
    */
  def repetition(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = spreadDocs(spark, sfDir)
    // round-16 §2.4: the tokenized frame feeds TWO consumers (token
    // stats map-side, bigram explode) whose exchanges differ, so the
    // regex tokenize pass ran twice over every doc — compute it once
    // into checkpoint blocks (token arrays ≈ text size; reclaimed by
    // freeTransientBlocks)
    val tk = docs.select(col("doc_id"),
      expr("filter(split(lower(trim(text)), '\\\\s+'), w -> w <> '')").as("tks"))
      .localCheckpoint(true)
    val stats = tk.select(col("doc_id"),
      size(col("tks")).as("n_tokens"),
      size(array_distinct(col("tks"))).as("n_distinct"))
    val bigrams = tk.select(col("doc_id"),
      explode(expr(
        """zip_with(slice(tks, 1, greatest(size(tks) - 1, 0)),
          |         slice(tks, 2, greatest(size(tks) - 1, 0)),
          |         (a, b) -> concat(a, ' ', b))""".stripMargin)).as("bigram"))
    val bigramStats = bigrams
      .groupBy("doc_id", "bigram").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum("c").as("n_bigrams"), max("c").as("top_bigram_count"))
    stats.join(bigramStats, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        ((col("n_tokens") - col("n_distinct")).cast("double") /
          greatest(col("n_tokens"), lit(1))).as("dup_token_frac"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("top_bigram_count"), lit(0L)).as("top_bigram_count"),
        (coalesce(col("top_bigram_count"), lit(0L)).cast("double") /
          greatest(coalesce(col("n_bigrams"), lit(0L)), lit(1)))
          .as("top_bigram_frac"))
      // the preserved side is a checkpoint: no row bound until a stage
      // counts it
      .repartition(col("doc_id"))
      .orderBy("doc_id")
  }

  val repetitionSql: String =
    s"""WITH tk AS (
       |  SELECT doc_id,
       |    list_filter($tokensSql, w -> w <> '') AS tks
       |  FROM documents),
       |stats AS (
       |  SELECT doc_id, CAST(len(tks) AS INT) AS n_tokens,
       |    CAST(len(list_distinct(tks)) AS INT) AS n_distinct
       |  FROM tk),
       |bg AS (
       |  SELECT doc_id,
       |    unnest(list_transform(range(1, greatest(len(tks), 1)),
       |      i -> tks[CAST(i AS INT)] || ' ' || tks[CAST(i AS INT) + 1]))
       |      AS bigram
       |  FROM tk),
       |bc AS (
       |  SELECT doc_id, bigram, COUNT(*) AS c FROM bg GROUP BY doc_id, bigram),
       |bs AS (
       |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams,
       |    CAST(MAX(c) AS BIGINT) AS top_bigram_count
       |  FROM bc GROUP BY doc_id)
       |SELECT s.doc_id, s.n_tokens,
       |  CAST(s.n_tokens - s.n_distinct AS DOUBLE)
       |    / greatest(s.n_tokens, 1) AS dup_token_frac,
       |  COALESCE(bs.n_bigrams, 0) AS n_bigrams,
       |  COALESCE(bs.top_bigram_count, 0) AS top_bigram_count,
       |  CAST(COALESCE(bs.top_bigram_count, 0) AS DOUBLE)
       |    / greatest(COALESCE(bs.n_bigrams, 0), 1) AS top_bigram_frac
       |FROM stats s LEFT JOIN bs ON s.doc_id = bs.doc_id
       |ORDER BY s.doc_id""".stripMargin

  /** Email / phone patterns for PII scrubbing. ASCII-only, no
    * lookaround, greedy classes only — Java regex (Spark codegen) and
    * RE2 (DuckDB) produce identical matches (same compatibility
    * envelope as [[bpePattern]]).
    */
  val emailPattern = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  val phonePattern = "\\b555-[0-9]{4}\\b"

  /** PII redaction: count and mask email/phone matches, emit the md5 of
    * the redacted text as the fidelity witness. The testdata text is
    * synthetic word soup with no PII, so the query plants one
    * deterministic email + phone per doc (derived from doc_id) before
    * scrubbing — the operator under test is the regex scrub itself,
    * which is a narrow codegen'd pass that fuses into the scan at
    * 100 TB.
    */
  def piiRedaction(spark: SparkSession, sfDir: String): DataFrame =
    spreadDocs(spark, sfDir)
      .withColumn("aug",
        concat(col("text"), lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com tel 555-"),
          lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0")))
      .select(col("doc_id"),
        size(regexp_extract_all(col("aug"), lit(emailPattern), lit(0)))
          .as("n_emails"),
        size(regexp_extract_all(col("aug"), lit(phonePattern), lit(0)))
          .as("n_phones"),
        md5(regexp_replace(
            regexp_replace(col("aug"), emailPattern, "<EMAIL>"),
            phonePattern, "<PHONE>").cast("binary"))
          .as("redacted_md5"),
        length(regexp_replace(
            regexp_replace(col("aug"), emailPattern, "<EMAIL>"),
            phonePattern, "<PHONE>"))
          .as("redacted_len"))
      .orderBy("doc_id")

  val piiRedactionSql: String = {
    val aug = "text || ' contact user' || CAST(doc_id AS VARCHAR)" +
      " || '@example.com tel 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
    s"""SELECT doc_id,
       |  CAST(len(regexp_extract_all($aug, '$emailPattern')) AS INT)
       |    AS n_emails,
       |  CAST(len(regexp_extract_all($aug, '$phonePattern')) AS INT)
       |    AS n_phones,
       |  md5(regexp_replace(regexp_replace($aug,
       |    '$emailPattern', '<EMAIL>', 'g'), '$phonePattern', '<PHONE>', 'g'))
       |    AS redacted_md5,
       |  CAST(length(regexp_replace(regexp_replace($aug,
       |    '$emailPattern', '<EMAIL>', 'g'), '$phonePattern', '<PHONE>', 'g'))
       |    AS INT) AS redacted_len
       |FROM documents
       |ORDER BY doc_id""".stripMargin
  }

  val fingerprintsSql: String =
    s"""SELECT doc_id,
       |  ${md5Hash60Sql("lower(trim(text))")} AS doc_fp,
       |  list_min(list_transform(
       |    range(1, greatest(length(lower(trim(text))) - 7, 1) + 1),
       |    i -> ${md5Hash60Sql("substr(lower(trim(text)), CAST(i AS INT), 8)")}))
       |    AS min_gram_fp
       |FROM documents
       |ORDER BY doc_id""".stripMargin

  val TopBigrams = 200 // bigrams kept by frequency

  /** Bigram-coverage quality score — the integer-exact stand-in for an
    * LM-based quality filter: how much of each document's adjacent-word
    * mass falls inside the corpus' own top-`TopBigrams` bigram vocabulary.
    * Low coverage flags word-soup/mojibake/boilerplate-free-floating
    * text the way low LM likelihood would, with no transcendental in
    * sight (logprob sums differ in the last ulp between libm builds;
    * counts and integer ppm never do).
    *
    * Scale shape: the bigram explode is map-side; the vocabulary agg
    * exchanges (bigram, count) at vocabulary grain with map-side
    * partial collapse, and the cutoff is a total-ordered
    * TakeOrderedAndProject; the bounded top list broadcasts back over
    * a per-doc partial-agg count. Docs with fewer than two tokens have
    * no bigram mass and are excluded (coverage is undefined there).
    */
  def bigramCoverage(spark: SparkSession, sfDir: String): DataFrame = {
    // round-16 §2.4: both consumers (global top list, per-doc
    // coverage) explode the SAME tokenized frame — previously each ran
    // its own regex tokenize pass over every doc. Checkpoint the
    // doc-grain token arrays once; the explodes stay map-side against
    // the blocks. (A (doc_id, bigram)-grain pre-collapse was A/B'd and
    // LOST — word-soup bigrams barely repeat within a doc, so the
    // extra exchange carried ~instance-grain rows: 1.56 vs 1.72 s.)
    val tk = spreadDocs(spark, sfDir)
      .select(col("doc_id"),
        expr("filter(split(lower(trim(text)), '\\\\s+'), w -> w <> '')")
          .as("tks"))
      .localCheckpoint(true)
    val bigrams = tk
      .select(col("doc_id"), explode(expr(
        """transform(slice(tks, 1, greatest(size(tks) - 1, 0)),
          |  (w, i) -> concat(w, ' ', element_at(tks, i + 2)))""".stripMargin))
        .as("bg"))
    val top = bigrams.groupBy("bg").agg(count(lit(1)).as("tf"))
      .orderBy(desc("tf"), asc("bg"))
      .limit(TopBigrams)
      .select(col("bg"), lit(1).as("hit"))
    bigrams
      .join(broadcast(top), Seq("bg"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(coalesce(col("hit"), lit(0))).cast("long").as("n_covered"))
      .select(col("doc_id"), col("n_bigrams"), col("n_covered"),
        expr("CAST(n_covered * 1000000 div n_bigrams AS BIGINT)")
          .as("coverage_ppm"))
      .orderBy("doc_id")
  }

  def bigramCoverageSql: String =
    s"""WITH tk AS (
       |  SELECT doc_id, list_filter($tokensSql, w -> w <> '') AS tks
       |  FROM documents),
       |bg AS (
       |  SELECT doc_id, unnest(list_transform(range(1, len(tks)),
       |    i -> tks[CAST(i AS INT)] || ' ' || tks[CAST(i + 1 AS INT)]))
       |    AS bg
       |  FROM tk),
       |top AS (
       |  SELECT bg FROM (
       |    SELECT bg, COUNT(*) AS tf FROM bg GROUP BY bg
       |    ORDER BY tf DESC, bg ASC LIMIT $TopBigrams)),
       |cov AS (
       |  SELECT b.doc_id, COUNT(*) AS n_bigrams,
       |    CAST(SUM(CASE WHEN t.bg IS NOT NULL THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_covered
       |  FROM bg b LEFT JOIN top t ON b.bg = t.bg
       |  GROUP BY b.doc_id)
       |SELECT doc_id, CAST(n_bigrams AS BIGINT) AS n_bigrams, n_covered,
       |  CAST(n_covered * 1000000 // n_bigrams AS BIGINT) AS coverage_ppm
       |FROM cov
       |ORDER BY doc_id""".stripMargin

  val SearchTerms = Seq("scan", "join", "hash") // keyword and BM25 query
  val SearchK = 20 // documents each search returns

  /** q165 — KEYWORD SEARCH over the corpus, the sparse-retrieval
    * complement to the dense ANN family (q23/q24/q34/q138…): given a
    * literal term set, rank documents by a log-free tf·rarity score —
    * tf(t, doc) × (N·10⁶ div df(t)), summed over matched terms, all
    * exact integers (a BM25's ln(idf) would put libm in the score and
    * break cross-engine hashing; the integer rarity weight preserves
    * the idf ORDERING, which is what the ranking needs).
    *
    * Scale shape — this IS the inverted-index retrieval pattern: the
    * term filter prunes the token stream at the scan (at 100 TB the
    * postings table `(term, doc_id, tf)` is the stored index, bucketed
    * by term, and a query touches only its terms' postings); df
    * weights derive from the same pruned postings (one tiny agg,
    * broadcast); scoring is one doc-grain aggregate over Σ|postings of
    * query terms| rows; top-k is TakeOrderedAndProject, never a global
    * sort.
    */
  def keywordSearch(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = spreadDocs(spark, sfDir)
    val postings = docs
      .select(col("doc_id"),
        explode(expr("split(lower(trim(text)), '\\\\s+')")).as("t"))
      .filter(col("t").isInCollection(SearchTerms))
      .groupBy("doc_id", "t")
      .agg(count(lit(1)).as("tf"))
    val dfq = postings.groupBy("t").agg(count(lit(1)).as("df_t"))
    val n1 = broadcast(docs.agg(count(lit(1)).as("n_docs")))
    val weights = broadcast(dfq.crossJoin(n1)
      .select(col("t"), expr("n_docs * 1000000 div df_t").as("w")))
    postings.join(weights, "t")
      .groupBy("doc_id")
      .agg(sum(col("tf") * col("w")).cast("long").as("score"),
        count(lit(1)).as("n_hit_terms"))
      .orderBy(desc("score"), asc("doc_id"))
      .limit(SearchK)
  }

  /** DuckDB oracle for [[keywordSearch]]: postings, rarity weights and
    * the scored top-k restated verbatim.
    */
  def keywordSearchSql: String = {
    val inList = SearchTerms.map(t => s"'$t'").mkString(", ")
    s"""WITH toks AS (
       |  SELECT doc_id,
       |    unnest(string_split_regex(lower(trim(text)), '\\s+')) AS t
       |  FROM documents),
       |postings AS (
       |  SELECT doc_id, t, COUNT(*) AS tf FROM toks
       |  WHERE t IN ($inList) GROUP BY 1, 2),
       |dfq AS (SELECT t, COUNT(*) AS df_t FROM postings GROUP BY 1),
       |n AS (SELECT COUNT(*) AS n_docs FROM documents),
       |w AS (SELECT t, n_docs * 1000000 // df_t AS w
       |      FROM dfq CROSS JOIN n)
       |SELECT p.doc_id, CAST(SUM(p.tf * w.w) AS BIGINT) AS score,
       |  CAST(COUNT(*) AS BIGINT) AS n_hit_terms
       |FROM postings p JOIN w ON p.t = w.t
       |GROUP BY p.doc_id
       |ORDER BY score DESC, doc_id LIMIT $SearchK""".stripMargin
  }

  /** q171 — BM25 ranking, the retrieval family's third shape (q165
    * flat tf·rarity, q167 positional phrase): adds BM25's two
    * signature behaviors — TF SATURATION (a term's 10th occurrence
    * adds less than its 1st: tf·(k1+1)/(tf+k1·…)) and LENGTH
    * NORMALIZATION (matches in short docs outrank the same matches in
    * long docs: the k1 denominator scales with dl/avgdl).
    *
    * Cross-engine exactness (the repo's floor-quantization discipline):
    * idf stays the q165 integer rarity weight (BM25's ln(idf) would put
    * libm — whose last-ulp behavior differs between engines — in the
    * score; the integer weight preserves idf ORDERING, which is what
    * the ranking consumes). The saturation factor uses k1 = 1.25 and
    * b = 0.75 — both exactly representable in binary64 — and avgdl
    * enters as one CAST/CAST division of exact BIGINTs, so every step
    * of `w · (tf·2.25) / (tf + 1.25·(0.25 + 0.75·(dl/avg)))` is a
    * single correctly-rounded IEEE op on identical operands in Spark
    * and DuckDB; each term's contribution is floor()'d to BIGINT
    * BEFORE the cross-term sum, making the total order-free exact.
    *
    * Scale shape: same inverted-index pattern as q165 — term-pruned
    * postings with the doc length carried from the SAME scan (at
    * 100 TB, (term, doc_id, tf, dl) IS the stored postings layout),
    * broadcast weights/avgdl, doc-grain agg, top-k TakeOrdered.
    */
  def bm25Search(spark: SparkSession, sfDir: String,
      terms: Seq[String] = SearchTerms,
      k: Int = SearchK): DataFrame = {
    val docs = spreadDocs(spark, sfDir)
    val toks = docs.select(col("doc_id"),
      expr("split(lower(trim(text)), '\\\\s+')").as("tks"))
    val postings = toks
      .select(col("doc_id"), size(col("tks")).as("dl"),
        explode(col("tks")).as("t"))
      .filter(col("t").isInCollection(terms))
      .groupBy("doc_id", "t")
      .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))
    val dfq = postings.groupBy("t").agg(count(lit(1)).as("df_t"))
    val n1 = broadcast(toks.agg(count(lit(1)).as("n_docs"),
      sum(size(col("tks")).cast("long")).as("total_dl")))
    val weights = broadcast(dfq.crossJoin(n1)
      .select(col("t"), expr("n_docs * 1000000 div df_t").as("w"),
        expr("CAST(total_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)").as("avg")))
    postings.join(weights, "t")
      .select(col("doc_id"), expr(
        """CAST(floor(CAST(w AS DOUBLE) * (CAST(tf AS DOUBLE) * 2.25D) /
          |  (CAST(tf AS DOUBLE) +
          |   1.25D * (0.25D + 0.75D * (CAST(dl AS DOUBLE) / avg))))
          |AS BIGINT)""".stripMargin).as("contrib"))
      .groupBy("doc_id")
      .agg(sum(col("contrib")).cast("long").as("score"),
        count(lit(1)).as("n_hit_terms"))
      .orderBy(desc("score"), asc("doc_id"))
      .limit(k)
  }

  /** DuckDB oracle for [[bm25Search]]: postings with doc length, rarity
    * weights, the identical IEEE saturation tree, per-term floor
    * quantization, and the scored top-k restated verbatim.
    */
  def bm25SearchSql: String = {
    val inList = SearchTerms.map(t => s"'$t'").mkString(", ")
    s"""WITH tk AS (
       |  SELECT doc_id, $tokensSql AS tks FROM documents),
       |postings AS (
       |  SELECT doc_id, t, COUNT(*) AS tf, MAX(dl) AS dl FROM (
       |    SELECT doc_id, len(tks) AS dl, unnest(tks) AS t FROM tk) u
       |  WHERE t IN ($inList) GROUP BY 1, 2),
       |dfq AS (SELECT t, COUNT(*) AS df_t FROM postings GROUP BY 1),
       |n AS (SELECT COUNT(*) AS n_docs,
       |             CAST(SUM(len(tks)) AS BIGINT) AS total_dl FROM tk),
       |w AS (SELECT t, n_docs * 1000000 // df_t AS w,
       |             CAST(total_dl AS DOUBLE) / CAST(n_docs AS DOUBLE) AS avg
       |      FROM dfq CROSS JOIN n),
       |scored AS (
       |  SELECT p.doc_id,
       |    -- e-notation literals: DuckDB parses bare 2.25 as DECIMAL,
       |    -- which would reshape the IEEE expression tree
       |    CAST(floor(CAST(w.w AS DOUBLE) * (CAST(p.tf AS DOUBLE) * 2.25e0) /
       |      (CAST(p.tf AS DOUBLE) +
       |       1.25e0 * (0.25e0 + 0.75e0 * (CAST(p.dl AS DOUBLE) / w.avg))))
       |    AS BIGINT) AS contrib
       |  FROM postings p JOIN w ON p.t = w.t)
       |SELECT doc_id, CAST(SUM(contrib) AS BIGINT) AS score,
       |  CAST(COUNT(*) AS BIGINT) AS n_hit_terms
       |FROM scored
       |GROUP BY doc_id
       |ORDER BY score DESC, doc_id LIMIT $SearchK""".stripMargin
  }

  val SearchPhrase = Seq("hash", "join") // query phrase of the phrase search

  /** q167 — PHRASE search over a POSITIONAL inverted index (the q165
    * retrieval family's second shape): tokens are exploded with their
    * in-document position, pruned to the phrase's vocabulary BEFORE any
    * join (the full text never enters the shuffle — only (doc_id, pos)
    * pairs for phrase terms do), and adjacency is verified by a
    * position-equi-join per subsequent term: term i must sit at
    * anchor_pos + i. Overlapping occurrences each count. Output: docs
    * ranked by occurrence count with the earliest match position (the
    * snippet anchor a search UI needs).
    *
    * Scale shape: this IS the distributed positional-postings probe —
    * candidate lists are term-frequency-sized, the equi-join key
    * (doc_id, pos) is maximally selective, and each fold step prunes
    * further; a stored index would materialize `postings` once
    * (the q158 idiom) and skip the scan entirely.
    */
  def phraseSearch(spark: SparkSession, sfDir: String,
      phrase: Seq[String] = SearchPhrase, k: Int = SearchK): DataFrame = {
    require(phrase.nonEmpty, "phrase must have at least one term")
    val docs = spreadDocs(spark, sfDir)
    val postings = docs
      .select(col("doc_id"),
        posexplode(expr(
          "filter(split(lower(trim(text)), '\\\\s+'), w -> w <> '')"))
          .as(Seq("pos", "t")))
      .filter(col("t").isInCollection(phrase.distinct))
    val anchor = postings.filter(col("t") === phrase.head)
      .select(col("doc_id"), col("pos"))
    val matched = phrase.zipWithIndex.drop(1).foldLeft(anchor) {
      case (acc, (w, i)) =>
        acc.join(
          postings.filter(col("t") === w)
            .select(col("doc_id"), (col("pos") - i).as("pos")),
          Seq("doc_id", "pos"))
    }
    matched.groupBy("doc_id")
      .agg(count(lit(1)).as("n_matches"),
        min(col("pos")).cast("long").as("first_pos"))
      .orderBy(desc("n_matches"), asc("doc_id"))
      .limit(k)
  }

  /** DuckDB oracle for [[phraseSearch]]: positional postings (0-based,
    * over the same empty-filtered token list) and the adjacency join
    * chain restated verbatim.
    */
  def phraseSearchSql: String = {
    val inList = SearchPhrase.distinct.map(w => s"'$w'").mkString(", ")
    val joins = SearchPhrase.zipWithIndex.drop(1).map { case (w, i) =>
      s"JOIN p p$i ON p$i.doc_id = p0.doc_id AND p$i.pos = p0.pos + $i" +
        s" AND p$i.t = '$w'"
    }.mkString("\n")
    s"""WITH tk AS (
       |  SELECT doc_id, list_filter($tokensSql, w -> w <> '') AS tks
       |  FROM documents),
       |p AS (
       |  SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
       |         tks[CAST(i AS INT)] AS t
       |  FROM tk, LATERAL UNNEST(range(1, len(tks) + 1)) r(i)
       |  WHERE tks[CAST(i AS INT)] IN ($inList))
       |SELECT p0.doc_id, CAST(COUNT(*) AS BIGINT) AS n_matches,
       |  CAST(MIN(p0.pos) AS BIGINT) AS first_pos
       |FROM p p0
       |$joins
       |WHERE p0.t = '${SearchPhrase.head}'
       |GROUP BY p0.doc_id
       |ORDER BY n_matches DESC, p0.doc_id LIMIT $SearchK""".stripMargin
  }
}
