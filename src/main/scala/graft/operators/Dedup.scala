package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Deduplication operators for training-data pipelines over `documents`
  * (SURVEY.md §7.5 + builder prompt): exact hash dedup, MinHash+LSH
  * near-dup, SimHash, n-gram Jaccard verification.
  *
  * Scale design: every per-document computation (shingles, signatures,
  * simhash) is a narrow map built from codegen'd higher-order array
  * functions — one pass over the corpus, no UDFs. The only shuffles are
  * (a) the groupBy on content hash for exact dedup and (b) the
  * band-bucket exchange for LSH candidate generation, both of which
  * reduce data massively before the shuffle (a signature row is ~200
  * bytes regardless of document size). Candidate verification computes
  * true Jaccard ONLY on LSH-colliding pairs — the O(n²) pairwise join is
  * never materialized. All hashes are md5-derived (portable to the
  * DuckDB oracle, and stable across engines/runs).
  */
object Dedup {

  /** Number of MinHash hash functions and LSH banding (16 = 4 bands x 4
    * rows: catches Jaccard >~ 0.7 with high probability).
    */
  val NumHashes = 16
  val Bands = 4
  val RowsPerBand = 4

  // ---------- shared SQL fragments (Spark expr dialect) ----------

  /** Word 3-shingles of normalized text (Spark SQL fragment).
    * try_element_at handles docs shorter than 3 tokens (ANSI-safe).
    */
  val shinglesExprSpark: String = {
    val tok = "split(lower(trim(text)), '\\\\s+')"
    s"""transform(sequence(1, greatest(size($tok) - 2, 1)),
       |  i -> concat_ws(' ', try_element_at($tok, i),
       |                  try_element_at($tok, i + 1),
       |                  try_element_at($tok, i + 2)))""".stripMargin
  }

  /** Same shingles in DuckDB dialect (1-based list indexing; out-of-range
    * returns NULL which concat_ws skips — same semantics as above).
    */
  val shinglesExprDuck: String = {
    val tok = "string_split_regex(lower(trim(text)), '\\s+')"
    s"""list_transform(range(1, greatest(len($tok) - 2, 1) + 1),
       |  i -> concat_ws(' ', $tok[CAST(i AS INT)],
       |                  $tok[CAST(i + 1 AS INT)],
       |                  $tok[CAST(i + 2 AS INT)]))""".stripMargin
  }

  /** Exact dedup by content hash (D2 + builder "exact (hash-groupBy)"):
    * canonical keeper = min doc_id per md5(normalized text).
    */
  def exactDedup(spark: SparkSession, sfDir: String): DataFrame =
    Tables.spread(Tables.documents(spark, sfDir))
      .groupBy(md5(lower(trim(col("text"))).cast("binary")).as("text_hash"))
      .agg(min(col("doc_id")).as("keep_doc_id"),
        count(lit(1)).as("n_copies"))
      .orderBy("text_hash")

  val exactDedupSql: String =
    """SELECT md5(lower(trim(text))) AS text_hash,
      |       min(doc_id) AS keep_doc_id,
      |       count(*) AS n_copies
      |FROM documents
      |GROUP BY 1
      |ORDER BY text_hash""".stripMargin

  /** MinHash signatures: sig[j] = min over shingles of h_j(shingle),
    * h_j = 60-bit md5 hash seeded by j. One pass, map-side only,
    * computed by the native [[graft.functions.MinHashSigExpr]] (a pure
    * SQL HOF composition produces identical values ~30x slower; the
    * DuckDB oracle below documents the exact semantics).
    */
  /** Registered (harness-facing) form: the signature rendered as one
    * comma-joined string column — array-typed result columns crash the
    * driver's pandas sort (round-1 q15 `unhashable type` failure), so
    * registered outputs are scalars only. Pipeline code composes on
    * [[minhashSignaturesRaw]], which keeps the native array.
    */
  def minhashSignatures(spark: SparkSession, sfDir: String): DataFrame =
    minhashSignaturesRaw(spark, sfDir)
      .select(col("doc_id"), concat_ws(",", col("minhash")).as("minhash"))
      .orderBy("doc_id")

  /** Signature computation without the presentation sort (plan building
    * block — a mid-pipeline global sort would be pure waste).
    */
  def minhashSignaturesRaw(spark: SparkSession, sfDir: String): DataFrame =
    Tables.spread(Tables.documents(spark, sfDir))
      .select(
        col("doc_id"),
        graft.functions.minhash_sig(col("text"), NumHashes).as("minhash"))

  /** Row-based oracle formulation (round 7): the obvious transliteration
    * — `list_transform(range(0,16), j -> list_min(list_transform(shingles,
    * md5...)))` — re-evaluates the shingle list-lambda tree once per hash
    * function inside DuckDB's lambda interpreter and blew the 600 s
    * oracle budget at sf1 (q15 alone >50 CPU-min; SOAK.md round 6).
    * Unnesting the distinct shingles to rows ONCE and taking the
    * group-by min over a vectorized (shingle × j) cross join computes
    * the identical md5 contract ~16× faster (hash-identical at
    * sf0.01/sf0.1, verified both formulations side by side). min over
    * distinct shingles == min over all shingles, so the semantics are
    * unchanged. AS MATERIALIZED is load-bearing: DuckDB inlines CTEs by
    * default, and `sh_rows` is referenced by several consumers.
    */
  val minhashSignaturesSql: String =
    s"""WITH sh_rows AS MATERIALIZED (
       |  SELECT doc_id, unnest(list_distinct($shinglesExprDuck)) AS s
       |  FROM documents),
       |mh AS (
       |  SELECT doc_id, j,
       |    min(CAST(('0x' || substr(md5(j || '|' || s), 1, 15)) AS BIGINT)) AS mh
       |  FROM sh_rows, (SELECT unnest(range(0, $NumHashes)) AS j) js
       |  GROUP BY doc_id, j)
       |SELECT doc_id, string_agg(mh, ',' ORDER BY j) AS minhash
       |FROM mh GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin

  val JaccardThreshold = 0.5 // MinHash Jaccard of a near-dup

  /** Near-duplicate pairs via MinHash LSH + exact Jaccard verification:
    * 1. signature -> `Bands` band keys (hash of `RowsPerBand` minhashes);
    * 2. explode bands, shuffle on (band_idx, band_key) — only docs
    *    agreeing on a whole band collide;
    * 3. self-join within buckets (doc_a < doc_b), distinct;
    * 4. verify candidates with true 3-shingle Jaccard >= `JaccardThreshold`.
    *
    * At 100 TB: the exploded band table is 4 rows x ~24 bytes per doc;
    * bucket joins are local to each band-key partition; the quadratic
    * blowup is bounded by bucket size. Skewed mega-buckets (boilerplate
    * text hashing thousands of docs into one band) are the one
    * pathological case — `maxBucketSize` drops band buckets above the
    * cap BEFORE the self-join, bounding pairs per bucket at cap²/2. Docs
    * in a dropped bucket can still pair through their other bands; a
    * bucket that large means the docs are boilerplate-identical anyway
    * (documented recall trade; None = uncapped, the oracle-checked
    * default).
    */
  def neardupPairs(spark: SparkSession, sfDir: String,
      maxBucketSize: Option[Int] = None): DataFrame =
    shingleScoredCandidates(spark, sfDir, maxBucketSize)
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))))
      .filter(col("jaccard") >= JaccardThreshold)
      .select("doc_a", "doc_b", "jaccard")
      .orderBy("doc_a", "doc_b")

  val ContainmentThreshold = 0.5 // containment of a contained doc

  /** Overlap-coefficient containment pairs — the SUBSET-duplicate
    * detector Jaccard misses: a short doc quoted wholesale inside a
    * long one has low Jaccard (union is large) but overlap
    * |A∩B| / min(|A|,|B|) near 1. Same LSH candidate machinery, same
    * scale shape; only the final scoring expression differs.
    */
  def containmentPairs(spark: SparkSession, sfDir: String): DataFrame =
    shingleScoredCandidates(spark, sfDir, None)
      .withColumn("overlap",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          least(size(col("sh_a")), size(col("sh_b"))))
      .filter(col("overlap") >= ContainmentThreshold)
      .select("doc_a", "doc_b", "overlap")
      .orderBy("doc_a", "doc_b")

  /** q147 — INCREMENTAL near-dup admission, the production ingest
    * shape: the corpus' band-bucket index is PERSISTED once
    * ([[corpusBandIndex]] — (doc_id, band_idx, band_key) parquet,
    * mtime-keyed like the streaming staging), and each incoming batch
    * is deduped against it by probing the index, never re-pairing the
    * corpus. At 100 TB the difference is the whole point: batch-vs-all
    * LSH re-bands every corpus doc on every ingest (O(corpus) per
    * batch); here the per-batch cost is O(batch signatures) + one
    * equi-join against an index that at scale lives bucketed by
    * band_key, and admitting a batch appends its own band rows to the
    * same index.
    *
    * Fixture split: even doc_ids are the existing corpus, odd doc_ids
    * the incoming batch (deterministic, oracle-restatable). Output is
    * one row per incoming doc that near-duplicates an existing doc —
    * (doc_id, dup_of, jaccard) with dup_of = the best-matching corpus
    * doc (highest exact Jaccard, tie toward the lowest id), the
    * admission decision a curation pipeline acts on.
    */
  def incrementalDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val index = spark.read.parquet(corpusBandIndex(spark, sfDir))
      .select(col("doc_id").as("corpus_id"),
        col("band_idx"), col("band_key"))
    // incoming batch: signatures + band keys for the odd half only
    val incoming = bandedFromSigs(
      minhashSignaturesRaw(spark, sfDir)
        .filter(pmod(col("doc_id"), lit(2)) === 1)
        .repartition(col("doc_id")))
    // round-16 §2.4: the shingle frame feeds TWO joins with DIFFERENT
    // keys (doc_id, corpus_id) inside the probe, so the expensive
    // word_shingles scan ran twice — checkpoint it once (blocks are
    // reclaimed by freeTransientBlocks)
    val sh = distinctShingles(spark, sfDir).localCheckpoint(true)
    bestMatchAgainstIndex(incoming, index, sh).orderBy("doc_id")
  }

  /** Distinct 3-shingle sets per doc (the exact-Jaccard verification
    * grain shared by the incremental probes).
    */
  private[operators] def distinctShingles(spark: SparkSession, sfDir: String): DataFrame =
    Tables.spread(Tables.documents(spark, sfDir)).select(
      col("doc_id"),
      array_distinct(graft.functions.word_shingles(col("text"))).as("sh"))

  /** The incremental-admission probe: batch band rows joined to an
    * index's (corpus_id, band_idx, band_key) rows, candidates verified
    * at shingle grain, best corpus match per incoming doc (highest
    * exact Jaccard, tie toward the lowest id). Returns
    * (doc_id, dup_of, jaccard) — unsorted (callers order or compose).
    */
  private def bestMatchAgainstIndex(batchBands: DataFrame,
      index: DataFrame, sh: DataFrame): DataFrame = {
    val cands = batchBands.join(index, Seq("band_idx", "band_key"))
      .select(col("doc_id"), col("corpus_id"))
      .distinct()
    val w = Window.partitionBy("doc_id")
      .orderBy(desc("jaccard"), asc("corpus_id"))
    cands
      .join(sh, "doc_id")
      .join(sh.withColumnRenamed("doc_id", "corpus_id")
        .withColumnRenamed("sh", "sh_c"), "corpus_id")
      .withColumn("jaccard",
        size(array_intersect(col("sh"), col("sh_c"))).cast("double") /
          size(array_union(col("sh"), col("sh_c"))))
      .filter(col("jaccard") >= JaccardThreshold)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("corpus_id").as("dup_of"), col("jaccard"))
  }

  /** q159 — the incremental-dedup LOOP closed (q147 probes a read-only
    * index; the round-8 verdict's open gap was that batch N+1 could
    * not dedup against batch N's survivors): two ingest rounds against
    * a MAINTAINED index. Round 1 (doc_id % 4 == 1) probes the
    * persisted corpus (even) band index; its ADMITTED docs' band rows
    * are then appended to the index as a versioned `_SUCCESS`-committed
    * segment (the q154 sink idiom — at scale, one new bucketed file
    * set per ingest, never a rewrite of the corpus index). Round 2
    * (doc_id % 4 == 3) probes corpus ∪ segment-1 — so a round-2 doc
    * CAN dedup against a round-1 admit, which is the property that
    * makes the pipeline incremental in production (DedupLoopSpec pins
    * it on a controlled fixture; on driver data it holds wherever the
    * corpus has cross-odd near-dups). Output: both rounds' admission
    * decisions, tagged.
    *
    * The whole segment chain is rebuilt per invocation (the harness
    * must demonstrate the full loop, and segment 1 depends on round
    * 1's result); only the corpus segment reuses the mtime-keyed
    * cache. Oracle: both rounds restated in SQL — round 2's candidate
    * set is (even corpus) ∪ (round-1 odd docs with no round-1 match).
    */
  def incrementalDedupLoop(spark: SparkSession, sfDir: String): DataFrame = {
    val root = Tables.Index.scratch("loop_", sfDir)
    val seg0 = spark.read.parquet(corpusBandIndex(spark, sfDir))
      .select(col("doc_id").as("corpus_id"),
        col("band_idx"), col("band_key"))
    // round-16 §2.4: consumed lazily FOUR times (two different-key
    // joins per probe round) — the word_shingles scan ran 4×; compute
    // it once into checkpoint blocks shared by both rounds
    val sh = distinctShingles(spark, sfDir).localCheckpoint(true)
    def batchBands(residue: Int): DataFrame = bandedFromSigs(
      minhashSignaturesRaw(spark, sfDir)
        .filter(pmod(col("doc_id"), lit(4)) === residue)
        .repartition(col("doc_id")))
    // ---- round 1: probe the corpus index, admit, append segment ----
    val bands1 = batchBands(1).localCheckpoint(true) // probed AND appended
    val dups1 = bestMatchAgainstIndex(bands1, seg0, sh)
      .localCheckpoint(true) // reused: output + the admit filter
    val seg1Dir = new java.io.File(root, "seg1")
    bands1.join(dups1.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .write.parquet(seg1Dir.getPath) // _SUCCESS-committed by Spark
    // ---- round 2: probe corpus ∪ round-1 admits (read back from the
    // persisted segment — the index maintenance is real, not in-memory)
    val seg1 = spark.read.parquet(seg1Dir.getPath)
      .select(col("doc_id").as("corpus_id"),
        col("band_idx"), col("band_key"))
    val dups2 =
      bestMatchAgainstIndex(batchBands(3), seg0.unionByName(seg1), sh)
    // dups1 is a checkpoint: repartition so AQE counts the union
    dups1.withColumn("batch_round", lit(1L))
      .unionByName(dups2.withColumn("batch_round", lit(2L)))
      .select("batch_round", "doc_id", "dup_of", "jaccard")
      .repartition(col("batch_round"), col("doc_id"))
      .orderBy("batch_round", "doc_id")
  }

  /** DuckDB oracle for [[incrementalDedupLoop]]: the banded CTE prefix,
    * round-1 best matches against the even corpus, round-1 admits =
    * round-1 docs with no match, round-2 best matches against
    * corpus ∪ admits, both rounds tagged.
    */
  def incrementalDedupLoopSql: String =
    s"""@BANDED@,
       |@DOCSH@,
       |r1cands AS MATERIALIZED (
       |  SELECT DISTINCT i.doc_id, c.doc_id AS corpus_id
       |  FROM banded i JOIN banded c
       |    ON i.band_idx = c.band_idx AND i.band_key = c.band_key
       |   AND i.doc_id % 4 = 1 AND c.doc_id % 2 = 0),
       |r1inter AS (
       |  SELECT c.doc_id, c.corpus_id,
       |    len(list_intersect(a.sh, b.sh)) AS n_inter
       |  FROM r1cands c
       |  JOIN docsh a ON a.doc_id = c.doc_id
       |  JOIN docsh b ON b.doc_id = c.corpus_id),
       |r1 AS MATERIALIZED (
       |  SELECT doc_id, dup_of, jaccard FROM (
       |    SELECT i.doc_id, i.corpus_id AS dup_of,
       |      CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter) AS jaccard,
       |      row_number() OVER (PARTITION BY i.doc_id
       |        ORDER BY CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter)
       |          DESC, i.corpus_id ASC) AS rn
       |    FROM r1inter i
       |    JOIN sizes sa ON sa.doc_id = i.doc_id
       |    JOIN sizes sb ON sb.doc_id = i.corpus_id
       |    WHERE CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter)
       |            >= $JaccardThreshold)
       |  WHERE rn = 1),
       |admits AS MATERIALIZED (
       |  SELECT DISTINCT doc_id FROM banded
       |  WHERE doc_id % 4 = 1
       |    AND doc_id NOT IN (SELECT doc_id FROM r1)),
       |r2cands AS MATERIALIZED (
       |  SELECT DISTINCT i.doc_id, c.doc_id AS corpus_id
       |  FROM banded i JOIN banded c
       |    ON i.band_idx = c.band_idx AND i.band_key = c.band_key
       |   AND i.doc_id % 4 = 3
       |   AND (c.doc_id % 2 = 0
       |        OR c.doc_id IN (SELECT doc_id FROM admits))),
       |r2inter AS (
       |  SELECT c.doc_id, c.corpus_id,
       |    len(list_intersect(a.sh, b.sh)) AS n_inter
       |  FROM r2cands c
       |  JOIN docsh a ON a.doc_id = c.doc_id
       |  JOIN docsh b ON b.doc_id = c.corpus_id),
       |r2 AS (
       |  SELECT doc_id, dup_of, jaccard FROM (
       |    SELECT i.doc_id, i.corpus_id AS dup_of,
       |      CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter) AS jaccard,
       |      row_number() OVER (PARTITION BY i.doc_id
       |        ORDER BY CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter)
       |          DESC, i.corpus_id ASC) AS rn
       |    FROM r2inter i
       |    JOIN sizes sa ON sa.doc_id = i.doc_id
       |    JOIN sizes sb ON sb.doc_id = i.corpus_id
       |    WHERE CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter)
       |            >= $JaccardThreshold)
       |  WHERE rn = 1)
       |SELECT CAST(1 AS BIGINT) AS batch_round, doc_id, dup_of, jaccard
       |FROM r1
       |UNION ALL
       |SELECT CAST(2 AS BIGINT) AS batch_round, doc_id, dup_of, jaccard
       |FROM r2
       |ORDER BY batch_round, doc_id""".stripMargin
      .replace("@BANDED@", lshBandedCte)
      .replace("@DOCSH@", docShingleSetsCte)

  /** q208 — BAND-INDEX SEGMENT COMPACTION (round-12 verdict ask #1:
    * the q199 ANN compaction pattern transplanted to the near-dup band
    * index; reference dedup-index semantics per
    * tharun-kadimi/Retail-Sales-Analysis-Etl-BI-Project etl/etl.py:
    * drop_duplicates, generalized to the versioned LSH index). The
    * q159 segment chain (corpus band index + the round-1 admits'
    * appended segment) is folded into ONE `_SUCCESS`-committed
    * generation as a PURE band-row copy — the compacted frame's
    * lineage is two parquet reads and a union, no re-shingle and no
    * re-minhash anywhere (DedupLoopSpec pins the row-count identity) —
    * and the SAME incoming batch (doc_id % 4 == 3, exactly q159's
    * round 2) is probed against BOTH the segment union and the
    * compacted generation. The registered rows are the admissions over
    * the COMPACTED index; `probes_equal` carries the executed
    * both-ways `exceptAll` count (the q199/q137 computed-never-assumed
    * idiom), and the oracle restates the admissions from the banded
    * CTE — valid against the compacted index precisely BECAUSE
    * compaction is a row copy.
    *
    * At 100 TB this is the maintenance job the q159/q205 append loop
    * needs to run forever: per-ingest probes stay O(live segments)
    * instead of O(batches), and the fold itself is one
    * read-union-write of band rows (25 bytes/doc/band), embarrassingly
    * parallel, scheduled every K ingests.
    */
  def bandIndexCompact(spark: SparkSession, sfDir: String): DataFrame = {
    val root = Tables.Index.scratch("compact_", sfDir)
    val seg0 = spark.read.parquet(corpusBandIndex(spark, sfDir))
    val sh = distinctShingles(spark, sfDir)
    def batchBands(residue: Int): DataFrame = bandedFromSigs(
      minhashSignaturesRaw(spark, sfDir)
        .filter(pmod(col("doc_id"), lit(4)) === residue)
        .repartition(col("doc_id")))
    def asIndex(df: DataFrame): DataFrame =
      df.select(col("doc_id").as("corpus_id"),
        col("band_idx"), col("band_key"))
    // ---- the q159 chain: round-1 probe, admit, append segment 1 ----
    val bands1 = batchBands(1).localCheckpoint(true)
    val dups1 = bestMatchAgainstIndex(bands1, asIndex(seg0), sh)
    val seg1Dir = new java.io.File(root, "seg1")
    bands1.join(dups1.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .write.parquet(seg1Dir.getPath)
    // ---- compaction: pure row copy of seg0 ∪ seg1, _SUCCESS-committed
    val union = seg0.unionByName(spark.read.parquet(seg1Dir.getPath))
    val genDir = new java.io.File(root, "gen1")
    union.write.parquet(genDir.getPath)
    val compacted = spark.read.parquet(genDir.getPath)
    // ---- the SAME probe against compacted vs union, equality executed
    val bands3 = batchBands(3).localCheckpoint(true)
    // OVERLAP (round-16, guide §2.6): the two probes are independent
    // (same batch, compacted vs union index) — materialize the
    // compacted-side probe on a pool thread while the main thread
    // materializes the union-side one; both read only checkpointed
    // bands / committed parquet.
    val (a, b) = Tables.overlapped(spark) { ov =>
      val aF = ov.submit("q208: probe compacted")(
        bestMatchAgainstIndex(bands3, asIndex(compacted), sh)
          .localCheckpoint(true))
      val bEager = bestMatchAgainstIndex(bands3, asIndex(union), sh)
        .localCheckpoint(true)
      (aF.get(), bEager)
    }
    // ONE action for the equality bit (round-16 fusion): a count of
    // the UNION of both exceptAll branches equals the sum of their
    // counts (union is bag semantics), halving the driver jobs here
    val diff = a.exceptAll(b).union(b.exceptAll(a)).count()
    a.withColumn("probes_equal", lit(if (diff == 0) 1L else 0L))
      .orderBy("doc_id")
  }

  /** Oracle for [[bandIndexCompact]]: q159's round-1/round-2 CTE chain
    * — the round-2 admissions ARE the probe result over the compacted
    * index (compaction is a row copy, so the candidate set is
    * identical by construction; the Spark side EXECUTES both probes
    * and reports the comparison) — plus the equality bit the oracle
    * states as 1, which is the assertion that the fold is lossless.
    */
  def bandIndexCompactSql: String = {
    val base = incrementalDedupLoopSql
    val tail =
      """SELECT CAST(1 AS BIGINT) AS batch_round, doc_id, dup_of, jaccard
        |FROM r1
        |UNION ALL
        |SELECT CAST(2 AS BIGINT) AS batch_round, doc_id, dup_of, jaccard
        |FROM r2
        |ORDER BY batch_round, doc_id""".stripMargin
    require(base.endsWith(tail),
      "q159 oracle tail changed - update bandIndexCompactSql's splice")
    base.dropRight(tail.length) +
      """SELECT doc_id, dup_of, jaccard,
        |  CAST(1 AS BIGINT) AS probes_equal
        |FROM r2
        |ORDER BY doc_id""".stripMargin
  }

  /** Build (or reuse) the persisted corpus band index: the even-doc_id
    * half's (doc_id, band_idx, band_key) rows as parquet under
    * /tmp/graft_index, keyed through [[Tables.freshStagedDir]] on the
    * documents parquet files + the LSH dials.
    */
  private def corpusBandIndex(spark: SparkSession, sfDir: String): String =
    Tables.freshStagedDir(spark, Tables.Index.dir("bands_", sfDir),
      Seq(s"$sfDir/documents.parquet"),
      s"$NumHashes#$Bands#$RowsPerBand", Seq("bands/_SUCCESS")) { dir =>
      bandedFromSigs(
        minhashSignaturesRaw(spark, sfDir)
          .filter(pmod(col("doc_id"), lit(2)) === 0)
          .repartition(col("doc_id")))
        .write.parquet(dir + "/bands")
    } + "/bands"

  /** DuckDB oracle for [[incrementalDedup]]: the banded CTE prefix with
    * candidates restricted to (incoming odd) × (corpus even), exact
    * Jaccard by shingle-row join, best match per incoming doc.
    */
  def incrementalDedupSql: String =
    s"""@BANDED@,
       |cands AS MATERIALIZED (
       |  SELECT DISTINCT i.doc_id, c.doc_id AS corpus_id
       |  FROM banded i JOIN banded c
       |    ON i.band_idx = c.band_idx AND i.band_key = c.band_key
       |   AND i.doc_id % 2 = 1 AND c.doc_id % 2 = 0),
       |@DOCSH@,
       |inter AS (
       |  SELECT c.doc_id, c.corpus_id,
       |    len(list_intersect(a.sh, b.sh)) AS n_inter
       |  FROM cands c
       |  JOIN docsh a ON a.doc_id = c.doc_id
       |  JOIN docsh b ON b.doc_id = c.corpus_id),
       |scored AS (
       |  SELECT i.doc_id, i.corpus_id,
       |    CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter) AS jaccard
       |  FROM inter i
       |  JOIN sizes sa ON sa.doc_id = i.doc_id
       |  JOIN sizes sb ON sb.doc_id = i.corpus_id
       |  WHERE CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter)
       |          >= $JaccardThreshold),
       |best AS (
       |  SELECT doc_id, corpus_id AS dup_of, jaccard,
       |    row_number() OVER (PARTITION BY doc_id
       |      ORDER BY jaccard DESC, corpus_id ASC) AS rn
       |  FROM scored)
       |SELECT doc_id, dup_of, jaccard FROM best WHERE rn = 1
       |ORDER BY doc_id""".stripMargin
      .replace("@BANDED@", lshBandedCte)
      .replace("@DOCSH@", docShingleSetsCte)

  /** LSH candidate pairs with both docs' distinct shingle sets attached
    * (shared tail of the Jaccard / containment scorers).
    */
  private def shingleScoredCandidates(spark: SparkSession, sfDir: String,
      maxBucketSize: Option[Int]): DataFrame = {
    // The repartition is a deliberate plan barrier: it materializes each
    // signature exactly once before banding. Without it, project
    // collapsing + filter pushdown inline the (expensive) minhash
    // computation into every band expression — observed 5x recompute.
    // posexplode_outer (not posexplode) avoids the generator's implicit
    // `size(bands) > 0` filter, which would likewise re-evaluate the
    // bands under the scan. Bands are always non-empty, so semantics
    // are identical.
    val sigs = minhashSignaturesRaw(spark, sfDir)
      .repartition(col("doc_id"))
    val banded = bandedFromSigs(sigs)
      .transform(capBuckets(maxBucketSize))
    val cands = banded.as("a")
      .join(banded.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_key") === col("b.band_key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val sh = Tables.spread(Tables.documents(spark, sfDir)).select(
      col("doc_id"),
      array_distinct(graft.functions.word_shingles(col("text"))).as("sh"))
    cands
      .join(sh.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("sh", "sh_a"), "doc_a")
      .join(sh.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("sh", "sh_b"), "doc_b")
  }

  /** (doc_id, band_idx, band_key) rows from a signature frame — the LSH
    * banding shared by the batch pair-finder and the incremental index.
    * posexplode_outer (not posexplode) avoids the generator's implicit
    * `size(bands) > 0` filter re-evaluating the bands under the scan.
    */
  private[operators] def bandedFromSigs(sigs: DataFrame): DataFrame =
    sigs.select(
        col("doc_id"),
        expr(
          s"""transform(sequence(0, ${Bands - 1}), b ->
             |  md5(CAST(concat_ws(',', CAST(b AS STRING),
             |    CAST(try_element_at(minhash, b * $RowsPerBand + 1) AS STRING),
             |    CAST(try_element_at(minhash, b * $RowsPerBand + 2) AS STRING),
             |    CAST(try_element_at(minhash, b * $RowsPerBand + 3) AS STRING),
             |    CAST(try_element_at(minhash, b * $RowsPerBand + 4) AS STRING)) AS BINARY)))""".stripMargin)
          .as("bands"))
      .select(col("doc_id"),
        posexplode_outer(col("bands")).as(Seq("band_idx", "band_key")))

  /** Drop band buckets holding more than `cap` docs (the LSH mega-bucket
    * guard). One count-over-bucket window — partitioned by the band key,
    * so no global funnel; the count shuffle is on the same key the
    * candidate self-join shuffles on anyway.
    */
  private def capBuckets(cap: Option[Int])(banded: DataFrame): DataFrame =
    cap.fold(banded) { c =>
      val w = Window.partitionBy("band_idx", "band_key")
      banded.withColumn("_bucket_n", count(lit(1)).over(w))
        .filter(col("_bucket_n") <= c)
        .drop("_bucket_n")
    }

  val MaxEditDist = 8 // edit distance up to which two names match

  /** Fuzzy record linkage on part names: blocked edit-distance join.
    * Candidate pairs only form inside a (brand, size) block — the
    * record-linkage blocking that keeps the pair count linear-ish — and
    * a cheap length-difference prefilter runs BEFORE levenshtein (an
    * edit distance is always >= the length gap, so the filter is
    * lossless and the O(m·n) DP only runs on survivors). All-integer
    * comparison: identical in every engine.
    */
  def fuzzyNameMatch(spark: SparkSession, sfDir: String): DataFrame = {
    val p = Tables.part(spark, sfDir)
      .select(col("p_partkey"), col("p_brand"), col("p_size"), col("p_name"))
    val a = p.toDF("part_a", "brand", "size", "name_a")
    val b = p.toDF("part_b", "brand", "size", "name_b")
    a.join(b, Seq("brand", "size"))
      .filter(col("part_a") < col("part_b"))
      .filter(abs(length(col("name_a")) - length(col("name_b"))) <= MaxEditDist)
      .withColumn("lev", levenshtein(col("name_a"), col("name_b")))
      .filter(col("lev") <= MaxEditDist)
      .select("part_a", "part_b", "name_a", "name_b", "lev")
      .orderBy("part_a", "part_b")
  }

  def fuzzyNameMatchSql: String =
    s"""SELECT a.p_partkey AS part_a, b.p_partkey AS part_b,
       |  a.p_name AS name_a, b.p_name AS name_b,
       |  CAST(levenshtein(a.p_name, b.p_name) AS INT) AS lev
       |FROM part a JOIN part b
       |  ON a.p_brand = b.p_brand AND a.p_size = b.p_size
       | AND a.p_partkey < b.p_partkey
       | AND abs(length(a.p_name) - length(b.p_name)) <= $MaxEditDist
       |WHERE levenshtein(a.p_name, b.p_name) <= $MaxEditDist
       |ORDER BY part_a, part_b""".stripMargin

  /** Duplicate-cluster resolution — the step AFTER near-dup pair mining
    * in a real dedup pipeline: connected components over the pair graph,
    * labeling every clustered doc with its component's minimum doc_id
    * (the canonical survivor). Min-label propagation to fixpoint:
    * each round every node takes the min label over itself and its
    * neighbors; near-dup components are dense (quasi-cliques), so
    * convergence is 2-3 rounds, each round two key-equi shuffles over
    * the EDGE list only (never the corpus). `localCheckpoint` truncates
    * the iterative lineage. At web scale the same loop carries to the
    * large-star/small-star formulation; the driver only sees one count
    * per round (the convergence check).
    */
  /** Min-label connected components over an UNDIRECTED edge list
    * (`s`/`d` columns, both directions present) — Shiloach-Vishkin-
    * style HOOK + POINTER-JUMP, O(log n) rounds: each round every node
    * takes min(own label, neighbors' labels, label-of-its-label) AND
    * every edge hooks min(lbl(s), lbl(d)) onto the ROOT lbl(s) — the
    * root update is what merges whole trees per round. Dense near-dup
    * quasi-cliques (q60/q194) converge in 2-3 rounds under plain
    * neighbor-min, but SPARSE graphs like q204's mutual-kNN edges
    * (degree ≤ k, long chains) crawl one hop per round without the
    * hook: at sf0.01 the plain loop was still moving at round 22.
    * Returns (node, lbl) with lbl = the component's minimum node id.
    *
    * Each round is four key-equi shuffles over the EDGE list / label
    * table only (never the corpus). The eager `localCheckpoint`
    * truncates lineage, and the REBUILD-FROM-RDD barrier after it cuts
    * Catalyst's ORIGIN-PLAN STATISTICS, which a checkpoint preserves:
    * the label-on-label join otherwise SQUARES the estimated
    * sizeInBytes every round (measured: 270 bits -> 1.4e8 bits by
    * round 20, with the driver grinding BigInteger products — the
    * round-12 q204 stall). The barrier costs one row conversion over
    * the node-count-sized table per round and keeps the estimate at
    * the default constant.
    */
  private[graft] def propagateMinLabels(und: DataFrame,
      maxIters: Int): DataFrame = {
    val spark = und.sparkSession
    def barrier(df: DataFrame): DataFrame =
      spark.createDataFrame(df.localCheckpoint(true).rdd, df.schema)
    // initialize at round-1's fixpoint directly: with identity labels,
    // msgs/hooks/jump reduce to lbl0 = min(node, min neighbor) — one
    // agg instead of the first round's three joins + convergence count
    var labels = barrier(und.groupBy("s")
      .agg(least(col("s"), min(col("d"))).as("lbl"))
      .select(col("s").as("node"), col("lbl")))
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIters) {
      // neighbor-min: d learns lbl(s) (und is symmetric, covers both)
      val msgs = und.join(labels, und("s") === labels("node"))
        .select(col("d").as("node"), col("lbl"))
      // hook: the edge's smaller root absorbs the other side's root
      val hooks = und
        .join(labels.select(col("node").as("s"), col("lbl").as("ls")), "s")
        .join(labels.select(col("node").as("d"), col("lbl").as("ld")), "d")
        .select(col("ls").as("node"), least(col("ls"), col("ld")).as("lbl"))
      // pointer jump: v adopts its label's label
      val jumped = labels.select(col("node"), col("lbl").as("mid"))
        .join(labels.select(col("node").as("mid"), col("lbl").as("lbl2")),
          "mid")
        .select(col("node"), col("lbl2").as("lbl"))
      // carry lbl_old through the barrier so the convergence count is
      // a filter over the checkpointed frame, not a fresh join DAG
      val updated = barrier(
        labels.union(msgs).union(hooks).union(jumped).groupBy("node")
          .agg(min("lbl").as("lbl"))
          .join(labels.select(col("node"), col("lbl").as("lbl_old")),
            "node"))
      changed = updated.filter(col("lbl") =!= col("lbl_old")).count()
      labels = updated.select("node", "lbl")
      iter += 1
    }
    require(changed == 0,
      s"propagateMinLabels did not converge in $maxIters rounds - " +
        "raise maxIters (hook + jump converge in O(log n))")
    labels
  }

  val ClosureMaxIters = 25 // label-propagation rounds, at most

  def dedupClusters(spark: SparkSession, sfDir: String): DataFrame = {
    val edges = neardupPairs(spark, sfDir)
      .select("doc_a", "doc_b")
    val und = edges.select(col("doc_a").as("s"), col("doc_b").as("d"))
      .union(edges.select(col("doc_b").as("s"), col("doc_a").as("d")))
      .localCheckpoint(true)
    val labels = propagateMinLabels(und, ClosureMaxIters)
    val sizes = labels.groupBy("lbl").agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, "lbl")
      .select(col("node").as("doc_id"), col("lbl").as("cluster_id"),
        col("cluster_size"),
        when(col("node") === col("lbl"), lit(1)).otherwise(lit(0))
          .as("is_canonical"))
      .orderBy("doc_id")
  }

  /** Oracle: transitive closure by recursive CTE (tractable at oracle
    * scale), min reachable id per node.
    */
  def dedupClustersSql: String =
    // stripMargin runs on the template BEFORE substituting the inner
    // query: the pairs SQL contains lines starting with '||', which an
    // outer stripMargin would truncate to '|'
    // AS MATERIALIZED is load-bearing: DuckDB inlines CTEs by default,
    // so without it the recursive fixpoint re-evaluates the whole
    // MinHash/banding/Jaccard pipeline on EVERY iteration (observed:
    // ~1 CPU-hour at sf0.1 vs seconds materialized)
    s"""WITH RECURSIVE np AS MATERIALIZED (
       |  SELECT doc_a, doc_b FROM (@PAIRS@) pairs),
       |und AS MATERIALIZED (
       |  SELECT doc_a AS s, doc_b AS d FROM np
       |  UNION ALL
       |  SELECT doc_b AS s, doc_a AS d FROM np),
       |reach(s, d) AS (
       |  SELECT s, d FROM und
       |  UNION
       |  SELECT r.s, u.d FROM reach r JOIN und u ON r.d = u.s),
       |lbl AS (
       |  SELECT s AS node, LEAST(s, MIN(d)) AS cluster_id
       |  FROM reach GROUP BY s),
       |sizes AS (
       |  SELECT cluster_id, COUNT(*) AS cluster_size
       |  FROM lbl GROUP BY cluster_id)
       |SELECT l.node AS doc_id, l.cluster_id, s.cluster_size,
       |  CASE WHEN l.node = l.cluster_id THEN 1 ELSE 0 END AS is_canonical
       |FROM lbl l JOIN sizes s USING (cluster_id)
       |ORDER BY doc_id""".stripMargin
      .replace("@PAIRS@", neardupPairsSql)

  /** q194 — KEEP-BEST dedup: the curation policy layer on top of the
    * q60 cluster resolution. Production dedup does not keep "the
    * minimum doc_id" — it keeps the HIGHEST-QUALITY member of each
    * near-dup cluster (longest / cleanest / best-scored copy) and
    * discards the rest. Here each cluster's survivor is the member
    * with the most q83 quality gates passed (0–4), ties to the lowest
    * doc_id — one struct-max aggregate per cluster (`max(struct(score,
    * -doc_id))`), never a per-cluster sort or collect. Output is the
    * per-cluster decision record: survivor, its score, cluster size,
    * and how many copies were discarded.
    *
    * Scale shape: cluster resolution is q60's label propagation over
    * the EDGE list; the policy layer adds one doc-grain score scan and
    * one cluster-grain struct-max — both map-side-combining.
    */
  def keepBestDedup(spark: SparkSession, sfDir: String): DataFrame =
    dedupClusters(spark, sfDir)
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"))
      .join(Corpus.docGateScores(spark, sfDir), Seq("doc_id"))
      .groupBy("cluster_id")
      .agg(max(struct(col("score"), (-col("doc_id")).as("nid"))).as("m"),
        max(col("cluster_size")).cast("long").as("cluster_size"))
      .select(col("cluster_id"),
        (-col("m.nid")).as("keep_doc_id"),
        col("m.score").as("keep_score"),
        col("cluster_size"),
        (col("cluster_size") - 1).as("n_discarded"))
      .orderBy("cluster_id")

  /** Oracle for [[keepBestDedup]]: the q60 transitive-closure clusters
    * + the q83 gate score at doc grain + the same (score, −doc_id)
    * argmax restated as a window rank.
    */
  def keepBestDedupSql: String =
    s"""WITH RECURSIVE np AS MATERIALIZED (
       |  SELECT doc_a, doc_b FROM (@PAIRS@) pairs),
       |und AS MATERIALIZED (
       |  SELECT doc_a AS s, doc_b AS d FROM np
       |  UNION ALL
       |  SELECT doc_b AS s, doc_a AS d FROM np),
       |reach(s, d) AS (
       |  SELECT s, d FROM und
       |  UNION
       |  SELECT r.s, u.d FROM reach r JOIN und u ON r.d = u.s),
       |lbl AS (
       |  SELECT s AS node, LEAST(s, MIN(d)) AS cluster_id
       |  FROM reach GROUP BY s),
       |sizes AS (
       |  SELECT cluster_id, COUNT(*) AS cluster_size
       |  FROM lbl GROUP BY cluster_id),
       |scores AS MATERIALIZED (@SCORES@),
       |ranked AS (
       |  SELECT l.cluster_id, l.node AS doc_id, sc.score, s.cluster_size,
       |    row_number() OVER (PARTITION BY l.cluster_id
       |                       ORDER BY sc.score DESC, l.node ASC) AS rk
       |  FROM lbl l
       |  JOIN scores sc ON sc.doc_id = l.node
       |  JOIN sizes s USING (cluster_id))
       |SELECT cluster_id, doc_id AS keep_doc_id,
       |  CAST(score AS BIGINT) AS keep_score,
       |  CAST(cluster_size AS BIGINT) AS cluster_size,
       |  CAST(cluster_size - 1 AS BIGINT) AS n_discarded
       |FROM ranked WHERE rk = 1
       |ORDER BY cluster_id""".stripMargin
      .replace("@PAIRS@", neardupPairsSql)
      .replace("@SCORES@", Corpus.docGateScoresSql)

  /** Shared CTE prefix of the LSH-candidate oracles, row-based for the
    * same sf1-budget reason as [[minhashSignaturesSql]] (the list-lambda
    * form re-ran the shingle tree 16× per doc and timed out at sf1):
    * distinct shingles unnested once → vectorized minhash → bands →
    * deduped candidate pairs → intersection sizes BY JOIN on the shared
    * shingle rows (`inter` only holds pairs with ≥1 common shingle —
    * lossless under any positive score threshold) → per-doc set sizes.
    * Jaccard = inter/(na+nb-inter), overlap = inter/least(na,nb); both
    * tails divide the same integers the list formulation divided, so
    * the doubles are bit-identical.
    */
  private[operators] def lshBandedCte: String =
    s"""WITH sh_rows AS MATERIALIZED (
       |  SELECT doc_id, unnest(list_distinct($shinglesExprDuck)) AS s
       |  FROM documents),
       |mh AS (
       |  SELECT doc_id, j,
       |    min(CAST(('0x' || substr(md5(j || '|' || s), 1, 15)) AS BIGINT)) AS mh
       |  FROM sh_rows, (SELECT unnest(range(0, $NumHashes)) AS j) js
       |  GROUP BY doc_id, j),
       |sigs AS (
       |  SELECT doc_id, list(mh ORDER BY j) AS minhash FROM mh GROUP BY doc_id),
       |banded AS (
       |  SELECT doc_id, b.band_idx,
       |    md5(band_idx || ',' || minhash[band_idx * $RowsPerBand + 1]
       |      || ',' || minhash[band_idx * $RowsPerBand + 2]
       |      || ',' || minhash[band_idx * $RowsPerBand + 3]
       |      || ',' || minhash[band_idx * $RowsPerBand + 4]) AS band_key
       |  FROM sigs, (SELECT UNNEST(range(0, $Bands)) AS band_idx) b)"""
      .stripMargin

  /** Doc-grain shingle sets + per-pair verification CTEs (round 12):
    * the (doc, shingle)-grain `JOIN ... ON b.s = a.s` intersection was
    * the hour-scale term at sf1 on near-dup-dense corpora (each of the
    * shingle-family oracles paid |cands|·|shingles| join rows); the
    * q185 idiom — one materialized shingle LIST per doc, then
    * `list_intersect` per candidate pair — pays |cands|·(|A|+|B|) set
    * ops instead, and mirrors exactly what the Spark side computes
    * (array_intersect on per-doc arrays). `docsh` regroups the SAME
    * sh_rows the minhash uses, so shingle extraction still runs once.
    * Old `inter` held only pairs with ≥1 common shingle; the doc-grain
    * form holds every candidate pair with its exact (possibly 0)
    * intersection — identical under any positive score threshold.
    */
  private[operators] def docShingleSetsCte: String =
    s"""docsh AS MATERIALIZED (
       |  SELECT doc_id, list(s) AS sh, count(*) AS n
       |  FROM sh_rows GROUP BY doc_id),
       |sizes AS (SELECT doc_id, n FROM docsh)""".stripMargin

  private def lshCandidatesCte: String =
    s"""@BANDED@,
       |cands AS MATERIALIZED (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM banded a JOIN banded b
       |    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
       |   AND a.doc_id < b.doc_id),
       |@DOCSH@,
       |inter AS (
       |  SELECT c.doc_a, c.doc_b,
       |    len(list_intersect(a.sh, b.sh)) AS n_inter
       |  FROM cands c
       |  JOIN docsh a ON a.doc_id = c.doc_a
       |  JOIN docsh b ON b.doc_id = c.doc_b)""".stripMargin
      .replace("@BANDED@", lshBandedCte)
      .replace("@DOCSH@", docShingleSetsCte)

  // NOTE: the CTE is spliced AFTER stripMargin (placeholder pattern) —
  // its '||' continuation lines would be truncated to '|' if the outer
  // template stripped margins post-interpolation.
  def neardupPairsSql: String =
    s"""@CTE@
       |SELECT doc_a, doc_b,
       |  CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter) AS jaccard
       |FROM inter
       |JOIN sizes sa ON sa.doc_id = doc_a
       |JOIN sizes sb ON sb.doc_id = doc_b
       |WHERE CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter) >= $JaccardThreshold
       |ORDER BY doc_a, doc_b""".stripMargin
      .replace("@CTE@", lshCandidatesCte)

  def containmentPairsSql: String =
    s"""@CTE@
       |SELECT doc_a, doc_b,
       |  CAST(n_inter AS DOUBLE) / least(sa.n, sb.n) AS overlap
       |FROM inter
       |JOIN sizes sa ON sa.doc_id = doc_a
       |JOIN sizes sb ON sb.doc_id = doc_b
       |WHERE CAST(n_inter AS DOUBLE) / least(sa.n, sb.n) >= $ContainmentThreshold
       |ORDER BY doc_a, doc_b""".stripMargin
      .replace("@CTE@", lshCandidatesCte)

  val NgramThreshold = 0.8 // exact n-gram Jaccard of a pair (q33)

  /** Standalone n-gram Jaccard near-dup detection (no banded MinHash):
    * single-minhash blocking — two docs are candidates iff they share
    * the same minimum shingle hash (h_0, the first MinHash function;
    * P(same block) == Jaccard, so recall ~= threshold) — then exact
    * Jaccard over the distinct 3-shingle md5-60 hash sets within each
    * block. Complements the banded path: one block key instead of four
    * band keys, the classic precision/recall trade.
    *
    * Scale shape (rebuilt round 13 after the sf3 sweep caught the old
    * plan serializing): candidate pairs are formed IDS-ONLY from a
    * (doc_id, block) frame, then scored at PAIR grain through two
    * doc_id-keyed joins against the sorted md5-60 hash arrays
    * ([[graft.functions.shingle_hashes]]) — so scoring parallelism
    * follows the pair volume, never the block-size distribution, and
    * the intersect runs on longs, not strings. The old shape (string
    * shingle arrays attached BEFORE the block self-join) computed
    * every intersect inside the block's own partition: one hot block
    * = one task doing interpreted UTF8 set-intersects — measured 45+
    * minutes single-threaded at sf3 (18.7M pairs, top block 1272
    * docs) vs seconds spread. Same rows and jaccard values as the old
    * string-set plan MODULO 60-bit fingerprint collisions between
    * distinct shingles (odds ~pairs·2⁻⁶⁰ — negligible, not zero);
    * cross-ENGINE equality is exact by construction, since Spark and
    * DuckDB compute identical md5-60 values on both sides.
    */
  def ngramJaccardPairs(spark: SparkSession, sfDir: String,
      blockLocalCeiling: Long = 512L,
      maxScoredPairs: Long = 64L * 1000 * 1000): DataFrame = {
    // one fused scan computes block + hash set, materialized ONCE
    // (eager checkpoint = the generator barrier AND the reuse point
    // for the cardinality probe + both scoring plans)
    val base = Tables.spread(Tables.documents(spark, sfDir))
      .select(
        col("doc_id"),
        element_at(graft.functions.minhash_sig(col("text"), 1), 1).as("block"),
        graft.functions.shingle_hashes(col("text")).as("sh"))
      .localCheckpoint(true)
    // CARDINALITY-ADAPTIVE scoring: the round-13 doc-grain rework fixed
    // the one-hot-block single task at sf3 but costs two extra
    // doc_id-keyed joins every run (+0.68 s at sf0.1, where the max
    // block is tiny). The probe below MEASURES the max block size over
    // the checkpointed blocks (metadata-cheap — no text work re-runs);
    // when it is provably small, per-block work is bounded by
    // ceiling²/2 long-array intersects and the block-local plan cannot
    // serialize, so the two joins are pure waste. Above the ceiling
    // (the sf3 near-dup-dense regime: top block 1272 docs) the
    // doc-grain plan spreads scoring with pair volume. Same rows and
    // values either way (PlanSpec pins the flip + equality).
    // the same metadata-cheap agg also measures the TOTAL pair volume
    // Σ n·(n−1)/2 the block self-join will emit — the q185 guard
    // transplanted (round-14 sf10 probe: the synthetic corpus densifies
    // with its replication factor, and at 100× the unguarded volume
    // filled 78 GB of sort spill before any result; real corpora don't
    // densify with scale). Measured volumes: sf0.1 10,954, sf1
    // 1,323,932, sf3 18,703,894, sf10 269,130,714 pairs — the 64M
    // default clears the densest intended corpus ~3.4× and refuses the
    // quadratic regime LOUDLY, with the dial in the message
    // (`graft.devtools.Soak jaccard` is the escape hatch run).
    val blockStats = base.groupBy("block").agg(count(lit(1)).as("n"))
      .agg(coalesce(max("n"), lit(0L)),
        coalesce(sum(expr("n * (n - 1) div 2")), lit(0L))).head()
    val maxBlock = blockStats.getLong(0)
    val nPairs = blockStats.getLong(1)
    System.err.println(s"jaccard-pair-volume: $nPairs")
    require(nPairs <= maxScoredPairs,
      f"ngramJaccard pair blowup: the block partition would score " +
        f"$nPairs%d candidate pairs (> $maxScoredPairs%d) — the corpus " +
        "is too near-dup-dense for single-key blocking at this scale; " +
        "pre-shard the corpus, tighten the block key, or raise " +
        "maxScoredPairs deliberately")
    val scored =
      if (maxBlock <= blockLocalCeiling) {
        base.as("a").join(base.as("b"),
            col("a.block") === col("b.block") &&
              col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
            col("a.sh").as("sh_a"), col("b.sh").as("sh_b"))
      } else {
        val ids = base.select(col("doc_id"), col("block"))
        val pairs = ids.as("a").join(ids.as("b"),
            col("a.block") === col("b.block") &&
              col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        val sh = base.select(col("doc_id"), col("sh"))
        pairs
          .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")),
            Seq("doc_a"))
          .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")),
            Seq("doc_b"))
      }
    scored
      // merge-walk count (round-15): sh comes from shingle_hashes
      // (sorted distinct longs), so sorted_intersect_count is
      // value-identical to size(array_intersect) at ~1/10 the per-pair
      // cost — and the jaccard threshold Catalyst pushes into the join
      // condition re-evaluates a cheap walk, not a hash-set build
      .withColumn("n_inter",
        graft.functions.sorted_intersect_count(col("sh_a"), col("sh_b")))
      .withColumn("jaccard", col("n_inter").cast("double") /
        (size(col("sh_a")).cast("long") + size(col("sh_b")).cast("long")
          - col("n_inter")))
      .filter(col("jaccard") >= NgramThreshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  def ngramJaccardPairsSql: String =
    s"""WITH base AS MATERIALIZED (
       |  SELECT doc_id, $shinglesExprDuck AS shl FROM documents),
       |sh AS MATERIALIZED (
       |  SELECT doc_id,
       |    list_min(list_transform(shl,
       |      s -> CAST(('0x' || substr(md5('0|' || s), 1, 15)) AS BIGINT)))
       |      AS block,
       |    list_distinct(list_transform(shl,
       |      s -> CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT))) AS sh
       |  FROM base)
       |SELECT doc_a, doc_b, jaccard FROM (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
       |      / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
       |      AS jaccard
       |  FROM sh a JOIN sh b
       |    ON a.block = b.block AND a.doc_id < b.doc_id) t
       |WHERE jaccard >= $NgramThreshold
       |ORDER BY doc_a, doc_b""".stripMargin

  /** 60-bit SimHash over whitespace tokens: per bit i, sum +-1 votes of
    * each token-hash's bit i; bit set iff the vote is positive. One
    * map-side pass (token hashes computed once per doc).
    */
  def simhash(spark: SparkSession, sfDir: String): DataFrame =
    simhashRaw(spark, sfDir).orderBy("doc_id")

  def simhashRaw(spark: SparkSession, sfDir: String): DataFrame =
    Tables.spread(Tables.documents(spark, sfDir))
      .select(
        col("doc_id"),
        graft.functions.simhash60(col("text")).as("simhash"))

  /** Shared simhash CTE block (round 12, row-based): the old
    * list-lambda form re-ran md5 over every token once PER BIT (60×
    * per token — an hour-scale term at sf1); here each token
    * occurrence is hashed once and the per-(doc, bit) votes aggregate
    * over plain rows (the round-7 vectorize-by-rows lesson). Ends with
    * a `sh(doc_id, simhash)` CTE, same values bit-for-bit.
    */
  private[operators] val simhashCteDuck: String =
    """th AS MATERIALIZED (
      |  SELECT doc_id,
      |    CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT) AS h
      |  FROM (SELECT doc_id,
      |          unnest(string_split_regex(lower(trim(text)), '\s+')) AS t
      |        FROM documents)),
      |bits AS (
      |  SELECT doc_id, ti.i,
      |    SUM(CASE WHEN (h >> ti.i) & 1 = 1 THEN 1 ELSE -1 END) AS v
      |  FROM th, (SELECT UNNEST(range(0, 60)) AS i) ti
      |  GROUP BY doc_id, ti.i),
      |sh AS (
      |  SELECT doc_id,
      |    CAST(SUM(CASE WHEN v > 0 THEN CAST(1 AS BIGINT) << i
      |             ELSE 0 END) AS BIGINT) AS simhash
      |  FROM bits GROUP BY doc_id)""".stripMargin

  val simhashSql: String =
    s"""WITH $simhashCteDuck
       |SELECT doc_id, simhash FROM sh
       |ORDER BY doc_id""".stripMargin

  val MaxHamming = 6 // SimHash Hamming distance up to which two documents pair

  /** SimHash near-dup pairs: LSH on 4 bands of 15 bits (two near-dups
    * must agree exactly on at least one band), verified by Hamming
    * distance <= maxHamming. Same shuffle shape as MinHash LSH.
    */
  def simhashNeardup(spark: SparkSession, sfDir: String): DataFrame = {
    // same barrier + outer-explode pattern as neardupPairs (see there)
    val sh = simhashRaw(spark, sfDir).repartition(col("doc_id"))
    val banded = sh.select(col("doc_id"), col("simhash"),
        explode_outer(expr(
          """transform(sequence(0, 3),
            |  b -> concat(CAST(b AS STRING), ':',
            |    CAST((simhash >> (b * 15)) & 32767 AS STRING)))""".stripMargin))
          .as("band_key"))
    banded.as("a")
      .join(banded.as("b"),
        col("a.band_key") === col("b.band_key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        expr("bit_count(a.simhash ^ b.simhash)").as("hamming"))
      .distinct()
      .filter(col("hamming") <= MaxHamming)
      .orderBy("doc_a", "doc_b")
  }

  def simhashNeardupSql: String =
    s"""WITH @SIMHASH@,
       |banded AS (
       |  SELECT doc_id, simhash,
       |    b || ':' || ((simhash >> (b * 15)) & 32767) AS band_key
       |  FROM sh, (SELECT UNNEST(range(0, 4)) AS b))
       |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  CAST(bit_count(CAST(xor(a.simhash, b.simhash) AS BIGINT)) AS INT) AS hamming
       |FROM banded a JOIN banded b
       |  ON a.band_key = b.band_key AND a.doc_id < b.doc_id
       |WHERE bit_count(CAST(xor(a.simhash, b.simhash) AS BIGINT)) <= $MaxHamming
       |ORDER BY doc_a, doc_b""".stripMargin
      .replace("@SIMHASH@", simhashCteDuck)

  val TauNum = 3 // all-pairs Jaccard threshold, numerator
  val TauDen = 5 // ...and denominator (tau = 3/5)

  /** q185 — EXACT all-pairs set-similarity join with PREFIX FILTERING
    * (Chaudhuri/Bayardo/Xiao's SSJoin/AllPairs/PPJoin family): every
    * document pair whose distinct-3-shingle Jaccard is ≥ τ, with NO
    * recall loss — the exactness LSH banding (q16) trades away.
    * The prefix-filtering lemma does the pruning: order each doc's
    * shingles by global rarity (df asc, shingle asc); if two sets
    * intersect in ≥ α elements, their (|x| − α + 1)-prefixes under any
    * common total order must share an element. J ≥ τ implies overlap
    * ≥ ⌈τ·|x|⌉ for BOTH sets, so indexing only each doc's first
    * |x| − ⌈τ·|x|⌉ + 1 rarest shingles generates every qualifying pair
    * (DedupSpec proves equality with the unpruned join on real data:
    * at τ = 0.6 the prefix index emits ~165 candidates where the naive
    * any-shared-shingle join emits ~125k). ⌈τ·|x|⌉ is computed as the
    * exact integer (τn·sz + τd − 1) div τd — no float boundary hazard —
    * and the admission predicate (τn+τd)·o ≥ τn·(|A|+|B|) is pure
    * integer arithmetic.
    *
    * Scale shape: the candidate exchange carries (doc_a, doc_b) ids
    * only, keyed by prefix shingles — rare by construction, so no
    * "the"-sized posting explodes the join; verification joins the
    * candidates to per-doc SORTED HASH ARRAYS at doc grain (one row
    * per doc, not per shingle — a near-dup-heavy corpus makes the
    * candidate set large, and a (doc, shingle)-grain verify join would
    * re-explode every pair by its set size) and counts the overlap
    * with one codegen'd array_intersect per pair. Shingles travel as
    * portable 60-bit md5 hashes via the NATIVE [[graft.functions]]
    * expression (20-30× over the SQL HOF tree — the round-6 lesson):
    * every exchange, window, and join carries 8-byte keys, and both
    * engines hash identically so a (~n²/2⁶¹) collision cannot split
    * them. The shingle frame is eagerly checkpointed once (it feeds
    * sizes, df, prefix, and the array fold).
    */
  def allPairsJaccard(spark: SparkSession, sfDir: String,
      tauNum: Int = TauNum, tauDen: Int = TauDen): DataFrame =
    allPairsJaccardOn(
      Tables.spread(Tables.documents(spark, sfDir)),
      tauNum, tauDen)

  /** [[allPairsJaccard]] over an explicit corpus frame, with the
    * CANDIDATE-VOLUME GUARD (round-10 verdict ask): the prefix filter's
    * candidate count is data-dependent — a regenerated corpus dense in
    * near-duplicates degrades toward quadratic SILENTLY — so the
    * candidate set is counted at its natural checkpoint barrier and the
    * query FAILS LOUDLY (with the measured per-doc rate in the message)
    * once it exceeds `maxCandPerDoc` pairs per document. Measured
    * length-filtered rates: sf0.01 0.2/doc, sf0.1 ~39/doc, and the sf1
    * soak corpus — DELIBERATELY near-dup-dense (9 perturbed copies per
    * doc, make_sfN.py) — ~397/doc; the 1024 default clears the densest
    * intended corpus ~2.5× while still flagging genuine quadratic
    * degeneracy (an identical-doc corpus measures ~n/2 per doc) long
    * before the verify join explodes.
    */
  def allPairsJaccardOn(docs: DataFrame, tauNum: Int = TauNum,
      tauDen: Int = TauDen, maxCandPerDoc: Long = 1024): DataFrame = {
    // ONE fused kernel per doc (ShingleHashesExpr): tokens → shingles →
    // md5-60 → per-doc dedup + sort, all inside the scan — no string
    // explode, no per-shingle Column tree, no distinct exchange. The
    // checkpointed frame is one ARRAY row per doc; the posting view is
    // a free explode of it.
    val base = docs.select(col("doc_id"),
        graft.functions.shingle_hashes(col("text")).as("hs"))
      .localCheckpoint(true)
    val sets = base.select(col("doc_id"), col("hs"),
      size(col("hs")).cast("long").as("sz"))
    // Posting view with sz carried THROUGH the explode (round-15): the
    // old shape joined sz back at doc grain and computed df_t with a
    // separate aggregate + token-grain join — three exchanges and a
    // join of the 1.8M-row posting frame. df_t as an entire-partition
    // window count over t (identical values) and sz as a free explode
    // passenger collapse pref to exactly two exchanges (t, then
    // doc_id) with zero joins. pref is then CHECKPOINTED: both its
    // consumers (the early volume bound and the candidate self-join)
    // are separate actions that each re-executed the ~13 s-CPU chain.
    val tk = base.select(col("doc_id"),
      size(col("hs")).cast("long").as("sz"), explode(col("hs")).as("t"))
    val pref = tk
      .withColumn("df_t", count(lit(1)).over(Window.partitionBy("t")))
      .withColumn("pos", row_number().over(
        Window.partitionBy("doc_id").orderBy("df_t", "t")))
      .filter(col("pos") <=
        expr(s"sz - ((sz * $tauNum + ${tauDen - 1}) div $tauDen) + 1"))
      .select(col("doc_id"), col("t"), col("sz"))
      .localCheckpoint(true)
    // EARLY VOLUME BOUND (round-14 sf10 probe): the exact guard below
    // counts candidates only AFTER the prefix self-join materializes
    // them — at 100× the materialization itself is the blowup (the
    // probe spilled >45 GB before the count could run and had to be
    // killed). The prefix-token document frequencies upper-bound the
    // join's output without joining: Σ p_t·(p_t−1)/2 over per-token
    // prefix counts ≥ nCand (every candidate shares ≥1 prefix token;
    // multi-token repeats and length-filter rejects only make the
    // bound looser). Token-grain aggregate, no pair ever exists.
    // Measured bound/exact ratios: sf0.1 312,306/193,192 = 1.62×,
    // sf1 34.08M/19.85M = 1.72× — so factor 4 can never refuse a
    // corpus the exact guard admits (exact ≤ cap ⇒ bound ≲ 1.72×cap,
    // a 2.3× margin below 4×), while it DOES fire before the join on
    // the sf10 probe corpus (bound 2.83G = 5.5× the default
    // cap·nDocs; the exact count there, ~1.6G, is 3.3× over cap —
    // with a looser factor 8 the join ran anyway and filled the disk
    // before the post-join guard could count).
    val nDocs = base.count() // base is checkpointed: near-free
    val boundPairs = pref.groupBy("t").agg(count(lit(1)).as("p"))
      .agg(coalesce(sum(expr("p * (p - 1) div 2")), lit(0L)))
      .head().getLong(0)
    System.err.println(s"allpairs-cand-bound: $boundPairs")
    require(boundPairs <= math.max(1000L, 4L * maxCandPerDoc * nDocs),
      f"allPairsJaccard candidate blowup (early bound): the prefix " +
        f"tokens bound the candidate join at $boundPairs%d pairs over " +
        f"$nDocs%d docs (> 4×$maxCandPerDoc%d/doc) — refusing BEFORE " +
        "the join materializes; raise tau, pre-block the corpus, or " +
        "raise maxCandPerDoc deliberately")
    // LENGTH FILTER (the AllPairs/PPJoin companion bound): J >= tau
    // forces tau·|A| <= |B| <= |A|/tau, applied DURING pair generation
    // so size-mismatched pairs never reach the dedup exchange (~35% of
    // raw candidates on this corpus). Result-invariant: it only drops
    // pairs the verification would reject.
    val cand = pref.select(col("doc_id").as("doc_a"), col("t"),
        col("sz").as("za"))
      .join(pref.select(col("doc_id").as("doc_b"), col("t"),
        col("sz").as("zb")), Seq("t"))
      .filter(col("doc_a") < col("doc_b") &&
        col("za") * tauNum <= col("zb") * tauDen &&
        col("zb") * tauNum <= col("za") * tauDen)
      .select("doc_a", "doc_b").distinct()
      // the guard's count doubles as the verification stage's barrier:
      // the checkpoint materializes (doc_a, doc_b) id pairs once and the
      // array-intersect join below reads them back instead of replaying
      // the prefix self-join
      .localCheckpoint(true)
    val nCand = cand.count()
    System.err.println(s"allpairs-cand-exact: $nCand")
    require(nCand <= math.max(1000L, maxCandPerDoc * nDocs),
      f"allPairsJaccard candidate blowup: $nCand%d candidate pairs over " +
        f"$nDocs%d docs (${nCand.toDouble / math.max(nDocs, 1)}%.1f/doc > " +
        f"$maxCandPerDoc%d/doc) — the corpus is too near-dup-dense for " +
        "prefix filtering at this tau; raise tau, pre-block the corpus, " +
        "or raise maxCandPerDoc deliberately")
    // SPREAD the verify stage (round-15): cand's checkpoint inherits
    // AQE's coalesced post-distinct partitioning — at sf0.1 that is ONE
    // partition, so the whole intersect verify ran single-task on a
    // 32-core session (guide §2.5 straggler shape, measured: the two
    // tail stages were 1.4 s + 1.2 s serial). The repartition moves
    // only (doc_a, doc_b) id pairs; scoring parallelism then follows
    // pair volume (the round-13 q33 discipline).
    val candSpread = Tables.spread(cand)
    // verify: one merge-walk intersect count per pair
    // (sorted_intersect_count over ShingleHashesExpr's sorted distinct
    // arrays — value-identical to size(array_intersect), ~10x cheaper,
    // and cheap enough that Catalyst pushing the admission threshold
    // into the join condition no longer matters). The pair joins read
    // checkpoints, so no plan fact bounds them: the repartition gives
    // the result sort a stage AQE counts.
    candSpread
      .join(sets.select(col("doc_id").as("doc_a"), col("hs").as("ha"),
        col("sz").as("sz_a")), Seq("doc_a"))
      .join(sets.select(col("doc_id").as("doc_b"), col("hs").as("hb"),
        col("sz").as("sz_b")), Seq("doc_b"))
      .withColumn("o",
        graft.functions.sorted_intersect_count(col("ha"), col("hb")))
      .filter(col("o") * (tauNum + tauDen) >=
        lit(tauNum) * (col("sz_a") + col("sz_b")))
      .select(col("doc_a"), col("doc_b"), col("o"),
        col("sz_a"), col("sz_b"),
        expr("o * 1000000 div (sz_a + sz_b - o)").as("jaccard_ppm"))
      .repartition(col("doc_a"), col("doc_b"))
      .orderBy("doc_a", "doc_b")
  }

  /** Oracle for [[allPairsJaccard]]: the identical prefix index and
    * verification restated in SQL — same global order, same integer
    * prefix length, same integer admission predicate. (The pruning
    * lemma itself is proven against the UNPRUNED join in DedupSpec,
    * where the brute-force twin is affordable.)
    */
  def allPairsJaccardSql: String =
    s"""WITH tk AS (
       |  SELECT DISTINCT doc_id,
       |    CAST(('0x' || substr(md5(ts), 1, 15)) AS BIGINT) AS t
       |  FROM (SELECT doc_id, unnest(list_distinct($shinglesExprDuck)) AS ts
       |        FROM documents)),
       |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM tk GROUP BY 1),
       |df AS (SELECT t, COUNT(*) AS df_t FROM tk GROUP BY 1),
       |pref AS (
       |  SELECT doc_id, t FROM (
       |    SELECT k.doc_id, k.t, s.sz,
       |      row_number() OVER (PARTITION BY k.doc_id
       |                         ORDER BY d.df_t, k.t) AS pos
       |    FROM tk k JOIN df d ON k.t = d.t
       |    JOIN sizes s ON s.doc_id = k.doc_id) p
       |  WHERE pos <= sz - ((sz * $TauNum + ${TauDen - 1}) // $TauDen) + 1),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM pref a JOIN pref b
       |    ON a.t = b.t AND a.doc_id < b.doc_id),
       |inter AS (
       |  SELECT c.doc_a, c.doc_b, COUNT(*) AS o
       |  FROM cand c
       |  JOIN tk ta ON ta.doc_id = c.doc_a
       |  JOIN tk tb ON tb.doc_id = c.doc_b AND tb.t = ta.t
       |  GROUP BY 1, 2)
       |SELECT i.doc_a, i.doc_b, CAST(i.o AS BIGINT) AS o,
       |  CAST(sa.sz AS BIGINT) AS sz_a, CAST(sb.sz AS BIGINT) AS sz_b,
       |  CAST(i.o * 1000000 // (sa.sz + sb.sz - i.o) AS BIGINT)
       |    AS jaccard_ppm
       |FROM inter i
       |JOIN sizes sa ON sa.doc_id = i.doc_a
       |JOIN sizes sb ON sb.doc_id = i.doc_b
       |WHERE i.o * ${TauNum + TauDen} >= $TauNum * (sa.sz + sb.sz)
       |ORDER BY i.doc_a, i.doc_b""".stripMargin
}
