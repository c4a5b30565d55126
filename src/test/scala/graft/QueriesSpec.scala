package graft

/** Contract checks for the driver-facing query registry. */
class QueriesSpec extends SparkSpec {

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every registered query runs and returns rows on sf0.001") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, sf0001).count()
      assert(n > 0, s"$name returned no rows")
    }
  }

  test("every registered name appears once in the roster") {
    // `queries` and `oracleSql` are maps built from the roster, so a
    // second entry under a taken name would silently replace the first
    val dup = SparkEntry.roster.groupBy(_.name)
      .collect { case (name, qs) if qs.size > 1 => name }
    assert(dup.isEmpty, s"names registered more than once: ${dup.toSeq.sorted}")
  }

  test("every oracleSql key has a matching query") {
    val extra = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(extra.isEmpty, s"oracleSql without query: $extra")
  }

  test("every query has an oracle, except the documented approx whitelist") {
    // q45/q137 (HLL), q119 (t-digest) and q136 (the sketch-accuracy
    // sweep over q45/q119's dials) are sketch-based: estimates are
    // engine-specific by design, the driver records the weaker
    // rows-only check and the specs named per entry below hold the
    // tolerance/equality contracts. Anything else missing an oracle is
    // a registration mistake, not a design choice. (q141/q157 left
    // this set in round 12 — engine-portable KMV cells; q120 left in
    // round 13 — the Σ-decrement certificate + exact fallback make the
    // plain exact top-N SQL a valid unconditional oracle; q119/q136
    // left in round 14 — checked shapes whose portable columns carry
    // full oracles with the estimate audit as an EXECUTED bit the
    // oracle pins to 1.)
    val approxOnly = Set("q45_kpi_approx",
      "q137_hll_shards") // in-row self-oracle + HllSpec equality
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(missing == approxOnly,
      s"queries without oracle beyond the whitelist: ${missing -- approxOnly}")
  }

  test("outer/anti/semi folds discriminate: both populations present at sf0.001") {
    // The every-query >0-rows contract above cannot catch a SUBGROUP
    // going vacuous: a left-outer fold whose unmatched half is empty,
    // or an anti join that drops nothing, still returns rows while
    // verifying nothing (the q177-draft trap, generalized per the
    // round-10 verdict). Each join-matrix query must exhibit BOTH of
    // its discriminating populations on the smallest fixture.
    import org.apache.spark.sql.functions.{col, sum}
    val r163 = SparkEntry.queries("q163_streaming_outer_join")(spark, sf0001)
      .collect()
    assert(r163.exists(_.getLong(1) != -1L), "q163: no matched pairs")
    assert(r163.exists(_.getLong(1) == -1L),
      "q163: no watermark-proven unmatched errors - the outer half is vacuous")
    val r170 = SparkEntry.queries("q170_streaming_full_outer")(spark, sf0001)
      .collect()
    assert(r170.exists(r => r.getLong(0) != -1L && r.getLong(1) != -1L),
      "q170: no matched pairs")
    assert(r170.exists(_.getLong(1) == -1L), "q170: no unmatched errors")
    assert(r170.exists(_.getLong(0) == -1L), "q170: no unmatched clicks")
    // q177 anti: the suppression list must drop SOME events, not all
    val kept = SparkEntry.queries("q177_streaming_anti")(spark, sf0001)
      .agg(sum(col("n_events"))).head().getLong(0)
    val all = graft.sources.Tables.events(spark, sf0001).count()
    assert(kept > 0 && kept < all,
      s"q177: anti join kept $kept of $all events - a vacuous blocklist")
    // q180 semi: some but not all errors have a click in-window
    val semi = SparkEntry.queries("q180_streaming_semi")(spark, sf0001).count()
    val errs = graft.sources.Tables.events(spark, sf0001)
      .filter(col("event_type") === "error").count()
    assert(semi > 0 && semi < errs,
      s"q180: semi admitted $semi of $errs errors - predicate is vacuous")
    // q190: more than one campaign interval actually overlaps sessions
    val r190 = SparkEntry.queries("q190_interval_overlap")(spark, sf0001)
      .collect()
    assert(r190.length > 1 && r190.forall(_.getLong(3) > 0L),
      "q190: overlap rows missing or zero-length overlaps")
  }

  test("q01 top-5: exactly 5 rows, strictly ordered by revenue desc") {
    val rows = SparkEntry.queries("q01_top_products")(spark, sf0001)
      .select("revenue").collect().map(_.getDouble(0))
    assert(rows.length === 5)
    assert(rows.sliding(2).forall { case Array(a, b) => a >= b })
  }

  test("no registered query emits an array-typed column (harness contract)") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val arrayCols = fn(spark, sf0001).schema.fields
        .filter(_.dataType.typeName == "array").map(_.name)
      assert(arrayCols.isEmpty, s"$name has array columns: ${arrayCols.toSeq}")
    }
  }

  test("no registered query emits a decimal-typed column (harness contract)") {
    // DECIMAL outputs render differently in Spark parquet vs DuckDB
    // fetchdf (round-1: 10 queries red on this alone); aggregate in
    // exact decimal internally, present as double/long.
    SparkEntry.queries.foreach { case (name, fn) =>
      val decCols = fn(spark, sf0001).schema.fields
        .filter(_.dataType.typeName.startsWith("decimal")).map(_.name)
      assert(decCols.isEmpty, s"$name has decimal columns: ${decCols.toSeq}")
    }
  }

  test("q10 FK integrity: zero orphans in the generated data") {
    val bad = SparkEntry.queries("q10_fk_integrity")(spark, sf0001)
      .select("bad_rows").collect().map(_.getLong(0)).sum
    assert(bad === 0)
  }

  test("doc counts track the registry (README + ARCHITECTURE can't drift)") {
    // rounds 4 and 5 both shipped stale "N registered / M oracles"
    // lines; parse the claims out of the docs and pin them to the code
    val nq = SparkEntry.queries.size
    val no = SparkEntry.oracleSql.size
    def firstMatch(path: String, re: scala.util.matching.Regex): Seq[Int] = {
      val text = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(path)), "UTF-8")
      re.findFirstMatchIn(text) match {
        case Some(m) => (1 to m.groupCount).map(i => m.group(i).toInt)
        case None => fail(s"$path: doc-count sentence not found " +
          s"(pattern $re) - keep the claim, update the numbers")
      }
    }
    val arch = firstMatch("ARCHITECTURE.md",
      """\*\*(\d+) registered queries — (\d+) with DuckDB oracles""".r)
    assert(arch == Seq(nq, no),
      s"ARCHITECTURE.md claims ${arch.mkString("/")} but registry has $nq/$no")
    val readme = firstMatch("README.md",
      """All (\d+) SQL-expressible queries \(of (\d+) registered\)""".r)
    assert(readme == Seq(no, nq),
      s"README.md claims ${readme.mkString("/")} but registry has $no/$nq")
  }
}
