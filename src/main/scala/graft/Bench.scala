package graft

import graft.sources.Tables

/** Driver-run benchmark: one JSON line with per-query and total seconds
  * over SparkEntry.queries at SPARK_GRAFT_SF_DIR.
  *
  * Each query is forced end-to-end with a noop-format write (full
  * computation of every row/column — `count()` would let Catalyst prune
  * work). A warmup query first absorbs JVM/classloading/codegen
  * startup so per-query numbers measure the plan, not the JVM.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Tables.cliSession(defaultCpus = 32, "WARN")

    def run(name: String): Double = {
      val t0 = System.nanoTime()
      val elapsed =
        try {
          SparkEntry.queries(name)(spark, sfDir)
            .write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        } catch { case _: Throwable => -1.0 }
      Tables.janitor(spark, name)
      elapsed
    }

    // warmup: JVM + codegen + parquet reader init (not reported)
    try SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }

    // best-of-N per query (default 2): a single-run number conflates the
    // plan's cost with whatever else the machine was doing — round 2's
    // committed bench recorded a 0.57s query at 21.8s purely from
    // machine load. The minimum over passes is the standard
    // load-noise-robust estimator of the plan's cost; passes are
    // interleaved (full sweep, then again) so co-scheduled noise does
    // not hit both runs of the same query.
    val passes = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "2").toInt
    // dev loop: SPARK_GRAFT_BENCH_ONLY=<name>,<name> (registered names)
    // restricts the sweep while iterating on one plan (driver leaves it unset)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    val sweeps = (1 to passes).map(_ => names.map(n => n -> run(n)).toMap)
    def r3(v: Double): Double = math.rint(v * 1000) / 1000
    val results = names.map { n =>
      val ts = sweeps.map(_(n))
      n -> (if (ts.exists(_ >= 0)) r3(ts.filter(_ >= 0).min) else -1.0)
    }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = r3(results.map(_._2).filter(_ >= 0).sum)
    // the bench families (SparkEntry.Family) split the total
    val family = SparkEntry.roster.map(q => q.name -> q.family).toMap
    def familyTotal(f: SparkEntry.Family): Double = r3(results.collect {
      case (k, v) if family(k) == f && v >= 0 => v }.sum)
    val diagTotal = familyTotal(SparkEntry.Diagnostic)
    val harnessTotal = familyTotal(SparkEntry.Harness)
    val analyticTotal = r3(total - diagTotal - harnessTotal)
    val split = s""""analytic":$analyticTotal,"diagnostics":$diagTotal,"harness":$harnessTotal"""
    // Machine-drift self-normalization (round-15, the round-14 verdict's
    // bench-hygiene ask): this VM class drifts 0.97-1.2x within a day,
    // so cross-round per-query deltas only mean something relative to
    // the committed same-code control. Emit the median per-query ratio
    // against the newest committed BENCH_LOCAL_r*.json so the
    // normalization is in the bench line itself instead of a manual
    // post-pass. Median over all shared queries (>=50 ms in the
    // control): at most a handful change per round, so code wins/losses
    // cannot move the median — it measures the HOST. Non-fatal and
    // omitted when no control file is present (e.g. the driver's bare
    // checkout runs from the repo root, where the controls live).
    val drift: Option[Double] = try {
      val ctrl = Option(new java.io.File(".").listFiles()).toSeq.flatten
        .filter(f => f.getName.matches("BENCH_LOCAL_r\\d+\\.json"))
        .sortBy(f => f.getName.replaceAll("\\D", "").toInt)
        .lastOption
      ctrl.flatMap { f =>
        val txt = new String(java.nio.file.Files.readAllBytes(f.toPath),
          "UTF-8")
        // scale-factor guard (round-15 ADVICE #3): a sf1/sf3 soak run
        // compared against an sf0.1 control would emit a large,
        // meaningless ratio — omit the field unless the control's sf
        // matches this run's
        val ctrlSf = "\"sf\":\"([^\"]+)\"".r
          .findFirstMatchIn(txt).map(_.group(1))
        if (!ctrlSf.contains(sfDir)) None
        else {
          val entry = "\"(q[0-9]\\w+)\":([0-9.]+)".r
          // take per-query times from the control's "queries" object only
          val qsTxt = txt.indexOf("\"queries\":")
          val old = if (qsTxt < 0) Map.empty[String, Double]
            else entry.findAllMatchIn(txt.substring(qsTxt))
              .map(m => m.group(1) -> m.group(2).toDouble).toMap
          val cur = results.toMap
          val ratios = old.toSeq.collect {
            case (k, v) if v >= 0.05 && cur.getOrElse(k, -1.0) > 0 =>
              cur(k) / v
          }.sorted
          if (ratios.size < 20) None
          else Some(math.rint(ratios(ratios.size / 2) * 1000) / 1000)
        }
      }
    } catch { case _: Throwable => None }
    val driftField = drift.map(d => s""","drift_ratio":$d""").getOrElse("")
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec",$split$driftField,"queries":$qs,"sf":"$sfDir","passes":$passes}"""
    println(line)
    // The driver keeps only the last ~2000 chars of output; with 100+
    // queries the detail line above overflows that window and the head
    // (the total!) is lost. Repeat a short summary LAST so the tail
    // always carries the headline numbers, and persist the full line.
    val slowest = results.filter(_._2 >= 0).sortBy(-_._2).take(8)
      .map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    println(s"""{"metric":"total","value":$total,"unit":"sec",$split$driftField,"nqueries":${results.size},"slowest":$slowest,"sf":"$sfDir","passes":$passes}""")
    try {
      val p = java.nio.file.Paths.get("bench_detail.json")
      java.nio.file.Files.write(p, (line + "\n").getBytes("UTF-8"))
    } catch {
      case e: Throwable => // non-fatal, but don't lose the only signal
        System.err.println(
          s"[bench] WARN could not persist bench_detail.json: $e")
    }
    spark.stop()
  }
}
