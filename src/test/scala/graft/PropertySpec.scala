package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.types.{DecimalType, DoubleType, IntegerType, StructField, StructType}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.functions.HashUtil
import graft.operators.Insights

/** Property tests (SURVEY.md §5): arithmetic invariants of the derived
  * money columns, idempotence, and native-expression/SQL hash agreement.
  * Uses raw ScalaCheck generators sampled under fixed seeds (the
  * scalatest-scalacheck bridge artifact is not in the offline cache).
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def samples[T](g: Gen[T], n: Int, from: Int = 0): Seq[T] =
    (from until from + n).flatMap(i =>
      g.apply(Gen.Parameters.default, Seed(i.toLong)))

  test("cosine/lsh codegen path is bit-identical to interpreted eval") {
    import org.apache.spark.sql.functions.col
    val vecGen = Gen.listOfN(16, Gen.chooseNum(-5.0f, 5.0f))
    val rows = samples(Gen.zip(vecGen, vecGen), 60)
      .map { case (a, b) => (a.toArray, b.toArray) }
    val df = rows.toDF("a", "b")
    val planes = graft.operators.Similarity.planeSigns.map(_.take(16))
    def run(codegen: String): Seq[(Double, Long)] = {
      val prev = spark.conf.get("spark.sql.codegen.factoryMode")
      try {
        spark.conf.set("spark.sql.codegen.factoryMode", codegen)
        df.select(
            graft.functions.cosine_sim(col("a"), col("b")).as("c"),
            graft.functions.lsh_sig(col("a"), planes).as("s"))
          .collect().map(r => (r.getDouble(0), r.getLong(1))).toSeq
      } finally spark.conf.set("spark.sql.codegen.factoryMode", prev)
    }
    val gen = run("CODEGEN_ONLY")
    val interp = run("NO_CODEGEN")
    assert(gen == interp,
      "generated arithmetic must replay the interpreted fold order exactly")
  }

  test("derived amounts: 0 <= unit_price <= price, total >= 0, for qty>0 and disc in [0,100]") {
    val cases = samples(for {
      price <- Gen.choose(0.01, 100000.0)
      disc <- Gen.choose(0.0, 100.0)
      qty <- Gen.choose(1, 5)
    } yield (price, disc, qty), 25)
    val df = cases.toDF("price", "discount_pct", "quantity")
    val rows = graft.operators.Cleaning.withDerivedAmounts(df)
      .select("price", "unit_price", "total_amount", "quantity").collect()
    rows.foreach { r =>
      val (price, unit, total, qty) =
        (r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getInt(3))
      assert(unit >= 0.0 && unit <= price + 0.005)
      assert(total >= 0.0)
      assert(math.abs(total - BigDecimal(unit * qty)
        .setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9,
        s"total $total != round(unit*qty) for $r")
    }
  }

  test("native md5Hash60 == Spark SQL conv(substr(md5(..),1,15),16,10) for arbitrary strings") {
    val md = java.security.MessageDigest.getInstance("MD5")
    val strs = samples(Gen.asciiPrintableStr, 30).filter(_.nonEmpty)
    val sql = strs.toDF("t")
      .selectExpr("t",
        "CAST(conv(substr(md5(CAST(t AS BINARY)), 1, 15), 16, 10) AS BIGINT) AS h")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    strs.foreach { s =>
      assert(HashUtil.md5Hash60(md, s) === sql(s), s"hash mismatch for '$s'")
    }
  }

  test("native tokens/shingles == Spark SQL split semantics") {
    val gen = Gen.nonEmptyListOf(
      Gen.oneOf("the", "fast", "key", "a", "Zx", "9q")).map(_.mkString(" "))
    samples(gen, 20).foreach { s =>
      val nativeToks = HashUtil.tokens(s).toSeq
      val sqlToks = Seq(s).toDF("t")
        .selectExpr("split(lower(trim(t)), '\\\\s+')")
        .head().getSeq[String](0)
      assert(nativeToks === sqlToks, s"token mismatch for '$s'")
      val nShingles = HashUtil.shingles3(HashUtil.tokens(s)).length
      assert(nShingles === math.max(nativeToks.length - 2, 1))
    }
  }

  test("upsertByKey is idempotent and keyed-distinct for arbitrary key sets") {
    val cases = samples(for {
      existing <- Gen.listOf(Gen.choose(1, 50))
      staged <- Gen.listOf(Gen.choose(1, 50))
    } yield (existing.distinct, staged.distinct), 8)
    cases.foreach { case (existing, staged) =>
      val e = existing.toDF("k")
      val s = staged.toDF("k")
      val once = graft.operators.Star.upsertByKey(e, s, "k")
      val twice = graft.operators.Star.upsertByKey(once, s, "k")
      val got = once.select("k").as[Int].collect().sorted.toSeq
      val want = (existing ++ staged.diff(existing)).sorted
      assert(got === want)
      assert(twice.count() === once.count())
    }
  }

  test("kmeans: partitions all vectors, and a second Lloyd iteration never hurts the objective") {
    import graft.operators.Similarity
    val total = graft.sources.Tables.embeddings(spark, sf0001).count()
    def objective(iters: Int): (Long, Double) = {
      val rows = Similarity.kmeans(spark, sf0001, k = 8, iters = iters).collect()
      assert(rows.length <= 8)
      rows.foreach { r =>
        assert(r.getLong(4) >= 0 && r.getLong(4) <= 1000000,
          s"purity_ppm out of range: $r")
      }
      (rows.map(_.getLong(1)).sum,
        rows.map(r => r.getDouble(2) * r.getLong(1)).sum)
    }
    val (n1, obj1) = objective(1)
    val (n2, obj2) = objective(2)
    assert(n1 == total && n2 == total, "every vector must land in a cluster")
    // Lloyd monotonicity on the summed cosine objective (1e-6 slack for
    // the floor-at-1e9 quantization in avg_cos)
    assert(obj2 >= obj1 - 1e-6, s"objective regressed: $obj1 -> $obj2")
  }

  // ---- exact scaled-integer revenue: Insights.revenueE4 / cents / revenueSum

  private val moneySchema = StructType(Seq(
    StructField("g", IntegerType), StructField("h", IntegerType),
    StructField("l_extendedprice", DoubleType),
    StructField("l_discount", DoubleType)))

  /** Lines as an RDD-backed frame split `parts` ways: no LocalRelation,
    * so projections run in the physical plan (codegen'd or interpreted
    * per the session), never folded on the driver by the optimizer.
    */
  private def lines(rows: Seq[(Int, Int, java.lang.Double, java.lang.Double)],
      parts: Int = 1): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      rows.map { case (g, h, p, d) => Row(g, h, p, d) }, parts), moneySchema)

  private def withConfs[T](kv: (String, String)*)(body: => T): T = {
    val prev = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    try { kv.foreach { case (k, v) => spark.conf.set(k, v) }; body }
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Every (ANSI, evaluation) combination: generated code, and the
    * interpreted path with whole-stage codegen off too.
    */
  private def everyMode(body: (Boolean, String) => Unit): Unit =
    for (ansi <- Seq(true, false); mode <- Seq("CODEGEN_ONLY", "NO_CODEGEN"))
      withConfs("spark.sql.ansi.enabled" -> ansi.toString,
          "spark.sql.codegen.factoryMode" -> mode,
          "spark.sql.codegen.wholeStage" -> (mode == "CODEGEN_ONLY").toString) {
        body(ansi, s"ansi=$ansi $mode")
      }

  /** The error condition a failed action raised, innermost first. */
  private def condition(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.reverse
      .collectFirst { case t: org.apache.spark.SparkThrowable
          if t.getCondition != null => t.getCondition }
      .getOrElse(e.getClass.getName)

  private def outcome(df: DataFrame, c: Column): Either[String, Option[Long]] =
    try Right(Option(df.select(c).head().get(0)).map(_.asInstanceOf[Long]))
    catch { case e: Exception => Left(condition(e)) }

  private val refE4 = (Insights.revenueDec * 10000).cast("long")
  private val refCents = org.apache.spark.sql.functions.expr(
    "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
  private val price = org.apache.spark.sql.functions.col("l_extendedprice")

  test("cents kernel == decimal casts on random and adversarial doubles, ANSI on/off, codegen and interpreted") {
    val ulp1e9 = math.ulp(1e9)
    // values either side of every rounding or range edge the guard
    // must send to the decimal fallback (or may keep on the fast path)
    val advPrices = Seq[java.lang.Double](1.005, 2.675, 0.145, -1.005,
      -2.675, -0.0, 0.0, -123.45, 1e9 - ulp1e9, 1e9, 1e9 + ulp1e9, -1e9,
      999999999.99, 9007199254740992.0 / 100,
      // x·100 lands on an integer one cent off the decimal cast's cents
      87040625784285.4, 1e16 - 1,
      1e17, Double.MinPositiveValue, Double.NaN, Double.PositiveInfinity,
      Double.NegativeInfinity, null)
    val advDiscs = Seq[java.lang.Double](0.0, -0.0, 0.05, 0.005, 0.145,
      -0.07, 98.99, 99.0 - math.ulp(99.0), 99.0, 99.994, 99.996, 100.0, 150.0,
      -150.0, Double.NaN, Double.PositiveInfinity, null)
    val adversarial = advPrices.map(p => (p, 0.05: java.lang.Double)) ++
      advDiscs.map(d => (1234.56: java.lang.Double, d))
    // the one documented divergence: a line whose 1e-4 value passes
    // Long.MaxValue. The plain cast wraps without ANSI; the kernel's
    // fallback cast is ANSI-pinned and fails instead.
    val e4Overflow = (1e15: java.lang.Double, 0.0: java.lang.Double)
    // random doubles on and off the cent grid, in and out of range
    val rnd = samples(Gen.zip(
      Gen.oneOf(
        Gen.choose(-100000000000L, 100000000000L).map(_ / 100.0),
        Gen.choose(-1e6, 1e6),
        Gen.choose(-1e12, 1e12)),
      Gen.oneOf(
        Gen.choose(-9900L, 9900L).map(_ / 100.0),
        Gen.choose(-98.0, 98.0))), 400)
    val rndDf = lines(rnd.zipWithIndex.map { case ((p, d), i) =>
      (i, 0, p: java.lang.Double, d: java.lang.Double) }, 4)
    everyMode { (ansi, label) =>
      val got = rndDf.select(Insights.revenueE4, refE4,
        Insights.cents(price), refCents).collect()
      assert(got.length === rnd.length)
      got.zip(rnd).foreach { case (r, in) =>
        assert(r.get(0) === r.get(1), s"$label revenueE4 differs for $in: $r")
        assert(r.get(2) === r.get(3), s"$label cents differs for $in: $r")
      }
      adversarial.foreach { case (p, d) =>
        val one = lines(Seq((0, 0, p, d)))
        assert(outcome(one, Insights.revenueE4) === outcome(one, refE4),
          s"$label revenueE4 outcome differs for ($p, $d)")
        assert(outcome(one, Insights.cents(price)) === outcome(one, refCents),
          s"$label cents outcome differs for $p")
      }
      val big = lines(Seq((0, 0, e4Overflow._1, e4Overflow._2)))
      assert(outcome(big, Insights.revenueE4) === Left("CAST_OVERFLOW"),
        s"$label: an e4 value past Long.MaxValue must fail loudly")
      if (ansi) assert(outcome(big, refE4) === Left("CAST_OVERFLOW"))
    }
  }

  test("revenueSum == sum(revenueDec) in value and decimal(34,4) type: splits 1/4/7, rollup, cube, empty") {
    import org.apache.spark.sql.functions._
    val refSum = sum(Insights.revenueDec)
    val frames = (0 until 3).map { f =>
      samples(for {
        g <- Gen.choose(0, 4)
        h <- Gen.choose(0, 2)
        p <- Gen.frequency(
          8 -> Gen.choose(1L, 1000000000L).map(c => (c / 100.0): java.lang.Double),
          2 -> Gen.choose(0.0, 100000.0).map(x => x: java.lang.Double),
          1 -> Gen.const(1.005: java.lang.Double),
          1 -> Gen.const(null: java.lang.Double))
        d <- Gen.frequency(
          8 -> Gen.choose(0L, 10L).map(c => (c / 100.0): java.lang.Double),
          1 -> Gen.choose(0.0, 0.1).map(x => x: java.lang.Double),
          1 -> Gen.const(null: java.lang.Double))
      } yield (g, h, p, d), 300, from = 1000 * (f + 1))
    }
    def check(label: String, df: DataFrame): Unit = {
      val t = df.schema("fast").dataType
      assert(t === DecimalType(34, 4), s"$label type $t")
      assert(t === df.schema("ref").dataType, s"$label type differs")
      val rows = df.collect()
      assert(rows.nonEmpty, s"$label: no groups")
      rows.foreach { r =>
        assert(r.getAs[java.math.BigDecimal]("fast") ===
          r.getAs[java.math.BigDecimal]("ref"), s"$label: $r")
      }
    }
    frames.zipWithIndex.foreach { case (rows, f) =>
      Seq(1, 4, 7).foreach { parts =>
        val df = lines(rows, parts)
        val aggs = Seq(Insights.revenueSum.as("fast"), refSum.as("ref"))
        check(s"frame $f/$parts global", df.agg(aggs.head, aggs.tail: _*))
        check(s"frame $f/$parts groupBy",
          df.groupBy("g").agg(aggs.head, aggs.tail: _*))
        check(s"frame $f/$parts rollup",
          df.rollup("g", "h").agg(aggs.head, aggs.tail: _*))
        check(s"frame $f/$parts cube",
          df.cube("g", "h").agg(aggs.head, aggs.tail: _*))
      }
    }
    val empty = lines(Nil, 4).agg(Insights.revenueSum).head()
    assert(empty.isNullAt(0), "an empty input must sum to null")
  }

  test("revenueSum raises ARITHMETIC_OVERFLOW past Long.MaxValue even with spark.sql.ansi.enabled=false") {
    import org.apache.spark.sql.functions._
    withConfs("spark.sql.ansi.enabled" -> "false") {
      // fast path: 1e6 lines of 99,999,999,999 cents x 100 ~ 1e19 e4
      val fast = spark.range(0, 1000000, 1, 4).select(
        lit(999999999.99).as("l_extendedprice"), lit(0.0).as("l_discount"))
      // fallback path: 10 lines of 1e14 (off the cent fast path's range)
      val slow = spark.range(0, 10, 1, 2).select(
        lit(1e14).as("l_extendedprice"), lit(0.0).as("l_discount"))
      Seq("fast path" -> fast, "fallback" -> slow).foreach { case (label, df) =>
        val e = intercept[Exception](df.agg(Insights.revenueSum).collect())
        assert(condition(e) === "ARITHMETIC_OVERFLOW", s"$label: $e")
      }
    }
  }
}
