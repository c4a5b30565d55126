package graft.etl

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Catalog/DDL surface (SURVEY.md §2 I2, J1, J5, J6): existence guards,
  * table creation, drop, and the reference's split-on-';' SQL script
  * runner (`etl/etl.py:236-246`).
  */
object Catalog {

  /** Idempotent-DDL guard (I2; `etl/etl.py:229-234`) for catalog tables. */
  def tableExists(spark: SparkSession, name: String): Boolean =
    spark.catalog.tableExists(name)

  /** Path-based existence guard for the parquet-directory warehouse. */
  def pathExists(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Load guard for a parquet-directory table: present only once its
    * writer committed the `_SUCCESS` marker. A load killed mid-write
    * leaves a directory holding just `_temporary/`, which must read as
    * absent so the next run loads the table instead of skipping it.
    */
  def committed(spark: SparkSession, path: String): Boolean =
    pathExists(spark, s"$path/_SUCCESS")

  def deletePath(spark: SparkSession, path: String): Unit = {
    val p = new Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(p, true)
  }

  /** DROP TABLE (J5; `sql/ddl_oracle.sql:103-110`). */
  def dropTable(spark: SparkSession, name: String): Unit =
    spark.sql(s"DROP TABLE IF EXISTS $name")

  /** Registered query for the raw SQL channel (A7/J6 under the oracle
    * gate): register the parquet tables as views, run a multi-statement
    * script through [[runScript]] (exercising the quote-aware
    * splitter), return the final statement's frame. The script's SELECT
    * is ANSI, so the DuckDB oracle is the equivalent single SELECT over
    * the same parquet.
    */
  def sqlChannel(spark: SparkSession, sfDir: String): DataFrame = {
    Seq("orders", "lineitem").foreach { t =>
      graft.sources.Tables.load(spark, sfDir, t).createOrReplaceTempView(t)
    }
    runScript(spark,
      """CREATE OR REPLACE TEMP VIEW big_orders AS
        |  SELECT o_orderkey FROM orders
        |  WHERE CAST(o_totalprice AS DOUBLE) > 300000.0;
        |-- final statement; the ';' in this comment exercises the splitter
        |SELECT l_returnflag,
        |  COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l_quantity AS DOUBLE)) AS DOUBLE) AS sum_qty
        |FROM lineitem JOIN big_orders ON l_orderkey = o_orderkey
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin).last
  }

  val sqlChannelSql: String =
    """SELECT l_returnflag,
      |  COUNT(*) AS n_items,
      |  CAST(SUM(CAST(l_quantity AS DOUBLE)) AS DOUBLE) AS sum_qty
      |FROM lineitem
      |JOIN (SELECT o_orderkey FROM orders
      |      WHERE CAST(o_totalprice AS DOUBLE) > 300000.0) big_orders
      |  ON l_orderkey = o_orderkey
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** Split a SQL script into statements on ';', ignoring semicolons
    * inside single-quoted literals (with '' escapes) and `--` line
    * comments — the reference's naive `split(";")` (`etl/etl.py:236-246`)
    * breaks on `VALUES ('a;b')`.
    */
  def splitStatements(script: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var quote: Char = 0 // 0 = outside; '\'' or '"' = inside that quote
    var inComment = false
    var i = 0
    while (i < script.length) {
      val c = script.charAt(i)
      if (quote != 0) {
        cur += c
        if (c == quote) {
          if (i + 1 < script.length && script.charAt(i + 1) == quote) {
            cur += quote; i += 1 // doubled-quote escape stays in-quote
          } else quote = 0
        }
      } else if (inComment) {
        cur += c
        if (c == '\n') inComment = false
      } else c match {
        // '"' strings: Spark's non-ANSI default parses them as string
        // literals, so a ';' inside must not split either
        case '\'' | '"' => quote = c; cur += c
        case '-' if i + 1 < script.length && script.charAt(i + 1) == '-' =>
          inComment = true; cur += c
        case ';' => out += cur.toString; cur.clear()
        case _ => cur += c
      }
      i += 1
    }
    out += cur.toString
    out.result()
  }

  /** Execute a multi-statement SQL script, skipping blanks/comments
    * (J6; `etl/etl.py:236-246`), with quote-aware ';' splitting.
    */
  def runScript(spark: SparkSession, script: String): Seq[DataFrame] =
    splitStatements(script)
      .map(_.linesIterator.filterNot(_.trim.startsWith("--"))
        .mkString("\n").trim)
      .filter(_.nonEmpty)
      .map(spark.sql)
}
