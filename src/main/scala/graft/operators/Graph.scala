package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Graph analytics beyond [[Dedup]]'s connected components: damped
  * PageRank with a FIXED iteration count and exact scaled-integer
  * arithmetic, so the fit is oracle-checkable cell-exact (floating
  * point PageRank sums in arbitrary order and could never hash-match
  * a second engine).
  *
  * Rank is carried in 1e-12 units (BIGINT). Per iteration:
  *   r'(v) = (base * (1e6 - dampPpm) + dampPpm * Σ_{u→v} r(u) div deg(u))
  *           div 1e6
  * where base = 1e12 div N. Every operation is BIGINT add / floor-div
  * — deterministic and identical in Spark and DuckDB. Headroom: total
  * rank ≤ 1e12, so the damped term tops out near 8.5e17 < 2^63.
  *
  * Scale shape: `deg` is one count aggregation; each iteration is one
  * (join on src) + one (groupBy dst) shuffle over the EDGE list only —
  * ranks and degrees are node-grain (≪ edges). N rides along as a
  * broadcast 1-row frame; nothing collects to the driver. The lazy
  * plan grows linearly with `RankIters` (fixed, small) — the same chained
  * shape as [[Similarity.kmeans]].
  */
object Graph {

  val Scale = 1000000000000L // rank unit: 1e-12

  val DampPpm = 850000L // PageRank damping, in parts per million
  val RankIters = 3 // PageRank iterations

  /** `edges`: two columns (src, dst). General directed graphs are fully
    * supported (round 7): the node set is src ∪ dst, and the rank mass
    * of dangling nodes (a dst with no out-edges) is redistributed
    * uniformly each iteration — the classic PageRank dangling term,
    * kept in the same exact BIGINT floor-div arithmetic:
    *
    *   r'(v) = (base*(1e6-d) + (Σ_{u→v} r(u) div deg(u) + D div N)*d)
    *           div 1e6,   D = Σ_{u dangling} r(u)
    *
    * `assumeNoDangling = true` is the symmetrized fast path (mirror-
    * union edge lists make every dst a src BY CONSTRUCTION): it skips
    * the node-set union, the per-iteration dangling-mass pass, and the
    * left join — the exact pre-round-7 recurrence, ~20% cheaper at
    * q129's scale. With no dangling nodes both paths compute identical
    * ranks (D = 0 and contribs covers every node), pinned in GraphSpec.
    *
    * Scale shape: `deg` is one count aggregation; each iteration is one
    * (join on src) + one (groupBy dst) shuffle over the EDGE list, plus
    * — general path only — one node-grain semi-join sum for D (ranks
    * and degrees are node-grain ≪ edges, and D rides along as a
    * broadcast 1-row frame). Nothing collects to the driver.
    */
  def pagerank(edges: DataFrame, iters: Int = RankIters,
      assumeNoDangling: Boolean = false): DataFrame = {
    // truncate the iterative lineage at the EDGE LIST (the
    // Dedup.dedupClusters idiom) — one checkpoint, materialized once,
    // so the (possibly expensive) edge construction never re-runs:
    // every downstream frame (degrees, nodes, N, per-iteration joins)
    // derives from the checkpointed list. Checkpointing the derived
    // frames separately instead would materialize the construction
    // once PER checkpoint (graft.devtools.Prof shows it as a doubled
    // pair-generation stage).
    val e = edges.select(col("src"), col("dst")).localCheckpoint(true)
    val deg = e.groupBy("src").agg(count(lit(1)).as("deg"))
    val keep = 1000000L - DampPpm
    val ed = e.join(deg, Seq("src")).localCheckpoint(true)
    if (assumeNoDangling) {
      // node set materialized ONCE (round-15): the lazy 3-iteration
      // plan references n1 per iteration plus the rank seed, and each
      // reference re-ran the distinct exchange over the edge list
      // (4 duplicate subtrees in the executed q129 plan, zero reuse)
      val nodes = e.select(col("src").as("node")).distinct()
        .localCheckpoint(true)
      val n1 = broadcast(nodes.agg(count(lit(1)).as("n")))
      var ranks = nodes.crossJoin(n1)
        .select(col("node"), expr(s"${Scale}L div n").as("r"))
      for (_ <- 1 to iters) {
        val contribs = ed
          .join(ranks.withColumnRenamed("node", "src"), Seq("src"))
          .groupBy(col("dst").as("node"))
          .agg(sum(expr("r div deg")).as("c"))
        ranks = contribs.crossJoin(n1)
          .select(col("node"), expr(
            s"((${Scale}L div n) * $keep + c * $DampPpm)" +
              " div 1000000").as("r"))
      }
      ranks
    } else {
      val nodes = e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node"))).distinct()
        .localCheckpoint(true)
      val n1 = broadcast(nodes.agg(count(lit(1)).as("n")))
      // node-grain: which nodes have no out-edge (computed once)
      val dangling = nodes
        .join(e.select(col("src").as("node")).distinct(), Seq("node"),
          "left_anti")
        .localCheckpoint(true)
      // each iteration reads `ranks` TWICE (dangling mass + contribs);
      // a lazy chain would re-derive the edge-grain join 2^iters times,
      // so ranks is eagerly checkpointed per round (node-grain — cheap)
      // exactly like Dedup.dedupClusters' label frame
      var ranks = nodes.crossJoin(n1)
        .select(col("node"), expr(s"${Scale}L div n").as("r"))
        .localCheckpoint(true)
      for (_ <- 1 to iters) {
        val dmass = broadcast(ranks.join(dangling, Seq("node"))
          .agg(coalesce(sum(col("r")), lit(0L)).as("dm")))
        val contribs = ed
          .join(ranks.withColumnRenamed("node", "src"), Seq("src"))
          .groupBy(col("dst").as("node"))
          .agg(sum(expr("r div deg")).as("c"))
        ranks = nodes.join(contribs, Seq("node"), "left")
          .crossJoin(n1).crossJoin(dmass)
          .select(col("node"), expr(
            s"((${Scale}L div n) * $keep" +
              s" + (coalesce(c, 0L) + dm div n) * $DampPpm)" +
              " div 1000000").as("r"))
          .localCheckpoint(true)
      }
      ranks
    }
  }

  val MinPairs = 2 // co-purchase count an edge needs to enter the product graph

  /** q129 — product importance by PageRank over the co-purchase graph:
    * symmetrized q94 basket pairs (support ≥ `MinPairs`) as edges,
    * `RankIters` damped rounds, ranked output. The rank column stays in
    * exact 1e-12 BIGINT units.
    */
  def copurchaseRank(spark: SparkSession, sfDir: String): DataFrame = {
    val pairs = RetailBi.basketPairCounts(
      RetailBi.baskets(Tables.lineitem(spark, sfDir)),
      minPairs = MinPairs, maxItems = RetailBi.BasketMaxItems)
    val edges = pairs.select(col("part_a").as("src"), col("part_b").as("dst"))
      .unionByName(
        pairs.select(col("part_b").as("src"), col("part_a").as("dst")))
    // the mirror union makes every dst also a src BY CONSTRUCTION, so
    // the symmetrized fast path applies: no node-set union, no
    // per-iteration dangling-mass pass (~20% of the query at sf0.1).
    pagerank(edges, RankIters, assumeNoDangling = true)
      .select(col("node").as("part"), col("r").as("rank_e12"))
      .orderBy(desc("rank_e12"), asc("part"))
  }

  /** q135 — PageRank over a genuinely DIRECTED graph with dangling
    * nodes: co-purchase edges oriented low→high part key (support ≥
    * `MinPairs`), so the highest-keyed part of every basket family
    * receives mass but has no out-edge. Exercises the general-path
    * recurrence: src ∪ dst node set, per-iteration dangling-mass
    * redistribution, left-join rank refresh (nodes with no in-edge
    * keep receiving base + dangling share).
    */
  def directedRank(spark: SparkSession, sfDir: String): DataFrame = {
    val pairs = RetailBi.basketPairCounts(
      RetailBi.baskets(Tables.lineitem(spark, sfDir)),
      minPairs = MinPairs, maxItems = RetailBi.BasketMaxItems)
    val edges = pairs.select(col("part_a").as("src"), col("part_b").as("dst"))
    // the general path's ranks are a checkpoint: repartition so AQE
    // counts them
    pagerank(edges, RankIters)
      .select(col("node").as("part"), col("r").as("rank_e12"))
      .repartition(col("rank_e12"), col("part"))
      .orderBy(desc("rank_e12"), asc("part"))
  }

  /** DuckDB oracle for [[directedRank]]: the identical general-path
    * integer recurrence unrolled — one (dangling-mass, contribs, rank)
    * CTE triple per iteration. AS MATERIALIZED everywhere is
    * load-bearing (the dedupClustersSql lesson): each iteration
    * references the PREVIOUS rank CTE twice (dangling mass + contribs),
    * and DuckDB inlines CTEs by default, so without it the whole pairs
    * pipeline re-evaluates 2^iters times — observed as a >600 s sf1
    * timeout where the materialized form takes seconds.
    */
  def directedRankSql: String = {
    val keep = 1000000L - DampPpm
    val its = (1 to RankIters).map { i =>
      val prev = if (i == 1) "r0" else s"it${i - 1}"
      s"""dm$i AS MATERIALIZED (
         |  SELECT COALESCE(SUM(r), 0) AS dm
         |  FROM $prev JOIN dang USING (node)),
         |c$i AS MATERIALIZED (
         |  SELECT e.dst AS node, SUM($prev.r // d.deg) AS c
         |  FROM edges e
         |  JOIN deg d ON e.src = d.src
         |  JOIN $prev ON $prev.node = e.src
         |  GROUP BY e.dst),
         |it$i AS MATERIALIZED (
         |  SELECT n.node,
         |    ((${Scale} // nn.n) * $keep
         |      + (COALESCE(c.c, 0) + dm$i.dm // nn.n) * $DampPpm)
         |      // 1000000 AS r
         |  FROM nodes n
         |  LEFT JOIN c$i c ON c.node = n.node
         |  CROSS JOIN nn CROSS JOIN dm$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH di AS (
       |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
       |items AS (
       |  SELECT o, p FROM (
       |    SELECT o, p,
       |      ROW_NUMBER() OVER (PARTITION BY o ORDER BY p) AS rn
       |    FROM di)
       |  WHERE rn <= ${RetailBi.BasketMaxItems}),
       |pairs AS MATERIALIZED (
       |  SELECT a.p AS pa, b.p AS pb
       |  FROM items a JOIN items b ON a.o = b.o AND a.p < b.p
       |  GROUP BY a.p, b.p
       |  HAVING COUNT(*) >= $MinPairs),
       |edges AS MATERIALIZED (
       |  SELECT pa AS src, pb AS dst FROM pairs),
       |deg AS MATERIALIZED (
       |  SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
       |nodes AS MATERIALIZED (
       |  SELECT src AS node FROM edges
       |  UNION
       |  SELECT dst AS node FROM edges),
       |nn AS MATERIALIZED (SELECT COUNT(*) AS n FROM nodes),
       |dang AS MATERIALIZED (
       |  SELECT node FROM nodes
       |  WHERE node NOT IN (SELECT src FROM edges)),
       |r0 AS MATERIALIZED (
       |  SELECT node, ${Scale} // n AS r FROM nodes CROSS JOIN nn),
       |$its
       |SELECT node AS part, CAST(r AS BIGINT) AS rank_e12 FROM it$RankIters
       |ORDER BY rank_e12 DESC, part""".stripMargin
  }

  /** q151 — triangle counting over the co-purchase graph with
    * DEGREE-ORDERED ORIENTATION, the classic trick that makes
    * distributed triangle enumeration safe on skewed graphs: every
    * undirected edge {a,b} is oriented from the endpoint with the
    * smaller (degree, id) to the larger, which bounds every node's
    * OUT-degree by O(sqrt(m)) — so the wedge self-join (the only
    * quadratic step) fans out per node by out-degree², never by the
    * raw degree² a hub would pay. A triangle {u,v,w} with
    * ord(u)<ord(v)<ord(w) is then found EXACTLY once: as the wedge
    * (u→v, u→w) closed by the oriented edge v→w.
    *
    * Scale shape: pair generation is the one fact exchange (the q94
    * basket machinery, checkpointed); degrees are node-grain
    * (broadcast-gated joins); wedges shuffle on src and close with
    * one (v,w) equi-join. No driver collects, no cartesian. Output is
    * per-node triangle participation (each triangle credits all three
    * corners), exact BIGINTs.
    *
    * Reference analogue: the co-purchase affinity analysis
    * (Retail_Sales_Analysis.sql's product-pair views) stops at pairs;
    * triangles are the next clique size up — "these three products
    * sell together" — and the orientation is what a 100 TB pair graph
    * needs to enumerate them without a hub blowup.
    */
  def triangleCounts(spark: SparkSession, sfDir: String): DataFrame = {
    val pairs = RetailBi.basketPairCounts(
        RetailBi.baskets(Tables.lineitem(spark, sfDir)),
        minPairs = MinPairs, maxItems = RetailBi.BasketMaxItems)
      .select(col("part_a").as("a"), col("part_b").as("b"))
    triangleCountsFromPairs(pairs,
      sizeProxy = Some(Tables.part(spark, sfDir)))
  }

  /** [[triangleCounts]] over an explicit undirected edge frame
    * (columns `a < b`, distinct) — testability seam: GraphSpec feeds
    * known topologies. `sizeProxy` gates the node-grain degree
    * broadcasts (nodes ≤ the proxy's row count); None = hard
    * broadcast (test-sized inputs).
    */
  private[graft] def triangleCountsFromPairs(pairsIn: DataFrame,
      sizeProxy: Option[DataFrame] = None): DataFrame = {
    val oriented = orientPairs(pairsIn, sizeProxy)
    val wedges = wedgesOf(oriented)
    val tris = wedges.join(
      oriented.select(col("src").as("v"), col("dst").as("w")), Seq("v", "w"))
      .select(col("src").as("u"), col("v"), col("w"))
    tris.select(col("u").as("part"))
      .unionByName(tris.select(col("v").as("part")))
      .unionByName(tris.select(col("w").as("part")))
      .groupBy("part").agg(count(lit(1)).as("tri_cnt"))
      .orderBy(desc("tri_cnt"), asc("part"))
  }

  /** Degree-ordered orientation of an undirected pair frame (`a < b`,
    * distinct): every edge points from the (degree, id)-smaller
    * endpoint to the larger — (src, dst, dd) with dd = dst's degree,
    * carried so the wedge filter needs no re-join. Exposed as a seam
    * so GraphSpec can pin the √m out-degree bound on hub topologies.
    */
  private[graft] def orientPairs(pairsIn: DataFrame,
      sizeProxy: Option[DataFrame] = None): DataFrame = {
    val pairs = pairsIn
      .localCheckpoint(true) // pair generation runs once; deg + orient derive
    val deg = pairs.select(col("a").as("node"))
      .unionByName(pairs.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    def gate(df: DataFrame): DataFrame = sizeProxy match {
      case Some(p) => Joins.broadcastIfSmall(df, p)
      case None => broadcast(df)
    }
    val aFirst = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    pairs
      .join(gate(
        deg.select(col("node").as("a"), col("deg").as("da"))), Seq("a"))
      .join(gate(
        deg.select(col("node").as("b"), col("deg").as("db"))), Seq("b"))
      .select(
        when(aFirst, col("a")).otherwise(col("b")).as("src"),
        when(aFirst, col("b")).otherwise(col("a")).as("dst"),
        when(aFirst, col("db")).otherwise(col("da")).as("dd"))
      .localCheckpoint(true) // read 3x: both wedge legs + the closing join
  }

  /** Ordered wedges of an oriented edge frame: (src→v, src→w) with
    * ord(v) < ord(w) — the only quadratic step, whose fan-out the
    * degree orientation bounds by out-degree² per node.
    */
  private[graft] def wedgesOf(oriented: DataFrame): DataFrame =
    oriented.select(col("src"), col("dst").as("v"), col("dd").as("dv"))
      .join(oriented.select(col("src"), col("dst").as("w"), col("dd").as("dw")),
        Seq("src"))
      .filter(col("dv") < col("dw") ||
        (col("dv") === col("dw") && col("v") < col("w")))

  /** DuckDB oracle for [[triangleCounts]]: the identical orientation
    * and wedge-close, tuple order spelled out as (deg, id)
    * lexicographic CASEs. MATERIALIZED on pairs/oriented — both are
    * referenced more than once and DuckDB inlines CTEs by default.
    *
    * CAP (shared with the q94 basketPairsSql oracle): the Spark side
    * inherits basketPairCounts' `maxItems = 64` basket cap (first 64 of
    * each order's SORTED distinct item set), so the oracle restates the
    * IDENTICAL rule as a per-order ROW_NUMBER ≤ 64 over the sorted
    * distinct items — a no-op at every TPC-H scale factor (max basket
    * ~7 lines) that keeps the two sides in exact lockstep even if a
    * testdata regeneration produced wider baskets, instead of silently
    * relying on an undocumented data property.
    */
  def triangleCountsSql: String =
    s"""WITH di AS (
       |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
       |items AS (
       |  SELECT o, p FROM (
       |    SELECT o, p,
       |      ROW_NUMBER() OVER (PARTITION BY o ORDER BY p) AS rn
       |    FROM di)
       |  WHERE rn <= ${RetailBi.BasketMaxItems}),
       |pairs AS MATERIALIZED (
       |  SELECT a.p AS pa, b.p AS pb
       |  FROM items a JOIN items b ON a.o = b.o AND a.p < b.p
       |  GROUP BY a.p, b.p
       |  HAVING COUNT(*) >= $MinPairs),
       |deg AS MATERIALIZED (
       |  SELECT node, COUNT(*) AS deg FROM (
       |    SELECT pa AS node FROM pairs
       |    UNION ALL
       |    SELECT pb FROM pairs) GROUP BY node),
       |oriented AS MATERIALIZED (
       |  SELECT
       |    CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND pa < pb)
       |      THEN pa ELSE pb END AS src,
       |    CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND pa < pb)
       |      THEN pb ELSE pa END AS dst,
       |    CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND pa < pb)
       |      THEN db.deg ELSE da.deg END AS dd
       |  FROM pairs
       |  JOIN deg da ON da.node = pa
       |  JOIN deg db ON db.node = pb),
       |tri AS MATERIALIZED (
       |  SELECT e1.src AS u, e1.dst AS v, e2.dst AS w
       |  FROM oriented e1
       |  JOIN oriented e2 ON e1.src = e2.src
       |    AND (e1.dd < e2.dd OR (e1.dd = e2.dd AND e1.dst < e2.dst))
       |  JOIN oriented e3 ON e3.src = e1.dst AND e3.dst = e2.dst)
       |SELECT part, CAST(COUNT(*) AS BIGINT) AS tri_cnt FROM (
       |  SELECT u AS part FROM tri
       |  UNION ALL SELECT v FROM tri
       |  UNION ALL SELECT w FROM tri)
       |GROUP BY part
       |ORDER BY tri_cnt DESC, part""".stripMargin

  /** DuckDB oracle for [[copurchaseRank]]: the identical integer
    * recurrence unrolled as one CTE per iteration.
    */
  def copurchaseRankSql: String = {
    val keep = 1000000L - DampPpm
    // every CTE MATERIALIZED (round-14): DuckDB inlines multi-referenced
    // CTEs here, re-expanding the ROW_NUMBER window + basket self-join
    // once per reference — at sf3 (30×) the inlined tree spilled past
    // 76 GB of duckdb_temp; materialized, the same query runs in ~14 s
    // with zero spill. Semantics identical.
    val its = (1 to RankIters).map { i =>
      val prev = if (i == 1) "r0" else s"it${i - 1}"
      s"""it$i AS MATERIALIZED (
         |  SELECT e.dst AS node,
         |    ((${Scale} // nn.n) * $keep
         |      + SUM($prev.r // d.deg) * $DampPpm) // 1000000 AS r
         |  FROM edges e
         |  JOIN deg d ON e.src = d.src
         |  JOIN $prev ON $prev.node = e.src
         |  CROSS JOIN nn
         |  GROUP BY e.dst, nn.n)""".stripMargin
    }.mkString(",\n")
    s"""WITH di AS MATERIALIZED (
       |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
       |items AS MATERIALIZED (
       |  SELECT o, p FROM (
       |    SELECT o, p,
       |      ROW_NUMBER() OVER (PARTITION BY o ORDER BY p) AS rn
       |    FROM di)
       |  WHERE rn <= ${RetailBi.BasketMaxItems}),
       |pairs AS MATERIALIZED (
       |  SELECT a.p AS pa, b.p AS pb
       |  FROM items a JOIN items b ON a.o = b.o AND a.p < b.p
       |  GROUP BY a.p, b.p
       |  HAVING COUNT(*) >= $MinPairs),
       |edges AS MATERIALIZED (
       |  SELECT pa AS src, pb AS dst FROM pairs
       |  UNION ALL
       |  SELECT pb AS src, pa AS dst FROM pairs),
       |deg AS MATERIALIZED (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
       |nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM edges),
       |nn AS (SELECT COUNT(*) AS n FROM nodes),
       |r0 AS MATERIALIZED (
       |  SELECT node, ${Scale} // n AS r FROM nodes CROSS JOIN nn),
       |$its
       |SELECT node AS part, CAST(r AS BIGINT) AS rank_e12 FROM it$RankIters
       |ORDER BY rank_e12 DESC, part""".stripMargin
  }

  val HierarchyTopNodes = 341 // node count of the hierarchy's top levels

  /** q198 — HIERARCHICAL SUBTREE ROLLUP (the recursive-CTE query shape,
    * which the engine lacked): parts form a synthetic 4-ary category
    * tree (parent(k) = (k−1) div 4, root 0 — a deterministic hierarchy
    * every key belongs to), and the query reports, for every node in
    * the top `HierarchyTopNodes` ids (the first five levels of the tree), the
    * number of revenue-bearing parts in its SUBTREE and the subtree's
    * exact revenue cents.
    *
    * The scalable formulation is NOT iterative self-joins (a recursive
    * CTE's plan — one pass per level, each a full shuffle): because the
    * parent function is computable per row, each part emits its entire
    * ancestor CHAIN in one `aggregate()` fold inside the scan (chain
    * length = tree depth = log₄ n, so the explode factor is
    * logarithmic), and ONE exchange at ancestor grain aggregates every
    * subtree — at 100 TB that is a map-side O(n·log n) expand and a
    * single shuffle, versus log n chained shuffles for the recursive
    * plan. The DuckDB oracle states the SAME relation with an actual
    * `WITH RECURSIVE` walk — matching proves the fold = the recursion.
    */
  def hierarchyRollup(spark: SparkSession, sfDir: String): DataFrame = {
    val rev = Tables.lineitem(spark, sfDir)
      .groupBy(col("l_partkey").as("node"))
      .agg(sum(floor(col("l_extendedprice") * 100).cast("long"))
        .cast("long").as("cents"))
    rev
      .withColumn("ancestor", explode(expr(
        """aggregate(sequence(1, 32), array(node),
          |  (acc, i) -> CASE WHEN element_at(acc, -1) > 0L
          |    THEN concat(acc, array((element_at(acc, -1) - 1L) div 4))
          |    ELSE acc END)""".stripMargin)))
      .filter(col("ancestor") < HierarchyTopNodes)
      .groupBy(col("ancestor").as("node_id"))
      .agg(count(lit(1)).as("n_parts"),
        sum(col("cents")).cast("long").as("subtree_cents"))
      .orderBy("node_id")
  }

  /** Oracle for [[hierarchyRollup]]: the genuine recursive walk — each
    * part's (strictly decreasing, hence duplicate-free) ancestor chain
    * unioned level by level, then the identical rollup.
    */
  def hierarchyRollupSql: String =
    s"""WITH RECURSIVE rev AS (
       |  SELECT l_partkey AS node,
       |    CAST(SUM(CAST(floor(l_extendedprice * 100) AS BIGINT))
       |      AS BIGINT) AS cents
       |  FROM lineitem GROUP BY 1),
       |anc AS (
       |  SELECT node, cents, node AS ancestor FROM rev
       |  UNION ALL
       |  SELECT node, cents, (ancestor - 1) // 4 FROM anc
       |  WHERE ancestor > 0)
       |SELECT ancestor AS node_id,
       |  CAST(COUNT(*) AS BIGINT) AS n_parts,
       |  CAST(SUM(cents) AS BIGINT) AS subtree_cents
       |FROM anc WHERE ancestor < $HierarchyTopNodes
       |GROUP BY 1
       |ORDER BY node_id""".stripMargin
}
