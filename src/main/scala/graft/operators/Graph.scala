package graft.operators

import graft.{CacheRegistry, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Iterative fixed-point graph analytics over a relation-derived graph —
  * the join-based PageRank family (SURVEY.md Phase 4 north-star scope:
  * the curation stack's authority-weighting primitive; real pretraining
  * pipelines rank crawl domains by link authority before sampling, and
  * the computation class — K rounds of shuffle-join + aggregate to a
  * fixed point — is the one batch shape the engine did not yet cover;
  * the CC pointer-jumping in Dedup converges a LABEL, this converges a
  * NUMERIC mass distribution).
  *
  * Graph: the customer<->supplier bipartite graph induced by the fact
  * table — one undirected edge per DISTINCT (o_custkey, l_suppkey) pair
  * that traded, stored as two directed rows. Node ids use parity
  * encoding — customer 2·custkey (even), supplier 2·suppkey+1 (odd) —
  * disjoint at ANY scale factor by construction (an additive offset
  * would collide once keys outgrow it).
  *
  * Arithmetic is EXACT integer fixed-point (ranks scaled by [[Scale]],
  * all ops BIGINT `div`): floating-point PageRank sums doubles in
  * shuffle order and can never hash-match an oracle; scaled-integer
  * sums are associative-exact, so Spark and DuckDB agree bit-for-bit
  * (the same discipline as functions/Parity). Per iteration:
  *
  *   contrib(u) = pr(u) div outdeg(u)
  *   pr'(v)     = (15·S) div (100·N)  +  (85 · Σ_in contrib) div 100
  *
  * i.e. damping 0.85 in percent arithmetic. Every node of the symmetric
  * edge set has outdeg ≥ 1 AND indeg ≥ 1, so there is no dangling mass
  * and the inner join/group-by covers exactly the node set.
  *
  * 100 TB shape: edges materialize once behind one distinct-shuffle on
  * the 16-byte key pair (the only pass over the fact table); each
  * iteration is ONE 8-byte-key shuffle join (ranks onto edges by src)
  * plus ONE aggregate (by dst) — partial aggregation absorbs hot hubs
  * before the exchange, and K is a constant. The rank relation is
  * |V| rows of (id, pr) — orders smaller than the edge set — and the
  * per-iteration relations are registry-persisted so the ranks query
  * and the convergence query share one chain (the Pregel/GraphX
  * message-passing loop re-expressed relationally; no driver-side data
  * rows — the only driver scalar is |V|).
  */
object Graph {

  /** Fixed-point scale: ranks are probabilities × 10^12 (total mass ≤
    * Scale, so 85·Σ stays far below 2^63).
    */
  val Scale = 1000000000000L

  /** Fixed iteration count (unrolled in the DuckDB oracles). */
  val Iters = 3

  /** Directed edge list (src, dst): both directions of each distinct
    * trading pair. Built once per session+fixture behind the registry.
    */
  private[graft] def edges(spark: SparkSession, sfDir: String): DataFrame =
    CacheRegistry.cached(spark, s"graph.edges:$sfDir") {
      val pairs = Tables.orders(spark, sfDir)
        .select(col("o_orderkey"), (col("o_custkey").cast("long") * 2).as("cust"))
        .join(
          Tables.lineitem(spark, sfDir).select(
            col("l_orderkey").as("o_orderkey"),
            (col("l_suppkey").cast("long") * 2 + 1).as("supp")),
          "o_orderkey")
        .select(col("cust"), col("supp")).distinct()
      pairs.select(col("cust").as("src"), col("supp").as("dst"))
        .unionByName(pairs.select(col("supp").as("src"), col("cust").as("dst")))
    }

  /** (id, outdeg) for every node. indeg = outdeg by edge symmetry. */
  private[graft] def degrees(spark: SparkSession, sfDir: String): DataFrame =
    CacheRegistry.cached(spark, s"graph.deg:$sfDir") {
      edges(spark, sfDir).groupBy(col("src").as("id"))
        .agg(count(lit(1)).as("outdeg"))
    }

  /** One PageRank step on arbitrary (src,dst)+(id,outdeg) relations —
    * the testable core, no caching.
    */
  private[graft] def step(edges: DataFrame, deg: DataFrame,
                              prev: DataFrame, base: Long): DataFrame = {
    val contrib = prev.join(deg, "id")
      .select(col("id").as("src"), expr("pr div outdeg").as("c"))
    edges.join(contrib, "src")
      .groupBy("dst").agg(sum("c").as("insum"))
      .select(col("dst").as("id"),
        expr(s"${base}L + (85L * insum) div 100L").as("pr"))
  }

  /** Full K-iteration chain on explicit relations: Seq(r0, r1, …, rK).
    * Exposed for the spec's planted-graph check.
    */
  private[graft] def chainOn(edges: DataFrame, deg: DataFrame,
                                 n: Long, iters: Int): Seq[DataFrame] = {
    val r0 = deg.select(col("id"), lit(Scale / n).as("pr"))
    val base = (15L * Scale) / (100L * n)
    (1 to iters).scanLeft(r0)((prev, _) => step(edges, deg, prev, base))
  }

  /** Registry-persisted iteration chain over the fixture graph. The
    * driver-side `deg.count()` is the one scalar the loop needs (|V|,
    * same bounded-stat discipline as the adaptive loop's decisions).
    */
  private def ranks(spark: SparkSession, sfDir: String, i: Int): DataFrame =
    CacheRegistry.cached(spark, s"graph.ranks$i:$sfDir") {
      val deg = degrees(spark, sfDir)
      val n = deg.count()
      if (i == 0) deg.select(col("id"), lit(Scale / n).as("pr"))
      else step(edges(spark, sfDir), deg, ranks(spark, sfDir, i - 1),
        (15L * Scale) / (100L * n))
    }

  /** Gated: node ranks after [[Iters]] rounds — the full (node_id, pr)
    * relation, hash-exact vs the unrolled-CTE oracle.
    */
  def pageRank(spark: SparkSession, sfDir: String): DataFrame =
    ranks(spark, sfDir, Iters)
      .select(col("id").as("node_id"), col("pr"))

  /** Gated: per-iteration convergence stats — L1 mass movement and the
    * count of nodes whose rank changed, exact integers. The fixed-point
    * loop's stopping criterion made visible (at 100 TB one would gate
    * the next iteration on l1_delta, exactly as the adaptive loop gates
    * its strategy on measured stats).
    */
  def pageRankConverge(spark: SparkSession, sfDir: String): DataFrame =
    (1 to Iters).map { i =>
      val a = ranks(spark, sfDir, i - 1).withColumnRenamed("pr", "pr_a")
      val b = ranks(spark, sfDir, i).withColumnRenamed("pr", "pr_b")
      a.join(b, "id").agg(
        sum(abs(col("pr_a") - col("pr_b"))).as("l1_delta"),
        sum(when(col("pr_a") =!= col("pr_b"), 1L).otherwise(0L)).as("moved"))
        .select(lit(i.toLong).as("it"), col("l1_delta"), col("moved"))
    }.reduce(_ unionByName _)

  /** Gated: degree histogram per graph side — the skew profile a 100 TB
    * run would read before choosing whether hub nodes need the salted
    * contribution aggregate.
    */
  def degreeHist(spark: SparkSession, sfDir: String): DataFrame =
    degrees(spark, sfDir)
      .select(
        when(col("id") % 2 === 1, lit("supplier")).otherwise(lit("customer")).as("side"),
        col("outdeg"))
      .groupBy("side", "outdeg").agg(count(lit(1)).as("nodes"))

  // ------------------------------------------------------------------
  // Triangle counting over the near-dup pair graph.
  // ------------------------------------------------------------------

  /** Gated: triangles + wedges of the MinHash-LSH near-dup graph — the
    * transitivity audit of the dedup cascade. Connected components
    * (`d_dedup_clusters`) treat similarity as transitive; this measures
    * how true that is: a clique-dense graph (3·triangles ≈ wedges)
    * means CC labels are safe, a path-dense one (triangles ≪ wedges)
    * means chains like A~B~C with A≁C are being merged — the
    * over-merge failure mode of template spam. Composes the gated
    * `d_minhash_lsh_pairs` relation (registry-persisted; fourth
    * consumer), like the other composition audits (`p_split_leakage`).
    *
    * Algorithm is the degree-ordered orientation count: orient every
    * edge from its (degree, id)-smaller endpoint, enumerate oriented
    * wedges (two out-edges of one node, heads ordered by (degree, id)),
    * and close each wedge against the oriented edge set — each triangle
    * is counted exactly once, at its lowest-degree vertex. The
    * orientation is the 100 TB lever: per-node oriented out-degree is
    * bounded by O(√|E|) on any graph (arboricity bound), so the wedge
    * relation stays near-linear even when a hub vertex has a huge raw
    * degree — the same hot-key discipline as the salted aggregates,
    * achieved by *orientation* instead of salting. All joins are
    * equi-joins on 8-byte ids; the pair relation is the only input
    * (document text is never touched).
    *
    * Output: one row — nodes/edges of the pair graph, undirected wedge
    * count Σ d(d−1)/2, and the exact triangle count (global
    * transitivity = 3·n_triangles / n_wedges, left as integers per the
    * parity rules).
    */
  def dupTriangles(spark: SparkSession, sfDir: String): DataFrame =
    trianglesOn(Dedup.minhashLshPairs(spark, sfDir)
      .select(col("id_a").as("u"), col("id_b").as("v")))

  /** Gated: the same audit over the SIMHASH pair graph — the
    * adversarial case for the orientation bound. At sf1 this graph has
    * 5.15 M edges with 86% of docs in one near-dup mega-component
    * (per-shard suffixed texts are near-dups of each other by
    * construction), i.e. exactly the shape where a raw-degree wedge
    * enumeration explodes. The gate carries the bound AS DATA:
    * `max_oriented_outdeg` is the largest per-node oriented out-degree,
    * measured ≤ √(2·|E|) by the arboricity argument (sf1: 671 vs the
    * 3208 line, 4.8× headroom; oriented wedges 590 M vs 3.36 B
    * undirected — the orientation is what keeps the close join
    * near-linear). Composes the gated `d_simhash_pairs` relation.
    */
  def dupTrianglesSimhash(spark: SparkSession, sfDir: String): DataFrame =
    trianglesOn(Dedup.simhashPairs(spark, sfDir)
      .select(col("id_a").as("u"), col("id_b").as("v")), withBound = true)

  /** The degree-ordered count over an explicit `(u, v)` edge relation
    * (u < v, one row per undirected edge) — the testable core.
    * `withBound` appends the measured orientation bound column
    * (max oriented out-degree) for the audit arms that gate it.
    */
  private[graft] def trianglesOn(e: DataFrame,
      withBound: Boolean = false): DataFrame = {
    val deg =
      e.select(col("u").as("id")).unionByName(e.select(col("v").as("id")))
        .groupBy("id").agg(count(lit(1)).as("d"))
    val du = deg.select(col("id").as("u"), col("d").as("du"))
    val dv = deg.select(col("id").as("v"), col("d").as("dv"))
    val keep = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    val o = e.join(du, "u").join(dv, "v").select(
      when(keep, col("u")).otherwise(col("v")).as("src"),
      when(keep, col("v")).otherwise(col("u")).as("dst"),
      when(keep, col("dv")).otherwise(col("du")).as("ddeg"))
    val w = o.as("o1").join(o.as("o2"),
        col("o1.src") === col("o2.src") &&
          (col("o1.ddeg") < col("o2.ddeg") ||
            (col("o1.ddeg") === col("o2.ddeg") && col("o1.dst") < col("o2.dst"))))
      .select(col("o1.dst").as("x"), col("o2.dst").as("y"))
    val tri = w.join(o, col("src") === col("x") && col("dst") === col("y"))
      .agg(count(lit(1)).as("n_triangles"))
    val nodeStats = deg.agg(count(lit(1)).as("n_nodes"),
      coalesce(sum(expr("d * (d - 1)")), lit(0L)).as("w2"))
    val edgeStats = e.agg(count(lit(1)).as("n_edges"))
    val base = nodeStats.crossJoin(edgeStats).crossJoin(tri).select(
      col("n_nodes"), col("n_edges"),
      expr("w2 div 2").as("n_wedges"), col("n_triangles"))
    if (!withBound) base
    else {
      val bound = o.groupBy("src").agg(count(lit(1)).as("odeg"))
        .agg(coalesce(max("odeg"), lit(0L)).as("max_oriented_outdeg"))
      base.crossJoin(bound)
    }
  }

  /** The triangle oracle text over an injected `pairs(id_a, id_b, …)`
    * CTE, so the minhash and simhash graphs share one body.
    */
  private def dupTrianglesSqlOver(pairsSql: String,
      withBound: Boolean = false): String = {
    val boundCol =
      if (withBound)
        ",\n  (SELECT COALESCE(max(odeg), 0) FROM" +
          " (SELECT src, CAST(count(*) AS BIGINT) AS odeg FROM o GROUP BY src) od)" +
          " AS max_oriented_outdeg"
      else ""
    s"""WITH cands AS ($pairsSql),
       |e AS (SELECT id_a AS u, id_b AS v FROM cands),
       |deg AS (
       |  SELECT id, CAST(count(*) AS BIGINT) AS d
       |  FROM (SELECT u AS id FROM e UNION ALL SELECT v AS id FROM e) x
       |  GROUP BY id),
       |o AS (
       |  SELECT
       |    CASE WHEN du.d < dv.d OR (du.d = dv.d AND e.u < e.v)
       |         THEN e.u ELSE e.v END AS src,
       |    CASE WHEN du.d < dv.d OR (du.d = dv.d AND e.u < e.v)
       |         THEN e.v ELSE e.u END AS dst,
       |    CASE WHEN du.d < dv.d OR (du.d = dv.d AND e.u < e.v)
       |         THEN dv.d ELSE du.d END AS ddeg
       |  FROM e JOIN deg du ON du.id = e.u JOIN deg dv ON dv.id = e.v),
       |w AS (
       |  SELECT o1.dst AS x, o2.dst AS y
       |  FROM o o1 JOIN o o2 ON o1.src = o2.src
       |  WHERE o1.ddeg < o2.ddeg OR (o1.ddeg = o2.ddeg AND o1.dst < o2.dst)),
       |tri AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_triangles
       |  FROM w JOIN o ON o.src = w.x AND o.dst = w.y)
       |SELECT
       |  (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_nodes,
       |  (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_edges,
       |  (SELECT COALESCE(CAST(sum(d * (d - 1)) AS BIGINT), 0) // 2 FROM deg)
       |    AS n_wedges,
       |  (SELECT n_triangles FROM tri) AS n_triangles$boundCol""".stripMargin
  }

  val dupTrianglesSql: String =
    dupTrianglesSqlOver(Dedup.minhashLshPairsSql)

  val dupTrianglesSimhashSql: String =
    dupTrianglesSqlOver(Dedup.simhashPairsSql, withBound = true)

  // ------------------------------------------------------------------
  // DuckDB oracles — the same graph + the same integer formula with the
  // K iterations unrolled as CTEs (`//` = BIGINT floor div; sums pass
  // through HUGEINT and are cast back, exact throughout).
  // ------------------------------------------------------------------

  private val graphDuck: String =
    s"""pairs AS MATERIALIZED (
       |  SELECT DISTINCT CAST(o_custkey AS BIGINT) * 2 AS cust,
       |    CAST(l_suppkey AS BIGINT) * 2 + 1 AS supp
       |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
       |edges AS MATERIALIZED (
       |  SELECT cust AS src, supp AS dst FROM pairs
       |  UNION ALL
       |  SELECT supp AS src, cust AS dst FROM pairs),
       |deg AS MATERIALIZED (SELECT src AS id, count(*) AS outdeg FROM edges GROUP BY src),
       |nn AS (SELECT count(*) AS n FROM deg),
       |r0 AS MATERIALIZED (SELECT id, (SELECT $Scale // n FROM nn) AS pr FROM deg)""".stripMargin

  private def iterDuck(i: Int): String =
    s"""c$i AS MATERIALIZED (
       |  SELECT r.id, r.pr // d.outdeg AS c
       |  FROM r${i - 1} r JOIN deg d USING (id)),
       |r$i AS MATERIALIZED (
       |  SELECT e.dst AS id,
       |    (SELECT (15 * $Scale) // (100 * n) FROM nn)
       |      + CAST((85 * sum(c.c)) // 100 AS BIGINT) AS pr
       |  FROM edges e JOIN c$i c ON c.id = e.src
       |  GROUP BY e.dst)""".stripMargin

  private val chainDuck: String =
    (graphDuck +: (1 to Iters).map(iterDuck)).mkString(",\n")

  val pageRankSql: String =
    s"""WITH $chainDuck
       |SELECT id AS node_id, pr FROM r$Iters""".stripMargin

  val pageRankConvergeSql: String = {
    val rows = (1 to Iters).map { i =>
      s"""SELECT CAST($i AS BIGINT) AS it,
         |  CAST(sum(abs(a.pr - b.pr)) AS BIGINT) AS l1_delta,
         |  CAST(sum(CASE WHEN a.pr <> b.pr THEN 1 ELSE 0 END) AS BIGINT) AS moved
         |FROM r${i - 1} a JOIN r$i b USING (id)""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH $chainDuck
       |$rows""".stripMargin
  }

  val degreeHistSql: String =
    s"""WITH $graphDuck
       |SELECT CASE WHEN id % 2 = 1 THEN 'supplier' ELSE 'customer' END AS side,
       |  outdeg, count(*) AS nodes
       |FROM deg GROUP BY 1, 2""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "g_pagerank" -> (pageRank _),
    "g_pagerank_converge" -> (pageRankConverge _),
    "g_degree_hist" -> (degreeHist _),
    "g_dup_triangles" -> (dupTriangles _),
    "g_dup_triangles_simhash" -> (dupTrianglesSimhash _))

  val oracles: Map[String, String] = Map(
    "g_pagerank" -> pageRankSql,
    "g_pagerank_converge" -> pageRankConvergeSql,
    "g_degree_hist" -> degreeHistSql,
    "g_dup_triangles" -> dupTrianglesSql,
    "g_dup_triangles_simhash" -> dupTrianglesSimhashSql)
}
