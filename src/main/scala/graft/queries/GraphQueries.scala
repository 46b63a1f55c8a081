package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.graph.Traversals

/** Driver-facing traversal queries (SURVEY §2.3 J2/J4/J5 — the var-length
  * Cypher patterns). The graph is derived deterministically from the part
  * table: every part key ≥ 2 has a single parent `key div 2`, giving a
  * binary tree of depth ~log2(N) that both Spark and the DuckDB oracle
  * (recursive CTE) can construct identically.
  *
  * Scale: each BFS/closure superstep is one join keyed on the frontier;
  * with AQE the (small) frontier side broadcasts, so the edge table is
  * never re-shuffled. Depth caps (10/15) mirror the reference's guards
  * (`query.go:209,250`).
  */
object GraphQueries {

  /** Child→parent tree edges. */
  private def treeEdges(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir)
      .filter(col("p_partkey") >= 2)
      .select(col("p_partkey").as("src"),
        expr("p_partkey div 2").as("dst"))

  private val treeSql =
    "SELECT p_partkey AS src, p_partkey // 2 AS dst FROM part WHERE p_partkey >= 2"

  // ---------------------------------------------------------------------
  // q17 — bounded min-depth reachability (J4 impact-analysis shape:
  // `CALLS*1..10` from a seed set, DISTINCT nodes with min depth).
  // Runs on Traversals.reachable, the GraphX Pregel engine that also
  // serves CodeGraph.impactAnalysis: one superstep barrier instead of
  // one driver-scheduled job per level. The seed set here is DERIVED
  // (every 97th part key), so it grows with the data — it goes in as a
  // DataFrame (vertex-join init), never collected: the form that holds
  // at 100 TB.
  // ---------------------------------------------------------------------
  def q17_bfs_reach(spark: SparkSession, dir: String): DataFrame = {
    val seeds = Tables.part(spark, dir)
      .filter(col("p_partkey") % 97 === 0)
      .select(col("p_partkey").as("id"))
    Traversals.reachable(treeEdges(spark, dir), seeds, 10)
      .orderBy(col("id"))
  }

  val q17_sql: String =
    s"""WITH RECURSIVE tree AS ($treeSql),
       |r(id, depth) AS (
       |  SELECT p_partkey, 0 FROM part WHERE p_partkey % 97 = 0
       |  UNION
       |  SELECT t.dst, r.depth + 1 FROM r JOIN tree t ON r.id = t.src
       |  WHERE r.depth < 10
       |)
       |SELECT id, MIN(depth) AS depth FROM r
       |WHERE depth >= 1
       |GROUP BY id
       |ORDER BY id""".stripMargin

  // ---------------------------------------------------------------------
  // q18 — transitive-closure depth histogram (J2/J6 CONTAINS* closure
  // shape: the materialized containment closure, aggregated by depth).
  // ---------------------------------------------------------------------
  def q18_closure_depths(spark: SparkSession, dir: String): DataFrame = {
    val parentChild = Tables.part(spark, dir)
      .filter(col("p_partkey") >= 2)
      .select(expr("p_partkey div 2").as("src"),
        col("p_partkey").as("dst"))
    // doubling engine: ⌈log2 12⌉ = 4 materializations instead of 12
    // (spec-tested against Traversals.paths from every node, which on
    // a forest yields exactly the closure)
    Traversals.closureTreeDoubling(parentChild, 12)
      .groupBy(col("depth"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("depth"))
  }

  val q18_sql: String =
    """WITH RECURSIVE tree AS (
      |  SELECT p_partkey // 2 AS src, p_partkey AS dst FROM part
      |  WHERE p_partkey >= 2),
      |cl(anc, des, depth) AS (
      |  SELECT src, dst, 1 FROM tree
      |  UNION
      |  SELECT cl.anc, t.dst, cl.depth + 1 FROM cl JOIN tree t
      |  ON cl.des = t.src WHERE cl.depth < 12
      |)
      |SELECT depth, COUNT(*) AS n_pairs FROM cl
      |GROUP BY depth
      |ORDER BY depth""".stripMargin

  // ---------------------------------------------------------------------
  // q19 — path capture (J5 data-lineage shape: `FLOWS_TO*1..15` with
  // nodes(path) returned). Paths rendered as '->' strings for the
  // hash compare.
  // ---------------------------------------------------------------------
  def q19_path_capture(spark: SparkSession, dir: String): DataFrame = {
    val seeds = Tables.part(spark, dir)
      .filter(col("p_partkey") % 199 === 0 && col("p_partkey") >= 2)
      .select(col("p_partkey").as("id"))
    // Pregel engine (one superstep barrier per hop, no per-level driver
    // scheduling); the DataFrame engine (Traversals.paths) is equality-
    // tested against it in TraversalsSpec. The derived seed set goes in
    // as a DataFrame (vertex-join init, nothing collected to the driver).
    Traversals.pathsGraphX(spark, treeEdges(spark, dir), seeds, 15)
      .select(col("start").as("start_id"), col("end").as("end_id"),
        col("depth"), array_join(col("path"), "->").as("path"))
      .orderBy(col("start_id"), col("depth"))
  }

  val q19_sql: String =
    s"""WITH RECURSIVE tree AS ($treeSql),
       |p(start_id, end_id, depth, path) AS (
       |  SELECT src, dst, 1,
       |         CAST(src AS VARCHAR) || '->' || CAST(dst AS VARCHAR)
       |  FROM tree WHERE src % 199 = 0
       |  UNION ALL
       |  SELECT p.start_id, t.dst, p.depth + 1,
       |         p.path || '->' || CAST(t.dst AS VARCHAR)
       |  FROM p JOIN tree t ON p.end_id = t.src WHERE p.depth < 15
       |)
       |SELECT start_id, end_id, depth, path FROM p
       |ORDER BY start_id, depth""".stripMargin

  // ---------------------------------------------------------------------
  // q69 — call-centrality ranking via INTEGER PageRank (5 synchronized
  // iterations, ppm arithmetic — bit-identical on any engine, unrolled
  // into plain CTEs for the oracle). Graph = the part tree plus a
  // deterministic (v² mod 1000) shortcut edge per node for density —
  // a stand-in for the CALLS graph's "which function is load-bearing"
  // ranking the reference answers with traversal counts.
  // ---------------------------------------------------------------------
  private val PrIters = 5

  private def prEdges(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(spark, dir)
    val tree = p.filter(col("p_partkey") >= 2)
      .select(col("p_partkey").as("src"),
        expr("p_partkey div 2").as("dst"))
    val shortcut = p
      .filter(expr("p_partkey != (p_partkey * p_partkey) % 1000"))
      .select(col("p_partkey").as("src"),
        expr("(p_partkey * p_partkey) % 1000").as("dst"))
    tree.unionAll(shortcut)
  }

  private val prEdgesSql =
    """SELECT p_partkey AS src, p_partkey // 2 AS dst FROM part
      |  WHERE p_partkey >= 2
      |  UNION ALL
      |  SELECT p_partkey, (p_partkey * p_partkey) % 1000 FROM part
      |  WHERE p_partkey <> (p_partkey * p_partkey) % 1000""".stripMargin

  def q69_pagerank(spark: SparkSession, dir: String): DataFrame =
    graft.graph.Centrality
      .personalizedPageRankInteger(prEdges(spark, dir), _ => true, PrIters)
      .orderBy(col("rank_ppm").desc, col("id"))
      .limit(50)

  val q69_sql: String =
    s"""WITH ${graft.graph.Centrality
          .personalizedPageRankIntegerSql(prEdgesSql, "TRUE", PrIters)}
       |SELECT id, CAST(rank_ppm AS BIGINT) AS rank_ppm FROM r$PrIters
       |ORDER BY rank_ppm DESC, id
       |LIMIT 50""".stripMargin

  /** The undirected part graph of q95/q137/q185: each part p ≥ 2 links
    * to p div 2 and to p − 1, canonicalized to distinct pairs a < b. */
  private def partEdges(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(spark, dir).filter(col("p_partkey") >= 2)
    p.select(col("p_partkey").as("s"), expr("p_partkey div 2").as("d"))
      .unionAll(p.select(col("p_partkey").as("s"),
        (col("p_partkey") - 1).as("d")))
      .select(least(col("s"), col("d")).as("a"),
        greatest(col("s"), col("d")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
  }

  // ---------------------------------------------------------------------
  // q95 — triangle counting (per-node, top 10): the standard graph-
  // cohesion metric, on the tree ∪ predecessor-chain graph (every odd
  // k ≥ 3 closes the triangle {k, k−1, k div 2}, so triangles are
  // dense and deterministic). Edges canonicalize to ordered pairs
  // a < b < c, so each triangle materializes exactly once and the
  // wedge join (e1.b = e2.a) plus the closing-edge join are plain
  // equi-joins — Σ deg² wedge work spread by hash partitioning, no
  // driver-side graph. Per-node membership = explode the 3 corners.
  // On skewed degree distributions, orient wedges from the lower-
  // degree endpoint (compact-forward) before the join to bound the
  // per-key fan-out; this graph's degree is ≤ 3 so id order suffices.
  // ---------------------------------------------------------------------
  def q95_triangles(spark: SparkSession, dir: String): DataFrame = {
    val und = partEdges(spark, dir)
    val tri = und.as("e1")
      .join(und.as("e2"), col("e1.b") === col("e2.a"))
      .join(und.as("e3"), col("e3.a") === col("e1.a") &&
        col("e3.b") === col("e2.b"))
      .select(col("e1.a").as("x"), col("e1.b").as("y"),
        col("e2.b").as("z"))
    tri.select(explode(array(col("x"), col("y"), col("z"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_triangles"))
      .orderBy(col("n_triangles").desc, col("node"))
      .limit(10)
  }

  val q95_sql: String =
    """WITH raw AS (
      |  SELECT p_partkey AS s, p_partkey // 2 AS d FROM part
      |  WHERE p_partkey >= 2
      |  UNION ALL
      |  SELECT p_partkey, p_partkey - 1 FROM part WHERE p_partkey >= 2),
      |und AS (
      |  SELECT DISTINCT least(s, d) AS a, greatest(s, d) AS b
      |  FROM raw WHERE s <> d),
      |tri AS (
      |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
      |  FROM und e1
      |  JOIN und e2 ON e1.b = e2.a
      |  JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b),
      |corners AS (
      |  SELECT unnest([x, y, z]) AS node FROM tri)
      |SELECT node, COUNT(*) AS n_triangles
      |FROM corners
      |GROUP BY node
      |ORDER BY n_triangles DESC, node
      |LIMIT 10""".stripMargin

  // ---------------------------------------------------------------------
  // q166 — community detection via deterministic label propagation
  // (synchronous rounds, smallest-label tie-break — Communities.scala).
  // Graph = hub-and-spoke blocks of 50 partkeys (every key links to its
  // block hub) bridged by the predecessor chain: LPA must both flood
  // (chain, all neighbour counts 1 → min label wins) and take a genuine
  // majority (hubs see 49 spoke labels vs 2 chain labels), so the mode
  // step is exercised, not just the tie-break. Communities converge on
  // the blocks; output = community sizes. The Spark loop and the DuckDB
  // CTE chain are emitted from the same module so they cannot drift.
  // ---------------------------------------------------------------------
  private val LpIters = 4

  private def lpEdges(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(spark, dir).select(col("p_partkey").as("k"))
    p.filter(col("k") % 50 =!= 0)
      .select(col("k").as("src"), (col("k") - col("k") % 50).as("dst"))
      .unionByName(p.filter(col("k") >= 2)
        .select(col("k").as("src"), (col("k") - 1).as("dst")))
  }

  private val lpEdgesSql =
    """SELECT p_partkey AS src, p_partkey - (p_partkey % 50) AS dst
      |  FROM part WHERE p_partkey % 50 <> 0
      |  UNION ALL
      |  SELECT p_partkey, p_partkey - 1 FROM part
      |  WHERE p_partkey >= 2""".stripMargin

  def q166_label_propagation(spark: SparkSession, dir: String): DataFrame =
    graft.graph.Communities
      .labelPropagation(lpEdges(spark, dir), LpIters)
      .groupBy(col("label").as("community"))
      .agg(count(lit(1)).as("n_members"))
      .orderBy(col("n_members").desc, col("community"))
      .limit(25)

  val q166_sql: String =
    s"""WITH ${graft.graph.Communities
          .labelPropagationSql(lpEdgesSql, LpIters)}
       |SELECT label AS community, COUNT(*) AS n_members
       |FROM l$LpIters
       |GROUP BY label
       |ORDER BY n_members DESC, community
       |LIMIT 25""".stripMargin

  // ---------------------------------------------------------------------
  // q302 — modularity of the q166 label-propagation communities (Newman
  // & Girvan 2004): Q = Σ_c [e_c/m − (d_c/2m)²], evaluated on the
  // symmetrized edge set S (|S| = 2m, within-community directed pairs
  // E_c = 2e_c, degree mass D_c), so Q·10⁶ = Σ_c (S·E_c − D_c²)·10⁶ /
  // S² — pure integers in DECIMAL(38)/HUGEINT, signs handled by
  // sign·(abs div) since per-community contributions CAN be negative
  // (Spark div truncates, DuckDB // floors). This is the quality gate
  // for any community detector at scale: three hash aggs + two
  // label-lookup joins after the (already oracle-gated) LPA labels.
  // Output: top-25 communities by size with their contribution, plus
  // the global Q as a constant column.
  // ---------------------------------------------------------------------
  def q302_modularity(spark: SparkSession, dir: String): DataFrame = {
    val raw = lpEdges(spark, dir)
      .select(col("src").cast("long"), col("dst").cast("long"))
    val sym = raw
      .unionByName(raw.select(col("dst").as("src"), col("src").as("dst")))
      .filter(col("src") =!= col("dst")).distinct()
      .localCheckpoint(eager = true) // degrees, e_in, |S| consumers
    val lab = graft.graph.Communities
      .labelPropagation(lpEdges(spark, dir), LpIters)
      .localCheckpoint(eager = true) // two endpoint joins + sizes
    val ein = sym
      .join(lab.select(col("id").as("src"), col("label").as("sl")),
        Seq("src"))
      .join(lab.select(col("id").as("dst"), col("label").as("dl")),
        Seq("dst"))
      .filter(col("sl") === col("dl"))
      .groupBy(col("sl").as("label")).agg(count(lit(1)).as("e2"))
    val dsum = sym.groupBy(col("src").as("id"))
      .agg(count(lit(1)).as("d"))
      .join(lab, Seq("id"))
      .groupBy(col("label")).agg(sum(col("d")).as("dc"))
    val mem = lab.groupBy(col("label")).agg(count(lit(1)).as("n_members"))
    val s = sym.agg(count(lit(1)).as("s"))
    val per = mem.join(dsum, Seq("label"))
      .join(ein, Seq("label"), "left_outer")
      .na.fill(0L, Seq("e2"))
      .crossJoin(broadcast(s))
      .withColumn("num", expr(
        "cast(s as decimal(38,0)) * e2 - cast(dc as decimal(38,0)) * dc"))
      .withColumn("q_ppm", expr(
        "cast(sign(num) * (abs(num) * 1000000 div " +
          "(cast(s as decimal(38,0)) * s)) as bigint)"))
      .localCheckpoint(eager = true) // total AND top-25 consumers
    val tot = per.agg(sum(col("num")).as("tnum"),
        max(col("s")).as("s"))
      .withColumn("q_total_ppm", expr(
        "cast(sign(tnum) * (abs(tnum) * 1000000 div " +
          "(cast(s as decimal(38,0)) * s)) as bigint)"))
      .select(col("q_total_ppm"))
    per.crossJoin(broadcast(tot))
      .select(col("label").as("community"), col("n_members"),
        col("e2").as("e_in2"), col("dc").as("d_sum"), col("q_ppm"),
        col("q_total_ppm"))
      .orderBy(col("n_members").desc, col("community"))
      .limit(25)
  }

  val q302_sql: String =
    s"""WITH ${graft.graph.Communities
          .labelPropagationSql(lpEdgesSql, LpIters)},
       |lab AS (SELECT id, label FROM l$LpIters),
       |ein AS (
       |  SELECT a.label, COUNT(*) AS e2
       |  FROM sym JOIN lab a ON a.id = sym.src
       |  JOIN lab b ON b.id = sym.dst
       |  WHERE a.label = b.label GROUP BY 1),
       |dsum AS (
       |  SELECT l.label, SUM(d.d) AS dc FROM (
       |    SELECT src AS id, COUNT(*) AS d FROM sym GROUP BY 1) d
       |  JOIN lab l ON l.id = d.id GROUP BY 1),
       |mem AS (SELECT label, COUNT(*) AS n_members FROM lab GROUP BY 1),
       |sz AS (SELECT CAST(COUNT(*) AS HUGEINT) AS s FROM sym),
       |per AS (
       |  SELECT m.label, m.n_members, COALESCE(e.e2, 0) AS e2, d.dc,
       |    sz.s, sz.s * COALESCE(e.e2, 0) -
       |      CAST(d.dc AS HUGEINT) * d.dc AS num
       |  FROM mem m JOIN dsum d ON d.label = m.label
       |  LEFT JOIN ein e ON e.label = m.label CROSS JOIN sz),
       |tot AS (
       |  SELECT CAST(sign(SUM(num)) * (abs(SUM(num)) * 1000000
       |    // (MAX(s) * MAX(s))) AS BIGINT) AS q_total_ppm
       |  FROM per)
       |SELECT label AS community, CAST(n_members AS BIGINT) AS n_members,
       |  CAST(e2 AS BIGINT) AS e_in2, CAST(dc AS BIGINT) AS d_sum,
       |  CAST(sign(num) * (abs(num) * 1000000 // (s * s)) AS BIGINT)
       |    AS q_ppm,
       |  (SELECT q_total_ppm FROM tot) AS q_total_ppm
       |FROM per
       |ORDER BY n_members DESC, community
       |LIMIT 25""".stripMargin

  // ---------------------------------------------------------------------
  // q169 — ANF neighborhood function over the same block graph: per
  // depth 1..3, how many nodes the average t-hop ball reaches, via KMV
  // sketch propagation (Communities.neighborhoodFunction — k=8
  // registers of 60-bit hashes, integer-exact estimator, so the
  // "approximate" sketch is bit-reproducible and DuckDB-oracled). The
  // all-balls-at-once shape is what replaces O(V·E) per-node BFS at
  // 100 TB graph scale; effective diameter reads off N(t) directly.
  // ---------------------------------------------------------------------
  private val AnfDepth = 3
  private val AnfK = 8

  def q169_neighborhood_function(spark: SparkSession, dir: String)
      : DataFrame =
    graft.graph.Communities
      .neighborhoodFunction(lpEdges(spark, dir), AnfDepth, AnfK)
      .orderBy(col("depth"))

  val q169_sql: String =
    s"""WITH ${graft.graph.Communities
          .neighborhoodFunctionSql(lpEdgesSql, AnfDepth, AnfK)}
       |SELECT depth, n_nodes, sum_ball_est FROM nf
       |ORDER BY depth""".stripMargin

  // ---------------------------------------------------------------------
  // q170 — DeepWalk-style random-walk corpus over the block graph: 6-hop
  // walks from every 37th node, next hop = hash-argmin over neighbours
  // (Walks.deterministicWalks) — the node "sentences" graph-embedding
  // training consumes, generated as a pure function of (graph, walk_id)
  // so the corpus is reproducible across engines and reruns, and the
  // DuckDB mirror replays the identical walks.
  // ---------------------------------------------------------------------
  private val WalkSteps = 6

  def q170_random_walks(spark: SparkSession, dir: String): DataFrame =
    graft.graph.Walks
      .deterministicWalks(lpEdges(spark, dir), col("id") % 37 === 0,
        WalkSteps)
      .orderBy(col("walk_id"))

  val q170_sql: String =
    s"""WITH ${graft.graph.Walks
          .deterministicWalksSql(lpEdgesSql, "id % 37 = 0", WalkSteps)}
       |SELECT walk_id, cur AS final_node, path FROM w$WalkSteps
       |ORDER BY walk_id""".stripMargin

  // ---------------------------------------------------------------------
  // q136 — HITS hubs & authorities (Kleinberg), the complementary
  // centrality to q69: a node is a good HUB if it calls good
  // authorities, a good AUTHORITY if good hubs call it — "utility
  // modules" vs "orchestrators" over a call graph. Integer ppm
  // fixed-point with max-normalization (no float sqrt), so the unrolled
  // DuckDB CTE mirror is bit-identical. Scale: two endpoint-keyed
  // partial-agg joins per iteration + two single-row max broadcasts;
  // the edge table never re-shuffles.
  // ---------------------------------------------------------------------
  private val HitsIters = 3

  def q136_hits(spark: SparkSession, dir: String): DataFrame =
    graft.graph.Centrality.hitsInteger(prEdges(spark, dir), HitsIters)
      .orderBy(col("auth_ppm").desc, col("id"))
      .limit(20)

  val q136_sql: String =
    s"""WITH ${graft.graph.Centrality.hitsIntegerSql(prEdgesSql, HitsIters)}
       |SELECT n.id, CAST(h.h AS BIGINT) AS hub_ppm,
       |       CAST(a.a AS BIGINT) AS auth_ppm
       |FROM nodes n
       |JOIN h$HitsIters h ON h.id = n.id
       |JOIN a$HitsIters a ON a.id = n.id
       |ORDER BY auth_ppm DESC, n.id
       |LIMIT 20""".stripMargin

  // ---------------------------------------------------------------------
  // q137 — local clustering coefficient: how interconnected each node's
  // neighborhood is, lcc(v) = 2·T(v) / (deg(v)·(deg(v)−1)), reported in
  // ppm integer arithmetic so both engines agree exactly. Reuses the
  // q95 triangle machinery (canonicalized a<b<c wedge join — each
  // triangle counted once); degree is one groupBy over the undirected
  // edge list. Scale: Σ deg² wedge work hash-partitioned; per-node
  // combine is linear.
  // ---------------------------------------------------------------------
  def q137_clustering_coeff(spark: SparkSession, dir: String): DataFrame = {
    val und = partEdges(spark, dir)
      .localCheckpoint(eager = true)
    val deg = und.select(col("a").as("node"))
      .unionAll(und.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("degree"))
    val tri = und.as("e1")
      .join(und.as("e2"), col("e1.b") === col("e2.a"))
      .join(und.as("e3"), col("e3.a") === col("e1.a") &&
        col("e3.b") === col("e2.b"))
      .select(explode(array(col("e1.a"), col("e1.b"), col("e2.b")))
        .as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_triangles"))
    deg.join(tri, Seq("node"), "left_outer")
      .select(col("node"), col("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
      .withColumn("lcc_ppm",
        when(col("degree") >= 2,
          expr("(2 * n_triangles * 1000000) div (degree * (degree - 1))"))
          .otherwise(lit(0L)))
      .orderBy(col("lcc_ppm").desc, col("node"))
      .limit(20)
  }

  val q137_sql: String =
    """WITH raw AS (
      |  SELECT p_partkey AS s, p_partkey // 2 AS d FROM part
      |  WHERE p_partkey >= 2
      |  UNION ALL
      |  SELECT p_partkey, p_partkey - 1 FROM part WHERE p_partkey >= 2),
      |und AS (
      |  SELECT DISTINCT least(s, d) AS a, greatest(s, d) AS b
      |  FROM raw WHERE s <> d),
      |deg AS (
      |  SELECT node, COUNT(*) AS degree FROM
      |    (SELECT a AS node FROM und UNION ALL SELECT b FROM und)
      |  GROUP BY node),
      |tri AS (
      |  SELECT unnest([e1.a, e1.b, e2.b]) AS node
      |  FROM und e1
      |  JOIN und e2 ON e1.b = e2.a
      |  JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b),
      |tcnt AS (SELECT node, COUNT(*) AS n_triangles FROM tri GROUP BY node)
      |SELECT deg.node, deg.degree,
      |       COALESCE(tcnt.n_triangles, 0) AS n_triangles,
      |       CASE WHEN deg.degree >= 2 THEN
      |         (2 * COALESCE(tcnt.n_triangles, 0) * 1000000)
      |           // (deg.degree * (deg.degree - 1))
      |       ELSE 0 END AS lcc_ppm
      |FROM deg LEFT JOIN tcnt ON tcnt.node = deg.node
      |ORDER BY lcc_ppm DESC, deg.node
      |LIMIT 20""".stripMargin

  // ---------------------------------------------------------------------
  // q140 — personalized PageRank: teleport mass restricted to a seed
  // set (every 97th node, same derived-seed flavor as q17) — the
  // "related to THIS function" ranking, vs q69's global importance.
  // Seeds are an id predicate evaluated in the vertex initialiser;
  // nothing is collected. Same engine and edges as q69.
  // ---------------------------------------------------------------------
  def q140_personalized_pagerank(spark: SparkSession, dir: String)
      : DataFrame =
    graft.graph.Centrality
      .personalizedPageRankInteger(prEdges(spark, dir), _ % 97 == 0,
        PrIters)
      .filter(col("rank_ppm") > 0)
      .orderBy(col("rank_ppm").desc, col("id"))
      .limit(50)

  val q140_sql: String =
    s"""WITH ${graft.graph.Centrality
        .personalizedPageRankIntegerSql(prEdgesSql, "n.id % 97 = 0", PrIters)}
       |SELECT id, CAST(rank_ppm AS BIGINT) AS rank_ppm FROM r$PrIters
       |WHERE rank_ppm > 0
       |ORDER BY rank_ppm DESC, id
       |LIMIT 50""".stripMargin

  // ---------------------------------------------------------------------
  // q143 — k-core decomposition (k=3, bounded peeling): iteratively
  // drop nodes with degree < 3 and their incident edges; what survives
  // is the densely-connected "core" — the standard graph-summarization
  // cut (core members of a call graph are the tangled subsystems).
  // KCoreRounds synchronized peeling rounds (enough for this graph to
  // reach its fixpoint; the round count is a model constant, so the
  // DuckDB mirror unrolls it exactly). Scale: each round is one degree
  // groupBy + two semi-joins keyed on the edge endpoints — linear per
  // round, and the edge set only shrinks.
  // ---------------------------------------------------------------------
  private val KCoreRounds = 6

  def q143_kcore(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(spark, dir).filter(col("p_partkey") >= 2)
    val raw = p.select(col("p_partkey").as("s"),
        expr("p_partkey div 2").as("d"))
      .unionAll(p.select(col("p_partkey").as("s"),
        (col("p_partkey") - 1).as("d")))
    var e = raw.select(least(col("s"), col("d")).as("a"),
        greatest(col("s"), col("d")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
      .localCheckpoint(eager = true)
    for (i <- 1 to KCoreRounds) {
      val keep = e.select(col("a").as("node"))
        .unionAll(e.select(col("b").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("degree"))
        .filter(col("degree") >= 3)
        .select(col("node"))
      // e feeds the degree groupBy AND both semi-join probes — the
      // dual-consumer rule: materialize per round (the set only shrinks)
      e = e.join(keep.withColumnRenamed("node", "a"), Seq("a"), "left_semi")
        .join(keep.withColumnRenamed("node", "b"), Seq("b"), "left_semi")
        .select(col("a"), col("b"))
        .localCheckpoint(eager = true)
    }
    e.select(col("a").as("node"))
      .unionAll(e.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("core_degree"))
      .orderBy(col("core_degree").desc, col("node"))
      .limit(50)
  }

  val q143_sql: String = {
    val rounds = (1 to KCoreRounds).map { i =>
      // MATERIALIZED: each round reads the previous one 3×; inlined
      // CTEs would expand the scan tree exponentially in the rounds.
      s"""k$i AS MATERIALIZED (
         |  SELECT node FROM (
         |    SELECT node, COUNT(*) AS degree FROM
         |      (SELECT a AS node FROM e${i - 1}
         |       UNION ALL SELECT b FROM e${i - 1})
         |    GROUP BY node)
         |  WHERE degree >= 3),
         |e$i AS MATERIALIZED (
         |  SELECT e.a, e.b FROM e${i - 1} e
         |  JOIN k$i x ON x.node = e.a
         |  JOIN k$i y ON y.node = e.b)""".stripMargin
    }.mkString(",\n")
    s"""WITH raw AS (
       |  SELECT p_partkey AS s, p_partkey // 2 AS d FROM part
       |  WHERE p_partkey >= 2
       |  UNION ALL
       |  SELECT p_partkey, p_partkey - 1 FROM part WHERE p_partkey >= 2),
       |e0 AS MATERIALIZED (
       |  SELECT DISTINCT least(s, d) AS a, greatest(s, d) AS b
       |  FROM raw WHERE s <> d),
       |$rounds
       |SELECT node, COUNT(*) AS core_degree FROM
       |  (SELECT a AS node FROM e$KCoreRounds
       |   UNION ALL SELECT b FROM e$KCoreRounds)
       |GROUP BY node
       |ORDER BY core_degree DESC, node
       |LIMIT 50""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q154 — weighted multi-source shortest paths (bounded Bellman-Ford,
  // 8 relaxation rounds, min-plus in plain integers): "cheapest call
  // chain from the seed set" (every 97th node — the tree root has no
  // out-edges, so single-source from it is empty by construction) — the weighted companion to q17's
  // unweighted BFS. Edge weight = src % 10 + 1 (a deterministic
  // per-edge cost both engines derive identically). Null is +∞; the
  // oracle unrolls the same rounds as MATERIALIZED CTEs (each round
  // reads its predecessor twice — q143's lesson).
  // ---------------------------------------------------------------------
  private val SsspRounds = 8

  def q154_sssp(spark: SparkSession, dir: String): DataFrame =
    graft.graph.Centrality
      .sssp(prEdges(spark, dir).withColumn("w",
          col("src") % 10 + 1), col("id") % 97 === 0, SsspRounds)
      .filter(col("dist").isNotNull)
      .orderBy(col("dist"), col("id"))
      .limit(50)

  val q154_sql: String =
    s"""WITH ${graft.graph.Centrality.ssspSql(
          s"""SELECT src, dst, src % 10 + 1 AS w FROM (
             |    SELECT p_partkey AS src, p_partkey // 2 AS dst FROM part
             |    WHERE p_partkey >= 2
             |    UNION ALL
             |    SELECT p_partkey, (p_partkey * p_partkey) % 1000 FROM part
             |    WHERE p_partkey <> (p_partkey * p_partkey) % 1000)""".stripMargin,
          "n.id % 97 = 0", SsspRounds)}
       |SELECT id, CAST(dist AS BIGINT) AS dist FROM d$SsspRounds
       |WHERE dist IS NOT NULL
       |ORDER BY dist, id
       |LIMIT 50""".stripMargin

  // -------------------------------------------------------------------
  // q185 — link prediction by common-neighbor scores: for every
  // NON-adjacent node pair sharing at least one neighbor, the
  // common-neighbor count and the resource-allocation index
  // RA = Σ_v 10⁶ div deg(v) over shared neighbors v (Zhou et al. 2009
  // — Adamic-Adar's integer-friendly sibling: a shared HUB neighbor is
  // weak evidence, a shared low-degree neighbor strong). Top 20 by RA.
  //
  // Scale shape: candidates come from the wedge join (neighbors-of-v
  // paired, v's contribution attached), the same deg²-bounded fan-out
  // as q95/q137 — real pipelines cap the hub degree first and this
  // graph's degree is ≤4 by construction. Scoring is one groupBy on
  // the pair; existing edges leave via an anti-join. Nothing is
  // collected; the candidate set never materializes corpus².
  // -------------------------------------------------------------------
  def q185_link_prediction(spark: SparkSession, dir: String): DataFrame = {
    val und = partEdges(spark, dir)
      .localCheckpoint(eager = true) // neighbors + the edge anti-join
    val nbr = und.select(col("a").as("v"), col("b").as("n"))
      .unionAll(und.select(col("b").as("v"), col("a").as("n")))
    val deg = nbr.groupBy(col("n").as("v")).agg(count(lit(1)).as("deg"))
      .withColumnRenamed("v", "hub")
    val wedges = nbr.as("x")
      .join(nbr.as("y"),
        col("x.n") === col("y.n") && col("x.v") < col("y.v"))
      .select(col("x.v").as("u"), col("y.v").as("w"), col("x.n").as("via"))
    val scored = wedges
      .join(deg, col("via") === col("hub"))
      .groupBy(col("u"), col("w"))
      .agg(count(lit(1)).as("common_nbrs"),
        sum(expr("1000000 div deg")).as("ra_ppm"))
    scored
      .join(und, col("u") === col("a") && col("w") === col("b"),
        "left_anti")
      .orderBy(col("ra_ppm").desc, col("u"), col("w"))
      .limit(20)
  }

  val q185_sql: String =
    """WITH raw AS (
      |  SELECT p_partkey AS s, p_partkey // 2 AS d FROM part
      |  WHERE p_partkey >= 2
      |  UNION ALL
      |  SELECT p_partkey, p_partkey - 1 FROM part WHERE p_partkey >= 2),
      |und AS (
      |  SELECT DISTINCT least(s, d) AS a, greatest(s, d) AS b
      |  FROM raw WHERE s <> d),
      |nbr AS (
      |  SELECT a AS v, b AS n FROM und
      |  UNION ALL SELECT b, a FROM und),
      |deg AS (SELECT n AS hub, CAST(COUNT(*) AS BIGINT) AS deg
      |        FROM nbr GROUP BY n),
      |wedges AS (
      |  SELECT x.v AS u, y.v AS w, x.n AS via
      |  FROM nbr x JOIN nbr y ON x.n = y.n AND x.v < y.v),
      |scored AS (
      |  SELECT u, w, CAST(COUNT(*) AS BIGINT) AS common_nbrs,
      |    CAST(SUM(1000000 // deg) AS BIGINT) AS ra_ppm
      |  FROM wedges JOIN deg ON via = hub
      |  GROUP BY u, w)
      |SELECT u, w, common_nbrs, ra_ppm
      |FROM scored ANTI JOIN und ON u = a AND w = b
      |ORDER BY ra_ppm DESC, u, w
      |LIMIT 20""".stripMargin

  // ---------------------------------------------------------------------
  // q217 — harmonic centrality (Boldi/Vigna 2014, the "which nodes can
  // reach everything fast" ranking that, unlike closeness, stays
  // well-defined on disconnected graphs): for 8 deterministic seeds,
  // H(s) = Σ_{v≠s, d(s,v)≤6} 10⁶ div d(s,v) over hop distances on the
  // part-derived graph. One multi-source BFS computes all seeds at
  // once (frontier carries the seed id); the oracle unrolls the same
  // levels as chained CTEs.
  // ---------------------------------------------------------------------
  private val HcHops = 6

  private def hcSeedsSql: String =
    "SELECT p_partkey AS id FROM part WHERE p_partkey <= 8"

  def q217_harmonic_centrality(spark: SparkSession, dir: String)
      : DataFrame = {
    val seeds = Tables.part(spark, dir)
      .filter(col("p_partkey") <= 8)
      .select(col("p_partkey").as("id"))
    graft.graph.Centrality
      .multiSourceBfs(prEdges(spark, dir), seeds, HcHops)
      .filter(col("id") =!= col("seed"))
      .groupBy(col("seed"))
      .agg(count(lit(1)).as("n_reached"),
        sum(expr("1000000 div dist")).as("harmonic_ppm"))
      .orderBy(col("harmonic_ppm").desc, col("seed"))
  }

  val q217_sql: String =
    s"""WITH ${graft.graph.Centrality
         .multiSourceBfsSql(prEdgesSql, hcSeedsSql, HcHops)}
       |SELECT seed, COUNT(*) AS n_reached,
       |  CAST(SUM(1000000 // dist) AS BIGINT) AS harmonic_ppm
       |FROM b$HcHops WHERE id <> seed
       |GROUP BY seed
       |ORDER BY harmonic_ppm DESC, seed""".stripMargin

  // ---------------------------------------------------------------------
  // q218 — eccentricity / diameter lower bound from the SAME BFS
  // engine: per seed, the farthest settled node within the hop cap;
  // the max over seeds lower-bounds the graph diameter (the standard
  // sampled-BFS diameter estimate — exact BFS from a seed sample
  // instead of an all-pairs pass).
  // ---------------------------------------------------------------------
  def q218_eccentricity(spark: SparkSession, dir: String): DataFrame = {
    val seeds = Tables.part(spark, dir)
      .filter(col("p_partkey") <= 8)
      .select(col("p_partkey").as("id"))
    val bfs = graft.graph.Centrality
      .multiSourceBfs(prEdges(spark, dir), seeds, HcHops)
    val ecc = bfs.groupBy(col("seed"))
      .agg(max(col("dist")).as("eccentricity_capped"),
        count(lit(1)).as("n_settled"))
    ecc.crossJoin(broadcast(
        ecc.agg(max(col("eccentricity_capped")).as("diameter_lb"))))
      .orderBy(col("seed"))
  }

  val q218_sql: String =
    s"""WITH ${graft.graph.Centrality
         .multiSourceBfsSql(prEdgesSql, hcSeedsSql, HcHops)},
       |ecc AS (
       |  SELECT seed, MAX(dist) AS eccentricity_capped,
       |    COUNT(*) AS n_settled
       |  FROM b$HcHops GROUP BY seed)
       |SELECT seed, eccentricity_capped, n_settled,
       |  (SELECT MAX(eccentricity_capped) FROM ecc) AS diameter_lb
       |FROM ecc ORDER BY seed""".stripMargin

  // ---------------------------------------------------------------------
  // q257 — landmark (pivot) distance oracle: precompute BFS distances
  // from a small landmark set L, then answer point distance queries
  // d(u,w) with the sketch estimate d̂ = min_{l∈L} d(u,l)+d(l,w)
  // (Potamias et al. 2009, the standard shortest-path index for
  // social-scale graphs where per-query BFS is unaffordable). An exact
  // multi-source BFS from a BOUNDED source sample audits the estimate:
  // stretch_ppm = d̂·10⁶ div d ≥ 10⁶ by the triangle inequality (the
  // graph is symmetrized, so landmark distances are admissible upper
  // bounds), with equality whenever some landmark lies on a shortest
  // u–w path.
  //
  // Scale shape: the landmark pass is ONE multi-source BFS carrying
  // |L| seeds (state O(|L|·V), the precomputed index a real system
  // materializes once); query evaluation is two broadcast-pruned joins
  // on the landmark id — never a per-query traversal. BOTH sample sets
  // are capped at ANY scale: landmarks at ≤205 (p_partkey ≤ 60000 —
  // published landmark indexes use a FIXED landmark budget, so |L|
  // must not grow with the corpus or the index state turns
  // O(n·ball)), and the exact audit side at ≤207 sources
  // (p_partkey ≤ 20000), the same bounded-exactness-baseline
  // discipline as q68's ANN recall audit. Only the target set scales
  // with n, keeping pairs linear.
  // ---------------------------------------------------------------------
  private val LdHops = 12

  private def undSymSql: String =
    """SELECT a AS src, b AS dst FROM (
      |    SELECT DISTINCT least(s, d) AS a, greatest(s, d) AS b FROM (
      |      SELECT p_partkey AS s, p_partkey // 2 AS d FROM part
      |      WHERE p_partkey >= 2
      |      UNION ALL
      |      SELECT p_partkey, p_partkey - 1 FROM part WHERE p_partkey >= 2)
      |    WHERE s <> d)
      |  UNION ALL
      |  SELECT b, a FROM (
      |    SELECT DISTINCT least(s, d) AS a, greatest(s, d) AS b FROM (
      |      SELECT p_partkey AS s, p_partkey // 2 AS d FROM part
      |      WHERE p_partkey >= 2
      |      UNION ALL
      |      SELECT p_partkey, p_partkey - 1 FROM part WHERE p_partkey >= 2)
      |    WHERE s <> d)""".stripMargin

  /** [[partEdges]] in both directions — the shared substrate of
    * q257/q259. */
  private def partGraphSym(spark: SparkSession, dir: String): DataFrame = {
    val und = partEdges(spark, dir)
    und.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(und.select(col("b").as("src"), col("a").as("dst")))
  }

  def q257_landmark_distance(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(spark, dir)
    val sym = partGraphSym(spark, dir)
    val landmarks = p.filter(col("p_partkey") % 293 === 7 &&
        col("p_partkey") <= 60000)
      .select(col("p_partkey").as("id"))
    val sources = p.filter(col("p_partkey") % 97 === 5 &&
        col("p_partkey") <= 20000)
      .select(col("p_partkey").as("id"))
    val targets = p.filter(col("p_partkey") % 89 === 7)
      .select(col("p_partkey").as("id"))
    // independent BFS passes on two driver threads (guide §2.6) —
    // see q259 for the rationale
    val (lDist, sDist) = graft.ops.Iterate.concurrently(
      graft.graph.Centrality.multiSourceBfs(sym, landmarks, LdHops),
      graft.graph.Centrality.multiSourceBfs(sym, sources, LdHops))
    // restrict the index to the query endpoints BEFORE the landmark
    // self-join — joining the full index with itself would be
    // O(reach²) per landmark
    val lu = lDist.join(broadcast(sources), Seq("id"))
      .select(col("seed").as("l"), col("id").as("u"), col("dist").as("du"))
    val lw = lDist.join(broadcast(targets), Seq("id"))
      .select(col("seed").as("l"), col("id").as("w"), col("dist").as("dw"))
    val est = lu.join(lw, Seq("l"))
      .groupBy(col("u"), col("w"))
      .agg(min(col("du") + col("dw")).as("d_est"))
    val exact = sDist
      .select(col("seed").as("u"), col("id").as("w"), col("dist").as("d_exact"))
    val pairs = targets.select(col("id").as("w"))
      .crossJoin(broadcast(sources.select(col("id").as("u"))))
      .filter(col("u") =!= col("w"))
    pairs
      .join(est, Seq("u", "w"), "left_outer")
      .join(exact, Seq("u", "w"), "left_outer")
      .select(col("u"), col("w"), col("d_exact"), col("d_est"),
        when(col("d_exact").isNotNull && col("d_est").isNotNull,
          expr("(d_est * 1000000) div d_exact")).as("stretch_ppm"))
      .orderBy(col("stretch_ppm").desc_nulls_last, col("u"), col("w"))
      .limit(50)
  }

  val q257_sql: String = {
    val lm = "SELECT p_partkey AS id FROM part " +
      "WHERE p_partkey % 293 = 7 AND p_partkey <= 60000"
    val src = "SELECT p_partkey AS id FROM part " +
      "WHERE p_partkey % 97 = 5 AND p_partkey <= 20000"
    s"""WITH ${graft.graph.Centrality
         .multiSourceBfsSql(undSymSql, lm, LdHops, "l")},
       |${graft.graph.Centrality
         .multiSourceBfsSql(undSymSql, src, LdHops, "s")},
       |srcs AS ($src),
       |tgts AS (SELECT p_partkey AS id FROM part WHERE p_partkey % 89 = 7),
       |lu AS (SELECT seed AS l, id AS u, dist AS du FROM lb$LdHops
       |       WHERE id IN (SELECT id FROM srcs)),
       |lw AS (SELECT seed AS l, id AS w, dist AS dw FROM lb$LdHops
       |       WHERE id IN (SELECT id FROM tgts)),
       |est AS (SELECT u, w, MIN(du + dw) AS d_est
       |        FROM lu JOIN lw USING (l) GROUP BY u, w),
       |ex AS (SELECT seed AS u, id AS w, dist AS d_exact FROM sb$LdHops),
       |pairs AS (SELECT s.id AS u, t.id AS w FROM srcs s, tgts t
       |          WHERE s.id <> t.id)
       |SELECT p.u, p.w, ex.d_exact, est.d_est,
       |  CASE WHEN ex.d_exact IS NOT NULL AND est.d_est IS NOT NULL
       |       THEN (est.d_est * 1000000) // ex.d_exact END AS stretch_ppm
       |FROM pairs p
       |LEFT JOIN est ON est.u = p.u AND est.w = p.w
       |LEFT JOIN ex ON ex.u = p.u AND ex.w = p.w
       |ORDER BY stretch_ppm DESC NULLS LAST, p.u, p.w
       |LIMIT 50""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q259 — sampled stress centrality (Brandes 2001 forward pass ×2):
  // for bounded source/target samples S and T, count the shortest s–t
  // paths passing THROUGH each node v: Σ_{s,t} σ(s,v)·σ(v,t) over
  // pairs where d(s,v)+d(v,t)=d(s,t) (v interior). Two σ-carrying
  // multi-source BFS passes — seeds S and seeds T (σ(v,t)=σ(t,v) on
  // the symmetrized graph) — joined on v, gated by the s–t distance
  // (read off the S-pass at t). Integer path counts ⇒ exact oracle;
  // betweenness proper divides by σ_st, which is not
  // engine-portable — stress keeps the same ranking signal (which
  // nodes carry the traffic) in exact arithmetic.
  //
  // Scale shape: both seed samples are id-capped (≤40 each at ANY
  // corpus size — the q257 fixed-budget discipline), so BFS state is
  // O(|S∪T|·ball) and the v-join fan-out is ≤|S|·|T| per node. The
  // s–t distance table (|S|·|T| rows) broadcasts.
  // ---------------------------------------------------------------------
  private val StHops = 8

  def q259_stress_centrality(spark: SparkSession, dir: String)
      : DataFrame = {
    val p = Tables.part(spark, dir)
    val sym = partGraphSym(spark, dir)
    val srcs = p.filter(col("p_partkey") % 331 === 3 &&
        col("p_partkey") <= 13000)
      .select(col("p_partkey").as("id"))
    val tgts = p.filter(col("p_partkey") % 317 === 5 &&
        col("p_partkey") <= 13000)
      .select(col("p_partkey").as("id"))
    // the two sigma-BFS passes are independent level-synchronous
    // loops of small jobs — submit them from two driver threads so
    // each pass's per-level barrier fills the cores the other's
    // stragglers leave idle (guide §2.6); results are deterministic
    // either way
    val (sB, tB) = graft.ops.Iterate.concurrently(
      graft.graph.Centrality.sigmaBfs(sym, srcs, StHops),
      graft.graph.Centrality.sigmaBfs(sym, tgts, StHops))
    val sd = sB.join(tgts, Seq("id"))
      .select(col("seed").as("s"), col("id").as("t"),
        col("dist").as("d_st"))
    sB.select(col("seed").as("s"), col("id").as("v"),
        col("dist").as("d_sv"), col("sigma").as("sig_sv"))
      .join(tB.select(col("seed").as("t"), col("id").as("v"),
        col("dist").as("d_vt"), col("sigma").as("sig_vt")), Seq("v"))
      .join(broadcast(sd), Seq("s", "t"))
      .filter(col("d_sv") + col("d_vt") === col("d_st") &&
        col("v") =!= col("s") && col("v") =!= col("t"))
      .groupBy(col("v"))
      .agg(sum(col("sig_sv") * col("sig_vt")).as("stress_paths"))
      .orderBy(col("stress_paths").desc, col("v"))
      .limit(50)
  }

  val q259_sql: String = {
    val src = "SELECT p_partkey AS id FROM part " +
      "WHERE p_partkey % 331 = 3 AND p_partkey <= 13000"
    val tgt = "SELECT p_partkey AS id FROM part " +
      "WHERE p_partkey % 317 = 5 AND p_partkey <= 13000"
    s"""WITH ${graft.graph.Centrality
         .sigmaBfsSql(undSymSql, src, StHops, "s")},
       |${graft.graph.Centrality
         .sigmaBfsSql(undSymSql, tgt, StHops, "t")},
       |sd AS (SELECT seed AS s, id AS t, dist AS d_st FROM st$StHops
       |       WHERE id IN ($tgt)),
       |th AS (
       |  SELECT a.id AS v,
       |    CAST(SUM(a.sigma * b.sigma) AS BIGINT) AS stress_paths
       |  FROM st$StHops a
       |  JOIN tt$StHops b ON b.id = a.id
       |  JOIN sd ON sd.s = a.seed AND sd.t = b.seed
       |  WHERE a.dist + b.dist = sd.d_st
       |    AND a.id <> a.seed AND a.id <> b.seed
       |  GROUP BY 1)
       |SELECT v, stress_paths FROM th
       |ORDER BY stress_paths DESC, v LIMIT 50""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q267 — connected components on a HIGH-DIAMETER graph via
  // large-star/small-star (Kiveris et al. 2014): the stride-17 chain
  // k ↔ k−17 over part keys forms 17 path components whose diameter
  // grows linearly with the corpus (~1 200 hops at sf0.1, ~12 000 at
  // sf1) — the regime where min-label propagation and Pregel CC need
  // diameter-many shuffles and the alternating-star algorithm needs
  // O(log²). The components are known in closed form (the residue
  // classes mod 17, labeled by their smallest key), which is exactly
  // what the oracle computes — so a green row proves the star
  // fixpoint found every component without a single long propagation.
  // Output: per-component (cluster_id, n_members, max_member).
  // ---------------------------------------------------------------------
  def q267_star_components(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(spark, dir)
    val edges = p.filter(col("p_partkey") >= 17)
      .select(col("p_partkey").as("a"),
        (col("p_partkey") - 17).as("b"))
    val labels = graft.pipeline.Clusters
      .connectedComponentsStar(edges, "a", "b")
    labels.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_members"), max(col("node")).as("max_member"))
      .orderBy(col("cluster_id"))
  }

  val q267_sql: String =
    """WITH n AS (SELECT p_partkey AS k FROM part),
      |labeled AS (
      |  SELECT k, MIN(k) OVER (PARTITION BY k % 17) AS cluster_id
      |  FROM n)
      |SELECT cluster_id, COUNT(*) AS n_members,
      |  CAST(MAX(k) AS BIGINT) AS max_member
      |FROM labeled GROUP BY cluster_id ORDER BY cluster_id""".stripMargin

  // ---------------------------------------------------------------------
  // q343 — degree assortativity (Newman 2002): do hubs link to hubs?
  // The Pearson correlation of endpoint degrees over the symmetrized
  // edge-end list, per graph layer (tree / shortcut / combined) —
  // positive for social-style graphs, negative for hub-and-spoke
  // dependency graphs, and the single number that says which join/
  // partition strategy a traversal engine should expect (assortative
  // graphs shard cleanly; disassortative ones concentrate load on hub
  // partitions). Exact integers end to end: degree via one hash agg,
  // moment sums promoted to DECIMAL(38)/HUGEINT, and r² reported via
  // the q309 two-stage-floor discipline ((|cov|·1000 div vx)·
  // (|cov|·1000 div vy)) with the sign split out — no square root of
  // a 2¹⁰⁰-scale product anywhere.
  // ---------------------------------------------------------------------
  def q343_assortativity(spark: SparkSession, dir: String)
      : DataFrame = {
    val p = Tables.part(spark, dir)
    val tree = p.filter(col("p_partkey") >= 2)
      .select(col("p_partkey").as("src"),
        expr("p_partkey div 2").as("dst"))
    val shortcut = p
      .filter(expr("p_partkey != (p_partkey * p_partkey) % 1000"))
      .select(col("p_partkey").as("src"),
        expr("(p_partkey * p_partkey) % 1000").as("dst"))
    def layerStats(name: String, e: DataFrame): DataFrame = {
      // sym is edge-table-sized — rescan (cheap scan+union lineage)
      // rather than materialize, per the q285/q301/q326 lesson
      val sym = e.unionAll(e.select(col("dst").as("src"),
        col("src").as("dst")))
      val deg = sym.groupBy(col("src").as("v"))
        .agg(count(lit(1)).as("d"))
      sym
        .join(deg.select(col("v").as("src"), col("d").as("x")),
          Seq("src"))
        .join(deg.select(col("v").as("dst"), col("d").as("y")),
          Seq("dst"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("y")).as("sy"),
          sum((col("x") * col("y")).cast("decimal(38,0)")).as("sxy"),
          sum((col("x") * col("x")).cast("decimal(38,0)")).as("sxx"),
          sum((col("y") * col("y")).cast("decimal(38,0)")).as("syy"))
        .select(lit(name).as("layer"), col("n"),
          expr("""cast(sign(cast(n as decimal(38,0)) * sxy
            | - cast(sx as decimal(38,0)) * sy) as bigint)"""
            .stripMargin).as("sign"),
          // constant-degree layer ⇒ zero variance; the den=0 guard
          // (q330's pattern) keeps Spark (NULL) and DuckDB (error)
          // from diverging on that edge
          expr("""CASE WHEN cast(n as decimal(38,0)) * sxx
            |    - cast(sx as decimal(38,0)) * sx = 0
            |  OR cast(n as decimal(38,0)) * syy
            |    - cast(sy as decimal(38,0)) * sy = 0 THEN 0
            | ELSE cast(
            | (abs(cast(n as decimal(38,0)) * sxy
            |    - cast(sx as decimal(38,0)) * sy) * 1000
            |  div (cast(n as decimal(38,0)) * sxx
            |    - cast(sx as decimal(38,0)) * sx))
            | * (abs(cast(n as decimal(38,0)) * sxy
            |    - cast(sx as decimal(38,0)) * sy) * 1000
            |  div (cast(n as decimal(38,0)) * syy
            |    - cast(sy as decimal(38,0)) * sy))
            | as bigint) END""".stripMargin).as("r2_ppm"))
    }
    layerStats("all", tree.unionAll(shortcut))
      .unionByName(layerStats("shortcut", shortcut))
      .unionByName(layerStats("tree", tree))
      .orderBy(col("layer"))
  }

  val q343_sql: String = {
    def layer(name: String, edges: String): String =
      s"""SELECT '$name' AS layer, n,
         |  CAST(sign(CAST(n AS HUGEINT) * sxy
         |    - CAST(sx AS HUGEINT) * sy) AS BIGINT) AS sign,
         |  CAST(CASE WHEN CAST(n AS HUGEINT) * sxx
         |      - CAST(sx AS HUGEINT) * sx = 0
         |    OR CAST(n AS HUGEINT) * syy
         |      - CAST(sy AS HUGEINT) * sy = 0 THEN 0
         |   ELSE (abs(CAST(n AS HUGEINT) * sxy
         |      - CAST(sx AS HUGEINT) * sy) * 1000
         |    // (CAST(n AS HUGEINT) * sxx
         |      - CAST(sx AS HUGEINT) * sx))
         |   * (abs(CAST(n AS HUGEINT) * sxy
         |      - CAST(sx AS HUGEINT) * sy) * 1000
         |    // (CAST(n AS HUGEINT) * syy
         |      - CAST(sy AS HUGEINT) * sy)) END AS BIGINT) AS r2_ppm
         |FROM (
         |  SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
         |    SUM(CAST(x AS HUGEINT) * y) AS sxy,
         |    SUM(CAST(x AS HUGEINT) * x) AS sxx,
         |    SUM(CAST(y AS HUGEINT) * y) AS syy
         |  FROM (
         |    SELECT da.d AS x, db.d AS y
         |    FROM (SELECT src, dst FROM ($edges)
         |          UNION ALL SELECT dst, src FROM ($edges)) s
         |    JOIN (SELECT src AS v, COUNT(*) AS d FROM (
         |            SELECT src, dst FROM ($edges)
         |            UNION ALL SELECT dst, src FROM ($edges))
         |          GROUP BY 1) da ON da.v = s.src
         |    JOIN (SELECT src AS v, COUNT(*) AS d FROM (
         |            SELECT src, dst FROM ($edges)
         |            UNION ALL SELECT dst, src FROM ($edges))
         |          GROUP BY 1) db ON db.v = s.dst))""".stripMargin
    val tree =
      """SELECT p_partkey AS src, p_partkey // 2 AS dst FROM part
        | WHERE p_partkey >= 2""".stripMargin
    val shortcut =
      """SELECT p_partkey AS src, (p_partkey * p_partkey) % 1000
        |  AS dst
        | FROM part
        | WHERE p_partkey <> (p_partkey * p_partkey) % 1000"""
        .stripMargin
    val all = s"$tree UNION ALL $shortcut"
    s"""${layer("all", all)}
       |UNION ALL
       |${layer("shortcut", shortcut)}
       |UNION ALL
       |${layer("tree", tree)}
       |ORDER BY layer""".stripMargin
  }

  // -------------------------------------------------------------------
  // q346 — SALSA (Lempel & Moran 2000, "The stochastic approach for
  // link-structure analysis"): the bipartite stochastic variant of
  // HITS whose stationary authority is PROVABLY proportional to
  // degree within a component — the paper's TKC-immunity result. The
  // audit runs 4 synchronous integer-ppm rounds of the alternating
  // walk over the customer–part purchase graph (authority(p) ←
  // Σ_{c~p} hub(c) div deg(c); hub(c) ← Σ_{p~c} auth(p) div deg(p);
  // floor per EDGE so both engines are bit-identical) and reports
  // each top part's iterated share next to the degree-proportional
  // stationary value — the remaining distance IS the audit. Scale:
  // degrees are one hash agg, each half-round one edge join; 8 joins
  // total regardless of corpus size, state O(nodes).
  // -------------------------------------------------------------------
  private val SalsaRounds = 4
  private val SalsaTopK = 15

  def q346_salsa(spark: SparkSession, dir: String): DataFrame = {
    val edges = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"))
      .join(Tables.lineitem(spark, dir)
          .select(col("l_orderkey").as("o_orderkey"), col("l_partkey")),
        Seq("o_orderkey"))
      .select(col("o_custkey").as("c"), col("l_partkey").as("p"))
      .distinct()
      // edge-sized, feeds degrees + 8 half-round joins — the
      // per-iteration materialization pattern of the graph tier
      .localCheckpoint(eager = true)
    val degC = edges.groupBy(col("c")).agg(count(lit(1)).as("dc"))
    val degP = edges.groupBy(col("p")).agg(count(lit(1)).as("dp"))
    // TWO co-partitioned copies of the degree-annotated edge table
    // (guide §2.4): the a-half-round joins on c but AGGREGATES by p,
    // the h-half-round the reverse — with the edge side laid out on
    // the aggregation key and the node-sized score frame broadcast
    // (its barrier carries measured stats, so the planner sees it is
    // small), a half-round runs with ZERO edge-table exchanges; at a
    // scale where the scores stop broadcasting, the layout still
    // saves the edge-side exchange of the score join.
    val e2p = edges.join(degC, Seq("c")).join(degP, Seq("p"))
      .repartition(col("p")).localCheckpoint(eager = true)
    val e2c = e2p.repartition(col("c")).localCheckpoint(eager = true)
    var h = degC.select(col("c"), lit(1000000L).as("hs"))
    var a: DataFrame = null
    for (_ <- 1 to SalsaRounds) {
      // graft.ops.Iterate.barrier, not a bare localCheckpoint: each
      // half-round JOINS the previous one's output, so a carried
      // sizeInBytes statistic would multiply across the 8 half-rounds
      a = graft.ops.Iterate.barrier(e2p.join(h, Seq("c"))
        .withColumn("x", expr("hs div dc"))
        .groupBy(col("p")).agg(sum(col("x")).as("av")))
      h = graft.ops.Iterate.barrier(e2c.join(a, Seq("p"))
        .withColumn("y", expr("av div dp"))
        .groupBy(col("c")).agg(sum(col("y")).as("hs")))
    }
    val tot = a.agg(sum(col("av")).as("ta"))
    val ne = edges.agg(count(lit(1)).as("ne"))
    a.join(degP, Seq("p"))
      .crossJoin(broadcast(tot)).crossJoin(broadcast(ne))
      .withColumn("share_ppm", expr(
        "cast(cast(av as decimal(38,0)) * 1000000 div ta as bigint)"))
      .withColumn("stat_ppm", expr(
        "cast(cast(dp as decimal(38,0)) * 1000000 div ne as bigint)"))
      .select(col("p").as("part"), col("av"), col("share_ppm"),
        col("stat_ppm"),
        expr("abs(share_ppm - stat_ppm)").as("err_ppm"))
      .orderBy(col("av").desc, col("part")).limit(SalsaTopK)
  }

  val q346_sql: String = {
    val rounds = (1 to SalsaRounds).map { r =>
      s"""a$r AS (SELECT p, SUM(hs // dc) AS av
         |  FROM e2 JOIN h${r - 1} USING (c) GROUP BY 1),
         |h$r AS (SELECT c, SUM(av // dp) AS hs
         |  FROM e2 JOIN a$r USING (p) GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH edges AS MATERIALIZED (
       |  SELECT DISTINCT o_custkey AS c, l_partkey AS p
       |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
       |degc AS (SELECT c, COUNT(*) AS dc FROM edges GROUP BY 1),
       |degp AS (SELECT p, COUNT(*) AS dp FROM edges GROUP BY 1),
       |e2 AS MATERIALIZED (
       |  SELECT e.c, e.p, dc, dp FROM edges e
       |  JOIN degc USING (c) JOIN degp USING (p)),
       |h0 AS (SELECT c, CAST(1000000 AS BIGINT) AS hs FROM degc),
       |$rounds,
       |tot AS (SELECT SUM(av) AS ta FROM a$SalsaRounds),
       |te AS (SELECT COUNT(*) AS ne FROM edges)
       |SELECT p AS part, CAST(av AS BIGINT) AS av,
       |  CAST(CAST(av AS HUGEINT) * 1000000 // ta AS BIGINT)
       |    AS share_ppm,
       |  CAST(CAST(dp AS HUGEINT) * 1000000 // ne AS BIGINT)
       |    AS stat_ppm,
       |  CAST(abs(CAST(av AS HUGEINT) * 1000000 // ta
       |    - CAST(dp AS HUGEINT) * 1000000 // ne) AS BIGINT)
       |    AS err_ppm
       |FROM a$SalsaRounds JOIN degp USING (p)
       |CROSS JOIN tot CROSS JOIN te
       |ORDER BY av DESC, part LIMIT $SalsaTopK""".stripMargin
  }

  // -------------------------------------------------------------------
  // q347 — round-limited greedy coloring (Jones–Plassmann 1993 round
  // structure, Luby-style fixed priorities — see
  // Communities.localMaxColoring): 24 fixed rounds over the q343
  // tree+shortcut graph; every round's local-priority-maxima take that
  // round's color, so the partial result is always PROPER. Both
  // engines run the IDENTICAL fixed schedule (no convergence coupling)
  // and the audit reports, per color, the class size — plus the
  // proper-coloring certificate (conflict edge count, must be 0), the
  // uncolored remainder as color 0, and the max degree the Δ+1 bound
  // refers to. Scale: a fixed 24-round job count; each round one edge
  // join + one anti join on the geometrically shrinking active set.
  // -------------------------------------------------------------------
  private val ColorRounds = 24

  private def coloringGraph(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val p = Tables.part(spark, dir)
    // priority = the engine-portable 60-bit hash (as q351/q355 use for
    // edge priorities): the earlier (k * 2654435761) % 2^32 Knuth hash
    // is injective only below 2^32 keys, and past ~3.5e9 keys the
    // multiply wraps silently in Spark but errors in DuckDB — hash60
    // keeps identical semantics in both engines at any key scale
    val nodes = p.select(col("p_partkey").as("v"),
      graft.pipeline.Sampling.hash60("color", col("p_partkey")).as("h"))
    val tree = p.filter(col("p_partkey") >= 2)
      .select(col("p_partkey").as("u"),
        expr("p_partkey div 2").as("w"))
    val shortcut = p
      .filter(expr("p_partkey != (p_partkey * p_partkey) % 1000"))
      .select(col("p_partkey").as("u"),
        expr("(p_partkey * p_partkey) % 1000").as("w"))
    val fwd = tree.unionAll(shortcut)
    val sym = fwd
      .unionAll(fwd.select(col("w").as("u"), col("u").as("w")))
      .distinct()
    (nodes, sym)
  }

  def q347_greedy_coloring(spark: SparkSession, dir: String)
      : DataFrame = {
    val (nodes, sym) = coloringGraph(spark, dir)
    val colored = graft.graph.Communities
      .localMaxColoring(nodes, sym, ColorRounds)
      .localCheckpoint(eager = true) // histogram + certificate joins
    val conflicts = sym
      .join(colored.select(col("node").as("u"), col("color").as("cu")),
        Seq("u"))
      .join(colored.select(col("node").as("w"), col("color").as("cw")),
        Seq("w"))
      .filter(col("u") < col("w") && col("cu") === col("cw") &&
        col("cu") > 0)
      .agg(count(lit(1)).as("conflicts"))
    val maxDeg = sym.groupBy(col("u")).agg(count(lit(1)).as("d"))
      .agg(max(col("d")).as("max_degree"))
    colored.groupBy(col("color"))
      .agg(count(lit(1)).as("n_nodes"))
      .crossJoin(broadcast(conflicts))
      .crossJoin(broadcast(maxDeg))
      .select(col("color"), col("n_nodes"), col("conflicts"),
        col("max_degree"))
      .orderBy(col("color"))
  }

  val q347_sql: String = {
    val nodesSql =
      s"SELECT p_partkey AS v, ${graft.pipeline.Sampling
        .hash60Sql("color", "p_partkey")} AS h FROM part"
    val fwd =
      """SELECT p_partkey AS u, p_partkey // 2 AS w FROM part
        | WHERE p_partkey >= 2
        | UNION ALL
        | SELECT p_partkey, (p_partkey * p_partkey) % 1000 FROM part
        | WHERE p_partkey != (p_partkey * p_partkey) % 1000"""
        .stripMargin
    val edgesSql =
      s"WITH fwd AS ($fwd) SELECT DISTINCT u, w FROM " +
        "(SELECT u, w FROM fwd UNION ALL SELECT w, u FROM fwd)"
    s"""WITH ${graft.graph.Communities.localMaxColoringSql(nodesSql,
          edgesSql, ColorRounds)},
       |conf AS (
       |  SELECT COUNT(*) AS conflicts FROM colEd e
       |  JOIN coloring cu ON cu.node = e.u
       |  JOIN coloring cw ON cw.node = e.w
       |  WHERE e.u < e.w AND cu.color = cw.color AND cu.color > 0),
       |md AS (
       |  SELECT MAX(d) AS max_degree FROM (
       |    SELECT u, COUNT(*) AS d FROM colEd GROUP BY 1))
       |SELECT CAST(color AS BIGINT) AS color,
       |  COUNT(*) AS n_nodes,
       |  CAST(conflicts AS BIGINT) AS conflicts,
       |  CAST(max_degree AS BIGINT) AS max_degree
       |FROM coloring CROSS JOIN conf CROSS JOIN md
       |GROUP BY 1, 3, 4
       |ORDER BY color""".stripMargin
  }

  // -------------------------------------------------------------------
  // q351 — Borůvka MST with randomized star contraction (see
  // graph/Mst.scala): the log-round distributed minimum-spanning-tree
  // over the part tree ∪ two stride paths with unique hash weights —
  // with distinct weights (the (w, a, b) lexicographic total order)
  // the MST is UNIQUE, so the merge log is deterministic and both
  // engines replay it exactly. Output is the per-round merge summary
  // (n_merges, weight added) — the convergence trace a 100 TB MST job
  // watches — and Round9CSpec pins the full edge set against a JVM
  // Kruskal (the sequential gold standard) plus the schedule replay.
  // -------------------------------------------------------------------
  private val MstStrides = Seq(7L, 17L)
  private val MstSqlRounds = 48

  private def mstEdges(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(spark, dir)
    val tree = p.filter(col("p_partkey") >= 2)
      .select(expr("p_partkey div 2").as("a"),
        col("p_partkey").as("b"))
    val strides = MstStrides.map { s =>
      p.filter(col("p_partkey") > s)
        .select((col("p_partkey") - s).as("a"), col("p_partkey").as("b"))
    }.reduce(_ unionAll _)
    tree.unionAll(strides).distinct()
      .withColumn("w", graft.pipeline.Sampling.hash60("mst",
        concat_ws("|", col("a"), col("b"))))
  }

  def q351_boruvka_mst(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(spark, dir)
    val log = graft.graph.Mst.boruvka(
      p.select(col("p_partkey").as("v")), mstEdges(spark, dir))
    log.groupBy(col("round"))
      .agg(count(lit(1)).as("n_merges"),
        // weights are 60-bit; Σ over 10⁵⁺ edges overflows int64, so
        // report the per-edge-floored 2²⁰-reduced sum (both engines
        // floor per edge identically; still collision-unique in
        // practice at 40 bits per edge)
        sum(expr("w div 1048576")).as("sum_w_m"))
      .orderBy(col("round"))
  }

  val q351_sql: String = {
    val verticesSql = "SELECT p_partkey AS v FROM part"
    val h = graft.pipeline.Sampling.hash60Sql("mst",
      "CAST(a AS VARCHAR) || '|' || CAST(b AS VARCHAR)")
    val strides = MstStrides.map(s =>
      s"SELECT p_partkey - $s AS a, p_partkey AS b FROM part " +
        s"WHERE p_partkey > $s").mkString(" UNION ALL ")
    val edgesSql =
      s"""SELECT a, b, $h AS w FROM (
         |  SELECT DISTINCT a, b FROM (
         |    SELECT p_partkey // 2 AS a, p_partkey AS b FROM part
         |    WHERE p_partkey >= 2
         |    UNION ALL $strides))""".stripMargin
    s"""WITH ${graft.graph.Mst.boruvkaSql(verticesSql, edgesSql,
          MstSqlRounds)}
       |SELECT CAST(round AS BIGINT) AS round, COUNT(*) AS n_merges,
       |  CAST(SUM(w // 1048576) AS BIGINT) AS sum_w_m
       |FROM mst GROUP BY 1 ORDER BY round""".stripMargin
  }

  // -------------------------------------------------------------------
  // q355 — distributed maximal matching (Israeli & Itai 1986 round
  // structure = Luby's MIS on the line graph, fixed collision-free
  // priorities — see Communities.maximalMatching): per round the
  // locally-maximum live edge at BOTH endpoints joins the matching,
  // endpoints and incident edges die via anti joins. Graph: the three
  // stride paths of q271 (degree ≤ 6), edge priority = 60-bit hash
  // with (h, u, w) struct tie-break. Output: the per-round admission
  // trace next to the totals — the convergence curve a 100 TB
  // matching job watches; maximality is guaranteed by construction
  // (the loop runs until NO live edge remains) and Round9DSpec pins
  // validity + maximality against a JVM mirror.
  // -------------------------------------------------------------------
  private val MmStrides = Seq(7L, 17L, 23L)
  private val MmSqlRounds = 40

  def q355_maximal_matching(spark: SparkSession, dir: String)
      : DataFrame = {
    val p = Tables.part(spark, dir)
    val edges = MmStrides.map { s =>
      p.filter(col("p_partkey") > s)
        .select((col("p_partkey") - s).as("u"),
          col("p_partkey").as("w"))
    }.reduce(_ unionAll _)
      .distinct()
      .withColumn("h", graft.pipeline.Sampling.hash60("mm",
        concat_ws("|", col("u"), col("w"))))
    val log = graft.graph.Communities.maximalMatching(edges)
      .localCheckpoint(eager = true) // per-round counts + total
    val tot = log.agg(count(lit(1)).as("total_matched"))
    val nv = p.agg(count(lit(1)).as("n_vertices"))
    log.groupBy(col("round")).agg(count(lit(1)).as("n_matched"))
      .crossJoin(broadcast(tot)).crossJoin(broadcast(nv))
      .orderBy(col("round"))
  }

  val q355_sql: String = {
    val h = graft.pipeline.Sampling.hash60Sql("mm",
      "CAST(u AS VARCHAR) || '|' || CAST(w AS VARCHAR)")
    val strides = MmStrides.map(s =>
      s"SELECT p_partkey - $s AS u, p_partkey AS w FROM part " +
        s"WHERE p_partkey > $s").mkString(" UNION ALL ")
    val edgesSql =
      s"SELECT u, w, $h AS h FROM (SELECT DISTINCT u, w FROM ($strides))"
    s"""WITH ${graft.graph.Communities.maximalMatchingSql(edgesSql,
          MmSqlRounds)},
       |mtot AS (SELECT COUNT(*) AS total_matched FROM matching),
       |mnv AS (SELECT COUNT(*) AS n_vertices FROM part)
       |SELECT CAST(round AS BIGINT) AS round, COUNT(*) AS n_matched,
       |  CAST(total_matched AS BIGINT) AS total_matched,
       |  CAST(n_vertices AS BIGINT) AS n_vertices
       |FROM matching CROSS JOIN mtot CROSS JOIN mnv
       |GROUP BY 1, 3, 4 ORDER BY round""".stripMargin
  }

  val registry: graft.SparkEntry.Registry = Seq(
    ("q355_maximal_matching", q355_maximal_matching _, q355_sql),
    ("q351_boruvka_mst", q351_boruvka_mst _, q351_sql),
    ("q346_salsa", q346_salsa _, q346_sql),
    ("q347_greedy_coloring", q347_greedy_coloring _, q347_sql),
    ("q343_assortativity", q343_assortativity _, q343_sql),
    ("q267_star_components", q267_star_components _, q267_sql),
    ("q257_landmark_distance", q257_landmark_distance _, q257_sql),
    ("q259_stress_centrality", q259_stress_centrality _, q259_sql),
    ("q217_harmonic_centrality", q217_harmonic_centrality _, q217_sql),
    ("q218_eccentricity", q218_eccentricity _, q218_sql),
    ("q185_link_prediction", q185_link_prediction _, q185_sql),
    ("q95_triangles", q95_triangles _, q95_sql),
    ("q17_bfs_reach", q17_bfs_reach _, q17_sql),
    ("q18_closure_depths", q18_closure_depths _, q18_sql),
    ("q19_path_capture", q19_path_capture _, q19_sql),
    ("q69_pagerank", q69_pagerank _, q69_sql),
    ("q136_hits", q136_hits _, q136_sql),
    ("q137_clustering_coeff", q137_clustering_coeff _, q137_sql),
    ("q140_personalized_pagerank", q140_personalized_pagerank _, q140_sql),
    ("q143_kcore", q143_kcore _, q143_sql),
    ("q154_sssp", q154_sssp _, q154_sql),
    ("q166_label_propagation", q166_label_propagation _, q166_sql),
    ("q169_neighborhood_function", q169_neighborhood_function _, q169_sql),
    ("q170_random_walks", q170_random_walks _, q170_sql),
    ("q302_modularity", q302_modularity _, q302_sql))
}
