package graft.graph

import org.apache.spark.graphx.{Edge, Graph}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.ops.Iterate.BarrierOps

/** Graph centrality in INTEGER arithmetic — rank functions/services by
  * call centrality (the "what is load-bearing" query over a code
  * property graph) with results that are bit-identical on any engine.
  *
  * Floating-point PageRank sums per-edge contributions in partition
  * order, so two runs of the same job can disagree in the last ulp —
  * unacceptable for a correctness-gated pipeline. Here ranks are ppm
  * integers and every step is add/multiply/floor-div: synchronized
  * iterations produce exactly one answer everywhere (and the fixed
  * iteration count unrolls into plain SQL CTEs for the oracle).
  *
  * PageRank has ONE engine, the GraphX [[personalizedPageRankInteger]]
  * (q69, q140, q311), checked against its SQL mirror
  * [[personalizedPageRankIntegerSql]] by every oracle.
  */
object Centrality {

  /** Integer HITS over `edges(src, dst)`: `iters` synchronized
    * hub/authority sweeps in ppm fixed-point, max-normalized so the
    * recurrence needs no float sqrt (Kleinberg's L2 norm only fixes the
    * scale; max-normalization fixes it too and stays in ℤ):
    *
    *   a₀(v)    = 10⁶
    *   h̃ₖ(v)   = Σ_{(v,u)∈E} aₖ₋₁(u)     hₖ = (h̃ₖ · 10⁶) div max h̃ₖ
    *   ãₖ(v)   = Σ_{(u,v)∈E} hₖ(u)       aₖ = (ãₖ · 10⁶) div max ãₖ
    *
    * Safe in int64 while max-degree < ~9·10⁶ (h̃ ≤ deg·10⁶, and the
    * normalize multiplies by 10⁶ before dividing). Returns
    * (id, hub_ppm, auth_ppm).
    *
    * Scale shape: per iteration, TWO joins keyed on an edge endpoint
    * with partial aggregation, plus two single-row max aggregates that
    * broadcast by construction. The edge table is checkpointed once and
    * never re-shuffled; only the (node, score) side moves. Each raw
    * score table is MATERIALIZED (localCheckpoint) before its max is
    * taken: the normalize step reads `raw` twice (max side + probe
    * side), and without the barrier each iteration would re-derive the
    * entire preceding lineage on both branches — 2^(2·iters) recompute
    * (measured: 4.7 s → 0.6 s at sf0.1 for iters=3). No driver loop
    * over data — the iteration count is a model constant.
    */
  def hitsInteger(edges: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1 && iters <= 10,
      s"iters ($iters) out of the sane unrolled range")
    val e = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .localCheckpoint(eager = true)
    val nodes = e.select(col("src").as("id"))
      .unionByName(e.select(col("dst").as("id")))
      .distinct().localCheckpoint(eager = true)
    def normalize(rawDf: DataFrame, out: String): DataFrame = {
      // the max rides the barrier job as an observe metric (read
      // synchronously off the executed plan — see
      // Iterate.observed) and lands in the projection
      // as a LITERAL: the former agg + crossJoin(broadcast) shape paid
      // a 1-row aggregation job and a broadcast build per half-round
      // (round 12, guide §1.2). Exact same value, exact same output.
      val rawObs = rawDf.observe("graft_hits_max", max(col("v")).as("m"))
      val raw = graft.ops.Iterate.barrier(rawObs)
      // a metric miss costs one cheap 1-row agg job over the
      // materialized barrier — the exact value either way
      val mRow = graft.ops.Iterate.observed(rawObs, "graft_hits_max")(
        raw.agg(max(col("v")).as("m")).head())
      // max over an empty frame is null; the projection has no rows
      // then, so any non-zero divisor is equivalent
      val m = if (mRow.isNullAt(0)) 1L else mRow.getAs[Long]("m")
      raw.select(col("id"), expr(s"(v * 1000000) div ${m}L").as(out))
    }
    var auth = nodes.withColumn("a", lit(1000000L))
    var hub = nodes.withColumn("h", lit(0L))
    for (_ <- 1 to iters) {
      hub = normalize(nodes.join(
          e.join(auth.select(col("id").as("dst"), col("a")), Seq("dst"))
            .groupBy(col("src").as("id")).agg(sum(col("a")).as("v")),
          Seq("id"), "left_outer")
        .select(col("id"), coalesce(col("v"), lit(0L)).as("v")), "h")
      auth = normalize(nodes.join(
          e.join(hub.select(col("id").as("src"), col("h")), Seq("src"))
            .groupBy(col("dst").as("id")).agg(sum(col("h")).as("v")),
          Seq("id"), "left_outer")
        .select(col("id"), coalesce(col("v"), lit(0L)).as("v")), "a")
    }
    nodes.join(hub, Seq("id")).join(auth, Seq("id"))
      .select(col("id"), col("h").as("hub_ppm"), col("a").as("auth_ppm"))
  }

  /** SQL mirror of [[hitsInteger]] — same iterations as chained CTEs;
    * `edgesSql` must select (src, dst). */
  def hitsIntegerSql(edgesSql: String, iters: Int): String = {
    val steps = (1 to iters).map { k =>
      s"""hraw$k AS (
         |  SELECT n.id, COALESCE(SUM(p.a), 0) AS v
         |  FROM nodes n
         |  LEFT JOIN edges e ON e.src = n.id
         |  LEFT JOIN a${k - 1} p ON p.id = e.dst
         |  GROUP BY n.id),
         |h$k AS (
         |  SELECT id, (v * 1000000) // (SELECT MAX(v) FROM hraw$k) AS h
         |  FROM hraw$k),
         |araw$k AS (
         |  SELECT n.id, COALESCE(SUM(p.h), 0) AS v
         |  FROM nodes n
         |  LEFT JOIN edges e ON e.dst = n.id
         |  LEFT JOIN h$k p ON p.id = e.src
         |  GROUP BY n.id),
         |a$k AS (
         |  SELECT id, (v * 1000000) // (SELECT MAX(v) FROM araw$k) AS a
         |  FROM araw$k)""".stripMargin
    }.mkString(",\n")
    s"""edges AS ($edgesSql),
       |nodes AS (SELECT DISTINCT id FROM
       |  (SELECT src AS id FROM edges UNION SELECT dst FROM edges)),
       |a0 AS (SELECT id, CAST(1000000 AS BIGINT) AS a FROM nodes),
       |$steps""".stripMargin
  }

  /** Personalized (topic-sensitive) integer PageRank over
    * `edges(src, dst)`: damping 0.85 in ppm, `iters` synchronized
    * iterations, with the teleport mass landing ONLY on the seed set —
    * the "related code" ranking seeded at a function of interest
    * (Haveliwala 2002 restricted to one topic). Seeding every node
    * (`_ => true`) gives plain PageRank from a uniform 10⁶ start.
    *
    *   r₀(v)    = seed(v)·10⁶
    *   rₖ₊₁(v) = seed(v)·150000
    *              + (850000 · Σ_{(u,v)∈E} (rₖ(u) div outdeg(u))) div 10⁶
    *
    * Dangling nodes (no out-edges) leak rank mass — the standard
    * simplification, applied identically by the SQL mirror. Seeds are a
    * predicate on the node id, evaluated in the vertex initialiser: no
    * seed table, no distinct-nodes job and nothing collected. Returns
    * (id, rank_ppm).
    *
    * Scale shape: the graph is partitioned ONCE, and each iteration is
    * one aggregateMessages pass that exchanges only messages. An
    * explicit loop (not `Pregel`) because Pregel's active-set semantics
    * skip vprog on vertices that received no message, which would
    * freeze a source-only node at its initial rank instead of decaying
    * it to its teleport base.
    */
  def personalizedPageRankInteger(edges: DataFrame, seed: Long => Boolean,
      iters: Int): DataFrame = {
    require(iters >= 1 && iters <= 20,
      s"iters ($iters) out of the sane unrolled range")
    val spark = edges.sparkSession
    import spark.implicits._
    val eRdd = edges
      .select(col("src").cast("long"), col("dst").cast("long"))
      .as[(Long, Long)].rdd.map { case (s, d) => Edge(s, d, ()) }
    // Graph.fromEdges keeps parallel edges — a multigraph contributes
    // once per edge, matching the SQL mirror.
    val base = Graph.fromEdges(eRdd, ())
    // vertex attr = (rank_ppm, outdeg, isSeed); dangling nodes keep
    // outdeg 0 and never send (aggregateMessages walks edges, so no
    // div-by-zero).
    var g = base.outerJoinVertices(base.outDegrees) { (id, _, d) =>
      val isSeed = seed(id)
      (if (isSeed) 1000000L else 0L, d.getOrElse(0), isSeed)
    }.cache()
    for (i <- 1 to iters) {
      val msgs = g.aggregateMessages[Long](
        ctx => ctx.sendToDst(ctx.srcAttr._1 / ctx.srcAttr._2),
        _ + _)
      g = g.outerJoinVertices(msgs)((_, attr, s) =>
        ((if (attr._3) 150000L else 0L) +
          (850000L * s.getOrElse(0L)) / 1000000L, attr._2, attr._3))
      if (i % 8 == 0) g.cache()
    }
    g.vertices.map { case (vid, (rank, _, _)) => (vid, rank) }
      .toDF("id", "rank_ppm")
  }

  /** SQL mirror of [[personalizedPageRankInteger]]: the same
    * iterations unrolled as chained CTEs, emitted for oracle use so the
    * two sides cannot drift in formula shape. `edgesSql` must select
    * (src, dst); `seedPredSql` is a boolean expression over the node id
    * column `n.id` (`TRUE` for plain PageRank). */
  def personalizedPageRankIntegerSql(edgesSql: String, seedPredSql: String,
      iters: Int): String = {
    val steps = (1 to iters).map { k =>
      s"""r$k AS (
         |  SELECT n.id,
         |    n.is_seed * 150000
         |      + (850000 * COALESCE(SUM(p.rank_ppm // deg.outdeg),
         |        0)) // 1000000 AS rank_ppm
         |  FROM nodes n
         |  LEFT JOIN edges e ON e.dst = n.id
         |  LEFT JOIN deg ON deg.src = e.src
         |  LEFT JOIN r${k - 1} p ON p.id = e.src
         |  GROUP BY n.id, n.is_seed)""".stripMargin
    }.mkString(",\n")
    s"""edges AS ($edgesSql),
       |deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
       |nodes AS (SELECT id,
       |    CASE WHEN $seedPredSql THEN 1 ELSE 0 END AS is_seed
       |  FROM (SELECT DISTINCT id FROM
       |    (SELECT src AS id FROM edges UNION SELECT dst FROM edges)) n),
       |r0 AS (SELECT id, CAST(is_seed * 1000000 AS BIGINT) AS rank_ppm
       |  FROM nodes),
       |$steps""".stripMargin
  }

  /** Bounded Bellman-Ford single-source shortest paths over weighted
    * edges `(src, dst, w)`: `rounds` synchronized relaxations from the
    * seed predicate (dist 0), min-plus semiring in plain integers —
    * null is +∞ (both engines' MIN/least skip nulls identically).
    * Unreached nodes stay null. Returns (id, dist).
    *
    * Scale shape: one endpoint-keyed join + partial MIN aggregation
    * per round. Each round's dist feeds TWO consumers (the relaxation
    * join and the keep-old side of the outer join), so it MUST
    * materialize per round — lazily chained, both branches re-derive
    * the entire preceding lineage, 2^rounds recompute (the hitsInteger
    * dual-consumer rule). Rounds is a model constant (paths longer
    * than `rounds` hops are out of contract, exactly like the
    * reference's CALLS*1..10 caps).
    */
  def sssp(edges: DataFrame, seedPred: Column, rounds: Int): DataFrame = {
    require(rounds >= 1 && rounds <= 20,
      s"rounds ($rounds) out of the sane unrolled range")
    val e = edges.select(col("src").cast("long"), col("dst").cast("long"),
        col("w").cast("long"))
      .repartition(col("src")).localCheckpoint(eager = true)
    val nodes = e.select(col("src").as("id"))
      .unionByName(e.select(col("dst").as("id")))
      .distinct().localCheckpoint(eager = true)
    var dist = nodes.withColumn("dist",
      when(seedPred, 0L).otherwise(lit(null).cast("long")))
    for (i <- 1 to rounds) {
      val relaxed = e
        .join(dist.filter(col("dist").isNotNull)
          .select(col("id").as("src"), col("dist")), Seq("src"))
        .select(col("dst").as("id"), (col("dist") + col("w")).as("cand"))
        .groupBy(col("id")).agg(min(col("cand")).as("cand"))
      dist = dist.join(relaxed, Seq("id"), "left_outer")
        .select(col("id"), least(col("dist"), col("cand")).as("dist"))
        .barrier
    }
    dist
  }

  /** SQL mirror of [[sssp]]; `edgesSql` selects (src, dst, w) and
    * `seedPredSql` is a boolean over the node id column `n.id`. */
  def ssspSql(edgesSql: String, seedPredSql: String, rounds: Int)
      : String = {
    val steps = (1 to rounds).map { k =>
      s"""d$k AS MATERIALIZED (
         |  SELECT n.id, least(MIN(pn.dist), MIN(pe.dist + e.w)) AS dist
         |  FROM nodes n
         |  LEFT JOIN d${k - 1} pn ON pn.id = n.id
         |  LEFT JOIN edges e ON e.dst = n.id
         |  LEFT JOIN d${k - 1} pe ON pe.id = e.src
         |  GROUP BY n.id)""".stripMargin
    }.mkString(",\n")
    s"""edges AS MATERIALIZED ($edgesSql),
       |nodes AS MATERIALIZED (SELECT DISTINCT id FROM
       |  (SELECT src AS id FROM edges UNION SELECT dst FROM edges)),
       |d0 AS (SELECT id,
       |    CASE WHEN $seedPredSql THEN CAST(0 AS BIGINT) END AS dist
       |  FROM nodes n),
       |$steps""".stripMargin
  }

  /** Multi-source BFS: exact hop distances (seed, id, dist ≤ maxHops)
    * from every seed at once — the shared engine for harmonic
    * centrality, eccentricity, and diameter estimation. The frontier
    * carries (seed, id), so k seeds cost one traversal with k× state,
    * not k traversals; per level: one join edge.src = frontier.id
    * (shuffle on the join key), one min-groupBy. Returns only settled
    * pairs (dist non-null).
    *
    * Scale: state is O(seeds × reachable) — callers bound the seed
    * set; the level loop materializes per round like [[sssp]].
    */
  def multiSourceBfs(edges: DataFrame, seeds: DataFrame, maxHops: Int)
      : DataFrame = {
    require(maxHops >= 1 && maxHops <= 15,
      s"maxHops ($maxHops) out of the sane unrolled range")
    val e = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .distinct()
      .repartition(col("src")).localCheckpoint(eager = true)
    var settled = seeds.select(col("id").cast("long").as("seed"))
      .distinct()
      .select(col("seed"), col("seed").as("id"), lit(0L).as("dist"))
      .localCheckpoint(eager = true)
    var frontier = settled
    // FRONTIER-ONLY expansion inside the original union-min round
    // (round 12, guide §1.2 step 1): the former loop expanded the
    // WHOLE settled state against the edge table every hop
    // (Σ_k settled_k · deg work); expanding just the pairs first
    // settled at level k−1 does Σ_k frontier_k · deg = one traversal,
    // while the union-min groupBy keeps the round at ONE exchange +
    // ONE barrier (a distinct + anti-join + second-barrier layered
    // variant was tried and lost ~50% at bench scale to the extra
    // operators). Bit-identical: a pair's min hop distance is the
    // level that first discovers it, and frontier = dist == k reads
    // exactly those rows off the round's checkpoint map-side.
    for (k <- 1 to maxHops) {
      val expand = e
        .join(frontier.select(col("id").as("src"), col("seed")),
          Seq("src"))
        .select(col("seed"), col("dst").as("id"),
          lit(k.toLong).as("dist"))
      settled = settled.unionByName(expand)
        .groupBy(col("seed"), col("id"))
        .agg(min(col("dist")).as("dist"))
        .barrier
      frontier = settled.filter(col("dist") === k)
    }
    settled
  }

  /** Multi-source BFS that also counts shortest paths: returns
    * (seed, id, dist, sigma) where sigma = number of distinct
    * shortest paths seed→id — the forward pass of Brandes's
    * betweenness algorithm (Brandes 2001), run for ALL seeds in one
    * traversal. Unlike [[multiSourceBfs]]'s union-min loop, the
    * frontier here must be LAYERED (expand only from nodes settled at
    * exactly dist k−1, anti-joined against everything settled
    * earlier), because sigma sums path counts over predecessors in
    * the BFS DAG: expanding from stale levels would double-count.
    * Per level: one edges⋈frontier shuffle, one sum-groupBy, one
    * anti-join against the settled set; state O(seeds × reachable),
    * callers bound the seed set.
    */
  def sigmaBfs(edges: DataFrame, seeds: DataFrame, maxHops: Int)
      : DataFrame = {
    require(maxHops >= 1 && maxHops <= 15,
      s"maxHops ($maxHops) out of the sane unrolled range")
    val e = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .distinct()
      .repartition(col("src")).localCheckpoint(eager = true)
    var settled = seeds.select(col("id").cast("long").as("seed"))
      .distinct()
      .select(col("seed"), col("seed").as("id"), lit(0L).as("dist"),
        lit(1L).as("sigma"))
      .localCheckpoint(eager = true)
    var frontier = settled
    for (k <- 1 to maxHops) {
      frontier = e
        .join(frontier.select(col("id").as("src"), col("seed"),
          col("sigma")), Seq("src"))
        .groupBy(col("seed"), col("dst").as("id"))
        .agg(sum(col("sigma")).as("sigma"))
        .join(settled.select(col("seed"), col("id")),
          Seq("seed", "id"), "left_anti")
        .select(col("seed"), col("id"), lit(k.toLong).as("dist"),
          col("sigma"))
        .barrier
      settled = settled.unionByName(frontier)
        .barrier
    }
    settled
  }

  /** SQL mirror of [[sigmaBfs]] (layered frontier/settled CTE pairs);
    * final CTE is ${prefix}t$maxHops(seed, id, dist, sigma). `prefix`
    * namespaces the chain exactly as in [[multiSourceBfsSql]]. */
  def sigmaBfsSql(edgesSql: String, seedsSql: String, maxHops: Int,
      prefix: String): String = {
    val p = prefix
    val steps = (1 to maxHops).map { k =>
      s"""${p}f$k AS MATERIALIZED (
         |  SELECT seed, id, CAST($k AS BIGINT) AS dist, sigma FROM (
         |    SELECT f.seed, e.dst AS id, SUM(f.sigma) AS sigma
         |    FROM ${p}f${k - 1} f JOIN ${p}edges e ON e.src = f.id
         |    GROUP BY 1, 2) n
         |  WHERE NOT EXISTS (SELECT 1 FROM ${p}t${k - 1} t
         |    WHERE t.seed = n.seed AND t.id = n.id)),
         |${p}t$k AS MATERIALIZED (
         |  SELECT * FROM ${p}t${k - 1} UNION ALL SELECT * FROM ${p}f$k)"""
        .stripMargin
    }.mkString(",\n")
    s"""${p}edges AS MATERIALIZED (
       |  SELECT DISTINCT src, dst FROM ($edgesSql)),
       |${p}f0 AS (SELECT DISTINCT id AS seed, id,
       |    CAST(0 AS BIGINT) AS dist, CAST(1 AS BIGINT) AS sigma
       |  FROM ($seedsSql)),
       |${p}t0 AS (SELECT * FROM ${p}f0),
       |$steps""".stripMargin
  }

  /** SQL mirror of [[multiSourceBfs]]: `edgesSql` selects (src, dst),
    * `seedsSql` selects (id). Final CTE is ${prefix}b$maxHops(seed, id,
    * dist). `prefix` namespaces every CTE so one oracle can run TWO
    * independent BFS passes (q257 runs a landmark pass and an exact
    * audit pass in the same WITH chain); the default keeps the
    * historical names so existing oracles are byte-identical. */
  def multiSourceBfsSql(edgesSql: String, seedsSql: String,
      maxHops: Int, prefix: String = ""): String = {
    val steps = (1 to maxHops).map { k =>
      s"""${prefix}b$k AS MATERIALIZED (
         |  SELECT seed, id, MIN(dist) AS dist FROM (
         |    SELECT seed, id, dist FROM ${prefix}b${k - 1}
         |    UNION ALL
         |    SELECT p.seed, e.dst AS id, p.dist + 1 AS dist
         |    FROM ${prefix}b${k - 1} p JOIN ${prefix}edges e ON e.src = p.id)
         |  GROUP BY 1, 2)""".stripMargin
    }.mkString(",\n")
    s"""${prefix}edges AS MATERIALIZED (
       |  SELECT DISTINCT src, dst FROM ($edgesSql)),
       |${prefix}b0 AS (SELECT DISTINCT id AS seed, id, CAST(0 AS BIGINT) AS dist
       |  FROM ($seedsSql)),
       |$steps""".stripMargin
  }
}
