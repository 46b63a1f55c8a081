package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.Iterate
import graft.ops.Iterate.BarrierOps

/** Community detection — deterministic label propagation.
  *
  * The reference ranks "which functions belong together" only implicitly
  * (module grouping via DEFINES, `pkg/graph/queries.go` service-dependency
  * aggregation); LPA is the standard scalable refinement: each node adopts
  * the most frequent label among its neighbours until stable.
  *
  * Classic LPA is nondeterministic (random visit order, random
  * tie-breaks). This variant is fully deterministic so any engine
  * reproduces it bit-for-bit: updates are SYNCHRONOUS (iteration k reads
  * only iteration k−1's labels) and ties break on the SMALLEST label.
  * Each iteration is one shuffle-join (edges ⋈ labels on dst) plus one
  * aggregation — O(E) per round, no per-node driver loop — and the label
  * frame is materialized per round to keep the lineage flat (the same
  * localCheckpoint discipline as [[Centrality.sssp]]). At cluster scale
  * the edge list is hash-partitioned once and reused every round.
  */
object Communities {

  /** `edges` must select (src, dst); treated as UNDIRECTED (symmetrized,
    * self-loops dropped, duplicates collapsed). Returns (id, label) after
    * `iters` synchronous rounds, labels seeded with the node id. */
  def labelPropagation(edges: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1 && iters <= 20,
      s"iters ($iters) out of the sane unrolled range")
    val raw = edges.select(col("src").cast("long"), col("dst").cast("long"))
    val sym = raw
      .unionByName(raw.select(col("dst").as("src"), col("src").as("dst")))
      .filter(col("src") =!= col("dst")).distinct()
      .repartition(col("dst")).localCheckpoint(eager = true)
    var labels = sym.select(col("src").as("id")).distinct()
      .withColumn("label", col("id"))
      .localCheckpoint(eager = true)
    for (_ <- 1 to iters) {
      val nbr = sym
        .join(labels.select(col("id").as("dst"), col("label")), Seq("dst"))
        .select(col("src").as("id"), col("label"))
      val cnt = nbr.groupBy(col("id"), col("label"))
        .agg(count(lit(1)).as("c"))
      // mode with smallest-label tie-break as ONE hash aggregation:
      // max over (count, -label) structs picks highest count, then
      // lowest label — no per-id sort, unlike a row_number window
      val pick = cnt.groupBy(col("id"))
        .agg(max(struct(col("c"), (-col("label")).as("nl"))).as("m"))
        .select(col("id"), (-col("m.nl")).as("new_label"))
      // every node in sym has >=1 neighbour (symmetrized, no isolates),
      // so the coalesce is a safety net, not a live path
      labels = labels.join(pick, Seq("id"), "left_outer")
        .select(col("id"),
          coalesce(col("new_label"), col("label")).as("label"))
        .barrier
    }
    labels
  }

  /** ANF / HyperANF-style neighborhood function (Palmer et al. 2002;
    * Boldi et al. 2011): estimate EVERY node's t-hop ball size at once
    * by propagating a fixed-size distinct-counting sketch along edges —
    * the only way "how far is everything from everything" scales, since
    * exact per-node BFS is O(V·E). Registers here are KMV sketches (the
    * k smallest 60-bit node hashes seen in the ball): union = merge
    * sorted-distinct, estimate = (k−1)·2⁶⁰ div kth-min — all integer
    * arithmetic, so any engine reproduces the "approximation"
    * bit-for-bit. Each round is one edges⋈sketches shuffle plus one
    * merge aggregation (collect_list → flatten → distinct → sort →
    * slice k), state O(V·k); the output is the per-depth node count and
    * summed ball estimate (the neighborhood function N(t), from which
    * effective-diameter estimates read off directly).
    *
    * Returns one row per depth 1..`depth`:
    * (depth, n_nodes, sum_ball_est). Estimates are capped at 10¹² per
    * node so a degenerate kth-min cannot overflow the BIGINT sum. */
  def neighborhoodFunction(edges: DataFrame, depth: Int, k: Int)
      : DataFrame = {
    require(depth >= 1 && depth <= 8 && k >= 2 && k <= 64,
      s"depth ($depth) / k ($k) out of the sane range")
    val space = 1152921504606846976L // 2^60, the hash60 value space
    val raw = edges.select(col("src").cast("long"), col("dst").cast("long"))
    val sym = raw
      .unionByName(raw.select(col("dst").as("src"), col("src").as("dst")))
      .filter(col("src") =!= col("dst")).distinct()
      .repartition(col("dst")).localCheckpoint(eager = true)
    var sk = sym.select(col("src").as("id")).distinct()
      .select(col("id"),
        array(graft.pipeline.Sampling.hash60("anf", col("id"))).as("ks"))
      .localCheckpoint(eager = true)
    def summary(t: Int): DataFrame = {
      // integer `div`, NOT Column./ — long division through a double
      // mantissa is lossy at 2^60 scale and would drift off the oracle
      val est = expr(
        s"""CASE WHEN size(ks) < $k THEN CAST(size(ks) AS BIGINT)
           |  ELSE least(${(k - 1).toLong * space}L div
           |    greatest(element_at(ks, $k), 1L), 1000000000000L)
           |END""".stripMargin)
      sk.select(est.as("est"))
        .agg(count(lit(1)).as("n_nodes"), sum(col("est")).as("sum_ball_est"))
        .select(lit(t).as("depth"), col("n_nodes"), col("sum_ball_est"))
    }
    val perDepth = (1 to depth).map { t =>
      val msg = sym
        .join(sk.withColumnRenamed("id", "dst"), Seq("dst"))
        .select(col("src").as("id"), col("ks"))
      sk = msg.unionByName(sk.select(col("id"), col("ks")))
        .groupBy(col("id"))
        .agg(slice(array_sort(array_distinct(flatten(
          collect_list(col("ks"))))), 1, k).as("ks"))
        .barrier
      summary(t)
    }
    perDepth.reduce(_.unionByName(_))
  }

  /** SQL mirror of [[neighborhoodFunction]] — unrolled merge rounds; the
    * final SELECT unions the per-depth summaries. `edgesSql` must select
    * (src, dst). Emitted from here so the two sides cannot drift. */
  def neighborhoodFunctionSql(edgesSql: String, depth: Int, k: Int)
      : String = {
    val space = "1152921504606846976"
    val est =
      s"""CASE WHEN len(ks) < $k THEN len(ks)
         |      ELSE LEAST((${k - 1} * $space)
         |        // GREATEST(ks[$k], 1), 1000000000000) END""".stripMargin
    val steps = (1 to depth).map { t =>
      s"""s$t AS MATERIALIZED (
         |  SELECT id, list_slice(list_sort(list_distinct(flatten(
         |      list(ks)))), 1, $k) AS ks
         |  FROM (
         |    SELECT e.src AS id, s.ks FROM sym e
         |    JOIN s${t - 1} s ON s.id = e.dst
         |    UNION ALL SELECT id, ks FROM s${t - 1})
         |  GROUP BY id),
         |n$t AS (
         |  SELECT $t AS depth, COUNT(*) AS n_nodes,
         |    CAST(SUM($est) AS BIGINT) AS sum_ball_est
         |  FROM s$t)""".stripMargin
    }.mkString(",\n")
    val unionAll = (1 to depth)
      .map(t => s"SELECT * FROM n$t").mkString("\n  UNION ALL ")
    s"""raw AS ($edgesSql),
       |sym AS MATERIALIZED (
       |  SELECT DISTINCT src, dst FROM (
       |    SELECT src, dst FROM raw
       |    UNION ALL SELECT dst, src FROM raw)
       |  WHERE src <> dst),
       |s0 AS (
       |  SELECT DISTINCT src AS id,
       |    [${graft.pipeline.Sampling.hash60Sql("anf", "src")}] AS ks
       |  FROM sym),
       |$steps,
       |nf AS (
       |  $unionAll)""".stripMargin
  }

  /** The SQL mirror: the same synchronous min-tie-break rounds unrolled
    * as chained CTEs (emitted from here so the two sides cannot drift).
    * `edgesSql` must select (src, dst); the final CTE is `l<iters>`
    * with columns (id, label). */
  def labelPropagationSql(edgesSql: String, iters: Int): String = {
    val steps = (1 to iters).map { k =>
      s"""c$k AS (
         |  SELECT e.src AS id, l.label, COUNT(*) AS c
         |  FROM sym e JOIN l${k - 1} l ON l.id = e.dst
         |  GROUP BY 1, 2),
         |p$k AS (
         |  SELECT id, label,
         |    ROW_NUMBER() OVER (PARTITION BY id
         |      ORDER BY c DESC, label) AS rn
         |  FROM c$k),
         |l$k AS MATERIALIZED (
         |  SELECT n.id, COALESCE(p.label, n.label) AS label
         |  FROM l${k - 1} n
         |  LEFT JOIN (SELECT id, label FROM p$k WHERE rn = 1) p
         |    ON p.id = n.id)""".stripMargin
    }.mkString(",\n")
    s"""raw AS ($edgesSql),
       |sym AS MATERIALIZED (
       |  SELECT DISTINCT src, dst FROM (
       |    SELECT src, dst FROM raw
       |    UNION ALL SELECT dst, src FROM raw)
       |  WHERE src <> dst),
       |l0 AS (SELECT DISTINCT src AS id, src AS label FROM sym),
       |$steps""".stripMargin
  }

  // -------------------------------------------------------------------
  // Maximal independent set — Luby's algorithm with FIXED priorities
  // -------------------------------------------------------------------

  /** Luby-style maximal independent set (Luby 1986) with FIXED,
    * collision-free integer priorities: each round, every active node
    * whose priority is a strict local minimum among its ACTIVE
    * neighbours joins the MIS; winners and their neighbours deactivate.
    * With priorities fixed across rounds this computes exactly the
    * sequential greedy MIS in priority order, but in
    * O(longest priority-descending path) ≈ O(log n) rounds — each round
    * is two hash joins + two anti joins on the shrinking active set, so
    * the algorithm is diameter-independent and survives 100 TB where a
    * sequential greedy cannot.
    *
    * `nodes` must select (v, h) with h UNIQUE (the caller supplies a
    * bijective hash — ties would make the round semantics ambiguous);
    * `edges` must select (u, w) already SYMMETRIZED and irreflexive.
    * Returns (node, round) — the MIS members and the round that
    * selected them. Fails loudly if `maxRounds` is hit (never silently
    * returns a non-maximal set).
    */
  def maximalIndependentSet(nodes: DataFrame, edges: DataFrame,
      maxRounds: Int = 64): DataFrame = {
    val ed = edges.select(col("u"), col("w")).localCheckpoint(true)
    // round state = the active set, each node flagged _lost when it has
    // an active neighbour with a smaller priority: winners (_lost null)
    // and losers PARTITION the active set, so ONE materialization per
    // round holds both
    def flag(act: DataFrame): DataFrame = {
      val losers = ed
        .join(act.select(col("v").as("u"), col("h").as("hu")), "u")
        .join(act.select(col("v").as("w"), col("h").as("hw")), "w")
        .filter(col("hw") < col("hu"))
        .select(col("u").as("v")).distinct()
      act.join(losers.withColumn("_lost", lit(true)), Seq("v"),
        "left_outer")
    }
    def winners(f: DataFrame): DataFrame = f.filter(col("_lost").isNull)
    // the next active set is this round's losers minus the winners'
    // NEIGHBOURS (a left_anti tolerates duplicate right-side rows, so
    // no distinct). Convergence shows as an empty round one past the
    // last winning round, hence maxRounds + 1.
    Iterate.fixpoint("MIS",
        flag(nodes.select(col("v"), col("h")).localCheckpoint(true)),
        maxRounds + 1, mustConverge = true) { rounds =>
      val f = rounds.last._1
      flag(f.filter(col("_lost").isNotNull).select(col("v"), col("h"))
        .join(ed.join(winners(f).select(col("v").as("u")), "u")
          .select(col("w").as("v")), Seq("v"), "left_anti"))
    }.zipWithIndex.map { case ((f, _), i) =>
      winners(f).select(col("v").as("node"), lit(i + 1).as("round"))
    }.reduce(_ unionAll _)
  }

  /** DuckDB mirror of [[maximalIndependentSet]], emitted as UNROLLED
    * round CTEs (recursive CTEs cannot self-join the working set, which
    * the local-minimum test needs twice). `nodesSql` must select (v, h),
    * `edgesSql` (u, w) symmetrized; the final CTE is `mis` with columns
    * (node, round). `rounds` must upper-bound the true round count —
    * extra rounds are no-ops on an empty active set, so over-providing
    * is safe and under-providing only TRUNCATES (gate then mismatches
    * the Spark side, which runs to convergence — a loud failure). */
  def maximalIndependentSetSql(nodesSql: String, edgesSql: String,
      rounds: Int): String = {
    val steps = (1 to rounds).map { r =>
      s"""w$r AS (
         |  SELECT a.v, a.h FROM act${r - 1} a WHERE NOT EXISTS (
         |    SELECT 1 FROM misEd e JOIN act${r - 1} n ON n.v = e.w
         |    WHERE e.u = a.v AND n.h < a.h)),
         |act$r AS MATERIALIZED (
         |  SELECT a.v, a.h FROM act${r - 1} a
         |  WHERE NOT EXISTS (SELECT 1 FROM w$r WHERE w$r.v = a.v)
         |    AND NOT EXISTS (
         |      SELECT 1 FROM misEd e JOIN w$r ON w$r.v = e.u
         |      WHERE e.w = a.v))""".stripMargin
    }.mkString(",\n")
    val winners = (1 to rounds)
      .map(r => s"SELECT v AS node, $r AS round FROM w$r")
      .mkString("\n  UNION ALL ")
    s"""misNodes AS ($nodesSql),
       |misEd AS MATERIALIZED ($edgesSql),
       |act0 AS (SELECT v, h FROM misNodes),
       |$steps,
       |mis AS (
       |  $winners)""".stripMargin
  }

  /** Distributed greedy MAXIMAL MATCHING by local-maximum edges —
    * Luby's MIS run on the LINE GRAPH (the Israeli & Itai 1986 round
    * structure with fixed collision-free priorities): each round, a
    * live edge whose priority struct (h, u, w) is the maximum among
    * all live edges at BOTH endpoints joins the matching; its
    * endpoints leave and every live edge touching them dies. The
    * state update is two anti joins, so sizeInBytes statistics stay
    * flat (the [[Mst]] barrier lesson does not bite here) and rounds
    * are O(log n) w.h.p. `edges` must select (u, w, h) canonical
    * u < w. Returns (round, u, w) — the matching with the round that
    * admitted each edge. Fails loudly past `maxRounds`. */
  def maximalMatching(edges: DataFrame, maxRounds: Int = 64)
      : DataFrame = {
    val key = struct(col("h"), col("u"), col("w"))
    // round state = the live edges, each flagged _m when its priority
    // is the maximum at both endpoints (the round's matched edges)
    def flag(live: DataFrame): DataFrame = {
      val inc = live.select(col("u").as("v"), col("h"), col("u"),
          col("w"))
        .unionAll(live.select(col("w").as("v"), col("h"), col("u"),
          col("w")))
      val mv = inc.groupBy(col("v")).agg(max(key).as("m"))
      live
        .join(mv.select(col("v").as("u"), col("m").as("ma")), "u")
        .join(mv.select(col("v").as("w"), col("m").as("mb")), "w")
        .select(col("u"), col("w"), col("h"),
          (key === col("ma") && key === col("mb")).as("_m"))
    }
    // the next live set drops every edge touching a matched endpoint;
    // left_anti tolerates duplicate right-side rows (guide §2.4).
    // Convergence is the empty round after the last matching one.
    Iterate.fixpoint("matching",
        flag(edges.select(col("u"), col("w"), col("h"))
          .localCheckpoint(true)),
        maxRounds + 1, mustConverge = true) { rounds =>
      val matched = rounds.last._1.filter(col("_m"))
      val mvs = matched.select(col("u").as("v"))
        .unionAll(matched.select(col("w").as("v")))
      flag(rounds.last._1.filter(!col("_m"))
        .select(col("u"), col("w"), col("h"))
        .join(mvs.select(col("v").as("u")), Seq("u"), "left_anti")
        .join(mvs.select(col("v").as("w")), Seq("w"), "left_anti"))
    }.zipWithIndex.map { case ((f, _), i) =>
      f.filter(col("_m")).select(lit(i + 1L).as("round"), col("u"),
        col("w"))
    }.reduce(_ unionAll _)
  }

  /** DuckDB mirror of [[maximalMatching]] as unrolled round CTEs.
    * `rounds` must upper-bound the true round count (extra rounds are
    * no-ops on an empty live set). Final CTE `matching` has
    * (round, u, w). A graph needing more rounds than the unroll would
    * silently truncate the matching (and break maximality), so the
    * final CTE carries the same LOUD string→BIGINT convergence guard
    * as [[Mst.boruvkaSql]]: any live edge after round `rounds` raises
    * a conversion error naming this guard. */
  def maximalMatchingSql(edgesSql: String, rounds: Int): String = {
    val steps = (1 to rounds).map { r =>
      s"""minc$r AS (
         |  SELECT u AS v, h, u, w FROM mlive${r - 1}
         |  UNION ALL SELECT w AS v, h, u, w FROM mlive${r - 1}),
         |mmx$r AS (
         |  SELECT v, h, u, w FROM (
         |    SELECT v, h, u, w, ROW_NUMBER() OVER (PARTITION BY v
         |      ORDER BY h DESC, u DESC, w DESC) AS rn
         |    FROM minc$r) WHERE rn = 1),
         |mt$r AS (
         |  SELECT l.u, l.w FROM mlive${r - 1} l
         |  JOIN mmx$r a ON a.v = l.u AND a.h = l.h AND a.u = l.u
         |    AND a.w = l.w
         |  JOIN mmx$r b ON b.v = l.w AND b.h = l.h AND b.u = l.u
         |    AND b.w = l.w),
         |mlive$r AS MATERIALIZED (
         |  SELECT l.u, l.w, l.h FROM mlive${r - 1} l
         |  WHERE NOT EXISTS (SELECT 1 FROM mt$r m
         |    WHERE m.u = l.u OR m.w = l.u
         |       OR m.u = l.w OR m.w = l.w))""".stripMargin
    }.mkString(",\n")
    val log = (1 to rounds)
      .map(r => s"SELECT $r AS round, u, w FROM mt$r")
      .mkString("\n  UNION ALL ")
    s"""mmEd AS MATERIALIZED ($edgesSql),
       |mlive0 AS (SELECT u, w, h FROM mmEd),
       |$steps,
       |mmConv AS (
       |  SELECT CAST(CASE WHEN n > 0 THEN
       |      'MATCHING GUARD: SQL unroll of $rounds rounds too ' ||
       |      'small, ' || n || ' live edges remain'
       |    ELSE '0' END AS BIGINT) AS g
       |  FROM (SELECT COUNT(*) AS n FROM mlive$rounds)),
       |matching AS (
       |  SELECT round + g AS round, u, w FROM (
       |  $log) CROSS JOIN mmConv)""".stripMargin
  }

  /** Round-limited greedy coloring by iterated local maxima — the
    * Jones–Plassmann (1993) round structure with fixed collision-free
    * priorities: in round r every UNCOLORED vertex whose priority
    * exceeds all uncolored neighbours' takes color r and leaves the
    * active set (its neighbours STAY — only the winners exit, unlike
    * [[maximalIndependentSet]]). Each round's winner set is independent
    * by construction, so the partial result is always a PROPER
    * coloring. Exactly `rounds` rounds run — a fixed job count at any
    * scale — and vertices still active afterwards are returned with
    * color 0 (the caller reports the uncolored remainder; expected
    * fraction decays geometrically, ~(1 − 1/(d̄+1))^rounds). Per round:
    * one edge join + one anti join on the shrinking active set —
    * diameter-independent, the shape that survives 100 TB.
    *
    * `nodes` must select (v, h) with h UNIQUE (bijective hash — ties
    * would make a round ambiguous); `edges` (u, w) symmetrized,
    * irreflexive. Returns (node, color), color = 1-based round, 0 =
    * uncolored after `rounds`. */
  def localMaxColoring(nodes: DataFrame, edges: DataFrame,
      rounds: Int): DataFrame = {
    require(rounds >= 1,
      s"localMaxColoring needs rounds >= 1 (got $rounds)")
    var act = nodes.select(col("v"), col("h")).localCheckpoint(true)
    val ed = edges.select(col("u"), col("w")).localCheckpoint(true)
    var out: DataFrame = null
    for (r <- 1 to rounds) {
      // active vertices beaten by an active neighbour's priority
      val losers = ed
        .join(act.select(col("v").as("u"), col("h").as("hu")), "u")
        .join(act.select(col("v").as("w"), col("h").as("hw")), "w")
        .filter(col("hw") > col("hu"))
        .select(col("u").as("v")).distinct()
      // winners and the surviving active set PARTITION act by the same
      // losers frame, so ONE flagged materialization replaces the
      // former two anti-join barriers per round (guide §2.4: act ∖
      // winners ≡ act ∩ losers ≡ losers-with-h — no second join)
      val flagged = act
        .join(losers.withColumn("_lost", lit(true)), Seq("v"),
          "left_outer")
        .barrier
      val winners = flagged.filter(col("_lost").isNull)
      act = flagged.filter(col("_lost").isNotNull)
        .select(col("v"), col("h"))
      val w = winners
        .select(col("v").as("node"), lit(r.toLong).as("color"))
      out = if (out == null) w else out.unionAll(w)
    }
    out.unionAll(act.select(col("v").as("node"), lit(0L).as("color")))
  }

  /** DuckDB mirror of [[localMaxColoring]] as unrolled round CTEs (same
    * reasons as [[maximalIndependentSetSql]]). `rounds` must EQUAL the
    * Spark side's — both engines run the identical fixed schedule, so
    * there is no convergence mismatch to guard. Final CTE `coloring`
    * has (node, color), color 0 = still uncolored after `rounds`. */
  def localMaxColoringSql(nodesSql: String, edgesSql: String,
      rounds: Int): String = {
    val steps = (1 to rounds).map { r =>
      s"""cw$r AS (
         |  SELECT a.v FROM cact${r - 1} a WHERE NOT EXISTS (
         |    SELECT 1 FROM colEd e JOIN cact${r - 1} n ON n.v = e.w
         |    WHERE e.u = a.v AND n.h > a.h)),
         |cact$r AS MATERIALIZED (
         |  SELECT a.v, a.h FROM cact${r - 1} a
         |  WHERE NOT EXISTS (SELECT 1 FROM cw$r WHERE cw$r.v = a.v))"""
        .stripMargin
    }.mkString(",\n")
    val winners = (1 to rounds)
      .map(r => s"SELECT v AS node, $r AS color FROM cw$r")
      .mkString("\n  UNION ALL ")
    s"""colNodes AS ($nodesSql),
       |colEd AS MATERIALIZED ($edgesSql),
       |cact0 AS (SELECT v, h FROM colNodes),
       |$steps,
       |coloring AS (
       |  $winners
       |  UNION ALL SELECT v AS node, 0 AS color FROM cact$rounds)"""
      .stripMargin
  }
}
