package graft.graph

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.ops.Iterate
import graft.pipeline.Sampling

/** Minimum spanning tree by Borůvka (1926) with randomized star
  * contraction — the log-round distributed MST (the formulation behind
  * Pregel/Giraph MST and the AKLSZ MapReduce line): each round every
  * component selects its minimum-weight out-edge (safe by the cut
  * property), and a contraction happens only on TAIL→HEAD coin pairs —
  * a deterministic per-(component, round) hash coin — so every merge is
  * ONE pointer hop and no chain of component labels ever forms (the
  * trap that would need an inner pointer-jumping loop). A constant
  * fraction of components merges per round in expectation, so rounds =
  * O(log n) w.h.p.; each round is two label joins + one per-component
  * min + one label update, all hash-partitioned — no step depends on
  * graph diameter, the property that survives 100 TB edge lists.
  *
  * Weights must come with the (w, a, b) lexicographic tie-break, which
  * makes the MST unique even under hash-weight collisions (a total
  * order on edges is all Borůvka needs).
  */
object Mst {

  private def coin(c: Column, round: Int): Column =
    pmod(Sampling.hash60("coin", c * 131 + round), lit(2L))

  /** Run Borůvka to convergence (no cross-component edge left).
    * `vertices` must select (v); `edges` (a, b, w) CANONICAL a < b,
    * one row per undirected edge. Returns the merge log
    * (round, a, b, w) — the MST edge set with the round that
    * contracted it. Fails loudly past `maxRounds`.
    *
    * The state is the EDGE-RELABELED contraction (textbook distributed
    * Borůvka / AKLSZ): component labels live ON the surviving
    * cross-component edges as (ca, cb) — there is no vertex-sized
    * label table in the loop at all. Each round reads only the
    * surviving edges (min out-edge per component straight off the
    * frame, no join), relabels them against the round's merge map
    * (component cu merges into cv atomically, so updating every edge
    * whose ca/cb equals a merged label IS the global label update),
    * and drops the edges the merges made internal. Both the per-round
    * scan AND the relabel join therefore shrink geometrically with
    * the contraction — the earlier vertex-table formulation paid an
    * O(V) label join every round regardless of how far the graph had
    * contracted, which dominated at every measured scale (sf1 52.6 s
    * → see SCALING.md round-10 rows for the drop). */
  def boruvka(vertices: DataFrame, edges: DataFrame,
      maxRounds: Int = 96): DataFrame = {
    // self-loops (a == b) violate the canonical a < b contract and,
    // if admitted, survive every round with ca == cb renamed in lock
    // step — such an edge can win a component's min out-edge forever
    // and block that component's merge, surfacing only as a maxRounds
    // non-convergence. Drop them at entry (the per-round ca =!= cb
    // filter never sees the INITIAL frame).
    // ROUND 13 loop shape — ONE job per round, the merge-map barrier
    // (the loop is job-launch-bound at every measured scale, and the
    // former relabel barrier was half its jobs; guide §1.2). The
    // relabel is applied LAZILY: the next round's candidate scan
    // re-runs up to `RelabelDepth` relabel layers as joins against
    // already-materialized merge-map checkpoints (each carries its
    // measured row count, so the planner's broadcast decision stays
    // honest at any scale), and the edge frame is re-checkpointed
    // every RelabelDepth rounds to bound the lineage. The convergence
    // test rides the merge job as an observe COUNT OF CANDIDATES —
    // sel is empty exactly when no cross-component edge remains — so
    // no emptiness job either. Metric misses fall back to cheap extra
    // jobs, never correctness (the round-12 q136 lesson). Merge-log
    // rows reference the merge-map checkpoints, so the terminal union
    // replays nothing.
    val RelabelDepth = 4
    var (ec, ecn) = Iterate.barrierCounted(
      edges.filter(col("a") =!= col("b"))
        .select(col("a"), col("b"), col("w"),
          col("a").as("ca"), col("b").as("cb")))
    var ecLazy: DataFrame = ec
    var depth = 0
    var out: DataFrame = null
    var r = 0
    var done = ecn == 0
    while (!done) {
      r += 1
      require(r <= maxRounds,
        s"Boruvka did not converge in $maxRounds rounds")
      // both orientations from ONE scan (explode), not two unionAll
      // branches — halves the map work feeding the per-component min
      // (guide §2.3)
      val cand = ecLazy.select(explode(array(
          struct(col("ca").as("cu"), col("cb").as("cv"), col("w"),
            col("a"), col("b")),
          struct(col("cb").as("cu"), col("ca").as("cv"), col("w"),
            col("a"), col("b")))).as("x"))
        .select(col("x.cu").as("cu"), col("x.cv").as("cv"),
          col("x.w").as("w"), col("x.a").as("a"), col("x.b").as("b"))
      val sel = cand.groupBy(col("cu"))
        .agg(min(struct(col("w"), col("a"), col("b"), col("cv")))
          .as("m"))
        .select(col("cu"), col("m.w").as("w"), col("m.a").as("a"),
          col("m.b").as("b"), col("m.cv").as("cv"))
      val selName = s"graft_mst_sel_$r"
      val mrgName = s"graft_mst_mrg_$r"
      val dfo = sel
        .observe(selName, count(lit(1)).as("n"))
        .filter(coin(col("cu"), r) === 0L &&
          coin(col("cv"), r) === 1L)
        .observe(mrgName, count(lit(1)).as("n"))
      val cp = dfo.localCheckpoint(eager = true)
      val selN = Iterate.observed(dfo, selName)(Row(sel.count()))
        .getLong(0)
      val mrgN = Iterate.observed(dfo, mrgName)(Row(cp.count()))
        .getLong(0)
      if (selN == 0) done = true
      else {
        val merges = org.apache.spark.sql.execution.GraftBarrier
          .resetStats(cp, Some(mrgN))
        val w = merges.select(lit(r.toLong).as("round"), col("a"),
          col("b"), col("w"))
        out = if (out == null) w else out.unionAll(w)
        // relabel surviving edges against the merge map and contract:
        // an edge whose endpoints landed in one component exits the
        // loop forever. ORIGINAL (a, b, w) ride along untouched, so
        // the merge log and the (w, a, b) total order never change.
        ecLazy = ecLazy
          .join(merges.select(col("cu").as("ca"), col("cv").as("nca")),
            Seq("ca"), "left_outer")
          .join(merges.select(col("cu").as("cb"), col("cv").as("ncb")),
            Seq("cb"), "left_outer")
          .select(col("a"), col("b"), col("w"),
            coalesce(col("nca"), col("ca")).as("ca"),
            coalesce(col("ncb"), col("cb")).as("cb"))
          .filter(col("ca") =!= col("cb"))
        depth += 1
        if (depth >= RelabelDepth) {
          val (ec2, _) = Iterate.barrierCounted(ecLazy)
          ec = ec2
          ecLazy = ec
          depth = 0
        }
      }
    }
    if (out == null)
      vertices.sparkSession.emptyDataFrame
        .select(lit(0L).as("round"), lit(0L).as("a"), lit(0L).as("b"),
          lit(0L).as("w")).limit(0)
    else out
  }

  /** DuckDB mirror of [[boruvka]] as UNROLLED round CTEs (the
    * q271-style replay: `rounds` must upper-bound the true round
    * count; converged rounds are no-ops). `verticesSql` selects (v),
    * `edgesSql` (a, b, w) canonical. Final CTE `mst` has
    * (round, a, b, w) — one row per contracted edge.
    *
    * A graph needing MORE rounds than the unroll would silently drop
    * the tail merges and surface only as an opaque hash mismatch, so
    * the final CTE carries a LOUD convergence guard: if any
    * cross-component edge survives round `rounds`, a string → BIGINT
    * cast raises a conversion error naming this guard (DuckDB's
    * `error()` is not reliably lazy inside CTE projections; the CAST
    * form is, verified on 1.0.0 — fires even when `mst` itself ends
    * up empty, because the guard scalar joins into every consumer). */
  def boruvkaSql(verticesSql: String, edgesSql: String,
      rounds: Int): String = {
    def coinSql(c: String, r: Int): String =
      s"(${Sampling.hash60Sql("coin", s"$c * 131 + $r")} % 2)"
    val steps = (1 to rounds).map { r =>
      s"""ec$r AS (
         |  SELECT e.a, e.b, e.w, la.c AS ca, lb.c AS cb
         |  FROM mstEd e
         |  JOIN lab${r - 1} la ON la.v = e.a
         |  JOIN lab${r - 1} lb ON lb.v = e.b
         |  WHERE la.c <> lb.c),
         |sel$r AS (
         |  SELECT cu, cv, w, a, b FROM (
         |    SELECT cu, cv, w, a, b, ROW_NUMBER() OVER (
         |      PARTITION BY cu ORDER BY w, a, b) AS rn
         |    FROM (SELECT ca AS cu, cb AS cv, w, a, b FROM ec$r
         |          UNION ALL
         |          SELECT cb AS cu, ca AS cv, w, a, b FROM ec$r))
         |  WHERE rn = 1),
         |mg$r AS (
         |  SELECT cu, cv, w, a, b FROM sel$r
         |  WHERE ${coinSql("cu", r)} = 0 AND ${coinSql("cv", r)} = 1),
         |lab$r AS MATERIALIZED (
         |  SELECT l.v, COALESCE(m.cv, l.c) AS c
         |  FROM lab${r - 1} l LEFT JOIN mg$r m ON m.cu = l.c)"""
        .stripMargin
    }.mkString(",\n")
    val log = (1 to rounds)
      .map(r => s"SELECT $r AS round, a, b, w FROM mg$r")
      .mkString("\n  UNION ALL ")
    s"""mstV AS ($verticesSql),
       |mstEd AS MATERIALIZED ($edgesSql),
       |lab0 AS (SELECT v, v AS c FROM mstV),
       |$steps,
       |mstConv AS (
       |  SELECT CAST(CASE WHEN n > 0 THEN
       |      'BORUVKA GUARD: SQL unroll of $rounds rounds too ' ||
       |      'small, ' || n || ' cross-component edges remain'
       |    ELSE '0' END AS BIGINT) AS g
       |  FROM (SELECT COUNT(*) AS n FROM mstEd e
       |        JOIN lab$rounds la ON la.v = e.a
       |        JOIN lab$rounds lb ON lb.v = e.b
       |        WHERE la.c <> lb.c)),
       |mst AS (
       |  SELECT round + g AS round, a, b, w FROM (
       |  $log) CROSS JOIN mstConv)""".stripMargin
  }
}
