package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.apache.spark.graphx.{Edge, Graph, Pregel, EdgeDirection, EdgeTriplet}

import graft.ops.Iterate

/** Variable-length traversal layer — the one capability with no Catalyst
  * analog (SURVEY §4.2). Implements the reference's bounded var-length
  * Cypher patterns:
  *
  *   - `CALLS*1..10` impact analysis (`pkg/neo4j/query.go:203-242`),
  *   - `FLOWS_TO*1..15` data lineage with path capture (`query.go:245-285`),
  *   - `CONTAINS*` File ancestors of find-references' usages
  *     (`query.go:121-163`): [[paths]] seeded with the usages, over
  *     reversed edges.
  *
  * Reachability runs on GraphX Pregel ([[reachable]]); path
  * enumeration has a DataFrame engine ([[paths]]: frontier ⋈ edges per
  * superstep, `localCheckpoint` to truncate lineage) and a GraphX one
  * ([[pathsGraphX]]).
  *
  * Depth caps mirror the reference's blow-up guards (≤10 / ≤15).
  */
object Traversals {

  /** Tree closure by DOUBLING: valid only for forests (at most one path
    * per pair, so composing two closures never duplicates a pair and
    * depths add exactly). C(2k) = C(k) ∪ C(k)∘C(k) reaches depth cap D
    * in ⌈log2 D⌉ materializations instead of D — the right shape when
    * per-level scheduling, not data volume, dominates. On a forest the
    * output equals [[paths]] seeded with every node and projected to
    * (start, end, depth): each pair has exactly one path. */
  def closureTreeDoubling(edges: DataFrame, maxDepth: Int): DataFrame = {
    var acc = Iterate.barrier(
      edges.select(col("src").as("ancestor"),
        col("dst").as("descendant"), lit(1).as("depth")))
    // pow = pairs at EXACT depth `reach`. Composing pow∘acc splits every
    // depth-(reach+d) path at exactly `reach` hops from its start — a
    // UNIQUE decomposition, so no pair is ever produced twice (composing
    // acc∘acc would emit one row per valid split point).
    var pow = acc
    var reach = 1
    while (reach < maxDepth && !pow.isEmpty) {
      val a = pow.select(col("ancestor"), col("descendant").as("mid"),
        col("depth").as("d1"))
      val b = acc.select(col("ancestor").as("mid"), col("descendant"),
        col("depth").as("d2"))
      val composed = a.join(b, Seq("mid"))
        .select(col("ancestor"), col("descendant"),
          (col("d1") + col("d2")).as("depth"))
        .filter(col("depth") <= maxDepth)
      acc = Iterate.barrier(acc.unionByName(composed))
      reach = reach * 2
      pow = acc.filter(col("depth") === reach)
    }
    acc
  }

  /** Path enumeration from seeds with cycle-safe visited tracking:
    * returns (start, end, depth, path: array<long>) for every simple path
    * of length 1..maxHops. The `nodes(path)` capture of the reference's
    * data-lineage query (`query.go:245-285`). Exponential in dense graphs
    * — callers cap depth like the reference (≤15) and pre-filter seeds.
    */
  def paths(edges: DataFrame, seeds: DataFrame, maxHops: Int): DataFrame = {
    // a self-loop edge can never be part of a simple path — drop them
    // up front (the per-level visited check only guards later revisits)
    val e = edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // lazy union of the per-level checkpointed frontiers: one
      // materialization job per superstep, the union is never re-copied
      Iterate.fixpoint("paths",
          seeds.select(col("id").as("start"))
            .join(e, col("start") === e("src"))
            .select(col("start"), e("dst").as("end"), lit(1).as("depth"),
              array(col("start"), col("dst")).as("path")),
          maxHops) { levels =>
        val level = levels.last._1
        level.join(e, level("end") === e("src"))
          .filter(!array_contains(level("path"), e("dst"))) // simple
          .select(level("start"), e("dst").as("end"),
            lit(levels.size + 1).as("depth"),
            concat(level("path"), array(e("dst"))).as("path"))
      }.map(_._1).reduce(_ unionByName _)
    } finally e.unpersist()
  }

  /** GraphX Pregel path enumeration — the vertex-parallel engine for J5
    * when the per-level DataFrame plan is the bottleneck (SURVEY §2.3 J5:
    * "Pregel accumulating Array[Long] path vertex-attribute"). Vertex
    * state = set of simple paths from a seed ENDING at this vertex;
    * each superstep extends paths along out-edges, dropping extensions
    * that revisit a node (cycle safety). Returns (start, end, depth,
    * path) — the same DISTINCT simple paths as [[paths]]; on a
    * multigraph, parallel edges yield one row per distinct node
    * sequence here (Set state) vs one per edge there.
    *
    * Memory bound: every simple path is held as a vertex attribute, so
    * per-vertex state grows with the path count — exponential in
    * maxHops on high-fanout graphs, and unlike the DataFrame engine it
    * cannot spill. The depth cap is the containment strategy; it is
    * enforced here at the reference's FLOWS_TO limit (≤15,
    * `pkg/neo4j/query.go:250`). Use [[paths]] when deeper traversal or
    * spillable state is needed.
    */
  def pathsGraphX(spark: SparkSession, edges: DataFrame,
      seeds: DataFrame, maxHops: Int): DataFrame = {
    require(maxHops <= 15,
      s"pathsGraphX holds all simple paths in vertex memory; maxHops " +
        s"($maxHops) above the reference's 15-hop cap risks " +
        s"exponential state — use the spillable DataFrame engine")
    import spark.implicits._
    val edgeRdd = edges.select(col("src"), col("dst")).as[(Long, Long)]
      .rdd.map { case (s, d) => Edge(s, d, ()) }
    val graph = Graph.fromEdges(edgeRdd, ())
    type Paths = Set[Vector[Long]]
    // seed membership joins into the vertex init (nothing collected to
    // the driver), for unbounded seed sets
    val seedRdd = seeds.select(col(seeds.columns.head).cast("long"))
      .as[Long].rdd.map(id => (id, ()))
    // accumulated = paths already emitted at this vertex;
    // frontier = paths that arrived last superstep (still extending)
    val init = graph.outerJoinVertices(seedRdd) { (vid, _, s) =>
      val self: Paths = if (s.isDefined) Set(Vector(vid)) else Set.empty
      (Set.empty: Paths, self)
    }
    val result = Pregel(init, Set.empty: Paths, maxHops,
      EdgeDirection.Out)(
      // the initial (empty) message must NOT flush the seed frontier;
      // real messages are non-empty by construction of sendMsg
      vprog = (_, attr: (Paths, Paths), msg: Paths) =>
        if (msg.isEmpty) attr else (attr._1 ++ attr._2, msg),
      sendMsg = (t: EdgeTriplet[(Paths, Paths), Unit]) => {
        val extended = t.srcAttr._2.collect {
          case p if !p.contains(t.dstId) && p.length <= maxHops =>
            p :+ t.dstId
        }
        if (extended.nonEmpty) Iterator((t.dstId, extended))
        else Iterator.empty
      },
      mergeMsg = (a: Paths, b: Paths) => a ++ b)
    result.vertices
      .flatMap { case (vid, (acc, frontier)) =>
        (acc ++ frontier).collect {
          case p if p.length >= 2 && p.length <= maxHops + 1 =>
            (p.head, vid, p.length - 1, p)
        }
      }
      .toDF("start", "end", "depth", "path")
  }

  /** Minimum-depth reachability from `seeds` following `edges` (cols
    * src, dst) forward, up to `maxHops`, on GraphX Pregel: one
    * vertex-parallel superstep per hop, no per-hop driver-scheduled job.
    * Returns (id, depth) with depth = min #hops ≥ 1. A seed that a cycle
    * leads back to IS returned (at its discovery depth), matching Cypher
    * `CALLS*1..10` semantics where the start node appears if reachable
    * from itself.
    *
    * `seeds` is a single-column frame of vertex ids; membership arrives
    * at each vertex via `outerJoinVertices` (RDD join, nothing collected
    * to the driver), so seed sets are unbounded — e.g. "impact of every
    * function in this service" at 100 TB.
    */
  def reachable(edges: DataFrame, seeds: DataFrame,
      maxHops: Int): DataFrame = {
    import edges.sparkSession.implicits._
    val edgeRdd = edges.select(col("src"), col("dst")).as[(Long, Long)]
      .rdd.map { case (s, d) => Edge(s, d, ()) }
    val graph = Graph.fromEdges(edgeRdd, ())
    val seedRdd = seeds.select(col(seeds.columns.head).cast("long"))
      .as[Long].rdd.map(id => (id, ()))
    val Inf = Int.MaxValue
    // attr = (propagation depth, reported discovery depth): a seed
    // propagates at 0 but its own discovery via a cycle is tracked in the
    // report slot.
    val init = graph.outerJoinVertices(seedRdd)((_, _, s) =>
      if (s.isDefined) (0, Inf) else (Inf, Inf))
    val result = Pregel(init, Inf, maxHops, EdgeDirection.Out)(
      vprog = (_, attr: (Int, Int), msg: Int) =>
        (math.min(attr._1, msg), math.min(attr._2, msg)),
      sendMsg = (t: EdgeTriplet[(Int, Int), Unit]) =>
        if (t.srcAttr._1 != Inf && t.srcAttr._1 + 1 < t.dstAttr._2)
          Iterator((t.dstId, t.srcAttr._1 + 1))
        else Iterator.empty,
      mergeMsg = math.min)
    result.vertices
      .filter { case (_, (_, r)) => r != Inf && r >= 1 && r <= maxHops }
      .map { case (vid, (_, r)) => (vid, r) }
      .toDF("id", "depth")
  }
}
