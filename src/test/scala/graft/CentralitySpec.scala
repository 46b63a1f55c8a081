package graft

import org.apache.spark.sql.functions.col

import graft.graph.Centrality

class CentralitySpec extends SparkSpec {
  import spark.implicits._

  /** Naive single-threaded mirror of the integer personalized PageRank
    * recurrence: the independent reference for the GraphX engine. */
  private def naive(edges: Seq[(Long, Long)], seed: Long => Boolean,
      iters: Int): Map[Long, Long] = {
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val outdeg = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val inEdges = edges.groupBy(_._2)
    val teleport = nodes.map(v => v -> (if (seed(v)) 1L else 0L)).toMap
    var rank = nodes.map(v => v -> teleport(v) * 1000000L).toMap
    for (_ <- 1 to iters) {
      rank = nodes.map { v =>
        val s = inEdges.getOrElse(v, Seq.empty)
          .map { case (u, _) => rank(u) / outdeg(u) }.sum
        v -> (teleport(v) * 150000L + (850000L * s) / 1000000L)
      }.toMap
    }
    rank
  }

  private def ppr(edges: Seq[(Long, Long)], seed: Long => Boolean,
      iters: Int): Map[Long, Long] =
    Centrality
      .personalizedPageRankInteger(edges.toDF("src", "dst"), seed, iters)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("all-seeded personalized PageRank matches the naive recurrence " +
      "exactly") {
    // a cycle, a chain feeding it, a dangling sink, parallel edges
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 1L), (5L, 4L),
      (1L, 6L), (4L, 1L)) // (4,1) duplicated: multigraph contribution
    val got = ppr(edges, _ => true, 5)
    assert(got === naive(edges, _ => true, 5))
    // sink node 6 exists with base rank flowing in from 1
    assert(got(6L) > 150000L)
    // cycle members outrank the chain tail
    assert(got(1L) > got(5L))
  }

  test("personalized PageRank over a seed subset matches the naive " +
      "recurrence exactly") {
    // cycle + feeder chain + dangling sink + parallel edge + island
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 1L), (5L, 4L),
      (1L, 6L), (4L, 1L), (7L, 8L))
    val seed = (id: Long) => id % 3 == 1 // seeds 1, 4 and 7
    val got = ppr(edges, seed, 6)
    assert(got === naive(edges, seed, 6))
    assert(got.keySet === (1L to 8L).toSet)
    // the island's seed feeds its unseeded sink
    assert(got(7L) === 150000L && got(8L) > 0L)
  }

  test("labelPropagation separates two cliques across a bridge") {
    def clique(ids: Seq[Long]): Seq[(Long, Long)] =
      for (a <- ids; b <- ids if a < b) yield (a, b)
    val edges = (clique(Seq(1L, 2L, 3L, 4L)) ++
      clique(Seq(11L, 12L, 13L, 14L)) :+ (4L -> 11L)).toDF("src", "dst")
    val labels = graph.Communities.labelPropagation(edges, 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // synchronous min-tie-break LPA floods each clique with its smallest
    // member's label; the single bridge edge cannot outvote the clique
    assert(Seq(1L, 2L, 3L, 4L).map(labels).toSet === Set(1L))
    assert(Seq(11L, 12L, 13L, 14L).map(labels).toSet === Set(11L))
  }

  test("labelPropagation symmetrizes directed input and drops self-loops") {
    // directed one-way star + a self-loop: symmetrization must let the
    // hub see its spokes and vice versa; the self-loop must not vote
    val edges = Seq((1L, 5L), (2L, 5L), (3L, 5L), (5L, 5L))
      .toDF("src", "dst")
    val labels = graph.Communities.labelPropagation(edges, 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.keySet === Set(1L, 2L, 3L, 5L))
    // a star is bipartite, so synchronous LPA oscillates hub<->spokes;
    // the symmetry property is that all three spokes move in lockstep
    assert(Seq(1L, 2L, 3L).map(labels).toSet.size === 1)
  }

  test("neighborhoodFunction is exact while balls stay under k") {
    // path graph 1-2-3-4-5: with k=8 > any ball size the KMV sketch
    // holds every reachable hash, so sum_ball_est must be the EXACT
    // sum of (t-hop ball sizes incl. self)
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
      .toDF("src", "dst")
    val out = graph.Communities.neighborhoodFunction(edges, 3, 8)
      .collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // t=1 balls: {1,2},{1,2,3},{2,3,4},{3,4,5},{4,5} -> 2+3+3+3+2 = 13
    assert(out(1) === ((5L, 13L)))
    // t=2: {1..3},{1..4},{1..5},{2..5},{3..5} -> 3+4+5+4+3 = 19
    assert(out(2) === ((5L, 19L)))
    // t=3: {1..4},{1..5},{1..5},{1..5},{2..5} -> 4+5+5+5+4 = 23
    assert(out(3) === ((5L, 23L)))
  }

  test("deterministicWalks follow edges and replay identically") {
    val edges = ((1L to 40L).map(i => (i, i % 7 + 1)) ++
      Seq((50L, 51L))).filter { case (a, b) => a != b }
      .toDF("src", "dst")
    val adj = {
      val e = edges.collect().map(r => (r.getLong(0), r.getLong(1)))
      (e ++ e.map(_.swap)).filter { case (a, b) => a != b }
        .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).toSet }
    }
    def run() = graph.Walks
      .deterministicWalks(edges, col("id") <= 10, steps = 5)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    val walks = run()
    assert(walks.keySet === (1L to 10L).toSet)
    walks.foreach { case (w, path) =>
      val hops = path.split("->").map(_.toLong)
      assert(hops.head === w)
      assert(hops.length === 6) // start + 5 hops, no dead ends here
      hops.sliding(2).foreach { case Array(a, b) =>
        assert(adj(a).contains(b), s"walk $w used non-edge $a->$b")
      }
    }
    assert(run() === walks) // pure function of (graph, walk_id)
  }

  test("all-seeded personalized PageRank is deterministic across " +
      "partitionings") {
    val edges = (1L to 200L).map(i => (i, i * i % 97))
      .filter { case (a, b) => a != b }
    def run(parts: Int) = Centrality
      .personalizedPageRankInteger(
        edges.toDF("src", "dst").repartition(parts), _ => true, 4)
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(run(1) === run(7)) // integer arithmetic: no partition-order drift
  }
}
