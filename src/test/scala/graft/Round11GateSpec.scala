package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.graph.{Centrality, Communities, Mst, Traversals, Walks}
import graft.ops.Iterate
import graft.pipeline.{Clusters, Sampling}

/** The terminal-vs-loop localCheckpoint rule as a CI GATE (round-10
  * judge task 4). The rule lives in `Iterate.scala:20-24` prose: a
  * checkpointed frame that is REBUILT AND RE-JOINED inside a loop must
  * go through `Iterate.barrier`, because a bare `localCheckpoint`
  * carries the origin plan's `sizeInBytes` forward and the statistic
  * MULTIPLIES round over round (~×3 digits per joined round — the
  * q344 planning-stall trap).
  *
  * The gate: run every iterative module at a SHORT and a LONG round
  * count (or a short- and long-diameter fixture for convergence
  * loops) and assert the result plan's statistic digit count does not
  * grow with the round count. A future in-loop bare checkpoint makes
  * the statistic grow ~3 digits per extra round — the long run would
  * exceed the short by ≥ 3·Δrounds digits and fail here, instead of
  * resurfacing as a driver stall at sf1. (IterateSpec pins the
  * mechanism on a synthetic loop; this spec walks the REAL modules.)
  */
class Round11GateSpec extends SparkSpec {
  import spark.implicits._

  /** digits(long-run stat) − digits(short-run stat) must stay under
    * this: flat loops differ only via data volume (≤ 2 digits on
    * these fixtures); one multiplied round alone adds ~3. */
  private val MaxGrowthDigits = 2

  private def gate(name: String, short: => DataFrame,
      long: => DataFrame): Unit = {
    val s = short
    val l = long
    assert(s.limit(1).count() > 0, s"$name: short run returned no rows")
    val ds = statDigits(s)
    val dl = statDigits(l)
    assert(dl - ds <= MaxGrowthDigits,
      s"$name: plan statistic grew with round count ($ds -> $dl " +
        "digits) — an in-loop bare localCheckpoint is multiplying " +
        "origin stats; route it through Iterate.barrier")
  }

  // directed path 1 -> 2 -> ... -> n
  private def pathEdges(n: Int): DataFrame =
    (1 until n).map(i => (i.toLong, i.toLong + 1)).toDF("src", "dst")

  // canonical undirected path with unique hash priorities
  private def pathUW(n: Int): DataFrame =
    (1 until n).map(i => (i.toLong, i.toLong + 1)).toDF("u", "w")
      .withColumn("h", Sampling.hash60("gate",
        concat_ws("|", col("u"), col("w"))))

  private def pathNodes(n: Int): DataFrame =
    (1 to n).map(_.toLong).toDF("v")
      .withColumn("h", Sampling.hash60("gaten", col("v")))

  test("Traversals.closureTreeDoubling: stats flat in depth") {
    val e = pathEdges(40)
    gate("closureTreeDoubling", Traversals.closureTreeDoubling(e, 4),
      Traversals.closureTreeDoubling(e, 32))
  }

  test("Traversals.paths: stats flat in hop count") {
    val e = pathEdges(30)
    val seeds = Seq(1L).toDF("id")
    gate("paths", Traversals.paths(e, seeds, 3),
      Traversals.paths(e, seeds, 12))
  }

  test("Centrality.hitsInteger: stats flat in iteration count") {
    val e = pathEdges(24)
    gate("hits", Centrality.hitsInteger(e, 3),
      Centrality.hitsInteger(e, 10))
  }

  test("Centrality.sssp: stats flat in round count") {
    val e = pathEdges(30).withColumn("w",
      pmod(col("src") * 7, lit(5)) + 1)
    gate("sssp", Centrality.sssp(e, col("id") === 1L, 4),
      Centrality.sssp(e, col("id") === 1L, 14))
  }

  test("Centrality.multiSourceBfs: stats flat in hop count") {
    val e = pathEdges(30)
    val seeds = Seq(1L).toDF("id")
    gate("multiSourceBfs", Centrality.multiSourceBfs(e, seeds, 4),
      Centrality.multiSourceBfs(e, seeds, 14))
  }

  test("Communities.labelPropagation: stats flat in iteration count") {
    val e = pathEdges(24)
    gate("lpa", Communities.labelPropagation(e, 3),
      Communities.labelPropagation(e, 12))
  }

  test("Communities.neighborhoodFunction: stats flat in depth") {
    val e = pathEdges(24)
    gate("anf", Communities.neighborhoodFunction(e, 3, 8),
      Communities.neighborhoodFunction(e, 8, 8))
  }

  test("Communities.localMaxColoring: stats flat in round count") {
    gate("coloring",
      Communities.localMaxColoring(pathNodes(24), pathUW(24)
        .select(col("u"), col("w"))
        .unionAll(pathUW(24).select(col("w").as("u"), col("u").as("w"))), 3),
      Communities.localMaxColoring(pathNodes(24), pathUW(24)
        .select(col("u"), col("w"))
        .unionAll(pathUW(24).select(col("w").as("u"), col("u").as("w"))), 12))
  }

  test("Communities.maximalIndependentSet: stats flat in diameter") {
    def sym(n: Int) = pathUW(n).select(col("u"), col("w"))
      .unionAll(pathUW(n).select(col("w").as("u"), col("u").as("w")))
    gate("mis", Communities.maximalIndependentSet(pathNodes(12), sym(12), 64),
      Communities.maximalIndependentSet(pathNodes(64), sym(64), 64))
  }

  test("Communities.maximalMatching: stats flat in diameter") {
    gate("matching", Communities.maximalMatching(pathUW(12)),
      Communities.maximalMatching(pathUW(64)))
  }

  test("Mst.boruvka: stats flat in diameter") {
    def ed(n: Int) = (1 until n)
      .map(i => (i.toLong, i.toLong + 1, (i * 7 % 23).toLong + 1))
      .toDF("a", "b", "w")
    gate("boruvka", Mst.boruvka(pathNodes(12).select("v"), ed(12)),
      Mst.boruvka(pathNodes(64).select("v"), ed(64)))
  }

  test("Clusters.connectedComponentsStar: stats flat in diameter") {
    def pairs(n: Int) = (1 until n)
      .map(i => (i.toLong, i.toLong + 1)).toDF("x", "y")
    gate("ccStar", Clusters.connectedComponentsStar(pairs(12), "x", "y"),
      Clusters.connectedComponentsStar(pairs(96), "x", "y"))
  }

  test("Walks.deterministicWalks: stats flat in step count") {
    val e = pathEdges(30)
    gate("walks", Walks.deterministicWalks(e, col("id") <= 5L, 3),
      Walks.deterministicWalks(e, col("id") <= 5L, 12))
  }
}
