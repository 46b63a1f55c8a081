package graft

import graft.graph.Traversals

class TraversalsSpec extends SparkSpec {
  import spark.implicits._

  // diamond + cycle: 1→2, 1→3, 2→4, 3→4, 4→5, 5→2 (cycle back)
  private def edges = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L),
    (4L, 5L), (5L, 2L)).toDF("src", "dst")

  test("reachable: min-depth BFS with cycle safety") {
    val seeds = Seq(1L).toDF("id")
    val got = Traversals.reachable(edges, seeds, 10).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got === Map(2L -> 1, 3L -> 1, 4L -> 2, 5L -> 3))
  }

  test("reachable respects maxHops") {
    val seeds = Seq(1L).toDF("id")
    val got = Traversals.reachable(edges, seeds, 1).collect()
      .map(_.getLong(0)).toSet
    assert(got === Set(2L, 3L))
  }

  test("a seed reachable from itself via a cycle IS returned (Cypher parity)") {
    val cyc = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val got = Traversals.reachable(cyc, Seq(1L).toDF("id"), 10).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got === Map(2L -> 1, 1L -> 2))
  }

  test("paths enumerates simple paths only (no cycles)") {
    val seeds = Seq(1L).toDF("id")
    val got = Traversals.paths(edges, seeds, 10).collect()
      .map(r => r.getSeq[Long](r.fieldIndex("path")).toList).toSet
    // all paths start at 1; no node repeats within a path
    assert(got.forall(p => p.head == 1L && p.distinct.length == p.length))
    // longest simple path: 1→2→4→5 or 1→3→4→5 then →2 (only via 5→2 for the 3-branch)
    assert(got.contains(List(1L, 2L, 4L, 5L)))
    assert(got.contains(List(1L, 3L, 4L, 5L, 2L)))
  }

  test("closureTreeDoubling equals closure on a deep chain + forest") {
    // chain 1→2→…→20 plus a branching forest
    val chain = (1L until 20L).map(i => (i, i + 1))
    val forest = Seq((100L, 101L), (100L, 102L), (101L, 103L),
      (101L, 104L), (103L, 105L))
    val es = (chain ++ forest).toDF("src", "dst")
    // the independent reference: on a forest each (ancestor,
    // descendant) pair has exactly one path, so the simple paths from
    // every node, projected to (start, end, depth), are the closure
    val every = (chain ++ forest).flatMap(e => Seq(e._1, e._2)).distinct
      .toDF("id")
    for (cap <- Seq(1, 2, 5, 12, 30)) {
      val linear = Traversals.paths(es, every, cap)
        .select("start", "end", "depth").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val doubling = Traversals.closureTreeDoubling(es, cap).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(doubling === linear, s"cap=$cap")
    }
  }

  test("self-loop edges never appear in simple paths (both engines)") {
    val es = Seq((1L, 1L), (1L, 2L)).toDF("src", "dst")
    val df = Traversals.paths(es, Seq(1L).toDF("id"), 3).collect()
      .map(r => r.getSeq[Long](r.fieldIndex("path")).toList).toSet
    val gx = Traversals.pathsGraphX(spark, es, Seq(1L).toDF("id"), 3)
      .collect()
      .map(r => r.getSeq[Long](r.fieldIndex("path")).toList).toSet
    assert(df === Set(List(1L, 2L)))
    assert(gx === df)
  }

  test("GraphX Pregel path enumeration agrees with DataFrame paths") {
    def canon(rows: Array[org.apache.spark.sql.Row]): Set[List[Long]] =
      rows.map(r => r.getSeq[Long](r.fieldIndex("path")).toList).toSet
    // one seed, then a multi-seed set including a seed absent from the
    // graph (vanishes in both engines) and one mid-cycle
    for (seeds <- Seq(Seq(1L), Seq(1L, 5L, 99L))) {
      val s = seeds.toDF("id")
      val df = canon(Traversals.paths(edges, s, 10).collect())
      val gx = canon(Traversals.pathsGraphX(spark, edges, s, 10).collect())
      assert(gx === df, s"seeds=$seeds")
      assert(gx.nonEmpty)
      // depth caps agree too
      val df2 = canon(Traversals.paths(edges, s, 2).collect())
      val gx2 = canon(Traversals.pathsGraphX(spark, edges, s, 2).collect())
      assert(gx2 === df2, s"seeds=$seeds")
    }
  }

  test("reachable equals a plain-Scala BFS") {
    val es = edges.as[(Long, Long)].collect().toSeq
    for (seeds <- Seq(Set(1L), Set(1L, 5L, 99L)); cap <- Seq(1, 2, 10)) {
      val got = Traversals.reachable(edges, seeds.toSeq.toDF("id"), cap)
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(got === TraversalsSpec.minDepthBfs(es, seeds, cap),
        s"seeds=$seeds cap=$cap")
    }
  }
}

object TraversalsSpec {
  /** Plain-Scala reference for [[Traversals.reachable]]: every node that
    * a path of 1..maxHops edges from a seed reaches, at the length of
    * its shortest such path. A seed counts only when such a path
    * reaches it. */
  def minDepthBfs(edges: Seq[(Long, Long)], seeds: Set[Long],
      maxHops: Int): Map[Long, Int] = {
    val out = edges.groupMap(_._1)(_._2)
    (1 to maxHops).foldLeft((seeds, Map.empty[Long, Int])) {
      case ((frontier, found), depth) =>
        val next = frontier.flatMap(out.getOrElse(_, Nil)) -- found.keySet
        (next, found ++ next.map(_ -> depth))
    }._2
  }
}
