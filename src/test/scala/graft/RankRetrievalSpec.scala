package graft

import org.apache.spark.sql.functions._

import graft.graph.Centrality
import graft.pipeline.TextAnalysis

/** Round-5 operators: HITS, personalized PageRank, sliding-window
  * chunking. Each is checked against an independent single-threaded
  * mirror or a structural property — not against itself. */
class RankRetrievalSpec extends SparkSpec {
  import spark.implicits._

  /** Naive mirror of the integer HITS recurrence. */
  private def naiveHits(edges: Seq[(Long, Long)], iters: Int)
      : Map[Long, (Long, Long)] = {
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val out = edges.groupBy(_._1)
    val in = edges.groupBy(_._2)
    var a = nodes.map(_ -> 1000000L).toMap
    var h = nodes.map(_ -> 0L).toMap
    for (_ <- 1 to iters) {
      val hraw = nodes.map { v =>
        v -> out.getOrElse(v, Seq.empty).map { case (_, u) => a(u) }.sum
      }.toMap
      val hm = hraw.values.max
      h = hraw.view.mapValues(v => v * 1000000L / hm).toMap
      val araw = nodes.map { v =>
        v -> in.getOrElse(v, Seq.empty).map { case (u, _) => h(u) }.sum
      }.toMap
      val am = araw.values.max
      a = araw.view.mapValues(v => v * 1000000L / am).toMap
    }
    nodes.map(v => v -> (h(v), a(v))).toMap
  }

  test("hitsInteger matches the naive recurrence exactly") {
    // hub 1 points at {2,3,4}; 5 points at {2,3}; chain 4->6; self-free
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (5L, 2L), (5L, 3L),
      (4L, 6L), (2L, 6L))
    val got = Centrality.hitsInteger(edges.toDF("src", "dst"), 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(got === naiveHits(edges, 3))
    // the best hub and best authority carry the full 10^6 scale
    assert(got.values.map(_._1).max === 1000000L)
    assert(got.values.map(_._2).max === 1000000L)
  }

  test("personalizedPageRankInteger teleports only to seeds") {
    // two components: chain 1→2→3 (seeded at 1; in a cycle rank mass
    // would circulate, so use a DAG for the monotone-decay check) and
    // the unseeded cycle {10,11}, which must stay at exactly 0.
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L), (11L, 10L))
    val got = Centrality.personalizedPageRankInteger(
        edges.toDF("src", "dst"), _ == 1L, 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(10L) === 0L && got(11L) === 0L)
    assert(got(1L) > got(2L) && got(2L) > got(3L),
      s"rank must decay with distance from the seed: $got")
    assert(got(2L) > 0L && got(3L) > 0L)
    // seed keeps its base teleport mass every step
    assert(got(1L) >= 150000L)
  }

  test("slidingChunks covers every token with the declared overlap") {
    val text = (1 to 130).map(i => s"w$i").mkString(" ")
    val df = Seq((1L, text), (2L, "a b c"), (3L, " ")).toDF("id", "text")
    // columns: doc_id, chunk_idx, n_tokens, start_tok, end_tok, chunk_text
    val chunks = TextAnalysis
      .slidingChunks(df, "id", "text", windowWords = 64, strideWords = 40)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3),
        r.getInt(4), r.getString(5)))
    // doc 3 is whitespace-only: filtered, no chunks
    assert(!chunks.exists(_._1 == 3L))
    // doc 2 fits one window
    val d2 = chunks.filter(_._1 == 2L)
    assert(d2.length === 1 && d2.head._6 === "a b c")
    // doc 1: 130 tokens, starts at 1, 41, 81 — chunk 2 is the last
    // (81 + 64 - 1 >= 130); every position 1..130 covered; overlap 24
    val d1 = chunks.filter(_._1 == 1L).sortBy(_._2)
    assert(d1.map(_._2).toSeq === Seq(0L, 1L, 2L))
    assert(d1.map(c => (c._4, c._5)).toSeq ===
      Seq((1, 64), (41, 104), (81, 130)))
    assert(d1.forall(c => c._3 === (c._5 - c._4 + 1).toLong))
    // chunk text is the exact token slice
    val toks = text.split(" ")
    d1.foreach { c =>
      assert(c._6 === toks.slice(c._4 - 1, c._5).mkString(" "))
    }
  }
}
