package graft

import graft.queries.ApiQueries

class ApiQueriesSpec extends SparkSpec {
  import spark.implicits._

  test("graphSymDiff has EXCEPT semantics: a null relType on both sides " +
      "matches") {
    val nodesA = Seq(1L, 2L, 3L).toDF("id")
    val nodesB = Seq(2L, 3L, 4L, 4L).toDF("id")
    def edges(rows: (Long, Long, String)*) =
      rows.toDF("src", "dst", "relType")
    val edgesA = edges((1L, 2L, null), (2L, 3L, "CALLS"), (3L, 1L, null))
    val edgesB = edges((1L, 2L, null), (2L, 3L, "CALLS"), (3L, 1L, "CALLS"),
      (1L, 2L, null))
    val (dn, de) = ApiQueries.graphSymDiff(nodesA, edgesA, nodesB, edgesB)
    // nodes: {1} on A only, {4} on B only
    assert(dn === 2L)
    // edges: (3,1,null) on A only, (3,1,CALLS) on B only; the shared
    // (1,2,null) and the duplicate on B match, as under EXCEPT
    assert(de === 2L)
    assert(de ===
      edgesA.except(edgesB).count() + edgesB.except(edgesA).count())
    assert(ApiQueries.graphSymDiff(nodesA, edgesA, nodesA, edgesA) ===
      (0L, 0L))
  }
}
