package graft

import graft.store.GraphStore

class TimeTravelSpec extends SparkSpec {
  import spark.implicits._

  test("versions accumulate per merge; old snapshots stay readable; vacuum reclaims") {
    val dir = java.nio.file.Files.createTempDirectory("graft-tt").toString
    val st = new GraphStore(spark, dir)
    st.mergeNodes(Seq((1L, "Service", "v1")).toDF("id", "label", "name"))
    st.mergeNodes(Seq((1L, "Service", "v2")).toDF("id", "label", "name"))
    val vs = st.versions("nodes")
    assert(vs.length === 2)
    // time travel: first snapshot still has the old name
    val old = spark.read.parquet(s"$dir/${vs.head}").select("name")
      .collect().map(_.getString(0))
    assert(old.toSeq === Seq("v1"))
    assert(st.nodes.select("name").collect().map(_.getString(0)).toSeq ===
      Seq("v2"))
    st.vacuum()
    assert(st.versions("nodes").length === 1)
    assert(st.nodes.count() === 1L) // current unaffected
  }

  test("analyzeFunction returns metadata + callers + callees in one call") {
    val cg = graft.queries.CodeGraph(FixtureGraph.store(spark))
    val parts = cg.analyzeFunction("Helper").collect()
      .map(r => r.getAs[String]("part") -> r.getAs[String]("name"))
    assert(parts.contains(("metadata", "Helper")))
    assert(parts.contains(("caller", "Main")))
    assert(parts.contains(("callee", "Deep")))
  }
}
