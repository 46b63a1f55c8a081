package graft

import org.apache.spark.sql.functions._

import graft.model.Model
import graft.store.GraphStore

class GraphStoreSpec extends SparkSpec {
  import spark.implicits._

  test("mergeNodes is idempotent (re-ingest does not duplicate)") {
    val st = FixtureGraph.store(spark)
    val before = st.nodes.count()
    st.mergeNodes(FixtureGraph.nodes(spark))
    assert(st.nodes.count() === before)
    st.mergeEdges(FixtureGraph.edges(spark))
    assert(st.edges.count() === FixtureGraph.edges(spark).count())
  }

  test("mergeNodes keep-latest: incoming wins over existing") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ml").toString
    val st = new GraphStore(spark, dir)
    st.mergeNodes(Seq((100L, "Service", "old-name"))
      .toDF("id", "label", "name"))
    st.mergeNodes(Seq((100L, "Service", "new-name"))
      .toDF("id", "label", "name"))
    val names = st.nodes.select("name").collect().map(_.getString(0))
    assert(names.toSeq === Seq("new-name"))
  }

  test("ensureNodeIds derives deterministic ids from merge keys") {
    val a = GraphStore.ensureNodeIds(
      Seq(("Symbol", "scip x y z sym.")).toDF("label", "symbol"))
      .select("id").collect().map(_.getLong(0))
    val b = GraphStore.ensureNodeIds(
      Seq(("Symbol", "scip x y z sym.")).toDF("label", "symbol"))
      .select("id").collect().map(_.getLong(0))
    assert(a.toSeq === b.toSeq)
    // different key → different id
    val c = GraphStore.ensureNodeIds(
      Seq(("Symbol", "scip x y z other.")).toDF("label", "symbol"))
      .select("id").collect().map(_.getLong(0))
    assert(a.toSeq !== c.toSeq)
  }

  test("danglingEdges flags edges with missing endpoints") {
    val dir = java.nio.file.Files.createTempDirectory("graft-de").toString
    val st = new GraphStore(spark, dir)
    st.mergeNodes(Seq((1L, "Service", "s")).toDF("id", "label", "name"))
    st.mergeEdges(Seq((1L, 999L, "CONTAINS")).toDF("src", "dst", "relType"))
    assert(st.danglingEdges().count() === 1L)
  }

  test("LSM deltas: add/override/tombstone fold correctly; compaction " +
      "and fresh instances agree; auto-compact bounds pending deltas") {
    import org.apache.spark.sql.Row
    val dir = java.nio.file.Files.createTempDirectory("graft-lsm").toString
    val st = new GraphStore(spark, dir)
    def nRow(id: Long, name: String): Row =
      Row.fromSeq(Model.nodeSchema.fields.toSeq.map(_.name).map {
        case "id" => Long.box(id)
        case "label" => "Service"
        case "name" => name
        case _ => null
      })
    st.mergeNodes(Seq((1L, "Service", "a"), (2L, "Service", "b"))
      .toDF("id", "label", "name"))
    // delta 1: add c, tombstone a
    st.appendDelta("nodes", Seq(nRow(3L, "c")), Seq(Seq(1L)))
    def names(g: GraphStore): Set[String] =
      g.nodes.select("name").collect().map(_.getString(0)).toSet
    assert(names(st) === Set("b", "c"))
    // delta 2: override b, re-add a (newer add beats older tomb)
    st.appendDelta("nodes", Seq(nRow(2L, "b2"), nRow(1L, "a2")), Nil)
    assert(names(st) === Set("a2", "b2", "c"))
    // same-delta tomb + re-add of one key: the add wins
    st.appendDelta("nodes", Seq(nRow(3L, "c2")), Seq(Seq(3L)))
    assert(names(st) === Set("a2", "b2", "c2"))
    assert(st.pendingDeltas("nodes") === 3)
    // a FRESH instance reconstructs the same view from the JSONL files
    val fresh = new GraphStore(spark, dir)
    assert(names(fresh) === Set("a2", "b2", "c2"))
    // compaction folds to a clean base without changing the view
    st.compact("nodes")
    assert(st.pendingDeltas("nodes") === 0)
    assert(names(st) === Set("a2", "b2", "c2"))
    assert(names(new GraphStore(spark, dir)) === Set("a2", "b2", "c2"))
    // auto-compact keeps the pending count bounded
    (1 to 4).foreach(i =>
      st.appendDelta("nodes", Seq(nRow(100L + i, s"x$i")), Nil,
        autoCompactAfter = 3))
    assert(st.pendingDeltas("nodes") < 3)
    assert(names(st) === Set("a2", "b2", "c2", "x1", "x2", "x3", "x4"))
  }

  test("nodeIdOf equals ensureNodeIds for every label the frontends emit") {
    import org.apache.spark.sql.Row
    import Model.Labels._
    val rows = Seq(
      GraphStore.nodeRow("label" -> Service, "name" -> "svc"),
      GraphStore.nodeRow("label" -> File, "path" -> "p/ä.go"),
      GraphStore.nodeRow("label" -> Module, "name" -> "p", "fqn" -> "svc/p"),
      GraphStore.nodeRow("label" -> Class, "fqn" -> "p.T"),
      GraphStore.nodeRow("label" -> Interface, "fqn" -> "p.I"),
      GraphStore.nodeRow("label" -> Function, "signature" -> "func F()",
        "filePath" -> "p/a.go"),
      GraphStore.nodeRow("label" -> Method,
        "signature" -> "func (t *T) M(x int) int", "filePath" -> "p/a.go"),
      GraphStore.nodeRow("label" -> Variable, "name" -> "v",
        "filePath" -> "p/a.go"),
      GraphStore.nodeRow("label" -> Symbol,
        "symbol" -> "scip-go go svc v0 p/F()."),
      GraphStore.nodeRow("label" -> Reference, "filePath" -> "p/a.go",
        "startLine" -> 0, "startColumn" -> 12),
      GraphStore.nodeRow("label" -> Reference, "filePath" -> "p/a.go",
        "startLine" -> 31, "startColumn" -> 0))
    assert(rows.map(_.getString(1)).toSet === Set(Service, File, Module,
      Class, Interface, Function, Method, Variable, Symbol, Reference))
    val fromColumns = GraphStore.ensureNodeIds(spark.createDataFrame(
        java.util.Arrays.asList(rows: _*), Model.nodeSchema).drop("id"))
      .select("id").collect().map(_.getLong(0)).toSeq
    assert(fromColumns === rows.map(_.getLong(0)))
    assert(rows.map(_.getLong(0)).distinct.size === rows.size)
  }

  test("an edge merge replaces only the rows whose (src, dst, relType) " +
      "matches") {
    val dir = java.nio.file.Files.createTempDirectory("graft-em").toString
    val st = new GraphStore(spark, dir)
    st.mergeEdges(Seq((1L, 2L, "CALLS", 1), (1L, 2L, "CONTAINS", 2),
      (1L, 3L, "CALLS", 3), (2L, 1L, "CALLS", 4))
      .toDF("src", "dst", "relType", "line"))
    def lines = st.edges.select("src", "dst", "relType", "line").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getInt(3)))
      .toSet
    st.mergeEdges(Seq((1L, 2L, "CALLS", 9)).toDF("src", "dst", "relType",
      "line"))
    assert(lines === Set((1L, 2L, "CALLS", 9), (1L, 2L, "CONTAINS", 2),
      (1L, 3L, "CALLS", 3), (2L, 1L, "CALLS", 4)))
    st.mergeRows("edges", Seq(GraphStore.edgeRow(2L, 1L, "CALLS",
      "line" -> 7), GraphStore.edgeRow(3L, 1L, "CALLS", "line" -> 8)))
    assert(lines === Set((1L, 2L, "CALLS", 9), (1L, 2L, "CONTAINS", 2),
      (1L, 3L, "CALLS", 3), (2L, 1L, "CALLS", 7), (3L, 1L, "CALLS", 8)))
  }

  test("a merge into a fresh store plans no join; a later one plans the " +
      "anti-join") {
    import org.apache.spark.sql.catalyst.plans.logical.Join
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.command.DataWritingCommand
    import org.apache.spark.sql.util.QueryExecutionListener
    val writes = new java.util.concurrent.LinkedBlockingQueue[Int]
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        qe.optimizedPlan.collectFirst { case w: DataWritingCommand => w }
          .foreach(w => writes.put(w.collect { case j: Join => j }.size))
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val dir = java.nio.file.Files.createTempDirectory("graft-fj").toString
    val st = new GraphStore(spark, dir)
    spark.listenerManager.register(listener)
    try {
      def joinsOfNextWrite: Int =
        Option(writes.poll(30, java.util.concurrent.TimeUnit.SECONDS))
          .getOrElse(fail("the write never reached the listener"))
      st.mergeRows("nodes", Seq(GraphStore.nodeRow(
        "label" -> Model.Labels.Service, "name" -> "a")))
      assert(joinsOfNextWrite === 0)
      st.mergeNodes(Seq(("Service", "b")).toDF("label", "name"))
      assert(joinsOfNextWrite === 1)
    } finally spark.listenerManager.unregister(listener)
    assert(st.nodes.select("name").collect().map(_.getString(0)).toSet ===
      Set("a", "b"))
  }

  test("a batch's duplicate keys resolve by fixed rules: the driver " +
      "batch keeps its first row, the DataFrame batch its least") {
    val dir = java.nio.file.Files.createTempDirectory("graft-dk").toString
    val st = new GraphStore(spark, dir)
    st.mergeRows("nodes", Seq(
      GraphStore.nodeRow("label" -> "Service", "name" -> "s",
        "title" -> "z"),
      GraphStore.nodeRow("label" -> "Service", "name" -> "s",
        "title" -> "a")))
    def titles = st.nodes.select("title").collect().map(_.getString(0)).toSeq
    assert(titles === Seq("z"))
    // every partitioning of the same batch keeps the same row
    (1 to 4).foreach { n =>
      st.mergeNodes(Seq(("Service", "s", "b"), ("Service", "s", "a"),
          ("Service", "s", "c")).toDF("label", "name", "title")
        .repartition(n))
      assert(titles === Seq("a"))
    }
  }
}
