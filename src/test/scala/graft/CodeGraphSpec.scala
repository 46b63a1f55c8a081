package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.ingest.{GoFrontend, ScipIngest}
import graft.queries.CodeGraph
import graft.model.Model.{Labels, RelTypes}
import graft.store.GraphStore

class CodeGraphSpec extends SparkSpec {
  lazy val store = FixtureGraph.store(spark)
  lazy val cg = CodeGraph(store)

  test("goToDefinition finds the defining function for a symbol") {
    val rows = cg.goToDefinition("scip-go go test-service v1 pkg/Main().")
      .collect()
    assert(rows.length === 1)
    assert(rows(0).getAs[String]("name") === "Main")
    assert(rows(0).getAs[String]("filePath") === "pkg/a.go")
  }

  test("findReferences resolves usages + ancestor file, ordered") {
    val rows = cg.findReferences("scip-go go test-service v1 pkg/Main().")
      .collect()
    assert(rows.length === 1)
    assert(rows(0).getAs[String]("path") === "pkg/b.go")
    assert(rows(0).getAs[Int]("startLine") === 5)
  }

  test("findImplementations walks Symbol<-DEFINES-Interface<-IMPLEMENTS-Class") {
    val rows = cg.findImplementations("scip-go go test-service v1 pkg/Doer#")
      .collect()
    assert(rows.map(_.getAs[String]("name")).toSeq === Seq("Impl"))
  }

  test("impactAnalysis reaches the whole CALLS chain and the exposed route") {
    val rows = cg.impactAnalysis(FixtureGraph.fMain, 10).collect()
    val names = rows.map(_.getAs[String]("name")).toSet
    assert(names === Set("Helper", "Deep", "Handler"))
    val routes = rows.flatMap(r => Option(r.getAs[String]("routePath"))).toSet
    assert(routes === Set("/api/users"))
    // depth semantics
    val byName = rows.map(r => r.getAs[String]("name") ->
      r.getAs[Int]("depth")).toMap
    assert(byName("Helper") === 1 && byName("Deep") === 2 &&
      byName("Handler") === 3)
  }

  test("impactAnalysis respects the depth cap") {
    val rows = cg.impactAnalysis(FixtureGraph.fMain, 2).collect()
    assert(rows.map(_.getAs[String]("name")).toSet === Set("Helper", "Deep"))
  }

  test("dataLineage captures the FLOWS_TO path ending in a Method parameter") {
    val rows = cg.dataLineage(FixtureGraph.pIn, 15).collect()
    assert(rows.length === 1)
    assert(rows(0).getSeq[Long](rows(0).fieldIndex("path")).toList ===
      List(FixtureGraph.pIn, FixtureGraph.vMid, FixtureGraph.pOut))
    assert(rows(0).getAs[String]("methodName") === "Process")
  }

  test("searchNodes ranks Function over Class over File") {
    val rows = cg.searchNodes("e").collect() // matches many names
    val ranks = rows.map(_.getAs[Int]("rank"))
    assert(ranks.sorted.toSeq === ranks.toSeq) // ordered by rank
    assert(rows.head.getAs[Int]("rank") === 1)
  }

  test("callersOf / calleesOf") {
    assert(cg.callersOf("Helper").collect()
      .map(_.getAs[String]("name")).toSeq === Seq("Main"))
    assert(cg.calleesOf("Helper").collect()
      .map(_.getAs[String]("name")).toSeq === Seq("Deep"))
  }

  test("countByLabel / countByRelType") {
    val labels = cg.countByLabel().collect()
      .map(r => r.getAs[String]("label") -> r.getAs[Long]("count")).toMap
    assert(labels(Labels.Function) === 4L)
    assert(labels(Labels.Symbol) === 3L)
    val rels = cg.countByRelType().collect()
      .map(r => r.getAs[String]("relType") -> r.getAs[Long]("count")).toMap
    assert(rels("CONTAINS") === 13L)
    assert(rels("CALLS") === 3L)
  }

  test("integrityChecks: clean fixture has zero violations") {
    val checks = cg.integrityChecks().collect()
      .map(r => r.getAs[String]("check") -> r.getAs[Long]("violationCount"))
      .toMap
    assert(checks("orphaned_references") === 0L)
    assert(checks("services_without_files") === 0L)
  }

  test("hover returns definition metadata for a symbol") {
    val rows = cg.hover("scip-go go test-service v1 pkg/Main().").collect()
    assert(rows.length === 1)
    assert(rows(0).getAs[String]("name") === "Main")
    assert(rows(0).getAs[String]("signature") === "func Main()")
    assert(rows(0).getAs[String]("filePath") === "pkg/a.go")
  }

  test("source + extractSpan byte-slice oracle") {
    val loc = cg.source("Main").collect()
    assert(loc.length === 1)
    assert(loc(0).getAs[Int]("startByte") === 0)
    assert(loc(0).getAs[Int]("endByte") === 120)
    assert(loc(0).isNullAt(loc(0).fieldIndex("content"))) // no content
    val content = "0123456789" * 30
    val got = CodeGraph.extractSpan(content, Some(5), Some(15), 1, 10)
    assert(got === content.substring(5, 15))
    // line fallback
    val text = (1 to 20).map(i => s"line$i").mkString("\n")
    val lines = CodeGraph.extractSpan(text, None, None, 2, 4)
    assert(lines === "line2\nline3\nline4")
  }

  // ------------------------------------------------- find-references walk
  private type Ref = (Long, String, String, Option[Int], Option[Int])

  private def opt(r: Row, c: String): Option[Int] =
    Option(r.getAs[Any](c)).map(_.asInstanceOf[Int])

  private def refsOf(g: CodeGraph, symbol: String): Seq[Ref] =
    g.findReferences(symbol).collect().toSeq.map(r =>
      (r.getAs[Long]("usageId"), r.getAs[String]("usageLabel"),
        r.getAs[String]("path"), opt(r, "startLine"),
        opt(r, "startColumn")))

  /** Plain-Scala J2 over the collected graph: each usage of `symbol`
    * with every File found within `maxDepth` CONTAINS hops above it
    * (its own `filePath` when there is none), in the engine's order. */
  private def refsWalk(st: GraphStore, symbol: String,
      maxDepth: Int = 10): Seq[Ref] = {
    val nodes = st.nodes.collect().map(r => r.getAs[Long]("id") -> r).toMap
    val edges = st.edges.collect()
      .map(r => (r.getAs[Long]("src"), r.getAs[Long]("dst"),
        r.getAs[String]("relType")))
    val parents = edges.filter(_._3 == RelTypes.Contains)
      .groupBy(_._2).map { case (d, es) => d -> es.map(_._1).toSet }
    val syms = nodes.values.filter(r =>
      r.getAs[String]("label") == Labels.Symbol &&
        r.getAs[String]("symbol") == symbol).map(_.getAs[Long]("id")).toSet
    val usages = edges.collect {
      case (u, d, t) if t == RelTypes.References && syms(d) => u
    }.distinct.toSeq
    usages.flatMap { u =>
      val ancestors = Iterator.iterate(Set(u))(
          _.flatMap(parents.getOrElse(_, Set.empty[Long])))
        .slice(1, maxDepth + 1).flatten.toSet
      val files = ancestors.toSeq.map(nodes).filter(
        _.getAs[String]("label") == Labels.File).map(_.getAs[String]("path"))
      val n = nodes(u)
      (if (files.isEmpty) Seq(n.getAs[String]("filePath")) else files)
        .map(p => (u, n.getAs[String]("label"), p, opt(n, "startLine"),
          opt(n, "startColumn")))
    }.distinct.sortBy(r => (Option(r._3), r._4, r._1)) // nulls first
  }

  private def symbolsOf(st: GraphStore): Seq[String] =
    st.nodes.filter(col("label") === Labels.Symbol).select("symbol")
      .collect().map(_.getString(0)).toSeq.sorted

  test("findReferences equals a plain CONTAINS* ancestor walk: fixture") {
    for (sym <- symbolsOf(store))
      assert(refsOf(cg, sym) === refsWalk(store, sym), sym)
  }

  /** `body` over a store built by ScipIngest then GoFrontend from two
    * Go files: Main calls Helper twice, Use calls Helper and Main. */
  private def withScipGoStore(body: GraphStore => Unit): Unit = {
    import spark.implicits._
    val a = "package pkg\n\nfunc Main() {\n\tHelper()\n\tHelper()\n}\n"
    val b = "package pkg\n\nfunc Helper() {\n}\n\nfunc Use() {\n" +
      "\tHelper()\n\tMain()\n}\n"
    def occ(sym: String, line: Int, c0: Int, c1: Int, role: Int) =
      ScipIngest.ScipOccurrence(s"scip-go go svc v1 pkg/$sym().",
        Seq(line, c0, c1), role)
    val index = ScipIngest.ScipIndex(
      documents = Seq(
        ScipIngest.ScipDocument("pkg/a.go", Seq(occ("Main", 2, 5, 9, 1),
          occ("Helper", 3, 1, 7, 0), occ("Helper", 4, 1, 7, 0))),
        ScipIngest.ScipDocument("pkg/b.go", Seq(occ("Helper", 2, 5, 11, 1),
          occ("Use", 5, 5, 8, 1), occ("Helper", 6, 1, 7, 0),
          occ("Main", 7, 1, 5, 0)))),
      externalSymbols = Nil)
    val dir = java.nio.file.Files.createTempDirectory("graft-refs")
    try {
      val st = new GraphStore(spark, dir.toString)
      ScipIngest.ingest(st, spark, index, "svc",
        Map("pkg/a.go" -> a, "pkg/b.go" -> b))
      GoFrontend.ingest(st,
        Seq("pkg/a.go" -> a, "pkg/b.go" -> b).toDF("path", "content"), "svc")
      body(st)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
  }

  test("findReferences equals a plain CONTAINS* ancestor walk: SCIP + Go " +
      "frontend store") {
    withScipGoStore { st =>
      val g = CodeGraph(st)
      val syms = symbolsOf(st)
      assert(syms.nonEmpty)
      for (sym <- syms) assert(refsOf(g, sym) === refsWalk(st, sym), sym)
      assert(refsOf(g, "scip-go go svc v1 pkg/Helper().").map(_._3) ===
        Seq("pkg/a.go", "pkg/a.go", "pkg/b.go"))
    }
  }

  // ---------------------------------------------------- impact analysis
  private type Impact = (Long, String, String, Int, Option[String])

  private def impactOf(g: CodeGraph, root: Long): Seq[Impact] =
    g.impactAnalysis(root).collect().toSeq.map(r =>
      (r.getAs[Long]("affectedId"), r.getAs[String]("name"),
        r.getAs[String]("label"), r.getAs[Int]("depth"),
        Option(r.getAs[String]("routePath"))))

  /** Plain-Scala J4 over the collected graph: every node within
    * `maxDepth` CALLS hops of `root` ([[TraversalsSpec.minDepthBfs]]),
    * once per EXPOSES_API edge it has (with the route's path when the
    * target is an APIRoute) or once with no route. */
  private def impactWalk(st: GraphStore, root: Long,
      maxDepth: Int = 10): Seq[Impact] = {
    val nodes = st.nodes.collect().map(r => r.getAs[Long]("id") -> r).toMap
    val edges = st.edges.collect()
      .map(r => (r.getAs[Long]("src"), r.getAs[Long]("dst"),
        r.getAs[String]("relType")))
    def ofType(t: String) = edges.toSeq.collect {
      case (s, d, `t`) => (s, d) }
    val exposes = ofType(RelTypes.ExposesApi).groupMap(_._1)(_._2)
    val routePath = (id: Long) => nodes.get(id)
      .filter(_.getAs[String]("label") == Labels.APIRoute)
      .map(_.getAs[String]("path"))
    TraversalsSpec.minDepthBfs(ofType(RelTypes.Calls), Set(root), maxDepth)
      .toSeq.filter(x => nodes.contains(x._1)).flatMap { case (id, d) =>
        val n = nodes(id)
        exposes.get(id).fold(Seq(Option.empty[String]))(_.map(routePath))
          .map(p => (id, n.getAs[String]("name"), n.getAs[String]("label"),
            d, p))
      }.distinct
  }

  /** impactAnalysis of every Function/Method in `st` equals
    * [[impactWalk]] (as row lists up to the order of rows that tie on
    * the engine's sort key), and at least one answer is non-empty. */
  private def assertImpactWalk(g: CodeGraph, st: GraphStore): Unit = {
    val roots = st.nodes
      .filter(col("label").isin(Labels.Function, Labels.Method))
      .select("id").collect().map(_.getLong(0)).toSeq
    val answers = roots.map(r => r -> impactOf(g, r))
    for ((r, got) <- answers)
      assert(got.sortBy(_.toString) === impactWalk(st, r).sortBy(_.toString),
        s"root=$r")
    assert(answers.exists(_._2.nonEmpty))
  }

  test("impactAnalysis equals a plain CALLS* walk plus exposed routes: " +
      "fixture") {
    assertImpactWalk(cg, store)
  }

  test("impactAnalysis equals a plain CALLS* walk plus exposed routes: " +
      "SCIP + Go store") {
    withScipGoStore(st => assertImpactWalk(CodeGraph(st), st))
  }

  test("impactAnalysis on a recursive cycle returns the root once, at " +
      "depth 2") {
    import spark.implicits._
    val ns = Seq((1L, Labels.Function, "Main", Option.empty[String]),
        (2L, Labels.Function, "Helper", None))
      .toDF("id", "label", "name", "path")
    val es = Seq((1L, 2L, RelTypes.Calls), (2L, 1L, RelTypes.Calls))
      .toDF("src", "dst", "relType")
    val got = impactOf(new CodeGraph(ns, es), 1L).map(r => (r._2, r._4))
    assert(got === Seq(("Helper", 1), ("Main", 2)))
  }

  test("impactAnalysis over a graph with no CALLS edges answers empty") {
    import spark.implicits._
    val ns = Seq((1L, Labels.File, "a.go", Option("a.go")),
        (2L, Labels.Function, "Main", None))
      .toDF("id", "label", "name", "path")
    val es = Seq((1L, 2L, RelTypes.Contains)).toDF("src", "dst", "relType")
    assert(impactOf(new CodeGraph(ns, es), 2L).isEmpty)
  }

  test("findReferences with no usages answers empty and leaves no job " +
      "of its call running") {
    // an unknown symbol, and a defined one that nothing references; a
    // leak is a race, so each runs three times
    for (sym <- Seq("scip-go go test-service v1 pkg/Absent().",
        "scip-go go test-service v1 pkg/Doer#"); _ <- 1 to 3) {
      val (rows, returned, jobs) =
        jobTimesOf(cg.findReferences(sym).collect())
      assert(rows.isEmpty, sym)
      // the scheduler posts a job's end before it releases the waiting
      // action, so every job the call itself waited for ended by then
      val late = jobs.filter(_._2 > returned)
      assert(late.isEmpty, s"$sym: ${late.size} of ${jobs.size} jobs " +
        s"ended after collect returned (ms late: " +
        s"${late.map(_._2 - returned).mkString(",")})")
    }
  }

  test("findReferences launches no extra jobs for an unrelated deep " +
      "CONTAINS chain") {
    import spark.implicits._
    // 13 Modules chained 12 CONTAINS hops deep, reachable from no usage
    val chainNodes = (0 to 12).map(i =>
      FixtureGraph.N(1000L + i, Labels.Module, name = s"deep$i")).toDF()
    val chainEdges = (0 until 12).map(i =>
      (1000L + i, 1001L + i, RelTypes.Contains)).toDF("src", "dst", "relType")
    def storeOf(ns: DataFrame, es: DataFrame): GraphStore = {
      val st = new GraphStore(spark,
        java.nio.file.Files.createTempDirectory("graft-chain").toString)
      st.mergeNodes(ns)
      st.mergeEdges(es)
      st
    }
    val plain = storeOf(FixtureGraph.nodes(spark), FixtureGraph.edges(spark))
    val deep = storeOf(FixtureGraph.nodes(spark).unionByName(chainNodes),
      FixtureGraph.edges(spark).unionByName(chainEdges))
    val sym = "scip-go go test-service v1 pkg/Main()."
    def counted(st: GraphStore) = jobsOf(refsOf(CodeGraph(st), sym))
    val (rowsPlain, jobsPlain) = counted(plain)
    val (rowsDeep, jobsDeep) = counted(deep)
    assert(rowsDeep === rowsPlain)
    assert(rowsPlain.map(_._3) === Seq("pkg/b.go"))
    assert(jobsDeep === jobsPlain,
      s"$jobsPlain jobs without the chain, $jobsDeep with it")
  }
}
