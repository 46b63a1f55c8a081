package graft

import org.apache.spark.sql.functions._

import graft.ingest.{DocumentPipeline, ScipIngest}
import graft.model.Model.Labels
import graft.queries.CodeGraph
import graft.store.GraphStore

class IngestSpec extends SparkSpec {
  import spark.implicits._

  // Mirrors the reference's inline markdown fixtures
  // (test/integration/indexing_test.go:177-231) in spirit.
  private val archDoc =
    """# Architecture Overview
      |
      |## Introduction
      |
      |This document describes the system. Status: Completed.
      |
      |## Graph Storage Layer
      |
      |Feature: Graph Storage
      |The storage layer persists nodes via `GraphStore` and `MergeNodes`.
      |This work is completed.
      |
      |## Query Engine
      |
      |Feature: Query Engine
      |Queries run through `SearchNodes` against the graph. In progress.
      |""".stripMargin

  private val rfcDoc =
    """# RFC 001: Indexing Pipeline
      |
      |Requirement: Incremental Updates
      |Planned for a future release.
      |
      |Feature: Graph Storage
      |A longer description of the graph storage feature than the one in
      |the architecture document, so the merge keeps this version.
      |""".stripMargin

  private def docsDf = Seq(
    ("docs/architecture.md", archDoc),
    ("docs/rfc-001.md", rfcDoc)).toDF("path", "content")

  test("document pipeline: titles, types, chunking") {
    val chunks = DocumentPipeline.chunkedDocuments(docsDf)
    val byUrl = chunks.collect().map(r =>
      r.getAs[String]("sourceUrl") ->
        (r.getAs[String]("title"), r.getAs[String]("type"))).toMap
    assert(byUrl("docs/architecture.md")._1 === "Architecture Overview")
    assert(byUrl("docs/architecture.md")._2 === "architecture")
    assert(byUrl("docs/rfc-001.md")._2 === "rfc")
  }

  test("chunking splits long documents at ~maxChunkWords") {
    val para = ("word " * 300).trim
    val long = (1 to 5).map(i => s"para$i $para").mkString("\n\n")
    val out = DocumentPipeline.chunk(long, 1000)
    assert(out.length >= 2)
    assert(out.forall(_.split("\\s+").length <= 1000 + 301))
  }

  test("feature extraction + merge: dedup, longest description, status") {
    val chunks = DocumentPipeline.chunkedDocuments(docsDf)
    val merged = DocumentPipeline.mergeFeatures(
      DocumentPipeline.extractFeatures(chunks)).collect()
    val names = merged.map(_.getAs[String]("name")).toSet
    assert(names.contains("Graph Storage"))
    assert(names.contains("Query Engine"))
    assert(names.contains("Incremental Updates"))
    // generic header skipped
    assert(!names.exists(_.equalsIgnoreCase("Introduction")))
    // same-name features merged into one row
    val gs = merged.filter(_.getAs[String]("name") === "Graph Storage")
    assert(gs.length === 1)
    assert(gs(0).getAs[Long]("nMentions") >= 2L)
    // longest description won (the RFC one)
    assert(gs(0).getAs[String]("description").contains("RFC") ||
      gs(0).getAs[String]("description").length >= 100)
  }

  test("mergeFeatures is independent of partitioning") {
    val many = (1 to 100).map(i => ("F", s"desc$i" * (i % 7),
        if (i % 3 == 0) "completed" else "planned", Seq(s"t${i % 5}")))
      .toDF("featureName", "description", "status", "tags")
      .repartition(8)
    val merged = DocumentPipeline.mergeFeatures(many).collect()
    assert(merged.length === 1)
    assert(merged(0).getAs[String]("status") === "completed")
    // array_distinct(flatten(collect_list)) has no order: compare a set
    assert(merged(0).getAs[Seq[String]]("tags").toSet ===
      (0 until 5).map(i => s"t$i").toSet)
    // longest description whatever the partitioning; length ties are
    // broken lexicographically (greater wins)
    val expected = (1 to 100).map(i => s"desc$i" * (i % 7))
      .max(Ordering.by((s: String) => (s.length, s)))
    assert(merged(0).getAs[String]("description") === expected)
  }

  test("full document ingest through the store: nodes + DESCRIBES + MENTIONS") {
    val store = FixtureGraph.store(spark) // has Symbols for MENTIONS
    DocumentPipeline.ingest(store, docsDf)
    val cg = CodeGraph(store)
    val labels = cg.countByLabel().collect()
      .map(r => r.getAs[String]("label") -> r.getAs[Long]("count")).toMap
    assert(labels(Labels.Document) >= 2L)
    assert(labels(Labels.Feature) >= 3L)
    val rels = cg.countByRelType().collect()
      .map(r => r.getAs[String]("relType") -> r.getAs[Long]("count")).toMap
    assert(rels.getOrElse("DESCRIBES", 0L) >= 3L)
    // statuses distinct >= 2 (reference indexing_test.go:260-262)
    val statuses = store.nodesByLabel(Labels.Feature)
      .select("status").distinct().collect().map(_.getString(0)).toSet
    assert(statuses.size >= 2)
  }

  test("scip ingest: two-pass graph build with byte-offset backfill") {
    val content = "package pkg\n\nfunc Main() {\n\tHelper()\n}\n"
    val index = ScipIngest.ScipIndex(
      documents = Seq(ScipIngest.ScipDocument("pkg/a.go", Seq(
        ScipIngest.ScipOccurrence(
          "scip-go go svc v1 pkg/Main().", Seq(2, 5, 2, 9), 1),
        ScipIngest.ScipOccurrence(
          "scip-go go svc v1 pkg/Helper().", Seq(3, 1, 3, 7), 0)))),
      externalSymbols = Seq(ScipIngest.ScipExternalSymbol(
        "scip-go go svc v1 pkg/Helper().", "", "helper doc")))
    val dir = java.nio.file.Files.createTempDirectory("graft-scip").toString
    val store = new GraphStore(spark, dir)
    ScipIngest.ingest(store, spark, index, "svc",
      Map("pkg/a.go" -> content))

    val labels = store.nodes.groupBy("label").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(labels(Labels.Service) === 1L)
    assert(labels(Labels.File) === 1L)
    assert(labels(Labels.Symbol) === 2L)
    assert(labels(Labels.Reference) === 1L)
    val rels = store.edges.groupBy("relType").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rels("DEFINES") === 1L)
    assert(rels("REFERENCES") === 1L)
    assert(rels("CONTAINS") === 3L) // svc→file, file→sym, file→ref

    // byte-offset oracle: extraction equals direct slice
    val ref = store.nodesByLabel(Labels.Reference).collect()(0)
    val sb = ref.getAs[Int]("startByte"); val eb = ref.getAs[Int]("endByte")
    assert(content.substring(sb, eb) === "Helper")
    // integrity: no orphaned references
    val checks = CodeGraph(store).integrityChecks().collect()
      .map(r => r.getAs[String]("check") -> r.getAs[Long]("violationCount"))
      .toMap
    assert(checks("orphaned_references") === 0L)
    // re-ingest idempotent
    ScipIngest.ingest(store, spark, index, "svc",
      Map("pkg/a.go" -> content))
    assert(store.nodes.count() === labels.values.sum)
  }

  test("chunking property: no word lost or duplicated (200 random docs)") {
    val rnd = new scala.util.Random(42)
    (1 to 200).foreach { _ =>
      val nParas = 1 + rnd.nextInt(6)
      val doc = (1 to nParas).map { p =>
        val n = 1 + rnd.nextInt(400)
        (1 to n).map(w => s"w${p}_$w").mkString(" ")
      }.mkString("\n\n")
      val chunks = DocumentPipeline.chunk(doc, 300)
      val wordsIn = doc.split("\\s+").filter(_.nonEmpty).toSeq
      val wordsOut = chunks.flatMap(_.split("\\s+").filter(_.nonEmpty))
      assert(wordsOut === wordsIn)
    }
  }

  test("byteOffset property: offset of (line,col) recovers the char") {
    val rnd = new scala.util.Random(7)
    (1 to 100).foreach { _ =>
      val lines = (1 to 1 + rnd.nextInt(10)).map(i =>
        "x" * rnd.nextInt(20) + s"L$i")
      val content = lines.mkString("\n")
      val li = rnd.nextInt(lines.length)
      val col0 = rnd.nextInt(lines(li).length)
      val off = ScipIngest.byteOffset(content, li, col0)
      assert(content.charAt(off) === lines(li).charAt(col0))
    }
  }

  test("scip helpers: range decode, language, display name") {
    assert(ScipIngest.decodeRange(Seq(1, 2, 3)) === ((1, 2, 1, 3)))
    assert(ScipIngest.decodeRange(Seq(1, 2, 3, 4)) === ((1, 2, 3, 4)))
    assert(ScipIngest.languageOf("x/y.go") === "go")
    assert(ScipIngest.languageOf("a.scala") === "scala")
    val names = Seq("pkg/Main().", "pkg/Doer#", "pkg/x.", "pkg/sub/").toDF("d")
      .select(ScipIngest.displayNameCol($"d")).collect().map(_.getString(0))
    assert(names.toSeq === Seq("Main", "Doer", "x", ""))
  }

  /** Files of each label / relType directory of `kind`'s current base
    * snapshot. */
  private def parquetFilesPerDir(st: GraphStore, kind: String)
      : Map[String, Int] = {
    val base = java.nio.file.Paths.get(st.basePath)
    val version = java.nio.file.Files.readString(
      base.resolve(s"$kind.current")).trim
    base.resolve(version).toFile.listFiles().toSeq.filter(_.isDirectory)
      .map(d => d.getName ->
        d.listFiles().count(_.getName.endsWith(".parquet")))
      .toMap
  }

  test("index job-count gate and layout: a small SCIP + Go index runs " +
      "<= 12 jobs and writes one parquet file per label and relType") {
    import graft.ingest.{GoFrontend, IncrementalIndex}
    def body(i: Int, callee: Int) =
      s"package p${i % 3}\n\nfunc Fn$i(x int) int {\n\treturn Fn$callee(x)\n}\n"
    val files = (0 until 12).map(i =>
      (s"p${i % 3}/f$i.go", body(i, (i + 1) % 12)))
    val docs = files.zipWithIndex.map { case ((p, _), i) =>
      ScipIngest.ScipDocument(p, Seq(
        ScipIngest.ScipOccurrence(s"scip-go go svc v0 p${i % 3}/Fn$i().",
          Seq(2, 5, 2, 8), 1),
        ScipIngest.ScipOccurrence(
          s"scip-go go svc v0 p${(i + 1) % 3}/Fn${(i + 1) % 12}().",
          Seq(3, 8, 3, 11), 0)))
    }
    val index = ScipIngest.ScipIndex(docs, Nil)
    val dir = java.nio.file.Files.createTempDirectory("graft-ij").toString
    val store = new GraphStore(spark, dir)
    val (_, jobs) = jobsOf {
      ScipIngest.ingest(store, spark, index, "svc", files.toMap)
      GoFrontend.ingest(store, files.toDF("path", "content"), "svc")
    }
    info(s"index ran $jobs Spark jobs")
    assert(jobs <= 12, s"index ran $jobs Spark jobs")
    assert(store.nodes.filter($"label" === Labels.Function).count() === 12L)
    def oneFileEach(tag: String): Unit = Seq("nodes", "edges").foreach { k =>
      val perDir = parquetFilesPerDir(store, k)
      assert(perDir.nonEmpty && perDir.values.forall(_ == 1),
        s"$tag $k: $perDir")
    }
    oneFileEach("index")
    val edited = files.map { case (p, c) =>
      if (p == "p1/f1.go") (p, body(1, 7)) else (p, c) }
    IncrementalIndex.reindex(store, edited.toDF("path", "content"), "svc")
      .collect()
    assert(store.pendingDeltas("nodes") > 0 && store.pendingDeltas("edges") > 0)
    store.compact("nodes"); store.compact("edges")
    oneFileEach("compact")
  }

  test("scip duplicates: a twice-defined symbol keeps its first " +
      "definition; one (path, line, col) is one Reference") {
    def occ(sym: String, range: Seq[Int], roles: Int) =
      ScipIngest.ScipOccurrence(s"scip-go go svc v0 p/$sym().", range, roles)
    val index = ScipIngest.ScipIndex(Seq(ScipIngest.ScipDocument("p/a.go",
      Seq(occ("F", Seq(2, 5, 2, 6), 1), occ("G", Seq(3, 1, 3, 2), 0),
        occ("H", Seq(3, 1, 3, 9), 0), occ("F", Seq(7, 5, 7, 6), 1)))), Nil)
    val dir = java.nio.file.Files.createTempDirectory("graft-sd").toString
    val store = new GraphStore(spark, dir)
    ScipIngest.ingest(store, spark, index, "svc")
    val defines = store.edges.filter($"relType" === "DEFINES")
      .select("line", "column").collect().map(r => (r.getInt(0), r.getInt(1)))
    assert(defines.toSeq === Seq((2, 5)))
    val refs = store.nodesByLabel(Labels.Reference)
      .select("id", "startLine", "startColumn", "endColumn").collect()
    assert(refs.map(r => (r.getInt(1), r.getInt(2), r.getInt(3))).toSeq ===
      Seq((3, 1, 2)))
    val refEdges = store.edges.filter($"relType" === "REFERENCES")
      .join(store.nodes.select($"id".as("dst"), $"symbol"), "dst")
      .select("src", "symbol", "line", "column").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getInt(3)))
    assert(refEdges.toSet === Set("G", "H").map(n =>
      (refs(0).getLong(0), s"scip-go go svc v0 p/$n().", 3, 1)))
    assert(store.edges.filter($"relType" === "CONTAINS").count() === 3L,
      "svc→file, file→F, file→reference")
  }
}
