package graft

import graft.ingest.{DocumentPipeline, GoFrontend}
import graft.model.Model.Labels
import graft.queries.CodeGraph
import graft.store.GraphStore

/** The reference's cross-context integration shape
  * (`test/integration/indexing_test.go:290-364`): code and documents
  * indexed into ONE graph, queries spanning Symbol + Function + Feature +
  * Document, and doc→symbol traceability via MENTIONS.
  */
class CrossContextSpec extends SparkSpec {
  import spark.implicits._

  private val goFile =
    """package mypkg
      |
      |// Connect dials the server.
      |func Connect(addr string) int {
      |	return 1
      |}
      |
      |func helper() int {
      |	return Connect("x")
      |}
      |""".stripMargin

  private val doc =
    """# Connection Guide
      |
      |Feature: Connection Management
      |Use `Connect` to dial the server. This feature is completed.
      |""".stripMargin

  test("code + docs in one graph: search spans contexts, MENTIONS links") {
    val dir = java.nio.file.Files.createTempDirectory("graft-xctx").toString
    val store = new GraphStore(spark, dir)
    GoFrontend.ingest(store,
      Seq(("svc/conn.go", goFile)).toDF("path", "content"), "svc")
    DocumentPipeline.ingest(store,
      Seq(("docs/guide.md", doc)).toDF("path", "content"))

    val cg = CodeGraph(store)
    // search finds the Function first (rank 1), then doc-context hits
    val hits = cg.searchNodes("Connect").collect()
    assert(hits.nonEmpty)
    assert(hits.head.getAs[String]("label") === Labels.Function)
    val labels = hits.map(_.getAs[String]("label")).toSet
    assert(labels.contains(Labels.Symbol)) // symbol matches too

    // MENTIONS traceability: the guide doc points at the Connect symbol
    val mentions = store.edges.filter($"relType" === "MENTIONS").count()
    assert(mentions >= 1L)
    val stats = cg.documentStats().collect()(0)
    assert(stats.getAs[Long]("nDocuments") === 1L)
    assert(stats.getAs[Long]("nFeatures") >= 1L)
    assert(stats.getAs[Long]("nMentionedSymbols") >= 1L)

    // feature landed with merged status from the doc text
    val feat = store.nodesByLabel(Labels.Feature)
      .filter($"name" === "Connection Management").collect()
    assert(feat.length === 1)
    assert(feat(0).getAs[String]("status") === "completed")
  }
}
