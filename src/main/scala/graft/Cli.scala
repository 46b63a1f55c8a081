package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ingest.{DocumentPipeline, ScipIngest}
import graft.queries.CodeGraph
import graft.sources.Sources
import graft.store.GraphStore

/** CLI veneer mirroring the reference's cobra commands
  * (`cmd/codegraph/main.go`) and MCP tools (`mcp-server/main.go`): the
  * engine API returns DataFrames; this layer only parses args and formats.
  * Display cap 50 rows like the reference (`mcp-server/main.go:287`).
  *
  * Usage: Cli <storeDir> <command> [args...]
  */
object Cli {

  def main(args: Array[String]): Unit = {
    if (args.length < 2) { println(usage); sys.exit(2) }
    val storeDir = args(0)
    val cmd = args(1)
    val rest = args.drop(2).toList
    val spark = Session.local()
    graft.functions.GraftExtensions.registerAll(spark)
    try run(spark, storeDir, cmd, rest) match {
      case Some(df) => df.show(50, truncate = false)
      case None => ()
    } finally spark.stop()
  }

  /** Dispatch; returns a DataFrame to display, or None if the command
    * printed its own output. */
  def run(spark: SparkSession, storeDir: String, cmd: String,
      rest: List[String]): Option[DataFrame] = {
    val store = new GraphStore(spark, storeDir)
    lazy val cg = CodeGraph(store)
    cmd match {
      case "ingest-docs" =>
        val glob = rest.head
        DocumentPipeline.ingest(store, Sources.documentFiles(spark, glob))
        println(s"ingested documents from $glob")
        None
      case "ingest-go" => // reference `index project` (main.go:237-276)
        val (glob, service) = (rest(0), rest(1))
        graft.ingest.GoFrontend.ingest(store,
          Sources.sourceFiles(spark, glob), service)
        println(s"indexed Go sources $glob as service $service")
        None
      case "status" => // reference `status` (main.go:97-129)
        val n = store.nodes.count(); val e = store.edges.count()
        println(s"Store Status: ok")
        println(s"Path: $storeDir")
        println(s"Nodes: $n")
        println(s"Edges: $e")
        None
      case "schema" => // reference `schema info` (main.go:186-229): the
        // constraint surface here is the merge-key map (deterministic
        // ids make uniqueness structural, not enforced post-hoc)
        import spark.implicits._
        Some(graft.model.Model.MergeKeys.toSeq.sortBy(_._1)
          .map { case (label, keys) => (label, keys.mkString(",")) }
          .toDF("label", "mergeKeys"))
      case "ingest-scip" =>
        val (path, service) = (rest(0), rest(1))
        if (path.endsWith(".scip")) // real protobuf index
          ScipIngest.ingestScipFile(store, spark, path, service)
        else { // JSON rendering of scip.Index
          import spark.implicits._
          val index = spark.read.option("multiLine", "true").json(path)
            .as[ScipIngest.ScipIndex].collect()(0)
          ScipIngest.ingest(store, spark, index, service)
        }
        println(s"ingested SCIP index $path for service $service")
        None
      case "search" =>
        Some(cg.searchNodes(rest.head,
            limit = rest.lift(1).map(_.toInt).getOrElse(50))
          .select(col("rank"), col("label"),
            coalesce(col("name"), col("displayName"), col("title"),
              col("symbol")).as("name"),
            coalesce(col("filePath"), col("path"), col("sourceUrl"))
              .as("location"), col("status"), col("id")))
      case "def" => Some(cg.goToDefinition(rest.mkString(" ")))
      case "refs" => Some(cg.findReferences(rest.mkString(" ")))
      case "impls" => Some(cg.findImplementations(rest.mkString(" ")))
      case "impact" =>
        val name = rest.head
        val depth = rest.lift(1).map(_.toInt).getOrElse(10)
        val impact = cg.impactAnalysis(name, depth)
        if (impact.isEmpty) println(s"no function named $name")
        impact
      case "callers" => Some(cg.callersOf(rest.head))
      case "callees" => Some(cg.calleesOf(rest.head))
      case "stats" =>
        Some(cg.countByLabel()
          .unionByName(cg.countByRelType()
            .withColumnRenamed("relType", "label")))
      case "doc-stats" => Some(cg.documentStats())
      case "integrity" => Some(cg.integrityChecks())
      case "source" => Some(cg.source(rest.head).drop("content"))
      case "mcp" =>
        // Serving process: pin the working set ONCE at startup — the
        // reference's graph lives resident in Neo4j (`pkg/neo4j/
        // client.go`), so its per-tool latency never includes a store
        // load. Without this every tool call re-reads the store
        // parquet once for each scan in its plan, and one
        // find_references call scans nodes and edges several times. At
        // deployment scale the same rule holds: a resident server
        // caches its hot graph tier (MEMORY_AND_DISK spills rather
        // than OOMs if the store outgrows executor memory).
        val nodes = store.nodes.persist(
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val edges = store.edges.persist(
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        nodes.count(); edges.count() // materialize before first request
        new graft.mcp.McpServer(nodes, edges).run(
          new java.io.BufferedReader(
            new java.io.InputStreamReader(System.in)), System.out)
        None
      case other =>
        println(s"unknown command: $other\n$usage")
        None
    }
  }

  val usage: String =
    """usage: Cli <storeDir> <command> [args...]
      |  ingest-docs <glob>             index markdown/text documents
      |  ingest-go <glob> <service>     index Go sources (AST frontend)
      |  ingest-scip <path> <service>   index a SCIP index (.scip or JSON)
      |  status | schema                store counts / merge-key constraints
      |  search <term> [limit]          ranked multi-field search
      |  def <symbol>                   go to definition
      |  refs <symbol>                  find references
      |  impls <symbol>                 find implementations
      |  impact <function> [depth]      downstream impact (CALLS<=depth)
      |  callers <name> | callees <name>
      |  stats | doc-stats | integrity
      |  source <function>              source span metadata
      |  mcp                            serve MCP JSON-RPC on stdin/stdout""".stripMargin
}
