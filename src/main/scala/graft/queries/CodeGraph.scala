package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.model.Model.{Labels, RelTypes}
import graft.graph.Traversals
import graft.ops.Iterate
import graft.store.GraphStore

/** The reference's query layer (`pkg/neo4j/query.go`, `pkg/query/lsp.go`,
  * `pkg/query/advanced.go`, `mcp-server/main.go`) re-expressed over the
  * nodes/edges Datasets.
  * Every Cypher MATCH hop `(a)-[:T]->(b)` is an equi-join
  * nodes ⋈ edges(relType=T) ⋈ nodes; dimension-sized sides are broadcast.
  */
class CodeGraph(nodes: DataFrame, edges: DataFrame) {

  private def n(label: String): DataFrame =
    nodes.filter(col("label") === label)
  /** Function and Method nodes: what every by-name lookup targets. */
  private def funcs: DataFrame =
    nodes.filter(col("label").isin(Labels.Function, Labels.Method))
  /** The id of the Function/Method named `name`, the smallest when
    * several share the name (one job). */
  private def funcId(name: String): Option[Long] = {
    val id = funcs.filter(col("name") === name).agg(min(col("id"))).head()
    if (id.isNullAt(0)) None else Some(id.getLong(0))
  }
  /** The Symbol node `symbol` as `symId` (plus `extra` columns),
    * broadcast: one row heads each Symbol-anchored hop chain. */
  private def symbolNode(symbol: String, extra: Column*): DataFrame =
    broadcast(n(Labels.Symbol).filter(col("symbol") === symbol)
      .select(col("id").as("symId") +: extra: _*))
  private def e(relType: String): DataFrame =
    edges.filter(col("relType") === relType)
  /** Edge projection with renamed endpoints — each hop gets unique column
    * names so chains of joins over the same edges table never hit
    * ambiguous-self-join resolution. */
  private def hop(relType: String, s: String, d: String): DataFrame =
    edges.filter(col("relType") === relType)
      .select(col("src").as(s), col("dst").as(d))

  /** P3 + O1 — multi-field case-insensitive search with the reference's
    * CASE-ranked ordering (`query.go:348-414`): rank 1 Function/Method,
    * 2 Class/Interface, 3 Variable/Parameter, 4 File/Feature/Document,
    * 5 Symbol, 6 else; then name; then LIMIT (default 50, `lsp.go:149`).
    */
  def searchNodes(term: String, labels: Seq[String] = Nil,
      limit: Int = 50): DataFrame = {
    val t = lit(term.toLowerCase)
    def m(c: String): Column =
      lower(coalesce(col(c), lit(""))).contains(t)
    val base = if (labels.nonEmpty) nodes.filter(col("label").isin(labels: _*))
      else nodes
    base.filter(m("name") || m("displayName") || m("signature") ||
        m("symbol") || m("path"))
      .withColumn("rank",
        when(col("label").isin(Labels.Function, Labels.Method), 1)
          .when(col("label").isin(Labels.Class, Labels.Interface), 2)
          .when(col("label").isin(Labels.Variable, Labels.Parameter), 3)
          .when(col("label").isin(Labels.File, Labels.Feature,
            Labels.Document), 4)
          .when(col("label") === Labels.Symbol, 5)
          .otherwise(6))
      .orderBy(col("rank"), col("name"), col("id"))
      .limit(limit)
  }

  /** Completion (`pkg/query/lsp.go:239`): name-prefix lookup, default
    * limit 20, ranked like searchNodes. */
  def completions(prefix: String, limit: Int = 20): DataFrame = {
    val p = lit(prefix.toLowerCase)
    nodes.filter(lower(coalesce(col("name"), col("displayName")))
        .startsWith(p))
      .withColumn("rank",
        when(col("label").isin(Labels.Function, Labels.Method), 1)
          .when(col("label").isin(Labels.Class, Labels.Interface), 2)
          .otherwise(3))
      .select(col("rank"), col("label"),
        coalesce(col("name"), col("displayName")).as("name"), col("id"))
      .orderBy(col("rank"), col("name"), col("id"))
      .limit(limit)
  }

  /** J1 — go-to-definition (`query.go:53-118`):
    * `(s:Symbol {symbol:$s})<-[:DEFINES]-(def)`. */
  def goToDefinition(symbol: String): DataFrame = {
    val sym = symbolNode(symbol)
    val defs = e(RelTypes.Defines)
    sym.join(defs, sym("symId") === defs("dst"))
      .join(nodes.as("def"), defs("src") === col("def.id"))
      .select(col("def.id").as("defId"), col("def.label").as("defLabel"),
        col("def.name").as("name"), col("def.filePath").as("filePath"),
        col("def.startLine").as("startLine"), col("def.endLine").as("endLine"),
        col("def.signature").as("signature"))
      .orderBy(col("filePath"), col("startLine"))
  }

  /** J2 — find-references (`query.go:121-163`):
    * `(s:Symbol)<-[:REFERENCES]-(usage)<-[:CONTAINS*]-(f:File)`, ORDER BY
    * file path, line. The CONTAINS* walk goes UP from the usages only
    * (reversed edges, seeded with the usage ids, ≤ `maxDepth` hops), so
    * its rounds follow the usages' own ancestry, not the deepest chain
    * in the graph. A usage without a File ancestor keeps its own
    * `filePath`. The usages are materialized once, as the walk's seed
    * and the final join's left side; with none, the empty answer
    * returns without the walk.
    */
  def findReferences(symbol: String, maxDepth: Int = 10): DataFrame = {
    val sym = symbolNode(symbol)
    val refs = e(RelTypes.References)
    // a symbol's references are few, so they are broadcast: with no
    // shuffle stage beside them, AQE cannot drop an empty join while the
    // other side's stage still runs (it left that job running past the
    // caller's collect)
    val (usages, nUsages) = Iterate.barrierCounted(
      broadcast(sym.join(refs, sym("symId") === refs("dst")))
        .join(nodes.as("u"), refs("src") === col("u.id"))
        .select(col("u.id").as("usageId"), col("u.label").as("usageLabel"),
          col("u.filePath").as("usageFilePath"),
          col("u.startLine").as("startLine"),
          col("u.startColumn").as("startColumn")))
    // limit(0) plans as an empty local relation: its collect runs no job
    if (nUsages == 0)
      return usages.select(col("usageId"), col("usageLabel"),
        col("usageFilePath").as("path"), col("startLine"),
        col("startColumn")).limit(0)
    // keep only File ancestors BEFORE joining, so non-File ancestors
    // (Module, Class…) cannot fan a usage out into duplicate rows; the
    // shortest walk to an ancestor is a simple path, so `paths` reaches
    // every ancestor within maxDepth
    val up = e(RelTypes.Contains)
      .select(col("dst").as("src"), col("src").as("dst"))
    val files = n(Labels.File).select(col("id").as("fileId"),
      col("path").as("filePath"))
    val fileAncestors = Traversals
      .paths(up, usages.select(col("usageId").as("id")), maxDepth)
      .join(broadcast(files), col("end") === col("fileId"))
      .select(col("start"), col("filePath"))
    usages.join(fileAncestors, usages("usageId") === col("start"),
        "left_outer")
      .select(col("usageId"), col("usageLabel"),
        coalesce(col("filePath"), col("usageFilePath")).as("path"),
        col("startLine"), col("startColumn"))
      .distinct()
      .orderBy(col("path"), col("startLine"), col("usageId"))
  }

  /** J3 — find-implementations (`query.go:166-200`):
    * Symbol ←DEFINES− Interface ←IMPLEMENTS− Class. */
  def findImplementations(symbol: String): DataFrame = {
    val sym = symbolNode(symbol)
    val defs = hop(RelTypes.Defines, "defSrc", "defDst")
    val impls = hop(RelTypes.Implements, "implSrc", "implDst")
    val ifaces = sym.join(defs, col("symId") === col("defDst"))
      .select(col("defSrc").as("ifaceId"))
    ifaces.join(impls, col("ifaceId") === col("implDst"))
      .join(nodes.as("c"), col("implSrc") === col("c.id"))
      .select(col("c.id").as("classId"), col("c.name").as("name"),
        col("c.fqn").as("fqn"), col("c.filePath").as("filePath"),
        col("c.startLine").as("startLine"))
      .orderBy(col("fqn"), col("classId"))
  }

  /** J4 — impact analysis (`query.go:203-242`): everything reachable from
    * a function over CALLS within ≤10 hops, plus any APIRoutes those
    * downstream functions expose; DISTINCT.
    */
  def impactAnalysis(funcId: Long, maxDepth: Int = 10): DataFrame = {
    val spark = nodes.sparkSession
    import spark.implicits._
    val seeds = Seq(funcId).toDF("id")
    val downstream = Traversals.reachable(
      e(RelTypes.Calls).select(col("src"), col("dst")), seeds, maxDepth)
    val exposes = e(RelTypes.ExposesApi)
    val routes = n(Labels.APIRoute).select(col("id").as("routeId"),
      col("path").as("routePath"))
    downstream.join(nodes.as("f"), downstream("id") === col("f.id"))
      .join(exposes, downstream("id") === exposes("src"), "left_outer")
      .join(broadcast(routes), exposes("dst") === routes("routeId"),
        "left_outer")
      .select(col("f.id").as("affectedId"), col("f.name").as("name"),
        col("f.label").as("label"), col("depth"), col("routePath"))
      .distinct()
      .orderBy(col("depth"), col("name"), col("affectedId"))
  }

  /** [[impactAnalysis]] of the Function/Method named `funcName`; None
    * when there is none. */
  def impactAnalysis(funcName: String, maxDepth: Int): Option[DataFrame] =
    funcId(funcName).map(impactAnalysis(_, maxDepth))

  /** J5 — data lineage with path capture (`query.go:245-285`):
    * `path = (param)-[:FLOWS_TO*1..15]->(usage)` where the terminal usage
    * is a Parameter contained in a Method; returns the node-id path.
    */
  def dataLineage(paramId: Long, maxDepth: Int = 15): DataFrame = {
    val spark = nodes.sparkSession
    import spark.implicits._
    val seeds = Seq(paramId).toDF("id")
    val flows = e(RelTypes.FlowsTo).select(col("src"), col("dst"))
    val allPaths = Traversals.paths(flows, seeds, maxDepth)
    val params = n(Labels.Parameter).select(col("id").as("pId"))
    val contains = hop(RelTypes.Contains, "cSrc", "cDst")
    val methods = n(Labels.Method).select(col("id").as("mId"),
      col("name").as("methodName"))
    // terminal must be a Parameter with a Method CONTAINS-parent
    allPaths.join(params, allPaths("end") === params("pId"))
      .join(contains, allPaths("end") === col("cDst"))
      .join(broadcast(methods), col("cSrc") === methods("mId"))
      .select(col("start"), col("end"), col("depth"), col("path"),
        col("methodName"))
      .orderBy(col("depth"), col("end"))
  }

  /** J7 — callers / callees (`mcp-server/main.go:479-506`), LIMIT 10. */
  def callersOf(funcName: String, limit: Int = 10): DataFrame =
    callNeighbors(funcName, callers = true, limit)

  def calleesOf(funcName: String, limit: Int = 10): DataFrame =
    callNeighbors(funcName, callers = false, limit)

  private def callNeighbors(funcName: String, callers: Boolean,
      limit: Int): DataFrame = {
    val (at, to, idCol) =
      if (callers) ("dst", "src", "callerId") else ("src", "dst", "calleeId")
    val target = funcs.filter(col("name") === funcName)
      .select(col("id").as("tId"))
    val calls = e(RelTypes.Calls)
    target.join(calls, target("tId") === calls(at))
      .join(nodes.as("c"), calls(to) === col("c.id"))
      .select(col("c.id").as(idCol), col("c.name").as("name"),
        col("c.filePath").as("filePath"))
      .orderBy(col("name"), col(idCol)).limit(limit)
  }

  /** MCP analyze-function tool (`mcp-server/main.go:423-519`): the
    * reference issues three sequential round-trips (metadata, callers,
    * callees); here one call returns the union, tagged by part. The
    * metadata row is the whole first Function/Method node named
    * `funcName`; caller and callee rows carry `name` and `filePath`. */
  def analyzeFunction(funcName: String, limit: Int = 10): DataFrame = {
    val meta = funcs.filter(col("name") === funcName)
      .orderBy(col("filePath"), col("startLine")).limit(1)
      .select(lit("metadata").as("part"), col("*"))
    def tagged(part: String, df: DataFrame): DataFrame =
      df.select(lit(part).as("part"), col("name"), col("filePath"))
    meta
      .unionByName(tagged("caller", callersOf(funcName, limit)),
        allowMissingColumns = true)
      .unionByName(tagged("callee", calleesOf(funcName, limit)),
        allowMissingColumns = true)
  }

  /** A1/A2 — count by label / relType (`system_test.go:72,238`). */
  def countByLabel(): DataFrame =
    nodes.groupBy(col("label")).count()
      .orderBy(col("count").desc, col("label"))

  def countByRelType(): DataFrame =
    edges.groupBy(col("relType")).count()
      .orderBy(col("count").desc, col("relType"))

  /** A3 — document pipeline stats (`documents/indexer.go:179-199`). */
  def documentStats(): DataFrame = {
    val docs = n(Labels.Document)
    val describes = hop(RelTypes.Describes, "descSrc", "descDst")
    val mentions = hop(RelTypes.Mentions, "menSrc", "menDst")
    val feats = n(Labels.Feature).select(col("id").as("fId"))
    val syms = n(Labels.Symbol).select(col("id").as("sId"))
    val d2f = docs.join(describes, docs("id") === col("descSrc"), "left_outer")
      .join(feats, col("descDst") === feats("fId"), "left_outer")
    val agg1 = d2f.agg(
      countDistinct(docs("id")).as("nDocuments"),
      countDistinct(col("fId")).as("nFeatures"),
      array_sort(collect_set(docs("type"))).as("docTypes"))
    val nMentioned = docs.join(mentions, docs("id") === col("menSrc"))
      .join(syms, col("menDst") === syms("sId"))
      .agg(countDistinct(col("sId")).as("nMentionedSymbols"))
    agg1.crossJoin(nMentioned)
  }

  /** J10 — integrity checks (`indexing_test.go:412-466`): orphaned
    * Reference nodes (no REFERENCES edge to a Symbol) and Services without
    * any CONTAINS→File. Returns (check, violationCount). */
  def integrityChecks(): DataFrame = {
    val refs = n(Labels.Reference).select(col("id"))
    val refEdges = e(RelTypes.References).select(col("src"))
    val orphanRefs = refs.join(refEdges, refs("id") === refEdges("src"),
      "left_anti").agg(count(lit(1)).as("violationCount"))
      .withColumn("check", lit("orphaned_references"))
    val svcs = n(Labels.Service).select(col("id"))
    val files = n(Labels.File).select(col("id").as("fileId"))
    val svcFiles = e(RelTypes.Contains)
      .join(files, col("dst") === col("fileId"), "left_semi")
      .select(col("src"))
    val lonelySvcs = svcs.join(svcFiles, svcs("id") === svcFiles("src"),
      "left_anti").agg(count(lit(1)).as("violationCount"))
      .withColumn("check", lit("services_without_files"))
    orphanRefs.unionByName(lonelySvcs).select(col("check"),
      col("violationCount"))
  }

  /** LSP hover (`pkg/query/lsp.go` GetHover — a placeholder in the
    * reference returning "not yet implemented"; implemented for real
    * here): definition metadata + documentation for a symbol, the
    * content a hover tooltip renders. */
  def hover(symbol: String): DataFrame = {
    val sym = symbolNode(symbol, col("displayName").as("symDisplay"),
      col("documentation").as("symDoc"))
    val defs = e(RelTypes.Defines)
    sym.join(defs, sym("symId") === defs("dst"))
      .join(nodes.as("def"), defs("src") === col("def.id"))
      .select(
        coalesce(col("symDisplay"), col("def.name")).as("name"),
        col("def.label").as("kind"),
        coalesce(col("def.signature"), col("def.name")).as("signature"),
        coalesce(col("symDoc"), col("def.docstring"), lit(""))
          .as("documentation"),
        col("def.filePath").as("filePath"),
        col("def.startLine").as("startLine"))
      .orderBy(col("filePath"), col("startLine"))
      .limit(1)
  }

  /** O4/S15 — source lookup (`query.go:425-493`): the first
    * Function/Method named `name` by (filePath, startLine), with its
    * span and its File's indexed `content` (null when the File has
    * none). [[CodeGraph.extractSpan]] cuts the source out of it. */
  def source(name: String): DataFrame = {
    val loc = funcs.filter(col("name") === name)
      .orderBy(col("filePath"), col("startLine")).limit(1)
      .select(col("name"), col("filePath"), col("startByte"), col("endByte"),
        col("startLine"), col("endLine"), col("linesOfCode"))
    // right_outer so the one-row side is the broadcast one
    n(Labels.File).filter(col("content").isNotNull)
      .select(col("path").as("filePath"), col("content"))
      .join(broadcast(loc), Seq("filePath"), "right_outer")
      .select((loc.columns.toSeq :+ "content").map(col): _*)
  }
}

object CodeGraph {
  def apply(store: GraphStore): CodeGraph =
    new CodeGraph(store.nodes, store.edges)

  /** Byte-span source extraction with line fallback — semantics of
    * `query.go:449-493`: prefer content[startByte:endByte), fall back to
    * line slicing. Plain Scala; used driver-side on a single looked-up row
    * (the reference does os.ReadFile the same way).
    */
  def extractSpan(content: String, startByte: Option[Int],
      endByte: Option[Int], startLine: Int, endLine: Int): String =
    (startByte, endByte) match {
      case (Some(s), Some(e)) if s >= 0 && e <= content.length && s < e =>
        content.substring(s, e)
      case _ =>
        val lines = content.split("\n", -1)
        val lo = math.max(startLine - 1, 0)
        val hi = math.min(endLine, lines.length)
        if (lo >= hi) "" else lines.slice(lo, hi).mkString("\n")
    }
}
