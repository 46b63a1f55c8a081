package graft.mcp

import java.io.{BufferedReader, PrintStream}

import scala.util.{Failure, Success, Try}
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row}
import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, parse, render}

import graft.model.Model.Labels
import graft.queries.CodeGraph

/** MCP (Model Context Protocol) JSON-RPC frontend — the reference's
  * second front-end (`mcp-server/main.go`), re-hosted over the Spark
  * engine. One JSON-RPC request per stdin line, one response JSON per
  * stdout line (`main.go:88-122`), with `initialize` / `tools/list` /
  * `tools/call` dispatch (`main.go:111-122`) and the reference's four
  * tools (`main.go:139-244`): codegraph_search, codegraph_get_source,
  * codegraph_find_references, codegraph_analyze_function — same tool
  * names and argument schemas, so an MCP client of the reference can
  * point at this server unchanged.
  *
  * Each tool handler makes one `CodeGraph` call, collects it once and
  * renders markdown; it holds no query code of its own. Collecting is
  * the correct shape here: these are interactive point lookups bounded
  * by the reference's own LIMITs (1–50 rows); the data-scale work
  * happens inside the `CodeGraph` queries, which stay distributed.
  */
class McpServer(nodes: DataFrame, edges: DataFrame) {

  private val cg = new CodeGraph(nodes, edges)

  /** Blocking stdin→stdout loop (`main.go:88-109`). Blank lines are
    * skipped; EOF ends the session. */
  def run(in: BufferedReader, out: PrintStream): Unit =
    Iterator.continually(in.readLine()).takeWhile(_ != null)
      .foreach(line => handleLine(line).foreach(out.println))

  /** One request line → one response line (None for blank input).
    * Malformed JSON answers -32700 with a null id; a request that fails
    * inside its handler answers -32603 with its own id and is logged to
    * stderr (stdout carries only the protocol). */
  def handleLine(line: String): Option[String] =
    if (line.trim.isEmpty) None
    else Some(compact(render(Try(parse(line)) match {
      case Failure(_) => errorObj(JNull, -32700, "Parse error")
      case Success(req) =>
        try handleRequest(req)
        catch { case NonFatal(e) =>
          val tool = req \ "params" \ "name" match {
            case JString(t) => t
            case _ => "-"
          }
          System.err.println(s"[mcp] tool=$tool failed: $e")
          errorObj(idOf(req), -32603, "Internal error")
        }
    })))

  private def idOf(req: JValue): JValue =
    req \ "id" match { case JNothing => JNull; case v => v }

  private def handleRequest(req: JValue): JValue = {
    val id = idOf(req)
    req \ "method" match {
      case JString("initialize") => resultObj(id, initializeResult)
      case JString("tools/list") => resultObj(id, toolsListResult)
      case JString("tools/call") => handleToolCall(id, req \ "params")
      case _ => errorObj(id, -32601, "Method not found")
    }
  }

  // --------------------------------------------------------------- JSON-RPC
  private def resultObj(id: JValue, result: JValue): JValue =
    JObject("jsonrpc" -> JString("2.0"), "id" -> id, "result" -> result)

  private def errorObj(id: JValue, code: Int, message: String): JValue =
    JObject("jsonrpc" -> JString("2.0"), "id" -> id,
      "error" -> JObject("code" -> JInt(code),
        "message" -> JString(message)))

  private def toolText(id: JValue, text: String,
      isError: Boolean = false): JValue = {
    val content = JArray(List(JObject(
      "type" -> JString("text"), "text" -> JString(text))))
    val fields: List[JField] =
      if (isError) List("content" -> content, "isError" -> JBool(true))
      else List("content" -> content)
    resultObj(id, JObject(fields))
  }

  // ------------------------------------------------------------- initialize
  private val initializeResult: JValue = JObject(
    "protocolVersion" -> JString("2024-11-05"),
    "capabilities" -> JObject("tools" -> JObject()),
    "serverInfo" -> JObject(
      "name" -> JString("graft-mcp-server"),
      "version" -> JString("1.0.0")))

  // -------------------------------------------------------------- tools/list
  private def tool(name: String, description: String,
      props: List[(String, JValue)], required: List[String]): JValue =
    JObject(
      "name" -> JString(name),
      "description" -> JString(description),
      "inputSchema" -> JObject(
        "type" -> JString("object"),
        "properties" -> JObject(props),
        "required" -> JArray(required.map(JString(_)))))

  private def strProp(desc: String): JValue =
    JObject("type" -> JString("string"), "description" -> JString(desc))

  private val toolsListResult: JValue = JObject("tools" -> JArray(List(
    tool("codegraph_search",
      "Search for functions, methods, classes, and other code entities " +
        "in the codebase",
      List(
        "query" -> strProp("Search term to find code entities " +
          "(functions, methods, classes, etc.)"),
        "limit" -> JObject("type" -> JString("number"),
          "description" -> JString("Maximum number of results to return " +
            "(default: 20, 0 for unlimited)"),
          "default" -> JInt(20)),
        "types" -> JObject("type" -> JString("array"),
          "description" -> JString("Filter by entity types (Function, " +
            "Method, Class, Variable, etc.)"),
          "items" -> JObject("type" -> JString("string")))),
      List("query")),
    tool("codegraph_get_source",
      "Retrieve the exact source code for a specific function or method",
      List("function_name" -> strProp(
        "Name of the function or method to retrieve source code for")),
      List("function_name")),
    tool("codegraph_find_references",
      "Find all references (usages) of a specific symbol in the codebase",
      List("symbol" -> strProp("Symbol to find references for")),
      List("symbol")),
    tool("codegraph_analyze_function",
      "Get detailed analysis of a function including callers, callees, " +
        "and metadata",
      List("function_name" -> strProp("Name of the function to analyze")),
      List("function_name")))))

  // -------------------------------------------------------------- tools/call
  private def handleToolCall(id: JValue, params: JValue): JValue = {
    params \ "name" match {
      case JString(toolName) =>
        val args = params \ "arguments" match {
          case o: JObject => o
          case _ => JObject()
        }
        toolName match {
          case "codegraph_search" =>
            val (t, e) = searchTool(args); toolText(id, t, e)
          case "codegraph_get_source" =>
            val (t, e) = getSourceTool(args); toolText(id, t, e)
          case "codegraph_find_references" =>
            val (t, e) = findReferencesTool(args); toolText(id, t, e)
          case "codegraph_analyze_function" =>
            val (t, e) = analyzeFunctionTool(args); toolText(id, t, e)
          case _ => errorObj(id, -32601, "Unknown tool")
        }
      case _ => errorObj(id, -32602, "Invalid params")
    }
  }

  // --------------------------------------------------------- arg/row helpers
  private def strArg(args: JValue, key: String): Option[String] =
    args \ key match { case JString(s) => Some(s); case _ => None }

  private def intArg(args: JValue, key: String, default: Int): Int =
    args \ key match {
      case JInt(n) => n.toInt
      case JLong(n) => n.toInt
      case JDouble(d) => d.toInt
      case JDecimal(d) => d.toInt
      case _ => default
    }

  private def strArrArg(args: JValue, key: String): Seq[String] =
    args \ key match {
      case JArray(vs) => vs.collect { case JString(s) => s }
      case _ => Nil
    }

  private def rs(r: Row, c: String): String =
    if (!r.schema.fieldNames.contains(c)) ""
    else Option(r.getAs[Any](c)).map(_.toString).getOrElse("")

  private def ri(r: Row, c: String): Int =
    if (!r.schema.fieldNames.contains(c)) 0
    else r.getAs[Any](c) match {
      case n: Int => n
      case n: Long => n.toInt
      case n: java.lang.Number => n.intValue()
      case _ => 0
    }

  private def rb(r: Row, c: String): Boolean =
    r.schema.fieldNames.contains(c) &&
      (r.getAs[Any](c) match { case b: Boolean => b; case _ => false })

  // ------------------------------------------------------- codegraph_search
  /** `main.go:246-339`: ranked multi-field search, markdown per node
    * with label-specific extras, output capped at 50 rendered rows. */
  private def searchTool(args: JValue): (String, Boolean) =
    strArg(args, "query") match {
      case None => ("Error: query parameter is required", true)
      case Some(query) =>
        val limitArg = intArg(args, "limit", 20)
        val limit = if (limitArg <= 0) Int.MaxValue else limitArg
        val types = strArrArg(args, "types")
        val rows = cg.searchNodes(query, types, limit).collect()
        if (rows.isEmpty) (s"No results found for query: $query", false)
        else {
          val sb = new StringBuilder
          sb ++= s"Found ${rows.length} result(s) for '$query':\n\n"
          rows.take(50).foreach { r =>
            val label = rs(r, "label")
            sb ++= s"**${rs(r, "name")}** ($label)\n"
            if (rs(r, "filePath").nonEmpty)
              sb ++= s"  File: ${rs(r, "filePath")}\n"
            if (rs(r, "signature").nonEmpty)
              sb ++= s"  Signature: ${rs(r, "signature")}\n"
            label match {
              case Labels.Function | Labels.Method =>
                if (ri(r, "startLine") > 0)
                  sb ++= s"  Lines: ${ri(r, "startLine")}-${ri(r, "endLine")}\n"
                if (ri(r, "linesOfCode") > 0)
                  sb ++= s"  Lines of Code: ${ri(r, "linesOfCode")}\n"
              case Labels.Class =>
                if (rs(r, "fqn").nonEmpty)
                  sb ++= s"  FQN: ${rs(r, "fqn")}\n"
              case _ => ()
            }
            sb ++= "\n"
          }
          if (rows.length > 50)
            sb ++= s"... and ${rows.length - 50} more results\n"
          (sb.toString, false)
        }
    }

  // --------------------------------------------------- codegraph_get_source
  /** `main.go:341-367` over `query.go:425-493`: the located span and
    * its File's indexed content in one row, cut by bytes (line
    * fallback). */
  private def getSourceTool(args: JValue): (String, Boolean) =
    strArg(args, "function_name") match {
      case None => ("Error: function_name parameter is required", true)
      case Some(name) =>
        cg.source(name).collect().headOption match {
          case None =>
            (s"Error retrieving source for '$name': function not found", true)
          case Some(r) if r.isNullAt(r.fieldIndex("content")) =>
            (s"Error retrieving source for '$name': no indexed " +
              s"content for file ${rs(r, "filePath")}", true)
          case Some(r) =>
            def byte(c: String): Option[Int] =
              Option(r.getAs[java.lang.Number](c)).map(_.intValue())
            val src = CodeGraph.extractSpan(r.getAs[String]("content"),
              byte("startByte"), byte("endByte"),
              ri(r, "startLine"), ri(r, "endLine"))
            (s"Source code for function '$name':\n\n```go\n$src\n```\n",
              false)
        }
    }

  // ---------------------------------------------- codegraph_find_references
  /** `main.go:369-411`: file path + line (+ column when present) per
    * usage, via the engine's REFERENCES ⋈ CONTAINS* query. */
  private def findReferencesTool(args: JValue): (String, Boolean) =
    strArg(args, "symbol") match {
      case None => ("Error: symbol parameter is required", true)
      case Some(symbol) =>
        val refs = cg.findReferences(symbol).collect()
        if (refs.isEmpty) (s"No references found for symbol: $symbol", false)
        else {
          val sb = new StringBuilder
          sb ++= s"Found ${refs.length} reference(s) for '$symbol':\n\n"
          refs.foreach { r =>
            sb ++= s"**${rs(r, "path")}**\n"
            sb ++= s"  Line: ${ri(r, "startLine")}"
            if (ri(r, "startColumn") > 0)
              sb ++= s", Column: ${ri(r, "startColumn")}"
            sb ++= "\n\n"
          }
          (sb.toString, false)
        }
    }

  // ------------------------------------------- codegraph_analyze_function
  /** `main.go:413-523`: the reference's three round-trips — metadata
    * LIMIT 1, callers LIMIT 10, callees LIMIT 10 — answered by one
    * tagged `analyzeFunction` frame, rendered as one markdown analysis
    * block. */
  private def analyzeFunctionTool(args: JValue): (String, Boolean) =
    strArg(args, "function_name") match {
      case None => ("Error: function_name parameter is required", true)
      case Some(name) =>
        val parts = cg.analyzeFunction(name, 10).collect()
          .groupBy(rs(_, "part")).withDefaultValue(Array.empty[Row])
        parts("metadata").headOption match {
          case None => (s"Function not found: $name", true)
          case Some(r) =>
            val sb = new StringBuilder
            sb ++= s"## Analysis for function '$name'\n\n"
            sb ++= "### Basic Information\n"
            if (rs(r, "signature").nonEmpty)
              sb ++= s"- **Signature**: ${rs(r, "signature")}\n"
            if (rs(r, "filePath").nonEmpty)
              sb ++= s"- **File**: ${rs(r, "filePath")}\n"
            if (ri(r, "startLine") > 0)
              sb ++= s"- **Location**: Lines ${ri(r, "startLine")}-" +
                s"${ri(r, "endLine")}\n"
            if (ri(r, "linesOfCode") > 0)
              sb ++= s"- **Lines of Code**: ${ri(r, "linesOfCode")}\n"
            if (rs(r, "returnType").nonEmpty)
              sb ++= s"- **Return Type**: ${rs(r, "returnType")}\n"
            sb ++= (if (rb(r, "isExported")) "- **Exported**: Yes\n"
              else "- **Exported**: No\n")
            sb ++= "\n"

            val callers = parts("caller")
            sb ++= "### Called By\n"
            if (callers.nonEmpty) callers.foreach { c =>
              sb ++= s"- **${rs(c, "name")}** (${rs(c, "filePath")})\n"
            } else sb ++= "- No callers found\n"
            sb ++= "\n"

            val callees = parts("callee")
            sb ++= "### Calls\n"
            if (callees.nonEmpty) callees.foreach { c =>
              sb ++= s"- **${rs(c, "name")}** (${rs(c, "filePath")})\n"
            } else sb ++= "- No function calls found\n"
            (sb.toString, false)
        }
    }
}

/** Entry point: `McpServer <storeDir>` — the same server as
  * `Cli <storeDir> mcp`: serve the graph at storeDir over stdin/stdout
  * JSON-RPC (Spark logs go to stderr, so the protocol stream stays
  * clean). */
object McpServer {
  def main(args: Array[String]): Unit = {
    require(args.length >= 1, "usage: McpServer <storeDir>")
    graft.Cli.main(Array(args(0), "mcp"))
  }
}
