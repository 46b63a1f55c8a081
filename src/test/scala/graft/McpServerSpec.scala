package graft

import java.io.{BufferedReader, ByteArrayOutputStream, PrintStream,
  StringReader}

import org.json4s._
import org.json4s.jackson.JsonMethods.parse

import graft.mcp.McpServer

/** Drives the MCP JSON-RPC loop against the FIXTURES.md mini-graph and
  * asserts the reference's wire protocol (`mcp-server/main.go:88-244`)
  * and markdown tool responses (`main.go:246-523`). */
class McpServerSpec extends SparkSpec {

  /** pkg/a.go source shaped to the fixture's byte spans: Main occupies
    * exactly [0, 120), a GAP-ZONE marker [120, 130), Helper [130, 260). */
  private val fileAContent: String = {
    val main = "func Main() {\n  x := Helper()\n  return x\n}\n"
    val helper = "func Helper() {\n  y := Deep()\n  return y\n}\n"
    val mainPart = (main + "/" * 200).take(120)
    val gapPart = "//GAP-ZONE" // exactly bytes [120, 130)
    val helperPart = (helper + "/" * 200).take(130)
    mainPart + gapPart + helperPart
  }

  private lazy val server: McpServer = {
    val store = FixtureGraph.store(spark)
    // give File pkg/a.go indexed content — explicit id so keep-latest
    // updates the fixture's File node instead of minting a second one
    import spark.implicits._
    store.mergeNodes(
      Seq((FixtureGraph.fileA, "File", "a.go", "pkg/a.go", fileAContent))
        .toDF("id", "label", "name", "path", "content"))
    new McpServer(store.nodes, store.edges)
  }

  private def call(line: String): JValue =
    parse(server.handleLine(line).getOrElse(fail(s"no response to $line")))

  private def toolTextOf(resp: JValue): String =
    (resp \ "result" \ "content") (0) \ "text" match {
      case JString(t) => t
      case other => fail(s"no text content: $other")
    }

  test("initialize echoes id and advertises the MCP protocol") {
    val r = call("""{"jsonrpc":"2.0","id":1,"method":"initialize"}""")
    assert(r \ "jsonrpc" === JString("2.0"))
    assert(r \ "id" === JInt(1))
    assert(r \ "result" \ "protocolVersion" === JString("2024-11-05"))
    assert(r \ "result" \ "serverInfo" \ "name" ===
      JString("graft-mcp-server"))
  }

  test("tools/list returns the reference's four tools") {
    val r = call("""{"jsonrpc":"2.0","id":"t","method":"tools/list"}""")
    val JArray(tools) = (r \ "result" \ "tools"): @unchecked
    val names = tools.map(t => (t \ "name").values)
    assert(names === List("codegraph_search", "codegraph_get_source",
      "codegraph_find_references", "codegraph_analyze_function"))
    // every tool declares an object schema with required params
    tools.foreach { t =>
      assert(t \ "inputSchema" \ "type" === JString("object"))
      val JArray(req) = (t \ "inputSchema" \ "required"): @unchecked
      assert(req.nonEmpty)
    }
  }

  test("codegraph_search renders ranked markdown results") {
    val r = call(
      """{"jsonrpc":"2.0","id":2,"method":"tools/call","params":
        |{"name":"codegraph_search","arguments":{"query":"Main"}}}"""
        .stripMargin.replace("\n", ""))
    val text = toolTextOf(r)
    assert(text.contains("result(s) for 'Main'"))
    assert(text.contains("**Main** (Function)"))
    assert(text.contains("  File: pkg/a.go"))
    assert(text.contains("  Signature: func Main()"))
    assert(text.contains("  Lines: 1-10"))
  }

  test("codegraph_search with types filter narrows labels") {
    val r = call(
      """{"jsonrpc":"2.0","id":3,"method":"tools/call","params":
        |{"name":"codegraph_search","arguments":
        |{"query":"impl","types":["Class"]}}}"""
        .stripMargin.replace("\n", ""))
    val text = toolTextOf(r)
    assert(text.contains("**Impl** (Class)"))
    assert(text.contains("  FQN: pkg.Impl"))
    assert(!text.contains("(Function)"))
  }

  test("codegraph_search without hits reports no results, not an error") {
    val r = call(
      """{"jsonrpc":"2.0","id":4,"method":"tools/call","params":
        |{"name":"codegraph_search","arguments":
        |{"query":"zzz_nothing"}}}""".stripMargin.replace("\n", ""))
    assert(toolTextOf(r) === "No results found for query: zzz_nothing")
    assert(r \ "result" \ "isError" === JNothing)
  }

  test("codegraph_get_source cuts the byte span from File content") {
    val r = call(
      """{"jsonrpc":"2.0","id":5,"method":"tools/call","params":
        |{"name":"codegraph_get_source","arguments":
        |{"function_name":"Main"}}}""".stripMargin.replace("\n", ""))
    val text = toolTextOf(r)
    assert(text.startsWith("Source code for function 'Main':"))
    assert(text.contains("```go\n" + fileAContent.substring(0, 120)))
    assert(!text.contains("GAP-ZONE")) // byte span, not whole file
  }

  test("codegraph_get_source returns the exact function text after a Go " +
      "ingest and after a reindex of the edited file") {
    import spark.implicits._
    import graft.ingest.{GoFrontend, IncrementalIndex}
    val fn1 = "func Add(a, b int) int {\n\treturn a + b\n}"
    val fn2 = "func Add(a, b int) int {\n\ts := a + b\n\treturn s\n}"
    def file(fn: String) = Seq(("svc/p/add.go",
        s"package p\n\n// Add sums.\n$fn\n\nfunc Other() {\n}\n"))
      .toDF("path", "content")
    val dir = java.nio.file.Files.createTempDirectory("graft-getsrc")
    val store = new graft.store.GraphStore(spark, dir.toString)
    def source(): String = {
      // a server binds the store's frames when built, so each check
      // builds one over the current graph
      val r = parse(new McpServer(store.nodes, store.edges).handleLine(
          """{"jsonrpc":"2.0","id":9,"method":"tools/call","params":
            |{"name":"codegraph_get_source","arguments":
            |{"function_name":"Add"}}}""".stripMargin.replace("\n", ""))
        .getOrElse(fail("no response")))
      assert(r \ "result" \ "isError" === JNothing, toolTextOf(r))
      toolTextOf(r)
    }
    try {
      GoFrontend.ingest(store, file(fn1), "svc")
      assert(source() ===
        s"Source code for function 'Add':\n\n```go\n$fn1\n```\n")
      IncrementalIndex.reindex(store, file(fn2), "svc").collect()
      assert(source() ===
        s"Source code for function 'Add':\n\n```go\n$fn2\n```\n")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
  }

  test("codegraph_get_source on a missing function is a tool error") {
    val r = call(
      """{"jsonrpc":"2.0","id":6,"method":"tools/call","params":
        |{"name":"codegraph_get_source","arguments":
        |{"function_name":"Nope"}}}""".stripMargin.replace("\n", ""))
    assert(r \ "result" \ "isError" === JBool(true))
    assert(toolTextOf(r).contains("function not found"))
  }

  test("codegraph_find_references lists file + line per usage") {
    val r = call(
      """{"jsonrpc":"2.0","id":7,"method":"tools/call","params":
        |{"name":"codegraph_find_references","arguments":
        |{"symbol":"scip-go go test-service v1 pkg/Main()."}}}"""
        .stripMargin.replace("\n", ""))
    val text = toolTextOf(r)
    assert(text.contains("Found 1 reference(s)"))
    assert(text.contains("**pkg/b.go**"))
    assert(text.contains("  Line: 5"))
  }

  test("codegraph_analyze_function renders the 3-query flow") {
    val r = call(
      """{"jsonrpc":"2.0","id":8,"method":"tools/call","params":
        |{"name":"codegraph_analyze_function","arguments":
        |{"function_name":"Helper"}}}""".stripMargin.replace("\n", ""))
    val text = toolTextOf(r)
    assert(text.contains("## Analysis for function 'Helper'"))
    assert(text.contains("### Basic Information"))
    assert(text.contains("- **Signature**: func Helper()"))
    assert(text.contains("- **File**: pkg/a.go"))
    assert(text.contains("- **Location**: Lines 12-20"))
    assert(text.contains("### Called By"))
    assert(text.contains("- **Main** (pkg/a.go)"))
    assert(text.contains("### Calls"))
    assert(text.contains("- **Deep** (pkg/b.go)"))
  }

  test("analyze_function on a leaf reports no callees") {
    val r = call(
      """{"jsonrpc":"2.0","id":9,"method":"tools/call","params":
        |{"name":"codegraph_analyze_function","arguments":
        |{"function_name":"Handler"}}}""".stripMargin.replace("\n", ""))
    val text = toolTextOf(r)
    assert(text.contains("- **Deep** (pkg/b.go)")) // caller
    assert(text.contains("- No function calls found"))
  }

  test("protocol errors: bad JSON, bad method, bad tool, bad params") {
    val parseErr = call("{not json")
    assert(parseErr \ "error" \ "code" === JInt(-32700))
    val badMethod =
      call("""{"jsonrpc":"2.0","id":10,"method":"resources/list"}""")
    assert(badMethod \ "error" \ "code" === JInt(-32601))
    assert(badMethod \ "id" === JInt(10))
    val badTool = call(
      """{"jsonrpc":"2.0","id":11,"method":"tools/call","params":
        |{"name":"nope","arguments":{}}}""".stripMargin.replace("\n", ""))
    assert(badTool \ "error" \ "code" === JInt(-32601))
    val noName =
      call("""{"jsonrpc":"2.0","id":12,"method":"tools/call","params":{}}""")
    assert(noName \ "error" \ "code" === JInt(-32602))
    // missing required tool argument → in-band tool error, not JSON-RPC
    val noArg = call(
      """{"jsonrpc":"2.0","id":13,"method":"tools/call","params":
        |{"name":"codegraph_search","arguments":{}}}"""
        .stripMargin.replace("\n", ""))
    assert(noArg \ "result" \ "isError" === JBool(true))
    assert(toolTextOf(noArg) === "Error: query parameter is required")
  }

  test("an engine failure inside tools/call is -32603 with the request id") {
    // frames without the graph columns: searchNodes fails analysis
    // inside the handler
    val bare = spark.range(1).toDF("id")
    val broken = new McpServer(bare, bare)
    val err = new ByteArrayOutputStream()
    val oldErr = System.err
    System.setErr(new PrintStream(err, true))
    val line =
      try broken.handleLine(
        """{"jsonrpc":"2.0","id":14,"method":"tools/call","params":
          |{"name":"codegraph_search","arguments":{"query":"Helper"}}}"""
          .stripMargin.replace("\n", ""))
      finally System.setErr(oldErr)
    val r = parse(line.getOrElse(fail("no response")))
    assert(r \ "error" \ "code" === JInt(-32603))
    assert(r \ "error" \ "message" === JString("Internal error"))
    assert(r \ "id" === JInt(14))
    assert(err.toString.contains("codegraph_search"))
  }

  test("run() loops stdin lines to stdout lines, skipping blanks") {
    val in = new BufferedReader(new StringReader(
      """{"jsonrpc":"2.0","id":1,"method":"initialize"}
        |
        |{"jsonrpc":"2.0","id":2,"method":"tools/list"}
        |""".stripMargin))
    val buf = new ByteArrayOutputStream()
    server.run(in, new PrintStream(buf, true, "UTF-8"))
    val lines = buf.toString("UTF-8").split("\n").filter(_.nonEmpty)
    assert(lines.length === 2)
    assert(parse(lines(0)) \ "id" === JInt(1))
    assert(parse(lines(1)) \ "id" === JInt(2))
  }
}
