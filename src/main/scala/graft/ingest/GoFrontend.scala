package graft.ingest

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.model.Model.{Labels, RelTypes}
import graft.store.GraphStore

/** Go source frontend (SURVEY S9) — the Spark-native counterpart of the
  * reference's AST indexer (`pkg/indexer/static/indexer.go`): per-file
  * parse inside a distributed flatMap producing node/edge rows, then two
  * MERGE writes (vs one Bolt round-trip per entity, `indexer.go:100-161`).
  *
  * The reference uses `go/parser`; this container has no Go toolchain, so
  * the frontend is a line/brace scanner covering the same entity surface:
  * package → Module, `func` → Function/Method (receiver-aware), `type X
  * struct/interface` → Class/Interface, top-level var/const → Variable,
  * with byte spans, line counts, signatures, preceding-comment docstrings
  * (`indexer.go:627-644` cleanup), a cyclomatic-complexity estimate, and
  * SCIP-shaped symbols (`pkg/models/symbol.go:62-90` Go descriptor
  * formatting). Language frontends are pluggable by construction: anything
  * that emits these rows joins the same graph.
  */
object GoFrontend {

  case class Entity(label: String, name: String, signature: String,
      filePath: String, startLine: Int, endLine: Int, startByte: Int,
      endByte: Int, receiver: String, pkg: String, docstring: String,
      complexity: Int, isExported: Boolean)

  // generic declarations carry a type-parameter list between the name
  // and the argument list (`func F[T any](…)`, `type X[T any] struct`);
  // the optional non-capturing bracket group keeps them from being
  // silently dropped
  private val funcRe =
    """^func\s+(?:\(\s*\w+\s+\*?([\w\.]+)(?:\[[^\]]*\])?\s*\)\s+)?(\w+)(?:\[[^\]]*\])?\s*\(""".r
  private val typeRe =
    """^type\s+(\w+)(?:\[[^\]]*\])?\s+(struct|interface)\s*\{""".r
  private val varRe = """^(?:var|const)\s+(\w+)""".r
  private val pkgRe = """^package\s+(\w+)""".r

  /** Scan one file into entities. Pure Scala — runs inside flatMap. */
  def parseFile(path: String, content: String): Seq[Entity] = {
    val lines = content.split("\n", -1)
    val lineOffsets = lines.scanLeft(0)((acc, l) => acc + l.length + 1)
    val out = scala.collection.mutable.ArrayBuffer.empty[Entity]
    var pkg = ""
    var pendingDoc = scala.collection.mutable.ArrayBuffer.empty[String]

    // ONE whole-file pass producing code with string/rune/raw-string/
    // comment interiors blanked — braces inside `s := "{"` or a
    // comment must not count anywhere; raw strings and block comments
    // carry state across lines. Everything structural (spans, depth,
    // complexity) reads this view.
    val stripped: Array[String] = {
      var inRaw = false; var inBlock = false
      lines.map { line =>
        val sb = new StringBuilder
        var j = 0
        var inDq = false; var inSq = false; var lineDone = false
        while (j < line.length && !lineDone) {
          val ch = line(j)
          if (inBlock) {
            if (ch == '*' && j + 1 < line.length && line(j + 1) == '/') {
              inBlock = false; j += 1
            }
          } else if (inRaw) {
            if (ch == '`') inRaw = false
          } else if (inDq) {
            if (ch == '\\') j += 1
            else if (ch == '"') inDq = false
          } else if (inSq) {
            if (ch == '\\') j += 1
            else if (ch == '\'') inSq = false
          } else ch match {
            case '"' => inDq = true; sb.append(' ')
            case '\'' => inSq = true; sb.append(' ')
            case '`' => inRaw = true; sb.append(' ')
            case '/' if j + 1 < line.length && line(j + 1) == '/' =>
              lineDone = true
            case '/' if j + 1 < line.length && line(j + 1) == '*' =>
              inBlock = true; j += 1
            case c => sb.append(c)
          }
          j += 1
        }
        sb.toString
      }
    }

    // brace depth BEFORE each line, over the stripped view: top-level
    // declarations sit at depth 0; anything deeper is a body
    val depthBefore: Array[Int] = {
      val out = new Array[Int](lines.length)
      var d = 0
      var i = 0
      while (i < lines.length) {
        out(i) = d
        for (ch <- stripped(i)) {
          if (ch == '{') d += 1 else if (ch == '}') d -= 1
        }
        i += 1
      }
      out
    }

    def braceSpanEnd(startIdx: Int): Int = {
      // find the line where the brace opened on startIdx closes
      var depth = 0; var i = startIdx; var seen = false
      while (i < lines.length) {
        for (ch <- stripped(i)) {
          if (ch == '{') { depth += 1; seen = true }
          else if (ch == '}') depth -= 1
        }
        if (seen && depth <= 0) return i
        i += 1
      }
      lines.length - 1
    }

    def complexityOf(startIdx: Int, endIdx: Int): Int = {
      val branchRe = """\b(if|for|switch|case|select)\b|&&|\|\|""".r
      1 + (startIdx to endIdx)
        .map(i => branchRe.findAllIn(stripped(i)).size).sum
    }

    // docstring cleanup (`pkg/indexer/static/indexer.go:627-644`): strip
    // `//` from line comments; `/*`, `*/` and leading `*` continuation
    // markers from block-comment lines ONLY (a line comment whose text
    // starts with `*` or ends with `*/` must survive intact)
    def clean(l: String): String =
      if (l.startsWith("//")) l.replaceFirst("^//\\s?", "")
      else l.replaceFirst("^/\\*+\\s?", "")
        .replaceFirst("\\s*\\*+/\\s*$", "")
        .replaceFirst("^\\*\\s?", "")

    def doc(): String = {
      val d = pendingDoc.map(clean).mkString("\n").trim
      pendingDoc.clear(); d
    }

    var inBlockDoc = false

    // the declaration path, shared by whole lines and by the code
    // remainder after a same-line `*/` close; `startByte` is the byte
    // offset of `line` within the file
    def handleDecl(line: String, i: Int, startByte: Int): Unit = {
      // only TOP-LEVEL declarations are entities: a `var err error` or
      // nested `type` inside a function body is scope-local (the
      // reference's AST walk distinguishes decl context the same way).
      // The body line still detaches any pending doc comment.
      if (depthBefore(i) > 0) { pendingDoc.clear(); return }
      pkgRe.findFirstMatchIn(line).foreach(m => pkg = m.group(1))
      funcRe.findFirstMatchIn(line) match {
        case Some(m) =>
          val (recv, name) = (Option(m.group(1)).getOrElse(""), m.group(2))
          val end = braceSpanEnd(i)
          out += Entity(
            if (recv.nonEmpty) Labels.Method else Labels.Function,
            name, line.takeWhile(_ != '{').trim, path, i + 1, end + 1,
            startByte, math.min(lineOffsets(end + 1) - 1,
              content.length),
            recv.stripPrefix("*"), pkg, doc(),
            complexityOf(i, end), name.headOption.exists(_.isUpper))
        case None =>
          typeRe.findFirstMatchIn(line) match {
            case Some(m) =>
              val end = braceSpanEnd(i)
              out += Entity(
                if (m.group(2) == "interface") Labels.Interface
                else Labels.Class,
                m.group(1), line.takeWhile(_ != '{').trim, path, i + 1,
                end + 1, startByte,
                math.min(lineOffsets(end + 1) - 1, content.length),
                "", pkg, doc(), 1,
                m.group(1).headOption.exists(_.isUpper))
            case None =>
              varRe.findFirstMatchIn(line) match {
                case Some(m) if !line.contains("(") =>
                  out += Entity(Labels.Variable, m.group(1), line, path,
                    i + 1, i + 1, startByte,
                    lineOffsets(i + 1) - 1, "", pkg, doc(), 1,
                    m.group(1).headOption.exists(_.isUpper))
                // Go doc rule: a doc comment binds only when
                // immediately adjacent — any other line, INCLUDING a
                // blank one, detaches the pending comment
                case _ => pendingDoc.clear()
              }
          }
      }
    }

    // dispatch one line segment; recurses on the remainder after a
    // same-line `*/` close so `/* note */ func F() {` still reaches
    // the declaration path instead of vanishing into the comment
    def process(seg: String, i: Int, segByte: Int): Unit = {
      val line = seg.trim
      val pad = if (line.isEmpty) 0 else seg.indexOf(line)
      if (inBlockDoc) {
        // comment interior: never package detection
        val close = line.indexOf("*/")
        if (close < 0) pendingDoc += line
        else {
          inBlockDoc = false
          pendingDoc += line.substring(0, close + 2)
          val rest = line.substring(close + 2)
          if (rest.trim.nonEmpty) process(rest, i, segByte + pad + close + 2)
        }
      } else if (line.startsWith("/*")) {
        val close = line.indexOf("*/")
        if (close < 0) { pendingDoc += line; inBlockDoc = true }
        else {
          pendingDoc += line.substring(0, close + 2)
          val rest = line.substring(close + 2)
          if (rest.trim.nonEmpty) process(rest, i, segByte + pad + close + 2)
        }
      } else if (line.startsWith("//")) pendingDoc += line
      else handleDecl(line, i, segByte + pad)
    }

    lines.zipWithIndex.foreach { case (raw, i) =>
      process(raw, i, lineOffsets(i))
    }
    out.toSeq
  }

  /** SCIP-shaped symbol for an entity (Go descriptor formatting,
    * `symbol.go:62-90`: `pkg/Type#`, `pkg/Func().`, `pkg/field.`). */
  def symbolOf(service: String, e: Entity): String = {
    val desc = e.label match {
      case Labels.Class | Labels.Interface => s"${e.pkg}/${e.name}#"
      case Labels.Method => s"${e.pkg}/${e.receiver}#${e.name}()."
      case Labels.Function => s"${e.pkg}/${e.name}()."
      case _ => s"${e.pkg}/${e.name}."
    }
    s"scip-go go $service v0 $desc"
  }

  /** Distributed parse: files(path, content) → entity rows. */
  def entities(files: DataFrame): DataFrame = {
    val spark = files.sparkSession
    import spark.implicits._
    files.select(col("path").cast("string"), col("content").cast("string"))
      .as[(String, String)]
      .flatMap { case (p, c) => parseFile(p, c) }
      .toDF()
  }

  /** Full ingest: [[derive]] over the whole tree, then exactly two
    * snapshot writes. */
  def ingest(store: GraphStore, files: DataFrame, service: String): Unit = {
    val (nodes, edges, done) = derive(files, service)
    try { store.mergeNodes(nodes); store.mergeEdges(edges) }
    finally done()
  }

  /** Derive the (nodes, edges) frames for a file set: Service → Files →
    * entities, DEFINES symbols, Class CONTAINS Method (receiver match),
    * heuristic same-service CALLS edges (call-site token ⋈ known
    * function names — the reference's symbolMap lookup,
    * `indexer.go:647-685`, as a broadcast join). The batch itself is
    * the only linking context. */
  def derive(files: DataFrame, service: String)
      : (DataFrame, DataFrame, () => Unit) = {
    val spark = files.sparkSession
    import spark.implicits._
    val ents = entities(files).cache()

    val svcNode = Seq((Labels.Service, service)).toDF("label", "name")
    val fileNodes = files.select(lit(Labels.File).as("label"),
      col("path"), element_at(split(col("path"), "/"), -1).as("name"),
      length(col("content")).cast("int").as("size"),
      (size(split(col("content"), "\n")) - 0).as("lineCount"),
      sha2(col("content"), 256).as("hash"), col("content"))
    val modNodes = ents.select(lit(Labels.Module).as("label"),
      col("pkg").as("name"), concat(lit(service), lit("/"), col("pkg"))
        .as("fqn")).distinct()
    val entNodes = ents.select(col("label"), col("name"),
      col("signature"), col("filePath"), col("startLine"), col("endLine"),
      col("startByte"), col("endByte"),
      (col("endLine") - col("startLine") + 1).as("linesOfCode"),
      col("docstring"), col("complexity"), col("isExported"),
      when(col("label").isin(Labels.Class, Labels.Interface),
        concat(col("pkg"), lit("."), col("name"))).as("fqn"))
    val symNodes = ents
      .filter(col("label").isin(Labels.Function, Labels.Method,
        Labels.Class, Labels.Interface))
      .as[Entity].map(e => (Labels.Symbol, symbolOf(service, e),
        e.name, e.label.toLowerCase))
      .toDF("label", "symbol", "displayName", "kind").distinct()

    val svcId = GraphStore.ensureNodeIds(svcNode).select(col("id").as("svcId"))
    val fileIds = GraphStore.ensureNodeIds(fileNodes)
      .select(col("id").as("fileId"), col("path"))
    val entIds = GraphStore.ensureNodeIds(entNodes).select(col("id"),
      col("label"), col("name"), col("signature"), col("filePath"))
    val symIds = GraphStore.ensureNodeIds(symNodes)
      .select(col("id").as("symId"), col("symbol"))

    val svcFiles = svcId.crossJoin(fileIds)
      .select(col("svcId").as("src"), col("fileId").as("dst"),
        lit(RelTypes.Contains).as("relType"))
    val fileEnts = entIds.join(fileIds,
        entIds("filePath") === fileIds("path"))
      .select(col("fileId").as("src"), col("id").as("dst"),
        lit(RelTypes.Contains).as("relType"))
    // Class CONTAINS Method via receiver type, scoped by package —
    // same-named structs in different packages must not both claim the
    // method
    val entPkgs = ents.select(col("label"), col("name"), col("signature"),
      col("filePath"), col("pkg"))
    val classes = entIds.filter(col("label") === Labels.Class)
      .join(entPkgs, Seq("label", "name", "signature", "filePath"))
      .select(col("id").as("clsId"), col("name").as("clsName"),
        col("pkg").as("clsPkg"))
    val methodRecv = ents.filter(col("label") === Labels.Method)
      .join(entIds.filter(col("label") === Labels.Method)
          .withColumnRenamed("id", "methId"),
        Seq("label", "name", "signature", "filePath"))
      .select(col("methId"), col("receiver"), col("pkg"))
    val clsMethods = methodRecv.join(broadcast(classes),
        methodRecv("receiver") === classes("clsName") &&
        methodRecv("pkg") === classes("clsPkg"))
      .select(col("clsId").as("src"), col("methId").as("dst"),
        lit(RelTypes.Contains).as("relType"))
    // DEFINES: entity → its symbol
    val defines = ents
      .filter(col("label").isin(Labels.Function, Labels.Method,
        Labels.Class, Labels.Interface))
      .as[Entity]
      .map(e => (e.label, e.name, e.signature, e.filePath,
        symbolOf(service, e)))
      .toDF("label", "name", "signature", "filePath", "symbol")
      .join(entIds, Seq("label", "name", "signature", "filePath"))
      .join(symIds, Seq("symbol"))
      .select(col("id").as("src"), col("symId").as("dst"),
        lit(RelTypes.Defines).as("relType"), lit(true).as("isExported"))
      .distinct()
    // heuristic CALLS: function-name tokens in a body ⋈ known functions
    val funcs = entIds.filter(col("label").isin(Labels.Function,
        Labels.Method))
      .select(col("id").as("calleeId"), col("name").as("calleeName"))
      .distinct()
    val bodies = ents.filter(col("label").isin(Labels.Function,
        Labels.Method))
      .join(entIds, Seq("label", "name", "signature", "filePath"))
      .join(files.select(col("path"), col("content")),
        col("filePath") === col("path"))
      .select(col("id").as("callerId"), col("name").as("callerName"),
        expr("substring(content, startByte + 1, endByte - startByte)")
          .as("body"))
    val calls = bodies
      .select(col("callerId"), col("callerName"),
        explode(expr("regexp_extract_all(body, '(\\\\w+)\\\\s*\\\\(', 1)"))
          .as("calleeName"))
      .filter(col("calleeName") =!= col("callerName"))
      .join(broadcast(funcs), Seq("calleeName"))
      .filter(col("callerId") =!= col("calleeId"))
      .select(col("callerId").as("src"), col("calleeId").as("dst"),
        lit(RelTypes.Calls).as("relType"))
      .distinct()

    val nodes = GraphStore.unionNodeFamilies(
      Seq(svcNode, fileNodes, modNodes, entNodes, symNodes))
    val edges = GraphStore.unionEdgeFamilies(
      Seq(svcFiles, fileEnts, clsMethods, defines, calls))
    // the returned frames are LAZY over the cached ents — the caller
    // invokes the cleanup thunk after materializing both
    (nodes, edges, () => { ents.unpersist(); () })
  }
}
