package graft.ingest

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col

import graft.model.Model.{Labels, RelTypes}
import graft.store.GraphStore

/** Go source frontend (SURVEY S9) — the Spark-native counterpart of the
  * reference's AST indexer (`pkg/indexer/static/indexer.go`): per-file
  * parse and row composition on the driver ([[compose]]), then two
  * MERGE writes of one local batch each (vs one Bolt round-trip per
  * entity, `indexer.go:100-161`).
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

  /** Scan one file into entities. Pure Scala, no Spark. */
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

  /** Functions (by name) and classes (by (package, name)) outside a
    * composed file set that its call sites and methods may link to,
    * each with its node id. */
  case class Linking(funcs: Seq[(String, Long)],
      classes: Seq[((String, String), Long)])

  private val callSiteRe = """(\w+)\s*\(""".r

  /** The Go graph of a file set (path, content), composed on the driver
    * as canonical, key-unique (nodes, edges) rows: Service, File,
    * Module, entity and Symbol nodes; Service CONTAINS File, File
    * CONTAINS entity, Class CONTAINS Method (receiver type in the same
    * package — same-named structs in different packages must not both
    * claim the method), entity DEFINES Symbol, and heuristic CALLS
    * edges (call-site tokens of a body ⋈ function names, the
    * reference's symbolMap lookup, `indexer.go:647-685`).
    *
    * `link` receives the callee names and method receivers the set
    * uses and returns their matches outside the set; a full ingest
    * links within the set only. Duplicate identities keep their first
    * row in file order ([[GraphStore.firstPerKey]]): two `func init()`
    * in one file are one node with the first one's span and the CALLS
    * edges of both bodies. */
  def compose(files: Seq[(String, String)], service: String,
      link: (Seq[String], Seq[String]) => Linking =
        (_, _) => Linking(Nil, Nil)): (Seq[Row], Seq[Row]) = {
    import GraphStore.{edgeRow, firstPerKey, nodeRow}
    val ents = files.flatMap { case (p, c) => parseFile(p, c).map((_, c)) }
    val isFunc = Set(Labels.Function, Labels.Method)
    val hasSym = isFunc ++ Set(Labels.Class, Labels.Interface)
    // call-site tokens per caller, over its byte-span body
    val callSites = ents.collect { case (e, c) if isFunc(e.label) =>
      (e, callSiteRe.findAllMatchIn(c.substring(e.startByte, e.endByte))
        .map(_.group(1)).filter(_ != e.name).toSeq.distinct)
    }
    val linking = link(callSites.flatMap(_._2).distinct,
      ents.map(_._1).filter(_.label == Labels.Method).map(_.receiver)
        .distinct)

    def sha256(s: String): String =
      java.security.MessageDigest.getInstance("SHA-256")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val svc = nodeRow("label" -> Labels.Service, "name" -> service)
    val fileNs = files.map { case (p, c) =>
      nodeRow("label" -> Labels.File, "name" -> p.split('/').last,
        "path" -> p, "size" -> c.codePointCount(0, c.length),
        "lineCount" -> c.split("\n", -1).length, "hash" -> sha256(c),
        "content" -> c)
    }
    val modNs = ents.map(_._1.pkg).distinct.map(pkg =>
      nodeRow("label" -> Labels.Module, "name" -> pkg,
        "fqn" -> s"$service/$pkg"))
    val entNs = ents.map { case (e, _) =>
      e -> nodeRow("label" -> e.label, "name" -> e.name,
        "signature" -> e.signature, "filePath" -> e.filePath,
        "startLine" -> e.startLine, "endLine" -> e.endLine,
        "startByte" -> e.startByte, "endByte" -> e.endByte,
        "linesOfCode" -> (e.endLine - e.startLine + 1),
        "docstring" -> e.docstring, "complexity" -> e.complexity,
        "isExported" -> e.isExported,
        "fqn" -> (if (e.label == Labels.Class ||
          e.label == Labels.Interface) s"${e.pkg}.${e.name}" else null))
    }
    val symEnts = ents.map(_._1).filter(e => hasSym(e.label))
    val symNs = symEnts.map(e => nodeRow("label" -> Labels.Symbol,
      "symbol" -> symbolOf(service, e), "displayName" -> e.name,
      "kind" -> e.label.toLowerCase))
    val nodes = firstPerKey("nodes",
      Seq(svc) ++ fileNs ++ modNs ++ entNs.map(_._2) ++ symNs)

    // every key of one identity derives the same id, so these maps are
    // exact whichever duplicate row they saw
    val pathIdx = graft.model.Model.nodeSchema.fieldIndex("path")
    val fileId = fileNs.map(r => r.getString(pathIdx) -> r.getLong(0)).toMap
    val entId = entNs.map { case (e, r) => e -> r.getLong(0) }.toMap
    val symId = symEnts.map(symbolOf(service, _)).zip(symNs.map(_.getLong(0)))
      .toMap
    def byKey[K](kvs: Seq[(K, Long)]): Map[K, Seq[Long]] =
      kvs.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).distinct }
    val classIds = byKey(linking.classes ++ ents.map(_._1)
      .filter(_.label == Labels.Class).map(e => ((e.pkg, e.name), entId(e))))
    val funcIds = byKey(linking.funcs ++ ents.map(_._1)
      .filter(e => isFunc(e.label)).map(e => (e.name, entId(e))))

    val svcFiles = fileNs.map(f =>
      edgeRow(svc.getLong(0), f.getLong(0), RelTypes.Contains))
    val fileEnts = ents.map { case (e, _) =>
      edgeRow(fileId(e.filePath), entId(e), RelTypes.Contains)
    }
    val clsMethods = ents.map(_._1).filter(_.label == Labels.Method)
      .flatMap(m => classIds.getOrElse((m.pkg, m.receiver), Nil)
        .map(edgeRow(_, entId(m), RelTypes.Contains)))
    val defines = symEnts.map(e => edgeRow(entId(e),
      symId(symbolOf(service, e)), RelTypes.Defines, "isExported" -> true))
    val calls = callSites.flatMap { case (caller, callees) =>
      val cid = entId(caller)
      callees.flatMap(funcIds.getOrElse(_, Nil)).filter(_ != cid)
        .map(edgeRow(cid, _, RelTypes.Calls))
    }
    (nodes, firstPerKey("edges",
      svcFiles ++ fileEnts ++ clsMethods ++ defines ++ calls))
  }

  /** Full ingest: [[compose]] over the whole tree, then one MERGE of
    * each batch. The driver holds the tree's text, as
    * [[IncrementalIndex.reindex]] holds each changed file's, and the
    * rows composed from it: a repository's source, not a corpus. */
  def ingest(store: GraphStore, files: DataFrame, service: String): Unit = {
    val (nodes, edges) = compose(files
      .select(col("path").cast("string"), col("content").cast("string"))
      .collect().toSeq.map(r => (r.getString(0), r.getString(1))), service)
    store.mergeRows("nodes", nodes)
    store.mergeRows("edges", edges)
  }
}
