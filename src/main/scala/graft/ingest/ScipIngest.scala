package graft.ingest

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.model.Model.{Labels, RelTypes}
import graft.store.GraphStore

/** SCIP-occurrence ingest frontend — the Spark-native re-expression of the
  * reference's SCIP indexer (`pkg/indexer/static/scip_parser.go`,
  * `scip_indexer.go`). Input is a `scip.Index` — either real protobuf
  * `.scip` bytes (decoded by [[ScipProto]]) or its JSON rendering
  * (documents[] with occurrences, externalSymbols[]).
  *
  * The reference's two sequential passes with one Bolt MERGE per entity
  * (`scip_indexer.go:174-229`) collapse into rows composed on the
  * driver, which holds the index anyway, and two MERGE writes of one
  * local batch each.
  */
object ScipIngest {

  case class ScipOccurrence(symbol: String, range: Seq[Int],
      symbolRoles: Int)
  case class ScipDocument(relativePath: String,
      occurrences: Seq[ScipOccurrence])
  case class ScipExternalSymbol(symbol: String, kind: String,
      documentation: String)
  case class ScipIndex(documents: Seq[ScipDocument],
      externalSymbols: Seq[ScipExternalSymbol])

  /** SCIP range decode (`scip_parser.go:254-264`): 4 elements =
    * [startLine, startCol, endLine, endCol]; 3 elements =
    * [line, startCol, endCol] (same-line). Lines/cols are 0-based. */
  def decodeRange(range: Seq[Int]): (Int, Int, Int, Int) = range match {
    case Seq(sl, sc, el, ec) => (sl, sc, el, ec)
    case Seq(l, sc, ec) => (l, sc, l, ec)
    case _ => (0, 0, 0, 0)
  }

  /** Language from file extension (`scip_parser.go:266-277`). */
  def languageOf(path: String): String = {
    val ext = path.split('.').lastOption.getOrElse("").toLowerCase
    ext match {
      case "go" => "go"; case "scala" => "scala"; case "java" => "java"
      case "py" => "python"; case "ts" => "typescript"
      case "js" => "javascript"; case "rs" => "rust"; case "rb" => "ruby"
      case _ => "unknown"
    }
  }

  import org.apache.spark.sql.Column

  /** Column form of the 5-field SCIP symbol parse
    * (`pkg/models/symbol.go:25-38`, SplitN(symbol," ",5)): struct of
    * (scheme, manager, name, version, descriptor). get() (0-based, null
    * out of bounds) instead of element_at: ANSI mode would throw on
    * symbols with fewer than 5 fields (SCIP locals like "local 0"). */
  def parseSymbolCol(symbol: Column): Column = {
    val parts = split(symbol, " ", 5)
    struct(
      get(parts, lit(0)).as("scheme"),
      get(parts, lit(1)).as("manager"),
      get(parts, lit(2)).as("name"),
      get(parts, lit(3)).as("version"),
      get(parts, lit(4)).as("descriptor"))
  }

  /** Column form of symbol-kind inference from descriptor shape
    * (`scip_parser.go:208-221`): `#`→class, `().`→method, `.`→term,
    * `/`→namespace. */
  def kindCol(descriptor: Column): Column =
    when(descriptor.endsWith("#"), "class")
      .when(descriptor.endsWith("()."), "method")
      .when(descriptor.endsWith("."), "term")
      .when(descriptor.endsWith("/"), "namespace")
      .otherwise("unknown")

  /** Column form of display-name extraction: descriptor's last `/`
    * segment minus SCIP suffix punctuation (`scip_parser.go:223-246`). */
  def displayNameCol(descriptor: Column): Column =
    regexp_replace(element_at(split(descriptor, "/"), -1),
      "(\\(\\)\\.|#|\\.)$", "")

  /** Byte offset of (line, col) in content — `scip_indexer.go:382-409`:
    * sum of line lengths (+1 newline) before `line`, plus `col`. */
  def byteOffset(content: String, line: Int, col: Int): Int = {
    val lines = content.split("\n", -1)
    val before = lines.take(line).map(_.length + 1).sum
    before + math.min(col, lines.lift(line).map(_.length).getOrElse(0))
  }

  /** Decode one binary `.scip` file and run the standard two-pass graph
    * build — the protobuf twin of the JSON entry point (the reference's
    * `ParseFile`, `scip_parser.go:25-38`, feeding its indexer). */
  def ingestScipFile(store: GraphStore, spark: SparkSession, path: String,
      serviceName: String,
      fileContents: Map[String, String] = Map.empty): Unit = {
    val bytes = graft.sources.Sources.binaryFiles(spark, path)
      .select(col("content")).collect()(0).getAs[Array[Byte]](0)
    ingest(store, spark, ScipProto.decodeIndex(bytes), serviceName,
      fileContents)
  }

  /** Build the graph of a parsed index (+ optional file contents for
    * byte-offset backfill) on the driver, which already holds the
    * index, and MERGE it as one node batch and one edge batch.
    *
    * Pass 1 gives Service, File and Symbol nodes (occurrence symbols ∪
    * external symbols, the latter carrying kind and documentation) with
    * Service CONTAINS File, File DEFINES Symbol and File CONTAINS
    * Symbol; pass 2 gives one Reference node per non-definition
    * occurrence with Reference REFERENCES Symbol and File CONTAINS
    * Reference. Duplicates follow the index's order: a symbol defined
    * twice in one file keeps the FIRST definition's line and column on
    * its DEFINES edge, and two occurrences at one (path, line, column)
    * are one Reference node with the first one's span and an edge to
    * each distinct symbol. */
  def ingest(store: GraphStore, spark: SparkSession, index: ScipIndex,
      serviceName: String,
      fileContents: Map[String, String] = Map.empty): Unit = {
    import GraphStore.{edgeRow, nodeRow}
    val docs = index.documents
    val occs = for (d <- docs; o <- d.occurrences)
      yield (d.relativePath, o.symbol, decodeRange(o.range),
        (o.symbolRoles & 1) == 1) // scip SymbolRole_Definition bit

    // --- pass 1: Service, Files, Symbols, CONTAINS/DEFINES ------------
    val svc = nodeRow("label" -> Labels.Service, "name" -> serviceName)
    val files = docs.map(d => nodeRow("label" -> Labels.File,
      "path" -> d.relativePath, "name" -> d.relativePath.split('/').last,
      "language" -> languageOf(d.relativePath)))
    val fileId = files.map(r => r.getString(fieldIdx("path")) -> r.getLong(0))
      .toMap
    // per symbol the greatest kind and documentation of its external
    // entries (Spark's max: binary UTF-8 order); occurrence-only
    // symbols have neither
    def maxOf(xs: Seq[String]): String = xs.filter(_ != null)
      .maxByOption(UTF8String.fromString).orNull
    val ext = index.externalSymbols.groupBy(_.symbol)
    val rawSyms = (occs.map(_._2) ++ index.externalSymbols.map(_.symbol))
      .distinct.map { sym =>
        val es = ext.getOrElse(sym, Nil)
        Row(sym, maxOf(es.map(e => Option(e.kind).getOrElse(""))),
          maxOf(es.map(_.documentation)))
      }
    // kind and display name through their Column forms over a local
    // relation: the optimizer folds the projection into the relation,
    // so collecting it runs no Spark job
    val syms = spark.createDataFrame(java.util.Arrays.asList(rawSyms: _*),
        StructType(Seq("symbol", "kindRaw", "documentation")
          .map(StructField(_, StringType))))
      .select(col("symbol"), col("documentation"),
        coalesce(nullif(col("kindRaw"), lit("")),
          parseSymbolCol(col("symbol")).getField("descriptor"),
          col("symbol")).as("descriptor"))
      .select(col("symbol"), col("documentation"),
        kindCol(col("descriptor")), displayNameCol(col("descriptor")))
      .collect().toSeq
      .map(r => nodeRow("label" -> Labels.Symbol, "symbol" -> r.getString(0),
        "documentation" -> r.getString(1), "kind" -> r.getString(2),
        "displayName" -> r.getString(3)))
    val symId = syms.map(r => r.getString(fieldIdx("symbol")) -> r.getLong(0))
      .toMap
    val svcContains = files.map(f =>
      edgeRow(svc.getLong(0), f.getLong(0), RelTypes.Contains))
    val defs = occs.filter(_._4)
    val fileDefines = defs.map { case (path, sym, (sl, sc, _, _), _) =>
      edgeRow(fileId(path), symId(sym), RelTypes.Defines,
        "isDefinition" -> true, "line" -> sl, "column" -> sc)
    }
    val fileContainsSym = defs.map { case (path, sym, _, _) =>
      edgeRow(fileId(path), symId(sym), RelTypes.Contains)
    }
    // --- pass 2: Reference nodes + REFERENCES edges -------------------
    val refs = occs.filterNot(_._4).map {
      case (path, sym, (sl, sc, el, ec), _) =>
        val span = fileContents.get(path).map(c =>
          (byteOffset(c, sl, sc), byteOffset(c, el, ec)))
        val ref = nodeRow("label" -> Labels.Reference, "filePath" -> path,
          "startLine" -> sl, "startColumn" -> sc, "endLine" -> el,
          "endColumn" -> ec, "startByte" -> span.map(b => Int.box(b._1)).orNull,
          "endByte" -> span.map(b => Int.box(b._2)).orNull)
        (ref, edgeRow(ref.getLong(0), symId(sym), RelTypes.References,
          "line" -> sl, "column" -> sc),
          edgeRow(fileId(path), ref.getLong(0), RelTypes.Contains))
    }
    store.mergeRows("nodes", Seq(svc) ++ files ++ syms ++ refs.map(_._1))
    store.mergeRows("edges", svcContains ++ fileDefines ++ fileContainsSym ++
      refs.map(_._2) ++ refs.map(_._3))
  }

  private val fieldIdx = graft.model.Model.nodeSchema.fieldIndex _
}
