package graft.ingest

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Model.{Labels, RelTypes}
import graft.store.GraphStore

/** SCIP-occurrence ingest frontend — the Spark-native re-expression of the
  * reference's SCIP indexer (`pkg/indexer/static/scip_parser.go`,
  * `scip_indexer.go`). Input is a `scip.Index` — either real protobuf
  * `.scip` bytes (decoded by [[ScipProto]]; distributed boundary in
  * [[occurrencesFromBinary]], SURVEY S11) or its JSON rendering
  * (documents[] with occurrences, externalSymbols[]).
  *
  * The reference's two sequential passes with one Bolt MERGE per entity
  * (`scip_indexer.go:174-229`) collapse into two DataFrame MERGE writes.
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
    * (scheme, manager, name, version, descriptor). */
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

  /** S11 — distributed decode boundary for real `.scip` protobuf files:
    * binaryFile scan → per-partition [[ScipProto.decodeIndex]] → one
    * occurrence row per (file, occurrence), same schema as
    * [[occurrences]]. For multi-index directories this is the shape
    * that scales: bytes never leave the executor that read them. */
  def occurrencesFromBinary(spark: SparkSession, glob: String): DataFrame = {
    import spark.implicits._
    graft.sources.Sources.binaryFiles(spark, glob)
      .select(col("content")).as[Array[Byte]]
      .mapPartitions(_.flatMap { bytes =>
        val index = ScipProto.decodeIndex(bytes)
        index.documents.iterator.flatMap { d =>
          d.occurrences.iterator.map { o =>
            val (sl, sc, el, ec) = decodeRange(o.range)
            (d.relativePath, o.symbol, sl, sc, el, ec,
              (o.symbolRoles & 1) == 1)
          }
        }
      })
      .toDF("filePath", "symbol", "startLine", "startColumn", "endLine",
        "endColumn", "isDefinition")
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

  /** Flatten an index into one occurrence row per (file, occurrence). */
  def occurrences(spark: SparkSession,
      index: ScipIndex): DataFrame = {
    import spark.implicits._
    index.documents.flatMap { d =>
      d.occurrences.map { o =>
        val (sl, sc, el, ec) = decodeRange(o.range)
        (d.relativePath, o.symbol, sl, sc, el, ec,
          (o.symbolRoles & 1) == 1) // scip SymbolRole_Definition bit
      }
    }.toDF("filePath", "symbol", "startLine", "startColumn", "endLine",
      "endColumn", "isDefinition")
  }

  /** Two-pass graph build from a parsed index (+ optional file contents
    * for byte-offset backfill). */
  def ingest(store: GraphStore, spark: SparkSession, index: ScipIndex,
      serviceName: String,
      fileContents: Map[String, String] = Map.empty): Unit = {
    import spark.implicits._
    val occ = occurrences(spark, index).cache()

    // --- pass 1: Service, Files, Symbols, CONTAINS/DEFINES ------------
    val svcNode = Seq((Labels.Service, serviceName))
      .toDF("label", "name")
    val fileNodes = index.documents.map(d =>
        (Labels.File, d.relativePath, d.relativePath.split('/').last,
          languageOf(d.relativePath)))
      .toDF("label", "path", "name", "language")

    val extSyms = index.externalSymbols.map(s =>
        (s.symbol, Option(s.kind).getOrElse(""), s.documentation))
      .toDF("symbol", "kind", "documentation")
    val occSyms = occ.select(col("symbol")).distinct()
      .withColumn("kind", lit(null).cast("string"))
      .withColumn("documentation", lit(null).cast("string"))
    val symNodes = extSyms.unionByName(occSyms)
      .groupBy(col("symbol"))
      .agg(max(col("kind")).as("kindRaw"),
        max(col("documentation")).as("documentation"))
      .select(lit(Labels.Symbol).as("label"), col("symbol"),
        // get() (0-based, null on out-of-bounds) instead of element_at:
        // ANSI mode would throw on symbols with fewer than 5 fields
        // (e.g. SCIP local symbols like "local 0")
        coalesce(nullif(col("kindRaw"), lit("")),
          get(split(col("symbol"), " ", 5), lit(4)), col("symbol"))
          .as("descriptor"),
        col("documentation"))
      .withColumn("kind", kindCol(col("descriptor")))
      .withColumn("displayName", displayNameCol(col("descriptor")))
      .drop("descriptor")

    val svcId = GraphStore.ensureNodeIds(svcNode)
      .select(col("id").as("svcId"))
    val fileIds = GraphStore.ensureNodeIds(fileNodes)
      .select(col("id").as("fileId"), col("path"))
    val symIds = GraphStore.ensureNodeIds(symNodes)
      .select(col("id").as("symId"), col("symbol"))

    val svcContains = svcId.crossJoin(fileIds)
      .select(col("svcId").as("src"), col("fileId").as("dst"),
        lit(RelTypes.Contains).as("relType"))
    val defs = occ.filter(col("isDefinition"))
      .join(fileIds, occ("filePath") === fileIds("path"))
      .join(symIds, Seq("symbol"))
    val fileDefines = defs.select(col("fileId").as("src"),
        col("symId").as("dst"), lit(RelTypes.Defines).as("relType"),
        lit(true).as("isDefinition"), col("startLine").as("line"),
        col("startColumn").as("column"))
      .dropDuplicates("src", "dst")
    val fileContainsSym = defs.select(col("fileId").as("src"),
        col("symId").as("dst"), lit(RelTypes.Contains).as("relType"))
      .dropDuplicates("src", "dst")
    // --- pass 2: Reference nodes + REFERENCES edges -------------------
    val contents = fileContents.toSeq.toDF("cPath", "content")
    val refs = occ.filter(!col("isDefinition"))
      .join(contents, occ("filePath") === col("cPath"), "left_outer")
      .as[(String, String, Int, Int, Int, Int, Boolean, String, String)]
      .map { case (path, symbol, sl, sc, el, ec, _, _, content) =>
        val span = Option(content).map(c =>
          (byteOffset(c, sl, sc), byteOffset(c, el, ec)))
        (path, symbol, sl, sc, el, ec, span.map(_._1), span.map(_._2))
      }
      .toDF("filePath", "symbol", "startLine", "startColumn", "endLine",
        "endColumn", "startByte", "endByte")
      .cache()

    val refNodes = refs.select(lit(Labels.Reference).as("label"),
      col("filePath"), col("startLine"), col("startColumn"),
      col("endLine"), col("endColumn"), col("startByte"), col("endByte"))
    val refIds = GraphStore.ensureNodeIds(refNodes)
      .select(col("id").as("refId"), col("filePath"), col("startLine"),
        col("startColumn"))

    val refEdges = refs
      .join(refIds, Seq("filePath", "startLine", "startColumn"))
      .join(symIds, Seq("symbol"))
      .select(col("refId").as("src"), col("symId").as("dst"),
        lit(RelTypes.References).as("relType"),
        col("startLine").as("line"), col("startColumn").as("column"))
      .dropDuplicates("src", "dst")
    val fileContainsRef = refs
      .join(refIds, Seq("filePath", "startLine", "startColumn"))
      .join(fileIds, refs("filePath") === fileIds("path"))
      .select(col("fileId").as("src"), col("refId").as("dst"),
        lit(RelTypes.Contains).as("relType"))
      .dropDuplicates("src", "dst")
    // exactly two snapshot writes for the whole index
    store.mergeNodes(GraphStore.unionNodeFamilies(
      Seq(svcNode, fileNodes, symNodes, refNodes)))
    store.mergeEdges(GraphStore.unionEdgeFamilies(
      Seq(svcContains, fileDefines, fileContainsSym, refEdges,
        fileContainsRef)))
    occ.unpersist(); refs.unpersist()
  }
}
