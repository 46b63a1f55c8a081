package graft.model

import org.apache.spark.sql.types._

/** Property-graph data model — the Spark-native mapping of the reference's
  * labeled property graph (SURVEY §1):
  *
  *   - node labels: reference `pkg/models/node.go:10-25` (14 labels) plus
  *     the ad-hoc `Reference` label (`scip_indexer.go:332-341`);
  *   - relationship types: `pkg/models/relationship.go:6-31` (13 types);
  *   - per-label merge keys: `pkg/schema/schema.go:38-79` and the indexer
  *     call sites (see `MergeKeys`).
  *
  * Two columnar tables (Parquet, partitioned by `label` / `relType`) with
  * typed columns for the declared schema and a `properties` map overflow
  * bag for open attributes. Node identity is a deterministic hash of
  * (label, merge-key) so repeated ingests upsert instead of duplicating —
  * the Spark analog of Neo4j MERGE-by-key (`client.go:135-179`).
  */
object Model {

  object Labels {
    val Service = "Service"; val File = "File"; val Module = "Module"
    val Class = "Class"; val Interface = "Interface"; val Function = "Function"
    val Method = "Method"; val Variable = "Variable"; val Parameter = "Parameter"
    val Symbol = "Symbol"; val APIRoute = "APIRoute"; val Comment = "Comment"
    val Document = "Document"; val Feature = "Feature"; val Reference = "Reference"
    val all: Seq[String] = Seq(Service, File, Module, Class, Interface,
      Function, Method, Variable, Parameter, Symbol, APIRoute, Comment,
      Document, Feature, Reference)
  }

  object RelTypes {
    val Contains = "CONTAINS"; val Defines = "DEFINES"
    val References = "REFERENCES"; val Calls = "CALLS"
    val FlowsTo = "FLOWS_TO"; val NextExecution = "NEXT_EXECUTION"
    val InheritsFrom = "INHERITS_FROM"; val Implements = "IMPLEMENTS"
    val ExposesApi = "EXPOSES_API"; val CallsApi = "CALLS_API"
    val DependsOn = "DEPENDS_ON"; val Describes = "DESCRIBES"
    val Mentions = "MENTIONS"
    val all: Seq[String] = Seq(Contains, Defines, References, Calls, FlowsTo,
      NextExecution, InheritsFrom, Implements, ExposesApi, CallsApi,
      DependsOn, Describes, Mentions)
  }

  /** Merge keys per label — reference parity (FIXTURES.md §2):
    * Symbol.symbol (`schema.go:41-46`), Service.name, File.path,
    * Class/Interface/Module.fqn (`schema.go:47-79`),
    * Function/Method {signature, filePath} (`indexer.go:273-274`),
    * Variable {name, filePath} (`indexer.go:453-454`),
    * Parameter {name, filePath, index} (`indexer.go:489-490`),
    * Document.sourceUrl, Feature.name (`documents/indexer.go:107-123`).
    */
  val MergeKeys: Map[String, Seq[String]] = Map(
    Labels.Symbol -> Seq("symbol"),
    Labels.Service -> Seq("name"),
    Labels.File -> Seq("path"),
    Labels.Class -> Seq("fqn"),
    Labels.Interface -> Seq("fqn"),
    Labels.Module -> Seq("fqn"),
    Labels.Function -> Seq("signature", "filePath"),
    Labels.Method -> Seq("signature", "filePath"),
    Labels.Variable -> Seq("name", "filePath"),
    Labels.Parameter -> Seq("name", "filePath", "index"),
    Labels.Document -> Seq("sourceUrl"),
    Labels.Feature -> Seq("name"),
    Labels.APIRoute -> Seq("path", "method"),
    Labels.Comment -> Seq("filePath", "startLine"),
    Labels.Reference -> Seq("filePath", "startLine", "startColumn"))

  /** Canonical nodes schema (typed columns + overflow map). */
  val nodeSchema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("label", StringType, nullable = false),
    StructField("name", StringType),
    StructField("fqn", StringType),
    StructField("path", StringType),
    StructField("signature", StringType),
    StructField("symbol", StringType),
    StructField("kind", StringType),
    StructField("displayName", StringType),
    StructField("filePath", StringType),
    StructField("startLine", IntegerType),
    StructField("endLine", IntegerType),
    StructField("startColumn", IntegerType),
    StructField("endColumn", IntegerType),
    StructField("startByte", IntegerType),
    StructField("endByte", IntegerType),
    StructField("linesOfCode", IntegerType),
    StructField("returnType", StringType),
    StructField("accessModifier", StringType),
    StructField("scope", StringType),
    StructField("type", StringType),
    StructField("status", StringType),
    StructField("priority", StringType),
    StructField("title", StringType),
    StructField("sourceUrl", StringType),
    StructField("content", StringType),
    StructField("docstring", StringType),
    StructField("documentation", StringType),
    StructField("language", StringType),
    StructField("isExported", BooleanType),
    StructField("isAsync", BooleanType),
    StructField("isStatic", BooleanType),
    StructField("isAbstract", BooleanType),
    StructField("isInterface", BooleanType),
    StructField("isConstant", BooleanType),
    StructField("isDeprecated", BooleanType),
    StructField("complexity", IntegerType),
    StructField("index", IntegerType),
    StructField("size", IntegerType),
    StructField("lineCount", IntegerType),
    StructField("tags", ArrayType(StringType)),
    StructField("hash", StringType),
    StructField("properties", MapType(StringType, StringType)),
    StructField("updatedAt", TimestampType)))

  /** Canonical edges schema. */
  val edgeSchema: StructType = StructType(Seq(
    StructField("src", LongType, nullable = false),
    StructField("dst", LongType, nullable = false),
    StructField("relType", StringType, nullable = false),
    StructField("isExported", BooleanType),
    StructField("isDefinition", BooleanType),
    StructField("isDynamic", BooleanType),
    StructField("isRecursive", BooleanType),
    StructField("isConditional", BooleanType),
    StructField("isDirect", BooleanType),
    StructField("line", IntegerType),
    StructField("column", IntegerType),
    StructField("order", IntegerType),
    StructField("timeout", IntegerType),
    StructField("retryCount", IntegerType),
    StructField("flowType", StringType),
    StructField("condition", StringType),
    StructField("context", StringType),
    StructField("version", StringType),
    StructField("path", ArrayType(StringType)),
    StructField("properties", MapType(StringType, StringType)),
    StructField("updatedAt", TimestampType)))

  /** SCIP symbol: 5 space-separated fields `scheme manager name version
    * descriptor` — reference `pkg/models/symbol.go:11-38` (SplitN(_, " ", 5)).
    */
  case class ScipSymbol(scheme: String, manager: String, name: String,
      version: String, descriptor: String) {
    def format: String = s"$scheme $manager $name $version $descriptor"
  }

  object ScipSymbol {
    /** Parse with the reference's SplitN(s, " ", 5) semantics: descriptor
      * keeps any further spaces. Returns None for <5 fields. */
    def parse(s: String): Option[ScipSymbol] = {
      val parts = s.split(" ", 5)
      if (parts.length == 5)
        Some(ScipSymbol(parts(0), parts(1), parts(2), parts(3), parts(4)))
      else None
    }
  }
}
