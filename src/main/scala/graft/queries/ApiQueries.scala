package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Driver-gated entries for the MCP/CLI API surface (SURVEY §2 J7 +
  * the analyze-function flow, reference `mcp-server/main.go:423-519`).
  *
  * These run the REAL `CodeGraph` methods — not re-derived DataFrame
  * shapes — over a deterministic synthetic code graph built from the
  * part table, so the DuckDB oracle can reconstruct the same graph:
  *
  *   nodes: one Function per part key (name `fn_<k>`, file
  *          `src/pkg<k mod 10>/file.go`, startLine `k mod 1000`)
  *   CALLS edges: `fn_k` calls `fn_(k*7+3 mod 50)` — a hub graph where
  *          low-id functions have MANY callers, so the reference's
  *          LIMIT 10 (`main.go:479-506`) actually binds and the
  *          deterministic (name, id) tie-break is exercised.
  *
  * Scale shape: callersOf/calleesOf are one equi-join keyed on the
  * target id (frontier side is a handful of rows → broadcast) followed
  * by a TakeOrderedAndProject — no full sort.
  */
object ApiQueries {

  private def graphNodes(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir).select(
      col("p_partkey").as("id"),
      lit("Function").as("label"),
      concat(lit("fn_"), col("p_partkey")).as("name"),
      concat(lit("src/pkg"), col("p_partkey") % 10, lit("/file.go"))
        .as("filePath"),
      (col("p_partkey") % 1000).cast("int").as("startLine"),
      concat(lit("func fn_"), col("p_partkey"), lit("()")).as("signature"))

  private def callEdges(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir).select(
      col("p_partkey").as("src"),
      ((col("p_partkey") * 7 + 3) % 50).as("dst"),
      lit("CALLS").as("relType"))

  private val nodesSql =
    """SELECT p_partkey AS id, 'Function' AS label,
      |  'fn_' || CAST(p_partkey AS VARCHAR) AS name,
      |  'src/pkg' || CAST(p_partkey % 10 AS VARCHAR) || '/file.go'
      |    AS file_path,
      |  CAST(p_partkey % 1000 AS INT) AS start_line,
      |  'func fn_' || CAST(p_partkey AS VARCHAR) || '()' AS signature
      |FROM part""".stripMargin

  private val edgesSql =
    "SELECT p_partkey AS src, (p_partkey * 7 + 3) % 50 AS dst FROM part"

  private def cg(spark: SparkSession, dir: String): CodeGraph =
    new CodeGraph(graphNodes(spark, dir), callEdges(spark, dir))

  // -------------------------------------------------------------------
  // q101 — J7 callers/callees (`mcp-server/main.go:479-506`): both
  // directional edge joins with the reference's LIMIT 10, tagged and
  // unioned so one entry gates both directions.
  // -------------------------------------------------------------------
  def q101_callers_callees(spark: SparkSession, dir: String): DataFrame = {
    val g = cg(spark, dir)
    g.callersOf("fn_24", 10)
      .select(lit("caller").as("direction"),
        col("callerId").as("neighbor_id"), col("name"),
        col("filePath").as("file_path"))
      .unionByName(
        g.calleesOf("fn_24", 10)
          .select(lit("callee").as("direction"),
            col("calleeId").as("neighbor_id"), col("name"),
            col("filePath").as("file_path")))
      .orderBy(col("direction"), col("neighbor_id"))
  }

  val q101_sql: String =
    s"""WITH nodes AS ($nodesSql),
       |edges AS ($edgesSql),
       |callers AS (
       |  SELECT 'caller' AS direction, n.id AS neighbor_id, n.name,
       |         n.file_path
       |  FROM nodes t JOIN edges e ON e.dst = t.id
       |  JOIN nodes n ON n.id = e.src
       |  WHERE t.name = 'fn_24'
       |  ORDER BY n.name, n.id LIMIT 10),
       |callees AS (
       |  SELECT 'callee' AS direction, n.id AS neighbor_id, n.name,
       |         n.file_path
       |  FROM nodes s JOIN edges e ON e.src = s.id
       |  JOIN nodes n ON n.id = e.dst
       |  WHERE s.name = 'fn_24'
       |  ORDER BY n.name, n.id LIMIT 10)
       |SELECT direction, neighbor_id, name, file_path
       |FROM (SELECT * FROM callers UNION ALL SELECT * FROM callees)
       |ORDER BY direction, neighbor_id""".stripMargin

  // -------------------------------------------------------------------
  // q102 — the MCP analyze_function flow (`mcp-server/main.go:423-519`):
  // metadata + callers + callees in one tagged union, exactly the three
  // round-trips the reference's tool handler issues.
  // -------------------------------------------------------------------
  def q102_analyze_function(spark: SparkSession, dir: String): DataFrame =
    cg(spark, dir).analyzeFunction("fn_31", 10)
      .select(col("part"), col("name"), col("filePath").as("file_path"),
        col("startLine").as("start_line"), col("signature"))
      .orderBy(col("part"), col("name"))

  val q102_sql: String =
    s"""WITH nodes AS ($nodesSql),
       |edges AS ($edgesSql),
       |meta AS (
       |  SELECT 'metadata' AS part, name, file_path, start_line, signature
       |  FROM nodes WHERE name = 'fn_31'
       |  ORDER BY file_path, start_line LIMIT 1),
       |callers AS (
       |  SELECT 'caller' AS part, n.name, n.file_path,
       |         CAST(NULL AS INT) AS start_line,
       |         CAST(NULL AS VARCHAR) AS signature
       |  FROM nodes t JOIN edges e ON e.dst = t.id
       |  JOIN nodes n ON n.id = e.src
       |  WHERE t.name = 'fn_31'
       |  ORDER BY n.name, n.id LIMIT 10),
       |callees AS (
       |  SELECT 'callee' AS part, n.name, n.file_path,
       |         CAST(NULL AS INT) AS start_line,
       |         CAST(NULL AS VARCHAR) AS signature
       |  FROM nodes s JOIN edges e ON e.src = s.id
       |  JOIN nodes n ON n.id = e.dst
       |  WHERE s.name = 'fn_31'
       |  ORDER BY n.name, n.id LIMIT 10)
       |SELECT * FROM (
       |  SELECT * FROM meta
       |  UNION ALL SELECT * FROM callers
       |  UNION ALL SELECT * FROM callees)
       |ORDER BY part, name""".stripMargin

  // -------------------------------------------------------------------
  // q254 — INCREMENTAL CODE-GRAPH INDEXING end-to-end (the reference's
  // planned pipeline, rfc/001-code-intelligence-platform.md:76-80 /
  // research.md:280-323: edit detection → delta re-derivation → atomic
  // graph update). A deterministic Go corpus is generated from `part`
  // (one file per key, two functions each); version B edits every
  // k%7==0 file (FnA's call retargeted, FnB removed, FnC added). The
  // query runs the REAL pipeline: full ingest of version A, then
  // IncrementalIndex.reindex with version B — hash change detection,
  // GoFrontend re-derivation of ONLY the changed files, stale-node +
  // dangling-edge deletion, symbol GC — then a from-scratch ingest of
  // version B as the in-engine recompute control (the q97/q167
  // incremental-equals-recompute discipline: inc_vs_full_* must be 0).
  // The DuckDB oracle independently REPLAYS the full re-index
  // arithmetic from `part` (function survivorship, call-target
  // existence, md5 checksums over names), so a wrong incremental
  // result fails BOTH the in-engine control and the oracle.
  // -------------------------------------------------------------------
  private def goCorpus(spark: SparkSession, dir: String,
      changed: Boolean): DataFrame =
    Tables.part(spark, dir).filter(col("p_partkey") <= 2000)
      .select(col("p_partkey").as("k"))
      .withColumn("is_chg", (col("k") % 7 === 0) && lit(changed))
      .withColumn("path", concat(lit("svc/pkg"), col("k") % 10,
        lit("/f"), col("k"), lit(".go")))
      .withColumn("callee", when(col("is_chg"), (col("k") * 11 + 1) % 50)
        .otherwise((col("k") * 7 + 3) % 50))
      .withColumn("second_fn", when(col("is_chg"),
        concat(lit("FnC"), col("k"))).otherwise(concat(lit("FnB"), col("k"))))
      .withColumn("content", concat(
        lit("package pkg"), col("k") % 10,
        lit("\n\n// doc for FnA\nfunc FnA"), col("k"),
        lit("() {\n\tFnB"), col("callee"),
        lit("()\n}\n\nfunc "), col("second_fn"), lit("() {\n}\n")))
      .select(col("path"), col("content"))

  /** (|A ∖ B| + |B ∖ A| over node ids, the same over edge keys
    * (src, dst, relType)) of two graphs, with EXCEPT semantics: both
    * sides are distinct'd and keys compare null-safe, so a null relType
    * present on both sides matches. ONE full-outer join job for BOTH
    * key spaces instead of two EXCEPT jobs each — the kind tag
    * partitions the unified key space, so the per-kind counts equal
    * the separate jobs. */
  def graphSymDiff(aNodes: DataFrame, aEdges: DataFrame,
      bNodes: DataFrame, bEdges: DataFrame): (Long, Long) = {
    def tagged(nodes: DataFrame, edges: DataFrame): DataFrame =
      nodes.select(lit("n").as("kind"), col("id").as("k1"),
          lit(0L).as("k2"), lit("").as("k3"))
        .unionByName(edges.select(lit("e").as("kind"),
          col("src").as("k1"), col("dst").as("k2"),
          col("relType").as("k3")))
    val keys = Seq("kind", "k1", "k2", "k3")
    val a = tagged(aNodes, aEdges).distinct().withColumn("_a", lit(1))
    val b = tagged(bNodes, bEdges).distinct().withColumn("_b", lit(1))
    val r = a.as("a").join(b.as("b"),
        keys.map(k => col(s"a.$k") <=> col(s"b.$k")).reduce(_ && _),
        "full_outer")
      .filter(col("_a").isNull || col("_b").isNull)
      .select(coalesce(col("a.kind"), col("b.kind")).as("kind"))
      .agg(count(when(col("kind") === "n", lit(1))).as("dn"),
        count(when(col("kind") === "e", lit(1))).as("de"))
      .collect()(0)
    (r.getLong(0), r.getLong(1))
  }

  def q254_incremental_index(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.model.Model.{Labels, RelTypes}
    import graft.store.GraphStore
    import graft.ingest.{GoFrontend, IncrementalIndex}
    val tmp = java.nio.file.Files.createTempDirectory("graft_incidx")
    try {
      val inc = new GraphStore(spark, s"$tmp/inc")
      val full = new GraphStore(spark, s"$tmp/full")
      // the from-scratch control ingest is INDEPENDENT of the
      // incremental path (separate store, separate directory) — run it
      // on a second driver thread so its jobs back-fill the executor
      // slots the incremental chain's small sequential jobs leave idle
      // (guide §2.6; both sides are deterministic, threading affects
      // only when jobs run)
      val (s, _) = graft.ops.Iterate.concurrently(
        {
          GoFrontend.ingest(inc, goCorpus(spark, dir, changed = false),
            "svc")
          IncrementalIndex
            .reindex(inc, goCorpus(spark, dir, changed = true), "svc")
            .collect()(0)
        },
        GoFrontend.ingest(full, goCorpus(spark, dir, changed = true),
          "svc"))

      def md5i(c: Column): Column =
        conv(substring(md5(c), 1, 7), 16, 10).cast("long")
      def agg1(df: DataFrame, ck: Column): (Long, Long) = {
        val r = df.agg(count(lit(1)), coalesce(sum(ck), lit(0L))).collect()(0)
        (r.getLong(0), r.getLong(1))
      }
      // per-label node metrics AND per-type edge metrics in ONE pass
      // (guide §1.2: the former five separate count() actions
      // re-scanned the nodes parquet per metric; round 13 additionally
      // unions the node and edge scans so the two conditional
      // aggregations share one job — label is null on edge rows and
      // relType on node rows, so every conditional is untouched)
      def lblCnt(l: String): Column =
        count(when(col("label") === l, lit(1)))
      val metaRow = inc.nodes.select(col("label"), col("name"),
          col("filePath"), lit(null).cast("string").as("relType"))
        .unionByName(inc.edges.select(
          lit(null).cast("string").as("label"),
          lit(null).cast("string").as("name"),
          lit(null).cast("string").as("filePath"), col("relType")))
        .agg(
          lblCnt(Labels.Function).as("nFn"),
          coalesce(sum(when(col("label") === Labels.Function,
            md5i(concat(col("name"), lit("|"), col("filePath"))))),
            lit(0L)).as("ckFn"),
          lblCnt(Labels.File).as("nFiles"),
          lblCnt(Labels.Module).as("nMods"),
          lblCnt(Labels.Symbol).as("nSyms"),
          count(when(col("relType") === RelTypes.Contains, lit(1)))
            .as("nContains"),
          count(when(col("relType") === RelTypes.Defines, lit(1)))
            .as("nDefines")).collect()(0)
      val (nFn, ckFn, nFiles, nMods, nSyms) =
        (metaRow.getLong(0), metaRow.getLong(1), metaRow.getLong(2),
          metaRow.getLong(3), metaRow.getLong(4))
      val (nContains, nDefines) = (metaRow.getLong(5), metaRow.getLong(6))
      val names = inc.nodes.filter(col("label") === Labels.Function)
        .select(col("id"), col("name"))
      val callPairs = inc.edges.filter(col("relType") === RelTypes.Calls)
        .join(names.toDF("src", "caller"), Seq("src"))
        .join(names.toDF("dst", "callee"), Seq("dst"))
      val (nCalls, ckCalls) = agg1(callPairs,
        md5i(concat(col("caller"), lit(">"), col("callee"))))
      val (diffNodes, diffEdges) =
        graphSymDiff(inc.nodes, inc.edges, full.nodes, full.edges)
      Seq(
        ("calls", nCalls, ckCalls),
        ("changed_files", s.getLong(0), 0L),
        ("contains", nContains, 0L),
        ("defines", nDefines, 0L),
        ("files", nFiles, 0L),
        ("functions", nFn, ckFn),
        ("inc_vs_full_edges", diffEdges, 0L),
        ("inc_vs_full_nodes", diffNodes, 0L),
        ("modules", nMods, 0L),
        ("stale_nodes", s.getLong(3), 0L),
        ("symbols", nSyms, 0L))
        .toDF("metric", "n", "checksum")
        .orderBy(col("metric"))
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(tmp.toFile)
    }
  }

  val q254_sql: String =
    """WITH keys AS (
      |  SELECT p_partkey AS k FROM part WHERE p_partkey <= 2000),
      |fp AS (
      |  SELECT k, 'svc/pkg' || CAST(k % 10 AS VARCHAR) || '/f' ||
      |    CAST(k AS VARCHAR) || '.go' AS fpath FROM keys),
      |fns AS (
      |  SELECT 'FnA' || CAST(k AS VARCHAR) AS name, fpath FROM fp
      |  UNION ALL
      |  SELECT 'FnB' || CAST(k AS VARCHAR), fpath FROM fp WHERE k % 7 <> 0
      |  UNION ALL
      |  SELECT 'FnC' || CAST(k AS VARCHAR), fpath FROM fp WHERE k % 7 = 0),
      |calls AS (
      |  SELECT 'FnA' || CAST(k AS VARCHAR) AS caller,
      |    'FnB' || CAST(CASE WHEN k % 7 = 0 THEN (k * 11 + 1) % 50
      |      ELSE (k * 7 + 3) % 50 END AS VARCHAR) AS callee
      |  FROM keys),
      |vcalls AS (
      |  SELECT caller, callee FROM calls
      |  WHERE callee IN (SELECT name FROM fns)),
      |m AS (
      |  SELECT 'calls' AS metric,
      |    (SELECT COUNT(*) FROM vcalls) AS n,
      |    (SELECT COALESCE(SUM(('0x' || substr(md5(caller || '>' ||
      |      callee), 1, 7))::BIGINT), 0) FROM vcalls) AS checksum
      |  UNION ALL SELECT 'changed_files',
      |    (SELECT COUNT(*) FROM keys WHERE k % 7 = 0), 0
      |  UNION ALL SELECT 'contains', 3 * (SELECT COUNT(*) FROM keys), 0
      |  UNION ALL SELECT 'defines', (SELECT COUNT(*) FROM fns), 0
      |  UNION ALL SELECT 'files', (SELECT COUNT(*) FROM keys), 0
      |  UNION ALL SELECT 'functions', (SELECT COUNT(*) FROM fns),
      |    (SELECT COALESCE(SUM(('0x' || substr(md5(name || '|' ||
      |      fpath), 1, 7))::BIGINT), 0) FROM fns)
      |  UNION ALL SELECT 'inc_vs_full_edges', 0, 0
      |  UNION ALL SELECT 'inc_vs_full_nodes', 0, 0
      |  UNION ALL SELECT 'modules',
      |    (SELECT COUNT(DISTINCT k % 10) FROM keys), 0
      |  UNION ALL SELECT 'stale_nodes',
      |    (SELECT COUNT(*) FROM keys WHERE k % 7 = 0), 0
      |  UNION ALL SELECT 'symbols', (SELECT COUNT(*) FROM fns), 0)
      |SELECT metric, CAST(n AS BIGINT) AS n,
      |  CAST(checksum AS BIGINT) AS checksum
      |FROM m ORDER BY metric""".stripMargin

  val registry: graft.SparkEntry.Registry = Seq(
    ("q101_callers_callees", q101_callers_callees _, q101_sql),
    ("q102_analyze_function", q102_analyze_function _, q102_sql),
    ("q254_incremental_index", q254_incremental_index _, q254_sql))
}
