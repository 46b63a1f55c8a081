package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType

import graft.Tables
import graft.ingest.{DocumentPipeline, ScipIngest}
import graft.pipeline.{Dedup, Multimodal, Similarity, TextAnalysis}

/** Round-2 coverage widening: embedding near-dup + IVF ANN (the brief's
  * scale-path similarity ops), the document-pipeline scalar ops of
  * SURVEY §2.7 as gate-checked queries (SCIP symbol parse, title/type/
  * status extraction, feature merge), multimodal binary metadata, cube,
  * set ops, and percentile aggregates. Every query here has a DuckDB
  * oracle producing identical hashes.
  */
object ExtendedQueries {

  /** Embedding dimensionality of the driver-generated testdata —
    * constant across scale factors (verified 0.001/0.01/0.1); the WTA
    * dim-pair table and its SQL mirror both derive from it. */
  val EmbDim = 64

  private def dsum(c: Column): Column =
    sum(c.cast(DecimalType(30, 6))).cast("double")
  private def sqlDsum(e: String): String =
    s"CAST(SUM(CAST(($e) AS DECIMAL(30,6))) AS DOUBLE)"

  /** SQL fragment computing the WTA comparison-bit signature — the
    * exact mirror of [[Similarity.wtaSignature]] (list indexing is
    * 1-based on both sides; raw float comparisons, no arithmetic).
    * Shared by every WTA oracle (q29, q37) so the two sides cannot
    * drift. */
  def wtaSigSql(planes: Int, vecExpr: String): String =
    Similarity.wtaPairs(planes, EmbDim).zipWithIndex.map {
      case ((a, b), p) =>
        s"(CASE WHEN $vecExpr[${a + 1}] > $vecExpr[${b + 1}] " +
          s"THEN ${1L << p} ELSE 0 END)"
    }.mkString(" + ")

  /** [[wtaSigSql]] with a RUNTIME plane count: emits the literal
    * dim-pair table for `maxPlanes` but masks each bit behind
    * `p < 2*bbExpr`, so the oracle can derive the signature width from
    * COUNT(*) exactly like [[Similarity.sizedBandBits]] does. The
    * literal table for a prefix of planes is identical to the shorter
    * table (wtaPairs derives each pair independently from md5(p)). */
  def wtaSigSqlMasked(maxPlanes: Int, vecExpr: String,
      bbExpr: String): String =
    Similarity.wtaPairs(maxPlanes, EmbDim).zipWithIndex.map {
      case ((a, b), p) =>
        s"(CASE WHEN $p < 2 * $bbExpr AND " +
          s"$vecExpr[${a + 1}] > $vecExpr[${b + 1}] " +
          s"THEN ${1L << p} ELSE 0 END)"
    }.mkString(" + ")

  // -------------------------------------------------------------------
  // q37 — embedding-cosine near-dup pairs (WTA-banded candidates +
  // exact re-check): the embedding-space analog of SimHash dedup. At
  // scale the band join replaces the all-pairs comparison.
  // -------------------------------------------------------------------
  def q37_embed_neardup(spark: SparkSession, dir: String): DataFrame =
    Similarity.embeddingNearDups(Tables.embeddings(spark, dir), "vec_id",
        "embedding", threshold = 0.3, planes = 16, bandBits = 8,
        dims = EmbDim)
      .orderBy(col("id_a"), col("id_b"))

  val q37_sql: String =
    s"""WITH s AS (
       |  SELECT vec_id AS vid, embedding,
       |         ${wtaSigSql(16, "embedding")} AS sig
       |  FROM embeddings),
       |${OracleSql.wtaBanded},
       |${OracleSql.bandCand}
       |SELECT id_a, id_b,
       |  round(list_cosine_similarity(
       |    CAST(x.embedding AS DOUBLE[]), CAST(y.embedding AS DOUBLE[])),
       |    5) AS sim
       |FROM cand JOIN embeddings x ON x.vec_id = id_a
       |          JOIN embeddings y ON y.vec_id = id_b
       |WHERE round(list_cosine_similarity(
       |    CAST(x.embedding AS DOUBLE[]), CAST(y.embedding AS DOUBLE[])),
       |    5) >= 0.3
       |ORDER BY id_a, id_b""".stripMargin

  // -------------------------------------------------------------------
  // q146 — mutual nearest-neighbor pairs (bitext-mining primitive):
  // reciprocal top-1 within the WTA candidate graph — the precision
  // filter parallel-corpus miners apply before the margin score. Same
  // banded candidate generation as q29/q37 (never corpus²); the top-1
  // table is built once and self-joined on the reversed key.
  // -------------------------------------------------------------------
  def q146_mutual_nn(spark: SparkSession, dir: String): DataFrame =
    Similarity.mutualTopPairs(Tables.embeddings(spark, dir), "vec_id",
        "embedding", planes = 16, bandBits = 8, dims = EmbDim)
      .orderBy(col("id_a"))

  val q146_sql: String =
    s"""WITH s AS (
       |  SELECT vec_id AS vid, embedding,
       |         ${wtaSigSql(16, "embedding")} AS sig
       |  FROM embeddings),
       |${OracleSql.wtaBanded},
       |${OracleSql.bandCand},
       |directed AS (
       |  SELECT id_a AS query_id, id_b AS neighbor_id FROM cand
       |  UNION ALL
       |  SELECT id_b, id_a FROM cand),
       |scored AS (
       |  SELECT query_id, neighbor_id,
       |    round(list_cosine_similarity(
       |      CAST(x.embedding AS DOUBLE[]), CAST(y.embedding AS DOUBLE[])),
       |      5) AS sim
       |  FROM directed
       |  JOIN embeddings x ON x.vec_id = query_id
       |  JOIN embeddings y ON y.vec_id = neighbor_id),
       |t1 AS (
       |  SELECT query_id, neighbor_id, sim FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY sim DESC, neighbor_id) AS rn FROM scored)
       |  WHERE rn = 1)
       |SELECT f.query_id AS id_a, f.neighbor_id AS id_b, f.sim
       |FROM t1 f JOIN t1 g
       |  ON f.query_id = g.neighbor_id AND f.neighbor_id = g.query_id
       |WHERE f.query_id < f.neighbor_id
       |ORDER BY id_a""".stripMargin

  // -------------------------------------------------------------------
  // q152 — embedding centroid drift (the ML-ops monitor: "did the
  // embedding distribution move between two cohorts?"): per label,
  // cosine between the centroid of even-id vectors and the centroid of
  // odd-id vectors. Cosine is scale-invariant, so the per-dim SUM
  // vectors stand in for means — and sums are decimal-exact (dsum), so
  // the only float ops are the final 64-element dot/norm on exact
  // inputs, rounded to 5 (the q37 portability convention).
  // Scale: one posexplode fan-out (×dims) → one (label, half, dim)
  // partial-agg groupBy; everything after runs on the dims-sized table.
  // -------------------------------------------------------------------
  def q152_centroid_drift(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val e = emb.select(col("label"), (col("vec_id") % 2).as("half"),
      posexplode(col("embedding").cast("array<double>"))
        .as(Seq("dim", "x")))
    val sums = e.groupBy(col("label"), col("half"), col("dim"))
      .agg(dsum(col("x")).as("s"))
      .localCheckpoint(eager = true) // feeds BOTH sides of the self-join
    val parts = sums.filter(col("half") === 0)
      .select(col("label"), col("dim"), col("s").as("sa"))
      .join(sums.filter(col("half") === 1)
        .select(col("label"), col("dim"), col("s").as("sb")),
        Seq("label", "dim"))
      .groupBy(col("label"))
      .agg(dsum(col("sa") * col("sb")).as("dot"),
        dsum(col("sa") * col("sa")).as("na"),
        dsum(col("sb") * col("sb")).as("nb"))
    val counts = emb.groupBy(col("label"))
      .agg(sum(when(col("vec_id") % 2 === 0, 1L).otherwise(0L))
          .as("n_even"),
        sum(when(col("vec_id") % 2 === 1, 1L).otherwise(0L))
          .as("n_odd"))
    parts.join(counts, Seq("label"))
      .select(col("label"), col("n_even"), col("n_odd"),
        round(col("dot") / sqrt(col("na") * col("nb")), 5)
          .as("centroid_cos"))
      .orderBy(col("label"))
  }

  val q152_sql: String =
    s"""WITH e AS (
       |  SELECT label, vec_id % 2 AS half, g.i AS dim,
       |         CAST(embedding[g.i] AS DOUBLE) AS x
       |  FROM embeddings,
       |       unnest(generate_series(1, len(embedding))) AS g(i)),
       |sums AS (
       |  SELECT label, half, dim, ${sqlDsum("x")} AS s
       |  FROM e GROUP BY 1, 2, 3),
       |parts AS (
       |  SELECT a.label,
       |    ${sqlDsum("a.s * b.s")} AS dot,
       |    ${sqlDsum("a.s * a.s")} AS na,
       |    ${sqlDsum("b.s * b.s")} AS nb
       |  FROM sums a JOIN sums b
       |    ON b.label = a.label AND b.dim = a.dim
       |   AND a.half = 0 AND b.half = 1
       |  GROUP BY a.label),
       |counts AS (
       |  SELECT label,
       |    CAST(SUM(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_even,
       |    CAST(SUM(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_odd
       |  FROM embeddings GROUP BY label)
       |SELECT p.label, c.n_even, c.n_odd,
       |       round(p.dot / sqrt(p.na * p.nb), 5) AS centroid_cos
       |FROM parts p JOIN counts c ON c.label = p.label
       |ORDER BY p.label""".stripMargin

  // -------------------------------------------------------------------
  // q160 — cluster purity against ground-truth labels (the clustering
  // eval op): assign every vector to its nearest deterministic
  // centroid (the q38 codebook), then per cluster report the majority
  // label's share in ppm — integer-exact once assignments are fixed
  // (assignment uses the q38 rounded-cosine convention). Scale: one
  // broadcast-codebook assignment pass + a (cluster, label) groupBy;
  // the majority pick is a window over the label-cardinality-bounded
  // per-cluster table.
  // -------------------------------------------------------------------
  def q160_cluster_purity(spark: SparkSession, dir: String): DataFrame = {
    val v = Tables.embeddings(spark, dir)
      .select(col("vec_id").as("vid"),
        col("embedding").cast("array<double>").as("v"), col("label"))
    val cents = v.filter(col("vid") % 25 === 0)
      .select(col("vid").as("cid"), col("v").as("cv"))
    val assigned = Similarity
      .ivfAssign(v.select(col("vid"), col("v")), cents)
      .join(v.select(col("vid"), col("label")), Seq("vid"))
    val byLabel = assigned.groupBy(col("cid"), col("label"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("cid"))
      .orderBy(col("n").desc, col("label"))
    val majority = byLabel.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("cid"), col("label").as("majority_label"),
        col("n").as("n_majority"))
    val sizes = byLabel.groupBy(col("cid"))
      .agg(sum(col("n")).as("n_members"))
    majority.join(sizes, Seq("cid"))
      .select(col("cid"), col("n_members"), col("majority_label"),
        col("n_majority"),
        expr("(n_majority * 1000000) div n_members").as("purity_ppm"))
      .orderBy(col("cid"))
  }

  val q160_sql: String =
    """WITH v AS (
      |  SELECT vec_id AS vid, CAST(embedding AS DOUBLE[]) AS vec, label
      |  FROM embeddings),
      |cents AS (SELECT vid AS cid, vec AS cv FROM v WHERE vid % 25 = 0),
      |asg0 AS (
      |  SELECT v.vid, cents.cid,
      |         round(list_cosine_similarity(v.vec, cents.cv), 5) AS csim
      |  FROM v CROSS JOIN cents),
      |asg AS (
      |  SELECT vid, cid FROM (
      |    SELECT vid, cid, ROW_NUMBER() OVER (
      |      PARTITION BY vid ORDER BY csim DESC, cid) AS rn
      |    FROM asg0) WHERE rn = 1),
      |bl AS (
      |  SELECT a.cid, v.label, COUNT(*) AS n
      |  FROM asg a JOIN v ON v.vid = a.vid
      |  GROUP BY 1, 2),
      |mj AS (
      |  SELECT cid, label AS majority_label, n AS n_majority FROM (
      |    SELECT cid, label, n, ROW_NUMBER() OVER (
      |      PARTITION BY cid ORDER BY n DESC, label) AS rn
      |    FROM bl) WHERE rn = 1),
      |sz AS (SELECT cid, CAST(SUM(n) AS BIGINT) AS n_members
      |       FROM bl GROUP BY 1)
      |SELECT mj.cid, sz.n_members, mj.majority_label, mj.n_majority,
      |       (mj.n_majority * 1000000) // sz.n_members AS purity_ppm
      |FROM mj JOIN sz ON sz.cid = mj.cid
      |ORDER BY mj.cid""".stripMargin

  // -------------------------------------------------------------------
  // q38 — IVF ANN: deterministic codebook (every 25th vector), nearest-
  // centroid assignment via broadcast join, nprobe=2 partition-pruned
  // search, exact re-rank. The 100 TB layout: corpus partitioned by
  // centroid id; a query reads nprobe partitions, not the corpus.
  // -------------------------------------------------------------------
  def q38_ivf_ann(spark: SparkSession, dir: String): DataFrame =
    Similarity.ivfTopK(Tables.embeddings(spark, dir), "vec_id",
        "embedding", k = 3, centroidMod = 25, queryMod = 50, nprobe = 2)
      .withColumnRenamed("rank", "rk")
      .orderBy(col("query_id"), col("rk"))

  // -------------------------------------------------------------------
  // q180 — incremental IVF index maintenance (q167's IVM story for the
  // ANN index): a delta batch of vectors (vid % 10 = 9) is folded into
  // the existing index by assigning ONLY the delta to the frozen
  // centroids and merging per-cell counts — the base corpus is never
  // re-scored. Nearest-centroid assignment is a pure function of
  // (vector, codebook), so the merged cell populations equal the
  // oracle's full recompute exactly; at 100 TB that identity is what
  // keeps the index fresh at churn cost instead of corpus cost.
  // -------------------------------------------------------------------
  def q180_ivf_delta_maintenance(spark: SparkSession, dir: String)
      : DataFrame = {
    val v = Tables.embeddings(spark, dir)
      .select(col("vec_id").as("vid"),
        col("embedding").cast("array<double>").as("v"))
    val base = v.filter(col("vid") % 10 < 9)
    val delta = v.filter(col("vid") % 10 === 9)
    val cents = base.filter(col("vid") % 25 === 0)
      .select(col("vid").as("cid"), col("v").as("cv"))
    val baseCells = Similarity.ivfAssign(base, cents)
      .groupBy(col("cid")).agg(count(lit(1)).as("n_base"))
    val deltaCells = Similarity.ivfAssign(delta, cents)
      .groupBy(col("cid")).agg(count(lit(1)).as("n_added"))
    baseCells.join(deltaCells, Seq("cid"), "full_outer")
      .select(col("cid"),
        (coalesce(col("n_base"), lit(0L)) +
          coalesce(col("n_added"), lit(0L))).as("n_vectors"),
        coalesce(col("n_added"), lit(0L)).as("n_added"))
      .orderBy(col("cid"))
  }

  val q180_sql: String =
    """WITH v AS (
      |  SELECT vec_id AS vid, CAST(embedding AS DOUBLE[]) AS vec
      |  FROM embeddings),
      |cents AS (SELECT vid AS cid, vec AS cv FROM v
      |          WHERE vid % 25 = 0 AND vid % 10 < 9),
      |asg0 AS (
      |  SELECT vid, cid,
      |         round(list_cosine_similarity(v.vec, cents.cv), 5) AS csim
      |  FROM v CROSS JOIN cents),
      |asg AS (
      |  SELECT vid, cid FROM (
      |    SELECT vid, cid, ROW_NUMBER() OVER (
      |      PARTITION BY vid ORDER BY csim DESC, cid) AS rn
      |    FROM asg0) WHERE rn = 1)
      |SELECT cid, COUNT(*) AS n_vectors,
      |  CAST(SUM(CASE WHEN vid % 10 = 9 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_added
      |FROM asg GROUP BY cid
      |ORDER BY cid""".stripMargin

  val q38_sql: String =
    s"""WITH v AS (
       |  SELECT vec_id AS vid, CAST(embedding AS DOUBLE[]) AS vec
       |  FROM embeddings),
       |cents AS (SELECT vid AS cid, vec AS cv FROM v WHERE vid % 25 = 0),
       |asg0 AS (
       |  SELECT vid, cid,
       |         round(list_cosine_similarity(v.vec, cents.cv), 5) AS csim
       |  FROM v CROSS JOIN cents),
       |asg AS (
       |  SELECT vid, cid FROM (
       |    SELECT vid, cid, ROW_NUMBER() OVER (
       |      PARTITION BY vid ORDER BY csim DESC, cid) AS rn
       |    FROM asg0) WHERE rn = 1),
       |q AS (SELECT vid AS query_id, vec AS qv FROM v WHERE vid % 50 = 0),
       |ps AS (
       |  SELECT query_id, qv, cid,
       |         round(list_cosine_similarity(qv, cents.cv), 5) AS csim
       |  FROM q CROSS JOIN cents),
       |probes AS (
       |  SELECT query_id, qv, cid FROM (
       |    SELECT query_id, qv, cid, ROW_NUMBER() OVER (
       |      PARTITION BY query_id ORDER BY csim DESC, cid) AS rn
       |    FROM ps) WHERE rn <= 2),
       |scored AS (
       |  SELECT p.query_id, a.vid AS neighbor_id,
       |         round(list_cosine_similarity(p.qv, v2.vec), 5) AS sim
       |  FROM probes p JOIN asg a ON a.cid = p.cid AND a.vid <> p.query_id
       |  JOIN v v2 ON v2.vid = a.vid),
       |${OracleSql.simRank}
       |${OracleSql.top3}""".stripMargin

  // -------------------------------------------------------------------
  // q39 — feature dedup/merge (SURVEY A7) through the gate: normalized
  // name, longest description wins (ties → lexicographically greater),
  // tag union, most-advanced status, mention count.
  // -------------------------------------------------------------------
  def q39_feature_merge(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .filter(length(trim(col("text"))) > 0)
    val feats = d.select(
      concat_ws(" ", slice(TextAnalysis.tokens(col("text")), 1, 3))
        .as("featureName"),
      col("text").as("description"),
      DocumentPipeline.statusOf(col("text")).as("status"),
      array(col("lang"), col("source")).as("tags"))
    DocumentPipeline.mergeFeatures(feats)
      .select(col("normName").as("norm_name"), col("name"),
        length(col("description")).as("desc_len"),
        md5(col("description")).as("desc_md5"),
        col("status"),
        array_join(array_sort(col("tags")), ",").as("tags"),
        col("nMentions").as("n_mentions"))
      .orderBy(col("norm_name"))
  }

  private val statusSql: String =
    """CASE WHEN contains(lower(text), 'completed')
      |       OR contains(lower(text), 'done')
      |       OR contains(lower(text), 'implemented')
      |       OR contains(lower(text), 'finished') THEN 'completed'
      |     WHEN contains(lower(text), 'in progress')
      |       OR contains(lower(text), 'wip')
      |       OR contains(lower(text), 'ongoing')
      |       OR contains(lower(text), 'under development')
      |       THEN 'in_progress'
      |     WHEN contains(lower(text), 'planned')
      |       OR contains(lower(text), 'todo')
      |       OR contains(lower(text), 'future')
      |       OR contains(lower(text), 'proposed') THEN 'planned'
      |     ELSE 'unknown' END""".stripMargin

  val q39_sql: String =
    s"""WITH f AS (
       |  SELECT array_to_string(list_slice(
       |           regexp_split_to_array(trim(text), '\\s+'), 1, 3), ' ')
       |           AS feature_name,
       |         text AS description,
       |         $statusSql AS status,
       |         [lang, source] AS tags
       |  FROM documents WHERE length(trim(text)) > 0),
       |g AS (
       |  SELECT trim(regexp_replace(lower(feature_name), '\\s+', ' ', 'g'))
       |           AS norm_name,
       |         feature_name, description, status,
       |         CASE status WHEN 'completed' THEN 3
       |              WHEN 'in_progress' THEN 2
       |              WHEN 'planned' THEN 1 ELSE 0 END AS status_rank,
       |         tags
       |  FROM f),
       |best AS (
       |  SELECT norm_name, description FROM (
       |    SELECT norm_name, description, ROW_NUMBER() OVER (
       |      PARTITION BY norm_name
       |      ORDER BY length(description) DESC, description DESC) AS rn
       |    FROM g) WHERE rn = 1),
       |st AS (
       |  SELECT norm_name, status FROM (
       |    SELECT norm_name, status, ROW_NUMBER() OVER (
       |      PARTITION BY norm_name
       |      ORDER BY status_rank DESC, status DESC) AS rn
       |    FROM g) WHERE rn = 1),
       |agg AS (
       |  SELECT norm_name, min(feature_name) AS name,
       |         count(*) AS n_mentions,
       |         list_sort(list_distinct(flatten(list(tags)))) AS tags_l
       |  FROM g GROUP BY norm_name)
       |SELECT a.norm_name, a.name,
       |       length(b.description) AS desc_len,
       |       md5(b.description) AS desc_md5,
       |       st.status,
       |       array_to_string(tags_l, ',') AS tags,
       |       a.n_mentions
       |FROM agg a JOIN best b ON a.norm_name = b.norm_name
       |JOIN st ON st.norm_name = a.norm_name
       |ORDER BY a.norm_name""".stripMargin

  // -------------------------------------------------------------------
  // q40 — SCIP symbol parse + kind inference + display-name extraction
  // (SURVEY §2.7) over synthesized symbol strings, using the same
  // column functions the SCIP ingest frontend uses.
  // -------------------------------------------------------------------
  def q40_scip_parse(spark: SparkSession, dir: String): DataFrame = {
    val s = Tables.supplier(spark, dir)
    val descriptor =
      when(col("s_suppkey") % 4 === 0,
        concat(lit("pkg/"), col("s_name"), lit("#")))
      .when(col("s_suppkey") % 4 === 1,
        concat(lit("pkg/"), col("s_name"), lit("#run().")))
      .when(col("s_suppkey") % 4 === 2,
        concat(lit("pkg/"), col("s_name"), lit("#field.")))
      .otherwise(concat(lit("pkg/"), col("s_name"), lit("/")))
    val sym = concat_ws(" ", lit("scip-go"), lit("gomod"),
      concat(lit("example.com/"), col("s_name")), lit("v1.0"), descriptor)
    s.select(col("s_suppkey").as("key"), sym.as("symbol"))
      .withColumn("p", ScipIngest.parseSymbolCol(col("symbol")))
      .select(col("key"), col("symbol"),
        col("p.scheme").as("scheme"), col("p.manager").as("manager"),
        col("p.name").as("sym_name"), col("p.version").as("version"),
        ScipIngest.kindCol(col("p.descriptor")).as("kind"),
        ScipIngest.displayNameCol(col("p.descriptor")).as("display_name"))
      .orderBy(col("key"))
  }

  val q40_sql: String =
    """WITH s AS (
      |  SELECT s_suppkey AS key,
      |    CASE WHEN s_suppkey % 4 = 0 THEN 'pkg/' || s_name || '#'
      |         WHEN s_suppkey % 4 = 1 THEN 'pkg/' || s_name || '#run().'
      |         WHEN s_suppkey % 4 = 2 THEN 'pkg/' || s_name || '#field.'
      |         ELSE 'pkg/' || s_name || '/' END AS descriptor,
      |    s_name
      |  FROM supplier),
      |sym AS (
      |  SELECT key, descriptor,
      |    'scip-go gomod example.com/' || s_name || ' v1.0 ' || descriptor
      |      AS symbol
      |  FROM s)
      |SELECT key, symbol,
      |  str_split(symbol, ' ')[1] AS scheme,
      |  str_split(symbol, ' ')[2] AS manager,
      |  str_split(symbol, ' ')[3] AS sym_name,
      |  str_split(symbol, ' ')[4] AS version,
      |  CASE WHEN ends_with(descriptor, '().') THEN 'method'
      |       WHEN ends_with(descriptor, '#') THEN 'class'
      |       WHEN ends_with(descriptor, '.') THEN 'term'
      |       WHEN ends_with(descriptor, '/') THEN 'namespace'
      |       ELSE 'unknown' END AS kind,
      |  regexp_replace(list_extract(str_split(descriptor, '/'), -1),
      |    '(\(\)\.|#|\.)$', '') AS display_name
      |FROM sym
      |ORDER BY key""".stripMargin

  // -------------------------------------------------------------------
  // q41 — token counting for training-budget estimation: portable
  // BPE-ish subword counts per language (codegen'd regexp, no UDF).
  // -------------------------------------------------------------------
  def q41_token_budget(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(TextAnalysis.subwordCountPortable(col("text")).cast("long"))
          .as("total_subwords"))
      .withColumn("avg_subwords", expr("total_subwords div n_docs"))
      .orderBy(col("lang"))

  val q41_sql: String =
    """SELECT lang, COUNT(*) AS n_docs,
      |  CAST(SUM(len(regexp_extract_all(text,
      |    '[A-Z][a-z]*|[a-z]+|[0-9]+'))) AS BIGINT) AS total_subwords,
      |  CAST(SUM(len(regexp_extract_all(text,
      |    '[A-Z][a-z]*|[a-z]+|[0-9]+'))) AS BIGINT) // COUNT(*)
      |    AS avg_subwords
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  // -------------------------------------------------------------------
  // q42 — CUBE over orders (complements q35's ROLLUP): all four
  // grouping combinations in one pass, partial-aggregated.
  // -------------------------------------------------------------------
  def q42_cube(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        dsum(col("o_totalprice")).as("total"))
      .select(coalesce(col("o_orderstatus"), lit("(all)")).as("status"),
        coalesce(col("o_orderpriority"), lit("(all)")).as("priority"),
        col("n_orders"), col("total"))
      .orderBy(col("status"), col("priority"))

  val q42_sql: String =
    s"""SELECT COALESCE(o_orderstatus, '(all)') AS status,
       |  COALESCE(o_orderpriority, '(all)') AS priority,
       |  COUNT(*) AS n_orders,
       |  ${sqlDsum("o_totalprice")} AS total
       |FROM orders
       |GROUP BY CUBE (o_orderstatus, o_orderpriority)
       |ORDER BY status, priority""".stripMargin

  // -------------------------------------------------------------------
  // q43 — multimodal binary metadata: opaque payloads processed in the
  // typed per-partition batch shape (size, digest, frame count).
  // -------------------------------------------------------------------
  def q43_multimodal_meta(spark: SparkSession, dir: String): DataFrame =
    Multimodal.binaryMeta(Tables.documents(spark, dir), "doc_id", "text",
        frameSize = 256)
      .toDF()
      .orderBy(col("media_id"))

  val q43_sql: String =
    """SELECT doc_id AS media_id,
      |  octet_length(encode(text)) AS n_bytes,
      |  sha256(text) AS sha_hex,
      |  (octet_length(encode(text)) + 255) // 256 AS n_frames
      |FROM documents ORDER BY media_id""".stripMargin

  // -------------------------------------------------------------------
  // q44 — discrete percentiles (median price per return flag): exact
  // element selection, no interpolation → engine-portable.
  // -------------------------------------------------------------------
  def q44_percentiles(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY l_extendedprice)")
          .as("median_price"),
        min(col("l_extendedprice")).as("min_price"),
        max(col("l_extendedprice")).as("max_price"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag"))

  val q44_sql: String =
    """SELECT l_returnflag,
      |  quantile_disc(l_extendedprice, 0.5) AS median_price,
      |  min(l_extendedprice) AS min_price,
      |  max(l_extendedprice) AS max_price,
      |  COUNT(*) AS n
      |FROM lineitem GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  // -------------------------------------------------------------------
  // q45 — document feature extraction (SURVEY §2.7): title (first `# `
  // header else first non-empty line), doc type from source name,
  // status from keywords — the reference's parser.go ops as columns.
  // -------------------------------------------------------------------
  def q45_doc_features(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    d.select(col("doc_id"),
        DocumentPipeline.titleOf(col("text"), col("source")).as("title"),
        DocumentPipeline.docTypeOf(col("source")).as("doc_type"),
        DocumentPipeline.statusOf(col("text")).as("status"))
      .orderBy(col("doc_id"))
  }

  val q45_sql: String =
    s"""SELECT doc_id,
       |  CASE WHEN regexp_extract(text, '(?m)^#\\s+(.+)$$', 1) <> ''
       |         THEN regexp_extract(text, '(?m)^#\\s+(.+)$$', 1)
       |       WHEN regexp_extract(text, '(?m)^\\s*(\\S.*)$$', 1) <> ''
       |         THEN regexp_extract(text, '(?m)^\\s*(\\S.*)$$', 1)
       |       ELSE list_extract(str_split(source, '/'), -1) END AS title,
       |  CASE WHEN contains(lower(list_extract(str_split(source, '/'), -1)),
       |         'readme') THEN 'readme'
       |       WHEN contains(lower(list_extract(str_split(source, '/'), -1)),
       |         'rfc') THEN 'rfc'
       |       WHEN contains(lower(list_extract(str_split(source, '/'), -1)),
       |         'architecture')
       |         OR contains(lower(list_extract(str_split(source, '/'), -1)),
       |         'design') THEN 'architecture'
       |       WHEN contains(lower(list_extract(str_split(source, '/'), -1)),
       |         'api') THEN 'api_documentation'
       |       WHEN contains(lower(list_extract(str_split(source, '/'), -1)),
       |         'changelog')
       |         OR contains(lower(list_extract(str_split(source, '/'), -1)),
       |         'release') THEN 'changelog'
       |       ELSE 'documentation' END AS doc_type,
       |  $statusSql AS status
       |FROM documents ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------
  // q46 — set operations (INTERSECT / EXCEPT): nation membership of the
  // customer vs supplier base.
  // -------------------------------------------------------------------
  def q46_set_ops(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
      .select(col("c_nationkey").as("nationkey")).distinct()
    val s = Tables.supplier(spark, dir)
      .select(col("s_nationkey").as("nationkey")).distinct()
    val both = c.intersect(s).withColumn("set_op", lit("both"))
    val custOnly = c.except(s).withColumn("set_op", lit("customer_only"))
    val suppOnly = s.except(c).withColumn("set_op", lit("supplier_only"))
    both.unionByName(custOnly).unionByName(suppOnly)
      .join(Tables.nation(spark, dir)
        .select(col("n_nationkey").as("nationkey"), col("n_name")),
        Seq("nationkey"))
      .orderBy(col("set_op"), col("nationkey"))
  }

  val q46_sql: String =
    """WITH c AS (SELECT DISTINCT c_nationkey AS nationkey FROM customer),
      |s AS (SELECT DISTINCT s_nationkey AS nationkey FROM supplier),
      |m AS (
      |  SELECT nationkey, 'both' AS set_op FROM
      |    (SELECT nationkey FROM c INTERSECT SELECT nationkey FROM s)
      |  UNION ALL
      |  SELECT nationkey, 'customer_only' FROM
      |    (SELECT nationkey FROM c EXCEPT SELECT nationkey FROM s)
      |  UNION ALL
      |  SELECT nationkey, 'supplier_only' FROM
      |    (SELECT nationkey FROM s EXCEPT SELECT nationkey FROM c))
      |SELECT m.nationkey, m.set_op, n.n_name
      |FROM m JOIN nation n ON n.n_nationkey = m.nationkey
      |ORDER BY set_op, nationkey""".stripMargin

  // -------------------------------------------------------------------
  // q47 — KMV (k-minimum-values) distinct-count sketch: estimate =
  // (k−1) / u_k with u_k the k-th smallest normalized 60-bit md5 hash
  // (Bar-Yossef et al. 2002). Unlike HLL (q36), the sketch is a pure
  // function of the hash values, so the estimate is bit-identical in
  // any engine — an approximate aggregate that still hash-matches the
  // oracle. Scale shape: the rank filter runs as WindowGroupLimit
  // (per-partition top-k before the shuffle), so each partition ships
  // at most k rows per group.
  // -------------------------------------------------------------------
  private val KmvK = 64

  def q47_kmv_distinct(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val d = li.select(col("l_returnflag"), col("l_partkey")).distinct()
      .select(col("l_returnflag"),
        conv(substring(md5(col("l_partkey").cast("string")), 1, 15),
          16, 10).cast("long").as("h"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("l_returnflag")).orderBy(col("h"))
    val topk = d.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= KmvK)
    val exact = li.groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("exact_parts"))
    topk.groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("cnt"), max(col("h")).as("kth"))
      .withColumn("kmv_distinct",
        when(col("cnt") < KmvK, col("cnt"))
          .otherwise(floor(lit((KmvK - 1).toDouble) *
            lit(1152921504606846976.0) / col("kth")).cast("long")))
      .join(exact, Seq("l_returnflag"))
      .select(col("l_returnflag"), col("kmv_distinct"), col("exact_parts"))
      .orderBy(col("l_returnflag"))
  }

  val q47_sql: String =
    s"""WITH d AS (SELECT DISTINCT l_returnflag, l_partkey FROM lineitem),
       |h AS (
       |  SELECT l_returnflag,
       |    CAST(('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 15))
       |      AS BIGINT) AS h
       |  FROM d),
       |r AS (
       |  SELECT l_returnflag, h, ROW_NUMBER() OVER (
       |    PARTITION BY l_returnflag ORDER BY h) AS rn
       |  FROM h),
       |s AS (
       |  SELECT l_returnflag, COUNT(*) AS cnt, MAX(h) AS kth
       |  FROM r WHERE rn <= $KmvK GROUP BY l_returnflag),
       |e AS (
       |  SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS exact_parts
       |  FROM lineitem GROUP BY l_returnflag)
       |SELECT s.l_returnflag,
       |  CASE WHEN cnt < $KmvK THEN cnt
       |       ELSE CAST(floor(${KmvK - 1}.0 * 1152921504606846976 / kth)
       |         AS BIGINT) END AS kmv_distinct,
       |  e.exact_parts
       |FROM s JOIN e ON s.l_returnflag = e.l_returnflag
       |ORDER BY s.l_returnflag""".stripMargin

  // -------------------------------------------------------------------
  // q48 — salted join through the gate: identical result to the plain
  // equi-join (which is the oracle), but the big side's hot keys are
  // scattered over salt buckets so no single reducer owns a hot key.
  // The declarative skew fallback when AQE's runtime split isn't
  // available (e.g. broadcast-ineligible replicated dims).
  // -------------------------------------------------------------------
  def q48_salted_join(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_extendedprice"))
    val dim = Tables.orders(spark, dir)
      .filter(col("o_orderkey") % 1000 === 0)
      .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
    graft.ops.Skew.saltedJoin(li, dim, "l_orderkey", saltBuckets = 8)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"),
        dsum(col("l_extendedprice")).as("total_price"))
      .orderBy(col("o_orderpriority"))
  }

  val q48_sql: String =
    s"""SELECT o_orderpriority, COUNT(*) AS n_items,
       |  ${sqlDsum("l_extendedprice")} AS total_price
       |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |WHERE o_orderkey % 1000 = 0
       |GROUP BY o_orderpriority
       |ORDER BY o_orderpriority""".stripMargin

  // -------------------------------------------------------------------
  // q49 — TPC-H Q3 shape: dimension-filtered fact⋈fact join + grouped
  // revenue + top-n. The at-scale plan: customer filter broadcasts,
  // orders⋈lineitem shuffle once on the join key (co-partitioned at
  // 100 TB), partial aggregation before the final top-n.
  // -------------------------------------------------------------------
  def q49_revenue_topn(spark: SparkSession, dir: String): DataFrame = {
    val cutoff = lit("1998-01-01").cast("timestamp")
    val c = Tables.customer(spark, dir)
      .filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"))
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderdate") < cutoff)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"))
    val l = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") > cutoff)
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"))
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  val q49_sql: String =
    s"""SELECT l_orderkey,
       |  strftime(o_orderdate, '%Y-%m-%d') AS order_date,
       |  ${sqlDsum("l_extendedprice * (1.0 - l_discount)")} AS revenue
       |FROM lineitem
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |WHERE c_mktsegment = 'BUILDING'
       |  AND o_orderdate < TIMESTAMP '1998-01-01'
       |  AND l_shipdate > TIMESTAMP '1998-01-01'
       |GROUP BY l_orderkey, order_date
       |ORDER BY revenue DESC, l_orderkey
       |LIMIT 10""".stripMargin

  // -------------------------------------------------------------------
  // q50 — word-BIGRAM Jaccard near-dups through the general shingle
  // equi-join (q23's unigram vocab is tiny, so it exercises only the
  // bitmask fast path; bigram vocabularies are large and take the
  // general path: explode shingles → equi-join → |∩|/|∪|).
  // -------------------------------------------------------------------
  def q50_bigram_jaccard(spark: SparkSession, dir: String): DataFrame =
    graft.pipeline.Dedup.jaccardPairs(Tables.documents(spark, dir),
        "doc_id", "text", n = 2, threshold = 0.5, maxDf = 16)
      .withColumn("jaccard", round(col("jaccard"), 6))
      .orderBy(col("id_a"), col("id_b"))

  val q50_sql: String =
    """WITH toks AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
      |  FROM documents WHERE trim(text) <> ''),
      |sh0 AS (
      |  SELECT DISTINCT doc_id,
      |    unnest([t[i] || ' ' || t[i + 1]
      |            FOR i IN generate_series(1, len(t) - 1)]) AS shingle
      |  FROM toks WHERE len(t) >= 2),
      |rare AS (
      |  SELECT shingle FROM sh0 GROUP BY shingle HAVING COUNT(*) <= 16),
      |sh AS (SELECT doc_id, sh0.shingle FROM sh0
      |       JOIN rare ON sh0.shingle = rare.shingle),
      |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS intersection
      |  FROM sh a JOIN sh b
      |    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT id_a, id_b, intersection, sa.sz AS size_a, sb.sz AS size_b,
      |  round(CAST(intersection AS DOUBLE) /
      |        (sa.sz + sb.sz - intersection), 6) AS jaccard
      |FROM inter
      |JOIN sizes sa ON id_a = sa.doc_id
      |JOIN sizes sb ON id_b = sb.doc_id
      |WHERE CAST(intersection AS DOUBLE) /
      |      (sa.sz + sb.sz - intersection) >= 0.5
      |ORDER BY id_a, id_b""".stripMargin

  // -------------------------------------------------------------------
  // q51 — as-of join: each event matched to the user's latest order at
  // or before the event time. union + carry-forward window (one
  // shuffle, no range explosion); the oracle is DuckDB's native
  // ASOF JOIN. Times in microseconds on both sides (events.parquet is
  // TIMESTAMP(NANOS): Spark reads long nanos, DuckDB micros).
  // -------------------------------------------------------------------
  def q51_asof_join(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select(
      col("event_id"), col("user_id"), expr("ts div 1000").as("t_us"),
      col("event_type"))
    val ord = Tables.orders(spark, dir).select(
      col("o_custkey").as("user_id"),
      // NTZ → LTZ under the pinned-UTC session = DuckDB's naive epoch_us
      unix_micros(col("o_orderdate").cast("timestamp_ltz")).as("t_us"),
      col("o_orderkey"))
    graft.ops.AsOf.asofBackward(ev, ord, "user_id", "t_us", "o_orderkey")
      .filter(col("o_orderkey").isNotNull)
      .select(col("event_id"), col("user_id"), col("t_us"),
        col("event_type"), col("o_orderkey"))
      .orderBy(col("event_id"))
  }

  val q51_sql: String =
    """WITH ev AS (
      |  SELECT event_id, user_id, epoch_us(ts) AS t_us, event_type
      |  FROM events),
      |ord AS (
      |  SELECT o_custkey AS user_id, epoch_us(o_orderdate) AS o_us,
      |         max(o_orderkey) AS o_orderkey
      |  FROM orders GROUP BY o_custkey, epoch_us(o_orderdate))
      |SELECT e.event_id, e.user_id, e.t_us, e.event_type, o.o_orderkey
      |FROM ev e ASOF JOIN ord o
      |  ON e.user_id = o.user_id AND e.t_us >= o.o_us
      |ORDER BY event_id""".stripMargin

  // -------------------------------------------------------------------
  // q52 — dependency grouping (SURVEY A6: the reference's Go-side fold
  // rows → map[service]{callingFunctions[], count}): group + collected
  // member list + count, with the list sorted/joined for determinism.
  // -------------------------------------------------------------------
  def q52_dep_grouping(spark: SparkSession, dir: String): DataFrame =
    Tables.supplier(spark, dir)
      .groupBy(col("s_nationkey").as("nationkey"))
      .agg(array_join(array_sort(collect_set(col("s_name"))), ",")
        .as("suppliers"),
        count(lit(1)).as("n_suppliers"))
      .orderBy(col("nationkey"))

  val q52_sql: String =
    """SELECT s_nationkey AS nationkey,
      |  string_agg(DISTINCT s_name, ',' ORDER BY s_name) AS suppliers,
      |  COUNT(*) AS n_suppliers
      |FROM supplier
      |GROUP BY s_nationkey
      |ORDER BY nationkey""".stripMargin

  // -------------------------------------------------------------------
  // q53 — running/cumulative window frames over the event stream: per
  // user, cumulative value sum and a trailing 3-event moving average —
  // the rowsBetween frame family (q12/q34 cover ranking/lead). One
  // shuffle on user_id; frames stream per partition.
  // -------------------------------------------------------------------
  def q53_running_window(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("t_us"), col("event_id"))
    val ev = Tables.events(spark, dir)
      .filter(col("user_id") < 10)
      .select(col("event_id"), col("user_id"),
        expr("ts div 1000").as("t_us"),
        col("value").cast(DecimalType(30, 6)).as("v"))
    ev.withColumn("running_total",
        sum(col("v")).over(w.rowsBetween(Window.unboundedPreceding, 0))
          .cast("double"))
      .withColumn("moving_avg3",
        (sum(col("v")).over(w.rowsBetween(-2, 0)).cast("double") /
          count(lit(1)).over(w.rowsBetween(-2, 0))))
      .select(col("event_id"), col("user_id"), col("t_us"),
        col("running_total"), round(col("moving_avg3"), 6).as("moving_avg3"))
      .orderBy(col("event_id"))
  }

  val q53_sql: String =
    """SELECT event_id, user_id, epoch_us(ts) AS t_us,
      |  CAST(SUM(CAST(value AS DECIMAL(30,6))) OVER (
      |    PARTITION BY user_id ORDER BY epoch_us(ts), event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |    AS DOUBLE) AS running_total,
      |  round(CAST(SUM(CAST(value AS DECIMAL(30,6))) OVER (
      |    PARTITION BY user_id ORDER BY epoch_us(ts), event_id
      |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
      |    / COUNT(*) OVER (
      |    PARTITION BY user_id ORDER BY epoch_us(ts), event_id
      |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6) AS moving_avg3
      |FROM events WHERE user_id < 10
      |ORDER BY event_id""".stripMargin

  // -------------------------------------------------------------------
  // q54 — bucketized range join: for each purchase event, the same
  // user's activity in the following hour. The naive θ-join (key equal
  // AND time in range) is a quadratic nested loop; bucketizing time
  // makes it an EQUI-join on (key, coarse bucket) — a window of length
  // B spans ≤ 2 buckets, so the anchor side carries 2 bucket keys and
  // a residual filter finishes. Each event matches at most one of an
  // anchor's buckets, so no double counting.
  // -------------------------------------------------------------------
  private val HourUs = 3600000000L

  def q54_range_join(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        expr("ts div 1000").as("e_us"))
    val anchors = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("e_us").as("p_us"))
      .withColumn("bucket",
        explode(array(expr(s"p_us div $HourUs"),
          expr(s"p_us div $HourUs + 1"))))
    val probes = ev.select(col("user_id"),
        col("event_id").as("other_id"), col("e_us"))
      .withColumn("bucket", expr(s"e_us div $HourUs"))
    anchors.join(probes, Seq("user_id", "bucket"))
      .filter(col("e_us") > col("p_us") &&
        col("e_us") <= col("p_us") + HourUs)
      .groupBy(col("purchase_id"))
      .agg(count(lit(1)).as("n_follow"))
      .orderBy(col("purchase_id"))
  }

  val q54_sql: String =
    s"""SELECT p.event_id AS purchase_id, COUNT(*) AS n_follow
       |FROM events p JOIN events e
       |  ON e.user_id = p.user_id
       | AND epoch_us(e.ts) > epoch_us(p.ts)
       | AND epoch_us(e.ts) <= epoch_us(p.ts) + $HourUs
       |WHERE p.event_type = 'purchase'
       |GROUP BY p.event_id ORDER BY purchase_id""".stripMargin

  // -------------------------------------------------------------------
  // q55 — explicit GROUPING SETS with grouping_id (completes the
  // grouping family next to q35 ROLLUP / q42 CUBE): per-status and
  // per-priority totals in one pass, tagged by grouping_id so the two
  // set shapes are distinguishable after the COALESCE.
  // -------------------------------------------------------------------
  def q55_grouping_sets(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupingSets(
        Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority"))),
        col("o_orderstatus"), col("o_orderpriority"))
      .agg(grouping_id().as("gid"), count(lit(1)).as("n_orders"),
        dsum(col("o_totalprice")).as("total"))
      .select(col("gid"),
        coalesce(col("o_orderstatus"), lit("(all)")).as("status"),
        coalesce(col("o_orderpriority"), lit("(all)")).as("priority"),
        col("n_orders"), col("total"))
      .orderBy(col("gid"), col("status"), col("priority"))

  val q55_sql: String =
    s"""SELECT GROUPING(o_orderstatus, o_orderpriority) AS gid,
       |  COALESCE(o_orderstatus, '(all)') AS status,
       |  COALESCE(o_orderpriority, '(all)') AS priority,
       |  COUNT(*) AS n_orders,
       |  ${sqlDsum("o_totalprice")} AS total
       |FROM orders
       |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
       |ORDER BY gid, status, priority""".stripMargin

  // -------------------------------------------------------------------
  // q56 — MinHash Jaccard ESTIMATION: for LSH candidate pairs, the
  // fraction of agreeing min-hashes (in 16ths, integer-exact) next to
  // the true Jaccard — the estimator actually consulted at 100 TB,
  // where exact set intersection per pair is unaffordable. md5-derived
  // signatures make the estimate engine-reproducible.
  // -------------------------------------------------------------------
  private val MhK = 16

  def q56_minhash_estimate(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .filter(length(trim(col("text"))) > 0)
    // materialized once: feeds the signature agg, the sizes agg, and
    // both sides of the intersection self-join (interpreted tokenize
    // would otherwise re-run per branch — same pattern as jaccardPairs)
    val toks = docs.select(col("doc_id").as("doc"),
      explode(array_distinct(TextAnalysis.tokens(col("text"))))
        .as("tok"))
      // Kirsch–Mitzenmacher: ONE md5 per token; K hashes derived as
      // (h1 + i·h2) mod 2³¹−1 from two 28-bit digest halves (the same
      // family as Dedup.minHashCandidates — K× fewer digest calls)
      .withColumn("_m", md5(col("tok")))
      .withColumn("h1",
        conv(substring(col("_m"), 1, 7), 16, 10).cast("long"))
      .withColumn("h2",
        conv(substring(col("_m"), 8, 7), 16, 10).cast("long"))
      .drop("_m")
      .localCheckpoint(true)
    val sigCols = (0 until MhK).map(i =>
      min((col("h1") + lit(i.toLong) * col("h2")) % Dedup.MinHashP)
        .as(s"sig$i"))
    val wide = toks.groupBy(col("doc")).agg(sigCols.head, sigCols.tail: _*)
      .localCheckpoint(true)
    val sizes = toks.groupBy(col("doc")).agg(count(lit(1)).as("sz"))
    // candidate pairs: exact-dup fingerprint classes would all agree;
    // use a first-signature bucket join (bands of 1) to bound pairs
    val a = wide.select(col("doc").as("id_a") +:
      (0 until MhK).map(i => col(s"sig$i").as(s"a$i")): _*)
    val b = wide.select(col("doc").as("id_b") +:
      (0 until MhK).map(i => col(s"sig$i").as(s"b$i")): _*)
    val agree = (0 until MhK).map(i =>
      when(col(s"a$i") === col(s"b$i"), 1).otherwise(0)).reduce(_ + _)
    val pairs = a.join(b, col("a0") === col("b0") &&
        col("id_a") < col("id_b"))
      .withColumn("n_agree", agree)
      .select(col("id_a"), col("id_b"), col("n_agree"))
    val inter = toks.as("x").join(toks.as("y"),
        col("x.tok") === col("y.tok") && col("x.doc") < col("y.doc"))
      .groupBy(col("x.doc").as("id_a"), col("y.doc").as("id_b"))
      .agg(count(lit(1)).as("n_inter"))
    pairs
      .join(inter, Seq("id_a", "id_b"), "left_outer")
      .join(sizes.toDF("id_a", "size_a"), Seq("id_a"))
      .join(sizes.toDF("id_b", "size_b"), Seq("id_b"))
      .select(col("id_a"), col("id_b"), col("n_agree"),
        expr("coalesce(n_inter, 0L) * 1000000 div " +
          "(size_a + size_b - coalesce(n_inter, 0L))")
          .as("true_jaccard_ppm"))
      .orderBy(col("id_a"), col("id_b"))
  }

  val q56_sql: String = {
    val sigSql = (0 until MhK).map(i =>
      s"min((h1 + $i * h2) % 2147483647) AS sig$i").mkString(",\n|    ")
    val agreeSql = (0 until MhK).map(i =>
      s"(CASE WHEN a.sig$i = b.sig$i THEN 1 ELSE 0 END)").mkString(" + ")
    s"""WITH toks AS (
       |  SELECT DISTINCT doc_id AS doc,
       |    unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
       |  FROM documents WHERE length(trim(text)) > 0),
       |hh AS (
       |  SELECT doc, tok,
       |    CAST(('0x' || substr(md5(tok), 1, 7)) AS BIGINT) AS h1,
       |    CAST(('0x' || substr(md5(tok), 8, 7)) AS BIGINT) AS h2
       |  FROM toks),
       |wide AS (
       |  SELECT doc,
       |    $sigSql
       |  FROM hh GROUP BY doc),
       |sizes AS (SELECT doc, COUNT(*) AS sz FROM toks GROUP BY doc),
       |pairs AS (
       |  SELECT a.doc AS id_a, b.doc AS id_b,
       |         $agreeSql AS n_agree
       |  FROM wide a JOIN wide b
       |    ON a.sig0 = b.sig0 AND a.doc < b.doc),
       |inter AS (
       |  SELECT x.doc AS id_a, y.doc AS id_b, COUNT(*) AS n_inter
       |  FROM toks x JOIN toks y
       |    ON x.tok = y.tok AND x.doc < y.doc
       |  GROUP BY 1, 2)
       |SELECT p.id_a, p.id_b, p.n_agree,
       |  COALESCE(i.n_inter, 0) * 1000000 //
       |    (sa.sz + sb.sz - COALESCE(i.n_inter, 0)) AS true_jaccard_ppm
       |FROM pairs p
       |LEFT JOIN inter i ON i.id_a = p.id_a AND i.id_b = p.id_b
       |JOIN sizes sa ON sa.doc = p.id_a
       |JOIN sizes sb ON sb.doc = p.id_b
       |ORDER BY p.id_a, p.id_b""".stripMargin
  }

  // -------------------------------------------------------------------
  // q104 — SemDeDup (Abbas et al. 2023): semantic dedup by cluster-
  // partitioned cosine. Same deterministic codebook as q38's IVF
  // (every 25th vector); pairs are enumerated within a cluster only and
  // the higher id of any pair with cosine ≥ 0.3 is dropped. At 100 TB
  // the corpus is stored partitioned by cluster id, so the pair join is
  // Σ|cluster|², never corpus².
  // -------------------------------------------------------------------
  def q104_semdedup(spark: SparkSession, dir: String): DataFrame =
    Similarity.semDedup(Tables.embeddings(spark, dir), "vec_id",
        "embedding", threshold = 0.3, centroidMod = 25)
      .orderBy(col("vid"))

  val q104_sql: String =
    """WITH v AS (
      |  SELECT vec_id AS vid, CAST(embedding AS DOUBLE[]) AS vec
      |  FROM embeddings),
      |cents AS (SELECT vid AS cid, vec AS cv FROM v WHERE vid % 25 = 0),
      |scored AS (
      |  SELECT v.vid, c.cid,
      |    round(list_cosine_similarity(v.vec, c.cv), 5) AS csim
      |  FROM v CROSS JOIN cents c),
      |assign AS (
      |  SELECT vid, cid FROM (
      |    SELECT vid, cid, ROW_NUMBER() OVER (
      |      PARTITION BY vid ORDER BY csim DESC, cid) AS rn
      |    FROM scored) t WHERE rn = 1),
      |av AS (SELECT a.vid, a.cid, v.vec FROM assign a
      |       JOIN v ON v.vid = a.vid),
      |dropped AS (
      |  SELECT DISTINCT b.vid
      |  FROM av a JOIN av b ON a.cid = b.cid AND a.vid < b.vid
      |  WHERE round(list_cosine_similarity(a.vec, b.vec), 5) >= 0.3)
      |SELECT av.vid, av.cid,
      |  CASE WHEN d.vid IS NULL THEN 0 ELSE 1 END AS dropped
      |FROM av LEFT JOIN dropped d ON d.vid = av.vid
      |ORDER BY av.vid""".stripMargin

  // -------------------------------------------------------------------
  // q190 — cohort LTV curves: customers grouped by FIRST-order month,
  // cumulative first-year revenue per cohort by month age — the
  // lifetime-value report behind every retention dashboard. Revenue
  // sums stay DECIMAL-exact through BOTH aggregation levels (per
  // cohort-age, then the cumulative) and only the final projection
  // casts to double, so the hash matches DuckDB bit-for-bit. The
  // cumulative runs as a triangular join on the BOUNDED cohort×age
  // frame (≤ months² rows), never a window over order rows; the
  // corpus-sized work is one scan + the first-order groupBy + one
  // broadcast join of the per-customer cohort back onto orders.
  // -------------------------------------------------------------------
  def q190_cohort_ltv(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .select(col("o_custkey"),
        date_trunc("month", col("o_orderdate")).as("m"),
        col("o_totalprice"))
      .localCheckpoint(eager = true) // cohort derivation + revenue join
    val first = o.groupBy(col("o_custkey"))
      .agg(min(col("m")).as("cohort_month"))
      .localCheckpoint(eager = true) // sizes + the age join
    val sizes = first.groupBy(col("cohort_month"))
      .agg(count(lit(1)).as("cohort_users"))
    val rev = o.join(first, Seq("o_custkey"))
      .withColumn("age_months",
        months_between(col("m"), col("cohort_month")).cast("long"))
      .filter(col("age_months") <= 11)
      .groupBy(col("cohort_month"), col("age_months"))
      .agg(sum(col("o_totalprice").cast(DecimalType(30, 6))).as("r"))
      .localCheckpoint(eager = true) // feeds BOTH triangular sides
    rev.as("a")
      .join(rev.as("b"),
        col("b.cohort_month") === col("a.cohort_month") &&
          col("b.age_months") <= col("a.age_months"))
      .groupBy(col("a.cohort_month").as("cohort_month"),
        col("a.age_months").as("age_months"))
      .agg(sum(col("b.r")).as("cr"))
      .join(sizes, Seq("cohort_month"))
      .select(col("cohort_month"), col("age_months"),
        col("cohort_users"), col("cr").cast("double").as("cum_revenue"))
      .orderBy(col("cohort_month"), col("age_months"))
  }

  val q190_sql: String =
    """WITH o AS (
      |  SELECT o_custkey, date_trunc('month', o_orderdate) AS m,
      |         o_totalprice
      |  FROM orders),
      |first AS (
      |  SELECT o_custkey, MIN(m) AS cohort_month FROM o GROUP BY 1),
      |sizes AS (
      |  SELECT cohort_month, CAST(COUNT(*) AS BIGINT) AS cohort_users
      |  FROM first GROUP BY 1),
      |rev AS (
      |  SELECT cohort_month,
      |    CAST(datediff('month', cohort_month, m) AS BIGINT)
      |      AS age_months,
      |    SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS r
      |  FROM o JOIN first USING (o_custkey)
      |  WHERE datediff('month', cohort_month, m) <= 11
      |  GROUP BY 1, 2)
      |SELECT a.cohort_month, a.age_months, cohort_users,
      |  CAST(SUM(b.r) AS DOUBLE) AS cum_revenue
      |FROM rev a JOIN rev b
      |  ON b.cohort_month = a.cohort_month
      | AND b.age_months <= a.age_months
      |JOIN sizes ON sizes.cohort_month = a.cohort_month
      |GROUP BY a.cohort_month, a.age_months, cohort_users
      |ORDER BY a.cohort_month, a.age_months""".stripMargin

  // -------------------------------------------------------------------
  // q199 — RFM segmentation: customers scored into quintiles on
  // Recency (days since epoch of the last order), Frequency (order
  // count) and Monetary (lifetime spend, DECIMAL-exact then floored to
  // whole-thousand bands so the quantile domain stays BOUNDED — raw
  // near-unique doubles would make the distinct-value table the
  // customer table itself), then counted per (R,F,M) cell — the
  // 125-segment map a CRM team works from. Each quintile comes from
  // the distributed-CDF idiom: per-distinct-value counts, a triangular
  // prefix join on that bounded table, bucket = cum·5 div total — no
  // global ntile window anywhere; the three value→quintile maps
  // broadcast back onto the per-customer frame.
  // -------------------------------------------------------------------
  def q199_rfm_segments(spark: SparkSession, dir: String): DataFrame = {
    val per = Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(datediff(max(col("o_orderdate")).cast("date"),
          lit("1970-01-01").cast("date")).cast("long").as("r"),
        count(lit(1)).as("f"),
        floor(sum(col("o_totalprice").cast(DecimalType(30, 6))) /
          lit(1000)).cast("long").as("m"))
      .localCheckpoint(eager = true) // three quintile maps + the probe
    def quintiles(metric: String): DataFrame = {
      val cnt = per.groupBy(col(metric).as("v"))
        .agg(count(lit(1)).as("c"))
      val tot = cnt.agg(sum(col("c")).as("n"))
      cnt.as("a")
        .join(cnt.as("b"), col("b.v") < col("a.v"), "left")
        .groupBy(col("a.v").as("v"), col("a.c").as("c"))
        .agg(coalesce(sum(col("b.c")), lit(0L)).as("before"))
        .crossJoin(broadcast(tot))
        .select(col("v").as(metric),
          (least(expr("before * 5 div n"), lit(4L)) + 1)
            .as(s"${metric}q"))
    }
    per
      .join(broadcast(quintiles("r")), Seq("r"))
      .join(broadcast(quintiles("f")), Seq("f"))
      .join(broadcast(quintiles("m")), Seq("m"))
      .groupBy(col("rq"), col("fq"), col("mq"))
      .agg(count(lit(1)).as("n_customers"))
      .orderBy(col("rq"), col("fq"), col("mq"))
  }

  val q199_sql: String = {
    def quintile(metric: String): String =
      s"""${metric}cnt AS (
         |  SELECT $metric AS v, CAST(COUNT(*) AS BIGINT) AS c
         |  FROM per GROUP BY 1),
         |${metric}q AS (
         |  SELECT a.v AS $metric,
         |    least(COALESCE(SUM(b.c), 0) * 5 //
         |      (SELECT SUM(c) FROM ${metric}cnt), 4) + 1 AS ${metric}q
         |  FROM ${metric}cnt a LEFT JOIN ${metric}cnt b ON b.v < a.v
         |  GROUP BY a.v)""".stripMargin
    s"""WITH per AS (
       |  SELECT o_custkey,
       |    CAST(datediff('day', DATE '1970-01-01',
       |      CAST(MAX(o_orderdate) AS DATE)) AS BIGINT) AS r,
       |    CAST(COUNT(*) AS BIGINT) AS f,
       |    CAST(floor(SUM(CAST(o_totalprice AS DECIMAL(30,6))) / 1000)
       |      AS BIGINT) AS m
       |  FROM orders GROUP BY 1),
       |${quintile("r")},
       |${quintile("f")},
       |${quintile("m")}
       |SELECT CAST(rq AS BIGINT) AS rq, CAST(fq AS BIGINT) AS fq,
       |  CAST(mq AS BIGINT) AS mq,
       |  CAST(COUNT(*) AS BIGINT) AS n_customers
       |FROM per
       |JOIN rq USING (r) JOIN fq USING (f) JOIN mq USING (m)
       |GROUP BY 1, 2, 3
       |ORDER BY rq, fq, mq""".stripMargin
  }

  val registry: graft.SparkEntry.Registry = Seq(
    ("q199_rfm_segments", q199_rfm_segments _, q199_sql),
    ("q190_cohort_ltv", q190_cohort_ltv _, q190_sql),
    ("q104_semdedup", q104_semdedup _, q104_sql),
    ("q56_minhash_estimate", q56_minhash_estimate _, q56_sql),
    ("q55_grouping_sets", q55_grouping_sets _, q55_sql),
    ("q54_range_join", q54_range_join _, q54_sql),
    ("q52_dep_grouping", q52_dep_grouping _, q52_sql),
    ("q53_running_window", q53_running_window _, q53_sql),
    ("q51_asof_join", q51_asof_join _, q51_sql),
    ("q50_bigram_jaccard", q50_bigram_jaccard _, q50_sql),
    ("q47_kmv_distinct", q47_kmv_distinct _, q47_sql),
    ("q48_salted_join", q48_salted_join _, q48_sql),
    ("q49_revenue_topn", q49_revenue_topn _, q49_sql),
    ("q37_embed_neardup", q37_embed_neardup _, q37_sql),
    ("q146_mutual_nn", q146_mutual_nn _, q146_sql),
    ("q152_centroid_drift", q152_centroid_drift _, q152_sql),
    ("q160_cluster_purity", q160_cluster_purity _, q160_sql),
    ("q38_ivf_ann", q38_ivf_ann _, q38_sql),
    ("q180_ivf_delta_maintenance", q180_ivf_delta_maintenance _, q180_sql),
    ("q39_feature_merge", q39_feature_merge _, q39_sql),
    ("q40_scip_parse", q40_scip_parse _, q40_sql),
    ("q41_token_budget", q41_token_budget _, q41_sql),
    ("q42_cube", q42_cube _, q42_sql),
    ("q43_multimodal_meta", q43_multimodal_meta _, q43_sql),
    ("q44_percentiles", q44_percentiles _, q44_sql),
    ("q45_doc_features", q45_doc_features _, q45_sql),
    ("q46_set_ops", q46_set_ops _, q46_sql))
}
