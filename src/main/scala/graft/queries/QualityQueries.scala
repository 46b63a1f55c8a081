package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.pipeline.{Dedup, Frequency, Multimodal, Sampling, Selection, Similarity, TextAnalysis}

/** Round-4 coverage: the published-heuristic curation ops a pretraining
  * pipeline layers on top of the scoring/dedup stages — all
  * deterministic, integer-exact where division appears, and
  * DuckDB-oracled:
  *
  *   - q84: Gopher-style rule filtering (Rae et al. 2021 §A1.1) — the
  *     five word-level quality gates as 0/1 flags per document;
  *   - q85: shingle-set containment dedup — the directional
  *     quote/excerpt duplicates symmetric Jaccard misses;
  *   - q86: symmetric int8 embedding quantization (scale + integer
  *     checksums, bit-exact on any IEEE engine);
  *   - q87: content-defined chunking — word-hash boundaries that stay
  *     stable under edits (FastCDC at word granularity), vs the fixed
  *     windows of q62;
  *   - q88: token-weighted mixture rebalancing — per-source keep rates
  *     that hit a target token budget, with deterministic membership;
  *   - q89: one k-means Lloyd step (assign + decimal-exact centroid
  *     recompute) — the trainable-codebook companion to q38's IVF;
  *   - q91: snapshot diff (added/removed/changed/unchanged by content
  *     fingerprint) — the change detection an incremental rebuild runs;
  *   - q92: KMV sketch merge — partial per-language sketches unioned
  *     into script groups, the mergeability that distributes
  *     approximate distinct counting;
  *   - q93: quantized ANN re-rank — int8 codes scored with the native
  *     integer dot-product expression (exact, order-independent);
  *   - q94: Bloom-filter decontamination — q79 with a constant-size
  *     (4096-bit) broadcast instead of the full benchmark shingle set;
  *   - q96: deterministic weighted priority sampling (hash div weight);
  *   - q97: incremental aggregate maintenance — old agg + diff deltas
  *     hash-matches the full recompute oracle;
  *   - q98: mergeable second-moment statistics (variance/covariance/
  *     correlation sufficient stats as exact integer sums);
  *   - q99: cross-media frame dedup (the q65 fan-out composed with
  *     exact dedup — content-addressable media storage);
  *   - q100: the end-to-end Curation.curate build certified against a
  *     single composed oracle.
  *     (q90 retention lives with the other event queries; q95
  *     triangles with the graph queries.)
  */
object QualityQueries {

  private def hash60Sql(salt: String, idExpr: String): String =
    Sampling.hash60Sql(salt, idExpr)

  // -------------------------------------------------------------------
  // q84 — Gopher rule flags per document. Word-count bounds [50,1e5],
  // mean word length in [3,10] (ppm integer division — no float
  // boundaries), ≤10% symbol-only words, ≥80% words containing a
  // letter, ≥2 distinct common stopwords. Row-local projection.
  // -------------------------------------------------------------------
  def q84_gopher_rules(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.gopherRulesDf(Tables.documents(spark, dir),
        "doc_id", "text")
      .orderBy(col("doc_id"))

  val q84_sql: String = {
    val swList = TextAnalysis.gopherStopwords.map(w => s"'$w'")
      .mkString(",")
    s"""WITH t AS (
       |  SELECT doc_id,
       |    CASE WHEN trim(text) = '' THEN []
       |         ELSE regexp_split_to_array(trim(text), '\\s+') END AS tk,
       |    CASE WHEN trim(text) = '' THEN []
       |         ELSE regexp_split_to_array(trim(lower(text)), '\\s+')
       |         END AS ltk
       |  FROM documents),
       |c AS (
       |  SELECT doc_id,
       |    CAST(len(tk) AS BIGINT) AS nw,
       |    CAST(coalesce(list_sum(list_transform(tk, x -> length(x))), 0)
       |      AS BIGINT) AS sumlen,
       |    CAST(len(list_filter(tk, x -> regexp_matches(x, '[A-Za-z]')))
       |      AS BIGINT) AS alpha,
       |    CAST(len(list_filter(tk,
       |      x -> NOT regexp_matches(x, '[A-Za-z0-9]'))) AS BIGINT) AS sym,
       |    CAST(len(list_filter([$swList],
       |      w -> list_contains(ltk, w))) AS BIGINT) AS stop
       |  FROM t),
       |f AS (
       |  SELECT doc_id,
       |    CASE WHEN nw >= 50 AND nw <= 100000 THEN 1 ELSE 0
       |      END AS r_wordcount,
       |    CASE WHEN nw > 0 AND (sumlen * 1000000) // nw
       |      BETWEEN 3000000 AND 10000000 THEN 1 ELSE 0 END AS r_meanlen,
       |    CASE WHEN nw > 0 AND sym * 10 <= nw THEN 1 ELSE 0
       |      END AS r_symbol,
       |    CASE WHEN nw > 0 AND alpha * 5 >= nw * 4 THEN 1 ELSE 0
       |      END AS r_alpha,
       |    CASE WHEN stop >= 2 THEN 1 ELSE 0 END AS r_stopword
       |  FROM c)
       |SELECT doc_id, r_wordcount, r_meanlen, r_symbol, r_alpha,
       |  r_stopword,
       |  CASE WHEN r_wordcount + r_meanlen + r_symbol + r_alpha +
       |    r_stopword = 5 THEN 1 ELSE 0 END AS pass
       |FROM f
       |ORDER BY doc_id""".stripMargin
  }

  // -------------------------------------------------------------------
  // q85 — bigram-set containment pairs (inner ⊂ outer, strictly
  // smaller): the excerpt/quote duplicates a Jaccard threshold misses.
  // Prefix-filtered (rarest-shingle candidates, then verify) — the
  // all-pairs join this replaces went quadratic on templated corpora.
  // -------------------------------------------------------------------
  def q85_containment(spark: SparkSession, dir: String): DataFrame =
    Dedup.containmentPairs(Tables.documents(spark, dir), "doc_id",
        "text", n = 2)
      .orderBy(col("inner_id"), col("outer_id"))

  val q85_sql: String =
    """WITH t AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk
      |  FROM documents WHERE trim(text) <> ''),
      |sh AS (
      |  SELECT DISTINCT doc_id, s FROM t,
      |    unnest([array_to_string(tk[i:i+1], ' ')
      |            FOR i IN generate_series(1, len(tk) - 1)]) AS u(s)
      |  WHERE len(tk) >= 2),
      |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS inner_id, b.doc_id AS outer_id,
      |         COUNT(*) AS n
      |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id <> b.doc_id
      |  GROUP BY 1, 2)
      |SELECT inner_id, outer_id,
      |  sa.sz AS size_inner, sb.sz AS size_outer
      |FROM inter
      |JOIN sizes sa ON inner_id = sa.doc_id
      |JOIN sizes sb ON outer_id = sb.doc_id
      |WHERE n = sa.sz AND sa.sz < sb.sz
      |ORDER BY inner_id, outer_id""".stripMargin

  // -------------------------------------------------------------------
  // q86 — int8 embedding quantization: per-vector scale (ppb integer)
  // plus integer checksums of the quantized vector (sum, L1, min, max).
  // Every step is IEEE-double exact, so the checksums hash-match any
  // engine.
  // -------------------------------------------------------------------
  def q86_embed_quantize(spark: SparkSession, dir: String): DataFrame =
    Similarity.quantizeInt8(Tables.embeddings(spark, dir), "vec_id",
        "embedding")
      .select(col("vec_id"), col("scale_ppb"),
        aggregate(col("q"), lit(0L), (a, x) => a + x).as("q_sum"),
        aggregate(col("q"), lit(0L), (a, x) => a + abs(x)).as("q_l1"),
        array_min(col("q")).as("q_min"),
        array_max(col("q")).as("q_max"))
      .orderBy(col("vec_id"))

  val q86_sql: String =
    """WITH v AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS dv
      |  FROM embeddings),
      |m AS (
      |  SELECT vec_id, dv,
      |    list_max(list_transform(dv, x -> abs(x))) AS mx
      |  FROM v),
      |q AS (
      |  SELECT vec_id,
      |    CAST(floor(mx * 1e9) AS BIGINT) AS scale_ppb,
      |    CASE WHEN mx > 0.0
      |      THEN list_transform(dv,
      |        x -> CAST(floor(x / mx * 127.0 + 0.5) AS BIGINT))
      |      ELSE list_transform(dv, x -> CAST(0 AS BIGINT)) END AS lq
      |  FROM m)
      |SELECT vec_id, scale_ppb,
      |  CAST(list_sum(lq) AS BIGINT) AS q_sum,
      |  CAST(list_sum(list_transform(lq, x -> abs(x))) AS BIGINT) AS q_l1,
      |  list_min(lq) AS q_min,
      |  list_max(lq) AS q_max
      |FROM q
      |ORDER BY vec_id""".stripMargin

  // -------------------------------------------------------------------
  // q87 — content-defined chunking: boundary after any token whose
  // 60-bit hash ≡ 0 (mod 16); expected chunk ≈ 16 words, boundaries
  // stable under edits. Per-chunk word counts.
  // -------------------------------------------------------------------
  def q87_cdc_chunks(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.cdcChunks(Tables.documents(spark, dir), "doc_id",
        "text", modulus = 16)
      .orderBy(col("doc_id"), col("chunk_idx"))

  val q87_sql: String =
    s"""WITH t AS (
       |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS tk
       |  FROM documents WHERE trim(text) <> ''),
       |w AS (
       |  SELECT doc_id, i, tk[i] AS tok
       |  FROM t, unnest(generate_series(1, len(tk))) AS g(i)),
       |b AS (
       |  SELECT doc_id, i,
       |    CASE WHEN ${hash60Sql("cdc", "tok")} % 16 = 0 THEN 1 ELSE 0
       |      END AS bnd
       |  FROM w),
       |ch AS (
       |  SELECT doc_id,
       |    coalesce(SUM(bnd) OVER (PARTITION BY doc_id ORDER BY i
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS chunk_idx
       |  FROM b)
       |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
       |  COUNT(*) AS n_words
       |FROM ch
       |GROUP BY doc_id, chunk_idx
       |ORDER BY doc_id, chunk_idx""".stripMargin

  // -------------------------------------------------------------------
  // q88 — token-weighted mixture rebalancing: src0/src1 are capped at a
  // 400-token budget (down-sampled), every other source keeps its full
  // token mass. Report per source: corpus size, derived keep rate, and
  // the achieved (deterministic) sample.
  // -------------------------------------------------------------------
  def q88_source_mixture(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .filter(length(trim(col("text"))) > 0)
      .withColumn("n_toks",
        TextAnalysis.tokenCount(col("text")).cast("long"))
    Sampling.tokenMixtureSample(docs, "doc_id", "source", "n_toks",
        targetTokens = Map("src0" -> 400L, "src1" -> 400L),
        defaultTarget = 1000000L)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_toks")).cast("long").as("n_tokens"),
        max(col("rate_ppm")).as("rate_ppm"),
        sum(col("kept")).cast("long").as("kept_docs"),
        sum(col("kept") * col("n_toks")).cast("long").as("kept_tokens"))
      .orderBy(col("source"))
  }

  val q88_sql: String =
    s"""WITH tc AS (
       |  SELECT doc_id, source,
       |    CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
       |      AS n_toks
       |  FROM documents WHERE trim(text) <> ''),
       |tot AS (
       |  SELECT source, CAST(SUM(n_toks) AS BIGINT) AS total FROM tc
       |  GROUP BY source),
       |r AS (
       |  SELECT source,
       |    least(1000000, (CAST(CASE source WHEN 'src0' THEN 400
       |      WHEN 'src1' THEN 400 ELSE 1000000 END AS BIGINT)
       |      * 1000000) // total) AS rate_ppm
       |  FROM tot),
       |k AS (
       |  SELECT tc.source, tc.n_toks, r.rate_ppm,
       |    CASE WHEN ${hash60Sql("mix", "tc.doc_id")} % 1000000
       |      < r.rate_ppm THEN 1 ELSE 0 END AS kept
       |  FROM tc JOIN r ON tc.source = r.source)
       |SELECT source, COUNT(*) AS n_docs,
       |  CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
       |  MAX(rate_ppm) AS rate_ppm,
       |  CAST(SUM(kept) AS BIGINT) AS kept_docs,
       |  CAST(SUM(kept * n_toks) AS BIGINT) AS kept_tokens
       |FROM k
       |GROUP BY source
       |ORDER BY source""".stripMargin

  // -------------------------------------------------------------------
  // q89 — one k-means (Lloyd) step: assign every embedding to its
  // nearest codebook centroid (every-25th vector, q38's deterministic
  // codebook), then recompute the per-(centroid, dimension) component
  // sums decimal-exactly. Assignment reuses the oracle-proven
  // round(cosine,5) + id tie-break; the reduce is the long-format
  // wide-mean that scales to billion-vector corpora.
  // -------------------------------------------------------------------
  def q89_kmeans_step(spark: SparkSession, dir: String): DataFrame = {
    val v = Tables.embeddings(spark, dir)
      .select(col("vec_id").as("vid"),
        col("embedding").cast("array<double>").as("vec"))
    val cents = v.filter(col("vid") % 25 === 0)
      .select(col("vid").as("cid"), col("vec").as("cv"))
    val assigned = Similarity.ivfAssign(
      v.withColumnRenamed("vec", "v"), cents)
    graft.pipeline.Clusters.centroidRecompute(assigned, v)
      .orderBy(col("cid"), col("dim"))
  }

  val q89_sql: String =
    """WITH v AS (
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
      |d AS (
      |  SELECT a.cid, g.i - 1 AS dim, v.vec[g.i] AS component
      |  FROM asg a JOIN v ON a.vid = v.vid,
      |       unnest(generate_series(1, len(v.vec))) AS g(i))
      |SELECT cid, CAST(dim AS INT) AS dim, COUNT(*) AS n_members,
      |  CAST(floor(SUM(CAST(component AS DECIMAL(30,6))) * 1000000)
      |    AS BIGINT) AS dim_sum_ppm
      |FROM d
      |GROUP BY cid, dim
      |ORDER BY cid, dim""".stripMargin

  // -------------------------------------------------------------------
  // q91 — snapshot diff (incremental-rebuild change detection): two
  // deterministic synthetic snapshots of the corpus (old = ids not
  // ≡0 mod 20; new = ids not ≡0 mod 30, with ids ≡0 mod 7 edited) are
  // classified added/removed/changed/unchanged by content fingerprint.
  // One column-pruned full outer join on the id.
  // -------------------------------------------------------------------
  def q91_snapshot_diff(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"),
      col("text"))
    val oldSnap = docs.filter(col("doc_id") % 20 =!= 0)
      .withColumn("fp", md5(col("text")))
    val newSnap = docs.filter(col("doc_id") % 30 =!= 0)
      .withColumn("fp", md5(
        when(col("doc_id") % 7 === 0, concat(col("text"), lit(" EDIT")))
          .otherwise(col("text"))))
    graft.pipeline.Curation.snapshotDiff(oldSnap, newSnap, "doc_id", "fp")
      .orderBy(col("doc_id"))
  }

  val q91_sql: String =
    """WITH o AS (
      |  SELECT doc_id, md5(text) AS fp FROM documents
      |  WHERE doc_id % 20 <> 0),
      |n AS (
      |  SELECT doc_id,
      |    md5(CASE WHEN doc_id % 7 = 0 THEN text || ' EDIT'
      |        ELSE text END) AS fp
      |  FROM documents WHERE doc_id % 30 <> 0)
      |SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
      |  CASE WHEN o.fp IS NULL THEN 'added'
      |       WHEN n.fp IS NULL THEN 'removed'
      |       WHEN o.fp <> n.fp THEN 'changed'
      |       ELSE 'unchanged' END AS status
      |FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
      |ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------
  // q92 — KMV sketch MERGE: per-language k-minimum-values sketches of
  // the distinct token space are merged into script groups (latin vs
  // cjk) by unioning the retained minima and re-taking the k smallest
  // — the mergeability that makes sketch aggregation distributable
  // (partial sketches per partition/shard, one tiny reduce; never a
  // global distinct over 100 TB). Estimate vs exact per group.
  // -------------------------------------------------------------------
  private val KmvK = 64

  def q92_kmv_merge(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    val toks = Tables.documents(spark, dir)
      .select(col("lang"),
        explode(TextAnalysis.tokens(col("text"))).as("tok"))
      .distinct()
    val grpOf = (c: org.apache.spark.sql.Column) =>
      when(c === "zh", "cjk").otherwise("latin")
    val hashed = toks.withColumn("h",
      conv(substring(md5(col("tok")), 1, 15), 16, 10).cast("long"))
    // per-language sketch: the k smallest hashes of that language via
    // the shared two-phase k-min (partitionBy(lang) alone would sort
    // a whole language's vocabulary in ONE partition at corpus scale)
    val perLang = graft.pipeline.Ranks
      .twoPhaseKMin(hashed, "lang", "h", "tok", KmvK)
    // merge: union member sketches, dedupe shared tokens, re-take k
    val merged = perLang.select(grpOf(col("lang")).as("grp"), col("h"))
      .distinct()
      .withColumn("rn", row_number().over(
        w.partitionBy(col("grp")).orderBy(col("h"))))
      .filter(col("rn") <= KmvK)
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("cnt"), max(col("h")).as("kth"))
      .withColumn("kmv_distinct",
        when(col("cnt") < KmvK, col("cnt"))
          .otherwise(floor(lit((KmvK - 1).toDouble) *
            lit(1152921504606846976.0) / col("kth")).cast("long")))
    val exact = toks.select(grpOf(col("lang")).as("grp"), col("tok"))
      .groupBy(col("grp")).agg(countDistinct(col("tok")).as("exact_toks"))
    merged.join(exact, Seq("grp"))
      .select(col("grp"), col("kmv_distinct"), col("exact_toks"))
      .orderBy(col("grp"))
  }

  val q92_sql: String =
    s"""WITH toks AS (
       |  SELECT DISTINCT lang, tok FROM (
       |    SELECT lang,
       |      unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
       |    FROM documents WHERE trim(text) <> '')),
       |h AS (
       |  SELECT lang, tok,
       |    CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS h
       |  FROM toks),
       |pl AS (
       |  SELECT lang, h FROM (
       |    SELECT lang, h, ROW_NUMBER() OVER (
       |      PARTITION BY lang ORDER BY h, tok) AS rn
       |    FROM h) WHERE rn <= $KmvK),
       |mg AS (
       |  SELECT DISTINCT
       |    CASE WHEN lang = 'zh' THEN 'cjk' ELSE 'latin' END AS grp, h
       |  FROM pl),
       |mk AS (
       |  SELECT grp, h FROM (
       |    SELECT grp, h, ROW_NUMBER() OVER (
       |      PARTITION BY grp ORDER BY h) AS rn
       |    FROM mg) WHERE rn <= $KmvK),
       |s AS (
       |  SELECT grp, COUNT(*) AS cnt, MAX(h) AS kth FROM mk
       |  GROUP BY grp),
       |e AS (
       |  SELECT grp, COUNT(DISTINCT tok) AS exact_toks FROM (
       |    SELECT CASE WHEN lang = 'zh' THEN 'cjk' ELSE 'latin' END
       |      AS grp, tok FROM toks)
       |  GROUP BY grp)
       |SELECT s.grp,
       |  CASE WHEN cnt < $KmvK THEN cnt
       |       ELSE CAST(floor(${KmvK - 1}.0 * 1152921504606846976 / kth)
       |         AS BIGINT) END AS kmv_distinct,
       |  e.exact_toks
       |FROM s JOIN e ON s.grp = e.grp
       |ORDER BY s.grp""".stripMargin

  // -------------------------------------------------------------------
  // q93 — quantized ANN re-rank: the int8 pipeline end-to-end. Corpus
  // and queries (every 50th vector, q38's query set) quantize with
  // quantizeInt8; candidates score with the native integer dot-product
  // expression (one fused codegen loop, exact integer arithmetic —
  // order-independent, the property float scoring lacks); top-3 per
  // query by (score desc, id). Query side broadcasts; the corpus is
  // scanned once — the int8 brute-force that 4x-outscans float32.
  // -------------------------------------------------------------------
  def q93_quantized_ann(spark: SparkSession, dir: String): DataFrame = {
    val q = Similarity.quantizeInt8(Tables.embeddings(spark, dir),
      "vec_id", "embedding")
    val corpus = q.select(col("vec_id").as("neighbor_id"),
      col("q").as("cq"))
    val queries = q.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("query_id"), col("q").as("qq"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("dot").desc, col("neighbor_id"))
    corpus.join(broadcast(queries),
        col("query_id") =!= col("neighbor_id"))
      .withColumn("dot", Similarity.intDot(col("qq"), col("cq")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("query_id"), col("neighbor_id"), col("dot"), col("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  val q93_sql: String =
    """WITH v AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS dv
      |  FROM embeddings),
      |m AS (
      |  SELECT vec_id, dv,
      |    list_max(list_transform(dv, x -> abs(x))) AS mx
      |  FROM v),
      |q AS (
      |  SELECT vec_id,
      |    CASE WHEN mx > 0.0
      |      THEN list_transform(dv,
      |        x -> CAST(floor(x / mx * 127.0 + 0.5) AS BIGINT))
      |      ELSE list_transform(dv, x -> CAST(0 AS BIGINT)) END AS lq
      |  FROM m),
      |scored AS (
      |  SELECT qs.vec_id AS query_id, c.vec_id AS neighbor_id,
      |    CAST(list_dot_product(
      |      CAST(qs.lq AS DOUBLE[]), CAST(c.lq AS DOUBLE[])) AS BIGINT)
      |      AS dot
      |  FROM q qs JOIN q c ON qs.vec_id % 50 = 0
      |    AND c.vec_id <> qs.vec_id),
      |r AS (
      |  SELECT query_id, neighbor_id, dot, ROW_NUMBER() OVER (
      |    PARTITION BY query_id ORDER BY dot DESC, neighbor_id) AS rank
      |  FROM scored)
      |SELECT query_id, neighbor_id, dot, rank FROM r WHERE rank <= 3
      |ORDER BY query_id, rank""".stripMargin

  // -------------------------------------------------------------------
  // q94 — Bloom-filter decontamination: q79's benchmark-overlap scan
  // with the benchmark shingle set compressed into a 4096-bit Bloom
  // filter (3 salted hash positions per shingle). The filter is 64
  // longs REGARDLESS of benchmark size — the broadcast stays
  // constant-size where q79's exact set grows with the eval suite —
  // at the price of deterministic false positives (same bit layout on
  // any engine, so even the FPs oracle exactly). Per corpus doc:
  // Bloom-flagged shingles vs total.
  // -------------------------------------------------------------------
  private val BloomBits = 4096

  def q94_bloom_decontam(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // all 3 positions from ONE md5 (disjoint 40-bit substrings), the
    // hash materialized in its own projection so it computes once per
    // shingle row — not three salted hashes
    def withPositions(sh: DataFrame): DataFrame =
      sh.withColumn("_h", md5(col("shingle")))
        .withColumn("_positions", array(Seq(1, 11, 21).map(off =>
          conv(substring(col("_h"), off, 10), 16, 10).cast("long")
            % BloomBits): _*))
    val bitset = withPositions(
        Dedup.shingleRows(docs.filter(col("doc_id") < 5),
          "doc_id", "text", 4))
      .select(explode(col("_positions")).as("pos")).distinct()
      .select(expr("pos div 64").as("word"),
        expr("shiftleft(cast(1 as bigint), cast(pos % 64 as int))")
          .as("bit"))
      .groupBy(col("word")).agg(bit_or(col("bit")).as("mask"))
    // probe WITHOUT exploding: each of the 3 positions becomes a cheap
    // broadcast join against the 64-row bitset, the flag is the AND of
    // the three bit tests, and ONE per-doc aggregation remains — no 3×
    // row blowup, no per-(doc, shingle) re-grouping
    val probed = (1 to 3).foldLeft(withPositions(
        Dedup.shingleRows(docs.filter(col("doc_id") >= 5),
          "doc_id", "text", 4))) { (df, i) =>
      df.withColumn(s"_w$i", expr(s"element_at(_positions, $i) div 64"))
        .withColumn(s"_b$i", expr("shiftleft(cast(1 as bigint), " +
          s"cast(element_at(_positions, $i) % 64 as int))"))
        .join(broadcast(bitset.select(col("word").as(s"_w$i"),
          col("mask").as(s"_m$i"))), Seq(s"_w$i"), "left")
    }
    val flagged = (1 to 3).map(i =>
      coalesce(col(s"_m$i"), lit(0L)).bitwiseAND(col(s"_b$i")) =!= 0L)
      .reduce(_ && _)
    probed
      .groupBy(col("doc").as("doc_id"))
      .agg(sum(when(flagged, 1L).otherwise(0L)).as("n_flagged"),
        count(lit(1)).as("n_shingles"))
      .filter(col("n_flagged") > 0)
      .orderBy(col("doc_id"))
  }

  val q94_sql: String = {
    def pos(off: Int) =
      s"CAST(('0x' || substr(md5(shingle), $off, 10)) AS BIGINT) " +
        s"% $BloomBits"
    s"""WITH t AS (
       |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS tk
       |  FROM documents WHERE trim(text) <> ''),
       |sh AS (
       |  SELECT DISTINCT doc_id,
       |    unnest([array_to_string(tk[i:i+3], ' ')
       |            FOR i IN generate_series(1, len(tk) - 3)]) AS shingle
       |  FROM t WHERE len(tk) >= 4),
       |bpos AS (
       |  SELECT DISTINCT pos FROM (
       |    SELECT unnest([${pos(1)}, ${pos(11)}, ${pos(21)}])
       |      AS pos
       |    FROM sh WHERE doc_id < 5)),
       |bits AS (
       |  -- UBIGINT: DuckDB range-checks signed shifts (1::BIGINT << 63
       |  -- errors); the bit PATTERN matches Spark's signed long
       |  SELECT pos // 64 AS word,
       |    bit_or(CAST(1 AS UBIGINT) << CAST(pos % 64 AS INT)) AS mask
       |  FROM bpos GROUP BY 1),
       |cpos AS (
       |  SELECT doc_id, shingle, u.pos
       |  FROM sh, unnest([${pos(1)}, ${pos(11)}, ${pos(21)}])
       |       AS u(pos)
       |  WHERE doc_id >= 5),
       |probe AS (
       |  SELECT c.doc_id, c.shingle,
       |    SUM(CASE WHEN (coalesce(b.mask, CAST(0 AS UBIGINT)) &
       |      (CAST(1 AS UBIGINT) << CAST(c.pos % 64 AS INT))) <> 0
       |      THEN 1 ELSE 0 END) AS n_set
       |  FROM cpos c LEFT JOIN bits b ON c.pos // 64 = b.word
       |  GROUP BY 1, 2)
       |SELECT doc_id,
       |  CAST(SUM(CASE WHEN n_set = 3 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_flagged,
       |  COUNT(*) AS n_shingles
       |FROM probe
       |GROUP BY doc_id
       |HAVING SUM(CASE WHEN n_set = 3 THEN 1 ELSE 0 END) > 0
       |ORDER BY doc_id""".stripMargin
  }

  // -------------------------------------------------------------------
  // q96 — weighted priority sampling: 10 docs per language, selection
  // odds proportional to document length (n_chars), membership still a
  // pure hash function (reproducible, no RNG). Integer priority =
  // hash60 div weight — the Duffield-style priority sample made
  // engine-portable by floor division.
  // -------------------------------------------------------------------
  def q96_weighted_sample(spark: SparkSession, dir: String): DataFrame =
    Sampling.weightedPrioritySample(Tables.documents(spark, dir),
        "doc_id", "lang", "n_chars", k = 10)
      .select(col("lang"), col("rank"), col("doc_id"), col("n_chars"))
      .orderBy(col("lang"), col("rank"))

  val q96_sql: String =
    s"""WITH p AS (
       |  SELECT lang, doc_id, n_chars,
       |    ${hash60Sql("wsample", "doc_id")} // n_chars AS priority
       |  FROM documents WHERE n_chars > 0),
       |r AS (
       |  SELECT lang, doc_id, n_chars, ROW_NUMBER() OVER (
       |    PARTITION BY lang ORDER BY priority, doc_id) AS rank
       |  FROM p)
       |SELECT lang, rank, doc_id, n_chars FROM r
       |WHERE rank <= 10
       |ORDER BY lang, rank""".stripMargin

  // -------------------------------------------------------------------
  // q97 — incremental aggregate maintenance: per-language (n_docs,
  // total_chars) for the NEW snapshot, computed WITHOUT scanning it —
  // the old snapshot's aggregate is merged with +/- deltas derived
  // from the q91 snapshot diff (added: +1/+len; removed: -1/-len;
  // changed: length delta). The oracle aggregates the new snapshot
  // directly, so a hash match PROVES the incremental path equals the
  // full recompute — the property that lets a 100 TB rebuild touch
  // only changed rows. Delta volume ~ churn, not corpus size.
  // -------------------------------------------------------------------
  def q97_incremental_agg(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("text"))
    val oldSnap = docs.filter(col("doc_id") % 20 =!= 0)
      .withColumn("len", length(col("text")).cast("long"))
      .withColumn("fp", md5(col("text")))
    val newSnap = docs.filter(col("doc_id") % 30 =!= 0)
      .withColumn("text2",
        when(col("doc_id") % 7 === 0, concat(col("text"), lit(" EDIT")))
          .otherwise(col("text")))
      .withColumn("len", length(col("text2")).cast("long"))
      .withColumn("fp", md5(col("text2")))
    val oldAgg = oldSnap.groupBy(col("lang"))
      .agg(count(lit(1)).as("c0"), sum(col("len")).as("s0"))
    // ONE payload-carrying full outer join computes the diff status AND
    // the deltas together (q91 exercises the general snapshotDiff op;
    // re-joining its (id, status) output back to both snapshots would
    // add two corpus-width shuffles just to recover lang/len)
    val deltas = oldSnap
      .select(col("doc_id"), col("lang").as("_lo"),
        col("len").as("_llo"), col("fp").as("_fo"), lit(1).as("_io"))
      .join(newSnap.select(col("doc_id"), col("lang").as("_ln"),
          col("len").as("_lln"), col("fp").as("_fn"), lit(1).as("_in")),
        Seq("doc_id"), "full_outer")
      .filter(col("_io").isNull || col("_in").isNull ||
        !(col("_fo") <=> col("_fn"))) // churn rows only
      .select(coalesce(col("_ln"), col("_lo")).as("_dl"),
        when(col("_io").isNull, 1L).when(col("_in").isNull, -1L)
          .otherwise(0L).as("dc"),
        (coalesce(col("_lln"), lit(0L)) - coalesce(col("_llo"), lit(0L)))
          .as("ds"))
      .groupBy(col("_dl"))
      .agg(sum(col("dc")).as("dc"), sum(col("ds")).as("ds"))
    // null-safe merge: a null lang is a stratum — a plain equi-join
    // would split its old-agg and delta rows into two outputs
    oldAgg.join(deltas, col("lang") <=> col("_dl"), "full_outer")
      .select(coalesce(col("lang"), col("_dl")).as("lang"),
        (coalesce(col("c0"), lit(0L)) + coalesce(col("dc"), lit(0L)))
          .as("n_docs"),
        (coalesce(col("s0"), lit(0L)) + coalesce(col("ds"), lit(0L)))
          .as("total_chars"))
      .filter(col("n_docs") > 0)
      .orderBy(col("lang"))
  }

  val q97_sql: String =
    """SELECT lang, COUNT(*) AS n_docs,
      |  CAST(SUM(length(CASE WHEN doc_id % 7 = 0 THEN text || ' EDIT'
      |    ELSE text END)) AS BIGINT) AS total_chars
      |FROM documents
      |WHERE doc_id % 30 <> 0
      |GROUP BY lang
      |ORDER BY lang""".stripMargin

  // -------------------------------------------------------------------
  // q167 — incremental JOIN-view maintenance (the delta-join identity):
  // the maintained view is per-customer (n_items, revenue) over
  // orders ⋈ lineitem. Given insert-only deltas ΔO and ΔL, the new
  // view's pair set is  V ∪ ΔO⋈L ∪ O⋈ΔL ∪ ΔO⋈ΔL  — the incremental
  // path aggregates ONLY the three delta joins and merges their partial
  // aggregates into the old view's, never rescanning the base pair set.
  // Deltas are churn-sized by construction, so each delta join
  // BROADCASTS its delta side: the base side is probed in place with no
  // shuffle — at 100 TB that is the difference between touching the
  // whole corpus and touching the day's churn. Partial revenue sums
  // stay DECIMAL(30,6) until after the merge (decimal addition is
  // exact and associative), so the incremental result hash-matches the
  // oracle's full recompute bit-for-bit — the equality that makes IVM
  // trustworthy. ΔO and ΔL use independent predicates (orderkey%10,
  // orderkey%7) so all three cross terms are non-empty.
  // -------------------------------------------------------------------
  def q167_incremental_join(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"))
    val l = Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("o_orderkey"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("rev"))
    val baseO = o.filter(col("o_orderkey") % 10 < 8)
    val deltaO = o.filter(col("o_orderkey") % 10 >= 8)
    val baseL = l.filter(col("o_orderkey") % 7 =!= 0)
    val deltaL = l.filter(col("o_orderkey") % 7 === 0)
    def agg(pairs: DataFrame): DataFrame = pairs
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n"),
        sum(col("rev").cast(DecimalType(30, 6))).as("s"))
    val oldView = agg(baseO.join(baseL, Seq("o_orderkey")))
    val deltaView = agg(
      broadcast(deltaO).join(baseL, Seq("o_orderkey"))
        .unionByName(baseO.join(broadcast(deltaL), Seq("o_orderkey")))
        .unionByName(broadcast(deltaO)
          .join(broadcast(deltaL), Seq("o_orderkey"))))
    oldView.select(col("o_custkey"), col("n").as("n0"), col("s").as("s0"))
      .join(deltaView, Seq("o_custkey"), "full_outer")
      .select(col("o_custkey"),
        (coalesce(col("n0"), lit(0L)) + coalesce(col("n"), lit(0L)))
          .as("n_items"),
        (coalesce(col("s0"), lit(0).cast(DecimalType(30, 6))) +
          coalesce(col("s"), lit(0).cast(DecimalType(30, 6))))
          .cast("double").as("revenue"))
      .filter(col("n_items") > 0)
      .orderBy(col("o_custkey"))
  }

  val q167_sql: String =
    """SELECT o_custkey, COUNT(*) AS n_items,
      |  CAST(SUM(CAST((l_extendedprice * (1 - l_discount))
      |    AS DECIMAL(30,6))) AS DOUBLE) AS revenue
      |FROM orders JOIN lineitem ON l_orderkey = o_orderkey
      |GROUP BY o_custkey
      |ORDER BY o_custkey""".stripMargin

  // -------------------------------------------------------------------
  // q171 — leave-one-out target encoding (the leakage-safe categorical
  // feature every tabular-ML pipeline derives): encode each order's
  // market segment as the mean target (o_totalprice) of all OTHER
  // orders in that segment — (S − x) / (n − 1) — so a row never sees
  // its own label (the train-time leak plain target encoding has).
  // Shape at scale: ONE pass builds the per-segment (n, S) aggregate
  // (5 rows), which broadcasts back onto the fact scan — no window
  // function over the whole table, no second shuffle. Arithmetic is
  // decimal-exact into integer micro-units (×10⁶, then integer div),
  // so the encoding is bit-identical on any engine.
  // -------------------------------------------------------------------
  def q171_target_encoding(spark: SparkSession, dir: String): DataFrame = {
    // target in exact integer micro-units from the first projection —
    // decimal×int widening rules differ per engine past width 38, but
    // BIGINT micro arithmetic is portable everywhere
    val o = Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir)
          .select(col("c_custkey").as("o_custkey"), col("c_mktsegment")),
        Seq("o_custkey"))
      .select(col("o_orderkey"), col("c_mktsegment"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(24,6)) * 1000000 " +
          "AS BIGINT)").as("x_micro"))
    val seg = o.groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"), sum(col("x_micro")).as("s_micro"))
    o.join(broadcast(seg), Seq("c_mktsegment"))
      .filter(col("o_orderkey") % 101 === 0 && col("n") > 1)
      .select(col("o_orderkey"), col("c_mktsegment"),
        expr("(s_micro - x_micro) div (n - 1)").as("loo_mean_micro"))
      .orderBy(col("o_orderkey"))
  }

  val q171_sql: String =
    """WITH o AS (
      |  SELECT o_orderkey, c_mktsegment,
      |    CAST(CAST(o_totalprice AS DECIMAL(24,6)) * 1000000 AS BIGINT)
      |      AS x_micro
      |  FROM orders JOIN customer ON c_custkey = o_custkey),
      |seg AS (
      |  SELECT c_mktsegment, COUNT(*) AS n,
      |    CAST(SUM(x_micro) AS BIGINT) AS s_micro
      |  FROM o GROUP BY c_mktsegment)
      |SELECT o_orderkey, o.c_mktsegment,
      |  (s_micro - x_micro) // (n - 1) AS loo_mean_micro
      |FROM o JOIN seg ON seg.c_mktsegment = o.c_mktsegment
      |WHERE o_orderkey % 101 = 0 AND n > 1
      |ORDER BY o_orderkey""".stripMargin

  // -------------------------------------------------------------------
  // q172 — data-quality expectations suite (the Great-Expectations/dbt
  // gate a pipeline runs before promoting a snapshot): seven named
  // constraints — range, domain, null, primary-key uniqueness and two
  // cross-table foreign keys — each reported as (constraint, n_checked,
  // n_violations). Shape at scale: the four row-local rules per table
  // fold into ONE aggregation pass over that table's scan (sum of CASE
  // flags — no per-rule scans); uniqueness is a single groupBy on the
  // key; FK checks are anti-joins whose build side is the distinct key
  // projection. The report is 7 rows however big the data is.
  // -------------------------------------------------------------------
  def q172_expectations(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
    val o = Tables.orders(spark, dir)
    def viol(name: String, bad: org.apache.spark.sql.Column,
        df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n_checked"),
          sum(when(bad, 1L).otherwise(0L)).as("n_violations"))
        .select(lit(name).as("check_name"), col("n_checked"),
          col("n_violations"))
    val rowRules = Seq(
      viol("lineitem.quantity_in_1_50",
        !col("l_quantity").between(1, 50), l),
      viol("lineitem.discount_in_0_0.11",
        !col("l_discount").between(0.0, 0.11), l),
      viol("orders.totalprice_positive", col("o_totalprice") <= 0, o),
      viol("orders.status_in_domain",
        !col("o_orderstatus").isin("O", "F", "P"), o))
    val pkDupes = l.groupBy(col("l_orderkey"), col("l_linenumber"))
      .agg(count(lit(1)).as("c"))
      .agg(coalesce(sum(when(col("c") > 1, col("c"))), lit(0L))
          .as("n_violations"),
        sum(col("c")).as("n_checked"))
      .select(lit("lineitem.pk_unique").as("check_name"),
        col("n_checked"), col("n_violations"))
    def fkRule(name: String, fact: DataFrame, key: String,
        dim: DataFrame, dimKey: String): DataFrame = {
      val orphans = fact.select(col(key))
        .join(dim.select(col(dimKey).as(key)).distinct(),
          Seq(key), "left_anti")
        .agg(count(lit(1)).as("n_violations"))
      fact.agg(count(lit(1)).as("n_checked")).crossJoin(orphans)
        .select(lit(name).as("check_name"), col("n_checked"),
          col("n_violations"))
    }
    val fks = Seq(
      fkRule("lineitem.fk_orders", l, "l_orderkey",
        o.select(col("o_orderkey").as("l_orderkey")), "l_orderkey"),
      fkRule("orders.fk_customer", o, "o_custkey",
        Tables.customer(spark, dir)
          .select(col("c_custkey").as("o_custkey")), "o_custkey"))
    (rowRules ++ Seq(pkDupes) ++ fks).reduce(_.unionByName(_))
      .orderBy(col("check_name"))
  }

  val q172_sql: String =
    """SELECT 'lineitem.quantity_in_1_50' AS check_name,
      |  COUNT(*) AS n_checked,
      |  CAST(SUM(CASE WHEN NOT (l_quantity BETWEEN 1 AND 50)
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_violations
      |FROM lineitem
      |UNION ALL
      |SELECT 'lineitem.discount_in_0_0.11', COUNT(*),
      |  CAST(SUM(CASE WHEN NOT (l_discount BETWEEN 0 AND 0.11)
      |    THEN 1 ELSE 0 END) AS BIGINT)
      |FROM lineitem
      |UNION ALL
      |SELECT 'orders.totalprice_positive', COUNT(*),
      |  CAST(SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END)
      |    AS BIGINT)
      |FROM orders
      |UNION ALL
      |SELECT 'orders.status_in_domain', COUNT(*),
      |  CAST(SUM(CASE WHEN o_orderstatus NOT IN ('O','F','P')
      |    THEN 1 ELSE 0 END) AS BIGINT)
      |FROM orders
      |UNION ALL
      |SELECT 'lineitem.pk_unique',
      |  CAST(SUM(c) AS BIGINT),
      |  CAST(COALESCE(SUM(CASE WHEN c > 1 THEN c END), 0) AS BIGINT)
      |FROM (SELECT COUNT(*) AS c FROM lineitem
      |      GROUP BY l_orderkey, l_linenumber)
      |UNION ALL
      |SELECT 'lineitem.fk_orders',
      |  (SELECT COUNT(*) FROM lineitem),
      |  (SELECT COUNT(*) FROM lineitem l
      |   WHERE NOT EXISTS (SELECT 1 FROM orders o
      |                     WHERE o.o_orderkey = l.l_orderkey))
      |UNION ALL
      |SELECT 'orders.fk_customer',
      |  (SELECT COUNT(*) FROM orders),
      |  (SELECT COUNT(*) FROM orders o
      |   WHERE NOT EXISTS (SELECT 1 FROM customer c
      |                     WHERE c.c_custkey = o.o_custkey))
      |ORDER BY check_name""".stripMargin

  // -------------------------------------------------------------------
  // q178 — k-anonymity generalization ladder (the privacy audit a
  // training-data release runs): quasi-identifier = (lang, source,
  // n_chars bucketed at width w). For each generalization level
  // w ∈ {10, 100, 1000}, count the documents living in QI-groups
  // smaller than k=5 (re-identifiable) — then report, per level, group
  // count, at-risk rows, and whether the level satisfies k-anonymity;
  // the minimal sufficient level is read off the report. Shape: one
  // groupBy per level over the same scan (3 tiny aggregations), no
  // joins; at 100 TB the scan dominates and the three levels share it.
  // -------------------------------------------------------------------
  def q178_k_anonymity(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("lang"), col("source"), col("n_chars"))
    val k = 5L
    val levels = Seq(10L, 100L, 1000L).map { w =>
      docs
        .groupBy(col("lang"), col("source"),
          expr(s"n_chars div $w").as("bucket"))
        .agg(count(lit(1)).as("c"))
        .agg(count(lit(1)).as("n_groups"),
          coalesce(sum(when(col("c") < k, col("c"))), lit(0L))
            .as("n_at_risk"))
        .select(lit(w).as("bucket_width"), col("n_groups"),
          col("n_at_risk"),
          (col("n_at_risk") === 0L).as("k_anonymous"))
    }
    levels.reduce(_.unionByName(_)).orderBy(col("bucket_width"))
  }

  val q178_sql: String = {
    def level(w: Long): String =
      s"""SELECT $w AS bucket_width,
         |  COUNT(*) AS n_groups,
         |  CAST(COALESCE(SUM(CASE WHEN c < 5 THEN c END), 0) AS BIGINT)
         |    AS n_at_risk,
         |  COALESCE(SUM(CASE WHEN c < 5 THEN c END), 0) = 0
         |    AS k_anonymous
         |FROM (SELECT COUNT(*) AS c FROM documents
         |      GROUP BY lang, source, n_chars // $w)""".stripMargin
    Seq(10L, 100L, 1000L).map(level)
      .mkString("", "\nUNION ALL\n", "\nORDER BY bucket_width")
  }

  // -------------------------------------------------------------------
  // q179 — rendezvous (highest-random-weight) shard routing: every doc
  // goes to argmax over shards of hash(doc, shard) — the consistent
  // routing that, when the fleet grows from 8 to 9 shards, moves ONLY
  // the docs whose new argmax is the new shard (~1/9 of the corpus)
  // and moves them ONLY to shard 8; everything else stays put. The
  // report (per shard: population at S=8, at S=9, arrivals) makes that
  // minimal-movement property an oracle-checked INVARIANT: n_arrived
  // must be 0 for shards 0..7. Argmax is tie-free by construction:
  // the 60-bit hash is truncated to 58 bits and packed as hh·16+s, so
  // MAX() resolves shard and weight in one portable BIGINT — no
  // engine-specific arg_max tie-break semantics.
  // -------------------------------------------------------------------
  def q179_rendezvous_routing(spark: SparkSession, dir: String)
      : DataFrame = {
    val weights = Tables.documents(spark, dir)
      .select(col("doc_id"),
        explode(expr("sequence(0L, 8L)")).as("s"))
      .withColumn("h", Sampling.hash60("hrw",
        concat(col("doc_id").cast("string"), lit(":"),
          col("s").cast("string"))))
      // integer div, not Column./ — 2^56 does not fit a double mantissa
      .select(col("doc_id"), col("s"),
        expr("(h div 16) * 16 + s").as("packed"))
    val assigned = weights.groupBy(col("doc_id"))
      .agg(max(when(col("s") < 8, col("packed"))).as("m8"),
        max(col("packed")).as("m9"))
      .select((col("m8") % 16).as("shard8"), (col("m9") % 16).as("shard9"))
    val at8 = assigned.groupBy(col("shard8").as("shard"))
      .agg(count(lit(1)).as("n_at_8"))
    val at9 = assigned.groupBy(col("shard9").as("shard"))
      .agg(count(lit(1)).as("n_at_9"),
        sum(when(col("shard8") =!= col("shard9"), 1L).otherwise(0L))
          .as("n_arrived"))
    at8.join(at9, Seq("shard"), "full_outer")
      .select(col("shard"),
        coalesce(col("n_at_8"), lit(0L)).as("n_at_8"),
        coalesce(col("n_at_9"), lit(0L)).as("n_at_9"),
        coalesce(col("n_arrived"), lit(0L)).as("n_arrived"))
      .orderBy(col("shard"))
  }

  val q179_sql: String = {
    val h = Sampling.hash60Sql("hrw",
      "CAST(doc_id AS VARCHAR) || ':' || CAST(s AS VARCHAR)")
    s"""WITH w AS (
       |  SELECT doc_id, s, ($h // 16) * 16 + s AS packed
       |  FROM documents
       |  CROSS JOIN (SELECT unnest(generate_series(0, 8)) AS s)),
       |a AS (
       |  SELECT doc_id,
       |    MAX(CASE WHEN s < 8 THEN packed END) % 16 AS shard8,
       |    MAX(packed) % 16 AS shard9
       |  FROM w GROUP BY doc_id),
       |at8 AS (
       |  SELECT shard8 AS shard, COUNT(*) AS n_at_8 FROM a GROUP BY 1),
       |at9 AS (
       |  SELECT shard9 AS shard, COUNT(*) AS n_at_9,
       |    CAST(SUM(CASE WHEN shard8 <> shard9 THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_arrived
       |  FROM a GROUP BY 1)
       |SELECT COALESCE(at8.shard, at9.shard) AS shard,
       |  COALESCE(n_at_8, 0) AS n_at_8,
       |  COALESCE(n_at_9, 0) AS n_at_9,
       |  COALESCE(n_arrived, 0) AS n_arrived
       |FROM at8 FULL OUTER JOIN at9 ON at8.shard = at9.shard
       |ORDER BY shard""".stripMargin
  }

  // -------------------------------------------------------------------
  // q98 — distributed sufficient statistics (second moments): per
  // return flag, the exact integer sums (n, Σq, Σq², Σd, Σd², Σqd)
  // over scaled quantity/discount — everything variance, covariance,
  // and Pearson correlation derive from. The POINT is mergeability:
  // each partition's partial moments combine by addition (one map-side
  // combine + tiny reduce at 100 TB), where a direct corr()/stddev()
  // would depend on the engine's accumulation algorithm and never
  // hash-match across engines. Values scale to integers with
  // floor(x·100 + 0.5) so every sum is exact.
  // -------------------------------------------------------------------
  def q98_stat_moments(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_returnflag"),
        floor(col("l_quantity") * 100 + 0.5).cast("long").as("q"),
        floor(col("l_discount") * 100 + 0.5).cast("long").as("d"))
    li.groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(col("q")).as("sum_q"),
        sum(col("q") * col("q")).as("sum_q2"),
        sum(col("d")).as("sum_d"),
        sum(col("d") * col("d")).as("sum_d2"),
        sum(col("q") * col("d")).as("sum_qd"))
      .orderBy(col("l_returnflag"))
  }

  val q98_sql: String =
    """WITH s AS (
      |  SELECT l_returnflag,
      |    CAST(floor(l_quantity * 100 + 0.5) AS BIGINT) AS q,
      |    CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS d
      |  FROM lineitem)
      |SELECT l_returnflag, COUNT(*) AS n,
      |  CAST(SUM(q) AS BIGINT) AS sum_q,
      |  CAST(SUM(q * q) AS BIGINT) AS sum_q2,
      |  CAST(SUM(d) AS BIGINT) AS sum_d,
      |  CAST(SUM(d * d) AS BIGINT) AS sum_d2,
      |  CAST(SUM(q * d) AS BIGINT) AS sum_qd
      |FROM s
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  // -------------------------------------------------------------------
  // q99 — cross-media frame dedup: the multimodal fan-out (q65's
  // byte-exact frames, 16-byte granularity) composed with exact dedup —
  // duplicate frame groups across ALL media, the content-addressable-
  // storage scan that dedups repeated stills/silence/headers in a
  // 100 TB media lake. One groupBy on the frame bytes; the typed
  // flatMap fan-out is the same production plumbing a real decoder
  // slots into.
  // -------------------------------------------------------------------
  def q99_frame_dedup(spark: SparkSession, dir: String): DataFrame = {
    val media = Tables.documents(spark, dir)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
    Multimodal.frameHex(media, "doc_id", "payload", frameSize = 16,
        headBytes = 16)
      .toDF()
      .groupBy(col("head_hex").as("frame_hex"))
      .agg(count(lit(1)).as("n_frames"),
        countDistinct(col("media_id")).as("n_media"))
      .filter(col("n_frames") > 1)
      .orderBy(col("frame_hex"))
  }

  val q99_sql: String =
    """WITH b AS (
      |  SELECT doc_id, hex(encode(text)) AS hx,
      |         octet_length(encode(text)) AS n
      |  FROM documents WHERE octet_length(encode(text)) > 0),
      |fr AS (
      |  SELECT doc_id, substring(hx, u.i * 32 + 1, 32) AS frame_hex
      |  FROM b, unnest(generate_series(0, CAST((n + 15) // 16 AS BIGINT)
      |    - 1)) AS u(i))
      |SELECT frame_hex, COUNT(*) AS n_frames,
      |       COUNT(DISTINCT doc_id) AS n_media
      |FROM fr
      |GROUP BY frame_hex
      |HAVING COUNT(*) > 1
      |ORDER BY frame_hex""".stripMargin

  // -------------------------------------------------------------------
  // q100 — the END-TO-END curation build through the oracle:
  // Curation.curate chains language ID → quality scoring → the filter
  // gauntlet → best-quality keeper per prefix fingerprint → split
  // assignment, and the DuckDB mirror recomputes the whole chain from
  // its shared SQL fragments. A hash match here certifies the entire
  // pipeline composition, not just its stages. One corpus scan + one
  // fingerprint-window shuffle; split/sample decisions row-local.
  // -------------------------------------------------------------------
  def q100_curate_e2e(spark: SparkSession, dir: String): DataFrame =
    graft.pipeline.Curation.curate(Tables.documents(spark, dir),
        "doc_id", "text", "n_chars")
      .select(col("doc_id"), col("predicted"), col("q_ppm"), col("split"))
      .orderBy(col("doc_id"))

  // Language-ID fragments shared with langIdDf (see TextAnalysis).
  val q100_sql: String = {
    s"""WITH t AS (
       |  SELECT doc_id, text, n_chars,
       |    regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
       |  FROM documents),
       |h AS (
       |  SELECT doc_id, text, n_chars,
       |    ${TextAnalysis.langHitsSql()}
       |  FROM t),
       |p AS (
       |  SELECT doc_id, text, n_chars,
       |    ${TextAnalysis.langIdCaseSql()} AS predicted,
       |${TextAnalysis.qualityScorePpmSql("text", "n_chars")}
       |  AS q_ppm
       |  FROM h),
       |flt AS (
       |  SELECT doc_id, predicted, q_ppm,
       |    (trim(text) <> '' AND predicted <> 'und' AND
       |     q_ppm >= 500000 AND n_chars >= 200) AS ok,
       |    md5(array_to_string(
       |      (CASE WHEN trim(text) = '' THEN []
       |            ELSE regexp_split_to_array(trim(text), '\\s+')
       |       END)[1:10], ' ')) AS fp
       |  FROM p),
       |k AS (
       |  SELECT doc_id, predicted, q_ppm, ok, ROW_NUMBER() OVER (
       |    PARTITION BY fp
       |    ORDER BY (CASE WHEN ok THEN 0 ELSE 1 END), q_ppm DESC,
       |      doc_id) AS rn
       |  FROM flt)
       |SELECT doc_id, predicted, q_ppm,
       |  CASE WHEN ${hash60Sql("split", "doc_id")} % 100 < 80
       |         THEN 'train'
       |       WHEN ${hash60Sql("split", "doc_id")} % 100 < 90
       |         THEN 'val'
       |       ELSE 'test' END AS split
       |FROM k
       |WHERE ok AND rn = 1
       |ORDER BY doc_id""".stripMargin
  }

  // -------------------------------------------------------------------
  // q106 — temperature-scaled source mixture (α-sampling, Conneau &
  // Lample 2019 / XLM-R, α=1/2): mixture weight ∝ sqrt(source token
  // mass), flattening the head sources and boosting the tail. Integer
  // sqrt keeps every derived ppm engine-exact. Companion to q88: q88
  // enforces an absolute token budget, q106 reshapes relative shares.
  // -------------------------------------------------------------------
  def q106_temp_mixture(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .filter(length(trim(col("text"))) > 0)
      .withColumn("n_toks",
        TextAnalysis.tokenCount(col("text")).cast("long"))
    Sampling.temperatureMixture(docs, "source", "n_toks")
      .orderBy(col("source"))
  }

  val q106_sql: String =
    """WITH tc AS (
      |  SELECT source,
      |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
      |      AS n_toks
      |  FROM documents WHERE trim(text) <> ''),
      |mass AS (
      |  SELECT source, CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
      |    CAST(FLOOR(SQRT(CAST(SUM(n_toks) AS BIGINT))) AS BIGINT) AS w
      |  FROM tc GROUP BY source),
      |tot AS (
      |  SELECT CAST(SUM(n_tokens) AS BIGINT) AS tt,
      |         CAST(SUM(w) AS BIGINT) AS tw FROM mass)
      |SELECT source, n_tokens,
      |  (n_tokens * 1000000) // tt AS share_ppm,
      |  (w * 1000000) // tw AS mix_ppm,
      |  (((w * 1000000) // tw) * 1000) // ((n_tokens * 1000000) // tt)
      |    AS boost_x1000
      |FROM mass, tot
      |ORDER BY source""".stripMargin

  // -------------------------------------------------------------------
  // q107 — hashed linear quality classifier (the fastText/CCNet scoring
  // shape): md5 feature hashing into 1024 slots, deterministic stub
  // weights, bag-of-words integer score, keep = score > 0. One
  // codegen'd projection over the corpus — the scan-speed path a
  // learned quality filter takes at 100 TB.
  // -------------------------------------------------------------------
  def q107_hash_classifier(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_toks"),
        TextAnalysis.hashedClassifierScore(col("text")).as("score"))
      .withColumn("keep", when(col("score") > 0, 1).otherwise(0))
      .orderBy(col("doc_id"))

  val q107_sql: String =
    s"""WITH t AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS tk
      |  FROM documents WHERE trim(text) <> ''),
      |e AS (SELECT doc_id, unnest(tk) AS tok FROM t),
      |s AS (
      |  SELECT doc_id,
      |    ${graft.pipeline.TextAnalysis.hashedScoreSqlSum()} AS score
      |  FROM e GROUP BY doc_id)
      |SELECT t.doc_id, CAST(len(tk) AS BIGINT) AS n_toks,
      |  CAST(COALESCE(s.score, 0) AS BIGINT) AS score,
      |  CASE WHEN COALESCE(s.score, 0) > 0 THEN 1 ELSE 0 END AS keep
      |FROM t LEFT JOIN s USING (doc_id)
      |ORDER BY t.doc_id""".stripMargin

  // -------------------------------------------------------------------
  // q110 — heavy hitters via Misra-Gries sketch + exact verify: tokens
  // covering ≥ 1% of all corpus token positions, with exact counts. The
  // sketch pass (capacity 256, guarantee bound 1e6/257 ≈ 3891 ppm < the
  // 10000 ppm threshold) prunes to ≤ 256 candidates without a
  // vocabulary-sized groupBy; the verify pass makes the output exact,
  // which is what the DuckDB oracle checks.
  // -------------------------------------------------------------------
  def q110_heavy_hitters(spark: SparkSession, dir: String): DataFrame =
    Frequency.heavyHitters(Tables.documents(spark, dir), "text",
      minFracPpm = 10000L, capacity = 256)

  val q110_sql: String =
    """WITH tok AS (
      |  SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS token
      |  FROM documents WHERE trim(text) <> ''),
      |tot AS (SELECT COUNT(*) AS n FROM tok)
      |SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt
      |FROM tok, tot GROUP BY token, tot.n
      |HAVING COUNT(*) * 1000000 >= 10000 * tot.n
      |ORDER BY cnt DESC, token""".stripMargin

  // -------------------------------------------------------------------
  // q111 — corpus-trained bigram LM fluency score (the CCNet-style LM
  // quality filter, integer-exact): mean P(w2|w1) in ppm per document,
  // model trained on the corpus itself. Top/bottom scorers are the
  // fluent/gibberish split a perplexity filter would make.
  // -------------------------------------------------------------------
  def q111_lm_score(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.bigramLmScore(Tables.documents(spark, dir), "doc_id",
        "text")
      .orderBy(col("doc_id"))

  val q111_sql: String =
    """WITH t AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk
      |  FROM documents WHERE trim(text) <> ''),
      |b0 AS (
      |  SELECT doc_id, tk, unnest(generate_series(1, len(tk) - 1)) AS i
      |  FROM t WHERE len(tk) >= 2),
      |bg AS (SELECT doc_id, tk[i] AS w1, tk[i+1] AS w2 FROM b0),
      |m2 AS (
      |  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c2
      |  FROM bg GROUP BY w1, w2),
      |m1 AS (SELECT w1, CAST(SUM(c2) AS BIGINT) AS c1 FROM m2 GROUP BY w1),
      |p AS (
      |  SELECT w1, w2, c2 * 1000000 // c1 AS p_ppm
      |  FROM m2 JOIN m1 USING (w1))
      |SELECT bg.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
      |  CAST(SUM(p_ppm) // COUNT(*) AS BIGINT) AS mean_p_ppm
      |FROM bg JOIN p USING (w1, w2)
      |GROUP BY bg.doc_id
      |ORDER BY bg.doc_id""".stripMargin

  // -------------------------------------------------------------------
  // q115 — tokenizer vocabulary build: top-1000 corpus tokens with
  // dense 1-based ids in (count desc, token) order. Corpus work is one
  // token groupBy; the dense ids come from sorted zipWithIndex over
  // the already-cut ≤1000-row table (deliberately NOT a row_number
  // window: even with a literal partition key, Catalyst folds the key
  // away and plans the banned single-partition WindowExec).
  // -------------------------------------------------------------------
  def q115_vocab_build(spark: SparkSession, dir: String): DataFrame =
    Frequency.buildVocab(Tables.documents(spark, dir), "text",
      maxSize = 1000)

  val q115_sql: String =
    """WITH tok AS (
      |  SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS token
      |  FROM documents WHERE trim(text) <> ''),
      |cnts AS (
      |  SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt
      |  FROM tok GROUP BY token),
      |ranked AS (
      |  SELECT token, cnt, CAST(ROW_NUMBER() OVER (
      |    ORDER BY cnt DESC, token) AS BIGINT) AS token_id
      |  FROM cnts)
      |SELECT token, cnt, token_id FROM ranked
      |WHERE token_id <= 1000
      |ORDER BY token_id""".stripMargin

  // -------------------------------------------------------------------
  // q116 — tokenizer encode: apply the q115 vocabulary to every
  // document (OOV → 0), reporting token/OOV counts plus an md5
  // fingerprint of the full id sequence — the portable witness that the
  // encoded sequences are bit-identical across engines. The vocab ships
  // as a literal map into one codegen'd projection: zero shuffles.
  // -------------------------------------------------------------------
  def q116_vocab_encode(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    Frequency.encodeWithVocab(docs, "doc_id", "text",
      Frequency.buildVocab(docs, "text", maxSize = 1000))
  }

  val q116_sql: String =
    """WITH tok AS (
      |  SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS token
      |  FROM documents WHERE trim(text) <> ''),
      |cnts AS (
      |  SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt
      |  FROM tok GROUP BY token),
      |vocab AS (
      |  SELECT token, token_id FROM (
      |    SELECT token, CAST(ROW_NUMBER() OVER (
      |      ORDER BY cnt DESC, token) AS BIGINT) AS token_id
      |    FROM cnts) WHERE token_id <= 1000),
      |t AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk
      |  FROM documents WHERE trim(text) <> ''),
      |e AS (
      |  SELECT doc_id, unnest(tk) AS tok,
      |    unnest(generate_series(1, len(tk))) AS pos
      |  FROM t),
      |m AS (
      |  SELECT e.doc_id, e.pos, COALESCE(v.token_id, 0) AS id
      |  FROM e LEFT JOIN vocab v ON e.tok = v.token)
      |SELECT doc_id,
      |  CAST(COUNT(*) AS BIGINT) AS n_toks,
      |  CAST(SUM(CASE WHEN id = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
      |  md5(array_to_string(list(id ORDER BY pos), ',')) AS ids_fp
      |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------
  // q117 — DSIR data selection (Xie et al. 2023): hashed-bigram
  // importance scores against the lang='en' target distribution, top-50
  // resample. Integer-exact likelihood-ratio surrogate — see
  // pipeline/Selection.scala for the published-method mapping.
  // -------------------------------------------------------------------
  def q117_dsir_select(spark: SparkSession, dir: String): DataFrame =
    Selection.dsirSelect(Tables.documents(spark, dir), "doc_id", "text",
      col("lang") === "en", keep = 50, buckets = 1024)

  val q117_sql: String =
    s"""WITH t AS (
      |  SELECT doc_id,
      |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS is_target,
      |    regexp_split_to_array(trim(text), '\\s+') AS tk
      |  FROM documents WHERE trim(text) <> ''),
      |t2 AS (SELECT * FROM t WHERE len(tk) >= 2),
      |occ AS (
      |  SELECT doc_id, is_target,
      |    (${Sampling.hash60Sql("dsir", "bg")} % 1024) AS bucket
      |  FROM (
      |    SELECT doc_id, is_target,
      |      unnest([tk[i] || ' ' || tk[i+1]
      |        FOR i IN generate_series(1, len(tk)-1)]) AS bg
      |    FROM t2)),
      |c AS (
      |  SELECT bucket, CAST(COUNT(*) AS BIGINT) AS cr,
      |    CAST(SUM(is_target) AS BIGINT) AS ct
      |  FROM occ GROUP BY bucket),
      |tot AS (SELECT SUM(cr) AS r_tot, SUM(ct) AS t_tot FROM c),
      |lam AS (
      |  SELECT bucket,
      |    ((ct + 1) * (r_tot + 1024) * 1000000)
      |      // ((cr + 1) * (t_tot + 1024)) AS lam
      |  FROM c, tot),
      |s AS (
      |  SELECT o.doc_id, MAX(o.is_target) AS is_target,
      |    CAST(COUNT(*) AS BIGINT) AS n_bigrams, SUM(l.lam) AS sl
      |  FROM occ o JOIN lam l USING (bucket) GROUP BY o.doc_id)
      |SELECT doc_id, CAST(is_target AS BIGINT) AS is_target, n_bigrams,
      |  CAST(sl // n_bigrams AS BIGINT) AS mean_ratio_micro
      |FROM s ORDER BY mean_ratio_micro DESC, doc_id LIMIT 50""".stripMargin

  // -------------------------------------------------------------------
  // q118 — k-means|| seeding (Bahmani et al. 2012): 2 oversampling
  // rounds at ℓ=8 over the embeddings, deterministic hash coins,
  // integerized rounded-cosine distances; output = candidate centers
  // with attraction weights. See pipeline/Clusters.kmeansParInit.
  // -------------------------------------------------------------------
  def q118_kmeanspp_init(spark: SparkSession, dir: String): DataFrame =
    graft.pipeline.Clusters.kmeansParInit(
      Tables.embeddings(spark, dir), "vec_id", "embedding",
      ell = 8, rounds = 2)

  val q118_sql: String = {
    def dist(vecA: String, vecB: String): String =
      s"(100000 - CAST(round(list_cosine_similarity($vecA, $vecB) " +
        s"* 100000) AS BIGINT))"
    s"""WITH v AS (
      |  SELECT vec_id AS vid, CAST(embedding AS DOUBLE[]) AS vec
      |  FROM embeddings),
      |c0 AS (SELECT vid, vec FROM v WHERE vid = (SELECT MIN(vid) FROM v)),
      |dm1 AS (
      |  SELECT p.vid, MIN(${dist("p.vec", "c.vec")}) AS dmin
      |  FROM v p CROSS JOIN c0 c GROUP BY p.vid),
      |phi1 AS (SELECT SUM(dmin) AS phi FROM dm1),
      |s1 AS (
      |  SELECT p.vid, p.vec FROM v p JOIN dm1 USING (vid), phi1
      |  WHERE (${Sampling.hash60Sql("kpp1", "p.vid")} % 1000000) <
      |    LEAST(1000000, (8 * dmin * 1000000) // phi)),
      |c1 AS (SELECT * FROM c0 UNION ALL SELECT * FROM s1),
      |dm2 AS (
      |  SELECT p.vid, MIN(${dist("p.vec", "c.vec")}) AS dmin
      |  FROM v p CROSS JOIN c1 c GROUP BY p.vid),
      |phi2 AS (SELECT SUM(dmin) AS phi FROM dm2),
      |s2 AS (
      |  SELECT p.vid, p.vec FROM v p JOIN dm2 USING (vid), phi2
      |  WHERE (${Sampling.hash60Sql("kpp2", "p.vid")} % 1000000) <
      |    LEAST(1000000, (8 * dmin * 1000000) // phi)),
      |c2 AS (SELECT * FROM c1 UNION ALL SELECT * FROM s2),
      |asg AS (
      |  SELECT p.vid, c.vid AS cid, ${dist("p.vec", "c.vec")} AS d
      |  FROM v p CROSS JOIN c2 c),
      |near AS (
      |  SELECT vid, cid FROM (
      |    SELECT vid, cid, ROW_NUMBER() OVER (
      |      PARTITION BY vid ORDER BY d, cid) AS rn
      |    FROM asg) WHERE rn = 1)
      |SELECT cid, CAST(COUNT(*) AS BIGINT) AS w
      |FROM near GROUP BY cid ORDER BY cid""".stripMargin
  }

  // -------------------------------------------------------------------
  // q119 — cross-source duplication matrix over leading-boilerplate
  // fingerprints (first 8 lowercase tokens): which source pairs stamp
  // the same template header (diagonal = within-source). The full-text
  // variant is exact-empty on this corpus (q20: all docs distinct), so
  // the demo uses the prefix fingerprint, which has real collisions.
  // -------------------------------------------------------------------
  def q119_dup_sources(spark: SparkSession, dir: String): DataFrame =
    Dedup.dupSourceMatrix(Tables.documents(spark, dir), "doc_id",
      "text", "source", prefixTokens = 8)

  val q119_sql: String =
    """WITH f AS (
      |  SELECT source AS src, md5(array_to_string(
      |    (regexp_split_to_array(trim(lower(text)), '\s+'))[1:8],
      |    ' ')) AS fp
      |  FROM documents WHERE trim(text) <> ''),
      |p AS (SELECT fp, src, COUNT(*) AS n FROM f GROUP BY fp, src),
      |pairs AS (
      |  SELECT a.src AS src_a, b.src AS src_b
      |  FROM p a JOIN p b ON a.fp = b.fp AND a.src < b.src
      |  UNION ALL
      |  SELECT src AS src_a, src AS src_b FROM p WHERE n >= 2)
      |SELECT src_a, src_b, CAST(COUNT(*) AS BIGINT) AS n_dup_fps
      |FROM pairs GROUP BY src_a, src_b
      |ORDER BY src_a, src_b""".stripMargin

  // -------------------------------------------------------------------
  // q120 — per-document 5-gram uniqueness (memorization-risk /
  // novelty score): ppm of each doc's distinct 5-gram shingles that
  // appear in no other document. See Dedup.shingleUniqueness.
  // -------------------------------------------------------------------
  def q120_ngram_uniqueness(spark: SparkSession, dir: String): DataFrame =
    Dedup.shingleUniqueness(Tables.documents(spark, dir), "doc_id",
      "text", n = 5)

  val q120_sql: String =
    """WITH toks AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
      |  FROM documents WHERE trim(text) <> ''),
      |sh AS (
      |  SELECT DISTINCT doc_id,
      |    unnest([array_to_string(t[i:i+4], ' ')
      |            FOR i IN generate_series(1, len(t) - 4)]) AS shingle
      |  FROM toks WHERE len(t) >= 5),
      |dfreq AS (
      |  SELECT shingle, COUNT(*) AS df FROM sh GROUP BY shingle)
      |SELECT sh.doc_id AS doc,
      |  CAST(COUNT(*) AS BIGINT) AS n_shingles,
      |  CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_unique,
      |  CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) * 1000000
      |    // COUNT(*) AS BIGINT) AS uniq_ppm
      |FROM sh JOIN dfreq USING (shingle)
      |GROUP BY sh.doc_id ORDER BY doc""".stripMargin

  // -------------------------------------------------------------------
  // q121 — tokenizer fertility by language: subwords-per-word in ppm
  // (the multilingual tokenizer-equity diagnostic — a language whose
  // fertility is high pays more tokens per word under the tokenizer,
  // skewing its effective compute share; cf. the fragmentation analyses
  // around mBERT/XLM-R, e.g. Ács 2019, Rust et al. 2021). One scan,
  // one groupBy over |langs| keys, integer-exact ppm.
  // -------------------------------------------------------------------
  def q121_fertility(spark: SparkSession, dir: String): DataFrame =
    fertilityByLang(Tables.documents(spark, dir))

  /** q121 body on an arbitrary (lang, text) frame — factored for the
    * hand-sample spec. */
  def fertilityByLang(docs: DataFrame): DataFrame =
    docs
      .filter(length(trim(col("text"))) > 0)
      .select(col("lang"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("w"),
        TextAnalysis.subwordCountPortable(col("text")).cast("long").as("s"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("w")).as("tot_words"),
        sum(col("s")).as("tot_subwords"))
      .select(col("lang"), col("n_docs"), col("tot_words"),
        col("tot_subwords"),
        expr("tot_subwords * 1000000L div tot_words").as("fertility_ppm"))
      .orderBy(col("lang"))

  val q121_sql: String =
    """SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(len(regexp_split_to_array(trim(text), '\s+')))
      |    AS BIGINT) AS tot_words,
      |  CAST(SUM(len(regexp_extract_all(text,
      |    '[A-Z][a-z]*|[a-z]+|[0-9]+'))) AS BIGINT) AS tot_subwords,
      |  CAST(SUM(len(regexp_extract_all(text,
      |    '[A-Z][a-z]*|[a-z]+|[0-9]+'))) * 1000000
      |    // SUM(len(regexp_split_to_array(trim(text), '\s+')))
      |    AS BIGINT) AS fertility_ppm
      |FROM documents WHERE trim(text) <> ''
      |GROUP BY lang ORDER BY lang""".stripMargin

  // -------------------------------------------------------------------
  // q123 — collocation (phrase) mining, word2phrase-style (Mikolov et
  // al. 2013 §4): discounted integer lift over adjacent word pairs,
  // top-50. Vocabulary-sized groupBys + two word-key joins; top-k is
  // TakeOrdered. See Frequency.collocations for the two-step floor-
  // division score definition and its overflow bound.
  // -------------------------------------------------------------------
  def q123_collocations(spark: SparkSession, dir: String): DataFrame =
    Frequency.collocations(Tables.documents(spark, dir), "text",
      minCount = 5L, discount = 5L, k = 50)

  val q123_sql: String =
    """WITH tk AS (
      |  SELECT regexp_split_to_array(trim(text), '\s+') AS t
      |  FROM documents WHERE trim(text) <> ''),
      |u AS (
      |  SELECT w, CAST(COUNT(*) AS BIGINT) AS n
      |  FROM (SELECT unnest(t) AS w FROM tk) GROUP BY w),
      |tot AS (SELECT SUM(n) AS n_tot FROM u),
      |b AS (
      |  SELECT split_part(bg, ' ', 1) AS w1, split_part(bg, ' ', 2) AS w2,
      |         CAST(COUNT(*) AS BIGINT) AS n_ab FROM (
      |    SELECT unnest([t[i] || ' ' || t[i + 1]
      |                   FOR i IN generate_series(1, len(t) - 1)]) AS bg
      |    FROM tk WHERE len(t) >= 2)
      |  GROUP BY 1, 2 HAVING COUNT(*) >= 5 AND COUNT(*) > 5)
      |SELECT b.w1, b.w2, b.n_ab, ua.n AS n_a, ub.n AS n_b,
      |  CAST(((b.n_ab - 5) * 1000000 // ua.n) * tot.n_tot // ub.n
      |    AS BIGINT) AS score_ppm
      |FROM b JOIN u ua ON b.w1 = ua.w
      |       JOIN u ub ON b.w2 = ub.w
      |       CROSS JOIN tot
      |ORDER BY score_ppm DESC, b.w1, b.w2 LIMIT 50""".stripMargin

  // -------------------------------------------------------------------
  // q124 — vocabulary-growth (Heaps'-law) curve: cumulative distinct
  // token types vs cumulative tokens over doc-id order in 20 id-range
  // buckets. First-occurrence groupBy + triangular cumsum on the
  // 20-row bucket table (q76 CDF idiom — no unpartitioned window).
  // See Frequency.vocabGrowth.
  // -------------------------------------------------------------------
  def q124_vocab_growth(spark: SparkSession, dir: String): DataFrame =
    Frequency.vocabGrowth(Tables.documents(spark, dir), "doc_id", "text",
      buckets = 20)

  val q124_sql: String =
    """WITH base AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
      |  FROM documents WHERE trim(text) <> ''),
      |bounds AS (SELECT min(doc_id) AS lo, max(doc_id) AS hi FROM base),
      |db AS (
      |  SELECT least((doc_id - lo) * 20 // (hi - lo + 1), 19) AS bucket,
      |         CAST(COUNT(*) AS BIGINT) AS n_docs,
      |         CAST(SUM(len(t)) AS BIGINT) AS n_tokens
      |  FROM base CROSS JOIN bounds GROUP BY 1),
      |fo AS (
      |  SELECT tok, min(doc_id) AS first_doc
      |  FROM (SELECT DISTINCT doc_id, unnest(t) AS tok FROM base)
      |  GROUP BY tok),
      |fb AS (
      |  SELECT least((first_doc - lo) * 20 // (hi - lo + 1), 19) AS bucket,
      |         CAST(COUNT(*) AS BIGINT) AS new_types
      |  FROM fo CROSS JOIN bounds GROUP BY 1),
      |per AS (
      |  SELECT db.bucket, n_docs, n_tokens,
      |         COALESCE(new_types, 0) AS new_types
      |  FROM db LEFT JOIN fb ON db.bucket = fb.bucket)
      |SELECT a.bucket, CAST(SUM(b.n_docs) AS BIGINT) AS cum_docs,
      |  CAST(SUM(b.n_tokens) AS BIGINT) AS cum_tokens,
      |  CAST(SUM(b.new_types) AS BIGINT) AS cum_types
      |FROM per a JOIN per b ON b.bucket <= a.bucket
      |GROUP BY a.bucket ORDER BY a.bucket""".stripMargin

  // -------------------------------------------------------------------
  // q125 — C4/RefinedWeb line-level cleaning: per-line keep rules +
  // doc-level drop flags + sha256-certified reassembly, one codegen'd
  // projection, zero shuffles. This corpus is single-line and
  // punctuation-free, so the terminal-punct rule is off and the
  // min-words rule carries the split (30 words drops ~1/5 of docs);
  // the multi-line/punct/banned-word paths are spec-covered on
  // synthetic text. See TextAnalysis.lineFilter.
  // -------------------------------------------------------------------
  def q125_line_filter(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.lineFilter(Tables.documents(spark, dir), "doc_id",
      "text", minLineWords = 30, requireTerminalPunct = false,
      bannedLineWord = "javascript",
      docBannedSubstrings = Seq("lorem ipsum", "{"), minKeptLines = 1)

  val q125_sql: String =
    """SELECT doc_id, CAST(len(lines) AS BIGINT) AS n_lines,
      |  CAST(len(kept) AS BIGINT) AS kept_lines,
      |  CAST(CASE WHEN contains(lower(text), 'lorem ipsum')
      |         OR contains(lower(text), '{')
      |         OR len(kept) < 1 THEN 1 ELSE 0 END AS BIGINT) AS dropped,
      |  sha256(COALESCE(array_to_string(kept, chr(10)), '')) AS clean_fp
      |FROM (
      |  SELECT doc_id, text, string_split(text, chr(10)) AS lines,
      |    list_filter(string_split(text, chr(10)), l ->
      |      len(regexp_split_to_array(trim(l), '\s+')) >= 30
      |      AND NOT contains(lower(l), 'javascript')) AS kept
      |  FROM documents)
      |ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------
  // q127 — longest consecutive identical-token run per doc (looping /
  // degenerate-repetition detector). Spark computes it in ONE
  // row-local aggregate() higher-order expression (zero shuffles); the
  // oracle reformulates as gaps-and-islands windows partitioned per
  // doc. See TextAnalysis.maxTokenRun.
  // -------------------------------------------------------------------
  def q127_max_run(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.maxTokenRun(Tables.documents(spark, dir), "doc_id",
      "text")

  val q127_sql: String =
    """WITH t AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk
      |  FROM documents WHERE trim(text) <> ''),
      |pos AS (
      |  SELECT doc_id, len(tk) AS n_toks, unnest(tk) AS tok,
      |         unnest(generate_series(1, len(tk))) AS i
      |  FROM t),
      |m AS (
      |  SELECT doc_id, n_toks, tok, i,
      |    CASE WHEN lag(tok) OVER (PARTITION BY doc_id ORDER BY i)
      |           IS DISTINCT FROM tok THEN 1 ELSE 0 END AS is_start
      |  FROM pos),
      |g AS (
      |  SELECT doc_id, n_toks, tok, i,
      |    SUM(is_start) OVER (PARTITION BY doc_id ORDER BY i) AS grp
      |  FROM m),
      |r AS (
      |  SELECT doc_id, n_toks, tok, grp,
      |    CAST(COUNT(*) AS BIGINT) AS run_len, MIN(i) AS start_i
      |  FROM g GROUP BY doc_id, n_toks, tok, grp)
      |SELECT doc_id, CAST(n_toks AS BIGINT) AS n_toks,
      |  run_len AS max_run, tok AS run_tok
      |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
      |        ORDER BY run_len DESC, start_i) AS rk FROM r)
      |WHERE rk = 1 ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------
  // q133 — Count-Min sketch point estimates (Cormode & Muthukrishnan
  // 2005): 4×256 md5-hashed cells, estimates for the top-20 exact
  // tokens. est ≥ exact always (spec-asserted); hash-exact across
  // engines because the hash family is md5-derived. See
  // Frequency.cmsBuild/cmsEstimate.
  // -------------------------------------------------------------------
  def q133_cms_estimate(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val cells = Frequency.cmsBuild(docs, "text")
    val top = docs
      .filter(length(trim(col("text"))) > 0)
      .select(explode(TextAnalysis.tokens(col("text"))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("exact_cnt"))
      .orderBy(col("exact_cnt").desc, col("token")).limit(20)
    Frequency.cmsEstimate(cells, top, "token")
      .orderBy(col("exact_cnt").desc, col("token"))
  }

  val q133_sql: String =
    """WITH toks AS (
      |  SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS token
      |  FROM documents WHERE trim(text) <> ''),
      |cells AS (
      |  SELECT j, CAST(('0x' || substr(md5('cms:' || token),
      |      j * 8 + 1, 8)) AS BIGINT) % 256 AS bucket,
      |    CAST(COUNT(*) AS BIGINT) AS cnt
      |  FROM toks CROSS JOIN generate_series(0, 3) t(j) GROUP BY 1, 2),
      |ex AS (
      |  SELECT token, CAST(COUNT(*) AS BIGINT) AS exact_cnt FROM toks
      |  GROUP BY token ORDER BY exact_cnt DESC, token LIMIT 20)
      |SELECT ex.token, ex.exact_cnt, min(cells.cnt) AS est_cnt
      |FROM ex CROSS JOIN generate_series(0, 3) t(j)
      |JOIN cells ON cells.j = t.j AND cells.bucket =
      |  CAST(('0x' || substr(md5('cms:' || ex.token),
      |    t.j * 8 + 1, 8)) AS BIGINT) % 256
      |GROUP BY 1, 2 ORDER BY exact_cnt DESC, token""".stripMargin

  // -------------------------------------------------------------------
  // q268 — multi-format source/sink round-trip audit: write the orders
  // projection to CSV, JSON and ORC through the real DataSource
  // writers, read each back through the matching reader (explicit
  // schema where the format is schemaless), and aggregate — one row
  // per format, identical by construction, hash-checked against the
  // parquet originals by the oracle. This is the "every source format"
  // completeness proof for the non-parquet paths a lakehouse actually
  // mixes; doubles are quantized to integer cents BEFORE writing so
  // text formats round-trip bit-exactly. The result is materialized
  // eagerly and the temp files deleted before returning — no leaked
  // state between runs.
  // -------------------------------------------------------------------
  def q268_format_roundtrip(spark: SparkSession, dir: String)
      : DataFrame = {
    val base = Tables.orders(spark, dir).select(
      col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      expr("cast(floor(o_totalprice * 100 + 0.5) as bigint)").as("cents"))
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_fmt_").toFile
    try {
      val perFormat = Seq("csv", "json", "orc").map { f =>
        val path = new java.io.File(tmp, f).getAbsolutePath
        val w = base.write.mode("overwrite")
        (if (f == "csv") w.option("header", "true") else w)
          .format(f).save(path)
        val r = spark.read
        val back = f match {
          case "orc" => r.format(f).load(path)
          case _ => r.schema(base.schema)
            .option("header", "true").format(f).load(path)
        }
        back.agg(count(lit(1)).as("n_rows"),
            sum(col("cents")).as("total_cents"),
            min(col("o_orderkey")).as("min_key"),
            max(col("o_orderkey")).as("max_key"),
            countDistinct(col("o_orderstatus")).as("n_statuses"))
          .select(lit(f).as("format"), col("n_rows"), col("total_cents"),
            col("min_key"), col("max_key"), col("n_statuses"))
      }
      perFormat.reduce(_ unionByName _)
        .orderBy(col("format"))
        .localCheckpoint(eager = true) // materialize before cleanup
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(tmp)
    }
  }

  val q268_sql: String = {
    val agg =
      """SELECT COUNT(*) AS n_rows,
        |    CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
        |      AS BIGINT) AS total_cents,
        |    MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key,
        |    CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) AS n_statuses
        |  FROM orders""".stripMargin
    s"""WITH a AS ($agg)
       |SELECT f.format, a.n_rows, a.total_cents, a.min_key, a.max_key,
       |  a.n_statuses
       |FROM (VALUES ('csv'), ('json'), ('orc')) f(format), a
       |ORDER BY f.format""".stripMargin
  }

  // -------------------------------------------------------------------
  // q261 — Gopher REPETITION signals (Rae et al. 2021 §A1.1) — the
  // intra-document repetition filters q84's quality rules do not
  // cover: (a) top-2-gram character fraction (chars of the most
  // frequent word bigram × its count over total token chars, reject
  // > 20%), and (b) duplicate-5-gram character fraction (token chars
  // POSITIONALLY covered by any 5-gram occurring ≥ 2× in the doc,
  // union-of-positions so overlapping occurrences never double-count,
  // reject > 15%). The two signals catch boilerplate loops and
  // degenerate completions that per-corpus dedup never sees.
  //
  // Scale shape: everything is keyed by doc_id — per-doc windows
  // (lead) for n-gram assembly, doc-keyed groupBys, one distinct on
  // covered positions; nothing crosses documents, so the operator
  // scan-partitions perfectly.
  // -------------------------------------------------------------------
  def q261_repetition_signals(spark: SparkSession, dir: String)
      : DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("p"))
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"),
        posexplode(TextAnalysis.tokens(col("text"))).as(Seq("p", "tok")))
      .select(col("doc_id"), col("p").cast("long").as("p"), col("tok"),
        length(col("tok")).cast("long").as("wl"))
      .localCheckpoint(eager = true) // grams + totals + coverage reuse it
    val totals = toks.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("wl")).as("n_chars"))
    val big = toks
      .withColumn("w2", lead(col("tok"), 1).over(w))
      .filter(col("w2").isNotNull)
      .select(col("doc_id"),
        concat_ws(" ", col("tok"), col("w2")).as("bg"),
        (col("wl") + length(col("w2"))).as("bl"))
    val wTop = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("cnt").desc, col("bg"))
    val top2 = big.groupBy(col("doc_id"), col("bg"), col("bl"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("rn", row_number().over(wTop))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("cnt").as("top2_cnt"),
        (col("cnt") * col("bl")).as("top2_chars"))
    val five = toks
      .withColumn("g", concat_ws(" ", col("tok"),
        lead(col("tok"), 1).over(w), lead(col("tok"), 2).over(w),
        lead(col("tok"), 3).over(w), lead(col("tok"), 4).over(w)))
      .withColumn("ok", lead(col("tok"), 4).over(w).isNotNull)
      .filter(col("ok"))
      .select(col("doc_id"), col("p"), col("g"))
    val dupStarts = five.join(
      five.groupBy(col("doc_id"), col("g"))
        .agg(count(lit(1)).as("c")).filter(col("c") >= 2)
        .select(col("doc_id"), col("g")),
      Seq("doc_id", "g"))
    val covered = dupStarts
      .select(col("doc_id"),
        explode(sequence(col("p"), col("p") + 4)).as("p"))
      .distinct()
      .join(toks.select(col("doc_id"), col("p"), col("wl")),
        Seq("doc_id", "p"))
      .groupBy(col("doc_id")).agg(sum(col("wl")).as("dup5_chars"))
    totals
      .join(top2, Seq("doc_id"), "left_outer")
      .join(covered, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_tokens"), col("n_chars"),
        coalesce(col("top2_cnt"), lit(0L)).as("top2_cnt"),
        when(col("n_chars") > 0,
            expr("coalesce(top2_chars, 0) * 1000000 div n_chars"))
          .otherwise(0L).as("top2_char_ppm"),
        when(col("n_chars") > 0,
            expr("coalesce(dup5_chars, 0) * 1000000 div n_chars"))
          .otherwise(0L).as("dup5_char_ppm"))
      .withColumn("pass",
        when(col("top2_char_ppm") <= 200000 &&
          col("dup5_char_ppm") <= 150000, 1L).otherwise(0L))
      .orderBy(col("doc_id"))
  }

  val q261_sql: String =
    """WITH tk AS (
      |  SELECT doc_id,
      |    CASE WHEN trim(text) = '' THEN []
      |         ELSE regexp_split_to_array(trim(text), '\s+') END AS tks
      |  FROM documents),
      |toks AS (
      |  SELECT doc_id, CAST(u.s['p'] AS BIGINT) AS p,
      |    u.s['tok'] AS tok,
      |    CAST(length(u.s['tok']) AS BIGINT) AS wl
      |  FROM tk, unnest([{'p': i - 1, 'tok': tks[i]}
      |    FOR i IN generate_series(1, len(tks))]) u(s)),
      |totals AS (
      |  SELECT doc_id, COUNT(*) AS n_tokens,
      |    CAST(SUM(wl) AS BIGINT) AS n_chars
      |  FROM toks GROUP BY 1),
      |big AS (
      |  SELECT a.doc_id, a.tok || ' ' || b.tok AS bg,
      |    a.wl + b.wl AS bl
      |  FROM toks a JOIN toks b
      |    ON b.doc_id = a.doc_id AND b.p = a.p + 1),
      |top2 AS (
      |  SELECT doc_id, cnt AS top2_cnt, cnt * bl AS top2_chars FROM (
      |    SELECT doc_id, bg, bl, COUNT(*) AS cnt,
      |      ROW_NUMBER() OVER (PARTITION BY doc_id
      |        ORDER BY COUNT(*) DESC, bg) AS rn
      |    FROM big GROUP BY 1, 2, 3)
      |  WHERE rn = 1),
      |five AS (
      |  SELECT a.doc_id, a.p,
      |    a.tok || ' ' || b.tok || ' ' || c.tok || ' ' || d.tok
      |      || ' ' || e.tok AS g
      |  FROM toks a
      |  JOIN toks b ON b.doc_id = a.doc_id AND b.p = a.p + 1
      |  JOIN toks c ON c.doc_id = a.doc_id AND c.p = a.p + 2
      |  JOIN toks d ON d.doc_id = a.doc_id AND d.p = a.p + 3
      |  JOIN toks e ON e.doc_id = a.doc_id AND e.p = a.p + 4),
      |dupg AS (
      |  SELECT doc_id, g FROM five GROUP BY 1, 2 HAVING COUNT(*) >= 2),
      |cov AS (
      |  SELECT DISTINCT f.doc_id, f.p + o.o AS p
      |  FROM five f JOIN dupg USING (doc_id, g)
      |  CROSS JOIN generate_series(0, 4) o(o)),
      |dup5 AS (
      |  SELECT cov.doc_id, CAST(SUM(t.wl) AS BIGINT) AS dup5_chars
      |  FROM cov JOIN toks t ON t.doc_id = cov.doc_id AND t.p = cov.p
      |  GROUP BY 1)
      |SELECT t.doc_id, t.n_tokens, t.n_chars,
      |  coalesce(top2.top2_cnt, 0) AS top2_cnt,
      |  CASE WHEN t.n_chars > 0 THEN
      |    coalesce(top2.top2_chars, 0) * 1000000 // t.n_chars
      |    ELSE 0 END AS top2_char_ppm,
      |  CASE WHEN t.n_chars > 0 THEN
      |    coalesce(dup5.dup5_chars, 0) * 1000000 // t.n_chars
      |    ELSE 0 END AS dup5_char_ppm,
      |  CASE WHEN (CASE WHEN t.n_chars > 0 THEN
      |      coalesce(top2.top2_chars, 0) * 1000000 // t.n_chars
      |      ELSE 0 END) <= 200000
      |    AND (CASE WHEN t.n_chars > 0 THEN
      |      coalesce(dup5.dup5_chars, 0) * 1000000 // t.n_chars
      |      ELSE 0 END) <= 150000
      |    THEN 1 ELSE 0 END AS pass
      |FROM totals t
      |LEFT JOIN top2 ON top2.doc_id = t.doc_id
      |LEFT JOIN dup5 ON dup5.doc_id = t.doc_id
      |ORDER BY t.doc_id""".stripMargin

  // -------------------------------------------------------------------
  // q260 — CM-sketch join-size estimation (Cormode & Muthukrishnan
  // 2005 §4.2): estimate |R ⋈ A| on l_partkey between the returned
  // ('R') and accepted ('A') lineitem slices from two independently
  // built 4×256 sketches — est = min_j Σ_b R_j[b]·A_j[b], never under
  // the true size (spec-asserted). The planner's join-size question
  // answered from mergeable map-side state instead of a key shuffle;
  // the exact Σ_k f_R(k)·f_A(k) rides along to expose overshoot_ppm.
  // overshoot_ppm promoted through DECIMAL(38,0) ↔ HUGEINT (est·10⁶
  // exceeds int64 past ~3M rows/side). See Frequency.cmsKeyCells /
  // cmsJoinSize.
  // -------------------------------------------------------------------
  def q260_cms_join_size(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val ra = li.filter(col("l_returnflag") === "R")
      .select(col("l_partkey").as("k"))
    val rb = li.filter(col("l_returnflag") === "A")
      .select(col("l_partkey").as("k"))
    val est = Frequency.cmsJoinSize(
      Frequency.cmsKeyCells(ra, "k", salt = "cmj"),
      Frequency.cmsKeyCells(rb, "k", salt = "cmj"))
    val exact = ra.groupBy(col("k")).agg(count(lit(1)).as("ca"))
      .join(rb.groupBy(col("k")).agg(count(lit(1)).as("cb")), Seq("k"))
      .agg(sum(col("ca") * col("cb")).as("exact_join_size"))
    exact.crossJoin(broadcast(est))
      .select(col("exact_join_size"), col("est_join_size"),
        expr("cast(cast(est_join_size as decimal(38,0)) * 1000000 " +
          "div exact_join_size as bigint)").as("overshoot_ppm"))
  }

  val q260_sql: String =
    """WITH ra AS (
      |  SELECT l_partkey AS k FROM lineitem WHERE l_returnflag = 'R'),
      |rb AS (
      |  SELECT l_partkey AS k FROM lineitem WHERE l_returnflag = 'A'),
      |ca AS (
      |  SELECT j, CAST(('0x' || substr(md5('cmj:' || CAST(k AS VARCHAR)),
      |      j * 8 + 1, 8)) AS BIGINT) % 256 AS bucket,
      |    CAST(COUNT(*) AS BIGINT) AS cnt
      |  FROM ra CROSS JOIN generate_series(0, 3) t(j) GROUP BY 1, 2),
      |cb AS (
      |  SELECT j, CAST(('0x' || substr(md5('cmj:' || CAST(k AS VARCHAR)),
      |      j * 8 + 1, 8)) AS BIGINT) % 256 AS bucket,
      |    CAST(COUNT(*) AS BIGINT) AS cnt
      |  FROM rb CROSS JOIN generate_series(0, 3) t(j) GROUP BY 1, 2),
      |dots AS (
      |  SELECT ca.j, CAST(SUM(ca.cnt * cb.cnt) AS BIGINT) AS dot
      |  FROM ca JOIN cb ON cb.j = ca.j AND cb.bucket = ca.bucket
      |  GROUP BY 1),
      |est AS (SELECT MIN(dot) AS est_join_size FROM dots),
      |ex AS (
      |  SELECT CAST(SUM(a.cnt * b.cnt) AS BIGINT) AS exact_join_size
      |  FROM (SELECT k, COUNT(*) AS cnt FROM ra GROUP BY 1) a
      |  JOIN (SELECT k, COUNT(*) AS cnt FROM rb GROUP BY 1) b USING (k))
      |SELECT exact_join_size, est_join_size,
      |  CAST((est_join_size::HUGEINT * 1000000) // exact_join_size
      |    AS BIGINT) AS overshoot_ppm
      |FROM ex CROSS JOIN est""".stripMargin

  // -------------------------------------------------------------------
  // q148 — join-key skew audit (the pre-flight check before any big
  // join: will AQE need skew-split on this key?): per-key row counts
  // → key-space summary (distinct keys, max/avg count, skew ratio in
  // ppm = max·10⁶ div avg-numerator form to stay integer-exact:
  // max·distinct·10⁶ div total) plus the top-10 heaviest keys inline.
  // Scale: ONE partial-aggregated groupBy on the key — the audit costs
  // what a map-side count costs; the summary is a second aggregation
  // over the (bounded) per-key table.
  // -------------------------------------------------------------------
  def q148_skew_audit(spark: SparkSession, dir: String): DataFrame = {
    val perKey = Tables.lineitem(spark, dir)
      .groupBy(col("l_suppkey").as("key")).agg(count(lit(1)).as("cnt"))
      .localCheckpoint(eager = true)
    val summary = perKey.agg(
      count(lit(1)).as("n_keys"), sum(col("cnt")).as("n_rows"),
      max(col("cnt")).as("max_cnt"))
    val top = perKey.orderBy(col("cnt").desc, col("key")).limit(10)
    top.crossJoin(broadcast(summary))
      .select(col("key"), col("cnt"), col("n_keys"), col("n_rows"),
        col("max_cnt"),
        expr("(max_cnt * n_keys * 1000000) div n_rows")
          .as("skew_ratio_ppm"))
      .orderBy(col("cnt").desc, col("key"))
  }

  val q148_sql: String =
    """WITH pk AS (
      |  SELECT l_suppkey AS key, COUNT(*) AS cnt FROM lineitem
      |  GROUP BY 1),
      |s AS (
      |  SELECT COUNT(*) AS n_keys, CAST(SUM(cnt) AS BIGINT) AS n_rows,
      |         MAX(cnt) AS max_cnt
      |  FROM pk),
      |top AS (SELECT key, cnt FROM pk ORDER BY cnt DESC, key LIMIT 10)
      |SELECT key, cnt, n_keys, n_rows, max_cnt,
      |       (max_cnt * n_keys * 1000000) // n_rows AS skew_ratio_ppm
      |FROM top CROSS JOIN s
      |ORDER BY cnt DESC, key""".stripMargin

  // -------------------------------------------------------------------
  // q153 — Z-order layout audit (the Delta/Iceberg ZORDER BY
  // primitive): Morton-interleave (l_partkey, l_suppkey) into one
  // clustering key and report, per equal-width z-range, how many
  // distinct values of EACH dimension it touches — the min/max-pruning
  // selectivity a 100 TB table gets on both access paths from one
  // sort order. Pure shift/mask integer arithmetic, codegen'd, no UDF;
  // the audit itself is one groupBy on the derived bucket.
  // -------------------------------------------------------------------
  def q153_zorder_layout(spark: SparkSession, dir: String): DataFrame = {
    // bucket width adapts to the OBSERVED key range (max div 16 + 1):
    // the audit always yields ~16 ranges regardless of scale factor
    val z = Tables.lineitem(spark, dir)
      .select(col("l_partkey"), col("l_suppkey"))
      .withColumn("zkey",
        graft.ops.ZOrder.zkey16(col("l_partkey"), col("l_suppkey")))
      .localCheckpoint(eager = true) // feeds the width agg AND the probe
    val w = z.agg(expr("max(zkey) div 16 + 1").as("bw"))
    z.crossJoin(broadcast(w))
      .withColumn("zbucket", expr("zkey div bw"))
      .groupBy(col("zbucket"))
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        min(col("zkey")).as("zmin"), max(col("zkey")).as("zmax"))
      .orderBy(col("zbucket"))
  }

  val q153_sql: String = {
    val z = graft.ops.ZOrder.zkey16Sql("l_partkey", "l_suppkey")
    s"""WITH z AS (
       |  SELECT l_partkey, l_suppkey, $z AS zkey FROM lineitem),
       |w AS (SELECT MAX(zkey) // 16 + 1 AS bw FROM z)
       |SELECT zkey // bw AS zbucket,
       |       COUNT(*) AS n_rows,
       |       COUNT(DISTINCT l_partkey) AS n_parts,
       |       COUNT(DISTINCT l_suppkey) AS n_supps,
       |       MIN(zkey) AS zmin, MAX(zkey) AS zmax
       |FROM z CROSS JOIN w GROUP BY 1
       |ORDER BY zbucket""".stripMargin
  }

  // -------------------------------------------------------------------
  // q182 — Pareto-skyline data selection: documents not dominated on
  // (token count, distinct-token count) — the "no other doc is at
  // least as long AND at least as lexically rich, strictly better in
  // one" frontier a curation pass keeps when two quality axes can't be
  // collapsed into one score. The naive skyline is corpus², so the 2-D
  // case is decomposed: per token-count maxima (one groupBy onto the
  // BOUNDED distinct-length table), then the frontier condition
  // M(len) > max of M over strictly longer lens — a triangular join on
  // the bounded per-length table (the q124 cumulative idiom, never a
  // global window) — then one broadcast membership probe back onto the
  // corpus-sized metrics frame. Docs tied with the per-length maximum
  // are all on the frontier (dominance needs one STRICT axis).
  // -------------------------------------------------------------------
  def q182_pareto_skyline(spark: SparkSession, dir: String): DataFrame = {
    val m = Tables.documents(spark, dir)
      .filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("tk"))
      .select(col("doc_id"), size(col("tk")).cast("long").as("n_toks"),
        size(array_distinct(col("tk"))).cast("long").as("n_types"))
      .localCheckpoint(eager = true) // per-length maxima + the probe
    val per = m.groupBy(col("n_toks")).agg(max(col("n_types")).as("mx"))
    val frontier = per.as("a")
      .join(per.as("b"), col("b.n_toks") > col("a.n_toks"), "left")
      .groupBy(col("a.n_toks").as("n_toks"), col("a.mx").as("n_types"))
      .agg(max(col("b.mx")).as("hi"))
      .filter(col("hi").isNull || col("n_types") > col("hi"))
      .select(col("n_toks"), col("n_types"))
    m.join(broadcast(frontier), Seq("n_toks", "n_types"))
      .select(col("doc_id"), col("n_toks"), col("n_types"))
      .orderBy(col("n_toks").desc, col("doc_id"))
  }

  val q182_sql: String =
    """WITH m AS (
      |  SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_toks,
      |         CAST(len(list_distinct(tk)) AS BIGINT) AS n_types
      |  FROM (SELECT doc_id,
      |          regexp_split_to_array(trim(text), '\s+') AS tk
      |        FROM documents WHERE trim(text) <> ''))
      |SELECT doc_id, n_toks, n_types
      |FROM m a
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM m b
      |  WHERE b.n_toks >= a.n_toks AND b.n_types >= a.n_types
      |    AND (b.n_toks > a.n_toks OR b.n_types > a.n_types))
      |ORDER BY n_toks DESC, doc_id""".stripMargin

  // -------------------------------------------------------------------
  // q183 — compaction planner (the OPTIMIZE bin-packing step): many
  // small ingest files rolled into target-sized output bins WITHOUT
  // crossing partition boundaries and preserving layout order (so any
  // clustering the files already have survives the rewrite). Files are
  // modeled as doc_id div 8 runs sized by their text bytes inside
  // doc_id div 128 partitions; a file's bin is floor(bytes-before-it /
  // target) — the sorted-greedy plan every table-maintenance service
  // ships. The cumulative sum is a window PARTITIONED by the table
  // partition (files-per-partition is bounded by the ingest cadence,
  // never corpus-sized); an oversized file simply claims its own bin.
  // The report is the plan a rewriter would execute: per (partition,
  // bin) the file run to concatenate and its resulting size.
  // -------------------------------------------------------------------
  def q183_compaction_plan(spark: SparkSession, dir: String): DataFrame = {
    val target = 8192L
    val files = Tables.documents(spark, dir)
      .select((col("doc_id") / 128).cast("long").as("part"),
        (col("doc_id") / 8).cast("long").as("file_id"),
        length(col("text")).cast("long").as("bytes"))
      .groupBy(col("part"), col("file_id"))
      .agg(sum(col("bytes")).as("bytes"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("part")).orderBy(col("file_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, -1)
    files
      .withColumn("before", coalesce(sum(col("bytes")).over(w), lit(0L)))
      .withColumn("bin", expr(s"before div ${target}L"))
      .groupBy(col("part"), col("bin"))
      .agg(count(lit(1)).as("n_files"), sum(col("bytes")).as("tot_bytes"),
        min(col("file_id")).as("first_file"),
        max(col("file_id")).as("last_file"))
      .orderBy(col("part"), col("bin"))
  }

  val q183_sql: String =
    """WITH f AS (
      |  SELECT doc_id // 128 AS part, doc_id // 8 AS file_id,
      |         CAST(SUM(len(text)) AS BIGINT) AS bytes
      |  FROM documents GROUP BY 1, 2),
      |c AS (
      |  SELECT part, file_id, bytes,
      |    COALESCE(SUM(bytes) OVER (PARTITION BY part ORDER BY file_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS before
      |  FROM f)
      |SELECT part, CAST(before // 8192 AS BIGINT) AS bin,
      |  CAST(COUNT(*) AS BIGINT) AS n_files,
      |  CAST(SUM(bytes) AS BIGINT) AS tot_bytes,
      |  MIN(file_id) AS first_file, MAX(file_id) AS last_file
      |FROM c GROUP BY 1, 2
      |ORDER BY part, bin""".stripMargin

  // -------------------------------------------------------------------
  // q184 — zone-map pruning audit: would sorting this table by date
  // actually prune file scans? Files are modeled as 1024-row runs in
  // two layouts — the CURRENT one (key order: o_orderkey div 1024) and
  // the PROPOSED date-sorted one — each file carrying its (min, max)
  // date zone map; for every month predicate the report counts files
  // whose zone overlaps the month in each layout. Uncorrelated
  // key↔date gives keyed_files ≈ n_files (zone maps useless) while
  // sorted_files collapses to the month's actual share — the
  // quantified "should we re-cluster" decision behind ZORDER/OPTIMIZE.
  //
  // Scale shape: the date-sorted rank never uses a global window — the
  // distributed-CDF idiom (per-date counts on the BOUNDED distinct-
  // date table, triangular join for the prefix, row_number only WITHIN
  // a date). File frames are rows/1024 — tiny — so the month×file
  // overlap joins broadcast; the only corpus-sized work is two scans
  // and one date groupBy.
  // -------------------------------------------------------------------
  def q184_zonemap_audit(spark: SparkSession, dir: String): DataFrame = {
    val rowsPerFile = 1024L
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderdate"))
      .localCheckpoint(eager = true) // keyed files + CDF + sorted files
    val keyed = o
      .groupBy(expr(s"o_orderkey div ${rowsPerFile}L").as("f"))
      .agg(min(col("o_orderdate")).as("mn"),
        max(col("o_orderdate")).as("mx"))
    val dcnt = o.groupBy(col("o_orderdate")).agg(count(lit(1)).as("cnt"))
    val cum = dcnt.as("a")
      .join(dcnt.as("b"), col("b.o_orderdate") < col("a.o_orderdate"),
        "left")
      .groupBy(col("a.o_orderdate").as("o_orderdate"))
      .agg(coalesce(sum(col("b.cnt")), lit(0L)).as("before"))
    val wd = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_orderdate")).orderBy(col("o_orderkey"))
    val sorted = o.join(broadcast(cum), Seq("o_orderdate"))
      .withColumn("r", col("before") + row_number().over(wd) - 1)
      .groupBy(expr(s"r div ${rowsPerFile}L").as("f"))
      .agg(min(col("o_orderdate")).as("mn"),
        max(col("o_orderdate")).as("mx"))
    val months = o
      .select(date_trunc("month", col("o_orderdate")).as("month"))
      .distinct()
      .localCheckpoint(eager = true) // two overlap probes + the report
    def scanned(files: DataFrame, out: String): DataFrame =
      months.join(broadcast(files),
          col("mn") < col("month") + expr("interval 1 month") &&
            col("mx") >= col("month"))
        .groupBy(col("month")).agg(count(lit(1)).as(out))
    val total = keyed.agg(count(lit(1)).as("n_files"))
    months
      .join(scanned(keyed, "keyed_files"), Seq("month"), "left_outer")
      .join(scanned(sorted, "sorted_files"), Seq("month"), "left_outer")
      .crossJoin(broadcast(total))
      .select(col("month"), col("n_files"),
        coalesce(col("keyed_files"), lit(0L)).as("keyed_files"),
        coalesce(col("sorted_files"), lit(0L)).as("sorted_files"))
      .orderBy(col("month"))
  }

  val q184_sql: String =
    """WITH o AS (SELECT o_orderkey, o_orderdate FROM orders),
      |keyed AS (
      |  SELECT o_orderkey // 1024 AS f, MIN(o_orderdate) AS mn,
      |         MAX(o_orderdate) AS mx
      |  FROM o GROUP BY 1),
      |srt AS (
      |  SELECT o_orderdate,
      |    ROW_NUMBER() OVER (ORDER BY o_orderdate, o_orderkey) - 1 AS r
      |  FROM o),
      |sorted_f AS (
      |  SELECT r // 1024 AS f, MIN(o_orderdate) AS mn,
      |         MAX(o_orderdate) AS mx
      |  FROM srt GROUP BY 1),
      |months AS (
      |  SELECT DISTINCT date_trunc('month', o_orderdate) AS month
      |  FROM o),
      |k AS (
      |  SELECT month, CAST(COUNT(*) AS BIGINT) AS keyed_files
      |  FROM months JOIN keyed
      |    ON mn < month + INTERVAL 1 MONTH AND mx >= month
      |  GROUP BY month),
      |s AS (
      |  SELECT month, CAST(COUNT(*) AS BIGINT) AS sorted_files
      |  FROM months JOIN sorted_f
      |    ON mn < month + INTERVAL 1 MONTH AND mx >= month
      |  GROUP BY month),
      |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_files FROM keyed)
      |SELECT month, n_files,
      |  COALESCE(keyed_files, 0) AS keyed_files,
      |  COALESCE(sorted_files, 0) AS sorted_files
      |FROM months LEFT JOIN k USING (month) LEFT JOIN s USING (month)
      |CROSS JOIN t
      |ORDER BY month""".stripMargin

  // -------------------------------------------------------------------
  // q186 — data-constrained token allocation (the Muennighoff et al.
  // 2023 mixing problem): split a training budget across languages
  // targeting a UNIFORM mix, but no language may repeat beyond 2
  // epochs (cap = 2·T_lang). That is exact waterfilling over
  // heterogeneous caps: languages whose cap sits below the water level
  // saturate, the rest share the remaining budget equally. The level
  // is found in closed form on the BOUNDED per-language table — each
  // candidate boundary (every language, plus a virtual "nobody
  // saturates" row) gets its prefix of caps via a triangular join, the
  // feasible candidate with the deepest prefix wins, and integer dust
  // from the floor divisions lands deterministically on the first
  // unsaturated language so the allocations sum to the budget EXACTLY
  // (spec-asserted). Scale shape: one corpus scan for the per-language
  // token counts; everything after runs on the ≤|langs| frame.
  // -------------------------------------------------------------------
  def q186_epoch_allocation(spark: SparkSession, dir: String)
      : DataFrame = {
    val t = Tables.documents(spark, dir)
      .filter(length(trim(col("text"))) > 0)
      .select(col("lang"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("nt"))
      .groupBy(col("lang")).agg(sum(col("nt")).as("t_tokens"))
      .withColumn("cap", col("t_tokens") * 2)
      .localCheckpoint(eager = true) // prefix join + totals + alloc
    val tot = t.agg(count(lit(1)).as("n"), sum(col("t_tokens")).as("tt"))
      .withColumn("budget", expr("tt * 3 div 2"))
    val cand = t.select(col("lang").as("clang"), col("cap").as("ccap"))
      .unionAll(spark.range(1)
        .select(lit("").as("clang"), lit(-1L).as("ccap")))
    val pref = cand.join(t,
        col("cap") < col("ccap") ||
          (col("cap") === col("ccap") && col("lang") <= col("clang")),
        "left")
      .groupBy(col("clang"), col("ccap"))
      .agg(coalesce(sum(col("cap")), lit(0L)).as("s"),
        count(col("lang")).as("k"))
    val winner = pref.crossJoin(broadcast(tot))
      .filter(col("k") < col("n"))
      .withColumn("lvl", expr("(budget - s) div (n - k)"))
      .filter(col("ccap") <= col("lvl"))
      .orderBy(col("k").desc, col("clang")).limit(1)
      .select(col("clang").as("wlang"), col("ccap").as("wcap"),
        col("lvl"), (col("n") - col("k")).as("m"), col("s").as("ws"),
        col("budget"))
    val a0 = t.crossJoin(broadcast(winner))
      .withColumn("saturated",
        col("cap") < col("wcap") ||
          (col("cap") === col("wcap") && col("lang") <= col("wlang")))
      .withColumn("alloc0",
        when(col("saturated"), col("cap")).otherwise(col("lvl")))
      .withColumn("dust", expr("budget - ws - m * lvl"))
    val firstUnsat = a0
      .agg(min(when(!col("saturated"), col("lang"))).as("first_unsat"))
    a0.crossJoin(broadcast(firstUnsat))
      .withColumn("alloc", col("alloc0") +
        when(col("lang") === col("first_unsat"), col("dust"))
          .otherwise(lit(0L)))
      .select(col("lang"), col("t_tokens"), col("cap"), col("alloc"),
        expr("alloc * 1000000 div t_tokens").as("epochs_ppm"),
        col("saturated"))
      .orderBy(col("lang"))
  }

  val q186_sql: String =
    """WITH t AS (
      |  SELECT lang, CAST(SUM(
      |      len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT)
      |    AS t_tokens
      |  FROM documents WHERE trim(text) <> '' GROUP BY lang),
      |c AS (SELECT lang, t_tokens, t_tokens * 2 AS cap FROM t),
      |tt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |         CAST(SUM(t_tokens) * 3 // 2 AS BIGINT) AS budget FROM t),
      |cand AS (SELECT lang AS clang, cap AS ccap FROM c
      |         UNION ALL SELECT '', -1),
      |pref AS (
      |  SELECT cand.clang, cand.ccap,
      |    CAST(COALESCE(SUM(c.cap), 0) AS BIGINT) AS s,
      |    CAST(COUNT(c.lang) AS BIGINT) AS k
      |  FROM cand LEFT JOIN c
      |    ON c.cap < cand.ccap
      |    OR (c.cap = cand.ccap AND c.lang <= cand.clang)
      |  GROUP BY 1, 2),
      |w AS (
      |  SELECT clang AS wlang, ccap AS wcap,
      |    (budget - s) // (n - k) AS lvl, n - k AS m, s AS ws, budget
      |  FROM pref CROSS JOIN tt
      |  WHERE k < n AND ccap <= (budget - s) // (n - k)
      |  ORDER BY k DESC, clang LIMIT 1),
      |a0 AS (
      |  SELECT c.lang, c.t_tokens, c.cap,
      |    (c.cap < w.wcap OR (c.cap = w.wcap AND c.lang <= w.wlang))
      |      AS saturated,
      |    CASE WHEN c.cap < w.wcap
      |           OR (c.cap = w.wcap AND c.lang <= w.wlang)
      |         THEN c.cap ELSE w.lvl END AS alloc0,
      |    w.budget - w.ws - w.m * w.lvl AS dust
      |  FROM c CROSS JOIN w),
      |mu AS (SELECT MIN(CASE WHEN NOT saturated THEN lang END)
      |         AS first_unsat FROM a0)
      |SELECT lang, t_tokens, CAST(cap AS BIGINT) AS cap,
      |  CAST(alloc0 + CASE WHEN lang = first_unsat
      |    THEN dust ELSE 0 END AS BIGINT) AS alloc,
      |  CAST((alloc0 + CASE WHEN lang = first_unsat
      |      THEN dust ELSE 0 END) * 1000000 // t_tokens AS BIGINT)
      |    AS epochs_ppm,
      |  saturated
      |FROM a0 CROSS JOIN mu ORDER BY lang""".stripMargin

  // -------------------------------------------------------------------
  // q188 — l-diversity ladder (k-anonymity's stronger sibling, q178's
  // companion): a QI-group can be k-large yet leak the sensitive value
  // if everyone in it shares one. Quasi-identifier = (nation, account
  // balance bucketed at width w ∈ {100, 1000, 10000}); sensitive =
  // market segment. Per level: group count, the worst (minimum)
  // per-group distinct-sensitive count, rows in groups with < 3
  // distinct values, and the l≥3 verdict. Bucket assignment uses floor() on
  // the double BEFORE any cast — DuckDB CAST rounds while Spark's
  // truncates, so the floor is the only portable boundary. Shape: one
  // two-level aggregation per ladder rung sharing a single scan.
  // -------------------------------------------------------------------
  def q188_l_diversity(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
      .select(col("c_nationkey"), col("c_acctbal"), col("c_mktsegment"))
    val l = 3L
    val levels = Seq(100, 1000, 10000).map { wdt =>
      c.groupBy(col("c_nationkey"),
          floor(col("c_acctbal") / wdt).cast("long").as("bucket"))
        .agg(count(lit(1)).as("rows_in_group"),
          countDistinct(col("c_mktsegment")).as("n_sens"))
        .agg(count(lit(1)).as("n_groups"),
          min(col("n_sens")).as("min_diversity"),
          coalesce(sum(when(col("n_sens") < l, col("rows_in_group"))),
            lit(0L)).as("n_at_risk"))
        .select(lit(wdt.toLong).as("bucket_width"), col("n_groups"),
          col("min_diversity"), col("n_at_risk"),
          (col("min_diversity") >= l).as("l_diverse"))
    }
    levels.reduce(_.unionByName(_)).orderBy(col("bucket_width"))
  }

  val q188_sql: String = {
    def level(w: Long): String =
      s"""SELECT $w AS bucket_width,
         |  CAST(COUNT(*) AS BIGINT) AS n_groups,
         |  CAST(MIN(n_sens) AS BIGINT) AS min_diversity,
         |  CAST(COALESCE(SUM(CASE WHEN n_sens < 3
         |    THEN rows_in_group END), 0) AS BIGINT) AS n_at_risk,
         |  MIN(n_sens) >= 3 AS l_diverse
         |FROM (SELECT COUNT(*) AS rows_in_group,
         |        COUNT(DISTINCT c_mktsegment) AS n_sens
         |      FROM customer
         |      GROUP BY c_nationkey, floor(c_acctbal / $w))""".stripMargin
    Seq(100L, 1000L, 10000L).map(level)
      .mkString("", "\nUNION ALL\n", "\nORDER BY bucket_width")
  }

  // -------------------------------------------------------------------
  // q198 — dictionary-encoding audit (the columnar layout advisor next
  // to q153/q184/q194): for each candidate string column, the exact
  // plain cost (Σ value bytes) vs the dictionary cost (distinct
  // payload + ceil(log2(cardinality)) bits per row) and the verdict.
  // The index width comes from length(bin(n_distinct − 1)) — both
  // engines render binary identically, so no float log2 anywhere. Per
  // column: one count/sum aggregation + one distinct-frame sum, all
  // sharing the column scan; three audited columns union into the
  // report a table-format service reads before choosing an encoding.
  // -------------------------------------------------------------------
  def q198_dict_audit(spark: SparkSession, dir: String): DataFrame = {
    def audit(df: DataFrame, c: String, label: String): DataFrame = {
      val base = df.select(col(c).as("v")).filter(col("v").isNotNull)
        .localCheckpoint(eager = true) // plain agg + distinct agg
      val plain = base.agg(count(lit(1)).as("n_rows"),
        sum(length(col("v"))).cast("long").as("plain_bytes"))
      val dict = base.distinct()
        .agg(count(lit(1)).as("n_distinct"),
          sum(length(col("v"))).cast("long").as("dict_payload"))
      plain.crossJoin(dict)
        .withColumn("bits", length(expr("bin(n_distinct - 1)"))
          .cast("long"))
        .withColumn("dict_bytes",
          col("dict_payload") + expr("(n_rows * bits + 7) div 8"))
        .select(lit(label).as("column_name"), col("n_rows"),
          col("n_distinct"), col("plain_bytes"), col("dict_bytes"),
          (col("dict_bytes") < col("plain_bytes")).as("dict_wins"))
    }
    val docs = Tables.documents(spark, dir)
    audit(docs, "lang", "documents.lang")
      .unionByName(audit(docs, "source", "documents.source"))
      .unionByName(audit(
        Tables.events(spark, dir), "event_type", "events.event_type"))
      .orderBy(col("column_name"))
  }

  val q198_sql: String = {
    def audit(table: String, c: String): String =
      s"""SELECT '$table.$c' AS column_name,
         |  CAST(COUNT(*) AS BIGINT) AS n_rows,
         |  CAST(COUNT(DISTINCT $c) AS BIGINT) AS n_distinct,
         |  CAST(SUM(len($c)) AS BIGINT) AS plain_bytes,
         |  (SELECT CAST(SUM(len(v)) AS BIGINT) FROM
         |     (SELECT DISTINCT $c AS v FROM $table
         |      WHERE $c IS NOT NULL))
         |    + (COUNT(*) * len(bin(COUNT(DISTINCT $c) - 1)) + 7) // 8
         |    AS dict_bytes,
         |  (SELECT CAST(SUM(len(v)) AS BIGINT) FROM
         |     (SELECT DISTINCT $c AS v FROM $table
         |      WHERE $c IS NOT NULL))
         |    + (COUNT(*) * len(bin(COUNT(DISTINCT $c) - 1)) + 7) // 8
         |    < CAST(SUM(len($c)) AS BIGINT) AS dict_wins
         |FROM $table WHERE $c IS NOT NULL""".stripMargin
    Seq(audit("documents", "lang"), audit("documents", "source"),
      audit("events", "event_type"))
      .mkString("", "\nUNION ALL\n", "\nORDER BY column_name")
  }

  // -------------------------------------------------------------------
  // q239 — filter bias audit: does the hashed quality classifier
  // (q107) keep documents at different rates across LENGTH strata? A
  // filter whose keep-rate climbs with document length silently skews
  // the corpus toward long documents — the selection-bias check every
  // learned filter gets before deployment (cf. Gopher's "quality
  // filters prefer longer pages" caveat). Per 100-char length bucket
  // (capped at 9): docs, keeps, keep-rate ppm, and lift vs the global
  // rate ×1000. Integer-exact; one scoring pass + a 1-row broadcast.
  // -------------------------------------------------------------------
  def q239_filter_bias_audit(spark: SparkSession, dir: String)
      : DataFrame = {
    val scored = Tables.documents(spark, dir)
      .filter(trim(col("text")) =!= "")
      .select(least(expr("n_chars div 100"), lit(9L)).as("bucket"),
        (TextAnalysis.hashedClassifierScore(col("text")) > 0L)
          .as("keep"))
    val buckets = scored.groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_keep"))
    val overall = buckets.agg(sum(col("n_docs")).as("td"),
      sum(col("n_keep")).as("tk"))
    buckets.crossJoin(broadcast(overall))
      .withColumn("keep_ppm", expr("n_keep * 1000000L div n_docs"))
      .withColumn("overall_ppm", expr("tk * 1000000L div td"))
      .withColumn("lift_x1000", expr(
        "case when overall_ppm = 0 then null " +
          "else keep_ppm * 1000 div overall_ppm end"))
      .select(col("bucket"), col("n_docs"), col("n_keep"),
        col("keep_ppm"), col("overall_ppm"), col("lift_x1000"))
      .orderBy(col("bucket"))
  }

  val q239_sql: String =
    s"""WITH t AS (
      |  SELECT doc_id, LEAST(n_chars // 100, 9) AS bucket,
      |    regexp_split_to_array(trim(text), '\\s+') AS tk
      |  FROM documents WHERE trim(text) <> ''),
      |e AS (SELECT doc_id, unnest(tk) AS tok FROM t),
      |s AS (
      |  SELECT doc_id,
      |    ${graft.pipeline.TextAnalysis.hashedScoreSqlSum()} AS score
      |  FROM e GROUP BY doc_id),
      |scored AS (
      |  SELECT bucket, COALESCE(s.score, 0) > 0 AS keep
      |  FROM t LEFT JOIN s USING (doc_id)),
      |buckets AS (
      |  SELECT bucket, COUNT(*) AS n_docs,
      |    CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_keep
      |  FROM scored GROUP BY bucket),
      |overall AS (
      |  SELECT CAST(SUM(n_docs) AS BIGINT) AS td,
      |    CAST(SUM(n_keep) AS BIGINT) AS tk FROM buckets),
      |r AS (
      |  SELECT bucket, n_docs, n_keep,
      |    n_keep * 1000000 // n_docs AS keep_ppm,
      |    tk * 1000000 // td AS overall_ppm
      |  FROM buckets CROSS JOIN overall)
      |SELECT bucket, n_docs, n_keep, keep_ppm, overall_ppm,
      |  CASE WHEN overall_ppm = 0 THEN NULL
      |    ELSE keep_ppm * 1000 // overall_ppm END AS lift_x1000
      |FROM r
      |ORDER BY bucket""".stripMargin

  // ---------------------------------------------------------------------
  // q326 — stupid-backoff trigram LM scoring (Brants et al. 2007,
  // "Large Language Models in Machine Translation" — the LM that
  // drops Kneser–Ney's normalization precisely so it can be computed
  // with counts alone at web scale): an 80/20 hash split holds out
  // eval docs, the trigram/bigram/unigram count tables come from the
  // TRAIN side only (three hash aggs — the whole "training"), and
  // each eval trigram position scores
  //   S = c₃/c₁₂  →  0.4·c₂₃/c₂  →  0.16·c₁/N  →  0 (OOV),
  // all in single-floor integer ppm (0.4 = ×400000, 0.16 = ×160000 —
  // the pinned-rational discipline; no log, no float). Held-out
  // scoring is what makes backoff REAL — scored against its own
  // training corpus every trigram is a hit. Count tables are
  // independent scan+explode+agg pipelines over per-doc n-gram
  // arrays (never a materialized token-level table); scoring is five
  // equi-joins on count keys, the distributed-LM-scoring shape.
  // Output per eval doc: positions scored, hits per backoff level,
  // and the floor-exact mean score.
  // ---------------------------------------------------------------------
  def q326_stupid_backoff(spark: SparkSession, dir: String)
      : DataFrame = {
    // n-grams WITH multiplicity as per-doc array transforms — four
    // independent scan+explode+agg pipelines instead of one
    // checkpointed token-level window table (first cut lead()-window
    // + localCheckpoint: 42 s warm at sf1, the q310 token-level-
    // materialization trap; parquet rescans are cheaper)
    def grams(tk: org.apache.spark.sql.Column, n: Int)
        : org.apache.spark.sql.Column =
      when(size(tk) < n, array().cast("array<string>"))
        .otherwise(transform(sequence(lit(0), size(tk) - n),
          i => concat_ws(" ", slice(tk, i + 1, lit(n)))))
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("tk"))
      .withColumn("is_train",
        pmod(Sampling.hash60("lm", col("doc_id")), lit(100L)) < 80)
    val train = docs.filter(col("is_train"))
    val uni = train.select(explode(col("tk")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c1"))
    val bi = train.select(explode(grams(col("tk"), 2)).as("g2"))
      .groupBy(col("g2")).agg(count(lit(1)).as("c12"))
    val tri = train.select(explode(grams(col("tk"), 3)).as("g3"))
      .groupBy(col("g3")).agg(count(lit(1)).as("c3"))
    val n = uni.agg(sum(col("c1")).as("n_train"))
    val scored = docs.filter(!col("is_train"))
      .select(col("doc_id"), explode(grams(col("tk"), 3)).as("g3"))
      .withColumn("p", split(col("g3"), " "))
      .select(col("doc_id"), col("g3"),
        concat_ws(" ", col("p").getItem(0), col("p").getItem(1))
          .as("g2a"),
        concat_ws(" ", col("p").getItem(1), col("p").getItem(2))
          .as("g2b"),
        col("p").getItem(1).as("w2k"), col("p").getItem(2).as("w3k"))
      .join(tri, Seq("g3"), "left_outer")
      .join(bi.select(col("g2").as("g2a"), col("c12")),
        Seq("g2a"), "left_outer")
      .join(bi.select(col("g2").as("g2b"), col("c12").as("c23")),
        Seq("g2b"), "left_outer")
      .join(uni.select(col("w").as("w2k"), col("c1").as("c2")),
        Seq("w2k"), "left_outer")
      .join(uni.select(col("w").as("w3k"), col("c1").as("c3u")),
        Seq("w3k"), "left_outer")
      .crossJoin(broadcast(n))
      .withColumn("s", expr(
        """CASE WHEN c3 IS NOT NULL THEN c3 * 1000000 div c12
          |  WHEN c23 IS NOT NULL THEN c23 * 400000 div c2
          |  WHEN c3u IS NOT NULL THEN c3u * 160000 div n_train
          |  ELSE 0 END""".stripMargin))
      .withColumn("lvl", expr(
        """CASE WHEN c3 IS NOT NULL THEN 3
          |  WHEN c23 IS NOT NULL THEN 2
          |  WHEN c3u IS NOT NULL THEN 1 ELSE 0 END""".stripMargin))
    scored.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_scored"),
        sum(when(col("lvl") === 3, 1L).otherwise(0L)).as("n_tri"),
        sum(when(col("lvl") === 2, 1L).otherwise(0L)).as("n_bi"),
        sum(when(col("lvl") === 1, 1L).otherwise(0L)).as("n_uni"),
        expr("sum(s) div count(1)").as("mean_s_ppm"))
      .orderBy(col("doc_id"))
  }

  val q326_sql: String = {
    val h = Sampling.hash60Sql("lm", "doc_id")
    s"""WITH t AS (
       |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS tk,
       |    ($h % 100) < 80 AS is_train
       |  FROM documents WHERE trim(text) <> ''),
       |p0 AS (
       |  SELECT doc_id, is_train, tk,
       |    unnest(generate_series(1, len(tk))) AS i
       |  FROM t),
       |g AS (
       |  SELECT doc_id, is_train, tk[i] AS w1,
       |    CASE WHEN i + 1 <= len(tk) THEN tk[i + 1] END AS w2,
       |    CASE WHEN i + 2 <= len(tk) THEN tk[i + 2] END AS w3
       |  FROM p0),
       |uni AS (SELECT w1 AS w, COUNT(*) AS c1 FROM g
       |  WHERE is_train GROUP BY 1),
       |bi AS (SELECT w1, w2, COUNT(*) AS c12 FROM g
       |  WHERE is_train AND w2 IS NOT NULL GROUP BY 1, 2),
       |tri AS (SELECT w1, w2, w3, COUNT(*) AS c3 FROM g
       |  WHERE is_train AND w3 IS NOT NULL GROUP BY 1, 2, 3),
       |n AS (SELECT COUNT(*) AS n_train FROM g WHERE is_train),
       |scored AS (
       |  SELECT g.doc_id,
       |    CASE WHEN tri.c3 IS NOT NULL
       |        THEN tri.c3 * 1000000 // bi.c12
       |      WHEN b23.c12 IS NOT NULL
       |        THEN b23.c12 * 400000 // u2.c1
       |      WHEN u3.c1 IS NOT NULL
       |        THEN u3.c1 * 160000 // n.n_train
       |      ELSE 0 END AS s,
       |    CASE WHEN tri.c3 IS NOT NULL THEN 3
       |      WHEN b23.c12 IS NOT NULL THEN 2
       |      WHEN u3.c1 IS NOT NULL THEN 1 ELSE 0 END AS lvl
       |  FROM g
       |  LEFT JOIN tri ON tri.w1 = g.w1 AND tri.w2 = g.w2
       |    AND tri.w3 = g.w3
       |  LEFT JOIN bi ON bi.w1 = g.w1 AND bi.w2 = g.w2
       |  LEFT JOIN bi b23 ON b23.w1 = g.w2 AND b23.w2 = g.w3
       |  LEFT JOIN uni u2 ON u2.w = g.w2
       |  LEFT JOIN uni u3 ON u3.w = g.w3
       |  CROSS JOIN n
       |  WHERE NOT g.is_train AND g.w3 IS NOT NULL)
       |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_scored,
       |  CAST(SUM(CASE WHEN lvl = 3 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_tri,
       |  CAST(SUM(CASE WHEN lvl = 2 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_bi,
       |  CAST(SUM(CASE WHEN lvl = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_uni,
       |  CAST(SUM(s) // COUNT(*) AS BIGINT) AS mean_s_ppm
       |FROM scored GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q335 — TextTiling topic segmentation (Hearst 1997, deterministic
  // lite): at every block boundary p = k·w, the lexical cohesion
  // between the w tokens before and after p is the distinct-token
  // overlap (×10⁶/w); a TOPIC BOUNDARY is a gap whose cohesion falls
  // below half the document's mean — the chunking signal long-context
  // pipelines use to split documents at topic shifts instead of at
  // arbitrary byte offsets (complementing q87/q312's content-defined
  // chunking, which is offset-invariant but topic-blind). All work is
  // per-document (explode gaps → array_distinct/array_intersect on
  // w-token slices → one per-doc agg + join back); no corpus-sized
  // state anywhere. Docs shorter than 2w have no interior gap and are
  // excluded by construction in both engines.
  // ---------------------------------------------------------------------
  private val TtW = 10 // block width in tokens

  def q335_texttiling(spark: SparkSession, dir: String): DataFrame = {
    val gaps = Tables.documents(spark, dir)
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("tk"))
      .filter(size(col("tk")) >= 2 * TtW)
      .select(col("doc_id"), col("tk"),
        explode(expr(s"sequence(1, size(tk) div $TtW - 1)")).as("k"))
      .withColumn("p", col("k") * TtW)
      .withColumn("lhs",
        array_distinct(expr(s"slice(tk, p - $TtW + 1, $TtW)")))
      .withColumn("rhs",
        array_distinct(expr(s"slice(tk, p + 1, $TtW)")))
      .withColumn("sim_ppm", expr(
        "cast(size(array_intersect(lhs, rhs)) as bigint)" +
          s" * 1000000 div $TtW"))
      .select(col("doc_id"), col("p"), col("sim_ppm"))
    val means = gaps.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_gaps"),
        expr("sum(sim_ppm) div count(1)").as("mean_sim_ppm"))
    gaps.join(means, Seq("doc_id"))
      .withColumn("is_b",
        col("sim_ppm") * 2 < col("mean_sim_ppm"))
      .groupBy(col("doc_id"))
      .agg(first(col("n_gaps")).as("n_gaps"),
        first(col("mean_sim_ppm")).as("mean_sim_ppm"),
        sum(when(col("is_b"), 1L).otherwise(0L)).as("n_boundaries"),
        coalesce(min(when(col("is_b"), col("p"))), lit(-1L))
          .cast("long").as("first_boundary"))
      .orderBy(col("doc_id"))
  }

  val q335_sql: String =
    s"""WITH t AS (
       |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS tk
       |  FROM documents
       |  WHERE trim(text) <> ''),
       |g0 AS (
       |  SELECT doc_id, tk,
       |    unnest(generate_series(1, len(tk) // $TtW - 1)) AS k
       |  FROM t WHERE len(tk) >= ${2 * TtW}),
       |gaps AS (
       |  SELECT doc_id, k * $TtW AS p,
       |    len(list_filter(list_distinct(
       |        tk[k * $TtW - ${TtW - 1}:k * $TtW]),
       |      x -> list_contains(
       |        tk[k * $TtW + 1:k * $TtW + $TtW], x)))
       |      * 1000000 // $TtW AS sim_ppm
       |  FROM g0),
       |m AS (
       |  SELECT doc_id, COUNT(*) AS n_gaps,
       |    SUM(sim_ppm) // COUNT(*) AS mean_sim_ppm
       |  FROM gaps GROUP BY 1)
       |SELECT gaps.doc_id, CAST(m.n_gaps AS BIGINT) AS n_gaps,
       |  CAST(m.mean_sim_ppm AS BIGINT) AS mean_sim_ppm,
       |  CAST(SUM(CASE WHEN gaps.sim_ppm * 2 < m.mean_sim_ppm
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_boundaries,
       |  CAST(COALESCE(MIN(CASE WHEN gaps.sim_ppm * 2 < m.mean_sim_ppm
       |    THEN gaps.p END), -1) AS BIGINT) AS first_boundary
       |FROM gaps JOIN m ON m.doc_id = gaps.doc_id
       |GROUP BY gaps.doc_id, m.n_gaps, m.mean_sim_ppm
       |ORDER BY gaps.doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // q342 — Zipf octave audit: rank–frequency decay measured without
  // logs — tokens bucketed by ⌊log₂ rank⌋ (the bin()-string integer
  // log), and the decay between consecutive octaves reported as the
  // exact rational mean(prev)/mean(cur) ×1000 (≈ 2^s ≈ 2000 for a
  // clean Zipf s=1; a corpus whose octave decay drifts far from that
  // band is template-heavy or truncated — a corpus-health signal
  // vocabulary and mixture planners read). Ranks come from the
  // vocabulary-bounded distributed sort + zipWithIndex, ties broken
  // (count desc, token) — never a corpus-sized window.
  // ---------------------------------------------------------------------
  def q342_zipf_octaves(spark: SparkSession, dir: String)
      : DataFrame = {
    val spark2 = spark
    import spark2.implicits._
    val counts = Tables.documents(spark, dir)
      .select(explode(TextAnalysis.tokens(col("text"))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("c"))
    val ranked = graft.ops.Rank.globalOrdinal(
        counts.select((-col("c")).as("nc"), col("tok"), col("c")),
        "rank", 32, col("nc"), col("tok"))
      .select(col("c"), col("rank"))
    val oct = ranked
      .withColumn("octave",
        (length(expr("bin(rank)")) - 1).cast("long"))
      .groupBy(col("octave"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("c")).as("sum_freq"))
      .localCheckpoint(eager = true) // self-join on octave - 1
    oct.join(oct.select((col("octave") + 1).as("octave"),
        col("n_tokens").as("pn"), col("sum_freq").as("ps")),
        Seq("octave"), "left_outer")
      .withColumn("mean_freq_x1000",
        expr("sum_freq * 1000 div n_tokens"))
      .withColumn("decay_x1000", expr(
        """CASE WHEN ps IS NULL THEN 0
          | ELSE cast(cast(ps as decimal(38,0)) * n_tokens * 1000
          |   div (cast(pn as decimal(38,0)) * sum_freq) as bigint)
          | END""".stripMargin))
      .select(col("octave"), col("n_tokens"), col("sum_freq"),
        col("mean_freq_x1000"), col("decay_x1000"))
      .orderBy(col("octave"))
  }

  val q342_sql: String =
    """WITH counts AS (
      |  SELECT tok, COUNT(*) AS c FROM (
      |    SELECT unnest(regexp_split_to_array(trim(text), '\s+'))
      |      AS tok
      |    FROM documents WHERE trim(text) <> '')
      |  GROUP BY 1),
      |ranked AS (
      |  SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, tok) AS rank
      |  FROM counts),
      |oct AS (
      |  SELECT length(ltrim(bin(rank), '0')) - 1 AS octave,
      |    COUNT(*) AS n_tokens, SUM(c) AS sum_freq
      |  FROM ranked GROUP BY 1)
      |SELECT CAST(o.octave AS BIGINT) AS octave,
      |  CAST(o.n_tokens AS BIGINT) AS n_tokens,
      |  CAST(o.sum_freq AS BIGINT) AS sum_freq,
      |  CAST(o.sum_freq * 1000 // o.n_tokens AS BIGINT)
      |    AS mean_freq_x1000,
      |  CAST(CASE WHEN p.sum_freq IS NULL THEN 0
      |    ELSE CAST(p.sum_freq AS HUGEINT) * o.n_tokens * 1000
      |      // (CAST(p.n_tokens AS HUGEINT) * o.sum_freq) END
      |    AS BIGINT) AS decay_x1000
      |FROM oct o LEFT JOIN oct p ON p.octave = o.octave - 1
      |ORDER BY octave""".stripMargin

  // ---------------------------------------------------------------------
  // q344 — weighted (multiset) Jaccard verify over fingerprint
  // blocks: set-based Jaccard (q23/q122) treats "the the the spam
  // spam" and "the spam" as identical; the WEIGHTED form
  // Σmin(cₐ,c_b)/Σmax(cₐ,c_b) is what catches template docs that
  // differ only in copy multiplicity. Candidates are leading-8-token
  // fingerprint blocks (the q325 grouping), capped at 10 members per
  // block by min doc id (fan-out ≤ 45 pairs/block by construction —
  // loudly documented, never corpus²). The key identity that keeps
  // it relational: Σmax = |A| + |B| − Σmin, so only SHARED tokens
  // ever join (an inner join on the token key — non-shared tokens
  // contribute min 0). Output: candidate pairs with jw ≥ 0.2 ppm.
  // Scale shape: NO corpus-sized materialization — the round-8 first
  // cut localCheckpointed docs/members/counts (the q285/q301/q326
  // materialize-vs-rescan trap); all three are scan-or-shuffle-speed
  // lineages, so every consumer rescans (Catalyst reuses the member
  // window's exchange where plans align) and executor storage stays
  // empty at any corpus size.
  // ---------------------------------------------------------------------
  private val WjCap = 10
  private val WjThresholdPpm = 200000L

  /** (doc_id, tok, c) per-member token multiplicities — shared by q344
    * (exact Σmin/Σmax) and q345 (the MinHash estimator of the same
    * quantity). */
  private def wjCounts(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"),
        TextAnalysis.tokens(lower(col("text"))).as("tk"))
      .withColumn("fp",
        md5(concat_ws(" ", slice(col("tk"), 1, 8))))
    val members = docs
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("fp")).orderBy(col("doc_id"))))
      .filter(col("rk") <= WjCap)
      .select(col("fp"), col("doc_id"))
    val counts = docs
      .join(members.select(col("doc_id")), Seq("doc_id"),
        "left_semi")
      .select(col("doc_id"), explode(col("tk")).as("tok"))
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("c"))
    val pairs = members.as("a")
      .join(members.as("b"), col("a.fp") === col("b.fp") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
    (pairs, counts)
  }

  /** The q344 result frame (pre-orderBy): thresholded candidate pairs
    * with exact weighted-Jaccard components. */
  private def wjScored(spark: SparkSession, dir: String): DataFrame = {
    val (pairs, counts) = wjCounts(spark, dir)
    val sizes = counts.groupBy(col("doc_id"))
      .agg(sum(col("c")).as("sz"))
    val inter = pairs
      .join(counts.select(col("doc_id").as("id_a"), col("tok"),
        col("c").as("ca")), Seq("id_a"))
      .join(counts.select(col("doc_id").as("id_b"), col("tok"),
        col("c").as("cb")), Seq("id_b", "tok"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(sum(least(col("ca"), col("cb"))).as("inter_min"))
    pairs
      .join(inter, Seq("id_a", "id_b"), "left_outer")
      .na.fill(0L, Seq("inter_min"))
      .join(sizes.select(col("doc_id").as("id_a"),
        col("sz").as("sa")), Seq("id_a"))
      .join(sizes.select(col("doc_id").as("id_b"),
        col("sz").as("sb")), Seq("id_b"))
      .withColumn("union_max",
        col("sa") + col("sb") - col("inter_min"))
      .withColumn("jw_ppm",
        expr("inter_min * 1000000 div union_max"))
      .filter(col("jw_ppm") >= WjThresholdPpm)
      .select(col("id_a"), col("id_b"), col("inter_min"),
        col("union_max"), col("jw_ppm"))
  }

  def q344_weighted_jaccard(spark: SparkSession, dir: String)
      : DataFrame =
    wjScored(spark, dir).orderBy(col("id_a"), col("id_b"))

  // ---------------------------------------------------------------------
  // q345 — weighted-MinHash estimator audit via multiset expansion:
  // the classic reduction (Haveliwala/Broder lineage; the integer-
  // weight case of consistent weighted sampling) of weighted Jaccard
  // to PLAIN Jaccard — expand each token with count c into the set
  // {(tok,1)…(tok,c)}, then |A∩B|/|A∪B| of the expansions IS
  // Σmin/Σmax. K×MinHash over the expansion (H=32 Carter–Wegman
  // hashes h_i = (aᵢ·base + bᵢ) mod p over ONE md5 base per element,
  // p = 2³⁰−35 so every product fits int64) gives the sketch a 100 TB
  // dedup pass would ship instead of q344's exact pairwise join; the
  // audit reports, for exactly q344's emitted pairs, the estimate
  // next to the exact value — the estimator's observed error at
  // matches/32 granularity (±31 250 ppm steps). Scale: expansion is
  // token-count-sized (scan-shaped), the 32× hash fan-out feeds ONE
  // map-side-combinable min agg with O(docs×32) state.
  // ---------------------------------------------------------------------
  private val WmhH = 32
  private val WmhP = 1073741789L // prime = 2^30 − 35
  private[graft] val wmhCoefs: Seq[(Long, Long, Long)] =
    (0 until WmhH).map { i =>
      (i.toLong,
        Sampling.hash60Jvm("wmh_a", i.toLong) % (WmhP - 1) + 1,
        Sampling.hash60Jvm("wmh_b", i.toLong) % WmhP)
    }

  def q345_weighted_minhash(spark: SparkSession, dir: String)
      : DataFrame = {
    val (pairs0, counts) = wjCounts(spark, dir)
    val coefs = spark.createDataFrame(wmhCoefs).toDF("i", "a", "b")
    val sigs = counts
      .withColumn("k", explode(sequence(lit(1L), col("c"))))
      .withColumn("base",
        Sampling.hash60("wmh",
          concat_ws("|", col("tok"), col("k"))) % WmhP)
      .select(col("doc_id"), col("base"))
      .crossJoin(broadcast(coefs))
      .groupBy(col("doc_id"), col("i"))
      .agg(min((col("a") * col("base") + col("b")) % WmhP).as("mh"))
    val est = pairs0
      .join(sigs.select(col("doc_id").as("id_a"), col("i"),
        col("mh").as("ma")), Seq("id_a"))
      .join(sigs.select(col("doc_id").as("id_b"), col("i"),
        col("mh").as("mb")), Seq("id_b", "i"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(sum(when(col("ma") === col("mb"), 1L).otherwise(0L))
        .as("matches"))
    wjScored(spark, dir)
      .join(est, Seq("id_a", "id_b"))
      .withColumn("est_ppm",
        expr(s"matches * 1000000 div $WmhH"))
      .select(col("id_a"), col("id_b"), col("jw_ppm"), col("matches"),
        col("est_ppm"),
        expr("abs(est_ppm - jw_ppm)").as("err_ppm"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** CTE prefix shared by q344_sql/q345_sql: candidate pairs, member
    * token multiplicities, and the thresholded exact scores. */
  private val wjCommonSql: String =
    s"""d AS (
       |  SELECT doc_id,
       |    regexp_split_to_array(trim(lower(text)), '\\s+') AS tk
       |  FROM documents WHERE trim(text) <> ''),
       |fp AS (
       |  SELECT doc_id, md5(array_to_string(tk[1:8], ' ')) AS fp,
       |    tk
       |  FROM d),
       |members AS (
       |  SELECT fp, doc_id, tk FROM (
       |    SELECT fp, doc_id, tk, ROW_NUMBER() OVER (
       |      PARTITION BY fp ORDER BY doc_id) AS rk
       |    FROM fp) WHERE rk <= $WjCap),
       |pairs AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM members a JOIN members b ON a.fp = b.fp
       |    AND a.doc_id < b.doc_id),
       |counts AS (
       |  SELECT doc_id, tok, COUNT(*) AS c
       |  FROM (SELECT doc_id, unnest(tk) AS tok FROM members)
       |  GROUP BY 1, 2),
       |sizes AS (SELECT doc_id, SUM(c) AS sz FROM counts GROUP BY 1),
       |inter AS (
       |  SELECT p.id_a, p.id_b, SUM(LEAST(ca.c, cb.c)) AS inter_min
       |  FROM pairs p
       |  JOIN counts ca ON ca.doc_id = p.id_a
       |  JOIN counts cb ON cb.doc_id = p.id_b AND cb.tok = ca.tok
       |  GROUP BY 1, 2),
       |scored AS (
       |  SELECT p.id_a, p.id_b,
       |    COALESCE(inter.inter_min, 0) AS inter_min,
       |    sa.sz + sb.sz - COALESCE(inter.inter_min, 0) AS union_max
       |  FROM pairs p
       |  LEFT JOIN inter ON inter.id_a = p.id_a
       |    AND inter.id_b = p.id_b
       |  JOIN sizes sa ON sa.doc_id = p.id_a
       |  JOIN sizes sb ON sb.doc_id = p.id_b),
       |emitted AS (
       |  SELECT id_a, id_b, CAST(inter_min AS BIGINT) AS inter_min,
       |    CAST(union_max AS BIGINT) AS union_max,
       |    CAST(inter_min * 1000000 // union_max AS BIGINT) AS jw_ppm
       |  FROM scored
       |  WHERE inter_min * 1000000 // union_max >= $WjThresholdPpm)"""
      .stripMargin

  val q344_sql: String =
    s"""WITH $wjCommonSql
       |SELECT id_a, id_b, inter_min, union_max, jw_ppm
       |FROM emitted ORDER BY id_a, id_b""".stripMargin

  val q345_sql: String = {
    val coefRows = wmhCoefs
      .map { case (i, a, b) => s"($i, $a, $b)" }.mkString(", ")
    val baseHash = Sampling.hash60Sql("wmh",
      "tok || '|' || CAST(k AS VARCHAR)")
    s"""WITH $wjCommonSql,
       |coefs(i, a, b) AS (VALUES $coefRows),
       |expanded AS (
       |  SELECT doc_id, ($baseHash) % $WmhP AS base
       |  FROM counts, unnest(generate_series(1, c)) u(k)),
       |sigs AS (
       |  SELECT doc_id, i, MIN((a * base + b) % $WmhP) AS mh
       |  FROM expanded CROSS JOIN coefs GROUP BY 1, 2),
       |mt AS (
       |  SELECT e.id_a, e.id_b,
       |    SUM(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END) AS matches
       |  FROM emitted e
       |  JOIN sigs sa ON sa.doc_id = e.id_a
       |  JOIN sigs sb ON sb.doc_id = e.id_b AND sb.i = sa.i
       |  GROUP BY 1, 2)
       |SELECT e.id_a, e.id_b, e.jw_ppm,
       |  CAST(matches AS BIGINT) AS matches,
       |  CAST(matches * 1000000 // $WmhH AS BIGINT) AS est_ppm,
       |  CAST(abs(matches * 1000000 // $WmhH - e.jw_ppm) AS BIGINT)
       |    AS err_ppm
       |FROM emitted e JOIN mt ON mt.id_a = e.id_a AND mt.id_b = e.id_b
       |ORDER BY e.id_a, e.id_b""".stripMargin
  }

  val registry: graft.SparkEntry.Registry = Seq(
    ("q345_weighted_minhash", q345_weighted_minhash _, q345_sql),
    ("q344_weighted_jaccard", q344_weighted_jaccard _, q344_sql),
    ("q342_zipf_octaves", q342_zipf_octaves _, q342_sql),
    ("q335_texttiling", q335_texttiling _, q335_sql),
    ("q326_stupid_backoff", q326_stupid_backoff _, q326_sql),
    ("q239_filter_bias_audit", q239_filter_bias_audit _, q239_sql),
    ("q153_zorder_layout", q153_zorder_layout _, q153_sql),
    ("q182_pareto_skyline", q182_pareto_skyline _, q182_sql),
    ("q183_compaction_plan", q183_compaction_plan _, q183_sql),
    ("q184_zonemap_audit", q184_zonemap_audit _, q184_sql),
    ("q186_epoch_allocation", q186_epoch_allocation _, q186_sql),
    ("q188_l_diversity", q188_l_diversity _, q188_sql),
    ("q198_dict_audit", q198_dict_audit _, q198_sql),
    ("q148_skew_audit", q148_skew_audit _, q148_sql),
    ("q133_cms_estimate", q133_cms_estimate _, q133_sql),
    ("q260_cms_join_size", q260_cms_join_size _, q260_sql),
    ("q261_repetition_signals", q261_repetition_signals _, q261_sql),
    ("q268_format_roundtrip", q268_format_roundtrip _, q268_sql),
    ("q127_max_run", q127_max_run _, q127_sql),
    ("q125_line_filter", q125_line_filter _, q125_sql),
    ("q124_vocab_growth", q124_vocab_growth _, q124_sql),
    ("q123_collocations", q123_collocations _, q123_sql),
    ("q121_fertility", q121_fertility _, q121_sql),
    ("q119_dup_sources", q119_dup_sources _, q119_sql),
    ("q120_ngram_uniqueness", q120_ngram_uniqueness _, q120_sql),
    ("q118_kmeanspp_init", q118_kmeanspp_init _, q118_sql),
    ("q116_vocab_encode", q116_vocab_encode _, q116_sql),
    ("q117_dsir_select", q117_dsir_select _, q117_sql),
    ("q110_heavy_hitters", q110_heavy_hitters _, q110_sql),
    ("q111_lm_score", q111_lm_score _, q111_sql),
    ("q115_vocab_build", q115_vocab_build _, q115_sql),
    ("q107_hash_classifier", q107_hash_classifier _, q107_sql),
    ("q106_temp_mixture", q106_temp_mixture _, q106_sql),
    ("q84_gopher_rules", q84_gopher_rules _, q84_sql),
    ("q85_containment", q85_containment _, q85_sql),
    ("q86_embed_quantize", q86_embed_quantize _, q86_sql),
    ("q87_cdc_chunks", q87_cdc_chunks _, q87_sql),
    ("q88_source_mixture", q88_source_mixture _, q88_sql),
    ("q89_kmeans_step", q89_kmeans_step _, q89_sql),
    ("q91_snapshot_diff", q91_snapshot_diff _, q91_sql),
    ("q92_kmv_merge", q92_kmv_merge _, q92_sql),
    ("q93_quantized_ann", q93_quantized_ann _, q93_sql),
    ("q94_bloom_decontam", q94_bloom_decontam _, q94_sql),
    ("q96_weighted_sample", q96_weighted_sample _, q96_sql),
    ("q97_incremental_agg", q97_incremental_agg _, q97_sql),
    ("q167_incremental_join", q167_incremental_join _, q167_sql),
    ("q171_target_encoding", q171_target_encoding _, q171_sql),
    ("q172_expectations", q172_expectations _, q172_sql),
    ("q178_k_anonymity", q178_k_anonymity _, q178_sql),
    ("q179_rendezvous_routing", q179_rendezvous_routing _, q179_sql),
    ("q98_stat_moments", q98_stat_moments _, q98_sql),
    ("q99_frame_dedup", q99_frame_dedup _, q99_sql),
    ("q100_curate_e2e", q100_curate_e2e _, q100_sql))
}
