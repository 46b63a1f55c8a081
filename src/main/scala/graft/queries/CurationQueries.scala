package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.pipeline.{Clusters, Curation, Dedup, MediaCodecs, Multimodal, Sampling, TextAnalysis}

/** Round-3 coverage: the curation stages a large-scale training-data
  * pipeline runs AFTER the per-document scoring ops (q20–q29) — all
  * deterministic and DuckDB-oracled:
  *
  *   - q57/q58: hash-deterministic stratified sampling and
  *     train/val/test splitting (reproducible membership, no RNG);
  *   - q59: the curation funnel (cumulative survivor counts per filter
  *     stage) in ONE pass — the pipeline-health dashboard query;
  *   - q60: TF-IDF term ranking in integer arithmetic;
  *   - q61: near-dup pairs → connected components → cluster sizes (the
  *     transitive keep-one-per-cluster step pairwise dedup misses);
  *   - q62: fixed word-window chunking (the reference's paragraph
  *     chunker at pipeline scale, `documents/parser.go:51-90`);
  *   - q63: event-type pivot (wide activity profile per user);
  *   - q64: inverted-index posting lists (token → df + first docs);
  *   - q65: byte-exact multimodal frame fan-out over a binary column;
  *   - q66–q68: integer BM25 ranking, quality-keeper selection, ANN
  *     recall@3 evaluation;
  *   - q75/q78: Levenshtein fuzzy join, context-window packing;
  *   - q79/q80: benchmark decontamination (n-gram overlap) and PII
  *     scan + redaction;
  *   - q81–q83: duplicated-3-gram repetitiveness, cross-lingual
  *     duplicate detection, exact-quota per-stratum sampling.
  */
object CurationQueries {

  private def hash60Sql(salt: String, idExpr: String): String =
    Sampling.hash60Sql(salt, idExpr)

  // -------------------------------------------------------------------
  // q57 — deterministic stratified sampling: per-language keep rates,
  // membership a pure function of the id hash. Row-local (no shuffle,
  // no RNG state): the sample is reproducible on any engine/topology
  // and stable across re-runs — the property curation pipelines need
  // for incremental rebuilds.
  // -------------------------------------------------------------------
  def q57_stratified_sample(spark: SparkSession, dir: String): DataFrame =
    Sampling.stratifiedSample(Tables.documents(spark, dir), "doc_id",
        "lang", ratesPpm = Map("en" -> 250000L, "zh" -> 600000L),
        defaultPpm = 500000L)
      .select(col("doc_id"), col("lang"))
      .orderBy(col("doc_id"))

  val q57_sql: String =
    s"""SELECT doc_id, lang FROM documents
       |WHERE ${hash60Sql("sample", "doc_id")} % 1000000 <
       |  CASE lang WHEN 'en' THEN 250000 WHEN 'zh' THEN 600000
       |       ELSE 500000 END
       |ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------
  // q58 — train/val/test split assignment by hash bucket (80/10/10),
  // salted independently of q57's sample decision. Output: per-split
  // per-language counts (the split-balance report).
  // -------------------------------------------------------------------
  def q58_split_assign(spark: SparkSession, dir: String): DataFrame =
    Sampling.splitAssign(Tables.documents(spark, dir), "doc_id")
      .groupBy(col("split"), col("lang"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("split"), col("lang"))

  val q58_sql: String =
    s"""SELECT CASE
       |    WHEN ${hash60Sql("split", "doc_id")} % 100 < 80 THEN 'train'
       |    WHEN ${hash60Sql("split", "doc_id")} % 100 < 90 THEN 'val'
       |    ELSE 'test' END AS split,
       |  lang, COUNT(*) AS n_docs
       |FROM documents
       |GROUP BY split, lang
       |ORDER BY split, lang""".stripMargin

  // -------------------------------------------------------------------
  // q59 — curation funnel: cumulative survivor counts through the
  // filter chain (non-empty → language known → quality ≥ 0.5 → length
  // ≥ 200 chars → exact-dedup keeper). ONE pass: every stage is a
  // conditional aggregate over the same flagged projection (plus one
  // window shuffle for the dedup-keeper flag) — not N scans. The
  // pipeline-health query a 100 TB curation run reports after every
  // rebuild.
  // -------------------------------------------------------------------
  def q59_curation_funnel(spark: SparkSession, dir: String): DataFrame = {
    val keepW = Window.partitionBy(md5(col("text"))).orderBy(col("doc_id"))
    val flagged = TextAnalysis.langIdDf(Tables.documents(spark, dir), "text")
      .withColumn("q_ppm",
        TextAnalysis.qualityScorePpm("text", "n_chars"))
      .withColumn("f1", trim(col("text")) =!= "")
      .withColumn("f2", col("predicted") =!= "und")
      .withColumn("f3", col("q_ppm") >= 500000L)
      .withColumn("f4", col("n_chars") >= 200L)
      .withColumn("f5", row_number().over(keepW) === 1)
    val one = flagged.agg(
      count(lit(1)).as("c0"),
      sum(when(col("f1"), 1L).otherwise(0L)).as("c1"),
      sum(when(col("f1") && col("f2"), 1L).otherwise(0L)).as("c2"),
      sum(when(col("f1") && col("f2") && col("f3"), 1L).otherwise(0L))
        .as("c3"),
      sum(when(col("f1") && col("f2") && col("f3") && col("f4"), 1L)
        .otherwise(0L)).as("c4"),
      sum(when(col("f1") && col("f2") && col("f3") && col("f4") &&
        col("f5"), 1L).otherwise(0L)).as("c5"))
    one.select(explode(array(
        struct(lit("00_total").as("stage"), col("c0").as("n_docs")),
        struct(lit("10_nonempty").as("stage"), col("c1").as("n_docs")),
        struct(lit("20_lang_known").as("stage"), col("c2").as("n_docs")),
        struct(lit("30_quality").as("stage"), col("c3").as("n_docs")),
        struct(lit("40_length").as("stage"), col("c4").as("n_docs")),
        struct(lit("50_exact_keeper").as("stage"), col("c5").as("n_docs"))))
        .as("s"))
      .select(col("s.stage").as("stage"), col("s.n_docs").as("n_docs"))
      .orderBy(col("stage"))
  }

  // Language-ID fragments shared with langIdDf (see TextAnalysis).
  val q59_sql: String = {
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
       |f AS (
       |  SELECT trim(text) <> '' AS f1,
       |         predicted <> 'und' AS f2,
       |         q_ppm >= 500000 AS f3,
       |         n_chars >= 200 AS f4,
       |         ROW_NUMBER() OVER (PARTITION BY md5(text)
       |           ORDER BY doc_id) = 1 AS f5
       |  FROM p),
       |a AS (
       |  SELECT COUNT(*) AS c0,
       |    COUNT(*) FILTER (f1) AS c1,
       |    COUNT(*) FILTER (f1 AND f2) AS c2,
       |    COUNT(*) FILTER (f1 AND f2 AND f3) AS c3,
       |    COUNT(*) FILTER (f1 AND f2 AND f3 AND f4) AS c4,
       |    COUNT(*) FILTER (f1 AND f2 AND f3 AND f4 AND f5) AS c5
       |  FROM f)
       |SELECT '00_total' AS stage, c0 AS n_docs FROM a
       |UNION ALL SELECT '10_nonempty', c1 FROM a
       |UNION ALL SELECT '20_lang_known', c2 FROM a
       |UNION ALL SELECT '30_quality', c3 FROM a
       |UNION ALL SELECT '40_length', c4 FROM a
       |UNION ALL SELECT '50_exact_keeper', c5 FROM a
       |ORDER BY stage""".stripMargin
  }

  // -------------------------------------------------------------------
  // q60 — TF-IDF top terms per document, integer-exact: idf scaled to
  // ppm with floor division (no ln(), whose last-bit behavior differs
  // across libm implementations), score = tf · (N·10⁶ div df). The
  // search-ranking upgrade over the reference's substring search: same
  // shuffle shape as a groupBy + window top-k, linear at any corpus
  // size.
  // -------------------------------------------------------------------
  def q60_tfidf_terms(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .filter(length(trim(col("text"))) > 0)
    val toksAll = docs.select(col("doc_id"),
      explode(TextAnalysis.tokens(col("text"))).as("term"))
    val tf = toksAll.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dft = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_total"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("term"))
    tf.join(dft, Seq("term"))
      .crossJoin(broadcast(nDocs))
      .withColumn("score", expr("tf * ((n_total * 1000000) div df)"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        col("score"), col("rk"))
      .orderBy(col("doc_id"), col("rk"))
  }

  val q60_sql: String =
    s"""WITH ${OracleSql.termTf},
       |dft AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
       |n AS (SELECT COUNT(*) AS n_total FROM d),
       |scored AS (
       |  SELECT tf.doc_id, tf.term, tf.tf, dft.df,
       |         tf.tf * ((n.n_total * 1000000) // dft.df) AS score
       |  FROM tf JOIN dft ON tf.term = dft.term CROSS JOIN n),
       |r AS (
       |  SELECT *, ROW_NUMBER() OVER (
       |    PARTITION BY doc_id ORDER BY score DESC, term) AS rk
       |  FROM scored)
       |SELECT doc_id, term, tf, df, score, rk FROM r WHERE rk <= 3
       |ORDER BY doc_id, rk""".stripMargin

  // -------------------------------------------------------------------
  // q61 — duplicate clusters: bigram-Jaccard near-dup pairs (q50's
  // df-capped shingle join) → connected components (GraphX Pregel
  // min-label) → cluster sizes. The transitive step pairwise dedup
  // misses: A~B, B~C must collapse to ONE keeper even when A≁C.
  // Cluster id = min member id (the keeper), deterministically.
  // -------------------------------------------------------------------
  def q61_dup_clusters(spark: SparkSession, dir: String): DataFrame = {
    val pairs = Dedup.jaccardPairs(Tables.documents(spark, dir),
      "doc_id", "text", n = 2, threshold = 0.5, maxDf = 16)
    Clusters.clusterSizes(
        Clusters.connectedComponentsGraphX(spark, pairs, "id_a", "id_b"))
      .orderBy(col("cluster_id"))
  }

  val q61_sql: String =
    """WITH RECURSIVE toks0 AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
      |  FROM documents WHERE trim(text) <> ''),
      |sh0 AS (
      |  SELECT DISTINCT doc_id,
      |    unnest([t[i] || ' ' || t[i + 1]
      |            FOR i IN generate_series(1, len(t) - 1)]) AS shingle
      |  FROM toks0 WHERE len(t) >= 2),
      |rare AS (
      |  SELECT shingle FROM sh0 GROUP BY shingle HAVING COUNT(*) <= 16),
      |sh AS (SELECT doc_id, sh0.shingle FROM sh0
      |       JOIN rare ON sh0.shingle = rare.shingle),
      |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS intersection
      |  FROM sh a JOIN sh b
      |    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |pairs AS (
      |  SELECT id_a, id_b FROM inter
      |  JOIN sizes sa ON id_a = sa.doc_id
      |  JOIN sizes sb ON id_b = sb.doc_id
      |  WHERE CAST(intersection AS DOUBLE) /
      |        (sa.sz + sb.sz - intersection) >= 0.5),
      |edges AS (SELECT id_a AS u, id_b AS v FROM pairs
      |          UNION SELECT id_b, id_a FROM pairs),
      |reach(a, b) AS (
      |  SELECT u, u FROM (SELECT DISTINCT u FROM edges)
      |  UNION
      |  SELECT r.a, e.v FROM reach r JOIN edges e ON e.u = r.b),
      |labels AS (SELECT a AS node, MIN(b) AS cluster_id
      |           FROM reach GROUP BY a)
      |SELECT cluster_id, COUNT(*) AS n_members FROM labels
      |GROUP BY cluster_id
      |ORDER BY cluster_id""".stripMargin

  // -------------------------------------------------------------------
  // q62 — fixed word-window chunking (40 words per chunk): the
  // reference's paragraph chunker re-expressed as a linear groupBy —
  // the unit-of-training-example splitter. Chunk text re-assembled in
  // token order; md5 included so the whole payload is value-checked.
  // -------------------------------------------------------------------
  def q62_word_chunks(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.wordChunks(Tables.documents(spark, dir), "doc_id",
        "text", chunkWords = 40)
      .select(col("doc_id"), col("chunk_idx"), col("n_words"),
        md5(col("chunk_text")).as("chunk_md5"))
      .orderBy(col("doc_id"), col("chunk_idx"))

  val q62_sql: String =
    s"""WITH ${OracleSql.wordPositions},
       |c AS (
       |  SELECT doc_id, (i - 1) // 40 AS chunk_idx,
       |         COUNT(*) AS n_words,
       |         md5(string_agg(tok, ' ' ORDER BY i)) AS chunk_md5
       |  FROM pos GROUP BY doc_id, (i - 1) // 40)
       |SELECT doc_id, chunk_idx, n_words, chunk_md5 FROM c
       |ORDER BY doc_id, chunk_idx""".stripMargin

  // -------------------------------------------------------------------
  // q141 — sliding-window chunking with overlap (window 64, stride 40):
  // the RAG/pretraining chunker where consecutive chunks share
  // window−stride tokens so no span is cut at a boundary — q62's
  // disjoint chunker generalized. Token→chunk fan-out is the constant
  // ⌈64/40⌉ ≈ 1.6×, then ONE groupBy reassembles; linear at 100 TB.
  // Bounds are 1-based token positions; md5 value-checks the payload.
  // -------------------------------------------------------------------
  def q141_sliding_chunks(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.slidingChunks(Tables.documents(spark, dir), "doc_id",
        "text", windowWords = 64, strideWords = 40)
      .select(col("doc_id"), col("chunk_idx"), col("start_tok"),
        col("end_tok"), col("n_tokens"),
        md5(col("chunk_text")).as("chunk_md5"))
      .orderBy(col("doc_id"), col("chunk_idx"))

  val q141_sql: String =
    """WITH t AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
      |  FROM documents WHERE trim(text) <> ''),
      |pos AS (
      |  SELECT doc_id, len(toks) AS n, u.i - 1 AS p, toks[u.i] AS tok
      |  FROM t, unnest(generate_series(1, len(toks))) AS u(i)),
      |pk AS (
      |  SELECT doc_id, p, tok,
      |    unnest(generate_series(
      |      greatest(0, (p - 64 + 40) // 40),
      |      least(p // 40, (greatest(0, n - 64) + 39) // 40))) AS k
      |  FROM pos),
      |c AS (
      |  SELECT doc_id, k AS chunk_idx,
      |         COUNT(*) AS n_tokens,
      |         MIN(p) + 1 AS start_tok, MAX(p) + 1 AS end_tok,
      |         md5(string_agg(tok, ' ' ORDER BY p)) AS chunk_md5
      |  FROM pk GROUP BY doc_id, k)
      |SELECT doc_id, chunk_idx, start_tok, end_tok, n_tokens, chunk_md5
      |FROM c
      |ORDER BY doc_id, chunk_idx""".stripMargin

  // -------------------------------------------------------------------
  // q147 — one BPE merge step (Sennrich et al. 2016): count weighted
  // character bigrams over the word vocabulary, pick the most frequent
  // pair, and apply the merge to every affected word — the training
  // iteration q115/q116's frequency tokenizer doesn't cover. The merge
  // is a LITERAL replace (bracketed new symbol), not a regex — pairs
  // drawn from arbitrary text would be regex-unsafe.
  //
  // Scale shape: the corpus collapses to the vocabulary in one token
  // groupBy (partial-aggregated scan — the only corpus-sized work);
  // bigram stats, argmax, and the merge all run over the vocab table,
  // with the winning pair a 1-row broadcast.
  // -------------------------------------------------------------------
  def q147_bpe_merge(spark: SparkSession, dir: String): DataFrame = {
    val vocab = Tables.documents(spark, dir)
      .filter(length(trim(col("text"))) > 0)
      .select(explode(TextAnalysis.tokens(lower(col("text")))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .localCheckpoint(eager = true)
    val best = vocab.filter(length(col("w")) >= 2)
      .select(col("w"), col("c"),
        explode(expr(
          "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"))
          .as("pair"))
      .groupBy(col("pair")).agg(sum(col("c")).as("wt"))
      .orderBy(col("wt").desc, col("pair"))
      .limit(1)
      .select(col("pair"))
    vocab.crossJoin(broadcast(best))
      .filter(instr(col("w"), col("pair")) > 0)
      .select(col("pair").as("merge_pair"), col("w").as("word"),
        col("c").as("n_occurrences"),
        expr("replace(w, pair, concat('[', pair, ']'))").as("merged"))
      .orderBy(col("n_occurrences").desc, col("word"))
      .limit(20)
  }

  val q147_sql: String =
    """WITH w AS (
      |  SELECT tok AS w, COUNT(*) AS c FROM (
      |    SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+'))
      |      AS tok
      |    FROM documents WHERE trim(text) <> '')
      |  GROUP BY tok),
      |bg AS (
      |  SELECT substr(w, g.i, 2) AS pair, SUM(c) AS wt
      |  FROM w, unnest(generate_series(1, length(w) - 1)) AS g(i)
      |  WHERE length(w) >= 2
      |  GROUP BY 1),
      |best AS (SELECT pair FROM bg ORDER BY wt DESC, pair LIMIT 1)
      |SELECT b.pair AS merge_pair, w.w AS word, w.c AS n_occurrences,
      |       replace(w.w, b.pair, '[' || b.pair || ']') AS merged
      |FROM w CROSS JOIN best b
      |WHERE position(b.pair IN w.w) > 0
      |ORDER BY n_occurrences DESC, word
      |LIMIT 20""".stripMargin

  // -------------------------------------------------------------------
  // q157 — per-source score calibration (quantile normalization): map
  // each document's raw score (n_chars) to its WITHIN-SOURCE
  // percentile in ppm, so scores from different sources become
  // comparable before mixing — the cross-source fairness step a
  // mixture builder runs first. min-rank tie rule: pct = (strictly-
  // below count)·10⁶ div (n_source − 1).
  //
  // Scale shape: the corpus-sized work is ONE groupBy to per-(source,
  // score) counts; the cumulative sum runs over that bounded
  // distinct-value table (window partitioned by source on the SMALL
  // table — never a per-source total sort of the corpus, which is the
  // q76 single-partition trap in group form).
  // -------------------------------------------------------------------
  def q157_score_calibration(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.documents(spark, dir)
      .groupBy(col("source"), col("n_chars"))
      .agg(count(lit(1)).as("n_rows_at"))
      .localCheckpoint(eager = true) // feeds totals AND the cumsum probe
    val w = Window.partitionBy(col("source")).orderBy(col("n_chars"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val totals = counts.groupBy(col("source"))
      .agg(sum(col("n_rows_at")).as("n_source"))
    counts
      .withColumn("cum_below",
        coalesce(sum(col("n_rows_at")).over(w), lit(0L)))
      .join(totals, Seq("source"))
      .filter(col("n_source") >= 2)
      .select(col("source"), col("n_chars"), col("n_rows_at"),
        expr("(cum_below * 1000000) div (n_source - 1)").as("pct_ppm"))
      .orderBy(col("source"), col("n_chars"))
  }

  val q157_sql: String =
    """WITH c AS (
      |  SELECT source, n_chars, COUNT(*) AS n_rows_at
      |  FROM documents GROUP BY 1, 2),
      |t AS (
      |  SELECT source, CAST(SUM(n_rows_at) AS BIGINT) AS n_source
      |  FROM c GROUP BY 1),
      |k AS (
      |  SELECT source, n_chars, n_rows_at,
      |    CAST(COALESCE(SUM(n_rows_at) OVER (PARTITION BY source
      |      ORDER BY n_chars
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS BIGINT) AS cum_below
      |  FROM c)
      |SELECT k.source, k.n_chars, k.n_rows_at,
      |       (k.cum_below * 1000000) // (t.n_source - 1) AS pct_ppm
      |FROM k JOIN t ON t.source = k.source
      |WHERE t.n_source >= 2
      |ORDER BY k.source, k.n_chars""".stripMargin

  // -------------------------------------------------------------------
  // q63 — event-type pivot: wide per-user activity profile (one column
  // per event type, explicit value list so Spark skips the extra
  // distinct-values job). One shuffle; at 100 TB this is the same
  // partial-aggregated groupBy as q01 with a wide projection.
  // -------------------------------------------------------------------
  private val EventTypes = Seq("click", "error", "purchase", "signup",
    "view")

  def q63_event_pivot(spark: SparkSession, dir: String): DataFrame = {
    val pivoted = Tables.events(spark, dir)
      .filter(col("user_id") < 50)
      .groupBy(col("user_id"))
      .pivot("event_type", EventTypes)
      .agg(count(lit(1)))
    pivoted.select(col("user_id") +: EventTypes.map(t =>
        coalesce(col(t), lit(0L)).as(t)): _*)
      .withColumn("total",
        EventTypes.map(col).reduce(_ + _))
      .orderBy(col("user_id"))
  }

  val q63_sql: String = {
    val cols = EventTypes.map(t =>
      s"COUNT(*) FILTER (event_type = '$t') AS \"$t\"").mkString(",\n|  ")
    s"""SELECT user_id,
       |  $cols,
       |  COUNT(*) AS total
       |FROM events WHERE user_id < 50
       |GROUP BY user_id
       |ORDER BY user_id""".stripMargin
  }

  // -------------------------------------------------------------------
  // q64 — inverted-index posting lists: token → document frequency +
  // first 8 posting doc ids. The index-build behind the reference's
  // fulltext search (`schema.go:298-332` delegates to Lucene; here the
  // index IS a DataFrame). df ≥ 20 bounds the output to the head of
  // the vocabulary; one shuffle on token.
  // -------------------------------------------------------------------
  def q64_posting_lists(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"),
        explode(array_distinct(TextAnalysis.tokens(col("text"))))
          .as("token"))
    toks.groupBy(col("token"))
      .agg(count(lit(1)).as("df"),
        array_join(slice(sort_array(collect_set(col("doc_id"))), 1, 8),
          ",").as("postings_head"))
      .filter(col("df") >= 20)
      .orderBy(col("token"))
  }

  val q64_sql: String =
    s"""WITH ${OracleSql.toks}
       |SELECT tok AS token, COUNT(*) AS df,
       |  array_to_string(list_slice(list_sort(list(doc_id)), 1, 8), ',')
       |    AS postings_head
       |FROM toks GROUP BY tok HAVING COUNT(*) >= 20
       |ORDER BY token""".stripMargin

  // -------------------------------------------------------------------
  // q65 — multimodal frame fan-out, byte-exact: the documents' UTF-8
  // payload as an opaque binary column, split into 256-byte frames;
  // per frame its size and the hex of its first 4 bytes (the magic-
  // number probe). The typed flatMap IS the production plumbing — a
  // real decoder swaps in for the hex probe without changing the
  // schema or fan-out. Oracle via hex-string arithmetic (byte k ≙ hex
  // chars 2k+1..2k+2), since SQL engines can't slice blobs.
  // -------------------------------------------------------------------
  def q65_media_frames(spark: SparkSession, dir: String): DataFrame = {
    val media = Tables.documents(spark, dir)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
    Multimodal.frameHex(media, "doc_id", "payload", frameSize = 256,
        headBytes = 4)
      .toDF()
      .orderBy(col("media_id"), col("frame_index"))
  }

  val q65_sql: String =
    """WITH b AS (
      |  SELECT doc_id, hex(encode(text)) AS hx,
      |         octet_length(encode(text)) AS n
      |  FROM documents WHERE octet_length(encode(text)) > 0)
      |SELECT doc_id AS media_id, u.i AS frame_index,
      |  least(256, n - u.i * 256) AS frame_bytes,
      |  substring(hx, u.i * 512 + 1, 8) AS head_hex
      |FROM b, unnest(generate_series(0, CAST((n + 255) // 256 AS BIGINT)
      |  - 1)) AS u(i)
      |ORDER BY media_id, frame_index""".stripMargin

  // -------------------------------------------------------------------
  // q161 — REAL ImageIO decode under the oracle: synthesize one PNG per
  // document on the EXECUTORS (pixel (x,y) channels are closed-form
  // functions of doc_id — no data movement, no fixtures), run it through
  // encodePng → decodeImage (PNG is lossless, so the round trip must be
  // pixel-exact), and emit per-image channel sums. The DuckDB oracle
  // recomputes the same sums from the closed form with generate_series:
  // a green row proves javax.imageio decode actually RAN distributed and
  // bit-agreed with the synthesis formula. Scale shape: embarrassingly
  // parallel mapPartitions, output one row per document.
  // -------------------------------------------------------------------
  def q161_image_decode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ids = Tables.documents(spark, dir)
      .select(col("doc_id").cast("long")).as[Long]
    ids.mapPartitions { it =>
      it.map { id =>
        val w = (8 + id % 9).toInt
        val h = (8 + id % 7).toInt
        val rgb = new Array[Byte](w * h * 3)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val d = (y * w + x) * 3
            rgb(d) = ((id * 31 + x * 7 + y * 13) % 256).toByte
            rgb(d + 1) = ((id * 17 + x * 11 + y * 5) % 256).toByte
            rgb(d + 2) = ((id * 23 + x * 3 + y * 19) % 256).toByte
            x += 1
          }
          y += 1
        }
        val png = MediaCodecs.encodePng(MediaCodecs.BmpImage(w, h, rgb))
        val img = MediaCodecs.decodeImage(png).getOrElse(
          sys.error(s"PNG round-trip failed for doc $id"))
        var (rs, gs, bs) = (0L, 0L, 0L)
        var i = 0
        val n = img.width * img.height
        while (i < n) {
          rs += img.rgb(i * 3) & 0xff
          gs += img.rgb(i * 3 + 1) & 0xff
          bs += img.rgb(i * 3 + 2) & 0xff
          i += 1
        }
        (id, img.width, img.height, rs, gs, bs)
      }
    }.toDF("doc_id", "width", "height", "r_sum", "g_sum", "b_sum")
      .orderBy(col("doc_id"))
  }

  val q161_sql: String =
    """WITH d AS (
      |  SELECT doc_id, 8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h
      |  FROM documents),
      |px AS (
      |  SELECT doc_id, w, h, xx.x AS x, yy.y AS y
      |  FROM d,
      |    unnest(generate_series(0, w - 1)) AS xx(x),
      |    unnest(generate_series(0, h - 1)) AS yy(y))
      |SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
      |  CAST(SUM((doc_id * 31 + x * 7 + y * 13) % 256) AS BIGINT) AS r_sum,
      |  CAST(SUM((doc_id * 17 + x * 11 + y * 5) % 256) AS BIGINT) AS g_sum,
      |  CAST(SUM((doc_id * 23 + x * 3 + y * 19) % 256) AS BIGINT) AS b_sum
      |FROM px GROUP BY 1, 2, 3 ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------
  // q265 — image RESIZE stage (the thumbnailing step between q161's
  // decode and q205's feature hash): synthesize the q161 closed-form
  // PNG per document on the executors, decode with the REAL codec,
  // nearest-neighbor resize to ceil(w/2)×ceil(h/2) via resizeBmp,
  // re-encode as PNG and decode AGAIN (proving the resized buffer is a
  // valid image the codec round-trips losslessly), then emit resized
  // dims + channel sums. The oracle recomputes the sums from the
  // closed form at resizeBmp's exact source mapping
  // (sx = x·w div tw) — so a green row proves decode → resize →
  // re-encode → decode agreed with the declarative formula
  // bit-for-bit. Embarrassingly parallel mapPartitions, one output
  // row per document.
  // -------------------------------------------------------------------
  def q265_image_resize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ids = Tables.documents(spark, dir)
      .select(col("doc_id").cast("long")).as[Long]
    ids.mapPartitions { it =>
      it.map { id =>
        val w = (8 + id % 9).toInt
        val h = (8 + id % 7).toInt
        val rgb = new Array[Byte](w * h * 3)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val d = (y * w + x) * 3
            rgb(d) = ((id * 31 + x * 7 + y * 13) % 256).toByte
            rgb(d + 1) = ((id * 17 + x * 11 + y * 5) % 256).toByte
            rgb(d + 2) = ((id * 23 + x * 3 + y * 19) % 256).toByte
            x += 1
          }
          y += 1
        }
        val png = MediaCodecs.encodePng(MediaCodecs.BmpImage(w, h, rgb))
        val full = MediaCodecs.decodeImage(png).getOrElse(
          sys.error(s"PNG decode failed for doc $id"))
        val small = MediaCodecs.resizeBmp(full,
          (full.width + 1) / 2, (full.height + 1) / 2)
        val png2 = MediaCodecs.encodePng(small)
        val img = MediaCodecs.decodeImage(png2).getOrElse(
          sys.error(s"resized PNG round-trip failed for doc $id"))
        var (rs, gs, bs) = (0L, 0L, 0L)
        var i = 0
        val n = img.width * img.height
        while (i < n) {
          rs += img.rgb(i * 3) & 0xff
          gs += img.rgb(i * 3 + 1) & 0xff
          bs += img.rgb(i * 3 + 2) & 0xff
          i += 1
        }
        (id, img.width, img.height, rs, gs, bs)
      }
    }.toDF("doc_id", "width", "height", "r_sum", "g_sum", "b_sum")
      .orderBy(col("doc_id"))
  }

  val q265_sql: String =
    """WITH d AS (
      |  SELECT doc_id, 8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h,
      |    (8 + doc_id % 9 + 1) // 2 AS tw,
      |    (8 + doc_id % 7 + 1) // 2 AS th
      |  FROM documents),
      |px AS (
      |  SELECT doc_id, tw, th,
      |    (xx.x * w) // tw AS x, (yy.y * h) // th AS y
      |  FROM d,
      |    unnest(generate_series(0, tw - 1)) AS xx(x),
      |    unnest(generate_series(0, th - 1)) AS yy(y))
      |SELECT doc_id, CAST(tw AS INT) AS width, CAST(th AS INT) AS height,
      |  CAST(SUM((doc_id * 31 + x * 7 + y * 13) % 256) AS BIGINT) AS r_sum,
      |  CAST(SUM((doc_id * 17 + x * 11 + y * 5) % 256) AS BIGINT) AS g_sum,
      |  CAST(SUM((doc_id * 23 + x * 3 + y * 19) % 256) AS BIGINT) AS b_sum
      |FROM px GROUP BY 1, 2, 3 ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------
  // q238 — audio FEATURE EXTRACTION over the decoded PCM (the DSP step
  // after q164's decode): per document, frame the samples at 16/frame
  // and compute the features a speech-data pipeline filters on —
  // per-frame energy (Σv², max + total) and the zero-crossing rate
  // (sign flips between consecutive samples — the classic cheap
  // voiced/unvoiced discriminator). The WAV bytes are synthesized and
  // decoded with the REAL codec on executors; the oracle recomputes
  // every feature from the synthesis closed form with generate_series,
  // so a green row proves decode + imperative DSP loop agree with the
  // declarative formula bit-for-bit. Embarrassingly parallel
  // mapPartitions, no shuffle until the final tiny sort.
  // -------------------------------------------------------------------
  def q238_audio_features(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ids = Tables.documents(spark, dir)
      .select(col("doc_id").cast("long")).as[Long]
    ids.mapPartitions { it =>
      it.map { id =>
        val n = (64 + id % 64).toInt
        val samples = Array.tabulate[Short](n)(i =>
          (((id * 31 + i * 7) % 65536) - 32768).toShort)
        val wav = MediaCodecs.encodeWav(samples, 16000, 1)
        val (_, got) = MediaCodecs.decodeWav(wav).getOrElse(
          sys.error(s"WAV round-trip failed for doc $id"))
        var (sumE, maxE, zc) = (0L, 0L, 0L)
        var frameE = 0L
        var i = 0
        while (i < got.length) {
          val v = got(i).toLong
          frameE += v * v
          if (i % 16 == 15 || i == got.length - 1) {
            sumE += frameE
            if (frameE > maxE) maxE = frameE
            frameE = 0L
          }
          if (i > 0 && got(i - 1).toLong * v < 0L) zc += 1
          i += 1
        }
        val nFrames = (got.length + 15) / 16
        (id, got.length.toLong, nFrames.toLong, sumE, maxE, zc)
      }
    }.toDF("doc_id", "n_samples", "n_frames", "sum_energy",
        "max_frame_energy", "zero_crossings")
      .orderBy(col("doc_id"))
  }

  val q238_sql: String =
    """WITH d AS (
      |  SELECT doc_id, 64 + doc_id % 64 AS n FROM documents),
      |s AS (
      |  SELECT doc_id, n, ii.i AS i,
      |    (doc_id * 31 + ii.i * 7) % 65536 - 32768 AS v
      |  FROM d, unnest(generate_series(0, n - 1)) AS ii(i)),
      |frames AS (
      |  SELECT doc_id, i // 16 AS frame, SUM(v * v) AS fe
      |  FROM s GROUP BY doc_id, i // 16),
      |zc AS (
      |  SELECT a.doc_id, COUNT(*) AS z
      |  FROM s a JOIN s b ON a.doc_id = b.doc_id AND b.i = a.i + 1
      |  WHERE a.v * b.v < 0 GROUP BY a.doc_id)
      |SELECT d.doc_id, CAST(n AS BIGINT) AS n_samples,
      |  CAST((n + 15) // 16 AS BIGINT) AS n_frames,
      |  CAST(f.se AS BIGINT) AS sum_energy,
      |  CAST(f.me AS BIGINT) AS max_frame_energy,
      |  CAST(COALESCE(zc.z, 0) AS BIGINT) AS zero_crossings
      |FROM d
      |JOIN (SELECT doc_id, SUM(fe) AS se, MAX(fe) AS me
      |      FROM frames GROUP BY doc_id) f ON d.doc_id = f.doc_id
      |LEFT JOIN zc ON d.doc_id = zc.doc_id
      |ORDER BY d.doc_id""".stripMargin

  // -------------------------------------------------------------------
  // q250 — curation pipeline v2, composing the round's audit operators
  // into the build a data team would actually ship: non-empty docs →
  // hashed quality classifier keep (q107's scorer, whose length bias
  // q239 audits) → exact-dup removal keep-first by normalized
  // fingerprint (q22's hash) → per-language mixture report with final
  // token budget shares. Complements q100's funnel (which composes the
  // heuristic-filter tier) with the CLASSIFIER tier.
  //
  // Scale shape: one scoring scan, the dedup window partitioned by
  // fingerprint (bounded by duplicate-group size), and metadata-sized
  // reductions; the raw/kept/final counts come from conditional
  // aggregation over the same frame — no per-stage re-scans.
  // -------------------------------------------------------------------
  def q250_curation_v2(spark: SparkSession, dir: String): DataFrame = {
    import graft.pipeline.TextAnalysis
    val scored = Tables.documents(spark, dir)
      .filter(trim(col("text")) =!= "")
      .select(col("doc_id"), col("lang"),
        TextAnalysis.fingerprint(col("text")).as("fp"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_toks"),
        (TextAnalysis.hashedClassifierScore(col("text")) > 0L)
          .as("keep"))
    val ranked = scored.withColumn("rk",
      when(col("keep"), row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("fp"), col("keep"))
          .orderBy(col("doc_id")))).otherwise(lit(null)))
    val perLang = ranked.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_raw"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("rk") === 1, 1L).otherwise(0L)).as("n_final"),
        sum(when(col("rk") === 1, col("n_toks")).otherwise(0L))
          .as("n_tokens"))
    val total = perLang.agg(sum(col("n_tokens")).as("tt"))
    perLang.crossJoin(broadcast(total))
      .withColumn("share_ppm", expr("n_tokens * 1000000L div tt"))
      .select(col("lang"), col("n_raw"), col("n_kept"), col("n_final"),
        col("n_tokens"), col("share_ppm"))
      .orderBy(col("lang"))
  }

  val q250_sql: String =
    s"""WITH t AS (
      |  SELECT doc_id, lang,
      |    regexp_split_to_array(trim(text), '\\s+') AS tk,
      |    sha256(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
      |      AS fp
      |  FROM documents WHERE trim(text) <> ''),
      |e AS (SELECT doc_id, unnest(tk) AS tok FROM t),
      |s AS (
      |  SELECT doc_id,
      |    ${graft.pipeline.TextAnalysis.hashedScoreSqlSum()} AS score
      |  FROM e GROUP BY doc_id),
      |d AS (
      |  SELECT t.doc_id, lang, fp, CAST(len(tk) AS BIGINT) AS n_toks,
      |    COALESCE(s.score, 0) > 0 AS keep
      |  FROM t LEFT JOIN s USING (doc_id)),
      |ranked AS (
      |  SELECT *, CASE WHEN keep THEN row_number() OVER (
      |    PARTITION BY fp, keep ORDER BY doc_id) END AS rk
      |  FROM d),
      |per_lang AS (
      |  SELECT lang, COUNT(*) AS n_raw,
      |    CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_kept,
      |    CAST(SUM(CASE WHEN rk = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_final,
      |    CAST(SUM(CASE WHEN rk = 1 THEN n_toks ELSE 0 END) AS BIGINT)
      |      AS n_tokens
      |  FROM ranked GROUP BY lang),
      |tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS tt FROM per_lang)
      |SELECT lang, n_raw, n_kept, n_final, n_tokens,
      |  n_tokens * 1000000 // tt AS share_ppm
      |FROM per_lang CROSS JOIN tot
      |ORDER BY lang""".stripMargin

  // -------------------------------------------------------------------
  // q164 — REAL WAV codec under the oracle (the audio analog of q161):
  // synthesize one PCM WAV per document on the EXECUTORS (sample i is a
  // closed-form function of doc_id), run it through encodeWav →
  // decodeWav (PCM is lossless byte arithmetic), and emit per-file
  // sample statistics plus decoded metadata. The DuckDB oracle
  // recomputes the same statistics from the closed form with
  // generate_series — a green row proves the executor-side WAV decode
  // bit-agreed with the synthesis formula. Same embarrassingly-parallel
  // mapPartitions shape as q161.
  // -------------------------------------------------------------------
  def q164_audio_decode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ids = Tables.documents(spark, dir)
      .select(col("doc_id").cast("long")).as[Long]
    ids.mapPartitions { it =>
      it.map { id =>
        val n = (64 + id % 64).toInt
        val samples = Array.tabulate[Short](n)(i =>
          (((id * 31 + i * 7) % 65536) - 32768).toShort)
        val wav = MediaCodecs.encodeWav(samples, 16000, 1)
        val (meta, got) = MediaCodecs.decodeWav(wav).getOrElse(
          sys.error(s"WAV round-trip failed for doc $id"))
        var (s, mn, mx) = (0L, Int.MaxValue, Int.MinValue)
        var i = 0
        while (i < got.length) {
          val v = got(i).toInt
          s += v; if (v < mn) mn = v; if (v > mx) mx = v
          i += 1
        }
        (id, meta.sampleRate, meta.channels, got.length.toLong, s,
          mn.toLong, mx.toLong)
      }
    }.toDF("doc_id", "sample_rate", "channels", "n_samples", "sum_s",
        "min_s", "max_s")
      .orderBy(col("doc_id"))
  }

  val q164_sql: String =
    """WITH d AS (
      |  SELECT doc_id, 64 + doc_id % 64 AS n FROM documents),
      |s AS (
      |  SELECT doc_id, n, (doc_id * 31 + ii.i * 7) % 65536 - 32768 AS v
      |  FROM d, unnest(generate_series(0, n - 1)) AS ii(i))
      |SELECT doc_id, CAST(16000 AS INT) AS sample_rate,
      |  CAST(1 AS INT) AS channels, CAST(n AS BIGINT) AS n_samples,
      |  CAST(SUM(v) AS BIGINT) AS sum_s,
      |  CAST(MIN(v) AS BIGINT) AS min_s, CAST(MAX(v) AS BIGINT) AS max_s
      |FROM s GROUP BY doc_id, n ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------
  // q294 — G.711 μ-law COMPRESSED-audio round trip (ITU-T G.711 — the
  // telephony companding codec; 2:1 lossy, per-segment quantization
  // step 2^(exp+3)). This closes the "compressed audio decode" slice
  // with a real standardized codec in pure integer arithmetic
  // (MediaCodecs.encodeMuLaw/decodeMuLaw): synthesize closed-form PCM
  // per doc on the EXECUTORS (q164's shape), push it through the real
  // encoder+decoder, and emit decoded stats plus the max quantization
  // error. The oracle recomputes the companding law itself
  // (segment/mantissa integer formula) — a green row proves the byte-
  // level codec implements exactly the published transfer function.
  // -------------------------------------------------------------------
  def q294_mulaw_roundtrip(spark: SparkSession, dir: String)
      : DataFrame = {
    import spark.implicits._
    val ids = Tables.documents(spark, dir)
      .select(col("doc_id").cast("long")).as[Long]
    ids.mapPartitions { it =>
      it.map { id =>
        val n = (64 + id % 64).toInt
        val samples = Array.tabulate[Short](n)(i =>
          (((id * 31 + i * 7) % 65536) - 32768).toShort)
        val dec = MediaCodecs.decodeMuLaw(MediaCodecs.encodeMuLaw(samples))
        var (s, mn, mx, me) = (0L, Int.MaxValue, Int.MinValue, 0L)
        var i = 0
        while (i < dec.length) {
          val v = dec(i).toInt
          s += v; if (v < mn) mn = v; if (v > mx) mx = v
          val e = math.abs(v - samples(i).toInt).toLong
          if (e > me) me = e
          i += 1
        }
        (id, dec.length.toLong, s, mn.toLong, mx.toLong, me)
      }
    }.toDF("doc_id", "n_samples", "sum_dec", "min_dec", "max_dec",
        "max_abs_err")
      .orderBy(col("doc_id"))
  }

  val q294_sql: String =
    """WITH d AS (
      |  SELECT doc_id, 64 + doc_id % 64 AS n FROM documents),
      |s AS (
      |  SELECT doc_id, n, (doc_id * 31 + ii.i * 7) % 65536 - 32768 AS v
      |  FROM d, unnest(generate_series(0, n - 1)) AS ii(i)),
      |g AS (
      |  SELECT doc_id, n, v, t,
      |    CASE WHEN t < 256 THEN 0 WHEN t < 512 THEN 1
      |         WHEN t < 1024 THEN 2 WHEN t < 2048 THEN 3
      |         WHEN t < 4096 THEN 4 WHEN t < 8192 THEN 5
      |         WHEN t < 16384 THEN 6 ELSE 7 END AS e
      |  FROM (SELECT doc_id, n, v,
      |          LEAST(abs(v), 32635) + 132 AS t FROM s)),
      |dd AS (
      |  SELECT doc_id, n, v,
      |    CASE WHEN v < 0 THEN -mag ELSE mag END AS dec
      |  FROM (SELECT doc_id, n, v,
      |          ((((t >> (e + 3)) & 15) * 8 + 132) * (1 << e)) - 132
      |            AS mag
      |        FROM g))
      |SELECT doc_id, CAST(n AS BIGINT) AS n_samples,
      |  CAST(SUM(dec) AS BIGINT) AS sum_dec,
      |  CAST(MIN(dec) AS BIGINT) AS min_dec,
      |  CAST(MAX(dec) AS BIGINT) AS max_dec,
      |  CAST(MAX(abs(dec - v)) AS BIGINT) AS max_abs_err
      |FROM dd GROUP BY doc_id, n ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------
  // q66 — BM25 document ranking, integer-exact: the full Okapi shape
  // (tf saturation k1=1.2, length normalization b=0.75) cleared of
  // floats by multiplying through by 10·DLS (DLS = total corpus token
  // count), so numerator and denominator are BIGINTs and every engine
  // floors identically:
  //     contrib = idf_ppm · (22·DLS·tf) div (10·DLS·tf + 3·DLS + 9·dl·N)
  // with idf_ppm = N·10⁶ div df (the q60 family). The query terms are
  // picked deterministically from the corpus itself (top-3 df terms),
  // so the query is parameter-free. Scale shape: two groupBys + one
  // broadcast of 3 query terms + per-doc sum — a linear scan ranking
  // the whole corpus, the retrieval step in front of an LLM data mix.
  // -------------------------------------------------------------------
  /** The ONE definition of the integer BM25 scoring join, shared by
    * q66, q189's feedback pass, and q200's eval — their oracles embed
    * the same SQL formula, so bit-identity across the three is
    * structural here rather than copy-discipline. Scores every doc in
    * `tf` against the (tiny, broadcast) `terms` (term, df) frame. */
  private def bm25Scored(tf: DataFrame, dl: DataFrame,
      totals: DataFrame, terms: DataFrame): DataFrame =
    tf.join(broadcast(terms), Seq("term"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(totals))
      .withColumn("contrib", expr(
        """((n_total * 1000000) div df) * (22 * dls * tf) div
          |(10 * dls * tf + 3 * dls + 9 * dl * n_total)""".stripMargin))
      .groupBy(col("doc_id"))
      .agg(sum(col("contrib")).as("bm25_score"),
        count(lit(1)).as("n_terms_hit"))

  /** RM3 expansion-term mining (q189/q200 shared): terms ranked by
    * Σ_d tf·score(d) div dl(d) over the feedback docs, originals
    * excluded, top 5. */
  private def rm3Expansion(tf: DataFrame, dl: DataFrame, fb: DataFrame,
      qterms: DataFrame): DataFrame =
    tf.join(broadcast(fb), Seq("doc_id"))
      .join(dl, Seq("doc_id"))
      .groupBy(col("term"))
      .agg(sum(expr("tf * fb_score div dl")).as("mass"))
      .join(broadcast(qterms.select(col("term"))), Seq("term"),
        "left_anti")
      .orderBy(col("mass").desc, col("term")).limit(5)
      .select(col("term"))

  def q66_bm25(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .filter(length(trim(col("text"))) > 0)
    val toksAll = docs.select(col("doc_id"),
      explode(TextAnalysis.tokens(col("text"))).as("term"))
    val tf = toksAll.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dl = toksAll.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    val dft = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val totals = dl.agg(count(lit(1)).as("n_total"),
      sum(col("dl")).as("dls"))
    val qterms = dft
      .orderBy(col("df").desc, col("term")).limit(3)
      .select(col("term"), col("df"))
    bm25Scored(tf, dl, totals, qterms)
      .orderBy(col("bm25_score").desc, col("doc_id"))
      .limit(20)
  }

  // -------------------------------------------------------------------
  // q177 — BOOLEAN (conjunctive) retrieval: docs containing ALL query
  // terms, found by intersecting posting lists — the AND companion to
  // q66's OR-sum ranking. Intersection is the count-of-hits trick: join
  // the tf table to the broadcast term set and keep docs whose hit
  // count equals the term count (no N-way self-join of postings — one
  // shuffle on doc_id regardless of how many terms). Query terms are
  // df-ranks 4..6 (deterministic, and selective enough that the AND
  // actually filters — ranks 1..3 appear in nearly every doc). Ranked
  // by summed tf, integer-exact.
  // -------------------------------------------------------------------
  def q177_boolean_retrieval(spark: SparkSession, dir: String)
      : DataFrame = {
    val docs = Tables.documents(spark, dir)
      .filter(length(trim(col("text"))) > 0)
    val tf = docs.select(col("doc_id"),
        explode(TextAnalysis.tokens(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    // df-ranks 4..6: take the top 6 (tiny frame), then slice — no
    // global window over the full vocabulary
    val top6 = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("term")).limit(6)
    val qterms = top6
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("df").desc, col("term"))))
      .filter(col("rk") > 3)
      .select(col("term"))
    tf.join(broadcast(qterms), Seq("term"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hit"), sum(col("tf")).as("total_tf"))
      .filter(col("n_hit") === 3)
      .select(col("doc_id"), col("total_tf"))
      .orderBy(col("total_tf").desc, col("doc_id"))
      .limit(20)
  }

  val q177_sql: String =
    s"""WITH ${OracleSql.termTf},
       |qterms AS (SELECT term FROM
       |             (SELECT term, COUNT(*) AS df FROM tf GROUP BY term)
       |           ORDER BY df DESC, term LIMIT 3 OFFSET 3)
       |SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS total_tf
       |FROM tf JOIN qterms USING (term)
       |GROUP BY doc_id
       |HAVING COUNT(*) = 3
       |ORDER BY total_tf DESC, doc_id
       |LIMIT 20""".stripMargin

  // -------------------------------------------------------------------
  // q181 — PHRASE retrieval over a positional index: docs containing
  // the exact two-token phrase, found by intersecting POSITIONAL
  // posting lists with an offset condition — the third retrieval mode
  // next to q66's OR-sum and q177's AND-set. The index is (doc, pos,
  // term); a phrase hit is t1 at p and t2 at p+1 in the same doc, so
  // the intersection is a pure equi-join on (doc_id, p+1)=(doc_id, p)
  // after each side is restricted by a broadcast of the (tiny) phrase
  // frame. This is the shape that serves arbitrary-length phrases at
  // query time WITHOUT precomputing an n-gram table per n.
  //
  // The query phrase is parameter-free: the corpus's most frequent
  // adjacent bigram (lead() per doc — the window partitions on doc_id,
  // bounded by doc length). Postings are materialized once
  // (localCheckpoint) because three consumers probe them. Scale shape:
  // index build is one groupBy-free projection; the probes are
  // broadcast-filtered scans; the positional intersection shuffles on
  // doc_id only — per-term posting skew never concentrates on one key
  // because the join key includes the position.
  // -------------------------------------------------------------------
  def q181_phrase_retrieval(spark: SparkSession, dir: String)
      : DataFrame = {
    val docs = Tables.documents(spark, dir)
      .filter(length(trim(col("text"))) > 0)
    val postings = docs.select(col("doc_id"),
        posexplode(TextAnalysis.tokens(col("text"))).as(Seq("pos", "term")))
      .localCheckpoint(eager = true) // bigram stats + two probe sides
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val phrase = postings
      .withColumn("nxt", lead(col("term"), 1).over(w))
      .filter(col("nxt").isNotNull)
      .groupBy(col("term"), col("nxt")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("term"), col("nxt")).limit(1)
      .select(col("term").as("t1"), col("nxt").as("t2"))
    val p1 = postings
      .join(broadcast(phrase), postings("term") === col("t1"))
      .select(col("doc_id"), (col("pos") + 1).as("want"))
    val p2 = postings
      .join(broadcast(phrase), postings("term") === col("t2"))
      .select(col("doc_id"), col("pos").as("want"))
    p1.join(p2, Seq("doc_id", "want"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_occ"))
      .orderBy(col("n_occ").desc, col("doc_id"))
      .limit(20)
  }

  val q181_sql: String =
    """WITH d AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk
      |  FROM documents WHERE trim(text) <> ''),
      |pos AS (
      |  SELECT doc_id, unnest(generate_series(1, len(tk))) AS p,
      |         unnest(tk) AS term
      |  FROM d),
      |phrase AS (
      |  SELECT a.term AS t1, b.term AS t2
      |  FROM pos a JOIN pos b
      |    ON a.doc_id = b.doc_id AND b.p = a.p + 1
      |  GROUP BY 1, 2
      |  ORDER BY COUNT(*) DESC, t1, t2 LIMIT 1),
      |occ AS (
      |  SELECT a.doc_id
      |  FROM pos a JOIN phrase ph ON a.term = ph.t1
      |  JOIN pos b ON b.doc_id = a.doc_id AND b.p = a.p + 1
      |    AND b.term = ph.t2)
      |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_occ
      |FROM occ GROUP BY doc_id
      |ORDER BY n_occ DESC, doc_id
      |LIMIT 20""".stripMargin

  // -------------------------------------------------------------------
  // q189 — pseudo-relevance-feedback query expansion (the RM3 recipe):
  // run the q66 BM25 query, treat its top-10 docs as relevant, mine
  // them for the 5 terms with the highest feedback mass
  // Σ_d tf(t,d)·score(d) div dl(d) (tf-weighted by how relevant the
  // doc was, length-normalized), and re-score the corpus with
  // original terms at weight 2 and expansion terms at weight 1 over
  // integer tf·idf_ppm. All query-side frames (3 originals, top-10
  // feedback docs, 5 expansions) are tiny and broadcast; the corpus
  // is scanned for the tf table ONCE (localCheckpoint) and every
  // retrieval pass is a broadcast-filtered probe of it — the two-pass
  // retrieval shape that at 100 TB costs two term-filtered index
  // probes, not two corpus scans.
  // -------------------------------------------------------------------
  def q189_rm3_expansion(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .filter(length(trim(col("text"))) > 0)
    val toksAll = docs.select(col("doc_id"),
      explode(TextAnalysis.tokens(col("text"))).as("term"))
    val tf = toksAll.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .localCheckpoint(eager = true) // df + first pass + mining + rescore
    val dl = toksAll.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
      .localCheckpoint(eager = true) // first pass + feedback mining
    val dft = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .localCheckpoint(eager = true) // qterms + idf of expansions
    val totals = dl.agg(count(lit(1)).as("n_total"),
      sum(col("dl")).as("dls"))
    val qterms = dft.orderBy(col("df").desc, col("term")).limit(3)
      .select(col("term"), col("df"))
      .localCheckpoint(eager = true) // first pass + exclusion + rescore
    val fb = bm25Scored(tf, dl, totals, qterms)
      .select(col("doc_id"), col("bm25_score").as("fb_score"))
      .orderBy(col("fb_score").desc, col("doc_id"))
      .limit(10)
    val expansion = rm3Expansion(tf, dl, fb, qterms)
    val weighted = qterms.select(col("term"), lit(2L).as("mult"))
      .unionByName(expansion.select(col("term"), lit(1L).as("mult")))
      .join(dft, Seq("term"))
    tf.join(broadcast(weighted), Seq("term"))
      .crossJoin(broadcast(totals))
      .groupBy(col("doc_id"))
      .agg(sum(expr("mult * tf * ((n_total * 1000000) div df)"))
        .as("score"), count(lit(1)).as("n_terms_hit"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(20)
  }

  val q189_sql: String =
    s"""WITH ${OracleSql.termTf},
       |${OracleSql.bm25Stats},
       |fb AS (
       |  SELECT tf.doc_id, CAST(SUM(
       |    ((n_total * 1000000) // q.df) * (22 * dls * tf.tf) //
       |      (10 * dls * tf.tf + 3 * dls + 9 * dl.dl * n_total))
       |    AS BIGINT) AS fb_score
       |  FROM tf JOIN qterms q ON tf.term = q.term
       |  JOIN dl ON dl.doc_id = tf.doc_id
       |  CROSS JOIN totals
       |  GROUP BY tf.doc_id
       |  ORDER BY fb_score DESC, tf.doc_id LIMIT 10),
       |expansion AS (
       |  SELECT term FROM (
       |    SELECT tf.term, CAST(SUM(tf.tf * fb.fb_score // dl.dl)
       |      AS BIGINT) AS mass
       |    FROM tf JOIN fb ON tf.doc_id = fb.doc_id
       |    JOIN dl ON dl.doc_id = tf.doc_id
       |    WHERE tf.term NOT IN (SELECT term FROM qterms)
       |    GROUP BY tf.term)
       |  ORDER BY mass DESC, term LIMIT 5),
       |weighted AS (
       |  SELECT q.term, 2 AS mult, q.df FROM qterms q
       |  UNION ALL
       |  SELECT e.term, 1, dft.df FROM expansion e
       |  JOIN dft ON dft.term = e.term)
       |SELECT tf.doc_id,
       |  CAST(SUM(mult * tf.tf * ((n_total * 1000000) // w.df))
       |    AS BIGINT) AS score,
       |  COUNT(*) AS n_terms_hit
       |FROM tf JOIN weighted w ON tf.term = w.term
       |CROSS JOIN totals
       |GROUP BY tf.doc_id
       |ORDER BY score DESC, tf.doc_id
       |LIMIT 20""".stripMargin

  // -------------------------------------------------------------------
  // q194 — posting-list compression audit: what would the inverted
  // index cost on disk? Per term the doc-id posting list is delta-gap
  // encoded (the universal index layout) and each gap priced at its
  // varint width — a CASE over the four 7-bit thresholds, no float
  // log. The report carries, for the 20 highest-df terms, the df, the
  // exact varint bytes, the raw 8-byte-per-id cost, and the
  // compression ratio in ppm — dense lists (tiny gaps) compress ~8×,
  // which is the number that sizes an index-serving tier. One window
  // pass partitioned BY TERM in doc_id order computes the gaps —
  // exactly the per-term segment sort an index builder does anyway.
  // -------------------------------------------------------------------
  def q194_posting_compression(spark: SparkSession, dir: String)
      : DataFrame = {
    val docs = Tables.documents(spark, dir)
      .filter(length(trim(col("text"))) > 0)
    val post = docs.select(col("doc_id"),
        explode(TextAnalysis.tokens(col("text"))).as("term"))
      .distinct()
    val wt = Window.partitionBy(col("term")).orderBy(col("doc_id"))
    post
      .withColumn("gap",
        col("doc_id") - coalesce(lag(col("doc_id"), 1).over(wt),
          lit(0L)))
      .withColumn("vbytes",
        when(col("gap") < 128L, 1L)
          .when(col("gap") < 16384L, 2L)
          .when(col("gap") < 2097152L, 3L)
          .when(col("gap") < 268435456L, 4L).otherwise(5L))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("df"), sum(col("vbytes")).as("varint_bytes"))
      .withColumn("raw_bytes", col("df") * 8)
      .withColumn("ratio_ppm",
        expr("varint_bytes * 1000000 div raw_bytes"))
      .orderBy(col("df").desc, col("term"))
      .limit(20)
  }

  val q194_sql: String =
    """WITH post AS (
      |  SELECT DISTINCT doc_id,
      |    unnest(regexp_split_to_array(trim(text), '\s+')) AS term
      |  FROM documents WHERE trim(text) <> ''),
      |gaps AS (
      |  SELECT term,
      |    doc_id - COALESCE(lag(doc_id) OVER (PARTITION BY term
      |      ORDER BY doc_id), 0) AS gap
      |  FROM post),
      |priced AS (
      |  SELECT term,
      |    CASE WHEN gap < 128 THEN 1 WHEN gap < 16384 THEN 2
      |         WHEN gap < 2097152 THEN 3 WHEN gap < 268435456 THEN 4
      |         ELSE 5 END AS vbytes
      |  FROM gaps)
      |SELECT term, CAST(COUNT(*) AS BIGINT) AS df,
      |  CAST(SUM(vbytes) AS BIGINT) AS varint_bytes,
      |  CAST(COUNT(*) * 8 AS BIGINT) AS raw_bytes,
      |  CAST(SUM(vbytes) * 1000000 // (COUNT(*) * 8) AS BIGINT)
      |    AS ratio_ppm
      |FROM priced GROUP BY term
      |ORDER BY df DESC, term
      |LIMIT 20""".stripMargin

  // -------------------------------------------------------------------
  // q200 — retrieval evaluation: nDCG@10 of the BM25 ranking (q66) vs
  // its RM3-expanded rerank (q189) against graded relevance derived
  // from the corpus itself (gain = least(3, Σtf of the 3 query terms
  // div 4) — tf-DEPTH graded, because presence-graded gains saturate
  // on this corpus where the top-df terms appear in nearly every doc
  // and both systems would score a degenerate 1.0) — the eval loop
  // that tells you whether query expansion helped. The log2 rank
  // discounts are HARDCODED
  // ppm constants (floor(10⁶/log2(r+1)) for r=1..10): two engines'
  // libm log2 may differ in the last ulp and flip a floor, so the
  // metric's constants are part of the operator definition. The
  // rankings and per-grade counts are LIMIT/vocabulary-bounded, so the
  // DCG folds on the driver (the q187 discipline); the corpus-sized
  // work is the tf scan the rankings already did. IDCG comes from the
  // global grade distribution, making nDCG comparable across systems.
  // -------------------------------------------------------------------
  def q200_retrieval_ndcg(spark: SparkSession, dir: String): DataFrame = {
    val disc = Seq(1000000L, 630929L, 500000L, 430676L, 386852L,
      356207L, 333333L, 315464L, 301029L, 289064L)
    // ONE corpus tokenization shared by both rankings and the grades
    // (calling q66/q189 directly re-runs the tf chain three times —
    // measured 3.9 s vs ~2 s shared); dl derives from tf, so the
    // corpus is exploded exactly once. Scoring goes through the SAME
    // bm25Scored/rm3Expansion helpers as the standalone operators, so
    // the rankings stay bit-identical to the SQL the oracle embeds.
    val docs = Tables.documents(spark, dir)
      .filter(length(trim(col("text"))) > 0)
    val tf = docs.select(col("doc_id"),
        explode(TextAnalysis.tokens(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      .localCheckpoint(eager = true) // df + dl + 2 rankings + grades
    val dl = tf.groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("dl"))
      .localCheckpoint(eager = true)
    val dft = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .localCheckpoint(eager = true)
    val totals = dl.agg(count(lit(1)).as("n_total"),
      sum(col("dl")).as("dls"))
    val qterms = dft.orderBy(col("df").desc, col("term")).limit(3)
      .select(col("term"), col("df"))
      .localCheckpoint(eager = true)
    // one execution serves both the bm ranking (ordered rows) and the
    // feedback probe frame (LIMIT-bounded, rebuilt as a local relation)
    val fbRows = bm25Scored(tf, dl, totals, qterms)
      .select(col("doc_id"), col("bm25_score").as("fb_score"))
      .orderBy(col("fb_score").desc, col("doc_id")).limit(10)
      .collect()
    val bmRank = fbRows.map(_.getLong(0))
    import spark.implicits._
    val fb = fbRows.map(r => (r.getLong(0), r.getLong(1))).toSeq
      .toDF("doc_id", "fb_score")
    val expansion = rm3Expansion(tf, dl, fb, qterms)
    val weighted = qterms.select(col("term"), lit(2L).as("mult"))
      .unionByName(expansion.select(col("term"), lit(1L).as("mult")))
      .join(dft, Seq("term"))
    val rmRank = tf.join(broadcast(weighted), Seq("term"))
      .crossJoin(broadcast(totals))
      .groupBy(col("doc_id"))
      .agg(sum(expr("mult * tf * ((n_total * 1000000) div df)"))
        .as("score"))
      .orderBy(col("score").desc, col("doc_id")).limit(10)
      .collect().map(_.getLong(0))
    val (bm, rm) = (bmRank.toSeq, rmRank.toSeq)
    val grades = tf.join(broadcast(qterms.select(col("term"))),
        Seq("term"))
      .groupBy(col("doc_id"))
      .agg(least(lit(3L), expr("sum(tf) div 4")).as("gain"))
      .filter(col("gain") > 0)
      .localCheckpoint(eager = true) // ranked-doc gains + grade counts
    val ranked = (bm ++ rm).distinct
    val gainOf = grades
      .filter(col("doc_id").isin(ranked: _*))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val gradeCounts = grades.groupBy(col("gain"))
      .agg(count(lit(1)).as("c"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def dcg(ranking: Seq[Long]): Long =
      ranking.zip(disc).map { case (d, w) =>
        gainOf.getOrElse(d, 0L) * w
      }.sum
    val idealGains = gradeCounts.toSeq.sortBy(-_._1)
      .flatMap { case (g, c) => Seq.fill(math.min(c, 10L).toInt)(g) }
      .take(10)
    val idcg = idealGains.zip(disc).map { case (g, w) => g * w }.sum
    // a corpus where nothing reaches gain>0 has idcg=0 — report ndcg 0
    // rather than dividing by zero (mirrored in the SQL's greatest())
    val idcgSafe = math.max(idcg, 1L)
    import spark.implicits._
    Seq(("bm25", dcg(bm)), ("rm3", dcg(rm)))
      .map { case (s, d) => (s, d, idcg, d * 1000000L / idcgSafe) }
      .toDF("system", "dcg_ppm", "idcg_ppm", "ndcg_ppm")
      .orderBy(col("system"))
  }

  // lazy: embeds q66_sql/q189_sql, which are declared later in the file
  lazy val q200_sql: String = {
    val discRows = Seq(1000000L, 630929L, 500000L, 430676L, 386852L,
      356207L, 333333L, 315464L, 301029L, 289064L)
      .zipWithIndex.map { case (w, i) => s"(${i + 1}, $w)" }
      .mkString(", ")
    s"""WITH bm AS (${q66_sql.replace("\n", "\n  ")}),
       |rm AS (${q189_sql.replace("\n", "\n  ")}),
       |disc(r, w) AS (VALUES $discRows),
       |d2 AS (SELECT doc_id, text FROM documents
       |       WHERE trim(text) <> ''),
       |toks2 AS (
       |  SELECT doc_id,
       |         unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
       |  FROM d2),
       |tf2 AS (SELECT doc_id, term, COUNT(*) AS tf
       |        FROM toks2 GROUP BY doc_id, term),
       |qt2 AS (SELECT term FROM
       |          (SELECT term, COUNT(*) AS df FROM tf2 GROUP BY term)
       |        ORDER BY df DESC, term LIMIT 3),
       |grades AS (
       |  SELECT doc_id, gain FROM (
       |    SELECT doc_id,
       |      least(3, CAST(SUM(tf) AS BIGINT) // 4) AS gain
       |    FROM tf2 JOIN qt2 USING (term) GROUP BY doc_id)
       |  WHERE gain > 0),
       |bmr AS (
       |  SELECT doc_id, ROW_NUMBER() OVER
       |    (ORDER BY bm25_score DESC, doc_id) AS r FROM bm),
       |rmr AS (
       |  SELECT doc_id, ROW_NUMBER() OVER
       |    (ORDER BY score DESC, doc_id) AS r FROM rm),
       |ig AS (
       |  SELECT ROW_NUMBER() OVER (ORDER BY gain DESC, doc_id) AS r,
       |         gain
       |  FROM grades),
       |idcg AS (
       |  SELECT CAST(COALESCE(SUM(gain * w), 0) AS BIGINT) AS v
       |  FROM ig JOIN disc USING (r)),
       |scores AS (
       |  SELECT 'bm25' AS system, CAST(COALESCE(SUM(
       |      COALESCE(g.gain, 0) * disc.w), 0) AS BIGINT) AS dcg_ppm
       |  FROM bmr JOIN disc USING (r)
       |  LEFT JOIN grades g USING (doc_id)
       |  UNION ALL
       |  SELECT 'rm3', CAST(COALESCE(SUM(
       |      COALESCE(g.gain, 0) * disc.w), 0) AS BIGINT)
       |  FROM rmr JOIN disc USING (r)
       |  LEFT JOIN grades g USING (doc_id))
       |SELECT system, dcg_ppm, idcg.v AS idcg_ppm,
       |  CAST(dcg_ppm * 1000000 // greatest(idcg.v, 1) AS BIGINT)
       |    AS ndcg_ppm
       |FROM scores CROSS JOIN idcg
       |ORDER BY system""".stripMargin
  }

  val q66_sql: String =
    s"""WITH ${OracleSql.termTf},
       |${OracleSql.bm25Stats},
       |scored AS (
       |  SELECT tf.doc_id,
       |    ((n_total * 1000000) // q.df) * (22 * dls * tf.tf) //
       |      (10 * dls * tf.tf + 3 * dls + 9 * dl.dl * n_total) AS contrib
       |  FROM tf JOIN qterms q ON tf.term = q.term
       |  JOIN dl ON dl.doc_id = tf.doc_id
       |  CROSS JOIN totals)
       |SELECT doc_id, CAST(SUM(contrib) AS BIGINT) AS bm25_score,
       |       COUNT(*) AS n_terms_hit
       |FROM scored GROUP BY doc_id
       |ORDER BY bm25_score DESC, doc_id
       |LIMIT 20""".stripMargin

  // -------------------------------------------------------------------
  // q67 — keeper selection by QUALITY: within each prefix-fingerprint
  // dup group (md5 of the first 10 tokens — the boilerplate/template
  // key web-scrape curation dedups on; this corpus has no byte-exact
  // dups but 23 shared-prefix groups), keep the highest-quality member
  // instead of the arbitrary min-id — drop the OCR-damaged copy, keep
  // the clean one. One window over the fingerprint partition.
  // -------------------------------------------------------------------
  def q67_cluster_keepers(spark: SparkSession, dir: String): DataFrame = {
    val scored = Tables.documents(spark, dir)
      .filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"),
        md5(concat_ws(" ",
          slice(TextAnalysis.tokens(col("text")), 1, 10))).as("fp"),
        TextAnalysis.qualityScorePpm("text", "n_chars").as("q_ppm"))
    val w = Window.partitionBy(col("fp"))
      .orderBy(col("q_ppm").desc, col("doc_id"))
    scored
      .withColumn("rk", row_number().over(w))
      .withColumn("n_members", count(lit(1)).over(Window.partitionBy(col("fp"))))
      .filter(col("rk") === 1 && col("n_members") > 1)
      .select(col("fp"), col("n_members"),
        col("doc_id").as("keeper_id"), col("q_ppm").as("keeper_quality"))
      .orderBy(col("fp"))
  }

  val q67_sql: String =
    s"""WITH s AS (
       |  SELECT doc_id,
       |    md5(array_to_string(list_slice(
       |      regexp_split_to_array(trim(text), '\\s+'), 1, 10), ' '))
       |      AS fp,
       |${TextAnalysis.qualityScorePpmSql("text", "n_chars")}
       |  AS q_ppm
       |  FROM documents WHERE trim(text) <> ''),
       |r AS (
       |  SELECT doc_id, fp, q_ppm,
       |    ROW_NUMBER() OVER (PARTITION BY fp
       |      ORDER BY q_ppm DESC, doc_id) AS rk,
       |    COUNT(*) OVER (PARTITION BY fp) AS n_members
       |  FROM s)
       |SELECT fp, n_members, doc_id AS keeper_id, q_ppm AS keeper_quality
       |FROM r WHERE rk = 1 AND n_members > 1
       |ORDER BY fp""".stripMargin

  // -------------------------------------------------------------------
  // q68 — ANN recall@3 evaluation: how much of the exact brute-force
  // top-3 the WTA-LSH path recovers, per query — the quality metric
  // that decides banding parameters before scaling an ANN index to
  // 100 TB. Both sides are existing oracled operators (q25/q29); the
  // eval is a left join + integer recall.
  // -------------------------------------------------------------------
  def q68_ann_recall(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val bf = graft.pipeline.Similarity.bruteForceTopK(
      e.filter(col("vec_id") % 50 === 0), e, "vec_id", "embedding",
      k = 3, roundTo = 5)
    val lsh = graft.pipeline.Similarity.wtaTopK(e, "vec_id", "embedding",
        k = 3, planes = 16, bandBits = 8, dims = ExtendedQueries.EmbDim)
      .filter(col("query_id") % 50 === 0)
      .select(col("query_id"), col("neighbor_id"), lit(1).as("hit"))
    bf.select(col("query_id"), col("neighbor_id"))
      .join(lsh, Seq("query_id", "neighbor_id"), "left_outer")
      .groupBy(col("query_id"))
      .agg(sum(coalesce(col("hit"), lit(0))).as("n_hits"))
      .withColumn("recall_ppm", expr("n_hits * 1000000 div 3"))
      .orderBy(col("query_id"))
  }

  val q68_sql: String = {
    val bf = graft.queries.PipelineQueries.q25_sql
    val lsh = graft.queries.PipelineQueries.q29_sql
    s"""WITH bf AS (SELECT query_id, neighbor_id FROM ($bf)),
       |lsh AS (SELECT query_id, neighbor_id FROM ($lsh)
       |        WHERE query_id % 50 = 0)
       |SELECT bf.query_id,
       |  CAST(COUNT(lsh.neighbor_id) AS BIGINT) AS n_hits,
       |  CAST(COUNT(lsh.neighbor_id) AS BIGINT) * 1000000 // 3
       |    AS recall_ppm
       |FROM bf LEFT JOIN lsh
       |  ON bf.query_id = lsh.query_id
       | AND bf.neighbor_id = lsh.neighbor_id
       |GROUP BY bf.query_id
       |ORDER BY bf.query_id""".stripMargin
  }

  // -------------------------------------------------------------------
  // q75 — fuzzy join on edit distance: source-name pairs within
  // Levenshtein ≤ 2 — the entity-resolution primitive (merge "src1"
  // with its typo'd variants before grouping). Both engines implement
  // the classic DP, so distances are integer-exact. The dimension side
  // is the distinct name set (vocab-sized): broadcast nested-loop over
  // vocab², never over rows² — the same containment strategy as the
  // reference's LIMIT-capped substring θ-join (J8).
  // -------------------------------------------------------------------
  def q75_fuzzy_join(spark: SparkSession, dir: String): DataFrame = {
    val names = Tables.documents(spark, dir)
      .select(col("source")).distinct()
    names.as("a").join(broadcast(names.as("b")),
        col("a.source") < col("b.source") &&
        levenshtein(col("a.source"), col("b.source")) <= 2)
      .select(col("a.source").as("name_a"), col("b.source").as("name_b"),
        levenshtein(col("a.source"), col("b.source")).as("distance"))
      .orderBy(col("name_a"), col("name_b"))
  }

  val q75_sql: String =
    """WITH n AS (SELECT DISTINCT source FROM documents)
      |SELECT a.source AS name_a, b.source AS name_b,
      |       CAST(levenshtein(a.source, b.source) AS INT) AS distance
      |FROM n a JOIN n b
      |  ON a.source < b.source
      | AND levenshtein(a.source, b.source) <= 2
      |ORDER BY name_a, name_b""".stripMargin

  // -------------------------------------------------------------------
  // q78 — context-window packing: word chunks assembled into 512-token
  // bins per language (concat-and-chunk, the production shortcut for
  // sequence packing) via a running token sum — bin = floor(cumulative
  // tokens before this chunk / capacity). Per-language windows keep the
  // running sum partition-parallel (a global pack would serialize; at
  // 100 TB you pack per shard exactly like this). Output: per-bin
  // chunk/token counts — the training-example assembly report.
  // -------------------------------------------------------------------
  def q78_context_packing(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val chunks = TextAnalysis.wordChunks(docs, "doc_id", "text", 40)
      .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("doc_id"), col("chunk_idx"))
      .rowsBetween(Window.unboundedPreceding, 0)
    chunks
      .withColumn("cum", sum(col("n_words")).over(w))
      .withColumn("bin", expr("(cum - n_words) div 512"))
      .groupBy(col("lang"), col("bin"))
      .agg(count(lit(1)).as("n_chunks"), sum(col("n_words")).as("n_tokens"))
      .orderBy(col("lang"), col("bin"))
  }

  val q78_sql: String =
    s"""WITH ${OracleSql.wordPositions},
       |c AS (
       |  SELECT doc_id, (i - 1) // 40 AS chunk_idx, COUNT(*) AS n_words
       |  FROM pos GROUP BY doc_id, (i - 1) // 40),
       |l AS (
       |  SELECT c.doc_id, c.chunk_idx, c.n_words, d.lang
       |  FROM c JOIN documents d ON d.doc_id = c.doc_id),
       |r AS (
       |  SELECT lang, n_words,
       |    CAST(SUM(n_words) OVER (PARTITION BY lang
       |      ORDER BY doc_id, chunk_idx ROWS UNBOUNDED PRECEDING)
       |      AS BIGINT) AS cum
       |  FROM l)
       |SELECT lang, (cum - n_words) // 512 AS bin,
       |       COUNT(*) AS n_chunks,
       |       CAST(SUM(n_words) AS BIGINT) AS n_tokens
       |FROM r GROUP BY lang, (cum - n_words) // 512
       |ORDER BY lang, bin""".stripMargin

  // -------------------------------------------------------------------
  // q79 — benchmark decontamination: corpus documents sharing any
  // 4-gram with the eval set (doc_id < 5 stands in for the benchmark;
  // natural-text pipelines use 8–13-grams, but the synthetic corpus
  // shares shorter verbatim spans — the operator shape is identical)
  // are flagged with shared-shingle and benchmark-doc counts. The
  // n-gram-overlap scan every pretraining corpus runs before training;
  // the benchmark shingle set is dimension-sized → broadcast equi-join
  // against the corpus shingles, linear at 100 TB.
  // -------------------------------------------------------------------
  def q79_decontamination(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val bench = Dedup.shingleRows(docs.filter(col("doc_id") < 5),
        "doc_id", "text", 4)
      .select(col("doc").as("bench_id"), col("shingle"))
    val corpus = Dedup.shingleRows(docs.filter(col("doc_id") >= 5),
        "doc_id", "text", 4)
    corpus.join(broadcast(bench), Seq("shingle"))
      .groupBy(col("doc").as("doc_id"))
      .agg(count(lit(1)).as("n_shared_shingles"),
        countDistinct(col("bench_id")).as("n_benchmark_docs"))
      .orderBy(col("doc_id"))
  }

  val q79_sql: String =
    """WITH t AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk
      |  FROM documents WHERE trim(text) <> ''),
      |sh AS (
      |  SELECT DISTINCT doc_id,
      |    unnest([array_to_string(tk[i:i+3], ' ')
      |            FOR i IN generate_series(1, len(tk) - 3)]) AS shingle
      |  FROM t WHERE len(tk) >= 4),
      |bench AS (SELECT doc_id AS bench_id, shingle FROM sh
      |          WHERE doc_id < 5),
      |corpus AS (SELECT doc_id, shingle FROM sh WHERE doc_id >= 5)
      |SELECT c.doc_id, COUNT(*) AS n_shared_shingles,
      |       COUNT(DISTINCT b.bench_id) AS n_benchmark_docs
      |FROM corpus c JOIN bench b ON c.shingle = b.shingle
      |GROUP BY c.doc_id
      |ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------
  // q80 — PII scan + redaction: detect emails/URLs (deterministically
  // injected per doc, since the synthetic corpus has none), count
  // them, and emit the digest of the REDACTED text — scan and rewrite
  // in one codegen'd pass (regexp_extract_all + regexp_replace), the
  // shape a redaction pipeline runs over 100 TB. Patterns restricted
  // to the RE2 ∩ Java-regex common subset so both engines agree.
  // -------------------------------------------------------------------
  private val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val UrlRe = "https?://[^ ]+"

  def q80_pii_redact(spark: SparkSession, dir: String): DataFrame = {
    val augmented = Tables.documents(spark, dir)
      .withColumn("aug", concat(col("text"),
        lit(" contact user"), col("doc_id"), lit("@example.com or "),
        lit("https://host"), col("doc_id") % 7, lit(".example/path")))
    augmented.select(col("doc_id"),
        size(regexp_extract_all(col("aug"), lit(EmailRe), lit(0)))
          .as("n_emails"),
        size(regexp_extract_all(col("aug"), lit(UrlRe), lit(0)))
          .as("n_urls"),
        md5(regexp_replace(
          regexp_replace(col("aug"), EmailRe, "[EMAIL]"),
          UrlRe, "[URL]")).as("redacted_md5"))
      .orderBy(col("doc_id"))
  }

  val q80_sql: String =
    s"""WITH a AS (
       |  SELECT doc_id, text || ' contact user' || doc_id ||
       |    '@example.com or https://host' || (doc_id % 7) ||
       |    '.example/path' AS aug
       |  FROM documents)
       |SELECT doc_id,
       |  len(regexp_extract_all(aug, '$EmailRe')) AS n_emails,
       |  len(regexp_extract_all(aug, '$UrlRe')) AS n_urls,
       |  md5(regexp_replace(regexp_replace(aug, '$EmailRe', '[EMAIL]',
       |    'g'), '$UrlRe', '[URL]', 'g')) AS redacted_md5
       |FROM a
       |ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------
  // q81 — intra-document repetitiveness: fraction of duplicated word
  // 3-grams per doc, in ppm (the Gopher/C4-family quality signal that
  // catches boilerplate and degenerate generations). Pure row-local
  // array expressions over the single tokenization — scan-speed.
  // -------------------------------------------------------------------
  def q81_repetitiveness(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        TextAnalysis.tokens(col("text")).as("_toks"))
      .select(col("doc_id"),
        Dedup.shinglesFromToks(col("_toks"), 3).as("_uniq"),
        (size(col("_toks")) - 2).as("_total"))
      .select(col("doc_id"),
        when(col("_total") <= 0, 0L).otherwise(col("_total"))
          .as("n_3grams"),
        when(col("_total") <= 0, 0L)
          .otherwise(expr(
            "(cast(_total - size(_uniq) as bigint) * 1000000) div _total"))
          .as("dup_3gram_ppm"))
      .orderBy(col("doc_id"))

  val q81_sql: String =
    """WITH t AS (
      |  SELECT doc_id,
      |    CASE WHEN trim(text) = '' THEN []
      |         ELSE regexp_split_to_array(trim(text), '\s+') END AS tk
      |  FROM documents),
      |g AS (
      |  SELECT doc_id, len(tk) - 2 AS total,
      |    CASE WHEN len(tk) < 3 THEN []
      |         ELSE list_distinct([array_to_string(tk[i:i+2], ' ')
      |            FOR i IN generate_series(1, len(tk) - 2)]) END AS uniq
      |  FROM t)
      |SELECT doc_id,
      |  CASE WHEN total <= 0 THEN 0 ELSE total END AS n_3grams,
      |  CASE WHEN total <= 0 THEN 0
      |       ELSE (CAST(total - len(uniq) AS BIGINT) * 1000000) // total
      |       END AS dup_3gram_ppm
      |FROM g
      |ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------
  // q82 — cross-lingual duplicate detection: embedding-space near-dup
  // pairs whose documents carry DIFFERENT language labels — the
  // translated-duplicate scan (vec_id ≙ doc_id in the testdata).
  // Candidates come from the oracle-exact WTA banding (q37's path);
  // the language join is two broadcast lookups.
  // -------------------------------------------------------------------
  def q82_crosslingual_dups(spark: SparkSession, dir: String): DataFrame = {
    val pairs = graft.pipeline.Similarity.embeddingNearDups(
      Tables.embeddings(spark, dir), "vec_id", "embedding",
      threshold = 0.3, planes = 16, bandBits = 8,
      dims = ExtendedQueries.EmbDim)
    val langs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"))
    pairs
      .join(broadcast(langs.toDF("id_a", "lang_a")), Seq("id_a"))
      .join(broadcast(langs.toDF("id_b", "lang_b")), Seq("id_b"))
      .filter(col("lang_a") =!= col("lang_b"))
      .select(col("id_a"), col("id_b"), col("sim"),
        col("lang_a"), col("lang_b"))
      .orderBy(col("id_a"), col("id_b"))
  }

  val q82_sql: String = {
    val base = ExtendedQueries.q37_sql
    s"""WITH nd AS (SELECT * FROM ($base))
       |SELECT nd.id_a, nd.id_b, nd.sim, da.lang AS lang_a,
       |       db.lang AS lang_b
       |FROM nd JOIN documents da ON da.doc_id = nd.id_a
       |        JOIN documents db ON db.doc_id = nd.id_b
       |WHERE da.lang <> db.lang
       |ORDER BY nd.id_a, nd.id_b""".stripMargin
  }

  // -------------------------------------------------------------------
  // q83 — exact-quota sampling: precisely 10 docs per language, chosen
  // by deterministic hash rank (a seedless uniform shuffle) — how eval
  // sets are cut when a rate-based sample's ±√n variance is not
  // acceptable. One window shuffle; rank runs as WindowGroupLimit.
  // -------------------------------------------------------------------
  def q83_exact_quota(spark: SparkSession, dir: String): DataFrame =
    Sampling.exactQuotaSample(Tables.documents(spark, dir), "doc_id",
        "lang", k = 10)
      .select(col("doc_id"), col("lang"))
      .orderBy(col("lang"), col("doc_id"))

  val q83_sql: String =
    s"""WITH r AS (
       |  SELECT doc_id, lang, ROW_NUMBER() OVER (
       |    PARTITION BY lang
       |    ORDER BY ${hash60Sql("quota", "doc_id")}, doc_id) AS rk
       |  FROM documents)
       |SELECT doc_id, lang FROM r WHERE rk <= 10
       |ORDER BY lang, doc_id""".stripMargin

  // -------------------------------------------------------------------
  // q126 — leakage-free train/val/test split: assignment hashes the
  // CONTENT key (md5 of text), not the row id, so exact duplicates can
  // never straddle a split boundary and leak train content into eval
  // (the Lee et al. 2022 §6 contamination mechanism). Per-split doc and
  // cluster counts; the no-straddle property itself is spec-asserted
  // and holds by construction (same content ⇒ same hash ⇒ same side).
  // One projection + one small groupBy. See Sampling.splitByKey.
  // -------------------------------------------------------------------
  def q126_leakfree_split(spark: SparkSession, dir: String): DataFrame =
    Sampling.splitByKey(Tables.documents(spark, dir),
        md5(col("text")), trainPct = 80, valPct = 10, salt = "leakfree")
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(md5(col("text"))).as("n_clusters"))
      .orderBy(col("split"))

  val q126_sql: String =
    s"""WITH s AS (
       |  SELECT doc_id, md5(text) AS ck,
       |    CASE WHEN ${hash60Sql("leakfree", "md5(text)")} % 100 < 80
       |           THEN 'train'
       |         WHEN ${hash60Sql("leakfree", "md5(text)")} % 100 < 90
       |           THEN 'val'
       |         ELSE 'test' END AS split
       |  FROM documents)
       |SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(COUNT(DISTINCT ck) AS BIGINT) AS n_clusters
       |FROM s GROUP BY split ORDER BY split""".stripMargin

  // -------------------------------------------------------------------
  // q130 — export-shard manifest: deterministic shard assignment (id
  // hash mod 16) + order-independent per-shard integrity checksums
  // (decimal-exact hash sum + bit_xor) — what a reproducible export
  // publishes next to its shard files. See Curation.shardManifest.
  // -------------------------------------------------------------------
  def q130_shard_manifest(spark: SparkSession, dir: String): DataFrame =
    Curation.shardManifest(Tables.documents(spark, dir), "doc_id",
      "text", numShards = 16)

  val q130_sql: String =
    s"""WITH s AS (
       |  SELECT ${hash60Sql("shard", "doc_id")} % 16 AS shard,
       |    CAST(len(text) AS BIGINT) AS n_chars,
       |    CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) AS fp
       |  FROM documents)
       |SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(n_chars) AS BIGINT) AS tot_chars,
       |  CAST(SUM(CAST(fp AS HUGEINT)) AS VARCHAR) AS sum_fp,
       |  CAST(bit_xor(fp) AS BIGINT) AS xor_fp
       |FROM s GROUP BY shard ORDER BY shard""".stripMargin

  // -------------------------------------------------------------------
  // q105 — exact-substring deduplication (Lee et al. 2022): any 8-token
  // window occurring in more than one document marks its span; per doc,
  // the count and fraction of token positions inside a duplicated span.
  // The suffix-array formulation becomes a sliding-window equi-join
  // (one shuffle on the window key) + position-explode span union —
  // linear in corpus tokens, never pairwise in documents.
  // -------------------------------------------------------------------
  def q105_substring_dedup(spark: SparkSession, dir: String): DataFrame =
    Dedup.duplicatedSpans(Tables.documents(spark, dir), "doc_id", "text",
        n = 8)
      .orderBy(col("doc_id"))

  val q105_sql: String =
    """WITH t AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk
      |  FROM documents WHERE trim(text) <> ''),
      |base AS (
      |  SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_toks, tk FROM t),
      |w0 AS (
      |  SELECT doc_id, tk, unnest(generate_series(1, n_toks - 7)) AS i
      |  FROM base),
      |w AS (
      |  SELECT doc_id, i, array_to_string(tk[i:i+7], ' ') AS win
      |  FROM w0),
      |dup AS (
      |  SELECT win FROM w GROUP BY win
      |  HAVING COUNT(DISTINCT doc_id) > 1),
      |pos AS (
      |  SELECT DISTINCT doc_id, p FROM (
      |    SELECT doc_id, unnest(generate_series(i, i + 7)) AS p
      |    FROM w JOIN dup USING (win)) x),
      |cov AS (
      |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dup_tokens
      |  FROM pos GROUP BY doc_id)
      |SELECT b.doc_id, b.n_toks,
      |  COALESCE(c.dup_tokens, 0) AS dup_tokens,
      |  round(COALESCE(c.dup_tokens, 0) / CAST(b.n_toks AS DOUBLE), 5)
      |    AS dup_frac
      |FROM base b LEFT JOIN cov c USING (doc_id)
      |ORDER BY b.doc_id""".stripMargin

  // -------------------------------------------------------------------
  // q109 — repeated-chunk removal (C4-style boilerplate dedup, Raffel
  // et al. 2020 §2.2): documents are cut into non-overlapping 10-token
  // chunks, chunks occurring in >1 document are dropped everywhere, and
  // the survivors are re-joined in order — certified by sha256 of the
  // reassembled text. The rewrite companion to q105's measurement.
  // -------------------------------------------------------------------
  def q109_chunk_dedup(spark: SparkSession, dir: String): DataFrame =
    Dedup.dropRepeatedChunks(Tables.documents(spark, dir), "doc_id",
        "text", c = 10)
      .orderBy(col("doc_id"))

  val q109_sql: String =
    """WITH t AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk
      |  FROM documents WHERE trim(text) <> ''),
      |base AS (
      |  SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_toks, tk,
      |    (CAST(len(tk) AS BIGINT) + 9) // 10 AS n_chunks FROM t),
      |cidx AS (
      |  SELECT doc_id, tk, unnest(generate_series(1, n_chunks)) AS ci
      |  FROM base),
      |ch AS (
      |  SELECT doc_id, ci, array_to_string(tk[(ci-1)*10+1:ci*10], ' ')
      |    AS chunk
      |  FROM cidx),
      |boiler AS (
      |  SELECT chunk FROM ch GROUP BY chunk
      |  HAVING COUNT(DISTINCT doc_id) > 1),
      |kept AS (
      |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS kept_chunks,
      |    string_agg(chunk, ' ' ORDER BY ci) AS clean_text
      |  FROM ch ANTI JOIN boiler USING (chunk)
      |  GROUP BY doc_id)
      |SELECT b.doc_id, b.n_chunks,
      |  COALESCE(k.kept_chunks, 0) AS kept_chunks,
      |  sha256(COALESCE(k.clean_text, '')) AS clean_fp
      |FROM base b LEFT JOIN kept k USING (doc_id)
      |ORDER BY b.doc_id""".stripMargin


  // -------------------------------------------------------------------
  // q255 — MJPEG-in-AVI FRAME FAN-OUT with the real container walk and
  // the real JPEG decoder (round-7 verdict task #7: the closable video
  // slice — RIFF is pure byte arithmetic, ImageIO decodes the frames).
  // Per document an AVI is synthesized ON THE EXECUTORS: k JPEG frames
  // of a smooth closed-form gradient, muxed by encodeAviMjpeg, then
  // demuxed by decodeAviFrames (RIFF chunk walk) and each frame decoded
  // by decodeImage. The oracle predicts everything deterministic —
  // frame count, per-frame dims, fps from the avih header — while two
  // boolean gates prove the lossy/byte-level parts executed: byte_exact
  // (extracted payload == muxed payload, container transparency) and
  // pixels_ok (decoded pixels within JPEG tolerance of the synthesis
  // formula — gradients are smooth so mean abs error stays small).
  // Scale shape: embarrassingly parallel mapPartitions, k rows/doc.
  // -------------------------------------------------------------------
  def q255_avi_frames(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ids = Tables.documents(spark, dir)
      .select(col("doc_id").cast("long")).as[Long]
    ids.flatMap { id =>
      val k = (2 + id % 4).toInt
      val w = (16 + (id % 3) * 8).toInt
      val h = 16
      val usec = Seq(100000, 50000, 40000)((id % 3).toInt)
      def pix(f: Int): Array[Byte] = {
        val rgb = new Array[Byte](w * h * 3)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val d = (y * w + x) * 3
            rgb(d) = ((id % 64) + 2 * x + 8 * f).toByte
            rgb(d + 1) = ((id % 64) + 2 * y + 4 * f).toByte
            rgb(d + 2) = (100 + 2 * f).toByte
            x += 1
          }
          y += 1
        }
        rgb
      }
      val jpegs = (0 until k).map(f =>
        MediaCodecs.encodeJpeg(MediaCodecs.BmpImage(w, h, pix(f))))
      val avi = MediaCodecs.encodeAviMjpeg(jpegs, w, h, usec)
      val (meta, frames) = MediaCodecs.decodeAviFrames(avi).getOrElse(
        sys.error(s"AVI demux failed for doc $id"))
      frames.zipWithIndex.map { case (payload, f) =>
        val byteExact = java.util.Arrays.equals(payload, jpegs(f))
        val img = MediaCodecs.decodeImage(payload).getOrElse(
          sys.error(s"frame decode failed for doc $id frame $f"))
        val want = pix(f)
        var absErr = 0L
        var i = 0
        while (i < want.length) {
          absErr += math.abs((img.rgb(i) & 0xff) - (want(i) & 0xff))
          i += 1
        }
        val pixelsOk = absErr.toDouble / want.length < 8.0
        (id, f, img.width, img.height, 1000000 / meta.usecPerFrame,
          frames.length.toLong, byteExact, pixelsOk)
      }
    }.toDF("media_id", "frame_index", "width", "height", "fps",
        "n_frames", "byte_exact", "pixels_ok")
      .orderBy(col("media_id"), col("frame_index"))
  }

  val q255_sql: String =
    """WITH d AS (
      |  SELECT doc_id, 2 + doc_id % 4 AS k,
      |    CAST(16 + (doc_id % 3) * 8 AS INT) AS w,
      |    CAST(CASE doc_id % 3 WHEN 0 THEN 10 WHEN 1 THEN 20
      |      ELSE 25 END AS INT) AS fps
      |  FROM documents)
      |SELECT doc_id AS media_id, CAST(u.f AS INT) AS frame_index,
      |  w AS width, CAST(16 AS INT) AS height, fps,
      |  CAST(k AS BIGINT) AS n_frames,
      |  true AS byte_exact, true AS pixels_ok
      |FROM d, unnest(generate_series(0, CAST(k AS BIGINT) - 1)) AS u(f)
      |ORDER BY media_id, frame_index""".stripMargin

  // -------------------------------------------------------------------
  // q310 — RAKE keyword extraction (Rose et al. 2010): candidate
  // phrases are maximal stopword-free token runs (gaps-and-islands
  // per doc: phrase id = running stopword count, a doc-bounded
  // window); word score = deg/freq in ppm where deg counts phrase-
  // length co-occurrence mass; phrase score = Σ member word scores.
  // Corpus-level rollup: distinct phrase strings with occurrence
  // counts, top-20 by (score, phrase). Scale shape: per-doc windows +
  // vocabulary-sized word-score join + TakeOrdered — the unsupervised
  // keyphrase pass a curation pipeline runs at scan speed.
  // -------------------------------------------------------------------
  private val RakeStop = TextAnalysis.defaultStopwords

  def q310_rake_keywords(spark: SparkSession, dir: String): DataFrame = {
    val stopArr = array(RakeStop.map(lit(_)): _*)
    val tk = Tables.documents(spark, dir)
      .filter(expr("trim(text) <> ''"))
      .select(col("doc_id"),
        posexplode(split(trim(col("text")), "\\s+")).as(Seq("pos", "w")))
      .withColumn("is_stop", array_contains(stopArr, col("w")))
    val wD = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val phr = tk
      .withColumn("pid",
        sum(col("is_stop").cast("long")).over(wD))
      .filter(!col("is_stop"))
    // ONE pass over the token stream: reduce to phrase-level rows
    // (collect_list order pinned by sorting the struct array), then
    // checkpoint THAT — phrase rows are ~len× smaller than tokens, and
    // everything downstream (word stats, scoring) re-derives from the
    // phrase STRING, never from the token pipeline again. (First cut
    // joined three token-level consumers: 21.8 s warm checkpointed /
    // 54 s unchckpointed at sf1; this shape is 4 s.)
    val pstat = phr.groupBy(col("doc_id"), col("pid"))
      .agg(count(lit(1)).as("plen"),
        concat_ws(" ",
          transform(array_sort(collect_list(struct(col("pos"), col("w")))),
            s => s.getField("w"))).as("phrase"))
      .select(col("plen"), col("phrase"))
      .localCheckpoint(eager = true) // word stats AND phrase rollup
    val wstat = pstat
      .select(col("plen"), explode(split(col("phrase"), " ")).as("w"))
      .groupBy(col("w"))
      .agg(count(lit(1)).as("freq"), sum(col("plen")).as("deg"))
      .withColumn("wscore_ppm", expr("deg * 1000000 div freq"))
    val dphr = pstat.groupBy(col("phrase"))
      .agg(count(lit(1)).as("n_occ"))
    dphr
      .select(col("phrase"), col("n_occ"),
        explode(split(col("phrase"), " ")).as("w"))
      .join(broadcast(wstat.select(col("w"), col("wscore_ppm"))),
        Seq("w"))
      .groupBy(col("phrase"), col("n_occ"))
      .agg(sum(col("wscore_ppm")).as("score_ppm"))
      .select(col("phrase"), col("n_occ"), col("score_ppm"))
      .orderBy(col("score_ppm").desc, col("phrase"))
      .limit(20)
  }

  val q310_sql: String = {
    val stopList = RakeStop.map(w => s"'$w'").mkString(", ")
    s"""WITH t0 AS (
       |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
       |  FROM documents WHERE trim(text) <> ''),
       |tk AS (
       |  SELECT doc_id, generate_subscripts(t, 1) AS pos,
       |    unnest(t) AS w, unnest(t) IN ($stopList) AS is_stop
       |  FROM t0),
       |ph AS (
       |  SELECT doc_id, pos, w,
       |    SUM(CASE WHEN is_stop THEN 1 ELSE 0 END) OVER (
       |      PARTITION BY doc_id ORDER BY pos) AS pid
       |  FROM tk
       |  QUALIFY NOT is_stop),
       |pstat AS (
       |  SELECT doc_id, pid, COUNT(*) AS plen,
       |    string_agg(w, ' ' ORDER BY pos) AS phrase
       |  FROM ph GROUP BY 1, 2),
       |wstat AS (
       |  SELECT w, COUNT(*) AS freq, SUM(plen) AS deg,
       |    SUM(plen) * 1000000 // COUNT(*) AS wscore_ppm
       |  FROM ph JOIN pstat USING (doc_id, pid)
       |  GROUP BY w),
       |scored AS (
       |  SELECT doc_id, pid, SUM(wscore_ppm) AS pscore_ppm
       |  FROM ph JOIN wstat USING (w) GROUP BY 1, 2)
       |SELECT phrase, CAST(COUNT(*) AS BIGINT) AS n_occ,
       |  CAST(MAX(pscore_ppm) AS BIGINT) AS score_ppm
       |FROM pstat JOIN scored USING (doc_id, pid)
       |GROUP BY phrase
       |ORDER BY score_ppm DESC, phrase
       |LIMIT 20""".stripMargin
  }

  // -------------------------------------------------------------------
  // q311 — TextRank keywords (Mihalcea & Tarau 2004): PageRank over
  // the word co-occurrence graph (consecutive non-stopword tokens,
  // symmetrized), run on the SAME integer-ppm PageRank engine as q69
  // (the GraphX Centrality.personalizedPageRankInteger with every node
  // seeded — 150000/850000 damping; its SQL mirror emits the unrolled
  // DuckDB CTEs, so engine and oracle cannot drift).
  // Word ids come from a deterministic vocabulary rank (vocabulary-
  // sized window). Output: top-20 words by rank.
  // -------------------------------------------------------------------
  private val TrIters = 5

  def q311_textrank(spark: SparkSession, dir: String): DataFrame = {
    val stopArr = array(RakeStop.map(lit(_)): _*)
    val tk = Tables.documents(spark, dir)
      .filter(expr("trim(text) <> ''"))
      .select(col("doc_id"),
        posexplode(split(trim(col("text")), "\\s+")).as(Seq("pos", "w")))
      .filter(!array_contains(stopArr, col("w")))
    // vocabulary ids via the distributed ordinal (range partition +
    // local sort + zipWithIndex), NOT a global row_number window —
    // that window moves the whole vocabulary through ONE task, the
    // round-10 scale-killer pattern (the last remaining corpus-growing
    // single-partition window, round-13 audit). Same wid values: w is
    // distinct, so the (w) order is total and the ordinal equals the
    // old row_number.
    val vocab = graft.ops.Rank.globalOrdinal(
        tk.select(col("w")).distinct(), "wid", 32, col("w"))
      .localCheckpoint(eager = true) // id map + readback join (tiny)
    // consecutive pairs come from a per-doc lead() window, NOT a
    // corpus self-join — one sort per doc partition vs a full shuffle
    // join (the first cut joined tk to itself on pos+1: 20 s warm and
    // 7.7 s GC at sf1)
    val wL = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val pairs = tk
      .withColumn("w2", lead(col("w"), 1).over(wL))
      .withColumn("p2", lead(col("pos"), 1).over(wL))
      // original-position adjacency (a stopword between two kept
      // words breaks the pair), matching the oracle's pos+1 join
      .filter(col("p2") === col("pos") + 1 && col("w") =!= col("w2"))
      .select(col("w").as("w1"), col("w2"))
    val edges = pairs
      .unionByName(pairs.select(col("w2").as("w1"), col("w1").as("w2")))
      .join(broadcast(vocab.select(col("w").as("w1"),
        col("wid").as("src"))), Seq("w1"))
      .join(broadcast(vocab.select(col("w").as("w2"),
        col("wid").as("dst"))), Seq("w2"))
      .select(col("src"), col("dst"))
    graft.graph.Centrality.personalizedPageRankInteger(edges, _ => true,
        TrIters)
      .join(broadcast(vocab.select(col("wid").as("id"), col("w"))),
        Seq("id"))
      .select(col("w").as("word"), col("rank_ppm"))
      .orderBy(col("rank_ppm").desc, col("word"))
      .limit(20)
  }

  val q311_sql: String = {
    val stopList = RakeStop.map(w => s"'$w'").mkString(", ")
    val t0 = "SELECT doc_id, regexp_split_to_array(trim(text), " +
      "'\\s+') AS t FROM documents WHERE trim(text) <> ''"
    val tk = s"SELECT * FROM (SELECT doc_id, generate_subscripts(t, 1)" +
      s" AS pos, unnest(t) AS w FROM ($t0) t0) u " +
      s"WHERE w NOT IN ($stopList)"
    val vocab = s"SELECT w, ROW_NUMBER() OVER (ORDER BY w) AS wid " +
      s"FROM (SELECT DISTINCT w FROM ($tk) x) d"
    val pairs = s"SELECT a.w AS w1, b.w AS w2 FROM ($tk) a " +
      "JOIN ($TK) b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1 " +
      "WHERE a.w <> b.w"
    val pairsSql = pairs.replace("($TK)", s"($tk)")
    val edgesSql =
      s"""SELECT v1.wid AS src, v2.wid AS dst FROM (
         |  SELECT w1, w2 FROM ($pairsSql) p
         |  UNION ALL SELECT w2, w1 FROM ($pairsSql) q) e
         |JOIN ($vocab) v1 ON v1.w = e.w1
         |JOIN ($vocab) v2 ON v2.w = e.w2""".stripMargin
    s"""WITH ${graft.graph.Centrality
          .personalizedPageRankIntegerSql(edgesSql, "TRUE", TrIters)},
       |voc AS ($vocab)
       |SELECT voc.w AS word, CAST(r.rank_ppm AS BIGINT) AS rank_ppm
       |FROM r$TrIters r JOIN voc ON voc.wid = r.id
       |ORDER BY rank_ppm DESC, word
       |LIMIT 20""".stripMargin
  }

  // -------------------------------------------------------------------
  // q312 — content-defined chunking (Muthitacharoen et al. 2001, the
  // LBFS/rsync dedup layout): a rolling polynomial hash over a
  // 4-token window cuts each doc at content-determined boundaries
  // (H % 16 == 0 → expected 16-token chunks), so shared substrings
  // land in IDENTICAL chunks regardless of their offset — the
  // property fixed-width chunking lacks and the reason every storage
  // dedup system uses CDC. Chunk signatures are md5 of the ordered
  // token run; per-source rollup reports chunk counts, distinct
  // signatures, and the realized dedup ratio in ppm. Per-doc windows
  // only — scan shape.
  // -------------------------------------------------------------------
  private val CdcWindow = 4
  private val CdcBase = 33L
  private val CdcMask = 15L // H % 16 == 0 → boundary

  def q312_cdc_chunking(spark: SparkSession, dir: String): DataFrame = {
    val tk = Tables.documents(spark, dir)
      .filter(expr("trim(text) <> ''"))
      .select(col("doc_id"), col("source"),
        posexplode(split(trim(col("text")), "\\s+")).as(Seq("pos", "w")))
      .withColumn("h", pmod(Sampling.hash60("cdc", col("w")
        .cast("string")), lit(1048576L)))
    val wD = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val rolled = tk
      .withColumn("roll",
        (0 until CdcWindow).map(j =>
          coalesce(lag(col("h"), j).over(wD), lit(0L)) *
            lit(Seq.fill(j)(CdcBase).product))
          .reduce(_ + _) % lit(1048583L))
      .withColumn("boundary",
        (pmod(col("roll"), lit(CdcMask + 1)) === 0).cast("long"))
    val wC = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val chunks = rolled
      .withColumn("chunk", coalesce(sum(col("boundary")).over(wC),
        lit(0L)))
      .groupBy(col("doc_id"), col("source"), col("chunk"))
      .agg(count(lit(1)).as("clen"),
        md5(concat_ws(" ",
          transform(array_sort(collect_list(struct(col("pos"), col("w")))),
            s => s.getField("w")))).as("sig"))
    chunks.groupBy(col("source"))
      .agg(count(lit(1)).as("n_chunks"),
        countDistinct(col("sig")).as("n_distinct"),
        sum(col("clen")).as("n_tokens"),
        max(col("clen")).as("max_len"))
      .withColumn("dup_ppm", expr(
        "(n_chunks - n_distinct) * 1000000 div n_chunks"))
      .select(col("source"), col("n_chunks"), col("n_distinct"),
        col("n_tokens"), col("max_len"), col("dup_ppm"))
      .orderBy(col("source"))
  }

  val q312_sql: String = {
    val h = Sampling.hash60Sql("cdc", "w")
    val powers = (0 until CdcWindow)
      .map(j => Seq.fill(j)(CdcBase).product)
    val rollTerms = (0 until CdcWindow).map(j =>
      s"COALESCE(LAG(h, $j) OVER (PARTITION BY doc_id ORDER BY pos)," +
        s" 0) * ${powers(j)}").mkString(" + ")
    s"""WITH t0 AS (
       |  SELECT doc_id, source,
       |    regexp_split_to_array(trim(text), '\\s+') AS t
       |  FROM documents WHERE trim(text) <> ''),
       |tk AS (
       |  SELECT doc_id, source, pos, w, ($h) % 1048576 AS h
       |  FROM (SELECT doc_id, source, generate_subscripts(t, 1) AS pos,
       |        unnest(t) AS w FROM t0) u),
       |rolled AS (
       |  SELECT doc_id, source, pos, w,
       |    ($rollTerms) % 1048583 AS roll
       |  FROM tk),
       |b AS (
       |  SELECT doc_id, source, pos, w,
       |    CASE WHEN roll % ${CdcMask + 1} = 0 THEN 1 ELSE 0 END
       |      AS boundary
       |  FROM rolled),
       |ch AS (
       |  SELECT doc_id, source, pos, w,
       |    COALESCE(SUM(boundary) OVER (PARTITION BY doc_id
       |      ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND
       |      1 PRECEDING), 0) AS chunk
       |  FROM b),
       |chunks AS (
       |  SELECT doc_id, source, chunk, COUNT(*) AS clen,
       |    md5(string_agg(w, ' ' ORDER BY pos)) AS sig
       |  FROM ch GROUP BY 1, 2, 3)
       |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_chunks,
       |  CAST(COUNT(DISTINCT sig) AS BIGINT) AS n_distinct,
       |  CAST(SUM(clen) AS BIGINT) AS n_tokens,
       |  CAST(MAX(clen) AS BIGINT) AS max_len,
       |  CAST((COUNT(*) - COUNT(DISTINCT sig)) * 1000000 // COUNT(*)
       |    AS BIGINT) AS dup_ppm
       |FROM chunks GROUP BY source ORDER BY source""".stripMargin
  }

  // -------------------------------------------------------------------
  // q313 — Walsh–Hadamard spectrum (the integer-exact "FFT" — WHT
  // needs only ± butterflies, so unlike the Fourier transform its
  // coefficients are EXACT integers any engine reproduces): per doc,
  // synthesize the q164/q294 closed-form 64-sample signal on the
  // executors, run the 6-level in-place butterfly in the JVM
  // (O(n log n), per-doc local — embarrassingly parallel), and emit
  // the DC coefficient plus 4 sequency-band energies and the total.
  // The oracle replays the identical butterfly as 6 unrolled CTE
  // levels with partner index i XOR len — a green row proves the
  // transform level-by-level. Spec checks Parseval (Σc² = n·Σx²).
  // -------------------------------------------------------------------
  private val WhtN = 64

  def q313_wht_spectrum(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ids = Tables.documents(spark, dir)
      .select(col("doc_id").cast("long")).as[Long]
    ids.mapPartitions { it =>
      it.map { id =>
        val x = Array.tabulate[Long](WhtN)(i =>
          (id * 31 + i * 7) % 65536 - 32768)
        var len = 1
        while (len < WhtN) {
          var i = 0
          while (i < WhtN) {
            var j = i
            while (j < i + len) {
              val a = x(j); val b = x(j + len)
              x(j) = a + b; x(j + len) = a - b
              j += 1
            }
            i += 2 * len
          }
          len <<= 1
        }
        def band(b: Int): Long =
          (b * 16 until (b + 1) * 16).map(k => x(k) * x(k)).sum
        (id, x(0), band(0), band(1), band(2), band(3),
          band(0) + band(1) + band(2) + band(3))
      }
    }.toDF("doc_id", "dc", "band0", "band1", "band2", "band3", "energy")
      .orderBy(col("doc_id"))
  }

  val q313_sql: String = {
    val levels = (0 until 6).map { l =>
      val len = 1 << l
      s"""l${l + 1} AS (
         |  SELECT a.doc_id, a.i,
         |    CASE WHEN (a.i & $len) = 0 THEN a.v + b.v
         |         ELSE b.v - a.v END AS v
         |  FROM l$l a JOIN l$l b
         |  ON b.doc_id = a.doc_id AND b.i = xor(a.i, $len))""".stripMargin
    }.mkString(",\n")
    s"""WITH l0 AS (
       |  SELECT doc_id, g.i,
       |    (doc_id * 31 + g.i * 7) % 65536 - 32768 AS v
       |  FROM documents, generate_series(0, ${WhtN - 1}) g(i)),
       |$levels
       |SELECT doc_id,
       |  CAST(MAX(CASE WHEN i = 0 THEN v END) AS BIGINT) AS dc,
       |  CAST(SUM(CASE WHEN i < 16 THEN v * v ELSE 0 END) AS BIGINT)
       |    AS band0,
       |  CAST(SUM(CASE WHEN i >= 16 AND i < 32 THEN v * v ELSE 0 END)
       |    AS BIGINT) AS band1,
       |  CAST(SUM(CASE WHEN i >= 32 AND i < 48 THEN v * v ELSE 0 END)
       |    AS BIGINT) AS band2,
       |  CAST(SUM(CASE WHEN i >= 48 THEN v * v ELSE 0 END) AS BIGINT)
       |    AS band3,
       |  CAST(SUM(v * v) AS BIGINT) AS energy
       |FROM l6 GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  // -------------------------------------------------------------------
  // q349 — Lorenz curve + Gini of the token-frequency distribution:
  // the inequality audit of a corpus (a handful of boilerplate tokens
  // carrying most of the mass is the signature of template/log spam,
  // and the Gini is the one-number summary mixture planners track
  // next to q342's octave decay). NO global rank sort: tokens are
  // grouped by FREQUENCY VALUE (the bounded domain), ranks inside a
  // frequency group are consecutive, so Σ rank·f folds to
  // f·(ct·below + ct(ct+1)/2) per group and the cumulative axis is a
  // triangular join on the frequency-group table (the q124 idiom).
  // Gini = (2·Σ rank·f − (n+1)·T) / (n·T) exactly, in ppm; the Lorenz
  // curve is pinned at the 10 deciles by interpolating inside the
  // frequency group containing each decile boundary.
  // -------------------------------------------------------------------
  def q349_lorenz_gini(spark: SparkSession, dir: String): DataFrame = {
    val fg = Tables.documents(spark, dir)
      .filter(length(trim(col("text"))) > 0)
      .select(explode(TextAnalysis.tokens(col("text"))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("f"))
      .groupBy(col("f")).agg(count(lit(1)).as("ct"))
      .withColumn("mass", col("f") * col("ct"))
      .localCheckpoint(eager = true) // bounded (distinct frequencies);
    // feeds the triangular join twice + totals
    val cum = fg.as("a")
      .join(fg.as("b"), col("b.f") < col("a.f"), "left_outer")
      .groupBy(col("a.f").as("f"), col("a.ct").as("ct"),
        col("a.mass").as("mass"))
      .agg(coalesce(sum(col("b.ct")), lit(0L)).as("below_ct"),
        coalesce(sum(col("b.mass")), lit(0L)).as("below_mass"))
    val tot = fg.agg(sum(col("ct")).as("n"), sum(col("mass")).as("t"))
    val gini = cum
      .select(sum(expr(
        "cast(f as decimal(38,0)) * (ct * below_ct + ct * (ct + 1)" +
          " div 2)")).as("s"))
      .crossJoin(broadcast(tot))
      .select(expr(
        """cast((2 * s - (cast(n as decimal(38,0)) + 1) * t) * 1000000
          | div (cast(n as decimal(38,0)) * t) as bigint)"""
          .stripMargin).as("gini_ppm"))
    spark.range(1, 11).select(col("id").as("decile"))
      .crossJoin(broadcast(tot))
      .withColumn("k", expr("decile * n div 10"))
      .join(cum,
        col("below_ct") < col("k") &&
          col("k") <= col("below_ct") + col("ct"), "left_outer")
      .withColumn("mass_k",
        coalesce(col("below_mass") +
          (col("k") - col("below_ct")) * col("f"), lit(0L)))
      .crossJoin(broadcast(gini))
      .select(col("decile"), col("k").as("k_tokens"),
        expr("cast(cast(mass_k as decimal(38,0)) * 1000000 div t" +
          " as bigint)").as("cum_mass_ppm"),
        col("gini_ppm"))
      .orderBy(col("decile"))
  }

  val q349_sql: String =
    """WITH tf AS (
      |  SELECT tok, COUNT(*) AS f FROM (
      |    SELECT unnest(regexp_split_to_array(trim(text), '\s+'))
      |      AS tok
      |    FROM documents WHERE trim(text) <> '')
      |  GROUP BY 1),
      |fg AS (
      |  SELECT f, COUNT(*) AS ct, f * COUNT(*) AS mass
      |  FROM tf GROUP BY 1),
      |cum AS (
      |  SELECT a.f, a.ct, a.mass,
      |    COALESCE(SUM(b.ct), 0) AS below_ct,
      |    COALESCE(SUM(b.mass), 0) AS below_mass
      |  FROM fg a LEFT JOIN fg b ON b.f < a.f
      |  GROUP BY 1, 2, 3),
      |tot AS (SELECT SUM(ct) AS n, SUM(mass) AS t FROM fg),
      |gini AS (
      |  SELECT CAST((2 * s - (CAST(n AS HUGEINT) + 1) * t) * 1000000
      |    // (CAST(n AS HUGEINT) * t) AS BIGINT) AS gini_ppm
      |  FROM (SELECT SUM(CAST(f AS HUGEINT) *
      |          (ct * below_ct + ct * (ct + 1) // 2)) AS s
      |        FROM cum) CROSS JOIN tot),
      |dec AS (
      |  SELECT CAST(d AS BIGINT) AS decile, d * n // 10 AS k, n, t
      |  FROM generate_series(1, 10) g(d) CROSS JOIN tot)
      |SELECT decile, CAST(k AS BIGINT) AS k_tokens,
      |  CAST(CAST(COALESCE(below_mass + (k - below_ct) * f, 0)
      |    AS HUGEINT) * 1000000 // t AS BIGINT) AS cum_mass_ppm,
      |  gini_ppm
      |FROM dec
      |LEFT JOIN cum ON below_ct < k AND k <= below_ct + ct
      |CROSS JOIN gini
      |ORDER BY decile""".stripMargin

  // -------------------------------------------------------------------
  // q350 — token burstiness by Fano factor (index of dispersion;
  // Church & Gale 1995's burstiness observation): for each term, the
  // ratio of the variance to the mean of its PER-DOCUMENT count —
  // including the zero documents — distinguishes content words
  // (bursty, F ≫ 1: absent from most docs, repeated where present)
  // from function words (F ≈ 1, Poisson-like). With population
  // variance over all N docs the ratio folds to the exact integer
  // form F·1000 = (N·Σc² − (Σc)²)·1000 div (N·Σc) — zeros contribute
  // nothing to either sum, so the corpus work is ONE (doc, tok) hash
  // agg plus a vocabulary-sized rollup; no zero-filled grid is ever
  // materialized. Top 20 by F among terms in ≥ 5 docs.
  // -------------------------------------------------------------------
  private val FanoMinDf = 5
  private val FanoTopK = 20

  def q350_fano_burstiness(spark: SparkSession, dir: String)
      : DataFrame = {
    val docs = Tables.documents(spark, dir)
      .filter(length(trim(col("text"))) > 0)
    val nd = docs.agg(count(lit(1)).as("n_docs"))
    docs
      .select(col("doc_id"),
        explode(TextAnalysis.tokens(col("text"))).as("tok"))
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("tok"))
      .agg(count(lit(1)).as("df"), sum(col("c")).as("tf"),
        sum((col("c") * col("c")).cast("decimal(38,0)")).as("s2"))
      .filter(col("df") >= FanoMinDf)
      .crossJoin(broadcast(nd))
      .withColumn("fano_x1000", expr(
        """cast((cast(n_docs as decimal(38,0)) * s2
          | - cast(tf as decimal(38,0)) * tf) * 1000
          | div (cast(n_docs as decimal(38,0)) * tf) as bigint)"""
          .stripMargin))
      .select(col("tok"), col("df"), col("tf"), col("n_docs"),
        col("fano_x1000"))
      .orderBy(col("fano_x1000").desc, col("tok")).limit(FanoTopK)
  }

  val q350_sql: String =
    s"""WITH d AS (
       |  SELECT doc_id,
       |    regexp_split_to_array(trim(text), '\\s+') AS tk
       |  FROM documents WHERE trim(text) <> ''),
       |nd AS (SELECT COUNT(*) AS n_docs FROM d),
       |dt AS (
       |  SELECT doc_id, tok, COUNT(*) AS c
       |  FROM (SELECT doc_id, unnest(tk) AS tok FROM d)
       |  GROUP BY 1, 2),
       |v AS (
       |  SELECT tok, COUNT(*) AS df, SUM(c) AS tf,
       |    SUM(CAST(c AS HUGEINT) * c) AS s2
       |  FROM dt GROUP BY 1)
       |SELECT tok, CAST(df AS BIGINT) AS df, CAST(tf AS BIGINT) AS tf,
       |  CAST(n_docs AS BIGINT) AS n_docs,
       |  CAST((CAST(n_docs AS HUGEINT) * s2
       |    - CAST(tf AS HUGEINT) * tf) * 1000
       |    // (CAST(n_docs AS HUGEINT) * tf) AS BIGINT) AS fano_x1000
       |FROM v CROSS JOIN nd
       |WHERE df >= $FanoMinDf
       |ORDER BY fano_x1000 DESC, tok LIMIT $FanoTopK""".stripMargin

  val registry: graft.SparkEntry.Registry = Seq(
    ("q349_lorenz_gini", q349_lorenz_gini _, q349_sql),
    ("q350_fano_burstiness", q350_fano_burstiness _, q350_sql),
    ("q313_wht_spectrum", q313_wht_spectrum _, q313_sql),
    ("q310_rake_keywords", q310_rake_keywords _, q310_sql),
    ("q311_textrank", q311_textrank _, q311_sql),
    ("q312_cdc_chunking", q312_cdc_chunking _, q312_sql),
    ("q126_leakfree_split", q126_leakfree_split _, q126_sql),
    ("q130_shard_manifest", q130_shard_manifest _, q130_sql),
    ("q109_chunk_dedup", q109_chunk_dedup _, q109_sql),
    ("q105_substring_dedup", q105_substring_dedup _, q105_sql),
    ("q83_exact_quota", q83_exact_quota _, q83_sql),
    ("q82_crosslingual_dups", q82_crosslingual_dups _, q82_sql),
    ("q81_repetitiveness", q81_repetitiveness _, q81_sql),
    ("q80_pii_redact", q80_pii_redact _, q80_sql),
    ("q79_decontamination", q79_decontamination _, q79_sql),
    ("q78_context_packing", q78_context_packing _, q78_sql),
    ("q75_fuzzy_join", q75_fuzzy_join _, q75_sql),
    ("q68_ann_recall", q68_ann_recall _, q68_sql),
    ("q67_cluster_keepers", q67_cluster_keepers _, q67_sql),
    ("q66_bm25", q66_bm25 _, q66_sql),
    ("q177_boolean_retrieval", q177_boolean_retrieval _, q177_sql),
    ("q181_phrase_retrieval", q181_phrase_retrieval _, q181_sql),
    ("q189_rm3_expansion", q189_rm3_expansion _, q189_sql),
    ("q194_posting_compression", q194_posting_compression _, q194_sql),
    ("q200_retrieval_ndcg", q200_retrieval_ndcg _, q200_sql),
    ("q57_stratified_sample", q57_stratified_sample _, q57_sql),
    ("q58_split_assign", q58_split_assign _, q58_sql),
    ("q59_curation_funnel", q59_curation_funnel _, q59_sql),
    ("q60_tfidf_terms", q60_tfidf_terms _, q60_sql),
    ("q61_dup_clusters", q61_dup_clusters _, q61_sql),
    ("q62_word_chunks", q62_word_chunks _, q62_sql),
    ("q141_sliding_chunks", q141_sliding_chunks _, q141_sql),
    ("q147_bpe_merge", q147_bpe_merge _, q147_sql),
    ("q157_score_calibration", q157_score_calibration _, q157_sql),
    ("q63_event_pivot", q63_event_pivot _, q63_sql),
    ("q64_posting_lists", q64_posting_lists _, q64_sql),
    ("q65_media_frames", q65_media_frames _, q65_sql),
    ("q161_image_decode", q161_image_decode _, q161_sql),
    ("q265_image_resize", q265_image_resize _, q265_sql),
    ("q164_audio_decode", q164_audio_decode _, q164_sql),
    ("q294_mulaw_roundtrip", q294_mulaw_roundtrip _, q294_sql),
    ("q238_audio_features", q238_audio_features _, q238_sql),
    ("q255_avi_frames", q255_avi_frames _, q255_sql),
    ("q250_curation_v2", q250_curation_v2 _, q250_sql))
}
