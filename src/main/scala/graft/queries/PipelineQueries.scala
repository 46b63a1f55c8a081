package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.pipeline.{Dedup, Similarity, TextAnalysis}

/** Training-data pipeline queries over `documents` / `embeddings` —
  * dedup family, text analysis, similarity search. Every query here has
  * DuckDB SQL computing the identical result (same hash family:
  * md5/sha256; same rounding; same tie-breaks) — including the
  * approximate ANN (q29), whose WTA signature hashes by raw element
  * comparison and is therefore engine-exact.
  */
object PipelineQueries {

  private val stopwordsSqlList: String =
    TextAnalysis.defaultStopwords.map(w => s"'$w'").mkString(",")

  // -------------------------------------------------------------------
  // q20 — exact dedup groups (hash-groupBy; one shuffle at any scale)
  // -------------------------------------------------------------------
  def q20_dedup_exact(spark: SparkSession, dir: String): DataFrame =
    Dedup.exactGroups(Tables.documents(spark, dir), "doc_id", "text")
      .orderBy(col("content_hash"))

  val q20_sql: String =
    """SELECT md5(text) AS content_hash, COUNT(*) AS n_copies,
      |       MIN(doc_id) AS keeper_id
      |FROM documents
      |GROUP BY 1
      |ORDER BY content_hash""".stripMargin

  // -------------------------------------------------------------------
  // q21 — text stats: token count, punct ratio, stopword ratio
  // -------------------------------------------------------------------
  def q21_text_stats(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    d.select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"),
        round(TextAnalysis.punctRatio(col("text")), 6).as("punct_ratio"),
        round(TextAnalysis.stopwordRatio(col("text")), 6)
          .as("stopword_ratio"))
      .orderBy(col("doc_id"))
  }

  val q21_sql: String =
    s"""SELECT doc_id,
       |  CASE WHEN trim(text) = '' THEN 0
       |       ELSE len(regexp_split_to_array(trim(text), '\\s+')) END
       |    AS n_tokens,
       |  round(CASE WHEN length(text) = 0 THEN 0.0
       |    ELSE CAST(length(text) -
       |      length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g'))
       |      AS DOUBLE) / length(text) END, 6) AS punct_ratio,
       |  round(CASE WHEN trim(text) = '' THEN 0.0
       |    ELSE CAST(len(list_filter(
       |        regexp_split_to_array(trim(text), '\\s+'),
       |        x -> lower(x) IN ($stopwordsSqlList))) AS DOUBLE)
       |      / len(regexp_split_to_array(trim(text), '\\s+')) END, 6)
       |    AS stopword_ratio
       |FROM documents
       |ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------
  // q22 — normalized fingerprint uniqueness per language
  // -------------------------------------------------------------------
  def q22_fingerprint(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(col("lang"))
      .agg(countDistinct(TextAnalysis.fingerprint(col("text")))
        .as("n_unique"), count(lit(1)).as("n_docs"))
      .orderBy(col("lang"))

  val q22_sql: String =
    """SELECT lang,
      |  COUNT(DISTINCT sha256(trim(
      |    regexp_replace(lower(text), '\s+', ' ', 'g')))) AS n_unique,
      |  COUNT(*) AS n_docs
      |FROM documents
      |GROUP BY lang
      |ORDER BY lang""".stripMargin

  // -------------------------------------------------------------------
  // q23 — n-gram (word) Jaccard near-dup pairs via shingle equi-join
  // -------------------------------------------------------------------
  def q23_jaccard_pairs(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // adaptive: tiny shingle vocab → dictionary-encoded popcount path
    // (identical result); otherwise the general shingle equi-join.
    // One materialized shingle pass serves the vocab probe AND the
    // chosen path (jaccardPairsAdaptive).
    Dedup.jaccardPairsAdaptive(docs, "doc_id", "text", 1, 0.8)
      .withColumn("jaccard", round(col("jaccard"), 6))
      .orderBy(col("id_a"), col("id_b"))
  }

  val q23_sql: String =
    s"""WITH ${OracleSql.toks},
       |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM toks GROUP BY doc_id),
       |inter AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |         COUNT(*) AS intersection
       |  FROM toks a JOIN toks b
       |    ON a.tok = b.tok AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT id_a, id_b, intersection, sa.sz AS size_a, sb.sz AS size_b,
       |  round(CAST(intersection AS DOUBLE) /
       |        (sa.sz + sb.sz - intersection), 6) AS jaccard
       |FROM inter
       |JOIN sizes sa ON id_a = sa.doc_id
       |JOIN sizes sb ON id_b = sb.doc_id
       |WHERE CAST(intersection AS DOUBLE) /
       |      (sa.sz + sb.sz - intersection) >= 0.8
       |ORDER BY id_a, id_b""".stripMargin

  // -------------------------------------------------------------------
  // q24 — MinHash + LSH candidate pairs (8 hashes, 4 bands × 2 rows)
  // -------------------------------------------------------------------
  def q24_minhash_lsh(spark: SparkSession, dir: String): DataFrame =
    Dedup.minHashCandidates(Tables.documents(spark, dir), "doc_id", "text",
        numHashes = 8, rowsPerBand = 2)
      .orderBy(col("id_a"), col("id_b"))

  val q24_sql: String =
    s"""WITH ${OracleSql.toks},
       |${OracleSql.minHashBands("toks", 2)},
       |pairs AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |         COUNT(*) AS shared_bands
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.band_key = b.band_key
       |   AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT id_a, id_b, shared_bands FROM pairs
       |ORDER BY id_a, id_b""".stripMargin

  // -------------------------------------------------------------------
  // q122 — edit-similarity-verified near-dups: MinHash LSH candidates
  // over 5-gram shingles (8 hashes, 4 rows/band) verified by
  // Levenshtein on the 160-char prefix, keep sim ≥ 0.5 — the NearDup
  // candidate→verify shape (Lee et al. 2022: 5-gram MinHash + edit
  // similarity) with an exactly-portable integer DP. 5-grams, not
  // unigrams: the token SETS of this corpus are near-identical, so
  // unigram banding degenerates to all-pairs. See Dedup.editSimPairs.
  // -------------------------------------------------------------------
  def q122_editsim_dedup(spark: SparkSession, dir: String): DataFrame =
    Dedup.editSimPairs(Tables.documents(spark, dir), "doc_id", "text",
      numHashes = 8, rowsPerBand = 4, prefixLen = 160,
      minSimPpm = 500000L, shingleN = 5)

  val q122_sql: String =
    s"""WITH tk5 AS (
       |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
       |  FROM documents WHERE trim(text) <> ''),
       |sh5 AS (
       |  SELECT DISTINCT doc_id,
       |    unnest([array_to_string(t[i:i+4], ' ')
       |            FOR i IN generate_series(1, len(t) - 4)]) AS tok
       |  FROM tk5 WHERE len(t) >= 5),
       |${OracleSql.minHashBands("sh5", 4)},
       |pairs AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.band_key = b.band_key
       |   AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |t AS (SELECT doc_id, substr(trim(text), 1, 160) AS tp
       |      FROM documents),
       |v AS (
       |  SELECT id_a, id_b, levenshtein(ta.tp, tb.tp) AS lev,
       |         GREATEST(len(ta.tp), len(tb.tp)) AS mx
       |  FROM pairs JOIN t ta ON pairs.id_a = ta.doc_id
       |             JOIN t tb ON pairs.id_b = tb.doc_id
       |  WHERE GREATEST(len(ta.tp), len(tb.tp)) > 0)
       |SELECT id_a, id_b, CAST(lev AS BIGINT) AS lev,
       |  CAST((mx - lev) * 1000000 // mx AS BIGINT) AS sim_ppm
       |FROM v WHERE (mx - lev) * 1000000 // mx >= 500000
       |ORDER BY id_a, id_b""".stripMargin

  // -------------------------------------------------------------------
  // q128 — winnowing fingerprint near-dup pairs (Schleimer et al. 2003 /
  // MOSS): per-window minimum k-gram hash selection (deterministic
  // ~2/(w+1) position sample, guaranteed detection of shared runs
  // ≥ w+k−1 tokens), then a fingerprint equi-join counts shared
  // selected values per doc pair. See Dedup.winnowRows/winnowPairs.
  // -------------------------------------------------------------------
  def q128_winnow_pairs(spark: SparkSession, dir: String): DataFrame =
    Dedup.winnowPairs(Tables.documents(spark, dir), "doc_id", "text",
      k = 3, w = 4, minShared = 2L, maxDf = 1000L)

  val q128_sql: String =
    """WITH t AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk
      |  FROM documents
      |  WHERE len(regexp_split_to_array(trim(text), '\s+')) >= 6),
      |kg AS (
      |  SELECT doc_id,
      |    [CAST(('0x' || substr(md5(array_to_string(tk[i:i+2], ' ')),
      |       1, 15)) AS BIGINT)
      |     FOR i IN generate_series(1, len(tk) - 2)] AS h
      |  FROM t),
      |sel AS (
      |  SELECT DISTINCT doc_id,
      |    unnest(list_distinct([list_min(h[i:i+3])
      |      FOR i IN generate_series(1, len(h) - 3)])) AS fp
      |  FROM kg),
      |keep AS (SELECT fp FROM sel GROUP BY fp HAVING COUNT(*) <= 1000),
      |s2 AS (SELECT sel.doc_id, sel.fp FROM sel JOIN keep USING (fp))
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |  CAST(COUNT(*) AS BIGINT) AS shared_fps
      |FROM s2 a JOIN s2 b ON a.fp = b.fp AND a.doc_id < b.doc_id
      |GROUP BY 1, 2 HAVING COUNT(*) >= 2
      |ORDER BY id_a, id_b""".stripMargin

  // -------------------------------------------------------------------
  // q129 — split-document continuation pairs: tail-of-A = head-of-B on
  // a 4-token boundary fingerprint (pagination/chunked-scrape repair
  // candidates). One equi-join on the md5 boundary fp, df-capped both
  // sides. See Dedup.continuationPairs.
  // -------------------------------------------------------------------
  def q129_continuations(spark: SparkSession, dir: String): DataFrame =
    Dedup.continuationPairs(Tables.documents(spark, dir), "doc_id",
      "text", m = 4, maxDf = 100L)

  val q129_sql: String =
    """WITH t AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk
      |  FROM documents
      |  WHERE len(regexp_split_to_array(trim(text), '\s+')) >= 8),
      |tl AS (
      |  SELECT doc_id,
      |    md5(array_to_string(tk[len(tk)-3:len(tk)], ' ')) AS fp
      |  FROM t),
      |hd AS (
      |  SELECT doc_id, md5(array_to_string(tk[1:4], ' ')) AS fp
      |  FROM t),
      |tlc AS (SELECT tl.* FROM tl JOIN (
      |  SELECT fp FROM tl GROUP BY fp HAVING COUNT(*) <= 100) USING (fp)),
      |hdc AS (SELECT hd.* FROM hd JOIN (
      |  SELECT fp FROM hd GROUP BY fp HAVING COUNT(*) <= 100) USING (fp))
      |SELECT a.doc_id AS prev_id, b.doc_id AS next_id,
      |  a.fp AS boundary_fp
      |FROM tlc a JOIN hdc b ON a.fp = b.fp AND a.doc_id <> b.doc_id
      |ORDER BY prev_id, next_id""".stripMargin

  // -------------------------------------------------------------------
  // q131 — product quantization + ADC top-k (Jégou et al. 2011): global
  // int8 quantization, 8 subspaces, training-free subvector codebook
  // (every 16th vector), integer-L2 argmin encoding, asymmetric-
  // distance scoring through the code LUT. Queries = every 25th
  // vector, k = 5. All-integer ⇒ bit-portable. See Similarity.pqTopK.
  // -------------------------------------------------------------------
  def q131_pq_adc(spark: SparkSession, dir: String): DataFrame =
    Similarity.pqTopK(Tables.embeddings(spark, dir), "vec_id",
      "embedding", k = 5, centroidMod = 16, queryMod = 25, numSub = 8)

  private val pqD2: String = (1 to 8)
    .map(i => s"(a.sq[$i] - c.cq[$i]) * (a.sq[$i] - c.cq[$i])")
    .mkString(" + ")

  val q131_sql: String =
    s"""WITH v AS (
       |  SELECT vec_id AS vid, CAST(embedding AS DOUBLE[]) AS v
       |  FROM embeddings),
       |g AS (SELECT max(list_max(list_transform(v, x -> abs(x)))) AS gm
       |      FROM v),
       |q AS (
       |  SELECT vid, CASE WHEN gm > 0 THEN
       |      list_transform(v, x ->
       |        CAST(floor(x / gm * 127.0 + 0.5) AS BIGINT))
       |    ELSE list_transform(v, x -> CAST(0 AS BIGINT)) END AS q
       |  FROM v CROSS JOIN g),
       |subs AS (
       |  SELECT vid, CAST(t.s AS BIGINT) AS s,
       |    q[t.s * (len(q) // 8) + 1 : (t.s + 1) * (len(q) // 8)] AS sq
       |  FROM q CROSS JOIN generate_series(0, 7) t(s)),
       |cents AS (
       |  SELECT vid AS cid, s, sq AS cq FROM subs WHERE vid % 16 = 0),
       |enc AS (
       |  SELECT vid, s, cid AS code FROM (
       |    SELECT a.vid, a.s, c.cid,
       |      ROW_NUMBER() OVER (PARTITION BY a.vid, a.s
       |        ORDER BY $pqD2, c.cid) AS rn
       |    FROM subs a JOIN cents c ON a.s = c.s)
       |  WHERE rn = 1),
       |lut AS (
       |  SELECT a.vid AS query_id, a.s, c.cid AS code,
       |    CAST($pqD2 AS BIGINT) AS d2
       |  FROM subs a JOIN cents c ON a.s = c.s WHERE a.vid % 25 = 0),
       |adc AS (
       |  SELECT query_id, vid, SUM(d2) AS adc_d2
       |  FROM enc JOIN lut USING (s, code)
       |  WHERE vid <> query_id GROUP BY 1, 2)
       |SELECT query_id, vid AS neighbor_id, CAST(adc_d2 AS BIGINT)
       |    AS adc_d2, rank
       |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |        ORDER BY adc_d2, vid) AS rank FROM adc)
       |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  // -------------------------------------------------------------------
  // q258 — IVF-PQ / IVFADC (Jégou et al. 2011 §IV, the FAISS
  // billion-scale layout): coarse inverted-file quantizer prunes to
  // nprobe=4 cells per query; within probed cells, vectors compare
  // through 8-subspace PQ codes of their RESIDUAL (vector minus cell
  // centroid) via the asymmetric-distance LUT. Both codebooks are
  // id-capped deterministic samples (coarse ≤251 cells, PQ ≤251
  // entries at ANY corpus size — fixed-K discipline), so LUT volume
  // per query and driver-collected state are O(1) in n. All-integer.
  // See Similarity.ivfPqTopK.
  // -------------------------------------------------------------------
  def q258_ivfpq_adc(spark: SparkSession, dir: String): DataFrame =
    Similarity.ivfPqTopK(Tables.embeddings(spark, dir), "vec_id",
      "embedding", k = 5, coarseMod = 32, coarseCap = 8000L,
      pqMod = 16, pqCap = 4000L, queryMod = 25, nprobe = 4, numSub = 8)

  private def sqD2(a: String, b: String): String = (1 to 8)
    .map(i => s"($a[$i] - $b[$i]) * ($a[$i] - $b[$i])")
    .mkString(" + ")

  private val coarseD2: String =
    """list_sum([ (a.q[i] - c.cq[i]) * (a.q[i] - c.cq[i])
      |      FOR i IN generate_series(1, len(a.q)) ])""".stripMargin

  val q258_sql: String =
    s"""WITH v AS (
       |  SELECT vec_id AS vid, CAST(embedding AS DOUBLE[]) AS v
       |  FROM embeddings),
       |g AS (SELECT max(list_max(list_transform(v, x -> abs(x)))) AS gm
       |      FROM v),
       |q AS (
       |  SELECT vid, CASE WHEN gm > 0 THEN
       |      list_transform(v, x ->
       |        CAST(floor(x / gm * 127.0 + 0.5) AS BIGINT))
       |    ELSE list_transform(v, x -> CAST(0 AS BIGINT)) END AS q
       |  FROM v CROSS JOIN g),
       |coarse AS (
       |  SELECT vid AS ccid, q AS cq FROM q
       |  WHERE vid % 32 = 0 AND vid <= 8000),
       |assign AS (
       |  SELECT vid, ccid, q, cq FROM (
       |    SELECT a.vid, c.ccid, a.q, c.cq,
       |      ROW_NUMBER() OVER (PARTITION BY a.vid
       |        ORDER BY $coarseD2, c.ccid) AS rn
       |    FROM q a CROSS JOIN coarse c)
       |  WHERE rn = 1),
       |res AS (
       |  SELECT vid, ccid,
       |    [q[i] - cq[i] FOR i IN generate_series(1, len(q))] AS r
       |  FROM assign),
       |subs AS (
       |  SELECT vid, ccid, CAST(t.s AS BIGINT) AS s,
       |    r[t.s * (len(r) // 8) + 1 : (t.s + 1) * (len(r) // 8)] AS sq
       |  FROM res CROSS JOIN generate_series(0, 7) t(s)),
       |book AS (
       |  SELECT vid AS pid, s, sq AS bq FROM subs
       |  WHERE vid % 16 = 0 AND vid <= 4000),
       |enc AS (
       |  SELECT vid, ccid, s, pid AS code FROM (
       |    SELECT a.vid, a.ccid, a.s, b.pid,
       |      ROW_NUMBER() OVER (PARTITION BY a.vid, a.s
       |        ORDER BY ${sqD2("a.sq", "b.bq")}, b.pid) AS rn
       |    FROM subs a JOIN book b USING (s))
       |  WHERE rn = 1),
       |probes AS (
       |  SELECT query_id, ccid, q, cq FROM (
       |    SELECT a.vid AS query_id, c.ccid, a.q, c.cq,
       |      ROW_NUMBER() OVER (PARTITION BY a.vid
       |        ORDER BY $coarseD2, c.ccid) AS rn
       |    FROM q a CROSS JOIN coarse c WHERE a.vid % 25 = 0)
       |  WHERE rn <= 4),
       |qres AS (
       |  SELECT query_id, ccid,
       |    [q[i] - cq[i] FOR i IN generate_series(1, len(q))] AS r
       |  FROM probes),
       |qsubs AS (
       |  SELECT query_id, ccid, CAST(t.s AS BIGINT) AS s,
       |    r[t.s * (len(r) // 8) + 1 : (t.s + 1) * (len(r) // 8)] AS sq
       |  FROM qres CROSS JOIN generate_series(0, 7) t(s)),
       |lut AS (
       |  SELECT a.query_id, a.ccid, a.s, b.pid AS code,
       |    CAST(${sqD2("a.sq", "b.bq")} AS BIGINT) AS d2
       |  FROM qsubs a JOIN book b USING (s)),
       |adc AS (
       |  SELECT l.query_id, e.vid, SUM(l.d2) AS adc_d2
       |  FROM enc e JOIN lut l
       |    ON l.ccid = e.ccid AND l.s = e.s AND l.code = e.code
       |  WHERE e.vid <> l.query_id GROUP BY 1, 2)
       |SELECT query_id, vid AS neighbor_id,
       |  CAST(adc_d2 AS BIGINT) AS adc_d2, rank
       |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |        ORDER BY adc_d2, vid) AS rank FROM adc)
       |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  // -------------------------------------------------------------------
  // q262 — suffix-array prefix doubling (Manber & Myers 1990) with the
  // duplicated-prefix profile — the exact-substring dedup measurement
  // of Lee et al. 2022: per level k ∈ {1…256}, how many token
  // positions start a k-token run appearing elsewhere in the corpus,
  // how many distinct duplicated runs exist, and the largest duplicate
  // group with its first occurrence. Eight rounds of distributed
  // dense-rank (range-partition + local sort + zipWithIndex — a plain
  // shuffle-sort per round, never a single-task global window);
  // profile outputs depend only on rank GROUP PARTITIONS, never rank
  // values, so engine collation differences cannot leak into the
  // result. See Dedup.suffixDoublingProfile.
  // -------------------------------------------------------------------
  def q262_suffix_doubling(spark: SparkSession, dir: String): DataFrame =
    Dedup.suffixDoublingProfile(Tables.documents(spark, dir), "doc_id",
      "text", doublings = 8)

  val q262_sql: String = {
    val rounds = (0 until 8).map { i =>
      val sh = 1L << i
      val prev = 1L << i
      val cur = prev * 2
      s"""p$cur AS MATERIALIZED (
         |  SELECT a.doc_id, a.p, a.r AS ra, COALESCE(b.r, 0) AS rb
         |  FROM r$prev a LEFT JOIN r$prev b
         |    ON b.doc_id = a.doc_id AND b.p = a.p + $sh),
         |r$cur AS MATERIALIZED (
         |  SELECT doc_id, p,
         |    CAST(DENSE_RANK() OVER (ORDER BY ra, rb) AS BIGINT) AS r
         |  FROM p$cur)""".stripMargin
    }.mkString(",\n")
    val lvls = (0 to 8).map(i => 1L << i)
    val stats = lvls.map { k =>
      s"""s$k AS (
         |  SELECT r, COUNT(*) AS sz,
         |    MIN({'doc_id': doc_id, 'p': p}) AS rep
         |  FROM r$k GROUP BY r),
         |t$k AS (
         |  SELECT sz AS top_group_size, rep['doc_id'] AS top_doc,
         |    rep['p'] AS top_p
         |  FROM s$k WHERE sz >= 2 ORDER BY sz DESC, rep LIMIT 1),
         |l$k AS (
         |  SELECT CAST($k AS BIGINT) AS k,
         |    CAST(COALESCE(SUM(CASE WHEN sz >= 2 THEN sz END), 0)
         |      AS BIGINT) AS dup_positions,
         |    CAST(COALESCE(SUM(CASE WHEN sz >= 2 THEN 1 END), 0)
         |      AS BIGINT) AS dup_groups,
         |    CAST(COUNT(*) AS BIGINT) AS distinct_groups
         |  FROM s$k)""".stripMargin
    }.mkString(",\n")
    val sel = lvls.map { k =>
      s"""SELECT l.k, l.dup_positions, l.dup_groups, l.distinct_groups,
         |  CAST(COALESCE(t.top_group_size, 0) AS BIGINT)
         |    AS top_group_size,
         |  CAST(COALESCE(t.top_doc, -1) AS BIGINT) AS top_doc,
         |  CAST(COALESCE(t.top_p, -1) AS BIGINT) AS top_p
         |FROM l$k l LEFT JOIN t$k t ON TRUE""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH tk AS (
       |  SELECT doc_id,
       |    CASE WHEN trim(text) = '' THEN []
       |         ELSE regexp_split_to_array(trim(text), '\\s+') END AS tks
       |  FROM documents),
       |toks AS (
       |  SELECT doc_id, CAST(u.s['p'] AS BIGINT) AS p, u.s['tok'] AS tok
       |  FROM tk, unnest([{'p': i - 1, 'tok': tks[i]}
       |    FOR i IN generate_series(1, len(tks))]) u(s)),
       |r1 AS MATERIALIZED (
       |  SELECT doc_id, p,
       |    CAST(DENSE_RANK() OVER (ORDER BY tok) AS BIGINT) AS r
       |  FROM toks),
       |$rounds,
       |$stats
       |$sel
       |ORDER BY k""".stripMargin
  }

  // -------------------------------------------------------------------
  // q263 — ratio-margin bitext-style mining (Artetxe & Schwenk 2019,
  // the CCMatrix criterion): mine aligned pairs across the id-parity
  // halves of the embedding corpus, scoring each candidate by cosine
  // over the mean of both endpoints' top-4 neighborhoods — hubness-
  // robust where raw cosine is not. Sims quantize to ppm at the scan;
  // margin is an integer ratio. See Similarity.marginMining.
  // -------------------------------------------------------------------
  def q263_margin_mining(spark: SparkSession, dir: String): DataFrame =
    Similarity.marginMining(Tables.embeddings(spark, dir), "vec_id",
      "embedding", k = 4, queryMod = 50, limit = 30)

  val q263_sql: String =
    """WITH v AS (
      |  SELECT vec_id AS vid, CAST(embedding AS DOUBLE[]) AS v
      |  FROM embeddings),
      |a AS (SELECT * FROM v WHERE vid % 2 = 0),
      |b AS (SELECT * FROM v WHERE vid % 2 = 1),
      |xs AS (SELECT * FROM a WHERE vid % 50 = 0),
      |tb AS (
      |  SELECT x, y, sim_ppm FROM (
      |    SELECT xs.vid AS x, b.vid AS y,
      |      CAST(floor(round(list_cosine_similarity(xs.v, b.v), 5)
      |        * 1000000 + 0.5) AS BIGINT) AS sim_ppm,
      |      ROW_NUMBER() OVER (PARTITION BY xs.vid ORDER BY
      |        round(list_cosine_similarity(xs.v, b.v), 5) DESC, b.vid)
      |        AS rn
      |    FROM xs, b)
      |  WHERE rn <= 4),
      |sx AS (SELECT x, CAST(SUM(sim_ppm) AS BIGINT) AS sum_x
      |       FROM tb GROUP BY 1),
      |ys AS (SELECT DISTINCT y FROM tb),
      |ta AS (
      |  SELECT qy, sim_ppm FROM (
      |    SELECT yb.vid AS qy, a.vid AS n,
      |      CAST(floor(round(list_cosine_similarity(yb.v, a.v), 5)
      |        * 1000000 + 0.5) AS BIGINT) AS sim_ppm,
      |      ROW_NUMBER() OVER (PARTITION BY yb.vid ORDER BY
      |        round(list_cosine_similarity(yb.v, a.v), 5) DESC, a.vid)
      |        AS rn
      |    FROM (SELECT b.* FROM b JOIN ys ON ys.y = b.vid) yb, a)
      |  WHERE rn <= 4),
      |sy AS (SELECT qy AS y, CAST(SUM(sim_ppm) AS BIGINT) AS sum_y
      |       FROM ta GROUP BY 1)
      |SELECT tb.x, tb.y, tb.sim_ppm,
      |  (tb.sim_ppm * 8000) // (sx.sum_x + sy.sum_y) AS margin_x1000
      |FROM tb JOIN sx USING (x) JOIN sy USING (y)
      |WHERE sx.sum_x + sy.sum_y > 0
      |ORDER BY margin_x1000 DESC, x, y LIMIT 30""".stripMargin

  // -------------------------------------------------------------------
  // q132 — Matryoshka progressive re-rank: coarse cosine on the first
  // 16 of 64 dims → shortlist 20 → exact full-dim re-rank to top-5
  // (Kusupati et al. 2022 precision layering). Same query set as q25.
  // See Similarity.prefixRerankTopK.
  // -------------------------------------------------------------------
  def q132_prefix_rerank(spark: SparkSession, dir: String): DataFrame =
    Similarity.prefixRerankTopK(Tables.embeddings(spark, dir), "vec_id",
      "embedding", prefixDims = 16, m = 20, k = 5, queryMod = 50)

  val q132_sql: String =
    """WITH q AS (
      |  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
      |  FROM embeddings WHERE vec_id % 50 = 0),
      |c AS (
      |  SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
      |  FROM embeddings),
      |coarse AS (
      |  SELECT query_id, neighbor_id, qv, cv,
      |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY
      |      round(list_cosine_similarity(qv[1:16], cv[1:16]), 5) DESC,
      |      neighbor_id) AS crank
      |  FROM q, c WHERE neighbor_id <> query_id),
      |fine AS (
      |  SELECT query_id, neighbor_id,
      |    round(list_cosine_similarity(qv, cv), 5) AS sim
      |  FROM coarse WHERE crank <= 20)
      |SELECT query_id, neighbor_id, sim, rank FROM (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
      |    ORDER BY sim DESC, neighbor_id) AS rank FROM fine)
      |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  // -------------------------------------------------------------------
  // q25 — brute-force cosine top-k ANN baseline
  // -------------------------------------------------------------------
  def q25_cosine_topk(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    Similarity.bruteForceTopK(e.filter(col("vec_id") % 50 === 0), e,
        "vec_id", "embedding", k = 3, roundTo = 5)
      .withColumnRenamed("rank", "rk")
      .orderBy(col("query_id"), col("rk"))
  }

  val q25_sql: String =
    """WITH q AS (
      |  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
      |  FROM embeddings WHERE vec_id % 50 = 0),
      |c AS (
      |  SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
      |  FROM embeddings),
      |s AS (
      |  SELECT query_id, neighbor_id,
      |         round(list_cosine_similarity(qv, cv), 5) AS sim
      |  FROM q, c WHERE neighbor_id <> query_id),
      |r AS (
      |  SELECT query_id, neighbor_id, sim,
      |         ROW_NUMBER() OVER (PARTITION BY query_id
      |                            ORDER BY sim DESC, neighbor_id) AS rk
      |  FROM s)
      |SELECT query_id, neighbor_id, sim, rk FROM r WHERE rk <= 3
      |ORDER BY query_id, rk""".stripMargin

  // -------------------------------------------------------------------
  // q26 — SimHash near-dup candidates (32-bit sig, 8-bit bands, ham ≤ 3)
  // -------------------------------------------------------------------
  def q26_simhash(spark: SparkSession, dir: String): DataFrame =
    Dedup.simHashCandidates(Tables.documents(spark, dir), "doc_id", "text",
        bits = 32, maxHamming = 3)
      .orderBy(col("id_a"), col("id_b"))

  val q26_sql: String =
    s"""WITH ${OracleSql.toks},
       |th AS (
       |  SELECT doc_id,
       |         CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS h
       |  FROM toks),
       |bitbal AS (
       |  SELECT doc_id, b.i AS bit,
       |         SUM(CASE WHEN (h >> b.i) & 1 = 1 THEN 1 ELSE -1 END)
       |           AS balance
       |  FROM th CROSS JOIN generate_series(0, 31) AS b(i)
       |  GROUP BY doc_id, b.i),
       |sigs AS (
       |  SELECT doc_id,
       |         CAST(SUM(CASE WHEN balance > 0
       |           THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS BIGINT)
       |           AS simhash
       |  FROM bitbal GROUP BY doc_id),
       |banded AS (
       |  SELECT doc_id, simhash, g.i AS band,
       |         (simhash >> (g.i * 8)) & 255 AS band_val
       |  FROM sigs CROSS JOIN generate_series(0, 3) AS g(i)),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       |         a.simhash AS sig_a, b.simhash AS sig_b
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.band_val = b.band_val
       |   AND a.doc_id < b.doc_id)
       |SELECT id_a, id_b,
       |       CAST(bit_count(xor(sig_a, sig_b)) AS INT) AS hamming
       |FROM cand
       |WHERE bit_count(xor(sig_a, sig_b)) <= 3
       |ORDER BY id_a, id_b""".stripMargin

  // -------------------------------------------------------------------
  // q27 — language-ID heuristic vs stored label. The heuristic is
  // deterministic (script regex + stopword hit counts), so it oracles
  // exactly; hit counts are materialized once per row (see langIdDf).
  // -------------------------------------------------------------------
  def q27_langid(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.langIdDf(Tables.documents(spark, dir), "text")
      .groupBy(col("lang"), col("predicted"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("lang"), col("predicted"))

  // Language-ID fragments shared with langIdDf (TextAnalysis.langHitsSql
  // / langIdCaseSql — defined next to the Scala formulas so the two
  // sides cannot drift).
  val q27_sql: String =
    s"""WITH t AS (
       |  SELECT lang, text,
       |    regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
       |  FROM documents),
       |h AS (
       |  SELECT lang, text,
       |    ${TextAnalysis.langHitsSql()}
       |  FROM t),
       |p AS (
       |  SELECT lang,
       |    ${TextAnalysis.langIdCaseSql()} AS predicted
       |  FROM h)
       |SELECT lang, predicted, COUNT(*) AS n_docs FROM p
       |GROUP BY lang, predicted
       |ORDER BY lang, predicted""".stripMargin

  // -------------------------------------------------------------------
  // q28 — composite quality score
  // -------------------------------------------------------------------
  def q28_quality(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        TextAnalysis.qualityScorePpm("text", "n_chars").as("quality_ppm"))
      .orderBy(col("doc_id"))

  // Integer-exact mirror of qualityScorePpm: floor division everywhere
  // (shared fragment — see TextAnalysis.qualityScorePpmSql).
  val q28_sql: String =
    s"""SELECT doc_id,
       |${TextAnalysis.qualityScorePpmSql("text", "n_chars")}
       | AS quality_ppm
       |FROM documents
       |ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------
  // q32 — substring θ-join with per-token cap (SURVEY J8: the reference's
  // doc→symbol MENTIONS linking, LIMIT 5 per token). Token side is tiny →
  // broadcast nested-loop; cap = row_number window.
  // -------------------------------------------------------------------
  def q32_substring_join(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // token side: each document's leading word (~vocab-sized, tiny)
    val tokens = docs
      .filter(length(trim(col("text"))) > 0)
      .select(regexp_extract(trim(col("text")), "^\\S+", 0).as("token"))
      .distinct()
    val matched = docs.join(broadcast(tokens),
      col("text").contains(col("token")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("token")).orderBy(col("doc_id"))
    matched.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select(col("token"), col("doc_id"), col("rn"))
      .orderBy(col("token"), col("rn"))
  }

  val q32_sql: String =
    """WITH tokens AS (
      |  SELECT DISTINCT regexp_extract(trim(text), '^\S+') AS token
      |  FROM documents WHERE length(trim(text)) > 0),
      |m AS (
      |  SELECT token, doc_id,
      |    ROW_NUMBER() OVER (PARTITION BY token ORDER BY doc_id) AS rn
      |  FROM documents JOIN tokens
      |    ON contains(text, token))
      |SELECT token, doc_id, rn FROM m WHERE rn <= 5
      |ORDER BY token, rn""".stripMargin

  // -------------------------------------------------------------------
  // q33 — exact-dedup survivors (keep-one policy applied back to rows)
  // -------------------------------------------------------------------
  def q33_dedup_keep(spark: SparkSession, dir: String): DataFrame =
    Dedup.exactDedup(Tables.documents(spark, dir), "doc_id", "text")
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy(col("doc_id"))

  val q33_sql: String =
    """SELECT doc_id, lang, n_chars FROM documents
      |WHERE doc_id IN (
      |  SELECT MIN(doc_id) FROM documents GROUP BY md5(text))
      |ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------
  // q29 — LSH-bucketed ANN. Candidates come from WTA comparison-bit
  // signatures (deterministic raw element comparisons — no float
  // arithmetic in the hash), so the whole approximate pipeline is
  // exactly reproducible by the DuckDB oracle (a random-hyperplane
  // projection's float sum order is not).
  // -------------------------------------------------------------------
  def q29_ann_lsh(spark: SparkSession, dir: String): DataFrame =
    Similarity.wtaTopK(Tables.embeddings(spark, dir), "vec_id",
        "embedding", k = 3, planes = 16, bandBits = 8,
        dims = ExtendedQueries.EmbDim)
      .withColumnRenamed("rank", "rk")
      .orderBy(col("query_id"), col("rk"))

  val q29_sql: String = {
    val bits = ExtendedQueries.wtaSigSql(16, "embedding")
    s"""WITH s AS (
       |  SELECT vec_id AS vid, $bits AS sig FROM embeddings),
       |${OracleSql.wtaBanded},
       |${OracleSql.bandCand},
       |${OracleSql.annScored},
       |${OracleSql.simRank}
       |${OracleSql.top3}""".stripMargin
  }

  // -------------------------------------------------------------------
  // q112 — LSH recall evaluation: what fraction (ppm) of TRUE near-dup
  // pairs (unigram Jaccard ≥ 0.8, the q23 truth) does the banded
  // MinHash LSH (q24's 8 hashes, 4 bands × 2 rows) actually surface as
  // candidates? This is the tuning measurement behind every (b, r)
  // choice: run it on a sample, pick the cheapest banding whose recall
  // clears the target, then run the real dedup with that banding. Both
  // sides are deterministic (hash-exact MinHash), so the oracle is
  // exact — no tolerance needed even though LSH is "approximate".
  // Scale shape: truth is the q23 shingle equi-join, candidates the q24
  // bucket join, and the recall join is on (id_a, id_b) — on a sample
  // in practice; nothing here is all-pairs.
  // -------------------------------------------------------------------
  def q112_lsh_recall(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val truth = Dedup.jaccardPairsAdaptive(docs, "doc_id", "text", 1, 0.8)
      .select(col("id_a"), col("id_b"))
    val cand = Dedup.minHashCandidates(docs, "doc_id", "text",
        numHashes = 8, rowsPerBand = 2)
      .select(col("id_a"), col("id_b"), lit(1L).as("_hit"))
    truth.join(cand, Seq("id_a", "id_b"), "left_outer")
      .agg(count(lit(1)).as("n_true"),
        // sum over ZERO rows is null, not 0 — coalesce at the aggregate
        // level too, or an empty truth set diverges from the oracle's 0
        coalesce(sum(coalesce(col("_hit"), lit(0L))), lit(0L))
          .as("n_hit"))
      .select(col("n_true"), col("n_hit"),
        expr("n_hit * 1000000 div greatest(n_true, 1)").as("recall_ppm"))
  }

  val q112_sql: String =
    s"""WITH ${OracleSql.toks},
       |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM toks GROUP BY doc_id),
       |inter AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |         COUNT(*) AS intersection
       |  FROM toks a JOIN toks b
       |    ON a.tok = b.tok AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |truth AS (
       |  SELECT id_a, id_b FROM inter
       |  JOIN sizes sa ON id_a = sa.doc_id
       |  JOIN sizes sb ON id_b = sb.doc_id
       |  WHERE CAST(intersection AS DOUBLE) /
       |        (sa.sz + sb.sz - intersection) >= 0.8),
       |${OracleSql.minHashBands("toks", 2)},
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.band_key = b.band_key
       |   AND a.doc_id < b.doc_id),
       |hits AS (
       |  SELECT CASE WHEN c.id_a IS NULL THEN 0 ELSE 1 END AS hit
       |  FROM truth t
       |  LEFT JOIN cand c ON t.id_a = c.id_a AND t.id_b = c.id_b)
       |SELECT CAST(COUNT(*) AS BIGINT) AS n_true,
       |  CAST(COALESCE(SUM(hit), 0) AS BIGINT) AS n_hit,
       |  CAST(COALESCE(SUM(hit), 0) * 1000000
       |       // GREATEST(COUNT(*), 1) AS BIGINT) AS recall_ppm
       |FROM hits""".stripMargin

  // -------------------------------------------------------------------
  // q240 — MULTIPROBE LSH ANN (Lv et al., VLDB'07): q29's WTA banding,
  // but each vector also probes the 8 Hamming-1 neighbors of every
  // band value. The standard way to buy recall WITHOUT more hash
  // tables: probe fan-out is a constant (1 + bandBits)× — candidate
  // growth, not another corpus scan per table. Same exact-cosine
  // re-rank; with the 16-bit signature fully banded, coverage is
  // strictly a superset of q29's, so every q29 neighbor list is
  // preserved or improved.
  // -------------------------------------------------------------------
  def q240_multiprobe_lsh(spark: SparkSession, dir: String): DataFrame =
    Similarity.wtaMultiprobeTopK(Tables.embeddings(spark, dir), "vec_id",
        "embedding", k = 3, planes = 16, bandBits = 8,
        dims = ExtendedQueries.EmbDim)
      .withColumnRenamed("rank", "rk")
      .orderBy(col("query_id"), col("rk"))

  val q240_sql: String = {
    val bits = ExtendedQueries.wtaSigSql(16, "embedding")
    s"""WITH s AS (
       |  SELECT vec_id AS vid, $bits AS sig FROM embeddings),
       |${OracleSql.wtaBanded},
       |probes AS (
       |  SELECT vid, band,
       |    CASE WHEN p.j < 0 THEN band_val
       |      ELSE xor(band_val, 1 << p.j) END AS probe_val
       |  FROM banded CROSS JOIN generate_series(-1, 7) AS p(j)),
       |cand AS (
       |  SELECT DISTINCT a.vid AS id_a, b.vid AS id_b
       |  FROM probes a JOIN banded b
       |    ON a.band = b.band AND a.probe_val = b.band_val
       |   AND a.vid < b.vid),
       |${OracleSql.annScored},
       |${OracleSql.simRank}
       |${OracleSql.top3}""".stripMargin
  }

  // -------------------------------------------------------------------
  // q253 — SIZE-ADAPTIVE multiprobe LSH: q240 with the signature width
  // DERIVED from the corpus (bandBits = bit-length((n−1)/16), the
  // log₂(n/occupancy) sizing rule) instead of hardcoded 16 bits. This
  // is the scale-safe default the round-7 verdict demanded: q240's
  // fixed 2^8 buckets/band go quadratic as occupancy grows with n
  // (15× runtime at 10× data); here buckets grow WITH n so per-band
  // occupancy — and candidate volume per vector — stays ≤16 at any
  // corpus size. The oracle reproduces the width from its own
  // COUNT(*) via the same integer bit-length derivation, so the query
  // hash-matches at EVERY sf, not just the pinned one.
  // -------------------------------------------------------------------
  def q253_sized_multiprobe(spark: SparkSession, dir: String): DataFrame =
    Similarity.wtaMultiprobeTopKSized(Tables.embeddings(spark, dir),
        "vec_id", "embedding", k = 3, dims = ExtendedQueries.EmbDim)
      .withColumnRenamed("rank", "rk")
      .orderBy(col("query_id"), col("rk"))

  val q253_sql: String =
    s"""WITH ${OracleSql.sizedNq},
       |${OracleSql.sizedProbeCand},
       |${OracleSql.annScored},
       |${OracleSql.simRank}
       |${OracleSql.top3}""".stripMargin


  // -------------------------------------------------------------------
  // q357 — the COMPOSED serving retrieval: sized-LSH candidates +
  // exact re-rank end-to-end (Similarity.sizedCandidateRetrieval) over
  // a 5% query sample, with the per-query candidate count and the
  // global candidates/query ratio as audit columns. This wires the
  // "compose brute-force with IVF/LSH candidates" 100× story
  // (q25/q263/q279's documented scale answer) as a first-class
  // operator: the corpus work is the banded index build (linear), the
  // re-rank join is sample × bounded-candidates — never corpus². The
  // recall the bounded candidates buy is gated by q256 (the brute
  // audit over the SAME candidate structure) and by the Round10Spec
  // recall gate against an exact JVM brute mirror.
  // -------------------------------------------------------------------
  def q357_composed_retrieval(spark: SparkSession, dir: String)
      : DataFrame = {
    val base = Similarity.sizedCandidateRetrieval(
        Tables.embeddings(spark, dir), "vec_id", "embedding", k = 3,
        dims = ExtendedQueries.EmbDim, queryMod = 20)
      .localCheckpoint(eager = true) // two consumers: rows + the ratio
    val tot = base.select(col("query_id"), col("n_cand")).distinct()
      .agg(sum(col("n_cand")).as("tc"), count(lit(1)).as("nqr"))
    base.crossJoin(broadcast(tot))
      .select(col("query_id"), col("rk"), col("neighbor_id"),
        col("sim"), col("n_cand"),
        expr("tc * 1000 div nqr").as("cand_pq_x1000"))
      .orderBy(col("query_id"), col("rk"))
  }

  val q357_sql: String =
    s"""WITH ${OracleSql.sizedNq},
       |${OracleSql.sizedProbeCand},
       |qd AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT id_a AS query_id, id_b AS neighbor_id FROM cand
       |    UNION ALL SELECT id_b, id_a FROM cand)
       |  WHERE query_id % 20 = 0),
       |nc AS (
       |  SELECT query_id, COUNT(*) AS n_cand FROM qd GROUP BY 1),
       |tot AS (
       |  SELECT CAST(SUM(n_cand) AS BIGINT) AS tc, COUNT(*) AS nqr
       |  FROM nc),
       |scored AS (
       |  SELECT query_id, neighbor_id,
       |    round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
       |      CAST(c.embedding AS DOUBLE[])), 5) AS sim
       |  FROM qd d JOIN embeddings q ON q.vec_id = d.query_id
       |            JOIN embeddings c ON c.vec_id = d.neighbor_id),
       |${OracleSql.simRank}
       |SELECT query_id, CAST(rk AS BIGINT) AS rk, neighbor_id, sim,
       |  CAST(n_cand AS BIGINT) AS n_cand,
       |  CAST(tc * 1000 // nqr AS BIGINT) AS cand_pq_x1000
       |FROM r JOIN nc USING (query_id) CROSS JOIN tot
       |WHERE rk <= 3 ORDER BY query_id, rk""".stripMargin

  // -------------------------------------------------------------------
  // q256 — RECALL AUDIT of the size-adaptive multiprobe (q253) against
  // exact brute-force top-3 (q25's baseline), completing the sizing-
  // rule story: SCALING.md shows the rule holds candidate volume flat;
  // this entry gates what that bounded volume BUYS — recall@3 over a
  // deterministic 5% query sample, as an exact ppm both engines
  // reproduce (q112's LSH-recall discipline, applied to the
  // corpus-sized signature). At scale the brute side is the audit, not
  // the serving path: queries are sampled, the corpus side streams.
  //
  // Sample budget (round-11 verdict task 5): a 5% fraction makes the
  // brute side N²/20 — quadratic by design and a non-starter at
  // 100 TB. The default is now an ABSOLUTE budget of ~1000 audit
  // queries: sample stride = max(20, ceil(N / 1000)), which is the
  // familiar 5% fraction at oracle scales (N ≤ 20k — bit-identical to
  // the old shape at sf ≤ 1) and caps the brute side at ~1000·N
  // scored pairs at any corpus size. The stride is derived from
  // COUNT(*) in BOTH engines, so the audit stays oracle-checkable at
  // every scale rather than only where the fraction is affordable.
  // -------------------------------------------------------------------
  private val QueryBudget256 = 1000L

  def q256_sized_recall(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val n = e.count()
    val mod = math.max(20L, (n + QueryBudget256 - 1) / QueryBudget256)
    val exact = Similarity.bruteForceTopK(
        e.filter(col("vec_id") % mod === 0), e, "vec_id", "embedding",
        k = 3, roundTo = 5)
      .select(col("query_id"), col("neighbor_id"))
    val lsh = Similarity.wtaMultiprobeTopKSized(e, "vec_id", "embedding",
        k = 3, dims = ExtendedQueries.EmbDim)
      .filter(col("query_id") % mod === 0)
      .select(col("query_id"), col("neighbor_id"), lit(1L).as("_hit"))
    exact.join(lsh, Seq("query_id", "neighbor_id"), "left_outer")
      .agg(count(lit(1)).as("n_true"),
        coalesce(sum(coalesce(col("_hit"), lit(0L))), lit(0L))
          .as("n_hit"))
      .select(col("n_true"), col("n_hit"),
        expr("n_hit * 1000000 div greatest(n_true, 1)")
          .as("recall_ppm"))
  }

  val q256_sql: String =
    s"""WITH ${OracleSql.sizedNq},
       |qm AS (
       |  SELECT GREATEST(20, (COUNT(*) + ${QueryBudget256 - 1})
       |    // $QueryBudget256) AS m
       |  FROM embeddings),
       |${OracleSql.sizedProbeCand},
       |${OracleSql.annScored},
       |${OracleSql.simRank},
       |lsh AS (
       |  SELECT query_id, neighbor_id FROM r
       |  WHERE rk <= 3 AND query_id % (SELECT m FROM qm) = 0),
       |bq AS (
       |  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
       |  FROM embeddings WHERE vec_id % (SELECT m FROM qm) = 0),
       |bc AS (
       |  SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
       |  FROM embeddings),
       |bs AS (
       |  SELECT query_id, neighbor_id,
       |    round(list_cosine_similarity(qv, cv), 5) AS sim
       |  FROM bq, bc WHERE neighbor_id <> query_id),
       |br AS (
       |  SELECT query_id, neighbor_id, ROW_NUMBER() OVER (
       |    PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rk
       |  FROM bs),
       |ex AS (SELECT query_id, neighbor_id FROM br WHERE rk <= 3),
       |hits AS (
       |  SELECT CASE WHEN l.query_id IS NULL THEN 0 ELSE 1 END AS hit
       |  FROM ex LEFT JOIN lsh l ON ex.query_id = l.query_id
       |    AND ex.neighbor_id = l.neighbor_id)
       |SELECT CAST(COUNT(*) AS BIGINT) AS n_true,
       |  CAST(COALESCE(SUM(hit), 0) AS BIGINT) AS n_hit,
       |  CAST(COALESCE(SUM(hit), 0) * 1000000
       |    // GREATEST(COUNT(*), 1) AS BIGINT) AS recall_ppm
       |FROM hits""".stripMargin

  // -------------------------------------------------------------------
  // q353 — Johnson–Lindenstrauss distortion audit with ±1 projections
  // (Achlioptas 2003, "Database-friendly random projections"): project
  // the int8-quantized 64-dim embeddings (the q131 global-max scheme,
  // IEEE-double exact) to k=16 dims with hash-derived ±1 signs — all
  // arithmetic is then EXACT integers, so both engines agree to the
  // bit — and report, for a deterministic linear pair sample (each
  // 37th vector vs its next three sampled successors), the projected
  // squared distance against k× the exact one: distortion_ppm ≈ 1e6
  // is the JL promise. This is the audit a 100 TB ANN pipeline runs
  // before trusting a projection: the pair sample is LINEAR in the
  // corpus (never pairs²), the projection is one explode to
  // sample×k×d rows folded map-side.
  // -------------------------------------------------------------------
  private val JlOutDims = 16
  private val JlDim = 64
  private val JlStride = 37L

  def q353_jl_distortion(spark: SparkSession, dir: String): DataFrame = {
    import graft.pipeline.Sampling
    val v = Tables.embeddings(spark, dir)
      .select(col("vec_id").as("vid"), col("embedding").as("v"))
    val gmax = v.agg(max(array_max(transform(col("v"),
      x => abs(x)))).as("gm"))
    val q = v.filter(col("vid") % JlStride === 0)
      .crossJoin(broadcast(gmax))
      .select(col("vid"),
        when(col("gm") > 0.0, transform(col("v"),
            x => floor(x / col("gm") * 127.0 + 0.5).cast("long")))
          .otherwise(transform(col("v"), _ => lit(0L))).as("q"))
    val qd = q.select(col("vid"), posexplode(col("q")))
      .select(col("vid"), col("pos").cast("long").as("d"),
        col("col").as("x"))
    val proj = qd
      .withColumn("i",
        explode(sequence(lit(0L), lit(JlOutDims - 1L))))
      .withColumn("sgn", lit(1L) - lit(2L) *
        pmod(Sampling.hash60("jl", col("i") * JlDim + col("d")),
          lit(2L)))
      .groupBy(col("vid"), col("i"))
      .agg(sum(col("sgn") * col("x")).as("p"))
    val ids = q.select(col("vid"))
    val pairs = ids.as("a")
      .join(ids.as("b"),
        col("b.vid") === col("a.vid") + JlStride ||
          col("b.vid") === col("a.vid") + 2 * JlStride ||
          col("b.vid") === col("a.vid") + 3 * JlStride)
      .select(col("a.vid").as("id_a"), col("b.vid").as("id_b"))
    val d2e = pairs
      .join(qd.select(col("vid").as("id_a"), col("d"),
        col("x").as("xa")), Seq("id_a"))
      .join(qd.select(col("vid").as("id_b"), col("d"),
        col("x").as("xb")), Seq("id_b", "d"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(sum((col("xa") - col("xb")) * (col("xa") - col("xb")))
        .as("d2_exact"))
    val d2p = pairs
      .join(proj.select(col("vid").as("id_a"), col("i"),
        col("p").as("pa")), Seq("id_a"))
      .join(proj.select(col("vid").as("id_b"), col("i"),
        col("p").as("pb")), Seq("id_b", "i"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(sum((col("pa") - col("pb")) * (col("pa") - col("pb")))
        .as("d2_proj"))
    d2e.join(d2p, Seq("id_a", "id_b"))
      .withColumn("distortion_ppm", expr(
        s"CASE WHEN d2_exact = 0 THEN -1 " +
          s"ELSE d2_proj * 1000000 div ($JlOutDims * d2_exact) END"))
      .select(col("id_a"), col("id_b"), col("d2_exact"),
        col("d2_proj"), col("distortion_ppm"))
      .orderBy(col("id_a"), col("id_b"))
  }

  val q353_sql: String = {
    val sgn = "(1 - 2 * (" + graft.pipeline.Sampling
      .hash60Sql("jl", s"i * $JlDim + d") + " % 2))"
    s"""WITH v AS (
       |  SELECT vec_id AS vid, CAST(embedding AS DOUBLE[]) AS v
       |  FROM embeddings),
       |g AS (SELECT max(list_max(list_transform(v, x -> abs(x))))
       |      AS gm FROM v),
       |q AS (
       |  SELECT vid, CASE WHEN gm > 0 THEN
       |      list_transform(v, x ->
       |        CAST(floor(x / gm * 127.0 + 0.5) AS BIGINT))
       |    ELSE list_transform(v, x -> CAST(0 AS BIGINT)) END AS q
       |  FROM v CROSS JOIN g WHERE vid % $JlStride = 0),
       |qd AS (
       |  SELECT vid, CAST(t.d AS BIGINT) AS d, q[t.d + 1] AS x
       |  FROM q, generate_series(0, ${JlDim - 1}) t(d)),
       |proj AS (
       |  SELECT vid, CAST(s.i AS BIGINT) AS i, SUM($sgn * x) AS p
       |  FROM qd, generate_series(0, ${JlOutDims - 1}) s(i)
       |  GROUP BY 1, 2),
       |pairs AS (
       |  SELECT a.vid AS id_a, b.vid AS id_b
       |  FROM q a JOIN q b ON b.vid IN (a.vid + $JlStride,
       |    a.vid + ${2 * JlStride}, a.vid + ${3 * JlStride})),
       |d2e AS (
       |  SELECT p.id_a, p.id_b,
       |    SUM((xa.x - xb.x) * (xa.x - xb.x)) AS d2_exact
       |  FROM pairs p
       |  JOIN qd xa ON xa.vid = p.id_a
       |  JOIN qd xb ON xb.vid = p.id_b AND xb.d = xa.d
       |  GROUP BY 1, 2),
       |d2p AS (
       |  SELECT p.id_a, p.id_b,
       |    SUM((pa.p - pb.p) * (pa.p - pb.p)) AS d2_proj
       |  FROM pairs p
       |  JOIN proj pa ON pa.vid = p.id_a
       |  JOIN proj pb ON pb.vid = p.id_b AND pb.i = pa.i
       |  GROUP BY 1, 2)
       |SELECT d2e.id_a, d2e.id_b,
       |  CAST(d2_exact AS BIGINT) AS d2_exact,
       |  CAST(d2_proj AS BIGINT) AS d2_proj,
       |  CAST(CASE WHEN d2_exact = 0 THEN -1
       |    ELSE d2_proj * 1000000 // ($JlOutDims * d2_exact) END
       |    AS BIGINT) AS distortion_ppm
       |FROM d2e JOIN d2p ON d2p.id_a = d2e.id_a
       |  AND d2p.id_b = d2e.id_b
       |ORDER BY d2e.id_a, d2e.id_b""".stripMargin
  }

  val registry: graft.SparkEntry.Registry = Seq(
    ("q353_jl_distortion", q353_jl_distortion _, q353_sql),
    ("q240_multiprobe_lsh", q240_multiprobe_lsh _, q240_sql),
    ("q253_sized_multiprobe", q253_sized_multiprobe _, q253_sql),
    ("q357_composed_retrieval", q357_composed_retrieval _, q357_sql),
    ("q256_sized_recall", q256_sized_recall _, q256_sql),
    ("q112_lsh_recall", q112_lsh_recall _, q112_sql),
    ("q122_editsim_dedup", q122_editsim_dedup _, q122_sql),
    ("q128_winnow_pairs", q128_winnow_pairs _, q128_sql),
    ("q129_continuations", q129_continuations _, q129_sql),
    ("q131_pq_adc", q131_pq_adc _, q131_sql),
    ("q258_ivfpq_adc", q258_ivfpq_adc _, q258_sql),
    ("q262_suffix_doubling", q262_suffix_doubling _, q262_sql),
    ("q263_margin_mining", q263_margin_mining _, q263_sql),
    ("q132_prefix_rerank", q132_prefix_rerank _, q132_sql),
    ("q20_dedup_exact", q20_dedup_exact _, q20_sql),
    ("q21_text_stats", q21_text_stats _, q21_sql),
    ("q22_fingerprint", q22_fingerprint _, q22_sql),
    ("q23_jaccard_pairs", q23_jaccard_pairs _, q23_sql),
    ("q24_minhash_lsh", q24_minhash_lsh _, q24_sql),
    ("q25_cosine_topk", q25_cosine_topk _, q25_sql),
    ("q26_simhash", q26_simhash _, q26_sql),
    ("q27_langid", q27_langid _, q27_sql),
    ("q28_quality", q28_quality _, q28_sql),
    ("q29_ann_lsh", q29_ann_lsh _, q29_sql),
    ("q32_substring_join", q32_substring_join _, q32_sql),
    ("q33_dedup_keep", q33_dedup_keep _, q33_sql))
}
