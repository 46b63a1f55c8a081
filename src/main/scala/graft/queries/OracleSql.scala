package graft.queries

/** DuckDB oracle CTEs that several oracles repeat word for word. Each
  * fragment is a margin-stripped CTE list without a trailing comma, so
  * an oracle splices it right after a margin (`|${OracleSql.toks},`)
  * and its text comes out exactly as if written inline. Engines never
  * read these: an oracle that shares text with its engine checks
  * nothing.
  */
private[queries] object OracleSql {

  /** `toks(doc_id, tok)`: distinct whitespace tokens per non-empty doc. */
  val toks: String =
    """toks AS (
      |  SELECT DISTINCT doc_id, tok FROM (
      |    SELECT doc_id,
      |           unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
      |    FROM documents WHERE trim(text) <> ''))""".stripMargin

  /** MinHash over `src(doc_id, tok)`: 8 md5-seeded hashes, their per-doc
    * minima `sigs`, and `bands(doc_id, band, band_key)` of `rows`
    * signatures each. */
  def minHashBands(src: String, rows: Int): String =
    s"""h AS (
       |  SELECT doc_id,
       |    CAST(('0x' || substr(md5(tok), 1, 7)) AS BIGINT) AS h1,
       |    CAST(('0x' || substr(md5(tok), 8, 7)) AS BIGINT) AS h2
       |  FROM $src),
       |sigs AS (
       |  SELECT doc_id, s.i AS seed,
       |         min((h1 + s.i * h2) % 2147483647) AS sig
       |  FROM h CROSS JOIN generate_series(0, 7) AS s(i)
       |  GROUP BY doc_id, s.i),
       |bands AS (
       |  SELECT doc_id, seed // $rows AS band,
       |         md5(string_agg(CAST(sig AS VARCHAR), '|' ORDER BY seed))
       |           AS band_key
       |  FROM sigs GROUP BY doc_id, seed // $rows)""".stripMargin

  /** `banded(vid, sig, band, band_val)`: the 16-bit WTA signatures of
    * `s(vid, sig)` cut into two 8-bit bands. */
  val wtaBanded: String =
    """banded AS (
      |  SELECT vid, sig, g.i AS band, (sig >> (g.i * 8)) & 255 AS band_val
      |  FROM s CROSS JOIN generate_series(0, 1) AS g(i))""".stripMargin

  /** `cand(id_a, id_b)`: the `banded` pairs that share a band value. */
  val bandCand: String =
    """cand AS (
      |  SELECT DISTINCT a.vid AS id_a, b.vid AS id_b
      |  FROM banded a JOIN banded b
      |    ON a.band = b.band AND a.band_val = b.band_val
      |   AND a.vid < b.vid)""".stripMargin

  /** `nq(q)`: the size-adaptive multiprobe's (n − 1) // 16 occupancy. */
  val sizedNq: String =
    """nq AS (
      |  SELECT GREATEST((GREATEST(COUNT(*), 2) - 1) // 16, 1) AS q
      |  FROM embeddings)""".stripMargin

  /** The size-adaptive multiprobe over `nq`: band width `p(bb)` = the
    * bit length of `q` clamped to [4, 15], masked WTA signatures `s`,
    * two `banded` bands, Hamming-1 `probes`, and `cand(id_a, id_b)`.
    * A def: the vals here must not start another family's initializer,
    * which may itself be reading this object's vals. */
  def sizedProbeCand: String = {
    val bits = ExtendedQueries.wtaSigSqlMasked(30, "embedding", "bb")
    s"""p AS (
       |  SELECT LEAST(15, GREATEST(4, (
       |    SELECT COUNT(*) FROM nq, generate_series(0, 62) g(i)
       |    WHERE q >> i > 0))) AS bb),
       |s AS (
       |  SELECT vec_id AS vid, bb, $bits AS sig
       |  FROM embeddings CROSS JOIN p),
       |banded AS (
       |  SELECT vid, bb, g.i AS band,
       |    (sig >> (g.i * bb)) & ((1::BIGINT << bb) - 1) AS band_val
       |  FROM s CROSS JOIN generate_series(0, 1) AS g(i)),
       |probes AS (
       |  SELECT vid, band,
       |    CASE WHEN pr.j < 0 THEN band_val
       |      ELSE xor(band_val, 1::BIGINT << pr.j) END AS probe_val
       |  FROM banded CROSS JOIN generate_series(-1, 14) AS pr(j)
       |  WHERE pr.j < bb),
       |cand AS (
       |  SELECT DISTINCT a.vid AS id_a, b.vid AS id_b
       |  FROM probes a JOIN banded b
       |    ON a.band = b.band AND a.probe_val = b.band_val
       |   AND a.vid < b.vid)""".stripMargin
  }

  /** `directed`: both orientations of `cand`; `scored`: each pair's
    * cosine rounded to 5 places. */
  val annScored: String =
    """directed AS (
      |  SELECT id_a AS query_id, id_b AS neighbor_id FROM cand
      |  UNION ALL SELECT id_b, id_a FROM cand),
      |scored AS (
      |  SELECT query_id, neighbor_id,
      |    round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
      |      CAST(c.embedding AS DOUBLE[])), 5) AS sim
      |  FROM directed d JOIN embeddings q ON q.vec_id = d.query_id
      |                  JOIN embeddings c ON c.vec_id = d.neighbor_id)"""
      .stripMargin

  /** `r`: each query's neighbours in `scored` ranked by (sim desc, id). */
  val simRank: String =
    """r AS (
      |  SELECT query_id, neighbor_id, sim, ROW_NUMBER() OVER (
      |    PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rk
      |  FROM scored)""".stripMargin

  /** The top-3 neighbours of every query in `r`. */
  val top3: String =
    """SELECT query_id, neighbor_id, sim, rk FROM r WHERE rk <= 3
      |ORDER BY query_id, rk""".stripMargin

  /** `t(doc_id, toks)` word arrays and their 1-based `pos(i, tok)`. */
  val wordPositions: String =
    """t AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
      |  FROM documents WHERE trim(text) <> ''),
      |pos AS (
      |  SELECT doc_id, u.i AS i, toks[u.i] AS tok
      |  FROM t, unnest(generate_series(1, len(toks))) AS u(i))""".stripMargin

  /** Non-empty docs `d`, their whitespace `toks(doc_id, term)` and the
    * term frequencies `tf(doc_id, term, tf)`. */
  val termTf: String =
    """d AS (SELECT doc_id, text FROM documents
      |           WHERE trim(text) <> ''),
      |toks AS (
      |  SELECT doc_id,
      |         unnest(regexp_split_to_array(trim(text), '\s+')) AS term
      |  FROM d),
      |tf AS (SELECT doc_id, term, COUNT(*) AS tf
      |       FROM toks GROUP BY doc_id, term)""".stripMargin

  /** BM25 statistics over `termTf`: doc lengths `dl`, document
    * frequencies `dft`, corpus `totals`, and the 3 top-df `qterms`. */
  val bm25Stats: String =
    """dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
      |dft AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
      |totals AS (SELECT COUNT(*) AS n_total,
      |                  CAST(SUM(dl) AS BIGINT) AS dls FROM dl),
      |qterms AS (SELECT term, df FROM dft
      |           ORDER BY df DESC, term LIMIT 3)""".stripMargin
}
