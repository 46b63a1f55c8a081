package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.pipeline.{MediaCodecs, Sampling, TextAnalysis}

/** Training-data augmentation and forensic-audit operators: perceptual
  * image hashing for multimodal near-dup detection (through the REAL
  * ImageIO decode path), T5-style span-corruption pair generation, and
  * a Benford first-digit audit.
  */
object AugmentQueries {

  // ---------------------------------------------------------------------
  // q205 — perceptual-hash (aHash) image near-dup detection, end to end
  // through the real codec: synthesize one 16×16 PNG per document on
  // the executors (pixel gradients are a closed-form function of
  // doc_id, with doc_id div 4 as the "base image" — its id is MIXED
  // through a Knuth multiplicative hash into the gradient
  // coefficients, so the hash space grows with the corpus instead of
  // cycling mod 256 — and doc_id mod 4 a one-pixel perturbation, so
  // each base has 4 near-duplicate variants), decode with
  // javax.imageio (PNG is lossless ⇒ decoded bytes ≡ the closed form,
  // which is what lets DuckDB re-derive the hash without a codec),
  // compute the 64-bit average-hash (8×8 box-downscale of the integer
  // luma, threshold at the mean), band it 4×16 bits, and find near-dup
  // pairs by band-equality join + exact hamming ≤ 2 verify.
  //
  // Scale shape: hash computation is embarrassingly parallel
  // mapPartitions; the pair search is hamming-LSH pigeonhole — 4
  // bands of 16 bits GUARANTEES a candidate for any pair at hamming
  // ≤ 3 (⊇ the verify radius 2) — PLUS the suite's df-cap: band
  // values shared by more than BandMaxDf docs are skipped as
  // non-discriminative (the stop-shingle rule), which caps candidate
  // fan-out at (BandMaxDf−1)·4 per doc — LINEAR in the corpus at any
  // scale, at the price of best-effort recall inside over-common
  // pattern clusters (at sf0.01: zero buckets capped, recall exact).
  // ---------------------------------------------------------------------
  private val BandMaxDf = 64

  private[graft] def synthPixels(id: Long): (Int, Int, Array[Byte]) = {
    val (w, h) = (16, 16)
    val base = id / 4
    val noise = (id % 4).toInt
    // id mixing (mod 2^20 first keeps the product int64-safe at any id)
    val m = ((base % 1048576L) * 2654435761L) % 1048576L
    val c1 = m % 13L
    val c2 = (m / 13L) % 11L
    val rgb = new Array[Byte](w * h * 3)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val d = (y * w + x) * 3
        val r0 = ((m % 256L + x * (1 + c1) * 5 + y * (1 + c2) * 7)
          % 256L).toInt
        val r = if (x == noise && y == 0) (r0 + 32) % 256 else r0
        rgb(d) = r.toByte
        rgb(d + 1) = (((m / 7L) % 256L + x * 11 + y * (1 + m % 5L) * 3)
          % 256L).toByte
        rgb(d + 2) = (((m / 11L) % 256L + x * (1 + m % 3L) * 2 + y * 19)
          % 256L).toByte
        x += 1
      }
      y += 1
    }
    (w, h, rgb)
  }

  /** 64-bit aHash of a decoded image as 4 bands of 16 bits each:
    * integer luma → 8×8 box means → bit = (block·64 > Σ blocks). */
  private[graft] def aHashBands(img: MediaCodecs.BmpImage): Array[Long] = {
    val blocks = new Array[Long](64)
    var by = 0
    while (by < 8) {
      var bx = 0
      while (bx < 8) {
        var s = 0L
        var dy = 0
        while (dy < 2) {
          var dx = 0
          while (dx < 2) {
            val x = bx * 2 + dx
            val y = by * 2 + dy
            val d = (y * img.width + x) * 3
            val r = img.rgb(d) & 0xff
            val g = img.rgb(d + 1) & 0xff
            val b = img.rgb(d + 2) & 0xff
            s += (299L * r + 587L * g + 114L * b) / 1000L
            dx += 1
          }
          dy += 1
        }
        blocks(by * 8 + bx) = s / 4L
        bx += 1
      }
      by += 1
    }
    val total = blocks.sum
    val bands = new Array[Long](4)
    var pos = 0
    while (pos < 64) {
      if (blocks(pos) * 64L > total)
        bands(pos / 16) |= 1L << (pos % 16)
      pos += 1
    }
    bands
  }

  def q205_image_phash(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val hashes = Tables.documents(spark, dir)
      .select(col("doc_id").cast("long")).as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val (w, h, rgb) = synthPixels(id)
          val png = MediaCodecs.encodePng(MediaCodecs.BmpImage(w, h, rgb))
          val img = MediaCodecs.decodeImage(png).getOrElse(
            sys.error(s"PNG round-trip failed for doc $id"))
          val b = aHashBands(img)
          (id, b(0), b(1), b(2), b(3))
        }
      }.toDF("doc_id", "b0", "b1", "b2", "b3")
      .localCheckpoint(eager = true) // feeds bands view + both pair sides
    val bandCols = (0 until 4).map(i =>
      struct(lit(i).as("band_idx"), col(s"b$i").as("band_val")))
    val bands = hashes
      .select(col("doc_id"), explode(array(bandCols: _*)).as("p"))
      .select(col("doc_id"), col("p.band_idx"), col("p.band_val"))
    // df-cap: drop over-common band values BEFORE the self-join
    val rare = bands.groupBy(col("band_idx"), col("band_val"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") <= BandMaxDf)
      .select(col("band_idx"), col("band_val"))
    val kept = bands.join(rare, Seq("band_idx", "band_val"), "left_semi")
    val cand = kept.as("a").join(kept.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_val") === col("b.band_val") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val ham = (0 until 4).map(i =>
      expr(s"bit_count(a.b$i ^ c.b$i)")).reduce(_ + _)
    cand.as("p")
      .join(hashes.as("a"), col("p.doc_a") === col("a.doc_id"))
      .join(hashes.as("c"), col("p.doc_b") === col("c.doc_id"))
      .select(col("p.doc_a"), col("p.doc_b"),
        ham.cast("long").as("hamming"))
      .filter(col("hamming") <= 2)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val q205_sql: String =
    s"""WITH d AS (
      |  SELECT doc_id, doc_id % 4 AS noise,
      |    ((doc_id // 4) % 1048576 * 2654435761) % 1048576 AS m
      |  FROM documents),
      |coef AS (
      |  SELECT doc_id, noise, m, m % 13 AS c1, (m // 13) % 11 AS c2
      |  FROM d),
      |px AS (
      |  SELECT doc_id, x, y,
      |    CASE WHEN x = noise AND y = 0
      |      THEN ((m % 256 + x * (1 + c1) * 5 + y * (1 + c2) * 7) % 256
      |            + 32) % 256
      |      ELSE (m % 256 + x * (1 + c1) * 5 + y * (1 + c2) * 7) % 256
      |      END AS r,
      |    ((m // 7) % 256 + x * 11 + y * (1 + m % 5) * 3) % 256 AS g,
      |    ((m // 11) % 256 + x * (1 + m % 3) * 2 + y * 19) % 256 AS b
      |  FROM coef,
      |    unnest(generate_series(0, 15)) AS xs(x),
      |    unnest(generate_series(0, 15)) AS ys(y)),
      |blk AS (
      |  SELECT doc_id, x // 2 AS bx, y // 2 AS by,
      |    CAST(SUM((299 * r + 587 * g + 114 * b) // 1000) AS BIGINT)
      |      // 4 AS v
      |  FROM px GROUP BY 1, 2, 3),
      |tot AS (
      |  SELECT doc_id, CAST(SUM(v) AS BIGINT) AS total
      |  FROM blk GROUP BY 1),
      |bits AS (
      |  SELECT blk.doc_id, by * 8 + bx AS pos,
      |    CASE WHEN blk.v * 64 > tot.total THEN 1 ELSE 0 END AS bit
      |  FROM blk JOIN tot ON tot.doc_id = blk.doc_id),
      |bands AS (
      |  SELECT doc_id, pos // 16 AS band_idx,
      |    CAST(SUM(bit * (1::BIGINT << (pos % 16))) AS BIGINT)
      |      AS band_val
      |  FROM bits GROUP BY 1, 2),
      |rare AS (
      |  SELECT band_idx, band_val FROM bands
      |  GROUP BY 1, 2 HAVING COUNT(*) <= $BandMaxDf),
      |kept AS (
      |  SELECT b.doc_id, b.band_idx, b.band_val
      |  FROM bands b JOIN rare r
      |    ON r.band_idx = b.band_idx AND r.band_val = b.band_val),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM kept a JOIN kept b
      |    ON a.band_idx = b.band_idx AND a.band_val = b.band_val
      |   AND a.doc_id < b.doc_id),
      |ham AS (
      |  SELECT c.doc_a, c.doc_b,
      |    CAST(SUM(bit_count(xor(x.band_val, y.band_val))) AS BIGINT)
      |      AS hamming
      |  FROM cand c
      |  JOIN bands x ON x.doc_id = c.doc_a
      |  JOIN bands y ON y.doc_id = c.doc_b AND y.band_idx = x.band_idx
      |  GROUP BY 1, 2)
      |SELECT doc_a, doc_b, hamming FROM ham WHERE hamming <= 2
      |ORDER BY doc_a, doc_b""".stripMargin

  // ---------------------------------------------------------------------
  // q206 — T5-style span-corruption pair generation (Raffel et al.
  // 2020 §3.1.4): deterministically corrupt ~15% of token positions
  // (hash60(doc_id|position) — reproducible across runs and engines),
  // merge adjacent corrupted positions into spans, and emit
  // (input_text with each span replaced by its <X_s> sentinel,
  // target_text = sentinel-prefixed span contents) — the
  // self-supervised pair a span-corruption LM trains on.
  //
  // Scale shape: positions explode row-locally; span grouping is the
  // gaps-and-islands trick (position − row_number within the
  // corrupted subsequence) under per-doc windows — every window
  // partition is one document's tokens, so width is bounded by doc
  // length, never corpus size. String rebuild is an ordered
  // array_sort+array_join per doc (one groupBy).
  // ---------------------------------------------------------------------
  private val CorruptPct = 15

  def q206_span_corruption(spark: SparkSession, dir: String): DataFrame = {
    val pos = Tables.documents(spark, dir)
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("_toks"))
      .select(col("doc_id"),
        posexplode(col("_toks")).as(Seq("i", "tok")))
      .withColumn("corrupt",
        Sampling.hash60("span",
          concat_ws("|", col("doc_id"), col("i"))) % 100 < CorruptPct)
    val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("i"))
    val corr = pos.filter(col("corrupt"))
      .withColumn("rn", row_number().over(wDoc))
      .withColumn("grp", col("i") - col("rn"))
    val wGrp = Window.partitionBy(col("doc_id"), col("grp"))
      .orderBy(col("i"))
    val spans = corr
      .withColumn("span_idx",
        dense_rank().over(Window.partitionBy(col("doc_id"))
          .orderBy(col("grp"))) - 1)
      .withColumn("is_start", row_number().over(wGrp) === 1)
    val sentinel = concat(lit("<X_"), col("span_idx"), lit(">"))
    // input: kept tokens at their position, plus one sentinel per span
    val inputPieces = pos.filter(!col("corrupt"))
      .select(col("doc_id"), col("i"), col("tok").as("piece"))
      .unionByName(spans.filter(col("is_start"))
        .select(col("doc_id"), col("i"), sentinel.as("piece")))
    // target: per corrupted token, sentinel (sort key 2i) before the
    // token (2i+1) at span starts
    val targetPieces = spans
      .select(col("doc_id"), (col("i") * 2 + 1).as("i"),
        col("tok").as("piece"))
      .unionByName(spans.filter(col("is_start"))
        .select(col("doc_id"), (col("i") * 2).as("i"),
          sentinel.as("piece")))
    def rebuild(pieces: DataFrame, out: String): DataFrame =
      pieces.groupBy(col("doc_id"))
        .agg(array_join(transform(
          array_sort(collect_list(struct(col("i"), col("piece")))),
          x => x.getField("piece")), " ").as(out))
    val nSpans = spans.groupBy(col("doc_id"))
      .agg((max(col("span_idx")) + 1).as("n_spans"))
    Tables.documents(spark, dir).select(col("doc_id"))
      .join(rebuild(inputPieces, "input_text"), Seq("doc_id"), "left_outer")
      .join(rebuild(targetPieces, "target_text"), Seq("doc_id"),
        "left_outer")
      .join(nSpans, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("input_text"), lit("")).as("input_text"),
        coalesce(col("target_text"), lit("")).as("target_text"),
        coalesce(col("n_spans"), lit(0)).cast("long").as("n_spans"))
      .orderBy(col("doc_id"))
  }

  val q206_sql: String = {
    val h = Sampling.hash60Sql("span",
      "CAST(doc_id AS VARCHAR) || '|' || CAST(i AS VARCHAR)")
    s"""WITH t AS (
       |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS a
       |  FROM documents),
       |pos AS (
       |  SELECT doc_id, i - 1 AS i, a[i] AS tok
       |  FROM t, unnest(generate_series(1, len(a))) AS u(i)
       |  WHERE trim(a[i]) <> ''),
       |flagged AS (
       |  SELECT doc_id, i, tok, ($h) % 100 < $CorruptPct AS corrupt
       |  FROM pos),
       |corr AS (
       |  SELECT doc_id, i, tok,
       |    i - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY i) AS grp
       |  FROM flagged WHERE corrupt),
       |spans AS (
       |  SELECT doc_id, i, tok, grp,
       |    DENSE_RANK() OVER (PARTITION BY doc_id ORDER BY grp) - 1
       |      AS span_idx,
       |    ROW_NUMBER() OVER (PARTITION BY doc_id, grp ORDER BY i) = 1
       |      AS is_start
       |  FROM corr),
       |inp AS (
       |  SELECT doc_id, string_agg(piece, ' ' ORDER BY i) AS input_text
       |  FROM (
       |    SELECT doc_id, i, tok AS piece FROM flagged WHERE NOT corrupt
       |    UNION ALL
       |    SELECT doc_id, i, '<X_' || span_idx || '>' FROM spans
       |    WHERE is_start)
       |  GROUP BY doc_id),
       |tgt AS (
       |  SELECT doc_id, string_agg(piece, ' ' ORDER BY i) AS target_text
       |  FROM (
       |    SELECT doc_id, i * 2 + 1 AS i, tok AS piece FROM spans
       |    UNION ALL
       |    SELECT doc_id, i * 2, '<X_' || span_idx || '>' FROM spans
       |    WHERE is_start)
       |  GROUP BY doc_id),
       |ns AS (
       |  SELECT doc_id, CAST(MAX(span_idx) + 1 AS BIGINT) AS n_spans
       |  FROM spans GROUP BY doc_id)
       |SELECT d.doc_id,
       |  COALESCE(inp.input_text, '') AS input_text,
       |  COALESCE(tgt.target_text, '') AS target_text,
       |  COALESCE(ns.n_spans, 0) AS n_spans
       |FROM documents d
       |LEFT JOIN inp ON inp.doc_id = d.doc_id
       |LEFT JOIN tgt ON tgt.doc_id = d.doc_id
       |LEFT JOIN ns ON ns.doc_id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q207 — Benford first-digit audit (forensic data-quality check for
  // fabricated or truncated numeric columns): observed first-
  // significant-digit distribution of o_totalprice (as exact cents)
  // vs the Benford expectation log₁₀(1+1/d), with the expectation
  // hard-coded as ppm constants so both engines compare integers.
  //
  // Scale shape: one scan, digit extraction is row-local string work,
  // one 9-group aggregation with map-side combine.
  // ---------------------------------------------------------------------
  private val BenfordPpm: Seq[(Int, Long)] = Seq(
    1 -> 301030L, 2 -> 176091L, 3 -> 124939L, 4 -> 96910L, 5 -> 79181L,
    6 -> 66947L, 7 -> 57992L, 8 -> 51153L, 9 -> 45757L)

  def q207_benford_audit(spark: SparkSession, dir: String): DataFrame = {
    val exp = spark.createDataFrame(BenfordPpm).toDF("digit", "exp_ppm")
    val digits = Tables.orders(spark, dir)
      .select(floor(col("o_totalprice") * 100 + 0.5).cast("long").as("v"))
      .filter(col("v") > 0)
      .select(substring(col("v").cast("string"), 1, 1).cast("int")
        .as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
      .localCheckpoint(eager = true) // ≤ 9 rows; feeds join AND total
    val total = digits.agg(sum(col("n")).as("n_total"))
    // exp is the preserved (left) side of the outer join, so it cannot
    // be the broadcast build side; both inputs are ≤ 9 rows anyway
    exp.join(digits, Seq("digit"), "left_outer")
      .crossJoin(broadcast(total))
      .select(col("digit"), coalesce(col("n"), lit(0L)).as("n"),
        expr("coalesce(n, 0) * 1000000 div n_total").as("obs_ppm"),
        col("exp_ppm"))
      .withColumn("dev_ppm", abs(col("obs_ppm") - col("exp_ppm")))
      .orderBy(col("digit"))
  }

  val q207_sql: String = {
    val expRows = BenfordPpm
      .map { case (d, p) => s"($d, ${p}::BIGINT)" }.mkString(", ")
    s"""WITH exp AS (
       |  SELECT * FROM (VALUES $expRows) AS t(digit, exp_ppm)),
       |v AS (
       |  SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS v
       |  FROM orders),
       |d AS (
       |  SELECT CAST(substr(CAST(v AS VARCHAR), 1, 1) AS INTEGER)
       |    AS digit, COUNT(*) AS n
       |  FROM v WHERE v > 0 GROUP BY 1),
       |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS n_total FROM d)
       |SELECT exp.digit, CAST(COALESCE(d.n, 0) AS BIGINT) AS n,
       |  (COALESCE(d.n, 0) * 1000000) // tot.n_total AS obs_ppm,
       |  exp.exp_ppm,
       |  ABS((COALESCE(d.n, 0) * 1000000) // tot.n_total - exp.exp_ppm)
       |    AS dev_ppm
       |FROM exp LEFT JOIN d ON d.digit = exp.digit
       |CROSS JOIN tot
       |ORDER BY exp.digit""".stripMargin
  }

  val registry: graft.SparkEntry.Registry = Seq(
    ("q205_image_phash", q205_image_phash _, q205_sql),
    ("q206_span_corruption", q206_span_corruption _, q206_sql),
    ("q207_benford_audit", q207_benford_audit _, q207_sql))
}
