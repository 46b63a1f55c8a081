package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Record-linkage and corpus-statistics operators: sorted-neighborhood
  * blocking, Chao1 vocabulary richness, seasonal anomaly detection,
  * Spearman rank correlation, boilerplate-line detection, star-schema
  * market share (TPC-H Q8 shape), classifier PR curves, time-series
  * gap interpolation, FK fan-out profiling, vocabulary shift, source
  * vocabulary overlap, and n-gram novelty — integer-exact except
  * Spearman's final rounded ratio.
  */
object LinkageQueries {

  // ---------------------------------------------------------------------
  // q224 — sorted-neighborhood blocking + Jaccard verify: sort each
  // language's documents by (n_chars, doc_id), pair every doc with its
  // next w=3 neighbors in sort order, and verify candidates with exact
  // token-set Jaccard. THE classic entity-resolution candidate
  // generator (Hernández/Stolfo SNM): candidate volume is w·N — linear,
  // vs the N²/lang of a naive same-language self-join.
  //
  // Scale shape: neighbors come from a row-local offset EXPLODE
  // (o ∈ 1..3) + one equi-join on (lang, rn) — the same linear
  // offset-advertise trick as q219's rolling WAU, not a rn-range
  // θ-join. Token sets ride along as row-local arrays so the verify
  // step is a per-pair array_intersect, no token-level shuffle. The
  // per-lang row_number is the one ordered pass; at 100 TB the same
  // semantics run as repartitionByRange(lang, n_chars) +
  // sortWithinPartitions with a w-row boundary carry, which this
  // window form expresses declaratively.
  // ---------------------------------------------------------------------
  def q224_sorted_neighborhood(spark: SparkSession, dir: String)
      : DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        array_distinct(split(trim(col("text")), "\\s+")).as("toks"))
    val ranked = docs.withColumn("rn", row_number().over(
      Window.partitionBy(col("lang"))
        .orderBy(col("n_chars"), col("doc_id"))))
      .localCheckpoint(eager = true) // consumed twice (both pair sides)
    val left = ranked
      .select(col("lang"), col("rn"), col("doc_id").as("id_a"),
        col("toks").as("toks_a"),
        explode(sequence(col("rn") + 1, col("rn") + 3)).as("rn_b"))
    val pairs = left.join(
      ranked.select(col("lang"), col("rn").as("rn_b"),
        col("doc_id").as("id_b"), col("toks").as("toks_b")),
      Seq("lang", "rn_b"))
    pairs
      .withColumn("i", size(array_intersect(col("toks_a"), col("toks_b")))
        .cast("long"))
      .withColumn("sa", size(col("toks_a")).cast("long"))
      .withColumn("sb", size(col("toks_b")).cast("long"))
      .withColumn("jacc_ppm", expr("i * 1000000L div (sa + sb - i)"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_candidates"),
        sum(when(col("jacc_ppm") >= 500000L, 1L).otherwise(0L))
          .as("n_matches"),
        max(col("jacc_ppm")).as("max_jacc_ppm"))
      .orderBy(col("lang"))
  }

  val q224_sql: String =
    """WITH d AS (
      |  SELECT doc_id, lang, n_chars,
      |    list_distinct(regexp_split_to_array(trim(text), '\s+')) AS toks
      |  FROM documents),
      |ranked AS (
      |  SELECT doc_id, lang, toks,
      |    row_number() OVER (PARTITION BY lang
      |      ORDER BY n_chars, doc_id) AS rn
      |  FROM d),
      |pairs AS (
      |  SELECT a.lang,
      |    len(list_intersect(a.toks, b.toks)) AS i,
      |    len(a.toks) AS sa, len(b.toks) AS sb
      |  FROM ranked a JOIN ranked b
      |    ON a.lang = b.lang AND b.rn - a.rn BETWEEN 1 AND 3),
      |j AS (
      |  SELECT lang, (i * 1000000) // (sa + sb - i) AS jacc_ppm
      |  FROM pairs)
      |SELECT lang, COUNT(*) AS n_candidates,
      |  CAST(SUM(CASE WHEN jacc_ppm >= 500000 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_matches,
      |  CAST(MAX(jacc_ppm) AS BIGINT) AS max_jacc_ppm
      |FROM j
      |GROUP BY lang
      |ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------------
  // q225 — Chao1 vocabulary richness + Good-Turing unseen mass per
  // language: from the corpus term-frequency spectrum, estimate how
  // much vocabulary the crawl has NOT seen yet (chao1 = V + f1(f1−1)
  // / 2(f2+1), bias-corrected form) and the probability the next token
  // is novel (Good-Turing p₀ = f1/N). The standard "is more data worth
  // crawling" diagnostic for a training corpus; complements q124's
  // Heaps-law growth curve with a closed-form asymptote.
  //
  // Scale shape: one explode + two groupBys, both with map-side
  // partial aggregation; the frequency-spectrum reduction (lang,c)
  // is tiny. Integer-exact throughout (ppm + floor-div).
  // ---------------------------------------------------------------------
  def q225_chao1_richness(spark: SparkSession, dir: String): DataFrame = {
    val tf = Tables.documents(spark, dir)
      .filter(trim(col("text")) =!= "")
      .select(col("lang"),
        explode(split(trim(col("text")), "\\s+")).as("tok"))
      .groupBy(col("lang"), col("tok"))
      .agg(count(lit(1)).as("c"))
    tf.groupBy(col("lang"))
      .agg(count(lit(1)).as("vocab"),
        sum(col("c")).as("n_tokens"),
        sum(when(col("c") === 1L, 1L).otherwise(0L)).as("f1"),
        sum(when(col("c") === 2L, 1L).otherwise(0L)).as("f2"))
      .withColumn("chao1",
        expr("vocab + (f1 * (f1 - 1)) div (2 * (f2 + 1))"))
      .withColumn("gt_unseen_ppm", expr("f1 * 1000000L div n_tokens"))
      .orderBy(col("lang"))
  }

  val q225_sql: String =
    """WITH tf AS (
      |  SELECT lang, tok, COUNT(*) AS c FROM (
      |    SELECT lang,
      |      unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
      |    FROM documents WHERE trim(text) <> '')
      |  GROUP BY lang, tok),
      |spec AS (
      |  SELECT lang, COUNT(*) AS vocab, SUM(c) AS n_tokens,
      |    SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS f1,
      |    SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS f2
      |  FROM tf GROUP BY lang)
      |SELECT lang, vocab, CAST(n_tokens AS BIGINT) AS n_tokens,
      |  CAST(f1 AS BIGINT) AS f1, CAST(f2 AS BIGINT) AS f2,
      |  CAST(vocab + (f1 * (f1 - 1)) // (2 * (f2 + 1)) AS BIGINT) AS chao1,
      |  CAST(f1 * 1000000 // n_tokens AS BIGINT) AS gt_unseen_ppm
      |FROM spec
      |ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------------
  // q226 — seasonal (hour-of-day) anomaly detection: bucket events into
  // (day, hour-of-day) cells, learn the per-hour-of-day baseline as the
  // mean count over observed cells, and surface the 20 cells whose
  // residual deviates most from their hour's seasonal norm. This is the
  // time-of-day-aware complement to q134's global rate anomaly — a 3am
  // burst is anomalous at 3am's baseline, not the corpus mean.
  //
  // Scale shape: one groupBy to cells (map-side combined), a 24-row
  // baseline broadcast back onto the cells, TakeOrdered(20). Fixed
  // ×100 residuals keep it integer-exact.
  // ---------------------------------------------------------------------
  def q226_seasonal_anomaly(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables.events(spark, dir)
      .select(expr("ts div 86400000000000").as("day"),
        expr("(ts div 3600000000000) % 24").as("hod"))
      .groupBy(col("day"), col("hod"))
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint(eager = true) // feeds baseline AND residual join
    val base = cells.groupBy(col("hod"))
      .agg(sum(col("cnt")).as("s"), count(lit(1)).as("nb"))
      .withColumn("baseline_x100", expr("s * 100 div nb"))
      .select(col("hod"), col("baseline_x100"))
    cells.join(broadcast(base), Seq("hod"))
      .withColumn("resid_x100", expr("cnt * 100 - baseline_x100"))
      .select(col("day"), col("hod"), col("cnt"), col("baseline_x100"),
        col("resid_x100"))
      .orderBy(abs(col("resid_x100")).desc, col("day"), col("hod"))
      .limit(20)
  }

  val q226_sql: String =
    """WITH cells AS (
      |  SELECT epoch_ns(ts) // 86400000000000 AS day,
      |    (epoch_ns(ts) // 3600000000000) % 24 AS hod,
      |    COUNT(*) AS cnt
      |  FROM events GROUP BY 1, 2),
      |base AS (
      |  SELECT hod,
      |    CAST((SUM(cnt) * 100) // COUNT(*) AS BIGINT) AS baseline_x100
      |  FROM cells GROUP BY hod)
      |SELECT day, cells.hod, cnt, baseline_x100,
      |  CAST(cnt * 100 - baseline_x100 AS BIGINT) AS resid_x100
      |FROM cells JOIN base ON cells.hod = base.hod
      |ORDER BY abs(cnt * 100 - baseline_x100) DESC, day, cells.hod
      |LIMIT 20""".stripMargin

  // ---------------------------------------------------------------------
  // q227 — Spearman rank correlation between document char length and
  // distinct-token count, per language: rank both features (ties broken
  // by doc_id so ranks are a permutation in BOTH engines), then
  // ρ = 1 − 6Σd²/(n(n²−1)). The monotone-association check a feature
  // audit runs before trusting a linear (Pearson) number — and because
  // it is rank-based, it is integer-exact until the single final
  // division (rounded to 6 decimals).
  //
  // Scale shape: two per-lang ranking windows over the same shuffle
  // key, then one groupBy. Σd² is summed as long (exact); n(n²−1)
  // fits long through sf1000.
  // ---------------------------------------------------------------------
  def q227_spearman_corr(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        size(array_distinct(split(trim(col("text")), "\\s+")))
          .cast("long").as("n_toks"))
    val byLang = Window.partitionBy(col("lang"))
    val ranked = docs
      .withColumn("r1", row_number().over(
        byLang.orderBy(col("n_chars"), col("doc_id"))).cast("long"))
      .withColumn("r2", row_number().over(
        byLang.orderBy(col("n_toks"), col("doc_id"))).cast("long"))
    ranked
      .withColumn("d2", expr("(r1 - r2) * (r1 - r2)"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("d2")).as("sum_d2"))
      .withColumn("spearman",
        when(col("n_docs") < 2, lit(null).cast("double"))
          .otherwise(round(
            lit(1.0) - lit(6.0) * col("sum_d2") /
              (col("n_docs") * (col("n_docs") * col("n_docs") - 1L)), 6)))
      .orderBy(col("lang"))
  }

  val q227_sql: String =
    """WITH d AS (
      |  SELECT doc_id, lang, n_chars,
      |    len(list_distinct(regexp_split_to_array(trim(text), '\s+')))
      |      AS n_toks
      |  FROM documents),
      |ranked AS (
      |  SELECT lang,
      |    row_number() OVER (PARTITION BY lang
      |      ORDER BY n_chars, doc_id) AS r1,
      |    row_number() OVER (PARTITION BY lang
      |      ORDER BY n_toks, doc_id) AS r2
      |  FROM d),
      |agg AS (
      |  SELECT lang, COUNT(*) AS n_docs,
      |    SUM((r1 - r2) * (r1 - r2)) AS sum_d2
      |  FROM ranked GROUP BY lang)
      |SELECT lang, n_docs, CAST(sum_d2 AS BIGINT) AS sum_d2,
      |  CASE WHEN n_docs < 2 THEN NULL
      |    ELSE round(1.0 - 6.0 * sum_d2 /
      |      (n_docs * (n_docs * n_docs - 1)), 6) END AS spearman
      |FROM agg
      |ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------------
  // q228 — corpus-level boilerplate-line detection: a line is
  // boilerplate when it recurs across ≥ 3 documents AND ≥ 5% of its
  // source's documents (nav bars, cookie banners, license headers —
  // the lines C4/RefinedWeb-style extraction strips). Complements
  // q125's INTRA-document line heuristics with the cross-document
  // frequency signal that only a corpus-wide pass can see.
  //
  // Scale shape: explode lines → per-doc distinct → one (source, line)
  // groupBy with map-side combine, then a tiny per-source doc-count
  // broadcast back onto the line spectrum. Line text never leaves the
  // groupBy key — no driver collection.
  // ---------------------------------------------------------------------
  def q228_boilerplate_lines(spark: SparkSession, dir: String)
      : DataFrame = {
    val docs = Tables.documents(spark, dir)
    val perSource = docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"))
    val lineDf = docs
      .select(col("doc_id"), col("source"),
        explode(split(col("text"), "\n")).as("line"))
      .withColumn("line", trim(col("line")))
      .filter(col("line") =!= "")
      .select(col("doc_id"), col("source"), col("line"))
      .distinct() // doc-frequency, not occurrence-frequency
      .groupBy(col("source"), col("line"))
      .agg(count(lit(1)).as("df"))
    lineDf.join(broadcast(perSource), Seq("source"))
      .withColumn("is_boiler",
        col("df") >= 3L && col("df") * 100L >= col("n_docs") * 5L)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_distinct_lines"),
        sum(when(col("is_boiler"), 1L).otherwise(0L))
          .as("n_boiler_lines"),
        sum(when(col("is_boiler"), col("df")).otherwise(0L))
          .as("boiler_doc_hits"))
      .orderBy(col("source"))
  }

  val q228_sql: String =
    """WITH per_source AS (
      |  SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source),
      |lines AS (
      |  SELECT DISTINCT doc_id, source, trim(line) AS line FROM (
      |    SELECT doc_id, source,
      |      unnest(str_split(text, chr(10))) AS line
      |    FROM documents)
      |  WHERE trim(line) <> ''),
      |spectrum AS (
      |  SELECT source, line, COUNT(*) AS df
      |  FROM lines GROUP BY source, line),
      |flagged AS (
      |  SELECT s.source, df,
      |    (df >= 3 AND df * 100 >= n_docs * 5) AS is_boiler
      |  FROM spectrum s JOIN per_source p ON s.source = p.source)
      |SELECT source, COUNT(*) AS n_distinct_lines,
      |  CAST(SUM(CASE WHEN is_boiler THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_boiler_lines,
      |  CAST(SUM(CASE WHEN is_boiler THEN df ELSE 0 END) AS BIGINT)
      |    AS boiler_doc_hits
      |FROM flagged
      |GROUP BY source
      |ORDER BY source""".stripMargin

  // ---------------------------------------------------------------------
  // q231 — intra-region market share (TPC-H Q8 shape): per order year,
  // what fraction of ASIA customers' purchase volume was supplied from
  // within ASIA. Exercises the full 6-table star breadth the way the
  // optimizer should at 100 TB: region→nation→customer/supplier reduce
  // to two small key sets (broadcast), orders carries the year, and
  // the ONE big shuffle is lineitem ⋈ orders on the order key.
  // Revenue is exact integer cents; the share divides 1e6 as two ×1e3
  // steps so the numerator never exceeds int64 at any realistic SF.
  // ---------------------------------------------------------------------
  def q231_market_share(spark: SparkSession, dir: String): DataFrame = {
    val asiaNations = Tables.nation(spark, dir)
      .join(broadcast(Tables.region(spark, dir)
          .filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"))
    val custAsia = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_nationkey"))
      .join(broadcast(asiaNations),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"))
    val ordAsia = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"),
        year(col("o_orderdate")).cast("long").as("yr"))
      .join(custAsia, col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("yr"))
    val suppAsia = Tables.supplier(spark, dir)
      .select(col("s_suppkey"), col("s_nationkey"))
      .join(broadcast(asiaNations),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), lit(true).as("is_local"))
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_suppkey"),
        floor(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
          * 100 + 0.5).cast("long").as("cents"))
      .join(ordAsia, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(suppAsia), col("l_suppkey") === col("s_suppkey"),
        "left_outer")
      .groupBy(col("yr"))
      .agg(sum(col("cents")).as("total_cents"),
        sum(when(col("is_local"), col("cents")).otherwise(0L))
          .as("local_cents"))
      .withColumn("share_ppm",
        expr("(local_cents * 1000) div " +
          "greatest(total_cents div 1000, 1L)"))
      .orderBy(col("yr"))
  }

  val q231_sql: String =
    """WITH asia AS (
      |  SELECT n_nationkey FROM nation JOIN region
      |    ON n_regionkey = r_regionkey
      |  WHERE r_name = 'ASIA'),
      |ord AS (
      |  SELECT o_orderkey, CAST(year(o_orderdate) AS BIGINT) AS yr
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  WHERE c_nationkey IN (SELECT n_nationkey FROM asia)),
      |li AS (
      |  SELECT l_orderkey,
      |    CAST(floor(l_extendedprice * (1.0 - l_discount) * 100 + 0.5)
      |      AS BIGINT) AS cents,
      |    l_suppkey IN (SELECT s_suppkey FROM supplier
      |      WHERE s_nationkey IN (SELECT n_nationkey FROM asia))
      |      AS is_local
      |  FROM lineitem),
      |agg AS (
      |  SELECT yr, CAST(SUM(cents) AS BIGINT) AS total_cents,
      |    CAST(SUM(CASE WHEN is_local THEN cents ELSE 0 END) AS BIGINT)
      |      AS local_cents
      |  FROM li JOIN ord ON l_orderkey = o_orderkey
      |  GROUP BY yr)
      |SELECT yr, total_cents, local_cents,
      |  CAST((local_cents * 1000) //
      |    greatest(total_cents // 1000, 1) AS BIGINT) AS share_ppm
      |FROM agg
      |ORDER BY yr""".stripMargin

  // ---------------------------------------------------------------------
  // q232 — precision/recall curve for the hashed quality classifier
  // (q107's fastText-shape scorer) against the length ground truth, at
  // five fixed integer thresholds: the eval sweep a filter tuning run
  // does before picking its operating point. tp/fp/fn counted in one
  // corpus pass × constant threshold fan-out; precision, recall, and
  // F1 in exact ppm (F1 from the ppm pair — 2pr/(p+r) — stays inside
  // int64). NULL when a denominator is empty, in both engines.
  // ---------------------------------------------------------------------
  def q232_pr_curve(spark: SparkSession, dir: String): DataFrame = {
    val scored = Tables.documents(spark, dir)
      .filter(trim(col("text")) =!= "")
      .select(
        graft.pipeline.TextAnalysis.hashedClassifierScore(col("text"))
          .as("score"),
        (col("n_chars") >= 200L).as("truth"))
    val thresholds = spark.createDataFrame(
      Seq(-500L, -250L, 0L, 250L, 500L).map(Tuple1(_))).toDF("t")
    scored.crossJoin(broadcast(thresholds))
      .groupBy(col("t"))
      .agg(
        sum(when(col("score") > col("t") && col("truth"), 1L)
          .otherwise(0L)).as("tp"),
        sum(when(col("score") > col("t") && !col("truth"), 1L)
          .otherwise(0L)).as("fp"),
        sum(when(col("score") <= col("t") && col("truth"), 1L)
          .otherwise(0L)).as("fn"))
      .withColumn("precision_ppm", expr(
        "case when tp + fp = 0 then null " +
          "else tp * 1000000L div (tp + fp) end"))
      .withColumn("recall_ppm", expr(
        "case when tp + fn = 0 then null " +
          "else tp * 1000000L div (tp + fn) end"))
      .withColumn("f1_ppm", expr(
        "case when precision_ppm is null or recall_ppm is null " +
          "or precision_ppm + recall_ppm = 0 then null " +
          "else 2 * precision_ppm * recall_ppm " +
          "div (precision_ppm + recall_ppm) end"))
      .orderBy(col("t"))
  }

  val q232_sql: String =
    s"""WITH t0 AS (
      |  SELECT doc_id, n_chars >= 200 AS truth,
      |    regexp_split_to_array(trim(text), '\\s+') AS tk
      |  FROM documents WHERE trim(text) <> ''),
      |e AS (SELECT doc_id, unnest(tk) AS tok FROM t0),
      |s AS (
      |  SELECT doc_id,
      |    ${graft.pipeline.TextAnalysis.hashedScoreSqlSum()} AS score
      |  FROM e GROUP BY doc_id),
      |scored AS (
      |  SELECT CAST(COALESCE(s.score, 0) AS BIGINT) AS score, truth
      |  FROM t0 LEFT JOIN s USING (doc_id)),
      |c AS (
      |  SELECT t,
      |    CAST(SUM(CASE WHEN score > t AND truth THEN 1 ELSE 0 END)
      |      AS BIGINT) AS tp,
      |    CAST(SUM(CASE WHEN score > t AND NOT truth THEN 1 ELSE 0 END)
      |      AS BIGINT) AS fp,
      |    CAST(SUM(CASE WHEN score <= t AND truth THEN 1 ELSE 0 END)
      |      AS BIGINT) AS fn
      |  FROM scored CROSS JOIN
      |    (VALUES (-500), (-250), (0), (250), (500)) AS th(t)
      |  GROUP BY t),
      |p AS (
      |  SELECT CAST(t AS BIGINT) AS t, tp, fp, fn,
      |    CASE WHEN tp + fp = 0 THEN NULL
      |      ELSE tp * 1000000 // (tp + fp) END AS precision_ppm,
      |    CASE WHEN tp + fn = 0 THEN NULL
      |      ELSE tp * 1000000 // (tp + fn) END AS recall_ppm
      |  FROM c)
      |SELECT t, tp, fp, fn, precision_ppm, recall_ppm,
      |  CASE WHEN precision_ppm IS NULL OR recall_ppm IS NULL
      |    OR precision_ppm + recall_ppm = 0 THEN NULL
      |    ELSE 2 * precision_ppm * recall_ppm //
      |      (precision_ppm + recall_ppm) END AS f1_ppm
      |FROM p
      |ORDER BY t""".stripMargin

  // ---------------------------------------------------------------------
  // q233 — gap filling with linear interpolation: bucket events at
  // 10-minute grain, build the full bucket spine between the observed
  // min and max, and fill each empty bucket by integer linear
  // interpolation between its nearest observed neighbors —
  // (prev·(next_t−t) + next·(t−prev_t)) div (next_t−prev_t). The
  // standard densification step before any fixed-step time-series
  // model sees the data; complements q174's calendar spine (which
  // zero-fills) with value RECONSTRUCTION.
  //
  // Scale shape: one groupBy to buckets, the spine exploded from a
  // 1-row min/max broadcast, and two IGNORE NULLS carry windows over
  // the spine — whose length is the CALENDAR span (O(minutes), here
  // 4.3k rows), not the corpus, so the single-partition window is
  // bounded by construction (registered in GateSpec's reviewed list).
  // ---------------------------------------------------------------------
  def q233_gap_interpolation(spark: SparkSession, dir: String)
      : DataFrame = {
    val buckets = Tables.events(spark, dir)
      .select(expr("ts div 600000000000").as("b"))
      .groupBy(col("b")).agg(count(lit(1)).as("cnt"))
    val spine = buckets.agg(min(col("b")).as("b0"), max(col("b")).as("b1"))
      .select(explode(sequence(col("b0"), col("b1"))).as("b"))
    val w = Window.orderBy(col("b"))
    val joined = spine.join(buckets, Seq("b"), "left_outer")
    joined
      .withColumn("prev_v", last(col("cnt"), ignoreNulls = true)
        .over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("prev_t", last(when(col("cnt").isNotNull, col("b")),
        ignoreNulls = true)
        .over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("next_v", first(col("cnt"), ignoreNulls = true)
        .over(w.rowsBetween(1, Window.unboundedFollowing)))
      .withColumn("next_t", first(when(col("cnt").isNotNull, col("b")),
        ignoreNulls = true)
        .over(w.rowsBetween(1, Window.unboundedFollowing)))
      .withColumn("is_interp", col("cnt").isNull.cast("int"))
      .withColumn("filled", when(col("cnt").isNotNull, col("cnt"))
        .otherwise(expr(
          "(prev_v * (next_t - b) + next_v * (b - prev_t)) " +
            "div (next_t - prev_t)")))
      .select(col("b"), col("filled"), col("is_interp"))
      .orderBy(col("b"))
  }

  val q233_sql: String =
    """WITH buckets AS (
      |  SELECT epoch_ns(ts) // 600000000000 AS b, COUNT(*) AS cnt
      |  FROM events GROUP BY 1),
      |bounds AS (SELECT MIN(b) AS b0, MAX(b) AS b1 FROM buckets),
      |spine AS (
      |  SELECT unnest(generate_series(b0, b1)) AS b FROM bounds),
      |j AS (
      |  SELECT spine.b, cnt FROM spine
      |  LEFT JOIN buckets ON spine.b = buckets.b),
      |carried AS (
      |  SELECT b, cnt,
      |    last_value(cnt IGNORE NULLS) OVER
      |      (ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |      AS prev_v,
      |    last_value(CASE WHEN cnt IS NOT NULL THEN b END IGNORE NULLS)
      |      OVER (ORDER BY b
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_t,
      |    first_value(cnt IGNORE NULLS) OVER
      |      (ORDER BY b ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
      |      AS next_v,
      |    first_value(CASE WHEN cnt IS NOT NULL THEN b END IGNORE NULLS)
      |      OVER (ORDER BY b
      |        ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_t
      |  FROM j)
      |SELECT b,
      |  CAST(CASE WHEN cnt IS NOT NULL THEN cnt
      |    ELSE (prev_v * (next_t - b) + next_v * (b - prev_t))
      |      // (next_t - prev_t) END AS BIGINT) AS filled,
      |  CASE WHEN cnt IS NULL THEN 1 ELSE 0 END AS is_interp
      |FROM carried
      |ORDER BY b""".stripMargin

  // ---------------------------------------------------------------------
  // q234 — join fan-out profile over the star schema's FK edges: for
  // each parent→child edge, the children-per-parent distribution
  // (min/max/avg, plus max/avg skew). These are the statistics a
  // cost-based join planner (and a human sizing a 100 TB shuffle)
  // needs — q145 answers "is this a valid FK", this answers "what does
  // joining through it COST". One map-side-combined groupBy per edge,
  // then a one-row reduction; edges union into a metadata-sized result.
  // ---------------------------------------------------------------------
  def q234_fanout_profile(spark: SparkSession, dir: String): DataFrame = {
    def prof(edge: String, child: DataFrame, key: String): DataFrame =
      child.groupBy(col(key)).agg(count(lit(1)).as("c"))
        .agg(count(lit(1)).as("n_parents"), sum(col("c")).as("n_children"),
          min(col("c")).as("min_fanout"), max(col("c")).as("max_fanout"))
        .select(lit(edge).as("edge"), col("n_parents"), col("n_children"),
          col("min_fanout"), col("max_fanout"),
          expr("n_children * 100 div n_parents").as("avg_fanout_x100"),
          expr("max_fanout * 10000 div " +
            "(n_children * 100 div n_parents)").as("skew_x100"))
    val li = Tables.lineitem(spark, dir)
    prof("customer->orders", Tables.orders(spark, dir), "o_custkey")
      .unionByName(prof("orders->lineitem", li, "l_orderkey"))
      .unionByName(prof("part->lineitem", li, "l_partkey"))
      .unionByName(prof("supplier->lineitem", li, "l_suppkey"))
      .orderBy(col("edge"))
  }

  val q234_sql: String = {
    def arm(edge: String, table: String, key: String): String =
      s"""SELECT '$edge' AS edge, COUNT(*) AS n_parents,
         |  CAST(SUM(c) AS BIGINT) AS n_children,
         |  CAST(MIN(c) AS BIGINT) AS min_fanout,
         |  CAST(MAX(c) AS BIGINT) AS max_fanout,
         |  CAST(SUM(c) * 100 // COUNT(*) AS BIGINT) AS avg_fanout_x100,
         |  CAST(MAX(c) * 10000 // (SUM(c) * 100 // COUNT(*)) AS BIGINT)
         |    AS skew_x100
         |FROM (SELECT $key, COUNT(*) AS c FROM $table GROUP BY $key)"""
        .stripMargin
    Seq(arm("customer->orders", "orders", "o_custkey"),
      arm("orders->lineitem", "lineitem", "l_orderkey"),
      arm("part->lineitem", "lineitem", "l_partkey"),
      arm("supplier->lineitem", "lineitem", "l_suppkey"))
      .mkString("", "\nUNION ALL\n", "\nORDER BY edge")
  }

  // ---------------------------------------------------------------------
  // q235 — vocabulary shift between corpus halves: split documents at
  // the median doc_id (old crawl vs new crawl), compute each token's
  // share of its half's token mass, and surface the 20 tokens whose
  // share moved most. The drift diagnostic a recurring-crawl pipeline
  // runs before retraining tokenizers or mixing snapshots; complements
  // q142 (schema types) and q175 (source mix) with TOKEN-level drift.
  //
  // Scale shape: one explode + one conditional-aggregation groupBy
  // (both halves counted in a single pass — no per-half scans), the
  // two totals broadcast back, TakeOrdered(20). A df≥50 floor keeps
  // rare-token noise out of the ranking (and the tie-space small).
  // ---------------------------------------------------------------------
  def q235_vocab_shift(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .filter(trim(col("text")) =!= "")
    val bounds = docs.agg(min(col("doc_id")).as("d0"),
      max(col("doc_id")).as("d1"))
    val toks = docs
      .select(col("doc_id"),
        explode(split(trim(col("text")), "\\s+")).as("tok"))
      .crossJoin(broadcast(bounds))
      .withColumn("in_b", col("doc_id") * 2 > col("d0") + col("d1"))
    val counts = toks.groupBy(col("tok"))
      .agg(sum(when(!col("in_b"), 1L).otherwise(0L)).as("cnt_a"),
        sum(when(col("in_b"), 1L).otherwise(0L)).as("cnt_b"))
    val totals = counts.agg(sum(col("cnt_a")).as("ta"),
      sum(col("cnt_b")).as("tb"))
    counts.filter(col("cnt_a") + col("cnt_b") >= 50L)
      .crossJoin(broadcast(totals))
      .withColumn("share_a_ppm", expr("cnt_a * 1000000L div ta"))
      .withColumn("share_b_ppm", expr("cnt_b * 1000000L div tb"))
      .withColumn("delta_ppm", expr("share_b_ppm - share_a_ppm"))
      .select(col("tok"), col("cnt_a"), col("cnt_b"),
        col("share_a_ppm"), col("share_b_ppm"), col("delta_ppm"))
      .orderBy(abs(col("delta_ppm")).desc, col("tok"))
      .limit(20)
  }

  val q235_sql: String =
    """WITH docs AS (
      |  SELECT doc_id, text FROM documents WHERE trim(text) <> ''),
      |bounds AS (
      |  SELECT MIN(doc_id) AS d0, MAX(doc_id) AS d1 FROM docs),
      |toks AS (
      |  SELECT doc_id * 2 > d0 + d1 AS in_b, tok FROM (
      |    SELECT doc_id,
      |      unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
      |    FROM docs) CROSS JOIN bounds),
      |counts AS (
      |  SELECT tok,
      |    CAST(SUM(CASE WHEN in_b THEN 0 ELSE 1 END) AS BIGINT) AS cnt_a,
      |    CAST(SUM(CASE WHEN in_b THEN 1 ELSE 0 END) AS BIGINT) AS cnt_b
      |  FROM toks GROUP BY tok),
      |totals AS (
      |  SELECT CAST(SUM(cnt_a) AS BIGINT) AS ta,
      |    CAST(SUM(cnt_b) AS BIGINT) AS tb FROM counts),
      |shares AS (
      |  SELECT tok, cnt_a, cnt_b,
      |    cnt_a * 1000000 // ta AS share_a_ppm,
      |    cnt_b * 1000000 // tb AS share_b_ppm
      |  FROM counts CROSS JOIN totals
      |  WHERE cnt_a + cnt_b >= 50)
      |SELECT tok, cnt_a, cnt_b, share_a_ppm, share_b_ppm,
      |  share_b_ppm - share_a_ppm AS delta_ppm
      |FROM shares
      |ORDER BY abs(share_b_ppm - share_a_ppm) DESC, tok
      |LIMIT 20""".stripMargin

  // ---------------------------------------------------------------------
  // q241 — pairwise source vocabulary overlap: Jaccard similarity of
  // the distinct-token sets of every source pair. The redundancy map a
  // corpus-mixing decision reads — two sources with near-identical
  // vocabularies contribute less marginal diversity than their row
  // counts suggest (complements q119's doc-level duplicate attribution
  // with a DISTRIBUTION-level view).
  //
  // Scale shape: one distinct to (source, tok), a token-keyed
  // self-join whose per-token fan-out is bounded by (sources choose 2)
  // — a metadata constant, not data — then broadcast size joins onto
  // the pair counts.
  // ---------------------------------------------------------------------
  def q241_source_token_overlap(spark: SparkSession, dir: String)
      : DataFrame = {
    val vocab = Tables.documents(spark, dir)
      .filter(trim(col("text")) =!= "")
      .select(col("source"),
        explode(split(trim(col("text")), "\\s+")).as("tok"))
      .distinct()
      .localCheckpoint(eager = true) // sizes + both join sides
    val sizes = vocab.groupBy(col("source"))
      .agg(count(lit(1)).as("sz"))
    val inter = vocab.as("a").join(vocab.as("b"),
        col("a.tok") === col("b.tok") &&
          col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(broadcast(sizes.toDF("src_a", "sz_a")), Seq("src_a"))
      .join(broadcast(sizes.toDF("src_b", "sz_b")), Seq("src_b"))
      .withColumn("jaccard_ppm",
        expr("inter * 1000000L div (sz_a + sz_b - inter)"))
      .select(col("src_a"), col("src_b"), col("inter"), col("sz_a"),
        col("sz_b"), col("jaccard_ppm"))
      .orderBy(col("src_a"), col("src_b"))
  }

  val q241_sql: String =
    """WITH vocab AS (
      |  SELECT DISTINCT source, tok FROM (
      |    SELECT source,
      |      unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
      |    FROM documents WHERE trim(text) <> '')),
      |sizes AS (
      |  SELECT source, COUNT(*) AS sz FROM vocab GROUP BY source),
      |inter AS (
      |  SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS inter
      |  FROM vocab a JOIN vocab b
      |    ON a.tok = b.tok AND a.source < b.source
      |  GROUP BY a.source, b.source)
      |SELECT src_a, src_b, inter, sa.sz AS sz_a, sb.sz AS sz_b,
      |  inter * 1000000 // (sa.sz + sb.sz - inter) AS jaccard_ppm
      |FROM inter
      |JOIN sizes sa ON src_a = sa.source
      |JOIN sizes sb ON src_b = sb.source
      |ORDER BY src_a, src_b""".stripMargin

  // ---------------------------------------------------------------------
  // q246 — n-gram novelty between corpus halves: what fraction (ppm)
  // of the newer half's distinct bigrams never appeared in the older
  // half, per language. The crawl-freshness metric behind "is this
  // snapshot adding new content or re-serving the old web" —
  // complements q235 (share drift of EXISTING tokens) with the
  // appearance rate of NEW constructions, and q124's Heaps curve with
  // a two-snapshot contrast.
  //
  // Scale shape: one tokenize-once bigram explode (the q203-lesson
  // shingleRows projection shape), ONE shuffle to (lang, shingle)
  // half-presence flags, then a per-lang metadata-sized reduction.
  // ---------------------------------------------------------------------
  def q246_ngram_novelty(spark: SparkSession, dir: String): DataFrame = {
    import graft.pipeline.{Dedup, TextAnalysis}
    val docs = Tables.documents(spark, dir)
      .filter(trim(col("text")) =!= "")
    val bounds = docs.agg(min(col("doc_id")).as("d0"),
      max(col("doc_id")).as("d1"))
    val sh = docs.crossJoin(broadcast(bounds))
      .select(col("lang"),
        (col("doc_id") * 2 > col("d0") + col("d1")).as("in_b"),
        TextAnalysis.tokens(col("text")).as("_toks"))
      .select(col("lang"), col("in_b"),
        explode(Dedup.shinglesFromToks(col("_toks"), 2)).as("shingle"))
    val flags = sh.groupBy(col("lang"), col("shingle"))
      .agg(max(when(!col("in_b"), 1).otherwise(0)).as("has_old"),
        max(when(col("in_b"), 1).otherwise(0)).as("has_new"))
    flags.groupBy(col("lang"))
      .agg(sum(col("has_old")).as("n_old"),
        sum(col("has_new")).as("n_new"),
        sum(when(col("has_new") === 1 && col("has_old") === 0, 1L)
          .otherwise(0L)).as("n_novel"))
      .withColumn("novelty_ppm", expr(
        "case when n_new = 0 then null " +
          "else n_novel * 1000000L div n_new end"))
      .orderBy(col("lang"))
  }

  val q246_sql: String =
    """WITH docs AS (
      |  SELECT doc_id, lang,
      |    regexp_split_to_array(trim(text), '\s+') AS t
      |  FROM documents WHERE trim(text) <> ''),
      |bounds AS (SELECT MIN(doc_id) AS d0, MAX(doc_id) AS d1 FROM docs),
      |sh AS (
      |  SELECT lang, doc_id * 2 > d0 + d1 AS in_b,
      |    unnest([t[i] || ' ' || t[i + 1]
      |            FOR i IN generate_series(1, len(t) - 1)]) AS shingle
      |  FROM docs CROSS JOIN bounds WHERE len(t) >= 2),
      |flags AS (
      |  SELECT lang, shingle,
      |    MAX(CASE WHEN in_b THEN 0 ELSE 1 END) AS has_old,
      |    MAX(CASE WHEN in_b THEN 1 ELSE 0 END) AS has_new
      |  FROM sh GROUP BY lang, shingle)
      |SELECT lang,
      |  CAST(SUM(has_old) AS BIGINT) AS n_old,
      |  CAST(SUM(has_new) AS BIGINT) AS n_new,
      |  CAST(SUM(CASE WHEN has_new = 1 AND has_old = 0 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_novel,
      |  CASE WHEN SUM(has_new) = 0 THEN NULL
      |    ELSE CAST(SUM(CASE WHEN has_new = 1 AND has_old = 0
      |      THEN 1 ELSE 0 END) * 1000000 // SUM(has_new) AS BIGINT) END
      |    AS novelty_ppm
      |FROM flags
      |GROUP BY lang
      |ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------------
  // q248 — Bowley quartile skewness of document length per source:
  // (Q3 + Q1 − 2·Q2) ·1000 / (Q3 − Q1), the robust skewness a corpus
  // profile reports when means are distorted by a heavy tail. Exact
  // quartiles via the distributed-CDF shape (per-(source, n_chars)
  // counts + a cumsum window over the tiny spectrum — never
  // percentile_disc's value buffer), so the statistic is integer-exact.
  // Zero-IQR (degenerate) groups report NULL rather than dividing by 0.
  // ---------------------------------------------------------------------
  def q248_length_skew(spark: SparkSession, dir: String): DataFrame = {
    graft.pipeline.Frequency.cdfPercentiles(
        Tables.documents(spark, dir).select(col("source"),
          col("n_chars")),
        Seq("source"), "n_chars",
        Seq(("q1", 1, 4), ("q2", 1, 2), ("q3", 3, 4)))
      .select(col("source"), col("n_rows").as("n_docs"), col("q1"),
        col("q2"), col("q3"))
      .withColumn("bowley_x1000", expr(
        "case when q3 = q1 then null " +
          "else (q3 + q1 - 2 * q2) * 1000 div (q3 - q1) end"))
      .orderBy(col("source"))
  }

  val q248_sql: String =
    """WITH spectrum AS (
      |  SELECT source, n_chars, COUNT(*) AS c
      |  FROM documents GROUP BY source, n_chars),
      |cdf AS (
      |  SELECT source, n_chars, c,
      |    SUM(c) OVER (PARTITION BY source ORDER BY n_chars) AS cum,
      |    SUM(c) OVER (PARTITION BY source) AS n
      |  FROM spectrum),
      |q AS (
      |  SELECT source, CAST(MIN(n) AS BIGINT) AS n_docs,
      |    CAST(MIN(CASE WHEN cum * 4 >= n THEN n_chars END) AS BIGINT)
      |      AS q1,
      |    CAST(MIN(CASE WHEN cum * 2 >= n THEN n_chars END) AS BIGINT)
      |      AS q2,
      |    CAST(MIN(CASE WHEN cum * 4 >= n * 3 THEN n_chars END)
      |      AS BIGINT) AS q3
      |  FROM cdf GROUP BY source)
      |SELECT source, n_docs, q1, q2, q3,
      |  CASE WHEN q3 = q1 THEN NULL
      |    ELSE (q3 + q1 - 2 * q2) * 1000 // (q3 - q1) END
      |    AS bowley_x1000
      |FROM q
      |ORDER BY source""".stripMargin

  val registry: graft.SparkEntry.Registry = Seq(
    ("q224_sorted_neighborhood", q224_sorted_neighborhood _, q224_sql),
    ("q225_chao1_richness", q225_chao1_richness _, q225_sql),
    ("q226_seasonal_anomaly", q226_seasonal_anomaly _, q226_sql),
    ("q227_spearman_corr", q227_spearman_corr _, q227_sql),
    ("q228_boilerplate_lines", q228_boilerplate_lines _, q228_sql),
    ("q231_market_share", q231_market_share _, q231_sql),
    ("q232_pr_curve", q232_pr_curve _, q232_sql),
    ("q233_gap_interpolation", q233_gap_interpolation _, q233_sql),
    ("q234_fanout_profile", q234_fanout_profile _, q234_sql),
    ("q235_vocab_shift", q235_vocab_shift _, q235_sql),
    ("q241_source_token_overlap", q241_source_token_overlap _, q241_sql),
    ("q246_ngram_novelty", q246_ngram_novelty _, q246_sql),
    ("q248_length_skew", q248_length_skew _, q248_sql))
}
