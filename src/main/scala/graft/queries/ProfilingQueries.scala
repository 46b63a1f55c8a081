package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.pipeline.TextAnalysis

/** Statistical-profiling operators for corpus curation at scale:
  * PCA sufficient statistics over embeddings, t-closeness privacy
  * audit, KMV sketch set-intersection estimation, and robust
  * (median/MAD) outlier detection.
  *
  * All four follow the suite's determinism contract: doubles are
  * quantized to integers at the scan (`floor(x·scale + 0.5)`) and
  * every downstream step is integer arithmetic, so the DuckDB oracles
  * are bit-identical.
  */
object ProfilingQueries {

  // ---------------------------------------------------------------------
  // q201 — PCA / whitening sufficient statistics: the (dim_i, dim_j)
  // co-moment sums over the embedding matrix, from which covariance,
  // correlation, and the eigenbasis all derive (cov = (n·s_ij −
  // s_i·s_j)/n²). This is THE single-pass reduction behind distributed
  // PCA: executors emit 36 partial sums each (map-side combine), the
  // driver assembles the 8×8 matrix and runs the O(d³) eigen step
  // locally — never a second data pass.
  //
  // Scale shape: one scan, a row-local ×36 pair explode (constant
  // fan-out, no join — the self-join formulation would shuffle the
  // corpus on vec_id; this shuffles 36 groups), partial aggregation
  // before the one tiny exchange. Components quantized at 1e4 (floats
  // are exact in double, so both engines quantize identically);
  // products at corpus scale stay far inside int64: |x̂|≤10⁴ ⇒
  // |x̂·x̂|≤10⁸ ⇒ safe to ~9·10¹⁰ rows per dim pair.
  // ---------------------------------------------------------------------
  private val CovDims = 8

  def q201_embed_covariance(spark: SparkSession, dir: String): DataFrame = {
    def qd(i: Int): Column =
      floor(element_at(col("embedding"), i + 1).cast("double") * 10000
        + 0.5).cast("long")
    val pairs = for { i <- 0 until CovDims; j <- i until CovDims } yield
      struct(lit(i).as("dim_i"), lit(j).as("dim_j"),
        qd(i).as("xi"), qd(j).as("xj"))
    Tables.embeddings(spark, dir)
      .select(explode(array(pairs: _*)).as("p"))
      .select(col("p.dim_i"), col("p.dim_j"), col("p.xi"), col("p.xj"))
      .groupBy(col("dim_i"), col("dim_j"))
      .agg(count(lit(1)).as("n"),
        sum(col("xi")).as("s_i"),
        sum(col("xj")).as("s_j"),
        sum(col("xi") * col("xj")).as("s_ij"))
      .orderBy(col("dim_i"), col("dim_j"))
  }

  val q201_sql: String = {
    val es = (0 until CovDims).map { i =>
      s"CAST(floor(CAST(embedding[${i + 1}] AS DOUBLE) * 10000 + 0.5) " +
        s"AS BIGINT) AS e$i"
    }.mkString(", ")
    val arms = for { i <- 0 until CovDims; j <- i until CovDims } yield
      s"""SELECT $i AS dim_i, $j AS dim_j, COUNT(*) AS n,
         |  CAST(SUM(e$i) AS BIGINT) AS s_i,
         |  CAST(SUM(e$j) AS BIGINT) AS s_j,
         |  CAST(SUM(e$i * e$j) AS BIGINT) AS s_ij FROM q""".stripMargin
    s"WITH q AS (SELECT $es FROM embeddings)\n" +
      arms.mkString("", "\nUNION ALL\n", "\nORDER BY dim_i, dim_j")
  }

  // ---------------------------------------------------------------------
  // q202 — t-closeness audit (Li/Li/Venkatasubramanian 2007), the
  // third rung of the privacy-audit ladder after k-anonymity (q178)
  // and l-diversity (q188): for each quasi-identifier group, the
  // earth-mover's distance between the group's distribution over an
  // ORDERED sensitive attribute and the global distribution. For B
  // equal-spaced buckets, EMD = (Σ_{b<B−1} |CumP(b) − CumQ(b)|)/(B−1).
  // Groups: o_orderpriority; sensitive attribute: o_totalprice in 10
  // fixed-width 50k buckets (fixed width keeps bucketing deterministic
  // and scan-local — ntile would force a global sort).
  //
  // Scale shape: one groupBy(grp, bucket) with map-side combine, then
  // all arithmetic on the GROUPS×BUCKETS grid (≤ a few thousand rows
  // at any corpus scale). The dense bucket spine is a broadcast cross
  // of two tiny distinct sets.
  // ---------------------------------------------------------------------
  private val TBuckets = 10

  def q202_tcloseness(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir).select(
      col("o_orderpriority").as("grp"),
      least(floor(col("o_totalprice") / 50000).cast("long"),
        lit(TBuckets - 1L)).as("bucket"))
    val cnt = o.groupBy(col("grp"), col("bucket"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint(eager = true) // feeds spine, per-group, global
    val groups = cnt.select(col("grp")).distinct()
    val spine = groups.crossJoin(
      broadcast(spark.range(TBuckets).select(col("id").as("bucket"))))
    val dense = spine.join(cnt, Seq("grp", "bucket"), "left_outer")
      .select(col("grp"), col("bucket"),
        coalesce(col("c"), lit(0L)).as("c"))
    val nG = cnt.groupBy(col("grp")).agg(sum(col("c")).as("n_g"))
    val globalB = cnt.groupBy(col("bucket")).agg(sum(col("c")).as("gc"))
    val nAll = cnt.agg(sum(col("c")).as("n_all"))
    val w = Window.partitionBy(col("grp")).orderBy(col("bucket"))
    val wg = Window.orderBy(col("bucket")) // ≤ TBuckets rows: bounded
    val globalCum = spine.select(col("bucket")).distinct()
      .join(globalB, Seq("bucket"), "left_outer")
      .select(col("bucket"), coalesce(col("gc"), lit(0L)).as("gc"))
      .withColumn("cum_g", sum(col("gc")).over(wg))
    dense
      .withColumn("cum", sum(col("c")).over(w))
      .join(broadcast(nG), Seq("grp"))
      .join(broadcast(globalCum.select(col("bucket"), col("cum_g"))),
        Seq("bucket"))
      .crossJoin(broadcast(nAll))
      .filter(col("bucket") < TBuckets - 1) // last prefix diff is 0
      .select(col("grp"),
        abs(expr("cum * 1000000 div n_g")
          - expr("cum_g * 1000000 div n_all")).as("d"))
      .groupBy(col("grp"))
      .agg(expr(s"sum(d) div ${TBuckets - 1}").as("t_ppm"))
      .orderBy(col("grp"))
  }

  val q202_sql: String =
    s"""WITH o AS (
       |  SELECT o_orderpriority AS grp,
       |    LEAST(CAST(floor(o_totalprice / 50000) AS BIGINT),
       |          ${TBuckets - 1}) AS bucket
       |  FROM orders),
       |cnt AS (
       |  SELECT grp, bucket, COUNT(*) AS c FROM o GROUP BY 1, 2),
       |spine AS (
       |  SELECT g.grp, b.bucket
       |  FROM (SELECT DISTINCT grp FROM cnt) g
       |  CROSS JOIN (SELECT CAST(range AS BIGINT) AS bucket
       |              FROM range(0, $TBuckets)) b),
       |dense AS (
       |  SELECT s.grp, s.bucket, COALESCE(c.c, 0) AS c
       |  FROM spine s LEFT JOIN cnt c
       |    ON c.grp = s.grp AND c.bucket = s.bucket),
       |ng AS (SELECT grp, CAST(SUM(c) AS BIGINT) AS n_g
       |       FROM cnt GROUP BY 1),
       |gb AS (
       |  SELECT bucket, CAST(SUM(c) AS BIGINT) AS gc
       |  FROM dense GROUP BY 1),
       |gcum AS (
       |  SELECT bucket, CAST(SUM(gc) OVER (ORDER BY bucket) AS BIGINT)
       |    AS cum_g
       |  FROM gb),
       |na AS (SELECT CAST(SUM(c) AS BIGINT) AS n_all FROM cnt),
       |pre AS (
       |  SELECT d.grp,
       |    ABS((CAST(SUM(d.c) OVER (PARTITION BY d.grp
       |           ORDER BY d.bucket) AS BIGINT) * 1000000) // ng.n_g
       |      - (gcum.cum_g * 1000000) // na.n_all) AS dd,
       |    d.bucket
       |  FROM dense d
       |  JOIN ng ON ng.grp = d.grp
       |  JOIN gcum ON gcum.bucket = d.bucket
       |  CROSS JOIN na)
       |SELECT grp, CAST(SUM(dd) AS BIGINT) // ${TBuckets - 1} AS t_ppm
       |FROM pre WHERE bucket < ${TBuckets - 1}
       |GROUP BY grp ORDER BY grp""".stripMargin

  // ---------------------------------------------------------------------
  // q203 — KMV sketch set-INTERSECTION estimation (Beyer et al. 2007;
  // the theta-sketch workhorse): split the corpus BIGRAM space into
  // two sets (even- vs odd-numbered sources; bigrams because the
  // synthetic unigram vocabulary is ~31 — smaller than k, which would
  // make the sketch trivially exact), keep the k=64 minimum bigram
  // hashes of each, and estimate |A∪B|, Jaccard, and |A∩B| purely
  // from the two sketches — sketch(A∪B)'s k minima are computable
  // from sketch(A) ∪ sketch(B) (KMV mergeability), and the fraction
  // of those minima present in BOTH member sketches estimates
  // Jaccard (ρ = matches / |union sketch|). Reported against exact
  // values for calibration.
  //
  // Scale shape: the per-set sketches are windows over the distinct
  // bigram hashes partitioned by set (2 partitions of the distinct
  // bigram space — at real scale this is the classic per-shard
  // partial-sketch + tiny merge); everything after operates on ≤ 2k
  // = 128 rows, so the "global" window is bounded by construction.
  // ---------------------------------------------------------------------
  private val KmvK = 64

  def q203_kmv_intersection(spark: SparkSession, dir: String): DataFrame = {
    // shingleRows materializes the token array in its own projection
    // first — the inline-shingles form re-tokenized the text once per
    // bigram (O(tokens²) per row; measured 2× the whole-query time)
    val toks = graft.pipeline.Dedup.shingleRows(
        Tables.documents(spark, dir).select(
          (expr("cast(substring(source, 4, 10) as int) % 2") === 0)
            .as("ev"), col("text")),
        "ev", "text", n = 2)
      .select(col("doc").as("even"), col("shingle").as("tok"))
      .distinct()
      .localCheckpoint(eager = true) // one scan feeds sketches AND exact
    val hashed = toks.withColumn("h",
      conv(substring(md5(col("tok")), 1, 15), 16, 10).cast("long"))
    // two-phase k-min (Ranks.twoPhaseKMin): a bare partitionBy(even)
    // would sort HALF THE CORPUS VOCABULARY in one window partition
    val sketches = graft.pipeline.Ranks
      .twoPhaseKMin(hashed, "even", "h", "tok", KmvK)
      .select(col("even"), col("h"))
      .localCheckpoint(eager = true) // ≤ 2k rows; feeds union + both sides
    // k minima of A∪B from the member sketches (mergeability)
    val wu = Window.orderBy(col("h")) // ≤ 2k rows: bounded by construction
    val unionMin = sketches.select(col("h")).distinct()
      .withColumn("rn", row_number().over(wu))
      .filter(col("rn") <= KmvK)
    val kth = unionMin.agg(max(col("h")).as("kth"),
      count(lit(1)).as("cnt"))
    val inA = sketches.filter(col("even")).select(col("h"))
    val inB = sketches.filter(!col("even")).select(col("h"))
    val matches = unionMin.join(inA, Seq("h"), "left_semi")
      .join(inB, Seq("h"), "left_semi")
      .agg(count(lit(1)).as("matches"))
    val exact = toks
      .groupBy(col("tok"))
      .agg(countDistinct(col("even")).as("sides"))
      .agg(count(lit(1)).as("exact_union"),
        count(when(col("sides") === 2, 1)).as("exact_intersection"))
    kth.crossJoin(matches).crossJoin(exact)
      .select(lit(KmvK).as("k"),
        when(col("cnt") < KmvK, col("cnt"))
          .otherwise(floor(lit((KmvK - 1).toDouble) *
            lit(1152921504606846976.0) / col("kth")).cast("long"))
          .as("est_union"),
        col("matches"),
        // ρ denominator is the union-sketch SIZE (< k when the union
        // itself is smaller than k, where the sketch is exact)
        expr("matches * 1000000 div cnt").as("jaccard_ppm"),
        col("cnt"), col("exact_union"), col("exact_intersection"))
      .withColumn("est_intersection",
        expr("matches * est_union div cnt"))
      .select(col("k"), col("est_union"), col("matches"),
        col("jaccard_ppm"), col("est_intersection"),
        col("exact_union"), col("exact_intersection"))
  }

  val q203_sql: String =
    s"""WITH t AS (
       |  SELECT source, regexp_split_to_array(trim(text), '\\s+') AS a
       |  FROM documents WHERE trim(text) <> ''),
       |toks AS (
       |  SELECT DISTINCT
       |    (CAST(substr(source, 4, 10) AS INTEGER) % 2 = 0) AS even, tok
       |  FROM (
       |    SELECT source,
       |      unnest([a[i] || ' ' || a[i + 1]
       |              FOR i IN generate_series(1, len(a) - 1)]) AS tok
       |    FROM t WHERE len(a) >= 2)),
       |h AS (
       |  SELECT even, tok,
       |    CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS h
       |  FROM toks),
       |sk AS (
       |  SELECT even, h FROM (
       |    SELECT even, h, ROW_NUMBER() OVER (
       |      PARTITION BY even ORDER BY h, tok) AS rn
       |    FROM h) WHERE rn <= $KmvK),
       |un AS (
       |  SELECT h FROM (
       |    SELECT h, ROW_NUMBER() OVER (ORDER BY h) AS rn
       |    FROM (SELECT DISTINCT h FROM sk)) WHERE rn <= $KmvK),
       |kth AS (SELECT MAX(h) AS kth, COUNT(*) AS cnt FROM un),
       |m AS (
       |  SELECT COUNT(*) AS matches FROM un
       |  WHERE EXISTS (SELECT 1 FROM sk WHERE sk.even AND sk.h = un.h)
       |    AND EXISTS (SELECT 1 FROM sk WHERE NOT sk.even
       |                AND sk.h = un.h)),
       |ex AS (
       |  SELECT COUNT(*) AS exact_union,
       |    COUNT(*) FILTER (WHERE sides = 2) AS exact_intersection
       |  FROM (SELECT tok, COUNT(DISTINCT even) AS sides
       |        FROM toks GROUP BY 1)),
       |est AS (
       |  SELECT $KmvK AS k,
       |    CASE WHEN kth.cnt < $KmvK THEN kth.cnt
       |      ELSE CAST(floor(${KmvK - 1}.0 * 1152921504606846976.0
       |                      / kth.kth) AS BIGINT) END AS est_union,
       |    m.matches,
       |    (m.matches * 1000000) // kth.cnt AS jaccard_ppm,
       |    kth.cnt AS cnt
       |  FROM kth CROSS JOIN m)
       |SELECT est.k, est.est_union, est.matches, est.jaccard_ppm,
       |  (est.matches * est.est_union) // est.cnt AS est_intersection,
       |  ex.exact_union, ex.exact_intersection
       |FROM est CROSS JOIN ex""".stripMargin

  // ---------------------------------------------------------------------
  // q204 — robust per-group outlier detection (median/MAD): for each
  // event_type, the exact lower median of the event value, the median
  // absolute deviation, and how many events sit beyond 3·MAD — the
  // outlier rule that, unlike z-scores, is not itself dragged by the
  // outliers. Values quantized to cents.
  //
  // Scale shape: both medians ride the distributed-CDF shape (q76/
  // q114): aggregate to (group, value)→count FIRST, then window over
  // the per-group DISTINCT VALUE sets — partition width is bounded by
  // the value domain (~50k here), never by row count. Two CDF passes
  // (median, then MAD over deviations), one groupBy each.
  // ---------------------------------------------------------------------
  /** Exact lower median per group from a (grp, v, c) counts table:
    * smallest v whose cumulative count reaches ceil(n/2). */
  private def groupedLowerMedian(counts: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("grp")).orderBy(col("v"))
    counts
      .withColumn("cum", sum(col("c")).over(w))
      .join(counts.groupBy(col("grp")).agg(sum(col("c")).as("n")),
        Seq("grp"))
      .filter(col("cum") >= expr("(n + 1) div 2"))
      .groupBy(col("grp"))
      .agg(min(col("v")).as("med"))
  }

  def q204_robust_outliers(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select(
      col("event_type").as("grp"),
      floor(col("value") * 100 + 0.5).cast("long").as("v"))
    val counts = ev.groupBy(col("grp"), col("v"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint(eager = true) // median pass + dev pass + outliers
    val med = groupedLowerMedian(counts)
    val devCounts = counts.join(med, Seq("grp"))
      .select(col("grp"), abs(col("v") - col("med")).as("v"), col("c"))
      .groupBy(col("grp"), col("v")).agg(sum(col("c")).as("c"))
    val mad = groupedLowerMedian(devCounts)
      .select(col("grp"), col("med").as("mad"))
    counts.join(med, Seq("grp")).join(mad, Seq("grp"))
      .groupBy(col("grp"), col("med"), col("mad"))
      .agg(sum(col("c")).as("n"),
        sum(when(abs(col("v") - col("med")) > col("mad") * 3,
          col("c")).otherwise(0L)).as("n_outliers"))
      .select(col("grp").as("event_type"), col("n"),
        col("med").as("median_c"), col("mad").as("mad_c"),
        col("n_outliers"))
      .orderBy(col("event_type"))
  }

  val q204_sql: String =
    """WITH ev AS (
      |  SELECT event_type AS grp,
      |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
      |  FROM events),
      |cnt AS (SELECT grp, v, COUNT(*) AS c FROM ev GROUP BY 1, 2),
      |n AS (SELECT grp, CAST(SUM(c) AS BIGINT) AS n FROM cnt GROUP BY 1),
      |med AS (
      |  SELECT grp, MIN(v) AS med FROM (
      |    SELECT cnt.grp, cnt.v,
      |      CAST(SUM(cnt.c) OVER (PARTITION BY cnt.grp
      |        ORDER BY cnt.v) AS BIGINT) AS cum, n.n
      |    FROM cnt JOIN n ON n.grp = cnt.grp)
      |  WHERE cum >= (n + 1) // 2 GROUP BY grp),
      |dev AS (
      |  SELECT cnt.grp, ABS(cnt.v - med.med) AS v,
      |    CAST(SUM(cnt.c) AS BIGINT) AS c
      |  FROM cnt JOIN med ON med.grp = cnt.grp GROUP BY 1, 2),
      |dn AS (SELECT grp, CAST(SUM(c) AS BIGINT) AS n FROM dev GROUP BY 1),
      |mad AS (
      |  SELECT grp, MIN(v) AS mad FROM (
      |    SELECT dev.grp, dev.v,
      |      CAST(SUM(dev.c) OVER (PARTITION BY dev.grp
      |        ORDER BY dev.v) AS BIGINT) AS cum, dn.n
      |    FROM dev JOIN dn ON dn.grp = dev.grp)
      |  WHERE cum >= (n + 1) // 2 GROUP BY grp)
      |SELECT cnt.grp AS event_type, CAST(SUM(cnt.c) AS BIGINT) AS n,
      |  med.med AS median_c, mad.mad AS mad_c,
      |  CAST(SUM(CASE WHEN ABS(cnt.v - med.med) > mad.mad * 3
      |    THEN cnt.c ELSE 0 END) AS BIGINT) AS n_outliers
      |FROM cnt
      |JOIN med ON med.grp = cnt.grp
      |JOIN mad ON mad.grp = cnt.grp
      |GROUP BY 1, 3, 4
      |ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------------
  // q229 — per-dimension standardization audit (the z-score pass of
  // feature normalization): for each of the first 8 embedding
  // dimensions, the sufficient statistics (n, Σx, Σx²) plus how many
  // elements sit beyond 3σ. The outlier test |x−μ|>3σ is evaluated in
  // INTEGER form — (x·n − Σx)² > 9·(n·Σx² − (Σx)²) — which is the
  // z-score inequality multiplied through by n²σ², so no division or
  // sqrt ever happens and both engines agree bit-for-bit.
  //
  // Scale shape: two pruned scans of the embedding column — a map-side
  // combined stats pass (8 groups), then the 8-row stats broadcast
  // back onto the elements for the threshold count. The inequality's
  // quadratic products ((x̂·n)², n·Σx²) leave int64 around ~10⁷ rows,
  // so the comparison runs in DECIMAL(38) (≡ DuckDB HUGEINT) — exact
  // at any realistic corpus size, same promotion as q221/q237.
  // ---------------------------------------------------------------------
  private val StdDims = 8

  def q229_embed_standardize(spark: SparkSession, dir: String)
      : DataFrame = {
    def elems = Tables.embeddings(spark, dir)
      .select(posexplode(slice(col("embedding"), 1, StdDims))
        .as(Seq("dim", "x")))
      .select(col("dim").cast("long").as("dim"),
        floor(col("x").cast("double") * 100 + 0.5).cast("long").as("e"))
    val stats = elems.groupBy(col("dim"))
      .agg(count(lit(1)).as("n"), sum(col("e")).as("s"),
        sum(col("e") * col("e")).as("s2"))
    elems.join(broadcast(stats), Seq("dim"))
      .withColumn("is_outlier",
        expr("(cast(e as decimal(38,0)) * n - s) " +
          "* (cast(e as decimal(38,0)) * n - s) " +
          "> 9 * (cast(n as decimal(38,0)) * s2 " +
          "- cast(s as decimal(38,0)) * s)"))
      .groupBy(col("dim"))
      .agg(first(col("n")).as("n"), first(col("s")).as("s"),
        first(col("s2")).as("s2"),
        sum(when(col("is_outlier"), 1L).otherwise(0L)).as("n_outliers"))
      .orderBy(col("dim"))
  }

  val q229_sql: String = {
    val arms = (0 until StdDims).map { i =>
      s"""SELECT $i AS dim,
         |  CAST(floor(CAST(embedding[${i + 1}] AS DOUBLE) * 100 + 0.5)
         |    AS BIGINT) AS e FROM embeddings""".stripMargin
    }.mkString("(", "\nUNION ALL\n", ")")
    s"""WITH e AS $arms,
       |stats AS (
       |  SELECT dim, COUNT(*) AS n, CAST(SUM(e) AS BIGINT) AS s,
       |    CAST(SUM(e * e) AS BIGINT) AS s2
       |  FROM e GROUP BY dim)
       |SELECT CAST(e.dim AS BIGINT) AS dim, n, s, s2,
       |  CAST(SUM(CASE WHEN (e::HUGEINT * n - s) * (e::HUGEINT * n - s)
       |    > 9 * (n::HUGEINT * s2 - s::HUGEINT * s) THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_outliers
       |FROM e JOIN stats ON e.dim = stats.dim
       |GROUP BY e.dim, n, s, s2
       |ORDER BY dim""".stripMargin
  }

  val registry: graft.SparkEntry.Registry = Seq(
    ("q201_embed_covariance", q201_embed_covariance _, q201_sql),
    ("q202_tcloseness", q202_tcloseness _, q202_sql),
    ("q203_kmv_intersection", q203_kmv_intersection _, q203_sql),
    ("q204_robust_outliers", q204_robust_outliers _, q204_sql),
    ("q229_embed_standardize", q229_embed_standardize _, q229_sql))
}
