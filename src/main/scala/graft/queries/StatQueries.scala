package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.pipeline.TextAnalysis

/** Sketch/statistics operators rounding out the approximate-analytics
  * tier: HyperLogLog register sketches (the industry-standard
  * approx-distinct, complementing the KMV family), word2vec skip-gram
  * pair extraction, and the two-sample Kolmogorov–Smirnov test.
  */
object StatQueries {

  // ---------------------------------------------------------------------
  // q208 — HyperLogLog registers (Flajolet et al. 2007), built, MERGED,
  // and estimated entirely in exact integer arithmetic: per event type,
  // hash each distinct user into one of m=64 registers (low 6 bits) and
  // keep the max leading-zero rank ρ of the remaining 54 bits; the
  // cross-type "ALL" sketch is the register-wise MAX of the member
  // sketches (the mergeability that lets 100 TB reduce through tiny
  // fixed-size partials — the same property approx_count_distinct
  // exploits). The raw HLL estimate αm²/Σ2^-reg is computed as one
  // exact rational: numerator α_ppm·m²·2^55, denominator (Σ2^(55-reg))
  // ·10^6, floor-divided in DECIMAL(38)/HUGEINT so both engines agree
  // bit-for-bit. Small-range (linear-counting) correction is
  // deliberately omitted — it needs ln() — so this is the RAW
  // estimator, reported against exact counts for calibration.
  //
  // ρ is derived engine-portably as 55 − length(ltrim(bin(rest),'0'))
  // (bin() of 0 ltrims to '', giving the all-zeros ρ = 55).
  //
  // Scale shape: one distinct per (type, user), then ONE groupBy to
  // (type, register) maxima — 64 rows per group regardless of corpus
  // size; everything after is arithmetic on the register table.
  // ---------------------------------------------------------------------
  private val HllM = graft.pipeline.Frequency.HllM
  private val HllAlphaPpm = graft.pipeline.Frequency.HllAlphaPpm

  def q208_hll_registers(spark: SparkSession, dir: String): DataFrame = {
    import graft.pipeline.Frequency
    val ev = Tables.events(spark, dir)
      .select(col("event_type"), col("user_id"))
    // register building needs no distinct (duplicate users hit the
    // same register with the same rho) — only the exact side dedups
    val perType = Frequency.hllRegisters(ev, Seq("event_type"),
      "user_id")
    // merge: register-wise max across the member sketches
    val merged = perType.groupBy(col("bucket"))
      .agg(max(col("reg")).as("reg"))
      .select(lit("ALL").as("event_type"), col("bucket"), col("reg"))
    val est = Frequency.hllEstimate(perType.unionByName(merged),
      Seq("event_type"), spark)
    val users = ev.distinct()
    val exact = users.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("exact_distinct"))
      .unionByName(users.select(col("user_id")).distinct()
        .agg(count(lit(1)).as("exact_distinct"))
        .select(lit("ALL").as("event_type"), col("exact_distinct")))
    est.join(exact, Seq("event_type"))
      .withColumn("err_ppm",
        expr("abs(est_distinct - exact_distinct) * 1000000 " +
          "div exact_distinct"))
      .orderBy(col("event_type"))
  }

  val q208_sql: String =
    s"""WITH users AS (
       |  SELECT DISTINCT event_type, user_id FROM events),
       |h AS (
       |  SELECT event_type,
       |    CAST(('0x' || substr(md5('hll:' || CAST(user_id AS VARCHAR)),
       |      1, 15)) AS BIGINT) AS h
       |  FROM users),
       |r AS (
       |  SELECT event_type, h % $HllM AS bucket,
       |    55 - length(ltrim(bin(h // $HllM), '0')) AS rho
       |  FROM h),
       |pt AS (
       |  SELECT event_type, bucket, MAX(rho) AS reg
       |  FROM r GROUP BY 1, 2),
       |sk AS (
       |  SELECT * FROM pt
       |  UNION ALL
       |  SELECT 'ALL' AS event_type, bucket, MAX(reg) AS reg
       |  FROM pt GROUP BY 2),
       |spine AS (
       |  SELECT g.event_type, b.bucket
       |  FROM (SELECT DISTINCT event_type FROM sk) g
       |  CROSS JOIN (SELECT CAST(range AS BIGINT) AS bucket
       |              FROM range(0, $HllM)) b),
       |dense AS (
       |  SELECT s.event_type, s.bucket, COALESCE(sk.reg, 0) AS reg
       |  FROM spine s LEFT JOIN sk
       |    ON sk.event_type = s.event_type AND sk.bucket = s.bucket),
       |den AS (
       |  SELECT event_type,
       |    CAST(SUM(1::BIGINT << (55 - reg)) AS BIGINT) AS s
       |  FROM dense GROUP BY 1),
       |est AS (
       |  SELECT event_type,
       |    CAST(($HllAlphaPpm::HUGEINT * ${HllM * HllM}
       |      * 36028797018963968) // (s::HUGEINT * 1000000) AS BIGINT)
       |      AS est_distinct
       |  FROM den),
       |ex AS (
       |  SELECT event_type, COUNT(DISTINCT user_id) AS exact_distinct
       |  FROM users GROUP BY 1
       |  UNION ALL
       |  SELECT 'ALL', COUNT(DISTINCT user_id) FROM users)
       |SELECT est.event_type, est.est_distinct, ex.exact_distinct,
       |  ABS(est.est_distinct - ex.exact_distinct) * 1000000
       |    // ex.exact_distinct AS err_ppm
       |FROM est JOIN ex ON ex.event_type = est.event_type
       |ORDER BY est.event_type""".stripMargin

  // ---------------------------------------------------------------------
  // q209 — skip-gram pair extraction (word2vec/GloVe input): for every
  // token position, the tokens at offsets ±1, ±2 within the same
  // document become (center, context) pairs; global pair counts feed
  // co-occurrence embedding training. Pairs are generated ROW-LOCALLY
  // by zipping the token array with its own ±δ-shifted slices — no
  // position explode, no join, zero shuffle until the final pair-count
  // groupBy (a position-key equi-join formulation measured 12× at the
  // 10× stress; this shape is ~linear). Fan-out is exactly ≤ 4 pairs
  // per token.
  // ---------------------------------------------------------------------
  def q209_skipgram_pairs(spark: SparkSession, dir: String): DataFrame = {
    val t = col("_toks")
    val n = size(t)
    // forward (center at i, context at i+d) and backward (i, i−d)
    // pairs via two zipped slices; len guards short docs
    def pairsAt(d: Int) = {
      val len = greatest(n - d, lit(0))
      val fwd = zip_with(slice(t, lit(1), len), slice(t, lit(1 + d), len),
        (a, b) => struct(a.as("center"), b.as("context")))
      val bwd = zip_with(slice(t, lit(1 + d), len), slice(t, lit(1), len),
        (a, b) => struct(a.as("center"), b.as("context")))
      concat(fwd, bwd)
    }
    Tables.documents(spark, dir)
      .select(TextAnalysis.tokens(col("text")).as("_toks"))
      .select(explode(concat(pairsAt(1), pairsAt(2))).as("p"))
      .groupBy(col("p.center").as("center"), col("p.context").as("context"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("n_pairs").desc, col("center"), col("context"))
      .limit(25)
  }

  val q209_sql: String =
    """WITH t AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS a
      |  FROM documents WHERE trim(text) <> ''),
      |pos AS (
      |  SELECT doc_id, i - 1 AS i, a[i] AS tok
      |  FROM t, unnest(generate_series(1, len(a))) AS u(i)),
      |adv AS (
      |  SELECT doc_id, i + d AS i, tok AS context
      |  FROM pos, unnest([-2, -1, 1, 2]) AS o(d))
      |SELECT pos.tok AS center, adv.context, COUNT(*) AS n_pairs
      |FROM pos JOIN adv ON adv.doc_id = pos.doc_id AND adv.i = pos.i
      |GROUP BY 1, 2
      |ORDER BY n_pairs DESC, center, context
      |LIMIT 25""".stripMargin

  // ---------------------------------------------------------------------
  // q210 — two-sample Kolmogorov–Smirnov test (distribution drift
  // between cohorts): D = max |CDF_click(v) − CDF_view(v)| over the
  // pooled value domain, in ppm, plus the value where the max is
  // attained — the drift detector run between data snapshots or
  // sources before mixing. Integer-exact: values quantized to cents,
  // CDFs as cumulative-count rationals.
  //
  // Scale shape: the corpus-sized work is ONE groupBy to per-(side,
  // value) counts; cumulatives then ride the q76/q114 bucketed-CDF
  // shape — coarse-bucket offsets from a triangular join over the
  // tiny bucket table plus a PARTITIONED within-bucket window — so no
  // single task ever sorts the whole value domain.
  // ---------------------------------------------------------------------
  def q210_ks_test(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .filter(col("event_type").isin("click", "view"))
      .select(col("event_type"),
        floor(col("value") * 100 + 0.5).cast("long").as("v"))
    val counts = ev.groupBy(col("v"))
      .agg(
        sum(when(col("event_type") === "click", 1L).otherwise(0L))
          .as("ca"),
        sum(when(col("event_type") === "view", 1L).otherwise(0L))
          .as("cb"))
      .withColumn("grp", expr("v div 4096"))
      .localCheckpoint(eager = true) // totals + the cumsum probe
    val tot = counts.agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"))
    graft.ops.Cdf.prefixSum(counts, Seq.empty, "grp", "v",
        Seq("ca" -> "cuma", "cb" -> "cumb"), inclusive = true)
      .crossJoin(broadcast(tot))
      .select(col("v"),
        abs(expr("cuma * 1000000 div na")
          - expr("cumb * 1000000 div nb")).as("d"),
        col("na"), col("nb"))
      .orderBy(col("d").desc, col("v"))
      .limit(1)
      .select(col("na").as("n_click"), col("nb").as("n_view"),
        col("d").as("ks_ppm"), col("v").as("at_cents"))
  }

  val q210_sql: String =
    """WITH ev AS (
      |  SELECT event_type,
      |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
      |  FROM events WHERE event_type IN ('click', 'view')),
      |cnt AS (
      |  SELECT v,
      |    CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS ca,
      |    CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS cb
      |  FROM ev GROUP BY 1),
      |tot AS (
      |  SELECT CAST(SUM(ca) AS BIGINT) AS na,
      |         CAST(SUM(cb) AS BIGINT) AS nb FROM cnt),
      |cum AS (
      |  SELECT v,
      |    CAST(SUM(ca) OVER (ORDER BY v) AS BIGINT) AS cuma,
      |    CAST(SUM(cb) OVER (ORDER BY v) AS BIGINT) AS cumb
      |  FROM cnt)
      |SELECT tot.na AS n_click, tot.nb AS n_view,
      |  ABS((cuma * 1000000) // tot.na - (cumb * 1000000) // tot.nb)
      |    AS ks_ppm,
      |  v AS at_cents
      |FROM cum CROSS JOIN tot
      |ORDER BY ks_ppm DESC, at_cents
      |LIMIT 1""".stripMargin

  // ---------------------------------------------------------------------
  // q223 — STREAMING HLL maintenance under the batch oracle: the
  // events table replayed through a parquet file stream; each
  // micro-batch reduces to a 64-row partial register sketch
  // (Frequency.hllRegisters — the SAME reduction as batch q208) and
  // foreachBatch MERGEs it into a 64-row state table by register-wise
  // max. Because register max-merge is associative, commutative, AND
  // duplicate-insensitive, the final state is independent of
  // micro-batch slicing and replay order — so the streamed estimate
  // must equal the batch q208 "ALL" computation bit-for-bit, which is
  // exactly what the oracle checks. This is continuous approx-distinct
  // with O(m) state on an unbounded stream (no dedup state at all).
  // ---------------------------------------------------------------------
  def q223_stream_hll(spark: SparkSession, dir: String): DataFrame = {
    import graft.pipeline.Frequency
    val stream = Tables.streamTable(spark, dir, "events")
      .select(col("user_id"))
    // state: (bucket, reg), ≤ m rows; merged per micro-batch
    var state = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("bucket",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("reg",
          org.apache.spark.sql.types.IntegerType))))
    val query = stream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val partial = Frequency.hllRegisters(batch, Seq.empty, "user_id")
          .select(col("bucket"), col("reg"))
        state = state.unionByName(partial)
          .groupBy(col("bucket")).agg(max(col("reg")).as("reg"))
          .localCheckpoint(eager = true) // state must outlive the batch
        ()
      }
      .start()
    try query.processAllAvailable() finally query.stop()
    val est = Frequency.hllEstimate(
      state.select(lit("ALL").as("grp"), col("bucket"), col("reg")),
      Seq("grp"), spark)
    val exact = Tables.events(spark, dir)
      .select(col("user_id")).distinct()
      .agg(count(lit(1)).as("exact_distinct"))
    est.crossJoin(exact)
      .select(col("est_distinct"), col("exact_distinct"),
        expr("abs(est_distinct - exact_distinct) * 1000000 " +
          "div exact_distinct").as("err_ppm"))
  }

  val q223_sql: String =
    s"""WITH u AS (SELECT DISTINCT user_id FROM events),
       |h AS (
       |  SELECT CAST(('0x' || substr(md5('hll:' ||
       |    CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
       |  FROM u),
       |r AS (
       |  SELECT h % $HllM AS bucket,
       |    55 - length(ltrim(bin(h // $HllM), '0')) AS rho
       |  FROM h),
       |sk AS (SELECT bucket, MAX(rho) AS reg FROM r GROUP BY 1),
       |dense AS (
       |  SELECT b.bucket, COALESCE(sk.reg, 0) AS reg
       |  FROM (SELECT CAST(range AS BIGINT) AS bucket
       |        FROM range(0, $HllM)) b
       |  LEFT JOIN sk ON sk.bucket = b.bucket),
       |den AS (
       |  SELECT CAST(SUM(1::BIGINT << (55 - reg)) AS BIGINT) AS s
       |  FROM dense),
       |est AS (
       |  SELECT CAST(($HllAlphaPpm::HUGEINT * ${HllM * HllM}
       |    * 36028797018963968) // (s::HUGEINT * 1000000) AS BIGINT)
       |    AS est_distinct
       |  FROM den),
       |ex AS (SELECT COUNT(*) AS exact_distinct FROM u)
       |SELECT est.est_distinct, ex.exact_distinct,
       |  ABS(est.est_distinct - ex.exact_distinct) * 1000000
       |    // ex.exact_distinct AS err_ppm
       |FROM est CROSS JOIN ex""".stripMargin

  // ---------------------------------------------------------------------
  // q237 — chi-square test of proportions, each source vs the rest of
  // the corpus: does source s keep documents (n_chars ≥ 200) at a rate
  // the global process can't explain? χ² = N(ad−bc)²/((a+b)(c+d)(a+c)
  // (b+d)) over the 2×2 table — the A/B significance primitive behind
  // "did this crawl slice regress". Reported ×1000 in DECIMAL(38)
  // arithmetic (the numerator is O(N³·10³): int64 dies at ~10⁵ docs,
  // decimal is exact to ~10³⁵ and matches DuckDB's HUGEINT path).
  // Complements q210 (KS, continuous) and q216 (AUC, ranked) with the
  // categorical test.
  //
  // Scale shape: one conditional-aggregation pass to the per-source
  // 2×2 counts (map-side combined), totals broadcast back, all the
  // test arithmetic on metadata-sized rows.
  // ---------------------------------------------------------------------
  def q237_chi2_proportions(spark: SparkSession, dir: String)
      : DataFrame = {
    val perSource = Tables.documents(spark, dir)
      .groupBy(col("source"))
      .agg(sum(when(col("n_chars") >= 200L, 1L).otherwise(0L)).as("a"),
        sum(when(col("n_chars") < 200L, 1L).otherwise(0L)).as("b"))
    val totals = perSource.agg(sum(col("a")).as("ka"),
      sum(col("b")).as("kb"))
    perSource.crossJoin(broadcast(totals))
      .withColumn("c", expr("ka - a")) // keeps elsewhere
      .withColumn("d", expr("kb - b")) // drops elsewhere
      // The numerator N·(ad−bc)²·10³ grows ~N⁵; past the DECIMAL(38)
      // ceiling Spark yields NULL silently (non-ANSI decimal overflow)
      // while DuckDB raises — the engines would FAIL DIFFERENTLY, not
      // disagree. Guard BOTH sides with the same IEEE-double magnitude
      // estimate (exact int64 inputs → identical doubles in both
      // engines) at 1e37, a 10× margin under the ceiling: past it the
      // result is an explicit, engine-agreed NULL. A degenerate margin
      // (any 2×2 row/col sum zero ⇒ D=0, where Spark nulls but DuckDB
      // raises on //0) is guarded the same way.
      .withColumn("chi2_x1000", expr(
        "case when cast(a + b as decimal(38,0)) * (c + d) * (a + c) " +
          "* (b + d) = 0 then null " +
          "when (cast(a as double) + b + c + d) " +
          "* (cast(a as double) * d - cast(b as double) * c) " +
          "* (cast(a as double) * d - cast(b as double) * c) " +
          "* 1000.0 > 1e37 then null else " +
          "cast((cast(a + b + c + d as decimal(38,0)) " +
          "* (cast(a as decimal(38,0)) * d - " +
          "cast(b as decimal(38,0)) * c) " +
          "* (cast(a as decimal(38,0)) * d - " +
          "cast(b as decimal(38,0)) * c) * 1000) div " +
          "(cast(a + b as decimal(38,0)) * (c + d) * (a + c) * (b + d)) " +
          "as bigint) end"))
      .select(col("source"), col("a"), col("b"), col("c"), col("d"),
        col("chi2_x1000"))
      .orderBy(col("source"))
  }

  val q237_sql: String =
    """WITH per_source AS (
      |  SELECT source,
      |    CAST(SUM(CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS a,
      |    CAST(SUM(CASE WHEN n_chars < 200 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS b
      |  FROM documents GROUP BY source),
      |totals AS (
      |  SELECT CAST(SUM(a) AS BIGINT) AS ka,
      |    CAST(SUM(b) AS BIGINT) AS kb FROM per_source),
      |t AS (
      |  SELECT source, a, b, ka - a AS c, kb - b AS d
      |  FROM per_source CROSS JOIN totals)
      |SELECT source, a, b, c, d,
      |  CASE WHEN (a + b)::HUGEINT * (c + d) * (a + c) * (b + d) = 0
      |    THEN NULL
      |  WHEN (a::DOUBLE + b + c + d)
      |    * (a::DOUBLE * d - b::DOUBLE * c)
      |    * (a::DOUBLE * d - b::DOUBLE * c) * 1000.0 > 1e37 THEN NULL
      |  ELSE CAST(((a + b + c + d)::HUGEINT
      |    * (a::HUGEINT * d - b::HUGEINT * c)
      |    * (a::HUGEINT * d - b::HUGEINT * c) * 1000) //
      |    ((a + b)::HUGEINT * (c + d) * (a + c) * (b + d))
      |    AS BIGINT) END AS chi2_x1000
      |FROM t
      |ORDER BY source""".stripMargin

  // ---------------------------------------------------------------------
  // q251 — rolling 7-day distinct users from MERGEABLE daily HLL
  // sketches: build one 64-register sketch per day, advertise each
  // day's REGISTERS into the 7 windows it serves (q219's offset-
  // explode), and merge by register-wise max. This is how rolling
  // MAU/WAU actually ships at 100 TB — the window merge touches
  // m-register sketches (64 rows/day) instead of re-deduplicating
  // user IDs per window, so window length is free. Scored against
  // q219's exact rolling WAU per day (err_ppm), the same
  // estimate-vs-exact contract as q208/q223.
  // ---------------------------------------------------------------------
  def q251_rolling_hll_wau(spark: SparkSession, dir: String): DataFrame = {
    import graft.pipeline.Frequency
    val daily = Frequency.hllRegisters(
      Tables.events(spark, dir)
        .select(col("user_id"), expr("ts div 86400000000000").as("day")),
      Seq("day"), "user_id")
      .localCheckpoint(eager = true) // bounds probe + the advertise
    val bounds = daily.agg(max(col("day")).as("d1"))
    val rolling = daily.crossJoin(broadcast(bounds))
      .select(explode(sequence(col("day"),
        least(col("day") + 6, col("d1")))).as("day"),
        col("bucket"), col("reg"))
      .groupBy(col("day"), col("bucket"))
      .agg(max(col("reg")).as("reg"))
    val est = Frequency.hllEstimate(rolling, Seq("day"), spark)
    val exact = MetricQueries.q219_rolling_wau(spark, dir)
      .withColumnRenamed("wau", "exact_distinct")
    est.join(exact, Seq("day"))
      .withColumn("err_ppm",
        expr("abs(est_distinct - exact_distinct) * 1000000 " +
          "div exact_distinct"))
      .orderBy(col("day"))
  }

  val q251_sql: String =
    s"""WITH active AS (
       |  SELECT DISTINCT user_id,
       |    epoch_ns(ts) // 86400000000000 AS day
       |  FROM events),
       |bounds AS (SELECT MAX(day) AS d1 FROM active),
       |win AS (
       |  SELECT DISTINCT user_id, day + o AS day
       |  FROM active, unnest(generate_series(0, 6)) AS u(o)
       |  CROSS JOIN bounds WHERE day + o <= d1),
       |h AS (
       |  SELECT day,
       |    CAST(('0x' || substr(md5('hll:' || CAST(user_id AS VARCHAR)),
       |      1, 15)) AS BIGINT) AS h
       |  FROM win),
       |r AS (
       |  SELECT day, h % $HllM AS bucket,
       |    55 - length(ltrim(bin(h // $HllM), '0')) AS rho
       |  FROM h),
       |sk AS (SELECT day, bucket, MAX(rho) AS reg FROM r GROUP BY 1, 2),
       |spine AS (
       |  SELECT g.day, b.bucket
       |  FROM (SELECT DISTINCT day FROM sk) g
       |  CROSS JOIN (SELECT CAST(range AS BIGINT) AS bucket
       |              FROM range(0, $HllM)) b),
       |dense AS (
       |  SELECT s.day, s.bucket, COALESCE(sk.reg, 0) AS reg
       |  FROM spine s LEFT JOIN sk
       |    ON sk.day = s.day AND sk.bucket = s.bucket),
       |den AS (
       |  SELECT day, CAST(SUM(1::BIGINT << (55 - reg)) AS BIGINT) AS s
       |  FROM dense GROUP BY 1),
       |est AS (
       |  SELECT day,
       |    CAST(($HllAlphaPpm::HUGEINT * ${HllM * HllM}
       |      * 36028797018963968) // (s::HUGEINT * 1000000) AS BIGINT)
       |      AS est_distinct
       |  FROM den),
       |ex AS (
       |  SELECT day, COUNT(DISTINCT user_id) AS exact_distinct
       |  FROM win GROUP BY 1)
       |SELECT est.day, est_distinct, exact_distinct,
       |  ABS(est_distinct - exact_distinct) * 1000000
       |    // exact_distinct AS err_ppm
       |FROM est JOIN ex ON ex.day = est.day
       |ORDER BY est.day""".stripMargin

  // ---------------------------------------------------------------------
  // q252 — mergeable histogram quantile sketch, accuracy sweep: the
  // equi-width-histogram estimator (fixed [min,max] split into B
  // buckets, p-th quantile linearly interpolated inside the bucket
  // where the CDF crosses p) evaluated at B ∈ {16, 64, 256} against
  // the exact distributed-CDF percentiles, on lineitem price cents.
  // Histogram sketches are THE scalable quantile path — bucket counts
  // are additive (mergeable across partitions/windows, unlike exact
  // rank), and this sweep measures what that buys and costs: the
  // B-vs-error curve a pipeline reads before sizing its sketch.
  // Everything integer: bucket = (v−min)·B div (max−min+1), estimate
  // = lo + width·(need−cum_below)·…  all in int64 (cents ≤ 10⁷,
  // widths ≤ 10⁷, counts ≤ corpus).
  // ---------------------------------------------------------------------
  def q252_histogram_quantiles(spark: SparkSession, dir: String)
      : DataFrame = {
    val v = Tables.lineitem(spark, dir)
      .select(expr("cast(floor(l_extendedprice * 100 + 0.5) as long)")
        .as("v"))
    val bounds = v.agg(min(col("v")).as("lo"), max(col("v")).as("hi"),
      count(lit(1)).as("n"))
    // exact global CDF without a global window — q114's two-level
    // shape: window within coarse value groups, per-group prefix
    // added via a tiny group-total join
    val perVal = v.groupBy(col("v")).agg(count(lit(1)).as("cnt"))
      .withColumn("grp", expr("v div 1048576"))
      .localCheckpoint(eager = true)
    val grpTot = perVal.groupBy(col("grp"))
      .agg(sum(col("cnt")).as("gcnt"))
    val grpBefore = grpTot.as("g")
      .join(grpTot.as("h"), col("h.grp") < col("g.grp"), "left_outer")
      .groupBy(col("g.grp").as("grp"))
      .agg(coalesce(sum(col("h.gcnt")), lit(0L)).as("before"))
    val exact = perVal.join(broadcast(grpBefore), Seq("grp"))
      .withColumn("ecum", col("before") + sum(col("cnt")).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("grp")).orderBy(col("v"))))
      .crossJoin(broadcast(bounds))
      .agg(min(when(col("ecum") * 2 >= col("n"), col("v")))
          .as("exact_p50"),
        min(when(col("ecum") * 100 >= col("n") * 99, col("v")))
          .as("exact_p99"))
    val bs = spark.createDataFrame(Seq(Tuple1(16L), Tuple1(64L),
      Tuple1(256L))).toDF("b")
    // one histogram pass per B via a row-local ×3 fan-out
    val cells = v.crossJoin(broadcast(bounds))
      .crossJoin(broadcast(bs))
      .withColumn("bucket",
        expr("(v - lo) * b div (hi - lo + 1)"))
      .groupBy(col("b"), col("bucket"))
      .agg(count(lit(1)).as("c"))
    val cdf = cells
      .withColumn("cum", sum(col("c")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("b"))
          .orderBy(col("bucket"))))
      .crossJoin(broadcast(bounds))
    // estimate = bucket_lo + bucket_width·(need − cum_below) div c,
    // evaluated ONLY at the unique crossing bucket (cum passes need
    // here but had not at the previous bucket) — a bare min(when(cum
    // crosses)) over the interpolation would mix in later buckets'
    // values, which are not monotone in cum
    def est(num: Int, den: Int, alias: String) = {
      val need = s"((n * $num + ${den - 1}) div $den)" // ceil(n·p)
      min(when(col("cum") * den >= col("n") * num &&
        (col("cum") - col("c")) * den < col("n") * num, expr(
        s"lo + (bucket * (hi - lo + 1)) div b + " +
          s"(((hi - lo + 1) div b) * ($need - (cum - c))) div c")))
        .as(alias)
    }
    cdf.groupBy(col("b"))
      .agg(est(1, 2, "est_p50"), est(99, 100, "est_p99"))
      .crossJoin(broadcast(exact))
      .withColumn("err_p50_ppm", expr(
        "abs(est_p50 - exact_p50) * 1000000 div greatest(exact_p50, 1)"))
      .withColumn("err_p99_ppm", expr(
        "abs(est_p99 - exact_p99) * 1000000 div greatest(exact_p99, 1)"))
      .select(col("b"), col("est_p50"), col("exact_p50"),
        col("err_p50_ppm"), col("est_p99"), col("exact_p99"),
        col("err_p99_ppm"))
      .orderBy(col("b"))
  }

  val q252_sql: String =
    """WITH v AS (
      |  SELECT CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS v
      |  FROM lineitem),
      |bounds AS (
      |  SELECT MIN(v) AS lo, MAX(v) AS hi, COUNT(*) AS n FROM v),
      |exact_cdf AS (
      |  SELECT v.v, COUNT(*) AS c FROM v GROUP BY v.v),
      |exact_cum AS (
      |  SELECT v, SUM(c) OVER (ORDER BY v) AS cum FROM exact_cdf),
      |exact AS (
      |  SELECT
      |    MIN(CASE WHEN cum * 2 >= n THEN v END) AS exact_p50,
      |    MIN(CASE WHEN cum * 100 >= n * 99 THEN v END) AS exact_p99
      |  FROM exact_cum CROSS JOIN bounds),
      |cells AS (
      |  SELECT b, (v - lo) * b // (hi - lo + 1) AS bucket,
      |    COUNT(*) AS c
      |  FROM v CROSS JOIN bounds
      |  CROSS JOIN (VALUES (16), (64), (256)) AS bb(b)
      |  GROUP BY 1, 2),
      |cdf AS (
      |  SELECT b, bucket, c,
      |    SUM(c) OVER (PARTITION BY b ORDER BY bucket) AS cum
      |  FROM cells),
      |ests AS (
      |  SELECT cdf.b,
      |    MIN(CASE WHEN cum * 2 >= n AND (cum - c) * 2 < n THEN
      |      lo + (bucket * (hi - lo + 1)) // b +
      |      (((hi - lo + 1) // b) * ((n * 1 + 1) // 2 - (cum - c))) // c
      |      END) AS est_p50,
      |    MIN(CASE WHEN cum * 100 >= n * 99
      |        AND (cum - c) * 100 < n * 99 THEN
      |      lo + (bucket * (hi - lo + 1)) // b +
      |      (((hi - lo + 1) // b) * ((n * 99 + 99) // 100 - (cum - c)))
      |        // c END) AS est_p99
      |  FROM cdf CROSS JOIN bounds
      |  GROUP BY cdf.b)
      |SELECT CAST(b AS BIGINT) AS b,
      |  CAST(est_p50 AS BIGINT) AS est_p50,
      |  CAST(exact_p50 AS BIGINT) AS exact_p50,
      |  CAST(ABS(est_p50 - exact_p50) * 1000000
      |    // GREATEST(exact_p50, 1) AS BIGINT) AS err_p50_ppm,
      |  CAST(est_p99 AS BIGINT) AS est_p99,
      |  CAST(exact_p99 AS BIGINT) AS exact_p99,
      |  CAST(ABS(est_p99 - exact_p99) * 1000000
      |    // GREATEST(exact_p99, 1) AS BIGINT) AS err_p99_ppm
      |FROM ests CROSS JOIN exact
      |ORDER BY b""".stripMargin

  // -------------------------------------------------------------------
  // q292 — AMS second-moment (F2) sketch (Alon, Matias & Szegedy
  // 1996): estimate Σ f_i² — the self-join size, the quantity a
  // planner needs to cost a key-equality join — from 16 constant-space
  // estimators Z_j = (Σ_i s_j(i)·f_i)² with ±1 four-wise-style hash
  // signs, combined by the (lower) median. Each estimator is one
  // map-side-combinable weighted sum, so the sketch costs one hash agg
  // at any scale; the output carries every estimator next to the true
  // F2 and the median's error in ppm — the audit of the estimator, not
  // just its answer. Signs come from the engine-portable
  // Sampling.hash60 over (key·16 + j).
  // -------------------------------------------------------------------
  private val AmsEstimators = 16

  def q292_ams_f2(spark: SparkSession, dir: String): DataFrame = {
    import graft.pipeline.Sampling
    val f = Tables.lineitem(spark, dir)
      .groupBy(col("l_partkey")).agg(count(lit(1)).as("fi"))
      .localCheckpoint(eager = true) // estimators AND true F2
    val est = f
      .withColumn("j",
        explode(sequence(lit(0L), lit(AmsEstimators - 1L))))
      .withColumn("sgn",
        lit(1L) - lit(2L) *
          pmod(Sampling.hash60("ams",
            col("l_partkey") * AmsEstimators + col("j")), lit(2L)))
      .groupBy(col("j")).agg(sum(col("sgn") * col("fi")).as("z"))
      .withColumn("est", col("z") * col("z"))
      .localCheckpoint(eager = true) // 16 rows, median + output
    val wM = org.apache.spark.sql.expressions.Window
      .orderBy(col("est"), col("j")) // 16 bounded rows — safe window
    val med = est.withColumn("mrk", row_number().over(wM))
      .filter(col("mrk") === AmsEstimators / 2)
      .select(col("est").as("median_est"))
    val tf2 = f.agg(sum(col("fi") * col("fi")).as("true_f2"))
    est.select(col("j"), col("est"))
      .crossJoin(broadcast(med)).crossJoin(broadcast(tf2))
      .withColumn("err_ppm", expr(
        "abs(median_est - true_f2) * 1000000 div true_f2"))
      .select(col("j"), col("est"), col("median_est"), col("true_f2"),
        col("err_ppm"))
      .orderBy(col("j"))
  }

  val q292_sql: String = {
    val h = graft.pipeline.Sampling
      .hash60Sql("ams", s"l_partkey * $AmsEstimators + j")
    s"""WITH f AS (
       |  SELECT l_partkey, COUNT(*) AS fi FROM lineitem GROUP BY 1),
       |est AS (
       |  SELECT CAST(j AS BIGINT) AS j,
       |    CAST(SUM((1 - 2 * ($h % 2)) * fi) AS BIGINT) AS z
       |  FROM f, generate_series(0, ${AmsEstimators - 1}) t(j)
       |  GROUP BY 1),
       |e2 AS (SELECT j, z * z AS est FROM est),
       |med AS (
       |  SELECT est AS median_est FROM (
       |    SELECT est, ROW_NUMBER() OVER (ORDER BY est, j) AS mrk
       |    FROM e2)
       |  WHERE mrk = ${AmsEstimators / 2}),
       |tf2 AS (
       |  SELECT CAST(SUM(fi * fi) AS BIGINT) AS true_f2 FROM f)
       |SELECT j, CAST(est AS BIGINT) AS est,
       |  CAST(median_est AS BIGINT) AS median_est, true_f2,
       |  CAST(abs(median_est - true_f2) * 1000000 // true_f2
       |    AS BIGINT) AS err_ppm
       |FROM e2 CROSS JOIN med CROSS JOIN tf2
       |ORDER BY j""".stripMargin
  }

  // -------------------------------------------------------------------
  // q295 — KMV set-operation estimates (Beyer et al. 2007, "On
  // synopses for distinct-value estimation under multiset operations"):
  // the property that makes KMV the sketch of choice for SEGMENTED
  // distinct counts at 100 TB is that two sketches combine into a
  // sketch of the UNION (k smallest of the merged value sets), and the
  // fraction of the combined k-minimum that appears in BOTH input
  // sketches estimates the intersection — so union/intersection/Jaccard
  // across any pair of partitions costs O(k), no rescan. Sets here:
  // distinct part keys per return flag. Estimates are exact integer
  // arithmetic ((k−1)·2^60 div h_k in DECIMAL(38)/HUGEINT), reported
  // next to the exact union/intersection and the union error in ppm.
  // Scale shape: per-flag top-k runs as WindowGroupLimit (k rows per
  // partition pre-shuffle, the q47 discipline); everything downstream
  // is sketch-sized (≤ 2k rows per pair).
  // -------------------------------------------------------------------
  private val KmvSetK = 256

  def q295_kmv_setops(spark: SparkSession, dir: String): DataFrame = {
    import graft.pipeline.Sampling
    val d = Tables.lineitem(spark, dir)
      .select(col("l_returnflag").as("f"), col("l_partkey").as("k"))
      .distinct()
      .withColumn("h", Sampling.hash60("kmvset", col("k")))
      .localCheckpoint(eager = true) // sketch AND exact consumers
    val wF = Window.partitionBy(col("f")).orderBy(col("h"), col("k"))
    val sk = d.withColumn("rn", row_number().over(wF))
      .filter(col("rn") <= KmvSetK).select(col("f"), col("h"))
      .localCheckpoint(eager = true) // ≤ 3·k rows; joined twice
    val flags = sk.select(col("f")).distinct()
    val pairs = flags.as("x").join(flags.as("y"),
        col("x.f") < col("y.f"))
      .select(col("x.f").as("f1"), col("y.f").as("f2"))
    val tagged = broadcast(pairs)
      .join(sk, col("f") === col("f1") || col("f") === col("f2"))
      .groupBy(col("f1"), col("f2"), col("h"))
      .agg(max(when(col("f") === col("f1"), 1L).otherwise(0L)).as("ia"),
        max(when(col("f") === col("f2"), 1L).otherwise(0L)).as("ib"))
    val wP = Window.partitionBy(col("f1"), col("f2")).orderBy(col("h"))
    val est = tagged.withColumn("rn", row_number().over(wP))
      .filter(col("rn") <= KmvSetK)
      .groupBy(col("f1"), col("f2"))
      .agg(count(lit(1)).as("cnt"), max(col("h")).as("kth"),
        sum(col("ia") * col("ib")).as("c_both"))
      .withColumn("est_union",
        when(col("cnt") < KmvSetK, col("cnt")).otherwise(expr(
          s"cast(cast(${KmvSetK - 1} as decimal(38,0)) * " +
            "1152921504606846976 div kth as bigint)")))
      .withColumn("est_inter",
        expr("c_both * est_union div cnt"))
    val exact = broadcast(pairs)
      .join(d, col("f") === col("f1") || col("f") === col("f2"))
      .groupBy(col("f1"), col("f2"), col("k"))
      .agg(max(when(col("f") === col("f1"), 1L).otherwise(0L)).as("ia"),
        max(when(col("f") === col("f2"), 1L).otherwise(0L)).as("ib"))
      .groupBy(col("f1"), col("f2"))
      .agg(count(lit(1)).as("true_union"),
        sum(col("ia") * col("ib")).as("true_inter"))
    est.join(exact, Seq("f1", "f2"))
      .withColumn("err_union_ppm", expr(
        "abs(est_union - true_union) * 1000000 div true_union"))
      .select(col("f1"), col("f2"), col("est_union"), col("est_inter"),
        col("true_union"), col("true_inter"), col("err_union_ppm"))
      .orderBy(col("f1"), col("f2"))
  }

  val q295_sql: String = {
    import graft.pipeline.Sampling
    val h = Sampling.hash60Sql("kmvset", "k")
    s"""WITH d AS (
       |  SELECT DISTINCT l_returnflag AS f, l_partkey AS k
       |  FROM lineitem),
       |dh AS (SELECT f, k, $h AS h FROM d),
       |sk AS (
       |  SELECT f, h FROM (
       |    SELECT f, h, ROW_NUMBER() OVER (PARTITION BY f
       |      ORDER BY h, k) AS rn FROM dh)
       |  WHERE rn <= $KmvSetK),
       |fl AS (SELECT DISTINCT f FROM sk),
       |pairs AS (
       |  SELECT x.f AS f1, y.f AS f2 FROM fl x JOIN fl y
       |  ON x.f < y.f),
       |tagged AS (
       |  SELECT p.f1, p.f2, s.h,
       |    MAX(CASE WHEN s.f = p.f1 THEN 1 ELSE 0 END) AS ia,
       |    MAX(CASE WHEN s.f = p.f2 THEN 1 ELSE 0 END) AS ib
       |  FROM pairs p JOIN sk s ON s.f = p.f1 OR s.f = p.f2
       |  GROUP BY 1, 2, 3),
       |topu AS (
       |  SELECT * FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY f1, f2
       |      ORDER BY h) AS rn FROM tagged)
       |  WHERE rn <= $KmvSetK),
       |est AS (
       |  SELECT f1, f2, COUNT(*) AS cnt, MAX(h) AS kth,
       |    SUM(ia * ib) AS c_both
       |  FROM topu GROUP BY 1, 2),
       |est2 AS (
       |  SELECT f1, f2, cnt, c_both,
       |    CASE WHEN cnt < $KmvSetK THEN cnt
       |         ELSE CAST(CAST(${KmvSetK - 1} AS HUGEINT) *
       |           1152921504606846976 // kth AS BIGINT) END AS est_union
       |  FROM est),
       |ex AS (
       |  SELECT f1, f2, COUNT(*) AS true_union,
       |    SUM(ia * ib) AS true_inter
       |  FROM (
       |    SELECT p.f1, p.f2, d.k,
       |      MAX(CASE WHEN d.f = p.f1 THEN 1 ELSE 0 END) AS ia,
       |      MAX(CASE WHEN d.f = p.f2 THEN 1 ELSE 0 END) AS ib
       |    FROM pairs p JOIN d ON d.f = p.f1 OR d.f = p.f2
       |    GROUP BY 1, 2, 3)
       |  GROUP BY 1, 2)
       |SELECT e.f1, e.f2, e.est_union,
       |  CAST(e.c_both * e.est_union // e.cnt AS BIGINT) AS est_inter,
       |  CAST(x.true_union AS BIGINT) AS true_union,
       |  CAST(x.true_inter AS BIGINT) AS true_inter,
       |  CAST(abs(e.est_union - x.true_union) * 1000000
       |    // x.true_union AS BIGINT) AS err_union_ppm
       |FROM est2 e JOIN ex x ON e.f1 = x.f1 AND e.f2 = x.f2
       |ORDER BY e.f1, e.f2""".stripMargin
  }

  // -------------------------------------------------------------------
  // q298 — OLS simple linear regression by exact normal equations
  // (slope = (NΣxy − ΣxΣy)/(NΣx² − (Σx)²)), per return-flag group,
  // regressing extended price (whole dollars) on quantity — the
  // one-pass closed-form fit that needs only five mergeable sums, i.e.
  // the regression that actually runs at 100 TB (one map-side-
  // combinable hash agg; no gradient loop, no per-row state). All
  // moments are exact in DECIMAL(38)/HUGEINT; slope/intercept/R² are
  // reported in ppm with documented floor semantics: R²_ppm is
  // (|num|·10³ div dx)·(|num|·10³ div dy) — two floors both engines
  // replay, keeping every product inside 38 digits at any corpus size
  // (num² alone would overflow three decades up). Signs are applied
  // via sign(num)·(|num| div d) so the floor is magnitude-based in
  // both engines (Spark div truncates, DuckDB // floors — they differ
  // on negatives).
  // -------------------------------------------------------------------
  def q298_ols_regression(spark: SparkSession, dir: String)
      : DataFrame = {
    val rows = Tables.lineitem(spark, dir).select(
      col("l_returnflag").as("g"),
      col("l_quantity").cast("long").as("x"),
      expr("cast(floor(l_extendedprice) as bigint)").as("y"))
    rows.groupBy(col("g"))
      .agg(count(lit(1)).cast("decimal(38,0)").as("n"),
        sum(col("x")).cast("decimal(38,0)").as("sx"),
        sum(col("y")).cast("decimal(38,0)").as("sy"),
        sum((col("x") * col("x")).cast("decimal(38,0)")).as("sxx"),
        sum((col("y") * col("y")).cast("decimal(38,0)")).as("syy"),
        sum((col("x") * col("y")).cast("decimal(38,0)")).as("sxy"))
      .withColumn("num", expr("n * sxy - sx * sy"))
      .withColumn("dx", expr("n * sxx - sx * sx"))
      .withColumn("dy", expr("n * syy - sy * sy"))
      .withColumn("inum", expr("sy * sxx - sx * sxy"))
      .withColumn("slope_ppm", expr(
        "cast(sign(num) * (abs(num) * 1000000 div dx) as bigint)"))
      .withColumn("intercept_ppm", expr(
        "cast(sign(inum) * (abs(inum) * 1000000 div dx) as bigint)"))
      .withColumn("r2_ppm", expr(
        "cast((abs(num) * 1000 div dx) * (abs(num) * 1000 div dy)" +
          " as bigint)"))
      .select(col("g"), col("n").cast("long").as("n_rows"),
        col("slope_ppm"), col("intercept_ppm"), col("r2_ppm"))
      .orderBy(col("g"))
  }

  val q298_sql: String =
    """WITH m AS (
      |  SELECT l_returnflag AS g,
      |    CAST(COUNT(*) AS HUGEINT) AS n,
      |    CAST(SUM(CAST(l_quantity AS BIGINT)) AS HUGEINT) AS sx,
      |    CAST(SUM(CAST(floor(l_extendedprice) AS BIGINT)) AS HUGEINT)
      |      AS sy,
      |    CAST(SUM(CAST(l_quantity AS BIGINT) *
      |      CAST(l_quantity AS BIGINT)) AS HUGEINT) AS sxx,
      |    CAST(SUM(CAST(floor(l_extendedprice) AS BIGINT) *
      |      CAST(floor(l_extendedprice) AS BIGINT)) AS HUGEINT) AS syy,
      |    CAST(SUM(CAST(l_quantity AS BIGINT) *
      |      CAST(floor(l_extendedprice) AS BIGINT)) AS HUGEINT) AS sxy
      |  FROM lineitem GROUP BY 1),
      |t AS (
      |  SELECT g, n, n * sxy - sx * sy AS num,
      |    n * sxx - sx * sx AS dx, n * syy - sy * sy AS dy,
      |    sy * sxx - sx * sxy AS inum
      |  FROM m)
      |SELECT g, CAST(n AS BIGINT) AS n_rows,
      |  CAST(sign(num) * (abs(num) * 1000000 // dx) AS BIGINT)
      |    AS slope_ppm,
      |  CAST(sign(inum) * (abs(inum) * 1000000 // dx) AS BIGINT)
      |    AS intercept_ppm,
      |  CAST((abs(num) * 1000 // dx) * (abs(num) * 1000 // dy)
      |    AS BIGINT) AS r2_ppm
      |FROM t ORDER BY g""".stripMargin

  // -------------------------------------------------------------------
  // q299 — Mann–Whitney U (1947), the exact rank-sum two-sample test:
  // compare the account-balance distribution of the AUTOMOBILE segment
  // against every other segment without ranking individual rows —
  // 2U_A = Σ_v nA(v)·(2·cumB(<v) + nB(v)) needs only per-VALUE counts
  // and a prefix sum over the value domain, which is cents-bounded
  // (~1.1M) and Zipf-collapsed, not corpus-sized. The prefix sum is
  // distributed (value-bucket totals → triangular offset join →
  // within-bucket windows, the q76/q289 CDF shape) — never a global
  // single-task window. The tie term nB(v)/2 is kept exact by working
  // in 2U. Output per opposing segment: group sizes, 2U, and the
  // common-language effect size P(A>B)+½P(A=B) in ppm.
  // -------------------------------------------------------------------
  private val MwuBucketWidth = 4096L

  def q299_mann_whitney(spark: SparkSession, dir: String): DataFrame = {
    // shift cents by +100000 so the bucket floor-div never sees a
    // negative (Spark div truncates, DuckDB // floors)
    val v = Tables.customer(spark, dir).select(
      col("c_mktsegment").as("seg"),
      expr("cast(floor(c_acctbal * 100) as bigint) + 100000").as("vs"))
    val cnts = v.groupBy(col("seg"), col("vs"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint(eager = true) // A-side AND B-side consumers
    val aCnt = cnts.filter(col("seg") === "AUTOMOBILE")
      .select(col("vs"), col("c").as("ac"))
    val bCnt = cnts.filter(col("seg") =!= "AUTOMOBILE")
      .select(col("seg").as("bseg"), col("vs"), col("c").as("bc"))
    val bsegs = bCnt.select(col("bseg")).distinct()
    val pr = aCnt.crossJoin(broadcast(bsegs))
      .join(bCnt, Seq("bseg", "vs"), "full_outer")
      .na.fill(0L, Seq("ac", "bc"))
      .withColumn("bucket", expr(s"vs div $MwuBucketWidth"))
      .localCheckpoint(eager = true) // bucket totals AND running sums
    graft.ops.Cdf.prefixSum(pr, Seq("bseg"), "bucket", "vs", "bc",
        "cumb", inclusive = false)
      .groupBy(col("bseg"))
      .agg(sum(col("ac")).as("n_a"), sum(col("bc")).as("n_b"),
        sum(col("ac") * (lit(2L) * col("cumb") + col("bc")))
          .as("two_u"))
      .withColumn("cles_ppm", expr(
        "cast(cast(two_u as decimal(38,0)) * 1000000 div " +
          "(2 * cast(n_a as decimal(38,0)) * n_b) as bigint)"))
      .select(col("bseg"), col("n_a"), col("n_b"), col("two_u"),
        col("cles_ppm"))
      .orderBy(col("bseg"))
  }

  val q299_sql: String =
    """WITH v AS (
      |  SELECT c_mktsegment AS seg,
      |    CAST(floor(c_acctbal * 100) AS BIGINT) + 100000 AS vs
      |  FROM customer),
      |cnts AS (SELECT seg, vs, COUNT(*) AS c FROM v GROUP BY 1, 2),
      |ac AS (SELECT vs, c AS ac FROM cnts WHERE seg = 'AUTOMOBILE'),
      |bc AS (SELECT seg AS bseg, vs, c AS bc FROM cnts
      |       WHERE seg <> 'AUTOMOBILE'),
      |bs AS (SELECT DISTINCT bseg FROM bc),
      |ar AS (SELECT bs.bseg, ac.vs, ac.ac FROM ac CROSS JOIN bs),
      |pr AS (
      |  SELECT COALESCE(ar.bseg, bc.bseg) AS bseg,
      |    COALESCE(ar.vs, bc.vs) AS vs,
      |    COALESCE(ar.ac, 0) AS ac, COALESCE(bc.bc, 0) AS bc
      |  FROM ar FULL OUTER JOIN bc
      |  ON ar.bseg = bc.bseg AND ar.vs = bc.vs),
      |cum AS (
      |  SELECT bseg, ac, bc,
      |    COALESCE(SUM(bc) OVER (PARTITION BY bseg ORDER BY vs
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS cumb
      |  FROM pr),
      |u AS (
      |  SELECT bseg, SUM(ac) AS n_a, SUM(bc) AS n_b,
      |    SUM(ac * (2 * cumb + bc)) AS two_u
      |  FROM cum GROUP BY 1)
      |SELECT bseg, CAST(n_a AS BIGINT) AS n_a,
      |  CAST(n_b AS BIGINT) AS n_b, CAST(two_u AS BIGINT) AS two_u,
      |  CAST(CAST(two_u AS HUGEINT) * 1000000
      |    // (2 * CAST(n_a AS HUGEINT) * n_b) AS BIGINT) AS cles_ppm
      |FROM u ORDER BY bseg""".stripMargin

  // -------------------------------------------------------------------
  // q300 — Benford first-digit audit (Newcomb 1881, Benford 1938), the
  // classic fraud/integrity screen over a financial column: the first
  // significant digit of order totals vs the log-law expectation
  // P(d) = log10(1+1/d), with a chi-square distance. Expected
  // probabilities are pinned FIXED ppm integer constants (log10 is
  // irrational — both engines use the same table, so the statistic is
  // exact). chi2_ppm_d = (10⁶·O_d − N·p_d)² div (N·p_d) — exactly
  // 10⁶·(O−E)²/E in DECIMAL(38)/HUGEINT. First digit is extracted
  // lexically (substr of the integer string — engine-portable, no
  // log10/pow in the data path). One hash agg to 9 rows; the audit is
  // digit-sized at any corpus scale.
  // -------------------------------------------------------------------
  private val BenfordPpm: Seq[(Int, Long)] = Seq(
    1 -> 301030L, 2 -> 176091L, 3 -> 124939L, 4 -> 96910L,
    5 -> 79181L, 6 -> 66947L, 7 -> 57992L, 8 -> 51153L, 9 -> 45757L)

  def q300_benford_audit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val exp = BenfordPpm.toDF("d", "exp_ppm")
    val obs = Tables.orders(spark, dir)
      .select(expr("cast(floor(o_totalprice * 100) as bigint)").as("c"))
      .filter(col("c") > 0)
      .withColumn("d",
        substring(col("c").cast("string"), 1, 1).cast("int"))
      .groupBy(col("d")).agg(count(lit(1)).as("n_obs"))
    val tot = obs.agg(sum(col("n_obs")).as("n_total"))
    obs.join(broadcast(exp), Seq("d")).crossJoin(broadcast(tot))
      .withColumn("obs_ppm", expr("n_obs * 1000000 div n_total"))
      .withColumn("chi2_ppm", expr(
        "cast((cast(n_obs as decimal(38,0)) * 1000000 - " +
          "cast(n_total as decimal(38,0)) * exp_ppm) * " +
          "(cast(n_obs as decimal(38,0)) * 1000000 - " +
          "cast(n_total as decimal(38,0)) * exp_ppm) div " +
          "(cast(n_total as decimal(38,0)) * exp_ppm) as bigint)"))
      .select(col("d").cast("long").as("d"), col("n_obs"),
        col("exp_ppm"), col("obs_ppm"), col("chi2_ppm"))
      .orderBy(col("d"))
  }

  val q300_sql: String = {
    val expVals = BenfordPpm
      .map { case (d, p) => s"($d, $p)" }.mkString(", ")
    s"""WITH exp AS (
       |  SELECT * FROM (VALUES $expVals) AS t(d, exp_ppm)),
       |obs AS (
       |  SELECT CAST(substr(CAST(c AS VARCHAR), 1, 1) AS INT) AS d,
       |    COUNT(*) AS n_obs
       |  FROM (SELECT CAST(floor(o_totalprice * 100) AS BIGINT) AS c
       |        FROM orders) WHERE c > 0 GROUP BY 1),
       |tot AS (SELECT SUM(n_obs) AS n_total FROM obs)
       |SELECT CAST(obs.d AS BIGINT) AS d,
       |  CAST(n_obs AS BIGINT) AS n_obs,
       |  CAST(exp_ppm AS BIGINT) AS exp_ppm,
       |  CAST(n_obs * 1000000 // n_total AS BIGINT) AS obs_ppm,
       |  CAST((CAST(n_obs AS HUGEINT) * 1000000 -
       |      CAST(n_total AS HUGEINT) * exp_ppm) *
       |    (CAST(n_obs AS HUGEINT) * 1000000 -
       |      CAST(n_total AS HUGEINT) * exp_ppm) //
       |    (CAST(n_total AS HUGEINT) * exp_ppm) AS BIGINT)
       |    AS chi2_ppm
       |FROM obs JOIN exp ON obs.d = exp.d CROSS JOIN tot
       |ORDER BY d""".stripMargin
  }

  // -------------------------------------------------------------------
  // q314 — PCSA / Flajolet–Martin distinct sketch (Flajolet & Martin
  // 1985 — the ORIGINAL probabilistic counter, predating HLL q208 and
  // KMV q47; its registers keep a BITMAP of observed ρ values rather
  // than a max, which is what makes deletions-by-resketch and
  // register-wise audits possible): 64 registers per return flag,
  // bit ρ = trailing-zero count of the hash remainder, register-wise
  // bit_or merge (mergeable at any fan-in — the 100 TB reduce
  // property), R_j = lowest unset bit. The estimator m/φ·2^(S/m) is
  // reported in its integer-floor form (2^(S div m), φ as the pinned
  // 773510 ppm constant) next to the exact count — deliberately the
  // coarse rung of the estimator ladder; the audit value is the
  // register table itself. ρ and R are derived lexically from bin()
  // (no log2), bit extraction via x & -x — portable to both engines.
  // -------------------------------------------------------------------
  private val PcsaM = 64L
  private val PcsaCap = 50

  def q314_pcsa_sketch(spark: SparkSession, dir: String): DataFrame = {
    import graft.pipeline.Sampling
    val d = Tables.lineitem(spark, dir)
      .select(col("l_returnflag").as("f"), col("l_partkey").as("k"))
      .distinct()
      .withColumn("h", Sampling.hash60("pcsa", col("k")))
      .localCheckpoint(eager = true) // sketch AND exact consumers
    val bits = d
      .withColumn("reg", pmod(col("h"), lit(PcsaM)))
      .withColumn("rest", expr(s"h div $PcsaM"))
      .withColumn("rho", expr(
        s"case when rest = 0 then $PcsaCap " +
          s"else least(length(bin(rest & -rest)) - 1, $PcsaCap) end"))
      .withColumn("bit", expr("shiftleft(1L, cast(rho as int))"))
      .groupBy(col("f"), col("reg"))
      .agg(expr("bit_or(bit)").as("bm"))
    val flags = d.select(col("f")).distinct()
    val grid = flags.crossJoin(
      spark.range(PcsaM).select(col("id").as("reg")))
    val regs = grid.join(bits, Seq("f", "reg"), "left_outer")
      .na.fill(0L, Seq("bm"))
      .withColumn("r", expr(
        "length(bin((~bm) & (bm + 1))) - 1"))
    val s = regs.groupBy(col("f")).agg(sum(col("r")).as("s_sum"))
    val exact = d.groupBy(col("f"))
      .agg(count(lit(1)).as("exact_distinct"))
    s.join(exact, Seq("f"))
      .withColumn("est", expr(
        s"$PcsaM * 1000000 div 773510 * shiftleft(1, " +
          s"cast(s_sum div $PcsaM as int))"))
      .withColumn("err_ppm", expr(
        "abs(est - exact_distinct) * 1000000 div exact_distinct"))
      .select(col("f"), col("s_sum"), col("est"),
        col("exact_distinct"), col("err_ppm"))
      .orderBy(col("f"))
  }

  val q314_sql: String = {
    import graft.pipeline.Sampling
    val h = Sampling.hash60Sql("pcsa", "k")
    s"""WITH d AS (
       |  SELECT DISTINCT l_returnflag AS f, l_partkey AS k
       |  FROM lineitem),
       |hh AS (SELECT f, k, $h AS h FROM d),
       |b AS (
       |  SELECT f, h % $PcsaM AS reg,
       |    CASE WHEN h // $PcsaM = 0 THEN $PcsaCap
       |         ELSE LEAST(length(bin((h // $PcsaM) & -(h // $PcsaM)))
       |           - 1, $PcsaCap) END AS rho
       |  FROM hh),
       |bm AS (
       |  SELECT f, reg, bit_or(1::BIGINT << rho) AS bm
       |  FROM b GROUP BY 1, 2),
       |grid AS (
       |  SELECT fl.f, g.reg FROM (SELECT DISTINCT f FROM d) fl,
       |    generate_series(0, ${PcsaM - 1}) g(reg)),
       |regs AS (
       |  SELECT grid.f,
       |    length(bin((~COALESCE(bm.bm, 0)) & (COALESCE(bm.bm, 0) + 1)))
       |      - 1 AS r
       |  FROM grid LEFT JOIN bm ON bm.f = grid.f AND bm.reg = grid.reg),
       |s AS (SELECT f, SUM(r) AS s_sum FROM regs GROUP BY 1),
       |ex AS (SELECT f, COUNT(*) AS exact_distinct FROM d GROUP BY 1)
       |SELECT s.f, CAST(s_sum AS BIGINT) AS s_sum,
       |  CAST($PcsaM * 1000000 // 773510
       |    * (1::BIGINT << CAST(s_sum // $PcsaM AS INT))
       |    AS BIGINT) AS est,
       |  CAST(exact_distinct AS BIGINT) AS exact_distinct,
       |  CAST(abs($PcsaM * 1000000 // 773510
       |      * (1::BIGINT << CAST(s_sum // $PcsaM AS INT))
       |      - exact_distinct) * 1000000 // exact_distinct AS BIGINT)
       |    AS err_ppm
       |FROM s JOIN ex ON s.f = ex.f
       |ORDER BY s.f""".stripMargin
  }

  // -------------------------------------------------------------------
  // q315 — Poisson-bootstrap confidence interval (Chamandy et al.
  // 2012, the at-scale bootstrap: instead of resampling n rows B
  // times — impossible on 100 TB — each row gets B independent
  // Poisson(1) weights, so all B replicas ride ONE pass with map-side
  // combine). Weights are deterministic: hash60(event·B+j) mod 10⁶
  // against the pinned Poisson(1) CDF ppm thresholds (367879/735759/
  // 919699/981012, cap 4). Per event type: the point mean and the
  // [3rd, 62nd]-of-64 replica-mean band (≈90% CI) in exact cents.
  // Replica state is types×64 rows; the window that ranks replicas is
  // 64 rows per partition.
  // -------------------------------------------------------------------
  private val BootReps = 64L

  def q315_poisson_bootstrap(spark: SparkSession, dir: String)
      : DataFrame = {
    import graft.pipeline.Sampling
    val ev = Tables.events(spark, dir).select(
      col("event_type"), col("event_id"),
      floor(col("value") * 100 + 0.5).cast("long").as("x"))
      .localCheckpoint(eager = true) // point mean AND replicas
    val reps = ev
      // the events scan is input-split-sized (one task on a small
      // file), but the replica stage below it does B× the corpus in
      // md5 work — CPU-dense on byte-tiny rows, the q269-verify class
      // (guide §2.5/§6): hash-spread the events across the deployment
      // parallelism BEFORE the explode so the hash arithmetic uses
      // every core at any input layout
      .repartition(spark.sparkContext.defaultParallelism,
        col("event_id"))
      .withColumn("j", explode(sequence(lit(0L), lit(BootReps - 1L))))
      .withColumn("u", pmod(Sampling.hash60("boot",
        col("event_id") * BootReps + col("j")), lit(1000000L)))
      .withColumn("w", when(col("u") < 367879L, 0L)
        .when(col("u") < 735759L, 1L)
        .when(col("u") < 919699L, 2L)
        .when(col("u") < 981012L, 3L).otherwise(4L))
      .groupBy(col("event_type"), col("j"))
      .agg(sum(col("w") * col("x")).as("swx"), sum(col("w")).as("sw"))
      .filter(col("sw") > 0)
      .withColumn("rep_mean", expr("swx div sw"))
    val wR = Window.partitionBy(col("event_type"))
      .orderBy(col("rep_mean"), col("j"))
    val band = reps.withColumn("rn", row_number().over(wR))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_reps"),
        max(when(col("rn") === 3, col("rep_mean"))).as("boot_lo"),
        max(when(col("rn") === 62, col("rep_mean"))).as("boot_hi"))
    val point = ev.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        expr("sum(x) div count(1)").as("mean_cents"))
    point.join(band, Seq("event_type"))
      .select(col("event_type"), col("n_events"), col("mean_cents"),
        col("n_reps"), col("boot_lo"), col("boot_hi"))
      .orderBy(col("event_type"))
  }

  val q315_sql: String = {
    import graft.pipeline.Sampling
    val h = Sampling.hash60Sql("boot", s"event_id * $BootReps + j")
    s"""WITH ev AS (
       |  SELECT event_type, event_id,
       |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS x
       |  FROM events),
       |reps AS (
       |  SELECT event_type, j,
       |    CAST(SUM(w * x) AS BIGINT) // CAST(SUM(w) AS BIGINT)
       |      AS rep_mean
       |  FROM (
       |    SELECT event_type, x, t.j,
       |      CASE WHEN ($h) % 1000000 < 367879 THEN 0
       |           WHEN ($h) % 1000000 < 735759 THEN 1
       |           WHEN ($h) % 1000000 < 919699 THEN 2
       |           WHEN ($h) % 1000000 < 981012 THEN 3
       |           ELSE 4 END AS w
       |    FROM ev, generate_series(0, ${BootReps - 1}) t(j))
       |  GROUP BY 1, 2 HAVING SUM(w) > 0),
       |band AS (
       |  SELECT event_type, COUNT(*) AS n_reps,
       |    MAX(CASE WHEN rn = 3 THEN rep_mean END) AS boot_lo,
       |    MAX(CASE WHEN rn = 62 THEN rep_mean END) AS boot_hi
       |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
       |          ORDER BY rep_mean, j) AS rn FROM reps)
       |  GROUP BY 1),
       |pt AS (
       |  SELECT event_type, COUNT(*) AS n_events,
       |    CAST(SUM(x) AS BIGINT) // COUNT(*) AS mean_cents
       |  FROM ev GROUP BY 1)
       |SELECT pt.event_type, CAST(n_events AS BIGINT) AS n_events,
       |  CAST(mean_cents AS BIGINT) AS mean_cents,
       |  CAST(n_reps AS BIGINT) AS n_reps,
       |  CAST(boot_lo AS BIGINT) AS boot_lo,
       |  CAST(boot_hi AS BIGINT) AS boot_hi
       |FROM pt JOIN band USING (event_type)
       |ORDER BY pt.event_type""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q322 — isotonic calibration via PAVA (Ayer et al. 1955; the
  // calibration layer under every production ranking/quality score):
  // observed purchase rate per value bucket, replaced by the closest
  // NON-DECREASING rate curve. The corpus-sized work is ONE hash agg
  // to ≤ 32 (bucket, n, n_pos) cells; the fit itself uses the minimax
  // characterization fitted(i) = max_{j≤i} min_{k≥i} mean(j..k) —
  // O(B³) on the loudly-guarded driver rows, which the oracle replays
  // as two bounded joins (no sequential pool-merging to mirror).
  // Because floor() commutes with min/max selection, running the
  // minimax over ppm-FLOORED pooled means yields exactly
  // floor(true_isotonic_fit · 10⁶) — integer-identical in both
  // engines and still provably monotone.
  // ---------------------------------------------------------------------
  private val IsoBuckets = 32
  private val IsoWidthCents = 1600L // value ∈ [0, 512) dollars

  def q322_isotonic_calibration(spark: SparkSession, dir: String)
      : DataFrame = {
    import spark.implicits._
    val cellsDf = Tables.events(spark, dir)
      .select(
        least(lit(IsoBuckets - 1L),
          expr(s"cast(floor(value * 100) as bigint) div $IsoWidthCents"))
          .as("bucket"),
        when(col("event_type") === "purchase", 1L).otherwise(0L)
          .as("pos"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"), sum(col("pos")).as("n_pos"))
      .orderBy(col("bucket"))
    val cells = graft.ops.Driver.boundedCollect(cellsDf,
      2 * IsoBuckets, "q322 PAVA buckets")
    val b = cells.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val m = b.length
    // prefix sums → pooled ppm mean of any bucket segment [j, k]
    val pn = b.scanLeft(0L)(_ + _._2)
    val pp = b.scanLeft(0L)(_ + _._3)
    def mean(j: Int, k: Int): Long =
      (pp(k + 1) - pp(j)) * 1000000L / (pn(k + 1) - pn(j))
    val rows = (0 until m).map { i =>
      val fitted = (0 to i).map { j =>
        (i until m).map(k => mean(j, k)).min
      }.max
      val (bucket, n, nPos) = b(i)
      (bucket, n, nPos, nPos * 1000000L / n, fitted)
    }
    rows.toDF("bucket", "n", "n_pos", "raw_ppm", "fitted_ppm")
      .orderBy(col("bucket"))
  }

  val q322_sql: String =
    s"""WITH b AS (
       |  SELECT LEAST(${IsoBuckets - 1},
       |      CAST(floor(value * 100) AS BIGINT) // $IsoWidthCents)
       |      AS bucket,
       |    COUNT(*) AS n,
       |    SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
       |      AS pos
       |  FROM events GROUP BY 1),
       |seg AS (
       |  SELECT j.bucket AS jb, k.bucket AS kb,
       |    SUM(x.n) AS sn, SUM(x.pos) AS sp
       |  FROM b j JOIN b k ON j.bucket <= k.bucket
       |  JOIN b x ON x.bucket BETWEEN j.bucket AND k.bucket
       |  GROUP BY 1, 2),
       |m AS (SELECT jb, kb, sp * 1000000 // sn AS m_ppm FROM seg),
       |mm AS (
       |  SELECT m.jb, i.bucket AS ib, MIN(m_ppm) AS lo
       |  FROM m JOIN b i ON m.jb <= i.bucket AND i.bucket <= m.kb
       |  GROUP BY 1, 2),
       |fit AS (SELECT ib AS bucket, MAX(lo) AS fitted_ppm
       |  FROM mm GROUP BY 1)
       |SELECT b.bucket, CAST(n AS BIGINT) AS n,
       |  CAST(pos AS BIGINT) AS n_pos,
       |  CAST(pos * 1000000 // n AS BIGINT) AS raw_ppm,
       |  CAST(fitted_ppm AS BIGINT) AS fitted_ppm
       |FROM b JOIN fit USING (bucket)
       |ORDER BY bucket""".stripMargin

  // ---------------------------------------------------------------------
  // q327 — Spearman rank correlation by source (Spearman 1904): does
  // raw length track lexical richness per feed? ρ = 1 − 6Σd²/(n³−n)
  // over TOTAL-ORDER ranks ((metric, doc_id) — deterministic integer
  // ranks; with continuous-ish metrics this is standard ρ, and the
  // tie-break rule is pinned rather than left to engine sort
  // whims). Scale shape: ranks are NOT a per-source global window
  // (4 sources ⇒ 4 tasks at 100 TB) — each metric's rank is the
  // value-domain CDF offset (a running sum over the per-(source,
  // value) totals — a bounded table) plus a within-(source, value)
  // row_number, the q76/q114 distributed-CDF discipline. Σd² is
  // promoted to DECIMAL(38)/HUGEINT before the ×6·10⁶ scale.
  // ---------------------------------------------------------------------
  def q327_spearman_by_source(spark: SparkSession, dir: String)
      : DataFrame = {
    val base = Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"),
        col("n_chars").as("x"),
        size(array_distinct(TextAnalysis.tokens(col("text"))))
          .cast("long").as("y"))
      .localCheckpoint(eager = true) // two rank pipelines
    def rankBy(c: String, out: String): DataFrame = {
      val tot = base.groupBy(col("source"), col(c))
        .agg(count(lit(1)).as("n"))
      // running sum over the VALUE-DOMAIN table — rows per source are
      // bounded by the metric's distinct values, never by the corpus,
      // so the per-source window is bounded serial work (the
      // triangular-join alternative is |domain|² row touches — 8 s vs
      // sub-second at sf1 here)
      val off = tot.withColumn("off",
        coalesce(sum(col("n")).over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("source")).orderBy(col(c))
            .rowsBetween(org.apache.spark.sql.expressions.Window
              .unboundedPreceding, -1)), lit(0L)))
        .drop("n")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source"), col(c)).orderBy(col("doc_id"))
      base.select(col("source"), col("doc_id"), col(c))
        .withColumn("rn", row_number().over(w))
        .join(off, Seq("source", c))
        .select(col("source"), col("doc_id"),
          (col("off") + col("rn")).as(out))
    }
    rankBy("x", "rx").join(rankBy("y", "ry"), Seq("source", "doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n"),
        sum(((col("rx") - col("ry")) * (col("rx") - col("ry")))
          .cast("decimal(38,0)")).as("sd2"))
      .filter(col("n") >= 2)
      .select(col("source"), col("n"),
        col("sd2").cast("long").as("sum_d2"),
        expr("cast(1000000 - sd2 * 6000000 div" +
          " (cast(n as decimal(38,0)) * n * n - n) as bigint)")
          .as("rho_ppm"))
      .orderBy(col("source"))
  }

  val q327_sql: String =
    """WITH base AS (
      |  SELECT source, doc_id, n_chars AS x,
      |    CASE WHEN trim(text) = '' THEN 0 ELSE len(list_distinct(
      |      regexp_split_to_array(trim(text), '\s+'))) END AS y
      |  FROM documents),
      |r AS (
      |  SELECT source, doc_id,
      |    ROW_NUMBER() OVER (PARTITION BY source
      |      ORDER BY x, doc_id) AS rx,
      |    ROW_NUMBER() OVER (PARTITION BY source
      |      ORDER BY y, doc_id) AS ry
      |  FROM base),
      |agg AS (
      |  SELECT source, COUNT(*) AS n,
      |    CAST(SUM((rx - ry) * (rx - ry)) AS HUGEINT) AS sd2
      |  FROM r GROUP BY 1)
      |SELECT source, CAST(n AS BIGINT) AS n,
      |  CAST(sd2 AS BIGINT) AS sum_d2,
      |  CAST(1000000 - sd2 * 6000000
      |    // (CAST(n AS HUGEINT) * n * n - n) AS BIGINT) AS rho_ppm
      |FROM agg WHERE n >= 2
      |ORDER BY source""".stripMargin

  // ---------------------------------------------------------------------
  // q328 — Welch's unequal-variance t² for every event-type pair
  // (Welch 1947): the A/B readout when group variances differ — the
  // pooled-variance Student test silently assumes they don't. All in
  // exact integers: means in milli-cents (sx·1000 div n), sample
  // variances via the N·Σx²−(Σx)² DECIMAL(38) promotion (the
  // q221/q237/q283 pattern), SE² in milli-cents² (v·10⁶ div n — an
  // exact unit conversion), and t²·1000 as one final floor division.
  // Scale shape: ONE map-side-combinable hash agg to 5 type rows;
  // the 10 pairs come from a broadcast self-join of that table.
  // ---------------------------------------------------------------------
  def q328_welch_t2(spark: SparkSession, dir: String): DataFrame = {
    val stats = Tables.events(spark, dir)
      .select(col("event_type"),
        expr("cast(floor(value * 100) as bigint)").as("x"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum((col("x") * col("x")).cast("decimal(38,0)")).as("sxx"))
      .withColumn("mean_mc", expr("sx * 1000 div n"))
      // n=1 guard: n·(n−1)=0 would NULL here but ERROR in DuckDB
      .withColumn("v", expr(
        "CASE WHEN n <= 1 THEN 0 ELSE " +
          "cast((cast(n as decimal(38,0)) * sxx - cast(sx as" +
          " decimal(38,0)) * sx) div cast(n * (n - 1) as" +
          " decimal(38,0)) as bigint) END"))
      .withColumn("se2", expr("v * 1000000 div n"))
    stats.as("a").join(broadcast(stats.as("b")),
        col("a.event_type") < col("b.event_type"))
      .select(col("a.event_type").as("type_a"),
        col("b.event_type").as("type_b"),
        col("a.n").as("n_a"), col("b.n").as("n_b"),
        col("a.mean_mc").as("mean_a_mc"),
        col("b.mean_mc").as("mean_b_mc"),
        // promote BEFORE squaring (the oracle's HUGEINT order) — an
        // int64 square of a >3e9 milli-cent mean diff would overflow
        expr("""CASE WHEN a.se2 + b.se2 = 0 THEN 0
          | ELSE cast(cast((a.mean_mc - b.mean_mc) as decimal(38,0)) *
          |   (a.mean_mc - b.mean_mc) * 1000
          |   div (a.se2 + b.se2) as bigint) END""".stripMargin)
          .as("t2_x1000"))
      .orderBy(col("type_a"), col("type_b"))
  }

  val q328_sql: String =
    """WITH s AS (
      |  SELECT event_type, COUNT(*) AS n,
      |    SUM(CAST(floor(value * 100) AS BIGINT)) AS sx,
      |    SUM(CAST(CAST(floor(value * 100) AS BIGINT) AS HUGEINT)
      |      * CAST(floor(value * 100) AS BIGINT)) AS sxx
      |  FROM events GROUP BY 1),
      |st AS (
      |  SELECT event_type, n, sx * 1000 // n AS mean_mc,
      |    CASE WHEN n <= 1 THEN 0 ELSE
      |      CAST((CAST(n AS HUGEINT) * sxx
      |        - CAST(sx AS HUGEINT) * sx)
      |        // (CAST(n AS HUGEINT) * (n - 1)) AS BIGINT) END AS v
      |  FROM s),
      |se AS (SELECT event_type, n, mean_mc,
      |  v * 1000000 // n AS se2 FROM st)
      |SELECT a.event_type AS type_a, b.event_type AS type_b,
      |  CAST(a.n AS BIGINT) AS n_a, CAST(b.n AS BIGINT) AS n_b,
      |  CAST(a.mean_mc AS BIGINT) AS mean_a_mc,
      |  CAST(b.mean_mc AS BIGINT) AS mean_b_mc,
      |  CAST(CASE WHEN a.se2 + b.se2 = 0 THEN 0
      |    ELSE CAST((a.mean_mc - b.mean_mc) AS HUGEINT)
      |      * (a.mean_mc - b.mean_mc) * 1000 // (a.se2 + b.se2)
      |    END AS BIGINT) AS t2_x1000
      |FROM se a JOIN se b ON a.event_type < b.event_type
      |ORDER BY type_a, type_b""".stripMargin

  // -------------------------------------------------------------------
  // q352 — Count sketch (Charikar, Chen & Farach-Colton 2002, "Finding
  // frequent items in data streams"): the SIGNED cousin of the q133
  // count-min — d=5 hash rows × w=256 buckets of Σ sign·freq, per-key
  // estimate = the exact middle of the 5 values sign_j·cell(j, b_j).
  // Unlike count-min its error is two-sided and unbiased, the property
  // that lets it sit inside inner products (q292's AMS is the w=1
  // case). Audit: the 10 most frequent part keys' estimates next to
  // their true frequencies. Corpus work: one key-freq hash agg + a 5×
  // explode folded into 1 280 sketch cells — O(d·w) state at any
  // scale; the probe touches only the top keys × 5 rows.
  // -------------------------------------------------------------------
  private val CsD = 5
  private val CsW = 256L
  private val CsTopK = 10

  def q352_count_sketch(spark: SparkSession, dir: String): DataFrame = {
    import graft.pipeline.Sampling
    val f = Tables.lineitem(spark, dir)
      .groupBy(col("l_partkey").as("k"))
      .agg(count(lit(1)).as("fi"))
      .localCheckpoint(eager = true) // cells + top-k probe
    def bCol(k: org.apache.spark.sql.Column,
        j: org.apache.spark.sql.Column) =
      pmod(Sampling.hash60("csb", k * CsD + j), lit(CsW))
    def sCol(k: org.apache.spark.sql.Column,
        j: org.apache.spark.sql.Column) =
      lit(1L) - lit(2L) *
        pmod(Sampling.hash60("css", k * CsD + j), lit(2L))
    val cells = f
      .withColumn("j", explode(sequence(lit(0L), lit(CsD - 1L))))
      .withColumn("b", bCol(col("k"), col("j")))
      .withColumn("s", sCol(col("k"), col("j")))
      .groupBy(col("j"), col("b"))
      .agg(sum(col("s") * col("fi")).as("cell"))
    val top = f.orderBy(col("fi").desc, col("k")).limit(CsTopK)
    val ests = top
      .withColumn("j", explode(sequence(lit(0L), lit(CsD - 1L))))
      .withColumn("b", bCol(col("k"), col("j")))
      .withColumn("s", sCol(col("k"), col("j")))
      .join(cells, Seq("j", "b"))
      .withColumn("est_j", col("s") * col("cell"))
    val wM = org.apache.spark.sql.expressions.Window
      .partitionBy(col("k")).orderBy(col("est_j"), col("j"))
    ests.withColumn("rn", row_number().over(wM))
      .filter(col("rn") === (CsD / 2 + 1))
      .select(col("k").as("key"), col("fi"), col("est_j").as("est"),
        expr("abs(est_j - fi) * 1000000 div fi").as("err_ppm"))
      .orderBy(col("fi").desc, col("key"))
  }

  val q352_sql: String = {
    import graft.pipeline.Sampling
    val hb = Sampling.hash60Sql("csb", s"k * $CsD + j")
    val hs = Sampling.hash60Sql("css", s"k * $CsD + j")
    s"""WITH f AS (
       |  SELECT l_partkey AS k, COUNT(*) AS fi FROM lineitem
       |  GROUP BY 1),
       |cells AS (
       |  SELECT j, ($hb % $CsW) AS b,
       |    SUM((1 - 2 * ($hs % 2)) * fi) AS cell
       |  FROM f, generate_series(0, ${CsD - 1}) t(j)
       |  GROUP BY 1, 2),
       |top AS (SELECT k, fi FROM f ORDER BY fi DESC, k LIMIT $CsTopK),
       |ests AS (
       |  SELECT top.k, top.fi, t.j,
       |    (1 - 2 * (${Sampling.hash60Sql("css",
            s"top.k * $CsD + t.j")} % 2)) * cell AS est_j
       |  FROM top, generate_series(0, ${CsD - 1}) t(j)
       |  JOIN cells ON cells.j = t.j
       |    AND cells.b = (${Sampling.hash60Sql("csb",
            s"top.k * $CsD + t.j")} % $CsW)),
       |med AS (
       |  SELECT k, fi, est_j, ROW_NUMBER() OVER (
       |    PARTITION BY k ORDER BY est_j, j) AS rn
       |  FROM ests)
       |SELECT k AS key, CAST(fi AS BIGINT) AS fi,
       |  CAST(est_j AS BIGINT) AS est,
       |  CAST(abs(est_j - fi) * 1000000 // fi AS BIGINT) AS err_ppm
       |FROM med WHERE rn = ${CsD / 2 + 1}
       |ORDER BY fi DESC, key""".stripMargin
  }

  // -------------------------------------------------------------------
  // q354 — split-conformal coverage audit (Vovk et al.; Lei et al.
  // 2018 "Distribution-free predictive inference"): the
  // finite-sample-valid interval that needs NO distributional
  // assumption — split each event type by a deterministic hash coin
  // into calibration/test, score everything by |value − calibration
  // mean| (milli-cents, exact), take the ⌈0.9·(n+1)⌉-th smallest
  // calibration score as the 90% radius (an EXACT order statistic
  // read off the per-type score-value cumulative — a window over the
  // value-domain-bounded distinct-score table, never over events),
  // and report the TEST-side coverage next to the 900 000 ppm target.
  // Conformal's guarantee is coverage ≥ 90% in expectation — the
  // audit shows how close a real corpus lands. Corpus work: two hash
  // aggs (type stats, per-(type, score) counts) + one probe agg.
  // -------------------------------------------------------------------
  def q354_conformal_coverage(spark: SparkSession, dir: String)
      : DataFrame = {
    import graft.pipeline.Sampling
    val ev = Tables.events(spark, dir)
      .select(col("event_type").as("t"),
        expr("cast(floor(value * 100) as bigint)").as("x"),
        pmod(Sampling.hash60("conf", col("event_id")), lit(2L))
          .as("side"))
      .localCheckpoint(eager = true) // cal stats + cal scores + test
    val calStats = ev.filter(col("side") === 0L)
      .groupBy(col("t"))
      .agg(count(lit(1)).as("n_cal"), sum(col("x")).as("sx"))
      .withColumn("mean_mc", expr("sx * 1000 div n_cal"))
      .select(col("t"), col("n_cal"), col("mean_mc"))
    val scored = ev.join(broadcast(calStats), Seq("t"))
      .withColumn("s", expr("abs(x * 1000 - mean_mc)"))
    val sg = scored.filter(col("side") === 0L)
      .groupBy(col("t"), col("n_cal"), col("s"))
      .agg(count(lit(1)).as("c"))
    val wC = org.apache.spark.sql.expressions.Window
      .partitionBy(col("t")).orderBy(col("s"))
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, 0)
    val q90 = sg.withColumn("cum", sum(col("c")).over(wC))
      .withColumn("rk", expr("((n_cal + 1) * 9 + 9) div 10"))
      .groupBy(col("t"))
      .agg(coalesce(min(when(col("cum") >= col("rk"), col("s"))),
        lit(Long.MaxValue)).as("q90_mc"))
    scored.filter(col("side") === 1L)
      .join(broadcast(q90), Seq("t"))
      .groupBy(col("t"), col("n_cal"), col("q90_mc"))
      .agg(count(lit(1)).as("n_test"),
        sum(when(col("s") <= col("q90_mc"), 1L).otherwise(0L))
          .as("n_cov"))
      .withColumn("coverage_ppm",
        expr("n_cov * 1000000 div n_test"))
      .select(col("t").as("event_type"), col("n_cal"),
        col("q90_mc"), col("n_test"), col("n_cov"),
        col("coverage_ppm"))
      .orderBy(col("event_type"))
  }

  val q354_sql: String = {
    val h = graft.pipeline.Sampling.hash60Sql("conf", "event_id")
    s"""WITH ev AS (
       |  SELECT event_type AS t,
       |    CAST(floor(value * 100) AS BIGINT) AS x,
       |    ($h % 2) AS side
       |  FROM events),
       |cal AS (
       |  SELECT t, COUNT(*) AS n_cal, SUM(x) AS sx,
       |    SUM(x) * 1000 // COUNT(*) AS mean_mc
       |  FROM ev WHERE side = 0 GROUP BY 1),
       |scored AS (
       |  SELECT ev.t, side, n_cal, mean_mc,
       |    abs(x * 1000 - mean_mc) AS s
       |  FROM ev JOIN cal USING (t)),
       |sg AS (
       |  SELECT t, n_cal, s, COUNT(*) AS c
       |  FROM scored WHERE side = 0 GROUP BY 1, 2, 3),
       |cum AS (
       |  SELECT t, n_cal, s,
       |    SUM(c) OVER (PARTITION BY t ORDER BY s
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |      AS cum
       |  FROM sg),
       |q90 AS (
       |  SELECT t, COALESCE(MIN(CASE WHEN
       |      cum >= ((n_cal + 1) * 9 + 9) // 10 THEN s END),
       |      9223372036854775807) AS q90_mc
       |  FROM cum GROUP BY 1)
       |SELECT t AS event_type, CAST(n_cal AS BIGINT) AS n_cal,
       |  CAST(q90_mc AS BIGINT) AS q90_mc,
       |  COUNT(*) AS n_test,
       |  CAST(SUM(CASE WHEN s <= q90_mc THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_cov,
       |  CAST(SUM(CASE WHEN s <= q90_mc THEN 1 ELSE 0 END)
       |    * 1000000 // COUNT(*) AS BIGINT) AS coverage_ppm
       |FROM scored JOIN q90 USING (t)
       |WHERE side = 1
       |GROUP BY 1, 2, 3
       |ORDER BY event_type""".stripMargin
  }

  val registry: graft.SparkEntry.Registry = Seq(
    ("q354_conformal_coverage", q354_conformal_coverage _, q354_sql),
    ("q352_count_sketch", q352_count_sketch _, q352_sql),
    ("q328_welch_t2", q328_welch_t2 _, q328_sql),
    ("q327_spearman_by_source", q327_spearman_by_source _, q327_sql),
    ("q322_isotonic_calibration", q322_isotonic_calibration _, q322_sql),
    ("q314_pcsa_sketch", q314_pcsa_sketch _, q314_sql),
    ("q315_poisson_bootstrap", q315_poisson_bootstrap _, q315_sql),
    ("q295_kmv_setops", q295_kmv_setops _, q295_sql),
    ("q298_ols_regression", q298_ols_regression _, q298_sql),
    ("q299_mann_whitney", q299_mann_whitney _, q299_sql),
    ("q300_benford_audit", q300_benford_audit _, q300_sql),
    ("q292_ams_f2", q292_ams_f2 _, q292_sql),
    ("q252_histogram_quantiles", q252_histogram_quantiles _, q252_sql),
    ("q251_rolling_hll_wau", q251_rolling_hll_wau _, q251_sql),
    ("q208_hll_registers", q208_hll_registers _, q208_sql),
    ("q209_skipgram_pairs", q209_skipgram_pairs _, q209_sql),
    ("q210_ks_test", q210_ks_test _, q210_sql),
    ("q223_stream_hll", q223_stream_hll _, q223_sql),
    ("q237_chi2_proportions", q237_chi2_proportions _, q237_sql))
}
