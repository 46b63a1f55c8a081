package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.pipeline.TextAnalysis

/** Product/metric analytics operators rounding out the event tier:
  * rolling active users, decay-weighted popularity, inter-rater
  * agreement, concentration (Gini), behavioral diversity,
  * inter-arrival percentiles, distribution drift (batch + streaming),
  * burstiness, funnel latency, and leaderboard churn — all
  * integer-exact.
  */
object MetricQueries {

  // ---------------------------------------------------------------------
  // q219 — rolling 7-day active users (WAU): for every day, how many
  // distinct users were active in the trailing 7-day window. Rolling
  // DISTINCT cannot be a windowed sum (distincts don't add), so the
  // exact shape is: distinct (user, day) actives, a row-local ×7
  // offset explode (each active day advertises the user into the 7
  // target days it covers), then ONE distinct + count per target day —
  // linear with constant fan-out, the same offset-explode trick as
  // q209's skip-grams, and how rolling-MAU jobs avoid re-scanning 30
  // days of events per day.
  // ---------------------------------------------------------------------
  def q219_rolling_wau(spark: SparkSession, dir: String): DataFrame = {
    val active = Tables.events(spark, dir)
      .select(col("user_id"), expr("ts div 86400000000000").as("day"))
      .distinct()
      .localCheckpoint(eager = true) // bounds + the advertise explode
    val bounds = active.agg(max(col("day")).as("d1"))
    val advertised = active
      .select(col("user_id"),
        explode(sequence(col("day"), col("day") + 6)).as("day"))
      .distinct()
    advertised.crossJoin(broadcast(bounds))
      .filter(col("day") <= col("d1")) // windows past the data end
      .groupBy(col("day"))
      .agg(countDistinct(col("user_id")).as("wau"))
      .orderBy(col("day"))
  }

  val q219_sql: String =
    """WITH active AS (
      |  SELECT DISTINCT user_id,
      |    epoch_ns(ts) // 86400000000000 AS day
      |  FROM events),
      |bounds AS (SELECT MAX(day) AS d1 FROM active),
      |adv AS (
      |  SELECT DISTINCT user_id, day + o AS day
      |  FROM active, unnest(generate_series(0, 6)) AS u(o))
      |SELECT adv.day, COUNT(DISTINCT user_id) AS wau
      |FROM adv CROSS JOIN bounds
      |WHERE adv.day <= bounds.d1
      |GROUP BY adv.day
      |ORDER BY adv.day""".stripMargin

  // ---------------------------------------------------------------------
  // q220 — decay-weighted popularity: each event's value contributes
  // v >> age_weeks (a power-of-two exponential half-life of one week,
  // computed as an integer SHIFT — the decay curve recommendation
  // feeds want, with none of the float-pow nondeterminism). Top 15
  // event types × value deciles by decayed mass.
  //
  // Scale shape: age is computed against the corpus max ts (one tiny
  // broadcast), then a single row-local shift + one groupBy.
  // ---------------------------------------------------------------------
  def q220_decayed_popularity(spark: SparkSession, dir: String)
      : DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_type"), col("ts"),
        floor(col("value") * 100 + 0.5).cast("long").as("v"))
    // ev is deliberately NOT checkpointed: it is corpus-sized, and the
    // max-ts pass is a single-column pruned scan — cheaper than
    // materializing the whole projection for one max
    val maxTs = ev.agg(max(col("ts")).as("t1"))
    ev.crossJoin(broadcast(maxTs))
      .withColumn("age_weeks",
        expr("(t1 - ts) div 604800000000000"))
      .withColumn("decayed",
        expr("case when age_weeks >= 60 then 0 " +
          "else shiftright(v, cast(age_weeks as int)) end"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("v")).as("raw_mass"),
        sum(col("decayed")).as("decayed_mass"))
      .orderBy(col("decayed_mass").desc, col("event_type"))
      .limit(15)
  }

  val q220_sql: String =
    """WITH ev AS (
      |  SELECT event_type, epoch_ns(ts) AS tns,
      |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
      |  FROM events),
      |mx AS (SELECT MAX(tns) AS t1 FROM ev),
      |d AS (
      |  SELECT event_type, v,
      |    (t1 - tns) // 604800000000000 AS age_weeks
      |  FROM ev CROSS JOIN mx)
      |SELECT event_type, COUNT(*) AS n_events,
      |  CAST(SUM(v) AS BIGINT) AS raw_mass,
      |  CAST(SUM(CASE WHEN age_weeks >= 60 THEN 0
      |    ELSE v >> age_weeks END) AS BIGINT) AS decayed_mass
      |FROM d
      |GROUP BY event_type
      |ORDER BY decayed_mass DESC, event_type
      |LIMIT 15""".stripMargin

  // ---------------------------------------------------------------------
  // q221 — Cohen's κ inter-rater agreement between two cheap quality
  // labelers (length rule vs stopword-ratio rule) over documents: the
  // standard check that weak supervision rules measure the same thing
  // before their votes are combined. κ_ppm = (pₒ − pₑ)·10⁶ div
  // (10⁶ − pₑ) with pₒ, pₑ in ppm — all from the 2×2 agreement
  // counts, one corpus scan.
  // ---------------------------------------------------------------------
  def q221_cohens_kappa(spark: SparkSession, dir: String): DataFrame = {
    val labeled = Tables.documents(spark, dir)
      .select(
        (col("n_chars") >= 200).cast("int").as("a"),
        (TextAnalysis.tokenCount(col("text")) >= 40).cast("int").as("b"))
    labeled
      .agg(count(lit(1)).as("n"),
        sum(expr("case when a = 1 and b = 1 then 1 else 0 end"))
          .as("n11"),
        sum(expr("case when a = 1 and b = 0 then 1 else 0 end"))
          .as("n10"),
        sum(expr("case when a = 0 and b = 1 then 1 else 0 end"))
          .as("n01"),
        sum(expr("case when a = 0 and b = 0 then 1 else 0 end"))
          .as("n00"))
      .withColumn("po_ppm", expr("(n11 + n00) * 1000000 div n"))
      // the expected-agreement numerator is O(n²)·10⁶ — DECIMAL(38)
      // keeps it exact past the ~3·10⁶-document int64 ceiling
      .withColumn("pe_ppm", expr(
        "cast((cast(n11 + n10 as decimal(38,0)) * (n11 + n01) " +
          "+ cast(n01 + n00 as decimal(38,0)) * (n10 + n00)) " +
          "* 1000000 div (cast(n as decimal(38,0)) * n) as bigint)"))
      .withColumn("kappa_ppm",
        expr("(po_ppm - pe_ppm) * 1000000 div (1000000 - pe_ppm)"))
  }

  val q221_sql: String =
    """WITH l AS (
      |  SELECT CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END AS a,
      |    CASE WHEN (CASE WHEN trim(text) = '' THEN 0
      |      ELSE len(regexp_split_to_array(trim(text), '\s+')) END) >= 40
      |      THEN 1 ELSE 0 END AS b
      |  FROM documents),
      |c AS (
      |  SELECT COUNT(*) AS n,
      |    CAST(SUM(CASE WHEN a = 1 AND b = 1 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n11,
      |    CAST(SUM(CASE WHEN a = 1 AND b = 0 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n10,
      |    CAST(SUM(CASE WHEN a = 0 AND b = 1 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n01,
      |    CAST(SUM(CASE WHEN a = 0 AND b = 0 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n00
      |  FROM l),
      |p AS (
      |  SELECT *, (n11 + n00) * 1000000 // n AS po_ppm,
      |    CAST(((n11 + n10)::HUGEINT * (n11 + n01)
      |      + (n01 + n00)::HUGEINT * (n10 + n00))
      |      * 1000000 // (n::HUGEINT * n) AS BIGINT) AS pe_ppm
      |  FROM c)
      |SELECT n, n11, n10, n01, n00, po_ppm, pe_ppm,
      |  (po_ppm - pe_ppm) * 1000000 // (1000000 - pe_ppm) AS kappa_ppm
      |FROM p""".stripMargin

  // ---------------------------------------------------------------------
  // q222 — Gini concentration of customer revenue (the "how top-heavy
  // is the corpus/market" profiling op; the same statistic audits
  // per-source token concentration before mixture balancing):
  // G = (2·Σ rank·xᵢ) div (n·Σx) − (n+1) div n, exact in ppm via the
  // identity over ranked values. Ranks ride the bucketed-CDF shape
  // (coarse revenue buckets + partitioned window), never a global
  // sort; ties break by customer id for total determinism. Revenue is
  // whole dollars to keep Σ rank·x inside int64 headroom (the
  // identity is rank-weighted, so at ≥10⁹ customers the sums must be
  // promoted to DECIMAL(38) — same pattern as q208's estimator).
  // ---------------------------------------------------------------------
  def q222_gini(spark: SparkSession, dir: String): DataFrame = {
    val rev = Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(sum(floor(col("o_totalprice") + 0.5).cast("long")).as("x"))
      .withColumn("grp", expr("x div 262144"))
      .localCheckpoint(eager = true) // bucket totals + the rank probe
    val grpBefore = graft.pipeline.Ranks.prefixOffsets(
      rev.groupBy(col("grp")).agg(count(lit(1)).as("gn")),
      "grp", Seq("gn" -> "before"))
    val w = Window.partitionBy(col("grp"))
      .orderBy(col("x"), col("o_custkey"))
    // rank·x sums grow ~n²·x̄ — already past int64 at sf0.1 (measured:
    // 2·rx·10⁶ ≈ 6.8·10²⁰) — so the rank-weighted sum and the final
    // ratio run in DECIMAL(38) (HUGEINT on the oracle side), the q208
    // promotion pattern
    rev.join(broadcast(grpBefore), Seq("grp"))
      .withColumn("rank", col("before") + row_number().over(w))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("total"),
        sum((col("rank") * col("x")).cast("decimal(38,0)")).as("rx"))
      .select(col("n"), col("total"),
        expr("cast((2 * rx * 1000000) div " +
          "(cast(n as decimal(38,0)) * total) " +
          "- (cast(n + 1 as decimal(38,0)) * 1000000) div n " +
          "as bigint)").as("gini_ppm"))
  }

  val q222_sql: String =
    """WITH rev AS (
      |  SELECT o_custkey,
      |    CAST(SUM(CAST(floor(o_totalprice + 0.5) AS BIGINT))
      |      AS BIGINT) AS x
      |  FROM orders GROUP BY 1),
      |rk AS (
      |  SELECT x, ROW_NUMBER() OVER (ORDER BY x, o_custkey) AS rank
      |  FROM rev),
      |s AS (
      |  SELECT COUNT(*) AS n, CAST(SUM(x) AS BIGINT) AS total,
      |    CAST(SUM(rank::HUGEINT * x) AS HUGEINT) AS rx
      |  FROM rk)
      |SELECT n, total,
      |  CAST((2 * rx * 1000000) // (n::HUGEINT * total)
      |    - ((n + 1)::HUGEINT * 1000000) // n AS BIGINT) AS gini_ppm
      |FROM s""".stripMargin

  // ---------------------------------------------------------------------
  // q230 — behavioral diversity via Gini–Simpson index: per user,
  // 1 − Σpᵢ² over their event-type distribution (the RATIONAL
  // diversity index — unlike Shannon entropy it needs no transcendental
  // log, so ppm-integer arithmetic is exact in both engines), then the
  // cohort roll-up by breadth (distinct types used). The aggregate-of-
  // aggregates shape every engagement dashboard runs: user-level
  // reduction first (events collapse by user — the big shuffle), then
  // a tiny cohort reduction over one row per user.
  // ---------------------------------------------------------------------
  def q230_simpson_diversity(spark: SparkSession, dir: String)
      : DataFrame = {
    val perUser = Tables.events(spark, dir)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("user_id"))
      .agg(sum(col("c")).as("n"), sum(col("c") * col("c")).as("sc2"),
        count(lit(1)).as("n_types"))
      // sc2·1e6 and n² are both quadratic in a user's event count: a
      // ~3M-event user overflows int64 (n²·1e6 > 2^63), where Spark
      // wraps silently but DuckDB raises — the engines would diverge
      // instead of agreeing. DECIMAL(38,0) ≡ HUGEINT keeps the
      // intermediate exact to ~10^19 events/user (q243 fano precedent).
      .withColumn("div_ppm", expr(
        "cast(1000000 - cast(sc2 as decimal(38,0)) * 1000000 " +
          "div (cast(n as decimal(38,0)) * n) as bigint)"))
    perUser.withColumn("centile", expr("div_ppm div 10000"))
      .groupBy(col("centile"))
      .agg(count(lit(1)).as("n_users"),
        sum(col("div_ppm")).as("sum_div"),
        sum(col("n_types")).as("sum_types"),
        min(col("div_ppm")).as("min_div_ppm"),
        max(col("div_ppm")).as("max_div_ppm"))
      .withColumn("avg_div_ppm", expr("sum_div div n_users"))
      .withColumn("avg_types_x100", expr("sum_types * 100 div n_users"))
      .select(col("centile"), col("n_users"), col("avg_div_ppm"),
        col("avg_types_x100"), col("min_div_ppm"), col("max_div_ppm"))
      .orderBy(col("centile"))
  }

  val q230_sql: String =
    """WITH per_ut AS (
      |  SELECT user_id, event_type, COUNT(*) AS c
      |  FROM events GROUP BY user_id, event_type),
      |per_user AS (
      |  SELECT user_id, COUNT(*) AS n_types,
      |    CAST(SUM(c) AS BIGINT) AS n,
      |    CAST(SUM(c * c) AS BIGINT) AS sc2
      |  FROM per_ut GROUP BY user_id),
      |d AS (
      |  SELECT n_types,
      |    CAST(1000000 - sc2::HUGEINT * 1000000
      |      // (n::HUGEINT * n) AS BIGINT) AS div_ppm
      |  FROM per_user)
      |SELECT div_ppm // 10000 AS centile, COUNT(*) AS n_users,
      |  CAST(SUM(div_ppm) // COUNT(*) AS BIGINT) AS avg_div_ppm,
      |  CAST(SUM(n_types) * 100 // COUNT(*) AS BIGINT) AS avg_types_x100,
      |  CAST(MIN(div_ppm) AS BIGINT) AS min_div_ppm,
      |  CAST(MAX(div_ppm) AS BIGINT) AS max_div_ppm
      |FROM d
      |GROUP BY div_ppm // 10000
      |ORDER BY centile""".stripMargin

  // ---------------------------------------------------------------------
  // q236 — inter-arrival time percentiles per event type: the gap
  // between a user's consecutive events of a type, summarized as exact
  // p50/p90/p99/max seconds. Inter-arrival profiles drive rate-limit
  // thresholds, bot detection, and sessionization gap tuning (q31's 30
  // min gap is exactly a point on this curve).
  //
  // Scale shape: one lag window per (user, type) — bounded partitions,
  // shuffled once on the same key the groupBy reuses — then the q76
  // distributed-CDF percentile shape: per (type, gap) counts, a cumsum
  // window over the tiny gap spectrum, conditional-min thresholds. No
  // percentile_disc (its buffer is every distinct value per group).
  // ---------------------------------------------------------------------
  def q236_interarrival(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    val gaps = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts"),
        col("event_id"))
      .withColumn("prev", lag(col("ts"), 1).over(w))
      .filter(col("prev").isNotNull)
      .select(col("event_type"),
        expr("(ts - prev) div 1000000000").as("gap_s"))
    graft.pipeline.Frequency.cdfPercentiles(gaps, Seq("event_type"),
        "gap_s", Seq(("p50_s", 50, 100), ("p90_s", 90, 100),
          ("p99_s", 99, 100)))
      .select(col("event_type"), col("n_rows").as("n_gaps"),
        col("p50_s"), col("p90_s"), col("p99_s"),
        col("max_val").as("max_s"))
      .orderBy(col("event_type"))
  }

  val q236_sql: String =
    """WITH gaps AS (
      |  SELECT event_type,
      |    (epoch_ns(ts) - lag(epoch_ns(ts)) OVER
      |      (PARTITION BY user_id, event_type
      |       ORDER BY epoch_ns(ts), event_id)) // 1000000000 AS gap_s
      |  FROM events),
      |g AS (SELECT * FROM gaps WHERE gap_s IS NOT NULL),
      |spectrum AS (
      |  SELECT event_type, gap_s, COUNT(*) AS c
      |  FROM g GROUP BY event_type, gap_s),
      |cdf AS (
      |  SELECT event_type, gap_s, c,
      |    SUM(c) OVER (PARTITION BY event_type ORDER BY gap_s) AS cum,
      |    SUM(c) OVER (PARTITION BY event_type) AS n
      |  FROM spectrum)
      |SELECT event_type, CAST(MIN(n) AS BIGINT) AS n_gaps,
      |  CAST(MIN(CASE WHEN cum * 100 >= n * 50 THEN gap_s END)
      |    AS BIGINT) AS p50_s,
      |  CAST(MIN(CASE WHEN cum * 100 >= n * 90 THEN gap_s END)
      |    AS BIGINT) AS p90_s,
      |  CAST(MIN(CASE WHEN cum * 100 >= n * 99 THEN gap_s END)
      |    AS BIGINT) AS p99_s,
      |  CAST(MAX(gap_s) AS BIGINT) AS max_s
      |FROM cdf
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------------
  // q242 — value-distribution drift by total-variation distance: split
  // the event stream at its temporal midpoint, histogram each half's
  // value distribution per event type (10 fixed-width buckets on the
  // ×100-quantized value), and report TV = Σ|p−q|/2 in ppm. The
  // monitoring statistic behind "did this metric's distribution move"
  // — unlike PSI/KL it needs no transcendental log, so it is ppm-exact
  // in both engines; q210's KS covers the continuous/ordered view,
  // this the binned/categorical one.
  //
  // Scale shape: a 1-row min/max broadcast to place the midpoint, one
  // (type, half, bucket) groupBy with map-side combine, per-type
  // totals broadcast back onto 10-bucket rows.
  // ---------------------------------------------------------------------
  /** q242/q244 shared pieces — the streamed monitor's oracle is the
    * batch query and MetricSpec asserts bit-parity, so the bucket
    * quantization and the TV reduction live in ONE place. */
  private def tvBucketCol =
    least(expr("cast(floor(value * 100 + 0.5) as long) div 1000"),
      lit(9L)).as("bucket")

  private def tvFromCells(cells: DataFrame): DataFrame = {
    val totals = cells.groupBy(col("event_type"))
      .agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"))
    cells.join(broadcast(totals), Seq("event_type"))
      .withColumn("d_ppm", abs(
        expr("ca * 1000000L div na") - expr("cb * 1000000L div nb")))
      .groupBy(col("event_type"))
      .agg(first(col("na")).as("n_a"), first(col("nb")).as("n_b"),
        sum(col("d_ppm")).as("sd"))
      .withColumn("tv_ppm", expr("sd div 2"))
      .select(col("event_type"), col("n_a"), col("n_b"), col("tv_ppm"))
      .orderBy(col("event_type"))
  }

  def q242_tv_drift(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_type"), col("ts"), tvBucketCol)
    val bounds = ev.agg(min(col("ts")).as("t0"), max(col("ts")).as("t1"))
    val cells = ev.crossJoin(broadcast(bounds))
      .withColumn("in_b", col("ts") * 2 > col("t0") + col("t1"))
      .groupBy(col("event_type"), col("bucket"))
      .agg(sum(when(!col("in_b"), 1L).otherwise(0L)).as("ca"),
        sum(when(col("in_b"), 1L).otherwise(0L)).as("cb"))
    tvFromCells(cells)
  }

  val q242_sql: String =
    """WITH ev AS (
      |  SELECT event_type, epoch_ns(ts) AS tns,
      |    LEAST(CAST(floor(value * 100 + 0.5) AS BIGINT) // 1000, 9)
      |      AS bucket
      |  FROM events),
      |bounds AS (SELECT MIN(tns) AS t0, MAX(tns) AS t1 FROM ev),
      |cells AS (
      |  SELECT event_type, bucket,
      |    CAST(SUM(CASE WHEN tns * 2 > t0 + t1 THEN 0 ELSE 1 END)
      |      AS BIGINT) AS ca,
      |    CAST(SUM(CASE WHEN tns * 2 > t0 + t1 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS cb
      |  FROM ev CROSS JOIN bounds
      |  GROUP BY event_type, bucket),
      |totals AS (
      |  SELECT event_type, CAST(SUM(ca) AS BIGINT) AS na,
      |    CAST(SUM(cb) AS BIGINT) AS nb
      |  FROM cells GROUP BY event_type)
      |SELECT c.event_type, na AS n_a, nb AS n_b,
      |  CAST(SUM(abs(ca * 1000000 // na - cb * 1000000 // nb)) // 2
      |    AS BIGINT) AS tv_ppm
      |FROM cells c JOIN totals t ON c.event_type = t.event_type
      |GROUP BY c.event_type, na, nb
      |ORDER BY c.event_type""".stripMargin

  // ---------------------------------------------------------------------
  // q243 — burstiness via the Fano factor: variance-to-mean ratio of
  // per-10-minute-bucket counts, per event type. Poisson traffic has
  // F = 1; F ≫ 1 is bursty (bot storms, batch jobs), F < 1 is
  // pathologically regular (heartbeats). Computed ×1000 from the
  // integer sufficient statistics — F = (n·Σc² − (Σc)²)/(n·Σc) — over
  // OBSERVED buckets (zero-buckets excluded; documented, since
  // including the empty calendar would need the q233 spine).
  //
  // Scale shape: two nested map-side-combined groupBys, nothing else.
  // ---------------------------------------------------------------------
  def q243_burstiness(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_type"), expr("ts div 600000000000").as("b"))
      .groupBy(col("event_type"), col("b"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_buckets"), sum(col("c")).as("n_events"),
        sum(col("c") * col("c")).as("sc2"))
      .withColumn("mean_x1000",
        expr("n_events * 1000 div n_buckets"))
      // n_buckets·Σc²·1000 exceeds int64 exactly on the bursty shapes
      // this query exists to flag — DECIMAL(38) (≡ DuckDB HUGEINT)
      // keeps the quadratic numerator exact (same promotion as q237)
      .withColumn("fano_x1000", expr(
        "cast((cast(n_buckets as decimal(38,0)) * sc2 " +
          "- cast(n_events as decimal(38,0)) * n_events) * 1000 " +
          "div (cast(n_buckets as decimal(38,0)) * n_events) as bigint)"))
      .select(col("event_type"), col("n_buckets"), col("n_events"),
        col("mean_x1000"), col("fano_x1000"))
      .orderBy(col("event_type"))

  val q243_sql: String =
    """WITH cells AS (
      |  SELECT event_type, epoch_ns(ts) // 600000000000 AS b,
      |    COUNT(*) AS c
      |  FROM events GROUP BY 1, 2),
      |stats AS (
      |  SELECT event_type, COUNT(*) AS n_buckets,
      |    CAST(SUM(c) AS BIGINT) AS n_events,
      |    CAST(SUM(c * c) AS BIGINT) AS sc2
      |  FROM cells GROUP BY event_type)
      |SELECT event_type, n_buckets, n_events,
      |  n_events * 1000 // n_buckets AS mean_x1000,
      |  CAST((n_buckets::HUGEINT * sc2 - n_events::HUGEINT * n_events)
      |    * 1000 // (n_buckets::HUGEINT * n_events) AS BIGINT)
      |    AS fano_x1000
      |FROM stats
      |ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------------
  // q244 — STREAMING drift monitor: q242's total-variation statistic
  // maintained incrementally over a replayed event stream. Histogram
  // cell counts are ADDITIVE, so the foreachBatch merge is a pure
  // union + sum — O(types × buckets) state, no raw-event retention,
  // and completely insensitive to micro-batch slicing/replay order.
  // The split midpoint comes from the (fixed) reference bounds, as a
  // production monitor would pin its baseline window. The streamed TV
  // must therefore equal batch q242 bit-for-bit — exactly what the
  // oracle (q242's own SQL) checks, and MetricSpec asserts directly.
  // ---------------------------------------------------------------------
  def q244_stream_tv_drift(spark: SparkSession, dir: String): DataFrame = {
    val b = Tables.events(spark, dir)
      .agg(min(col("ts")).as("t0"), max(col("ts")).as("t1")).head()
    // zero-row input ⇒ NULL bounds; any midpoint yields the same empty
    // result batch q242 produces
    val (t0, t1) =
      if (b.isNullAt(0)) (0L, 0L) else (b.getLong(0), b.getLong(1))
    val stream = Tables.normalizeEventTs(
      Tables.streamTable(spark, dir, "events"))
      .select(col("event_type"),
        (col("ts") * 2 > lit(t0) + lit(t1)).as("in_b"), tvBucketCol)
    var state = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("event_type",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("bucket",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("ca",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("cb",
          org.apache.spark.sql.types.LongType))))
    val query = stream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val partial = batch.groupBy(col("event_type"), col("bucket"))
          .agg(sum(when(!col("in_b"), 1L).otherwise(0L)).as("ca"),
            sum(when(col("in_b"), 1L).otherwise(0L)).as("cb"))
        state = state.unionByName(partial)
          .groupBy(col("event_type"), col("bucket"))
          .agg(sum(col("ca")).as("ca"), sum(col("cb")).as("cb"))
          .localCheckpoint(eager = true) // state must outlive the batch
        ()
      }
      .start()
    try query.processAllAvailable() finally query.stop()
    tvFromCells(state)
  }

  // ---------------------------------------------------------------------
  // q266 — Bradley–Terry strength ratings (Zermelo 1929; Hunter 2004's
  // MM updates) from implicit pairwise outcomes — the aggregation
  // behind arena-style preference leaderboards: within each order,
  // supplier i beats supplier j when i ships strictly earlier; eight
  // unrolled MM rounds r_i ← W_i / Σ_j n_ij/(r_i + r_j) in integer ppm
  // (per-pair floor division, both engines identical), ratings clamped
  // to [10³, 10⁹] so undefeated entities cannot diverge. The numerator
  // W·10¹⁸ and the denominator sum ride DECIMAL(38,0) ↔ HUGEINT (the
  // q230/q237 promotion) — Σ_j n_ij·10¹² exceeds int64 past ~100
  // opponents.
  //
  // Scale shape: pair extraction is an order-keyed self-join (per-order
  // fan-out ≤ lineitems², bounded by order size); the rating state is
  // one row per entity and each round is two broadcast-sized joins +
  // one groupBy over the edge list.
  // ---------------------------------------------------------------------
  private val BtIters = 8

  def q266_bradley_terry(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"),
        col("l_shipdate").as("sd"))
    val dirWins = li.as("a").join(li.as("b"),
        col("a.ok") === col("b.ok") &&
          col("a.sk") =!= col("b.sk") && col("a.sd") < col("b.sd"))
      .groupBy(col("a.sk").as("i"), col("b.sk").as("j"))
      .agg(count(lit(1)).as("w"))
    // symmetrize via ONE unordered-pair aggregation + explode instead
    // of the former union-groupBy + reversed self-join (guide §2.4:
    // that shape shuffled the pair table three times to say w_so and
    // w_os side by side; grouping on the canonical pair says it once)
    val canon = dirWins.select(
      least(col("i"), col("j")).as("a"),
      greatest(col("i"), col("j")).as("b"),
      when(col("i") < col("j"), col("w")).otherwise(0L).as("wf"),
      when(col("i") > col("j"), col("w")).otherwise(0L).as("wr"))
    val edges = canon.groupBy(col("a"), col("b"))
      .agg(sum(col("wf")).as("wf"), sum(col("wr")).as("wr"))
      .select(explode(array(
        struct(col("a").as("s"), col("b").as("o"), col("wf").as("w_so"),
          (col("wf") + col("wr")).as("n")),
        struct(col("b").as("s"), col("a").as("o"), col("wr").as("w_so"),
          (col("wf") + col("wr")).as("n")))).as("e"))
      .select(col("e.s").as("s"), col("e.o").as("o"),
        col("e.w_so").as("w_so"), col("e.n").as("n"))
      .localCheckpoint(eager = true) // per-iteration + W consumers
    val wins = edges.groupBy(col("s"))
      .agg(sum(col("w_so")).as("wins"), sum(col("n")).as("n_comparisons"))
      .localCheckpoint(eager = true)
    var rank = wins.select(col("s"), lit(1000000L).as("r"))
    for (_ <- 1 to BtIters) {
      val d = edges
        .join(rank.select(col("s"), col("r").as("r_s")), Seq("s"))
        .join(rank.select(col("s").as("o"), col("r").as("r_o")), Seq("o"))
        .groupBy(col("s"))
        .agg(sum(expr("cast((n * 1000000000000) div (r_s + r_o) " +
          "as decimal(38,0))")).as("dsum"))
      rank = wins.join(d, Seq("s"))
        .select(col("s"),
          least(greatest(expr("cast((cast(wins as decimal(38,0)) * " +
            "1000000000000000000) div dsum as bigint)"), lit(1000L)),
            lit(1000000000L)).as("r"))
        .localCheckpoint(eager = true)
    }
    wins.join(rank, Seq("s"))
      .select(col("s").as("suppkey"), col("wins"), col("n_comparisons"),
        col("r").as("rating_ppm"))
      .orderBy(col("rating_ppm").desc, col("suppkey"))
      .limit(20)
  }

  val q266_sql: String = {
    val steps = (1 to BtIters).map { k =>
      s"""bt$k AS MATERIALIZED (
         |  SELECT w.s,
         |    LEAST(GREATEST(CAST((w.wins::HUGEINT *
         |        1000000000000000000) // d.dsum AS BIGINT), 1000),
         |      1000000000) AS r
         |  FROM wins w JOIN (
         |    SELECT e.s,
         |      SUM((e.n * 1000000000000) // (rs.r + ro.r)) AS dsum
         |    FROM edges e
         |    JOIN bt${k - 1} rs ON rs.s = e.s
         |    JOIN bt${k - 1} ro ON ro.s = e.o
         |    GROUP BY e.s) d ON d.s = w.s)""".stripMargin
    }.mkString(",\n")
    s"""WITH dw AS (
       |  SELECT a.l_suppkey AS i, b.l_suppkey AS j,
       |    CAST(COUNT(*) AS BIGINT) AS w
       |  FROM lineitem a JOIN lineitem b
       |    ON b.l_orderkey = a.l_orderkey
       |    AND b.l_suppkey <> a.l_suppkey
       |    AND a.l_shipdate < b.l_shipdate
       |  GROUP BY 1, 2),
       |sym AS (
       |  SELECT i, j, CAST(SUM(w) AS BIGINT) AS w FROM (
       |    SELECT i, j, w FROM dw
       |    UNION ALL SELECT j AS i, i AS j, 0 AS w FROM dw)
       |  GROUP BY 1, 2),
       |edges AS MATERIALIZED (
       |  SELECT x.i AS s, x.j AS o, x.w AS w_so, x.w + y.w AS n
       |  FROM sym x JOIN sym y ON y.i = x.j AND y.j = x.i),
       |wins AS MATERIALIZED (
       |  SELECT s, CAST(SUM(w_so) AS BIGINT) AS wins,
       |    CAST(SUM(n) AS BIGINT) AS n_comparisons
       |  FROM edges GROUP BY 1),
       |bt0 AS (SELECT s, CAST(1000000 AS BIGINT) AS r FROM wins),
       |$steps
       |SELECT w.s AS suppkey, w.wins, w.n_comparisons,
       |  r.r AS rating_ppm
       |FROM wins w JOIN bt$BtIters r ON r.s = w.s
       |ORDER BY rating_ppm DESC, suppkey
       |LIMIT 20""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q264 — CUSUM changepoint monitor (Page 1954) over per-type daily
  // event counts: the sequential-detection statistic S_t =
  // max(0, S_{t-1} + (x_t − ref − slack)) computed via the running-min
  // identity S_t = C_t − min(0, min_{i≤t} C_i), so the inherently
  // sequential recurrence becomes one windowed cumsum plus one running
  // min — both partitioned by event_type, never a global window. The
  // reference level is the FIRST-HALF mean (a pinned baseline window,
  // as q244's monitor pins its bounds) with 10% slack; alarm when S
  // exceeds 5 days of baseline mean. Everything is scaled by
  // 10·baseline_days so ref, slack, and threshold are exact integers
  // on any engine: D_t = x_t·10B − SB·11, h = 50·SB.
  //
  // Scale shape: one groupBy to daily cells (types × days rows), one
  // broadcast of baseline stats, per-type windows over day counts —
  // state bounded by the calendar, not the event volume.
  // ---------------------------------------------------------------------
  def q264_cusum_changepoint(spark: SparkSession, dir: String)
      : DataFrame = {
    val d = Tables.events(spark, dir)
      .select(col("event_type"), expr("ts div 86400000000000").as("day"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("x"))
      .localCheckpoint(eager = true) // bounds + baseline + cum consumers
    val bounds = d.agg(
      expr("(min(day) + max(day)) div 2").as("mid"))
    val base = d.crossJoin(broadcast(bounds))
      .filter(col("day") <= col("mid"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("b"), sum(col("x")).as("sb"))
      .filter(col("sb") > 0)
    val wCum = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, 0)
    val c = d.join(broadcast(base), Seq("event_type"))
      .withColumn("cum",
        sum(col("x") * 10 * col("b") - col("sb") * 11).over(wCum))
      .withColumn("s",
        col("cum") - least(min(col("cum")).over(wCum), lit(0L)))
    c.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"), max(col("b")).as("b_days"),
        sum(when(col("s") > col("sb") * 50, 1L).otherwise(0L))
          .as("alarm_days"),
        coalesce(min(when(col("s") > col("sb") * 50, col("day"))),
          lit(-1L)).as("first_alarm_day"),
        max(col("s")).as("s_max"))
      .orderBy(col("event_type"))
  }

  val q264_sql: String =
    """WITH d AS (
      |  SELECT event_type, epoch_ns(ts) // 86400000000000 AS day,
      |    CAST(COUNT(*) AS BIGINT) AS x
      |  FROM events GROUP BY 1, 2),
      |bounds AS (SELECT (MIN(day) + MAX(day)) // 2 AS mid FROM d),
      |base AS (
      |  SELECT event_type, COUNT(*) AS b, CAST(SUM(x) AS BIGINT) AS sb
      |  FROM d, bounds WHERE day <= mid GROUP BY 1
      |  HAVING SUM(x) > 0),
      |c AS (
      |  SELECT d.event_type, d.day, base.b, base.sb,
      |    CAST(SUM(d.x * 10 * base.b - base.sb * 11) OVER (
      |      PARTITION BY d.event_type ORDER BY d.day) AS BIGINT) AS cum
      |  FROM d JOIN base USING (event_type)),
      |s AS (
      |  SELECT event_type, day, b, sb,
      |    cum - LEAST(MIN(cum) OVER (
      |      PARTITION BY event_type ORDER BY day), 0) AS s
      |  FROM c)
      |SELECT event_type, COUNT(*) AS n_days, MAX(b) AS b_days,
      |  CAST(SUM(CASE WHEN s > sb * 50 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS alarm_days,
      |  COALESCE(MIN(CASE WHEN s > sb * 50 THEN day END), -1)
      |    AS first_alarm_day,
      |  CAST(MAX(s) AS BIGINT) AS s_max
      |FROM s GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------------
  // q245 — funnel step latency: for the view→signup→purchase funnel
  // (q77's steps), the per-user time between FIRST occurrences of
  // consecutive steps, summarized as exact p50/p90/max seconds per
  // step pair. q77 counts WHO converts; this measures HOW LONG each
  // transition takes — the number a growth team actually tunes
  // against. Users who did a later step before an earlier one (or
  // never) contribute no latency for that pair.
  //
  // Scale shape: one conditional-min groupBy per user (single
  // shuffle), a row-local ×2 step explode, then the q76/q236
  // distributed-CDF percentile shape over the tiny (step, gap)
  // spectrum.
  // ---------------------------------------------------------------------
  def q245_funnel_latency(spark: SparkSession, dir: String): DataFrame = {
    val perUser = Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(min(when(col("event_type") === "view", col("ts"))).as("t1"),
        min(when(col("event_type") === "signup", col("ts"))).as("t2"),
        min(when(col("event_type") === "purchase", col("ts"))).as("t3"))
    val gaps = perUser.select(explode(array(
        struct(lit("1_view_signup").as("step"),
          when(col("t2") >= col("t1"),
            expr("(t2 - t1) div 1000000000")).as("gap_s")),
        struct(lit("2_signup_purchase").as("step"),
          when(col("t3") >= col("t2"),
            expr("(t3 - t2) div 1000000000")).as("gap_s"))))
        .as("g"))
      .select(col("g.step"), col("g.gap_s"))
      .filter(col("gap_s").isNotNull)
    graft.pipeline.Frequency.cdfPercentiles(gaps, Seq("step"), "gap_s",
        Seq(("p50_s", 50, 100), ("p90_s", 90, 100)))
      .select(col("step"), col("n_rows").as("n_users"), col("p50_s"),
        col("p90_s"), col("max_val").as("max_s"))
      .orderBy(col("step"))
  }

  val q245_sql: String =
    """WITH per_user AS (
      |  SELECT user_id,
      |    MIN(CASE WHEN event_type = 'view' THEN epoch_ns(ts) END) AS t1,
      |    MIN(CASE WHEN event_type = 'signup' THEN epoch_ns(ts) END)
      |      AS t2,
      |    MIN(CASE WHEN event_type = 'purchase' THEN epoch_ns(ts) END)
      |      AS t3
      |  FROM events GROUP BY user_id),
      |gaps AS (
      |  SELECT '1_view_signup' AS step,
      |    CASE WHEN t2 >= t1 THEN (t2 - t1) // 1000000000 END AS gap_s
      |  FROM per_user
      |  UNION ALL
      |  SELECT '2_signup_purchase',
      |    CASE WHEN t3 >= t2 THEN (t3 - t2) // 1000000000 END
      |  FROM per_user),
      |g AS (SELECT * FROM gaps WHERE gap_s IS NOT NULL),
      |spectrum AS (
      |  SELECT step, gap_s, COUNT(*) AS c FROM g GROUP BY step, gap_s),
      |cdf AS (
      |  SELECT step, gap_s, c,
      |    SUM(c) OVER (PARTITION BY step ORDER BY gap_s) AS cum,
      |    SUM(c) OVER (PARTITION BY step) AS n
      |  FROM spectrum)
      |SELECT step, CAST(MIN(n) AS BIGINT) AS n_users,
      |  CAST(MIN(CASE WHEN cum * 100 >= n * 50 THEN gap_s END)
      |    AS BIGINT) AS p50_s,
      |  CAST(MIN(CASE WHEN cum * 100 >= n * 90 THEN gap_s END)
      |    AS BIGINT) AS p90_s,
      |  CAST(MAX(gap_s) AS BIGINT) AS max_s
      |FROM cdf
      |GROUP BY step
      |ORDER BY step""".stripMargin

  // ---------------------------------------------------------------------
  // q247 — leaderboard churn: per event type, how much of the top-10
  // most-active-user leaderboard survives from the older half of the
  // stream to the newer half (overlap@k). The stability check behind
  // any "top users/items" surface — a 20% overlap means the ranking is
  // noise, a 95% overlap means it is stale. Ties broken by user_id so
  // both engines cut the same top-10.
  //
  // Scale shape: one (type, user) count groupBy carrying both halves
  // as conditional sums, two per-(type) top-k windows over the
  // per-user rows (bounded by users-per-type), then a per-type overlap
  // count — no corpus-sized join.
  // ---------------------------------------------------------------------
  def q247_leaderboard_churn(spark: SparkSession, dir: String)
      : DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_type"), col("user_id"), col("ts"))
    val bounds = ev.agg(min(col("ts")).as("t0"), max(col("ts")).as("t1"))
    val counts = ev.crossJoin(broadcast(bounds))
      .withColumn("in_b", col("ts") * 2 > col("t0") + col("t1"))
      .groupBy(col("event_type"), col("user_id"))
      .agg(sum(when(!col("in_b"), 1L).otherwise(0L)).as("ca"),
        sum(when(col("in_b"), 1L).otherwise(0L)).as("cb"))
      .localCheckpoint(eager = true) // consumed by both rankings
    def topK(cnt: String): DataFrame = counts
      .filter(col(cnt) > 0)
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("event_type"))
          .orderBy(col(cnt).desc, col("user_id"))))
      .filter(col("rk") <= 10)
      .select(col("event_type"), col("user_id"))
    val ta = topK("ca")
    val tb = topK("cb")
    val overlap = ta.intersect(tb)
      .groupBy(col("event_type")).agg(count(lit(1)).as("n_overlap"))
    // normalize by the SMALLER half's actual leaderboard size (capped at
    // 10), not the constant 10: a type with 4 active users in a half can
    // reach 1000000 ppm with identical leaderboards instead of being
    // forever pinned at 400000 (round-7 advice).
    val sizes = ta.groupBy(col("event_type")).agg(count(lit(1)).as("ka"))
      .join(tb.groupBy(col("event_type")).agg(count(lit(1)).as("kb")),
        Seq("event_type"), "full_outer")
    counts.select(col("event_type")).distinct()
      .join(overlap, Seq("event_type"), "left_outer")
      .join(sizes, Seq("event_type"), "left_outer")
      .withColumn("n_overlap", coalesce(col("n_overlap"), lit(0L)))
      .withColumn("k", least(lit(10L),
        least(coalesce(col("ka"), lit(0L)), coalesce(col("kb"), lit(0L)))))
      .withColumn("overlap_ppm",
        expr("case when k > 0 then n_overlap * 1000000L div k " +
          "else 0L end"))
      .select(col("event_type"), col("n_overlap"), col("k"),
        col("overlap_ppm"))
      .orderBy(col("event_type"))
  }

  val q247_sql: String =
    """WITH ev AS (
      |  SELECT event_type, user_id, epoch_ns(ts) AS tns FROM events),
      |bounds AS (SELECT MIN(tns) AS t0, MAX(tns) AS t1 FROM ev),
      |counts AS (
      |  SELECT event_type, user_id,
      |    CAST(SUM(CASE WHEN tns * 2 > t0 + t1 THEN 0 ELSE 1 END)
      |      AS BIGINT) AS ca,
      |    CAST(SUM(CASE WHEN tns * 2 > t0 + t1 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS cb
      |  FROM ev CROSS JOIN bounds
      |  GROUP BY event_type, user_id),
      |ta AS (
      |  SELECT event_type, user_id FROM (
      |    SELECT event_type, user_id, row_number() OVER (
      |      PARTITION BY event_type ORDER BY ca DESC, user_id) AS rk
      |    FROM counts WHERE ca > 0) WHERE rk <= 10),
      |tb AS (
      |  SELECT event_type, user_id FROM (
      |    SELECT event_type, user_id, row_number() OVER (
      |      PARTITION BY event_type ORDER BY cb DESC, user_id) AS rk
      |    FROM counts WHERE cb > 0) WHERE rk <= 10),
      |ov AS (
      |  SELECT event_type, COUNT(*) AS n_overlap
      |  FROM (SELECT * FROM ta INTERSECT SELECT * FROM tb)
      |  GROUP BY event_type),
      |sz AS (
      |  SELECT COALESCE(a.event_type, b.event_type) AS event_type,
      |    COALESCE(ka, 0) AS ka, COALESCE(kb, 0) AS kb
      |  FROM (SELECT event_type, COUNT(*) AS ka FROM ta
      |        GROUP BY event_type) a
      |  FULL JOIN (SELECT event_type, COUNT(*) AS kb FROM tb
      |        GROUP BY event_type) b
      |  ON a.event_type = b.event_type)
      |SELECT c.event_type,
      |  CAST(COALESCE(n_overlap, 0) AS BIGINT) AS n_overlap,
      |  CAST(LEAST(10, LEAST(COALESCE(ka, 0), COALESCE(kb, 0)))
      |    AS BIGINT) AS k,
      |  CAST(CASE WHEN LEAST(10, LEAST(COALESCE(ka, 0),
      |      COALESCE(kb, 0))) > 0
      |    THEN COALESCE(n_overlap, 0) * 1000000
      |      // LEAST(10, LEAST(COALESCE(ka, 0), COALESCE(kb, 0)))
      |    ELSE 0 END AS BIGINT) AS overlap_ppm
      |FROM (SELECT DISTINCT event_type FROM counts) c
      |LEFT JOIN ov ON c.event_type = ov.event_type
      |LEFT JOIN sz ON c.event_type = sz.event_type
      |ORDER BY c.event_type""".stripMargin

  // ---------------------------------------------------------------------
  // q249 — session-basket lift: treating each 30-minute session (q31's
  // gap rule) as a basket of the event types it contains, the lift
  // P(a,b)/(P(a)·P(b)) for every type pair — q158's association-rule
  // statistic lifted from purchase orders to BEHAVIORAL sessions
  // ("users who error in a session also purchase in it?"). lift > 1000
  // (×1000 fixed-point) means co-occurring beyond independence. The
  // cross-multiplied form n_ab·S·1000/(n_a·n_b) runs in DECIMAL(38)
  // (≡ DuckDB HUGEINT) so it stays exact at any session count.
  //
  // Scale shape: the q31 per-user lag/cumsum sessionization (bounded
  // partitions, one shuffle on user), distinct to (user, sid, type)
  // baskets, a basket-keyed self-join with ≤ C(5,2) pairs per basket,
  // then metadata-sized reductions broadcast back.
  // ---------------------------------------------------------------------
  def q249_session_lift(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val baskets = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("ts"))
      .withColumn("prev", lag(col("ts"), 1).over(w))
      .withColumn("new_s",
        when(col("prev").isNull ||
          col("ts") - col("prev") > 1800000000000L, 1L).otherwise(0L))
      .withColumn("sid", sum(col("new_s")).over(
        w.rowsBetween(Window.unboundedPreceding, 0)))
      .select(col("user_id"), col("sid"), col("event_type"))
      .distinct()
      .localCheckpoint(eager = true) // totals, singles, AND both pair sides
    val total = baskets.select(col("user_id"), col("sid")).distinct()
      .agg(count(lit(1)).as("s_total"))
    val singles = baskets.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_single"))
    val pairs = baskets.as("a").join(baskets.as("b"),
        col("a.user_id") === col("b.user_id") &&
          col("a.sid") === col("b.sid") &&
          col("a.event_type") < col("b.event_type"))
      .groupBy(col("a.event_type").as("type_a"),
        col("b.event_type").as("type_b"))
      .agg(count(lit(1)).as("n_ab"))
    pairs
      .join(broadcast(singles.toDF("type_a", "n_a")), Seq("type_a"))
      .join(broadcast(singles.toDF("type_b", "n_b")), Seq("type_b"))
      .crossJoin(broadcast(total))
      .withColumn("lift_x1000", expr(
        "cast(cast(n_ab as decimal(38,0)) * s_total * 1000 " +
          "div (cast(n_a as decimal(38,0)) * n_b) as bigint)"))
      .select(col("type_a"), col("type_b"), col("n_ab"), col("n_a"),
        col("n_b"), col("s_total"), col("lift_x1000"))
      .orderBy(col("type_a"), col("type_b"))
  }

  val q249_sql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, event_type, epoch_ns(ts) AS tns
      |  FROM events),
      |flagged AS (
      |  SELECT user_id, event_id, event_type, tns,
      |    CASE WHEN lag(tns) OVER
      |        (PARTITION BY user_id ORDER BY tns, event_id) IS NULL
      |      OR tns - lag(tns) OVER
      |        (PARTITION BY user_id ORDER BY tns, event_id)
      |        > 1800000000000 THEN 1 ELSE 0 END AS new_s
      |  FROM e),
      |sess AS (
      |  SELECT user_id, event_type,
      |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY tns, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM flagged),
      |baskets AS (
      |  SELECT DISTINCT user_id, sid, event_type FROM sess),
      |total AS (
      |  SELECT COUNT(*) AS s_total FROM
      |    (SELECT DISTINCT user_id, sid FROM baskets)),
      |singles AS (
      |  SELECT event_type, COUNT(*) AS n FROM baskets
      |  GROUP BY event_type),
      |pairs AS (
      |  SELECT a.event_type AS type_a, b.event_type AS type_b,
      |    COUNT(*) AS n_ab
      |  FROM baskets a JOIN baskets b
      |    ON a.user_id = b.user_id AND a.sid = b.sid
      |   AND a.event_type < b.event_type
      |  GROUP BY 1, 2)
      |SELECT type_a, type_b, n_ab,
      |  CAST(sa.n AS BIGINT) AS n_a, CAST(sb.n AS BIGINT) AS n_b,
      |  CAST(s_total AS BIGINT) AS s_total,
      |  CAST(n_ab::HUGEINT * s_total * 1000
      |    // (sa.n::HUGEINT * sb.n) AS BIGINT) AS lift_x1000
      |FROM pairs
      |JOIN singles sa ON type_a = sa.event_type
      |JOIN singles sb ON type_b = sb.event_type
      |CROSS JOIN total
      |ORDER BY type_a, type_b""".stripMargin

  // ---------------------------------------------------------------------
  // q306 — autocorrelation function (Box & Jenkins 1970) of per-type
  // daily event counts at lags 1..7 — the seasonality detector that
  // decides whether a metric needs weekly deseasonalization before
  // the q264 changepoint monitor makes sense. The estimator
  // r_k = Σ(x_t−μ)(x_{t+k}−μ)/Σ(x_t−μ)² is computed EXACTLY by
  // clearing the rational mean: with S = Σx over the n observed days,
  // N_k = Σ(n·x_t − S)(n·x_{t+k} − S) over calendar-matched day pairs
  // and D = Σ(n·x_t − S)², r_k ppm = sign·(|N_k|·10⁶ div D) in
  // DECIMAL(38). Scale shape: one groupBy to daily cells, then 7
  // narrow self-joins on (type, day+k) over the calendar-bounded
  // series — state is types × days, never event volume.
  // ---------------------------------------------------------------------
  private val AcfMaxLag = 7

  def q306_autocorrelation(spark: SparkSession, dir: String)
      : DataFrame = {
    val d = Tables.events(spark, dir)
      .select(col("event_type"), expr("ts div 86400000000000").as("day"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("x"))
      .localCheckpoint(eager = true) // stats AND both join sides
    val st = d.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("s"))
    val c = d.join(broadcast(st), Seq("event_type"))
      .withColumn("cx", col("n") * col("x") - col("s"))
      .localCheckpoint(eager = true) // denominator AND 7 lag joins
    val den = c.groupBy(col("event_type"))
      .agg(sum((col("cx") * col("cx")).cast("decimal(38,0)")).as("d"),
        max(col("n")).as("n_days"))
    val lags = c.withColumn("k",
        explode(sequence(lit(1L), lit(AcfMaxLag.toLong))))
      .select(col("event_type"), col("k"),
        (col("day") + col("k")).as("day"), col("cx").as("cx_a"))
      .join(c.select(col("event_type"), col("day"), col("cx")),
        Seq("event_type", "day"))
      .groupBy(col("event_type"), col("k"))
      .agg(sum((col("cx_a") * col("cx")).cast("decimal(38,0)"))
        .as("num"), count(lit(1)).as("n_pairs"))
    lags.join(broadcast(den), Seq("event_type"))
      .withColumn("acf_ppm", expr(
        "cast(sign(num) * (abs(num) * 1000000 div d) as bigint)"))
      .select(col("event_type"), col("k"), col("n_days"),
        col("n_pairs"), col("acf_ppm"))
      .orderBy(col("event_type"), col("k"))
  }

  val q306_sql: String =
    s"""WITH d AS (
       |  SELECT event_type, epoch_ns(ts) // 86400000000000 AS day,
       |    CAST(COUNT(*) AS BIGINT) AS x
       |  FROM events GROUP BY 1, 2),
       |st AS (
       |  SELECT event_type, COUNT(*) AS n, SUM(x) AS s
       |  FROM d GROUP BY 1),
       |c AS (
       |  SELECT d.event_type, d.day, st.n,
       |    CAST(st.n * d.x - st.s AS HUGEINT) AS cx
       |  FROM d JOIN st USING (event_type)),
       |den AS (
       |  SELECT event_type, SUM(cx * cx) AS dd, MAX(n) AS n_days
       |  FROM c GROUP BY 1),
       |lags AS (
       |  SELECT a.event_type, t.k, SUM(a.cx * b.cx) AS num,
       |    COUNT(*) AS n_pairs
       |  FROM c a
       |  JOIN generate_series(1, $AcfMaxLag) t(k) ON TRUE
       |  JOIN c b ON b.event_type = a.event_type
       |    AND b.day = a.day + t.k
       |  GROUP BY 1, 2)
       |SELECT l.event_type, CAST(l.k AS BIGINT) AS k,
       |  CAST(den.n_days AS BIGINT) AS n_days,
       |  CAST(l.n_pairs AS BIGINT) AS n_pairs,
       |  CAST(sign(num) * (abs(num) * 1000000 // dd) AS BIGINT)
       |    AS acf_ppm
       |FROM lags l JOIN den USING (event_type)
       |ORDER BY l.event_type, k""".stripMargin

  // ---------------------------------------------------------------------
  // q307 — Haar wavelet synopsis (Matias, Vitter & Wang 1998, the
  // classic histogram/synopsis decomposition) of per-type daily event
  // counts: unnormalized Haar (pairwise sums & differences — pure
  // integers, no √2) over the 32-slot padded calendar, five unrolled
  // levels. Output per (type, level): coefficient count, energy
  // Σd² (DECIMAL-promoted), max |coeff| and its position — the
  // top-coefficient synopsis a planner keeps instead of the series.
  // Level 0 row carries the final scaling coefficient (the series
  // total). The spec checks Parseval exactly in BigInt:
  // 2^L·Σx² = Σ_l energy_l·2^(L−l) + a². Calendar-bounded state;
  // fails loudly if the span outgrows the padded length.
  // ---------------------------------------------------------------------
  private val HaarLevels = 5
  private val HaarLen = 1 << HaarLevels // 32 days

  def q307_haar_synopsis(spark: SparkSession, dir: String): DataFrame = {
    val raw = Tables.events(spark, dir)
      .select(col("event_type"), expr("ts div 86400000000000").as("day"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("x"))
    val mn = raw.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    val spanned = raw.crossJoin(broadcast(mn))
      .withColumn("k", col("day") - col("d0"))
    // pad to the fixed dyadic length; a span beyond it is a data
    // contract violation, not something to silently truncate
    val types = raw.select(col("event_type")).distinct()
    val grid = types
      .crossJoin(spark.range(HaarLen).select(col("id").as("k")))
      .join(spanned.select(col("event_type"), col("k"),
        when(col("k") >= HaarLen,
          raise_error(lit(s"q307: day span exceeds $HaarLen")))
          .otherwise(col("x")).as("x")),
        Seq("event_type", "k"), "left_outer")
      .na.fill(0L, Seq("x"))
    var cur = grid.select(col("event_type"), col("k"), col("x").as("s"))
    var out: DataFrame = null
    for (l <- 1 to HaarLevels) {
      val nxt = cur
        .groupBy(col("event_type"), expr("k div 2").as("k"))
        .agg(sum(when(pmod(col("k"), lit(2)) === 0, col("s"))
            .otherwise(0L)).as("e"),
          sum(when(pmod(col("k"), lit(2)) === 1, col("s"))
            .otherwise(0L)).as("o"))
      val coeffs = nxt.select(col("event_type"), lit(l.toLong).as("level"),
        col("k"), (col("e") - col("o")).as("c"))
      out = if (out == null) coeffs else out.unionByName(coeffs)
      cur = nxt.select(col("event_type"), col("k"),
        (col("e") + col("o")).as("s"))
    }
    val approx = cur.select(col("event_type"), lit(0L).as("level"),
      col("k"), col("s").as("c"))
    out.unionByName(approx)
      .groupBy(col("event_type"), col("level"))
      .agg(count(lit(1)).as("n_coeffs"),
        sum((col("c") * col("c")).cast("decimal(38,0)"))
          .cast("long").as("energy"),
        max(abs(col("c"))).as("max_abs"),
        max(struct(abs(col("c")), (-col("k")).as("nk")))
          .getField("nk").as("neg_pos"))
      .withColumn("max_pos", -col("neg_pos"))
      .select(col("event_type"), col("level"), col("n_coeffs"),
        col("energy"), col("max_abs"), col("max_pos"))
      .orderBy(col("event_type"), col("level"))
  }

  val q307_sql: String = {
    val levels = (1 to HaarLevels).map { l =>
      s"""lv$l AS (
         |  SELECT event_type, k // 2 AS k,
         |    SUM(CASE WHEN k % 2 = 0 THEN s ELSE 0 END) AS e,
         |    SUM(CASE WHEN k % 2 = 1 THEN s ELSE 0 END) AS o
         |  FROM s${l - 1} GROUP BY 1, 2),
         |s$l AS (SELECT event_type, k, e + o AS s FROM lv$l),
         |c$l AS (SELECT event_type, ${l} AS level, k, e - o AS c
         |        FROM lv$l)""".stripMargin
    }.mkString(",\n")
    val unions = (1 to HaarLevels).map(l => s"SELECT * FROM c$l")
      .mkString("\n  UNION ALL ")
    s"""WITH raw AS (
       |  SELECT event_type, epoch_ns(ts) // 86400000000000 AS day,
       |    CAST(COUNT(*) AS BIGINT) AS x
       |  FROM events GROUP BY 1, 2),
       |mn AS (SELECT MIN(day) AS d0 FROM raw),
       |grid AS (
       |  SELECT t.event_type, g.k, COALESCE(r.x, 0) AS x
       |  FROM (SELECT DISTINCT event_type FROM raw) t
       |  CROSS JOIN generate_series(0, ${HaarLen - 1}) g(k)
       |  LEFT JOIN (SELECT event_type, day - d0 AS k, x
       |             FROM raw, mn) r
       |  ON r.event_type = t.event_type AND r.k = g.k),
       |s0 AS (SELECT event_type, k, x AS s FROM grid),
       |$levels,
       |allc AS (
       |  $unions
       |  UNION ALL
       |  SELECT event_type, 0 AS level, k, s AS c FROM s$HaarLevels)
       |SELECT event_type, CAST(level AS BIGINT) AS level,
       |  CAST(COUNT(*) AS BIGINT) AS n_coeffs,
       |  CAST(SUM(CAST(c AS HUGEINT) * c) AS BIGINT) AS energy,
       |  CAST(MAX(abs(c)) AS BIGINT) AS max_abs,
       |  CAST(-MAX(struct_pack(a := abs(c), nk := -k)).nk AS BIGINT)
       |    AS max_pos
       |FROM allc GROUP BY 1, 2
       |ORDER BY event_type, level""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q308 — Theil–Sen robust trend (Theil 1950, Sen 1968): the median
  // of all pairwise day-slopes of the per-type daily counts — the
  // outlier-immune alternative to q298's OLS for "is this metric
  // drifting". Slopes are exact sign-magnitude ppm integers; the
  // median is the lower median with a (slope, pair) total-order
  // tie-break. Pair volume is calendar-bounded (days², ~500 per
  // type), so the O(n²) estimator that cannot run on raw events runs
  // free on the daily rollup — the aggregate-first discipline.
  // ---------------------------------------------------------------------
  def q308_theil_sen(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.events(spark, dir)
      .select(col("event_type"), expr("ts div 86400000000000").as("day"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("x"))
      .localCheckpoint(eager = true) // both sides of the pair join
    val pairs = d.as("a")
      .join(d.as("b"), col("a.event_type") === col("b.event_type") &&
        col("b.day") > col("a.day"))
      .select(col("a.event_type").as("event_type"),
        col("a.day").as("d1"), col("b.day").as("d2"),
        (col("b.x") - col("a.x")).as("dx"),
        (col("b.day") - col("a.day")).as("dd"))
      .withColumn("slope_ppm", expr(
        "cast(sign(dx) * (abs(dx) * 1000000 div dd) as bigint)"))
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("slope_ppm"), col("d1"), col("d2"))
    val wp = Window.partitionBy(col("event_type"))
    pairs.withColumn("rn", row_number().over(w))
      .withColumn("np", count(lit(1)).over(wp))
      .groupBy(col("event_type"))
      .agg(max(col("np")).as("n_pairs"),
        max(when(col("rn") === expr("(np + 1) div 2"),
          col("slope_ppm"))).as("median_slope_ppm"),
        min(col("slope_ppm")).as("min_slope_ppm"),
        max(col("slope_ppm")).as("max_slope_ppm"))
      .orderBy(col("event_type"))
  }

  val q308_sql: String =
    """WITH d AS (
      |  SELECT event_type, epoch_ns(ts) // 86400000000000 AS day,
      |    CAST(COUNT(*) AS BIGINT) AS x
      |  FROM events GROUP BY 1, 2),
      |p AS (
      |  SELECT a.event_type, a.day AS d1, b.day AS d2,
      |    CAST(sign(b.x - a.x) * (abs(b.x - a.x) * 1000000
      |      // (b.day - a.day)) AS BIGINT) AS slope_ppm
      |  FROM d a JOIN d b ON b.event_type = a.event_type
      |    AND b.day > a.day),
      |r AS (
      |  SELECT event_type, slope_ppm,
      |    ROW_NUMBER() OVER (PARTITION BY event_type
      |      ORDER BY slope_ppm, d1, d2) AS rn,
      |    COUNT(*) OVER (PARTITION BY event_type) AS np
      |  FROM p)
      |SELECT event_type, CAST(MAX(np) AS BIGINT) AS n_pairs,
      |  CAST(MAX(CASE WHEN rn = (np + 1) // 2 THEN slope_ppm END)
      |    AS BIGINT) AS median_slope_ppm,
      |  CAST(MIN(slope_ppm) AS BIGINT) AS min_slope_ppm,
      |  CAST(MAX(slope_ppm) AS BIGINT) AS max_slope_ppm
      |FROM r GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------------
  // q309 — CUPED variance-reduced experiment readout (Deng, Xu,
  // Kohavi & Walker 2013): users split by id parity into variants;
  // metric y = second-half event count, covariate x = first-half
  // count; θ = cov(x,y)/var(x) POOLED (the CUPED estimator), and
  // each variant's adjusted mean ŷ = ȳ − θ·(x̄_v − x̄). All in exact
  // sign-magnitude ppm with DECIMAL(38) moment sums — the A/B
  // readout shape that needs only six mergeable sums per variant at
  // any corpus size. r²(x,y) rides along as the realized variance-
  // reduction factor.
  // ---------------------------------------------------------------------
  def q309_cuped_readout(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), expr("ts div 86400000000000").as("day"))
    val mid = ev.agg(expr("(min(day) + max(day)) div 2").as("mid"))
    val um = ev.crossJoin(broadcast(mid))
      .groupBy(col("user_id"))
      .agg(sum(when(col("day") <= col("mid"), 1L).otherwise(0L)).as("x"),
        sum(when(col("day") > col("mid"), 1L).otherwise(0L)).as("y"))
      .withColumn("variant", pmod(col("user_id"), lit(2)))
      .localCheckpoint(eager = true) // pooled AND per-variant moments
    val pooled = um.agg(
      count(lit(1)).cast("decimal(38,0)").as("n"),
      sum(col("x")).cast("decimal(38,0)").as("sx"),
      sum(col("y")).cast("decimal(38,0)").as("sy"),
      sum((col("x") * col("x")).cast("decimal(38,0)")).as("sxx"),
      sum((col("y") * col("y")).cast("decimal(38,0)")).as("syy"),
      sum((col("x") * col("y")).cast("decimal(38,0)")).as("sxy"))
      .withColumn("num", expr("n * sxy - sx * sy"))
      .withColumn("dx", expr("n * sxx - sx * sx"))
      .withColumn("dy", expr("n * syy - sy * sy"))
      .withColumn("theta_ppm", expr(
        "cast(sign(num) * (abs(num) * 1000000 div dx) as bigint)"))
      .withColumn("r2_ppm", expr(
        "cast((abs(num) * 1000 div dx) * (abs(num) * 1000 div dy)" +
          " as bigint)"))
      .withColumn("pool_x_ppm", expr(
        "cast(sx * 1000000 div n as bigint)"))
      .select(col("theta_ppm"), col("r2_ppm"), col("pool_x_ppm"))
    um.groupBy(col("variant"))
      .agg(count(lit(1)).as("n_users"), sum(col("y")).as("sy"),
        sum(col("x")).as("sx"))
      .crossJoin(broadcast(pooled))
      .withColumn("mean_y_ppm", expr("sy * 1000000 div n_users"))
      .withColumn("dxv",
        expr("sx * 1000000 div n_users - pool_x_ppm"))
      .withColumn("adj_mean_y_ppm", expr(
        "cast(mean_y_ppm - sign(theta_ppm) * sign(dxv) * " +
          "(abs(theta_ppm) * abs(dxv) div 1000000) as bigint)"))
      .select(col("variant").cast("long").as("variant"), col("n_users"),
        col("mean_y_ppm"), col("adj_mean_y_ppm"), col("theta_ppm"),
        col("r2_ppm"))
      .orderBy(col("variant"))
  }

  val q309_sql: String =
    """WITH ev AS (
      |  SELECT user_id, epoch_ns(ts) // 86400000000000 AS day
      |  FROM events),
      |mid AS (SELECT (MIN(day) + MAX(day)) // 2 AS mid FROM ev),
      |um AS (
      |  SELECT user_id, user_id % 2 AS variant,
      |    SUM(CASE WHEN day <= mid THEN 1 ELSE 0 END) AS x,
      |    SUM(CASE WHEN day > mid THEN 1 ELSE 0 END) AS y
      |  FROM ev, mid GROUP BY 1, 2),
      |pooled AS (
      |  SELECT CAST(COUNT(*) AS HUGEINT) AS n,
      |    CAST(SUM(x) AS HUGEINT) AS sx, CAST(SUM(y) AS HUGEINT) AS sy,
      |    CAST(SUM(x * x) AS HUGEINT) AS sxx,
      |    CAST(SUM(y * y) AS HUGEINT) AS syy,
      |    CAST(SUM(x * y) AS HUGEINT) AS sxy
      |  FROM um),
      |pp AS (
      |  SELECT
      |    CAST(sign(n * sxy - sx * sy) * (abs(n * sxy - sx * sy)
      |      * 1000000 // (n * sxx - sx * sx)) AS BIGINT) AS theta_ppm,
      |    CAST((abs(n * sxy - sx * sy) * 1000 // (n * sxx - sx * sx))
      |      * (abs(n * sxy - sx * sy) * 1000 // (n * syy - sy * sy))
      |      AS BIGINT) AS r2_ppm,
      |    CAST(sx * 1000000 // n AS BIGINT) AS pool_x_ppm
      |  FROM pooled),
      |v AS (
      |  SELECT variant, COUNT(*) AS n_users, SUM(y) AS sy,
      |    SUM(x) AS sx
      |  FROM um GROUP BY 1)
      |SELECT CAST(variant AS BIGINT) AS variant,
      |  CAST(n_users AS BIGINT) AS n_users,
      |  CAST(sy * 1000000 // n_users AS BIGINT) AS mean_y_ppm,
      |  CAST(sy * 1000000 // n_users
      |    - sign(theta_ppm) * sign(sx * 1000000 // n_users - pool_x_ppm)
      |    * (abs(theta_ppm) * abs(sx * 1000000 // n_users - pool_x_ppm)
      |       // 1000000) AS BIGINT) AS adj_mean_y_ppm,
      |  theta_ppm, r2_ppm
      |FROM v CROSS JOIN pp
      |ORDER BY variant""".stripMargin

  // ---------------------------------------------------------------------
  // q318 — Kaplan–Meier survival curve (1958) of user lifetimes: a
  // user is "born" on their first event day, "dies" on their last
  // (users still active on the global last day are right-censored,
  // the definitional KM distinction). The product-limit estimator
  // S(t) = Π(1 − d_i/n_i) is inherently sequential, but its INPUT
  // reduces to one calendar-bounded day table (births/ends per day +
  // two running sums), so the recurrence runs on ≤ a few hundred
  // driver rows (loudly guarded) with integer-ppm flooring that the
  // oracle's RECURSIVE CTE replays step for step. The corpus-sized
  // work is exactly two hash aggs.
  // ---------------------------------------------------------------------
  private val KmMaxDays = 512

  def q318_kaplan_meier(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val spans = Tables.events(spark, dir)
      .select(col("user_id"), expr("ts div 86400000000000").as("day"))
      .groupBy(col("user_id"))
      .agg(min(col("day")).as("fd"), max(col("day")).as("ld"))
      .localCheckpoint(eager = true) // births, ends, censor boundary
    val mx = spans.agg(max(col("ld")).as("mxd"))
    val births = spans.groupBy(col("fd").as("day"))
      .agg(count(lit(1)).as("b"))
    val ends = spans.crossJoin(broadcast(mx))
      .groupBy(col("ld").as("day"))
      .agg(count(lit(1)).as("e"),
        sum(when(col("ld") < col("mxd"), 1L).otherwise(0L)).as("d"))
    val cells = graft.ops.Driver.boundedCollect(
      births.join(ends, Seq("day"), "full_outer")
        .na.fill(0L, Seq("b", "e", "d"))
        .orderBy(col("day")),
      KmMaxDays.toInt, "q318 KM day cells")
    var (alive, s) = (0L, 1000000L)
    val rows = cells.map { r =>
      val (day, b, e, d) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      alive += b // at-risk set entering the day includes today's births
      val nRisk = alive
      if (nRisk > 0) s = s * (nRisk - d) / nRisk
      alive -= e
      (day, nRisk, d, s)
    }.toSeq
    rows.toDF("day", "n_risk", "n_deaths", "s_ppm")
      .orderBy(col("day"))
  }

  val q318_sql: String =
    """WITH RECURSIVE spans AS (
      |  SELECT user_id, MIN(epoch_ns(ts) // 86400000000000) AS fd,
      |    MAX(epoch_ns(ts) // 86400000000000) AS ld
      |  FROM events GROUP BY 1),
      |mx AS (SELECT MAX(ld) AS mxd FROM spans),
      |births AS (SELECT fd AS day, COUNT(*) AS b FROM spans GROUP BY 1),
      |ends AS (
      |  SELECT ld AS day, COUNT(*) AS e,
      |    SUM(CASE WHEN ld < mxd THEN 1 ELSE 0 END) AS d
      |  FROM spans, mx GROUP BY 1),
      |cells AS (
      |  SELECT COALESCE(births.day, ends.day) AS day,
      |    COALESCE(b, 0) AS b, COALESCE(e, 0) AS e, COALESCE(d, 0) AS d,
      |    ROW_NUMBER() OVER (ORDER BY COALESCE(births.day, ends.day))
      |      AS rn
      |  FROM births FULL OUTER JOIN ends ON births.day = ends.day),
      |cum AS (
      |  SELECT day, d, rn,
      |    SUM(b) OVER (ORDER BY rn) -
      |      COALESCE(SUM(e) OVER (ORDER BY rn
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS n_risk
      |  FROM cells),
      |km AS (
      |  SELECT rn, day, n_risk, d,
      |    CASE WHEN n_risk > 0
      |      THEN (n_risk - d) * 1000000 // n_risk
      |      ELSE 1000000 END AS s
      |  FROM cum WHERE rn = 1
      |  UNION ALL
      |  SELECT c.rn, c.day, c.n_risk, c.d,
      |    CASE WHEN c.n_risk > 0
      |      THEN km.s * (c.n_risk - c.d) // c.n_risk
      |      ELSE km.s END
      |  FROM km JOIN cum c ON c.rn = km.rn + 1)
      |SELECT day, CAST(n_risk AS BIGINT) AS n_risk,
      |  CAST(d AS BIGINT) AS n_deaths, CAST(s AS BIGINT) AS s_ppm
      |FROM km ORDER BY day""".stripMargin

  // ---------------------------------------------------------------------
  // q330 — Kendall τ-b between every pair of event types' DAILY count
  // series (Kendall 1938): do two metrics move together day over
  // day? τ-b handles the tied days Spearman's d² formula can't (flat
  // series are ties, not noise). The pair table is calendar-bounded
  // — days² × type-pairs, the q308 Theil–Sen discipline, never
  // events² — and the corpus-sized work is ONE (type, day) hash agg.
  // The denominator √((n₀−tₓ)(n₀−tᵧ)) uses the exact integer isqrt
  // (PlannerQueries.isqrtSql), numerator sign split out
  // sign-magnitude so both engines floor identically.
  // ---------------------------------------------------------------------
  def q330_kendall_daily(spark: SparkSession, dir: String)
      : DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_type").as("t"),
        expr("ts div 86400000000000").as("day"))
    val counts = ev.groupBy(col("t"), col("day"))
      .agg(count(lit(1)).as("c"))
    val cal = ev.select(col("day")).distinct()
    val types = ev.select(col("t")).distinct()
    // the zero-filled grid is calendar × types — bounded, two
    // consumers, so the checkpoint is cheap and saves the corpus agg
    val grid = cal.crossJoin(broadcast(types))
      .join(counts, Seq("t", "day"), "left_outer")
      .na.fill(0L, Seq("c"))
      .localCheckpoint(eager = true)
    val nd = cal.agg(count(lit(1)).as("n_days"))
    val pairDay = grid.as("a")
      .join(grid.as("b"), col("a.day") === col("b.day") &&
        col("a.t") < col("b.t"))
      .select(col("a.t").as("ta"), col("b.t").as("tb"),
        col("a.day").as("day"), col("a.c").as("xa"),
        col("b.c").as("xb"))
      .localCheckpoint(eager = true) // both sides of the day² join
    val stats = pairDay.as("p")
      .join(pairDay.as("q"), col("p.ta") === col("q.ta") &&
        col("p.tb") === col("q.tb") && col("p.day") < col("q.day"))
      .select(col("p.ta").as("ta"), col("p.tb").as("tb"),
        (col("q.xa") - col("p.xa")).as("dx"),
        (col("q.xb") - col("p.xb")).as("dy"))
      .groupBy(col("ta"), col("tb"))
      .agg(count(lit(1)).as("n0"),
        sum(when(col("dx") * col("dy") > 0, 1L).otherwise(0L))
          .as("conc"),
        sum(when(col("dx") * col("dy") < 0, 1L).otherwise(0L))
          .as("disc"),
        sum(when(col("dx") === 0, 1L).otherwise(0L)).as("tx"),
        sum(when(col("dy") === 0, 1L).otherwise(0L)).as("ty"))
    stats.crossJoin(broadcast(nd))
      .withColumn("den",
        expr(PlannerQueries.isqrtSql("(n0 - tx) * (n0 - ty)")))
      .select(col("ta").as("type_a"), col("tb").as("type_b"),
        col("n_days"), col("conc"), col("disc"),
        expr("""CASE WHEN den = 0 THEN 0
          | ELSE sign(conc - disc) *
          |   (abs(conc - disc) * 1000000 div den)
          | END""".stripMargin).cast("long").as("tau_b_ppm"))
      .orderBy(col("type_a"), col("type_b"))
  }

  val q330_sql: String = {
    val den = PlannerQueries.isqrtSql("(n0 - tx) * (n0 - ty)")
    s"""WITH ev AS (
       |  SELECT event_type AS t,
       |    epoch_ns(ts) // 86400000000000 AS day
       |  FROM events),
       |counts AS (
       |  SELECT t, day, COUNT(*) AS c FROM ev GROUP BY 1, 2),
       |cal AS (SELECT DISTINCT day FROM ev),
       |types AS (SELECT DISTINCT t FROM ev),
       |grid AS (
       |  SELECT types.t, cal.day, COALESCE(counts.c, 0) AS c
       |  FROM cal CROSS JOIN types
       |  LEFT JOIN counts ON counts.t = types.t
       |    AND counts.day = cal.day),
       |pd AS (
       |  SELECT a.t AS ta, b.t AS tb, a.day AS day, a.c AS xa,
       |    b.c AS xb
       |  FROM grid a JOIN grid b ON a.day = b.day AND a.t < b.t),
       |st AS (
       |  SELECT p.ta, p.tb, COUNT(*) AS n0,
       |    SUM(CASE WHEN (q.xa - p.xa) * (q.xb - p.xb) > 0
       |      THEN 1 ELSE 0 END) AS conc,
       |    SUM(CASE WHEN (q.xa - p.xa) * (q.xb - p.xb) < 0
       |      THEN 1 ELSE 0 END) AS disc,
       |    SUM(CASE WHEN q.xa = p.xa THEN 1 ELSE 0 END) AS tx,
       |    SUM(CASE WHEN q.xb = p.xb THEN 1 ELSE 0 END) AS ty
       |  FROM pd p JOIN pd q ON p.ta = q.ta AND p.tb = q.tb
       |    AND p.day < q.day
       |  GROUP BY 1, 2)
       |SELECT ta AS type_a, tb AS type_b,
       |  CAST((SELECT COUNT(*) FROM cal) AS BIGINT) AS n_days,
       |  CAST(conc AS BIGINT) AS conc, CAST(disc AS BIGINT) AS disc,
       |  CAST(CASE WHEN $den = 0 THEN 0
       |    ELSE sign(conc - disc) *
       |      (abs(conc - disc) * 1000000 // $den) END AS BIGINT)
       |    AS tau_b_ppm
       |FROM st
       |ORDER BY type_a, type_b""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q341 — difference-in-differences readout (the quasi-experiment
  // workhorse when randomization isn't available): treatment = users
  // whose FIRST event is a signup (min(ts, event_id) struct — a
  // deterministic first-touch rule), periods split at the calendar
  // midpoint (min+max)/2, and the effect estimate is
  // (T,post − T,pre) − (C,post − C,pre) over mean spend in
  // milli-cents — the parallel-trends subtraction that removes both
  // group level and period level. Corpus work: one per-user
  // first-touch agg + one 4-cell conditional agg; the 2×2 table and
  // the DiD scalar are arithmetic on 4 rows.
  // ---------------------------------------------------------------------
  def q341_diff_in_diff(spark: SparkSession, dir: String)
      : DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("ts div 86400000000000").as("day"),
        expr("cast(floor(value * 100) as bigint)").as("x"))
      .localCheckpoint(eager = true) // first-touch + cell consumers
    val firstTouch = ev
      .groupBy(col("user_id"))
      .agg(min(struct(col("day"), col("event_id"),
        col("event_type"))).as("ft"))
      .select(col("user_id"),
        (col("ft.event_type") === "signup").as("treat"))
    val mid = ev.agg(
      expr("(min(day) + max(day)) div 2").as("mid_day"))
    val cells = ev.join(firstTouch, Seq("user_id"))
      .crossJoin(broadcast(mid))
      .withColumn("post", col("day") > col("mid_day"))
      .groupBy(col("treat"), col("post"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"))
      .withColumn("mean_mc", expr("sx * 1000 div n"))
      .localCheckpoint(eager = true) // 4 rows; output + DiD consumers
    val did = cells.agg(sum(expr(
      """CASE WHEN treat AND post THEN mean_mc
        | WHEN treat AND NOT post THEN -mean_mc
        | WHEN NOT treat AND post THEN -mean_mc
        | ELSE mean_mc END""".stripMargin)).as("did_mc"))
    cells.crossJoin(broadcast(did))
      .select(col("treat"), col("post"), col("n"), col("mean_mc"),
        col("did_mc"))
      .orderBy(col("treat"), col("post"))
  }

  val q341_sql: String =
    """WITH ev AS (
      |  SELECT user_id, event_id, event_type,
      |    epoch_ns(ts) // 86400000000000 AS day,
      |    CAST(floor(value * 100) AS BIGINT) AS x
      |  FROM events),
      |ft AS (
      |  SELECT user_id, event_type FROM (
      |    SELECT user_id, event_type, ROW_NUMBER() OVER (
      |      PARTITION BY user_id ORDER BY day, event_id) AS rn
      |    FROM ev) WHERE rn = 1),
      |treat AS (
      |  SELECT user_id, (event_type = 'signup') AS treat FROM ft),
      |mid AS (SELECT (MIN(day) + MAX(day)) // 2 AS mid_day FROM ev),
      |cells AS (
      |  SELECT treat, day > mid_day AS post, COUNT(*) AS n,
      |    SUM(x) AS sx
      |  FROM ev JOIN treat USING (user_id) CROSS JOIN mid
      |  GROUP BY 1, 2),
      |mm AS (SELECT treat, post, n, sx * 1000 // n AS mean_mc
      |  FROM cells),
      |did AS (
      |  SELECT SUM(CASE WHEN treat AND post THEN mean_mc
      |    WHEN treat AND NOT post THEN -mean_mc
      |    WHEN NOT treat AND post THEN -mean_mc
      |    ELSE mean_mc END) AS did_mc
      |  FROM mm)
      |SELECT treat, post, CAST(n AS BIGINT) AS n,
      |  CAST(mean_mc AS BIGINT) AS mean_mc,
      |  CAST(did_mc AS BIGINT) AS did_mc
      |FROM mm CROSS JOIN did
      |ORDER BY treat, post""".stripMargin

  val registry: graft.SparkEntry.Registry = Seq(
    ("q341_diff_in_diff", q341_diff_in_diff _, q341_sql),
    ("q330_kendall_daily", q330_kendall_daily _, q330_sql),
    ("q318_kaplan_meier", q318_kaplan_meier _, q318_sql),
    ("q307_haar_synopsis", q307_haar_synopsis _, q307_sql),
    ("q308_theil_sen", q308_theil_sen _, q308_sql),
    ("q309_cuped_readout", q309_cuped_readout _, q309_sql),
    ("q306_autocorrelation", q306_autocorrelation _, q306_sql),
    ("q219_rolling_wau", q219_rolling_wau _, q219_sql),
    ("q220_decayed_popularity", q220_decayed_popularity _, q220_sql),
    ("q221_cohens_kappa", q221_cohens_kappa _, q221_sql),
    ("q222_gini", q222_gini _, q222_sql),
    ("q230_simpson_diversity", q230_simpson_diversity _, q230_sql),
    ("q236_interarrival", q236_interarrival _, q236_sql),
    ("q242_tv_drift", q242_tv_drift _, q242_sql),
    ("q243_burstiness", q243_burstiness _, q243_sql),
    ("q244_stream_tv_drift", q244_stream_tv_drift _, q242_sql),
    ("q264_cusum_changepoint", q264_cusum_changepoint _, q264_sql),
    ("q266_bradley_terry", q266_bradley_terry _, q266_sql),
    ("q245_funnel_latency", q245_funnel_latency _, q245_sql),
    ("q247_leaderboard_churn", q247_leaderboard_churn _, q247_sql),
    ("q249_session_lift", q249_session_lift _, q249_sql))
}
