package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType

import graft.Tables

/** Event-stream analytics in batch form (the driver's oracle cannot run a
  * stream; graft.streaming.Incremental carries the same semantics with
  * watermarks). `ts` reads as long nanoseconds (nanosAsLong), so all
  * window arithmetic is exact integer math — identical in any engine.
  */
object EventQueries {

  private def dsum(c: org.apache.spark.sql.Column) =
    sum(c.cast(DecimalType(30, 6))).cast("double")

  // -------------------------------------------------------------------
  // q30 — tumbling 1-hour windows per event type (streaming-window shape;
  // at scale: single shuffle on (hour, type), partial aggregation first).
  // -------------------------------------------------------------------
  def q30_hourly_windows(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(expr("ts div 3600000000000").as("hour_bucket"),
        col("event_type"), col("value"))
      .groupBy(col("hour_bucket"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("total_value"))
      .orderBy(col("hour_bucket"), col("event_type"))

  val q30_sql: String =
    """SELECT epoch_ns(ts) // 3600000000000 AS hour_bucket, event_type,
      |  COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS total_value
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY hour_bucket, event_type""".stripMargin

  // -------------------------------------------------------------------
  // q31 — gap-based sessionization (30-min idle gap) via lag + running
  // sum — the batch equivalent of session_window. One shuffle on user_id.
  // -------------------------------------------------------------------
  def q31_sessions(spark: SparkSession, dir: String): DataFrame = {
    // DuckDB reads these TIMESTAMP(NANOS) values at micro precision —
    // work in microseconds on both sides for exact parity.
    val e = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"),
        expr("ts div 1000").as("tsu"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("tsu"), col("event_id"))
    val gapUs = 1800000000L // 30 min
    val flagged = e.withColumn("prev_ts", lag(col("tsu"), 1).over(w))
      .withColumn("is_new",
        when(col("prev_ts").isNull ||
          col("tsu") - col("prev_ts") > gapUs, 1L).otherwise(0L))
      .withColumn("session_seq",
        sum(col("is_new")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
    flagged.groupBy(col("user_id"), col("session_seq"))
      .agg(count(lit(1)).as("n_events"),
        (max(col("tsu")) - min(col("tsu"))).as("duration_us"))
      .orderBy(col("user_id"), col("session_seq"))
  }

  val q31_sql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS tsn FROM events),
      |s AS (
      |  SELECT user_id, event_id, tsn,
      |    CASE WHEN lag(tsn) OVER (PARTITION BY user_id
      |                             ORDER BY tsn, event_id) IS NULL
      |      OR tsn - lag(tsn) OVER (PARTITION BY user_id
      |                              ORDER BY tsn, event_id)
      |         > 1800000000
      |      THEN 1 ELSE 0 END AS is_new
      |  FROM e),
      |t AS (
      |  SELECT user_id, tsn,
      |    CAST(SUM(is_new) OVER (PARTITION BY user_id
      |      ORDER BY tsn, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
      |      AS session_seq
      |  FROM s)
      |SELECT user_id, session_seq, COUNT(*) AS n_events,
      |       MAX(tsn) - MIN(tsn) AS duration_us
      |FROM t
      |GROUP BY user_id, session_seq
      |ORDER BY user_id, session_seq""".stripMargin

  // -------------------------------------------------------------------
  // q70 — event-type transition matrix (first-order Markov counts): per
  // user, consecutive event pairs in (time, id) order, aggregated over
  // users. The behavioral-sequence op (lag window → count); one shuffle
  // on user_id, then a tiny 5×5 aggregate.
  // -------------------------------------------------------------------
  def q70_transitions(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("tsu"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"),
        expr("ts div 1000").as("tsu"), col("event_type"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type").as("next_type"))
      .agg(count(lit(1)).as("n_transitions"))
      .orderBy(col("prev_type"), col("next_type"))
  }

  val q70_sql: String =
    """WITH s AS (
      |  SELECT event_type,
      |    lag(event_type) OVER (PARTITION BY user_id
      |      ORDER BY epoch_us(ts), event_id) AS prev_type
      |  FROM events)
      |SELECT prev_type, event_type AS next_type,
      |       COUNT(*) AS n_transitions
      |FROM s WHERE prev_type IS NOT NULL
      |GROUP BY prev_type, next_type
      |ORDER BY prev_type, next_type""".stripMargin

  // -------------------------------------------------------------------
  // q71 — unpivot (melt): the wide per-user activity profile of q63
  // folded back to long form via Dataset.unpivot — the wide↔long pair
  // every feature pipeline needs in both directions. Zero-count cells
  // drop out (matching the long-form groupBy the oracle runs).
  // -------------------------------------------------------------------
  private val EventTypes = Seq("click", "error", "purchase", "signup",
    "view")

  def q71_unpivot(spark: SparkSession, dir: String): DataFrame = {
    val pivoted = Tables.events(spark, dir)
      .filter(col("user_id") < 50)
      .groupBy(col("user_id"))
      .pivot("event_type", EventTypes)
      .agg(count(lit(1)))
    pivoted.select(col("user_id") +: EventTypes.map(t =>
        coalesce(col(t), lit(0L)).as(t)): _*)
      .unpivot(Array(col("user_id")), EventTypes.map(col).toArray,
        "event_type", "n_events")
      .filter(col("n_events") > 0)
      .orderBy(col("user_id"), col("event_type"))
  }

  val q71_sql: String =
    """SELECT user_id, event_type, COUNT(*) AS n_events
      |FROM events WHERE user_id < 50
      |GROUP BY user_id, event_type
      |ORDER BY user_id, event_type""".stripMargin

  // -------------------------------------------------------------------
  // q77 — conversion funnel with ORDER semantics: per user, did a
  // view happen, a click strictly after the first view, a purchase
  // strictly after that click? min-time cascade (three conditional
  // mins per user — one shuffle, no self-joins), then one tiny count.
  // The ordered-funnel query behind every activation dashboard.
  // -------------------------------------------------------------------
  def q77_conversion_funnel(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"),
        expr("ts div 1000").as("tsu"))
    val perUser = e.groupBy(col("user_id"))
      .agg(min(when(col("event_type") === "view", col("tsu")))
        .as("t_view"))
    val withClick = e.join(perUser, Seq("user_id"))
      .groupBy(col("user_id"), col("t_view"))
      .agg(min(when(col("event_type") === "click" &&
        col("tsu") > col("t_view"), col("tsu"))).as("t_click"))
    val withBuy = e.join(withClick, Seq("user_id"))
      .groupBy(col("user_id"), col("t_view"), col("t_click"))
      .agg(min(when(col("event_type") === "purchase" &&
        col("tsu") > col("t_click"), col("tsu"))).as("t_buy"))
    withBuy.agg(
        count(lit(1)).as("n_users"),
        sum(when(col("t_view").isNotNull, 1L).otherwise(0L))
          .as("n_viewed"),
        sum(when(col("t_click").isNotNull, 1L).otherwise(0L))
          .as("n_clicked_after"),
        sum(when(col("t_buy").isNotNull, 1L).otherwise(0L))
          .as("n_purchased_after"))
  }

  val q77_sql: String =
    """WITH e AS (
      |  SELECT user_id, event_type, epoch_us(ts) AS tsu FROM events),
      |v AS (
      |  SELECT user_id,
      |    MIN(CASE WHEN event_type = 'view' THEN tsu END) AS t_view
      |  FROM e GROUP BY user_id),
      |c AS (
      |  SELECT e.user_id, v.t_view,
      |    MIN(CASE WHEN event_type = 'click' AND tsu > t_view
      |        THEN tsu END) AS t_click
      |  FROM e JOIN v ON e.user_id = v.user_id
      |  GROUP BY e.user_id, v.t_view),
      |b AS (
      |  SELECT e.user_id, c.t_view, c.t_click,
      |    MIN(CASE WHEN event_type = 'purchase' AND tsu > t_click
      |        THEN tsu END) AS t_buy
      |  FROM e JOIN c ON e.user_id = c.user_id
      |  GROUP BY e.user_id, c.t_view, c.t_click)
      |SELECT COUNT(*) AS n_users,
      |  COUNT(*) FILTER (t_view IS NOT NULL) AS n_viewed,
      |  COUNT(*) FILTER (t_click IS NOT NULL) AS n_clicked_after,
      |  COUNT(*) FILTER (t_buy IS NOT NULL) AS n_purchased_after
      |FROM b""".stripMargin

  // -------------------------------------------------------------------
  // q90 — cohort retention matrix: users grouped by first-seen day
  // (cohort), activity counted by days-since-cohort (age) — the
  // product-analytics query every event warehouse serves. Two shuffles
  // on user_id (first-seen min, then the self-alignment), distinct
  // users partial-aggregated per (cohort, age). Day arithmetic in
  // integer nano-days — identical on any engine.
  // -------------------------------------------------------------------
  def q90_retention(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("user_id"), expr("ts div 86400000000000").as("day"))
    val first = e.groupBy(col("user_id"))
      .agg(min(col("day")).as("cohort_day"))
    e.join(first, Seq("user_id"))
      .groupBy(col("cohort_day"),
        (col("day") - col("cohort_day")).as("age_days"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("cohort_day"), col("age_days"))
  }

  val q90_sql: String =
    """WITH e AS (
      |  SELECT user_id, epoch_ns(ts) // 86400000000000 AS day
      |  FROM events),
      |f AS (SELECT user_id, MIN(day) AS cohort_day FROM e
      |      GROUP BY user_id)
      |SELECT f.cohort_day, e.day - f.cohort_day AS age_days,
      |  COUNT(DISTINCT e.user_id) AS n_users
      |FROM e JOIN f ON e.user_id = f.user_id
      |GROUP BY 1, 2
      |ORDER BY cohort_day, age_days""".stripMargin

  // -------------------------------------------------------------------
  // q103 — the STREAMING engine under the batch oracle (§2.8, upgraded
  // from spec-only): the events table replayed through a parquet file
  // stream → Incremental.windowedEventCounts (watermarked tumbling
  // windows, the real Structured Streaming pipeline) → memory sink in
  // Complete mode → the same (hour_bucket, event_type, count, decimal-
  // exact sum) shape as q30, hash-compared against the identical DuckDB
  // SQL. Event-time semantics make the result independent of micro-
  // batch boundaries, which is exactly the property worth gating.
  // -------------------------------------------------------------------
  def q103_stream_windows(spark: SparkSession, dir: String): DataFrame = {
    // streamTable reads the schema AS STORED (a stream cannot infer, and
    // the batch events() loader rewrites ts to long nanos, which would
    // mismatch a timestamp file); normalize ts AFTER the source, through
    // the same seam as the batch path
    val stream = Tables.normalizeEventTs(
      Tables.streamTable(spark, dir, "events"))
      .select(timestamp_micros(expr("ts div 1000")).as("event_ts"),
        col("event_type"), col("value"))
    val agg = graft.streaming.Incremental
      .windowedEventCounts(stream, "event_ts")
    val sink = s"q103_sink_${System.nanoTime()}"
    val query = agg.writeStream.format("memory").queryName(sink)
      .outputMode("complete").start()
    try { query.processAllAvailable() } finally { query.stop() }
    spark.table(sink)
      .select((unix_timestamp(col("window_start")) / 3600)
          .cast("long").as("hour_bucket"),
        col("event_type"), col("n_events"), col("total_value"))
      .orderBy(col("hour_bucket"), col("event_type"))
  }

  // -------------------------------------------------------------------
  // q108 — STREAMING exact dedup under the batch oracle (the round-4
  // verdict's one spec-only dedup): documents replayed through a
  // parquet file stream → Incremental.streamingDedup (first arrival of
  // each normalized-content fingerprint passes, the continuous form of
  // Dedup.exactDedup) → append-mode memory sink. WHICH doc survives a
  // fingerprint group depends on micro-batch order, so the gated shape
  // is the batch-invariant one: the sorted set of surviving
  // fingerprints, which must equal the batch DISTINCT exactly.
  // -------------------------------------------------------------------
  def q108_stream_dedup(spark: SparkSession, dir: String): DataFrame = {
    val stream = Tables.streamTable(spark, dir, "documents")
    val deduped = graft.streaming.Incremental.streamingDedup(stream, "text")
    val sink = s"q108_sink_${System.nanoTime()}"
    val query = deduped.writeStream.format("memory").queryName(sink)
      .outputMode("append").start()
    try { query.processAllAvailable() } finally { query.stop() }
    spark.table(sink)
      .select(col("content_fp")).distinct()
      .orderBy(col("content_fp"))
  }

  val q108_sql: String =
    """SELECT DISTINCT sha256(trim(
      |    regexp_replace(lower(text), '\s+', ' ', 'g'))) AS content_fp
      |FROM documents
      |ORDER BY content_fp""".stripMargin

  val q103_sql: String =
    """SELECT epoch_ns(ts) // 3600000000000 AS hour_bucket, event_type,
      |  COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS total_value
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY hour_bucket, event_type""".stripMargin

  // -------------------------------------------------------------------
  // q162 — STREAMING sessionization under the batch oracle (§2.8): the
  // events table replayed through a parquet file stream →
  // Incremental.sessionizedEvents (Structured Streaming's native
  // session_window, gap 30 min) → complete-mode memory sink → the same
  // (user_id, session_seq, n_events, duration_us) shape as batch q31,
  // hash-compared against the IDENTICAL DuckDB sessionization SQL.
  // Boundary semantics verified to match the batch lag-rule exactly:
  // session_window merges an event at exactly prev+gap (batch keeps
  // diff == gap in-session, splits only on diff > gap). session_end is
  // last_event + gap, so duration = end − start − gap. Event-time
  // windows make the result micro-batch-order independent — the
  // property worth gating.
  // -------------------------------------------------------------------
  def q162_stream_sessions(spark: SparkSession, dir: String): DataFrame = {
    val stream = Tables.normalizeEventTs(
      Tables.streamTable(spark, dir, "events"))
      .select(timestamp_micros(expr("ts div 1000")).as("event_ts"),
        col("user_id"), col("value"))
    val agg = graft.streaming.Incremental
      .sessionizedEvents(stream, "event_ts", gap = "30 minutes")
    val sink = s"q162_sink_${System.nanoTime()}"
    val query = agg.writeStream.format("memory").queryName(sink)
      .outputMode("complete").start()
    try { query.processAllAvailable() } finally { query.stop() }
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("session_start"))
    spark.table(sink)
      .withColumn("session_seq", row_number().over(w).cast("long"))
      .select(col("user_id"), col("session_seq"), col("n_events"),
        (unix_micros(col("session_end")) -
          unix_micros(col("session_start")) - lit(1800000000L))
          .as("duration_us"))
      .orderBy(col("user_id"), col("session_seq"))
  }

  val q162_sql: String = q31_sql

  // -------------------------------------------------------------------
  // q163 — ARBITRARY keyed state under the batch oracle (§2.8's escape
  // hatch): the events table replayed through a file stream →
  // Incremental.runningUserTotals (mapGroupsWithState — per-user struct
  // state folded across micro-batches) → update-mode memory sink. The
  // FINAL state per user (count, total, max event id) is arrival-order
  // invariant, so a plain GROUP BY oracles the whole stateful pipeline;
  // the sink holds one row per (user, update), and n_events is strictly
  // monotone per user, so max-by-n_events selects the final state.
  // total is a float fold whose addition order differs between engines —
  // gate it at micro-unit rounding (1e-6), far above double-sum
  // associativity noise (~1e-13 at these magnitudes).
  // -------------------------------------------------------------------
  def q163_stream_state(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val stream = Tables.normalizeEventTs(
      Tables.streamTable(spark, dir, "events"))
      .select(col("user_id"), col("event_id"), col("value"))
      .as[graft.streaming.Incremental.UserEvent]
    val totals = graft.streaming.Incremental.runningUserTotals(stream)
    val sink = s"q163_sink_${System.nanoTime()}"
    val query = totals.toDF().writeStream.format("memory")
      .queryName(sink).outputMode("update").start()
    try { query.processAllAvailable() } finally { query.stop() }
    spark.table(sink)
      .groupBy(col("user_id"))
      .agg(max(struct(col("n_events"), col("total"), col("max_event_id")))
        .as("fin"))
      .select(col("user_id"), col("fin.n_events").as("n_events"),
        round(col("fin.total") * 1e6).cast("long").as("total_micro"),
        col("fin.max_event_id").as("max_event_id"))
      .orderBy(col("user_id"))
  }

  val q163_sql: String =
    """SELECT user_id, COUNT(*) AS n_events,
      |  CAST(round(SUM(value) * 1000000) AS BIGINT) AS total_micro,
      |  MAX(event_id) AS max_event_id
      |FROM events
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  // -------------------------------------------------------------------
  // q165 — STREAM-STREAM interval join under the batch oracle (§2.8):
  // click→purchase attribution per user within a 1-hour lag, both sides
  // replayed through watermarked file streams and joined with
  // Incremental.intervalJoin (event-time range condition → bounded join
  // state). The emitted pair set is micro-batch-order independent (an
  // inner event-time join is deterministic once both sides are fully
  // replayed), so a plain batch self-join SQL oracles the streaming
  // pipeline; pairs aggregate per user to keep the gate row-stable.
  // -------------------------------------------------------------------
  def q165_stream_interval_join(spark: SparkSession, dir: String): DataFrame = {
    def side(eventType: String): DataFrame =
      Tables.normalizeEventTs(
        Tables.streamTable(spark, dir, "events"))
        .filter(col("event_type") === eventType)
        .select(col("user_id"),
          timestamp_micros(expr("ts div 1000")).as("event_ts"),
          col("event_id"))
    val pairs = graft.streaming.Incremental.intervalJoin(
      side("click"), side("purchase"),
      keyCol = "user_id", tsCol = "event_ts", idCol = "event_id",
      maxLag = "1 hour", watermark = "2 hours")
    val sink = s"q165_sink_${System.nanoTime()}"
    // A stream-stream join runs FOUR state stores per shuffle partition
    // (keyToNumValues + keyWithIndexToValue per side), and every
    // micro-batch commits each store to the checkpoint dir — the cost is
    // O(partitions × stores), not O(rows), at this scale. The stateful
    // partition count is fixed at query start from
    // spark.sql.shuffle.partitions, so narrow it for the lifetime of
    // this query only (the key space is user_id — hundreds of keys
    // spread fine over 8 partitions; a real deployment sizes this to
    // keys/executor, and it CANNOT be changed after the first run).
    val shufflePartitions = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    val query =
      try pairs.writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      finally spark.conf.set("spark.sql.shuffle.partitions",
        shufflePartitions)
    try { query.processAllAvailable() } finally { query.stop() }
    spark.table(sink)
      .groupBy(col("key").as("user_id"))
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("left_id")).as("n_clicks_matched"),
        countDistinct(col("right_id")).as("n_purchases_matched"))
      .orderBy(col("user_id"))
  }

  val q165_sql: String =
    """SELECT c.user_id, COUNT(*) AS n_pairs,
      |  COUNT(DISTINCT c.event_id) AS n_clicks_matched,
      |  COUNT(DISTINCT p.event_id) AS n_purchases_matched
      |FROM events c JOIN events p
      |  ON p.user_id = c.user_id
      |  AND c.event_type = 'click' AND p.event_type = 'purchase'
      |  AND epoch_ns(p.ts) > epoch_ns(c.ts)
      |  AND epoch_ns(p.ts) <= epoch_ns(c.ts) + 3600000000000
      |GROUP BY c.user_id
      |ORDER BY c.user_id""".stripMargin

  // -------------------------------------------------------------------
  // q168 — STREAM-STATIC enrichment join under the batch oracle (§2.8):
  // the events stream joined to the customer→nation dimension and
  // aggregated to per-nation totals. The static side is BROADCAST, so
  // the stream side is probed in place — stateless on the join (no
  // state store, nothing to evict; only the downstream aggregation
  // holds state), which is why stream-static is the default enrichment
  // shape for an unbounded 100 TB/day ingest: dimension churn is
  // handled by re-broadcast per micro-batch, not by join state. The
  // complete-mode totals equal the batch join+GROUP BY bit-for-bit
  // (decimal-exact value sums), so DuckDB oracles the whole pipeline.
  // -------------------------------------------------------------------
  def q168_stream_static_join(spark: SparkSession, dir: String): DataFrame = {
    val stream = Tables.normalizeEventTs(
      Tables.streamTable(spark, dir, "events"))
      .select(col("user_id"), col("value"))
    val dim = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_nationkey"))
      .join(Tables.nation(spark, dir)
          .select(col("n_nationkey").as("c_nationkey"), col("n_name")),
        Seq("c_nationkey"))
      .select(col("c_custkey").as("user_id"), col("n_name"))
    val enriched = stream.join(broadcast(dim), Seq("user_id"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(
          org.apache.spark.sql.types.DecimalType(30, 6)))
          .cast("double").as("total_value"))
    val sink = s"q168_sink_${System.nanoTime()}"
    // 25 nations of agg state: commit 8 state stores per micro-batch,
    // not 32 (same sizing note as q165 — fixed at first run)
    val shufflePartitions = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    val query =
      try enriched.writeStream.format("memory").queryName(sink)
        .outputMode("complete").start()
      finally spark.conf.set("spark.sql.shuffle.partitions",
        shufflePartitions)
    try { query.processAllAvailable() } finally { query.stop() }
    spark.table(sink).orderBy(col("n_name"))
  }

  val q168_sql: String =
    """SELECT n.n_name, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(e.value AS DECIMAL(30,6))) AS DOUBLE)
      |    AS total_value
      |FROM events e
      |JOIN customer c ON c.c_custkey = e.user_id
      |JOIN nation n ON n.n_nationkey = c.c_nationkey
      |GROUP BY n.n_name
      |ORDER BY n.n_name""".stripMargin

  // -------------------------------------------------------------------
  // q173 — stream-stream LEFT OUTER interval join (§2.8): q165's
  // attribution shape, but unmatched clicks must ALSO surface (with
  // null purchase columns) — the semantics a funnel-drop report needs.
  // Outer emission is watermark-DRIVEN: an unmatched left row leaves
  // state only when the right watermark proves nothing can still match
  // it, so on a finite replay the tail of the stream never surfaces by
  // itself. The query plants a far-future SENTINEL pair (user −1) in a
  // rewritten copy of the table; the no-data micro-batch after the
  // main batch then carries the watermark past every real click and
  // flushes the full outer result — making the replay equal the batch
  // LEFT JOIN bit-for-bit (sentinel filtered out of the report).
  // -------------------------------------------------------------------
  def q173_stream_outer_join(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir) // ts normalized to long nanos
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
    val maxTs = ev.agg(max(col("ts"))).head().getLong(0)
    val sentinel = spark.range(2).select(
      (lit(-1L) - col("id")).as("event_id"),
      lit(maxTs + 36000L * 1000000000L).as("ts"),
      lit(-1L).as("user_id"),
      when(col("id") === 0, "click").otherwise("purchase")
        .as("event_type"),
      lit(0.0).as("value"))
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_q173").toString + "/events"
    ev.unionByName(sentinel).coalesce(4).write.parquet(tmp)
    val schema = spark.read.parquet(tmp).schema
    def side(eventType: String): DataFrame =
      Tables.normalizeEventTs(
        spark.readStream.schema(schema).parquet(tmp))
        .filter(col("event_type") === eventType)
        .select(col("user_id"),
          timestamp_micros(expr("ts div 1000")).as("event_ts"),
          col("event_id"))
    val pairs = graft.streaming.Incremental.intervalJoin(
      side("click"), side("purchase"),
      keyCol = "user_id", tsCol = "event_ts", idCol = "event_id",
      maxLag = "1 hour", watermark = "2 hours", joinType = "left_outer")
    val sink = s"q173_sink_${System.nanoTime()}"
    val shufflePartitions = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    val query =
      try pairs.writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      finally spark.conf.set("spark.sql.shuffle.partitions",
        shufflePartitions)
    try { query.processAllAvailable() } finally {
      query.stop()
      // the result lives in the memory sink; the rewritten input is done
      val root = new org.apache.hadoop.fs.Path(tmp).getParent
      root.getFileSystem(spark.sessionState.newHadoopConf())
        .delete(root, true)
    }
    spark.table(sink).filter(col("key") >= 0)
      .groupBy(col("key").as("user_id"))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("right_id").isNull, 1L).otherwise(0L))
          .as("n_unmatched"),
        countDistinct(col("right_id")).as("n_purchases_matched"))
      .orderBy(col("user_id"))
  }

  val q173_sql: String =
    """SELECT c.user_id, COUNT(*) AS n_rows,
      |  CAST(SUM(CASE WHEN p.event_id IS NULL THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_unmatched,
      |  COUNT(DISTINCT p.event_id) AS n_purchases_matched
      |FROM events c LEFT JOIN events p
      |  ON p.user_id = c.user_id AND p.event_type = 'purchase'
      |  AND epoch_ns(p.ts) > epoch_ns(c.ts)
      |  AND epoch_ns(p.ts) <= epoch_ns(c.ts) + 3600000000000
      |WHERE c.event_type = 'click'
      |GROUP BY c.user_id
      |ORDER BY c.user_id""".stripMargin

  // -------------------------------------------------------------------
  // q174 — time-spine gap fill + coverage report: generate the complete
  // hourly spine over [min_hour, max_hour] × event_type (sequence +
  // explode — the date-spine every warehouse model builds), left-join
  // the actual hourly counts, zero-fill, then run gaps-and-islands over
  // the MISSING hours to report, per type: total spine hours, missing
  // hours, and the longest contiguous outage. Scale shape: the spine is
  // O(hours × types) — tiny next to the event scan — and the islands
  // window runs on the missing subset only; the events table itself is
  // touched by exactly one aggregation pass.
  // -------------------------------------------------------------------
  def q174_time_spine(spark: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.events(spark, dir)
      .select(expr("ts div 3600000000000").as("h"), col("event_type"))
      .groupBy(col("h"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val bounds = Tables.events(spark, dir)
      .select(expr("ts div 3600000000000").as("h"))
      .agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
    val spine = bounds
      .select(explode(expr("sequence(h0, h1)")).as("h"))
      .crossJoin(Tables.events(spark, dir)
        .select(col("event_type")).distinct())
    val filled = spine.join(hourly, Seq("h", "event_type"), "left_outer")
      .select(col("h"), col("event_type"),
        coalesce(col("n"), lit(0L)).as("n"))
    val missing = filled.filter(col("n") === 0)
      .withColumn("island", col("h") - row_number().over(
        Window.partitionBy(col("event_type")).orderBy(col("h"))))
    val runs = missing.groupBy(col("event_type"), col("island"))
      .agg(count(lit(1)).as("run_len"))
      .groupBy(col("event_type"))
      .agg(sum(col("run_len")).as("n_missing"),
        max(col("run_len")).as("longest_gap"))
    filled.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_hours"))
      .join(runs, Seq("event_type"), "left_outer")
      .select(col("event_type"), col("n_hours"),
        coalesce(col("n_missing"), lit(0L)).as("n_missing"),
        coalesce(col("longest_gap"), lit(0L)).as("longest_gap"))
      .orderBy(col("event_type"))
  }

  val q174_sql: String =
    """WITH hourly AS (
      |  SELECT epoch_ns(ts) // 3600000000000 AS h, event_type,
      |    COUNT(*) AS n
      |  FROM events GROUP BY 1, 2),
      |bounds AS (
      |  SELECT MIN(epoch_ns(ts) // 3600000000000) AS h0,
      |    MAX(epoch_ns(ts) // 3600000000000) AS h1 FROM events),
      |spine AS (
      |  SELECT gs.h, t.event_type
      |  FROM (SELECT unnest(generate_series(h0, h1)) AS h
      |        FROM bounds) gs
      |  CROSS JOIN (SELECT DISTINCT event_type FROM events) t),
      |filled AS (
      |  SELECT s.h, s.event_type, COALESCE(hourly.n, 0) AS n
      |  FROM spine s LEFT JOIN hourly
      |    ON hourly.h = s.h AND hourly.event_type = s.event_type),
      |missing AS (
      |  SELECT event_type,
      |    h - ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h)
      |      AS island
      |  FROM filled WHERE n = 0),
      |runs AS (
      |  SELECT event_type, island, COUNT(*) AS run_len
      |  FROM missing GROUP BY 1, 2),
      |per_type AS (
      |  SELECT event_type,
      |    CAST(SUM(run_len) AS BIGINT) AS n_missing,
      |    CAST(MAX(run_len) AS BIGINT) AS longest_gap
      |  FROM runs GROUP BY event_type)
      |SELECT f.event_type, COUNT(*) AS n_hours,
      |  COALESCE(ANY_VALUE(p.n_missing), 0) AS n_missing,
      |  COALESCE(ANY_VALUE(p.longest_gap), 0) AS longest_gap
      |FROM filled f LEFT JOIN per_type p ON p.event_type = f.event_type
      |GROUP BY f.event_type
      |ORDER BY f.event_type""".stripMargin

  // -------------------------------------------------------------------
  // q175 — mix-shift decomposition (the analyst's "why did the metric
  // move"): split each event type's value change between the first and
  // second half of the time range into a VOLUME effect ((n₂−n₁)·r₁,
  // change explained by activity mix) and a RATE effect (n₂·(r₂−r₁),
  // change in per-event value) — the exact identity
  // v₂−v₁ = (n₂−n₁)·r₁ + n₂·(r₂−r₁). Values are exact BIGINT micros
  // from the first projection; the two effect terms keep the identity
  // closed in integers by construction (volume = (n₂−n₁)·v₁ div n₁,
  // rate = Δv − volume), so the report is engine-portable. One
  // aggregation pass over the scan; the decomposition runs on the
  // 5-row per-type table.
  // -------------------------------------------------------------------
  def q175_mix_shift(spark: SparkSession, dir: String): DataFrame = {
    // integer div, not Column./ — the long sum is ~2^61 and a double
    // mantissa would round the midpoint off the oracle's exact value
    val mid = Tables.events(spark, dir)
      .agg(expr("(MIN(ts) + MAX(ts)) div 2").as("m"))
      .head().getLong(0)
    val per = Tables.events(spark, dir)
      .select(col("event_type"),
        (col("ts") >= mid).cast("int").as("half"),
        expr("CAST(CAST(value AS DECIMAL(24,6)) * 1000000 AS BIGINT)")
          .as("v_micro"))
      .groupBy(col("event_type"))
      .agg(sum(when(col("half") === 0, 1L).otherwise(0L)).as("n1"),
        sum(when(col("half") === 0, col("v_micro")).otherwise(0L))
          .as("v1"),
        sum(when(col("half") === 1, 1L).otherwise(0L)).as("n2"),
        sum(when(col("half") === 1, col("v_micro")).otherwise(0L))
          .as("v2"))
    per.filter(col("n1") > 0)
      .select(col("event_type"),
        (col("v2") - col("v1")).as("delta_micro"),
        expr("(n2 - n1) * v1 div n1").as("volume_effect_micro"),
        expr("(v2 - v1) - ((n2 - n1) * v1 div n1)")
          .as("rate_effect_micro"))
      .orderBy(col("event_type"))
  }

  val q175_sql: String =
    """WITH mid AS (
      |  SELECT (MIN(epoch_ns(ts)) + MAX(epoch_ns(ts))) // 2 AS m
      |  FROM events),
      |per AS (
      |  SELECT event_type,
      |    CAST(SUM(CASE WHEN epoch_ns(ts) < m THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n1,
      |    CAST(SUM(CASE WHEN epoch_ns(ts) < m THEN
      |      CAST(CAST(value AS DECIMAL(24,6)) * 1000000 AS BIGINT)
      |      ELSE 0 END) AS BIGINT) AS v1,
      |    CAST(SUM(CASE WHEN epoch_ns(ts) >= m THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n2,
      |    CAST(SUM(CASE WHEN epoch_ns(ts) >= m THEN
      |      CAST(CAST(value AS DECIMAL(24,6)) * 1000000 AS BIGINT)
      |      ELSE 0 END) AS BIGINT) AS v2
      |  FROM events, mid
      |  GROUP BY event_type)
      |SELECT event_type,
      |  v2 - v1 AS delta_micro,
      |  (n2 - n1) * v1 // n1 AS volume_effect_micro,
      |  (v2 - v1) - ((n2 - n1) * v1 // n1) AS rate_effect_micro
      |FROM per
      |WHERE n1 > 0
      |ORDER BY event_type""".stripMargin

  // -------------------------------------------------------------------
  // q176 — growth accounting (the product-analytics ledger): each day's
  // active users decomposed as new (first-ever day) + retained (also
  // active the day before) + resurrected (returning after a gap), with
  // churned = yesterday's actives who went silent. The identity
  // active = new + retained + resurrected holds by construction.
  // Scale shape: ONE distinct pass builds the user-day table; first-day
  // is a user-keyed aggregate of it; "active yesterday" is a self-join
  // on (user, day−1) — all joins on already-deduplicated keys, then the
  // report collapses to O(days) rows; churn falls out of a lag window
  // on that tiny frame, never a second scan.
  // -------------------------------------------------------------------
  def q176_growth_accounting(spark: SparkSession, dir: String): DataFrame = {
    val userDay = Tables.events(spark, dir)
      .select(col("user_id"), expr("ts div 86400000000000").as("day"))
      .distinct()
    val firstDay = userDay.groupBy(col("user_id"))
      .agg(min(col("day")).as("first_day"))
    val flagged = userDay
      .join(userDay.select(col("user_id"),
          (col("day") + 1).as("day"), lit(1).as("was_active")),
        Seq("user_id", "day"), "left_outer")
      .join(firstDay, Seq("user_id"))
    val daily = flagged.groupBy(col("day"))
      .agg(count(lit(1)).as("n_active"),
        sum(when(col("first_day") === col("day"), 1L).otherwise(0L))
          .as("n_new"),
        sum(when(col("was_active").isNotNull, 1L).otherwise(0L))
          .as("n_retained"),
        sum(when(col("first_day") < col("day") &&
          col("was_active").isNull, 1L).otherwise(0L))
          .as("n_resurrected"))
    daily
      .withColumn("n_churned",
        coalesce(lag(col("n_active"), 1).over(
          Window.orderBy(col("day"))), lit(0L)) -
          when(lag(col("day"), 1).over(Window.orderBy(col("day"))) ===
            col("day") - 1, col("n_retained")).otherwise(lit(0L)))
      .orderBy(col("day"))
  }

  val q176_sql: String =
    """WITH ud AS (
      |  SELECT DISTINCT user_id, epoch_ns(ts) // 86400000000000 AS day
      |  FROM events),
      |fd AS (
      |  SELECT user_id, MIN(day) AS first_day FROM ud GROUP BY user_id),
      |flagged AS (
      |  SELECT u.user_id, u.day, f.first_day,
      |    CASE WHEN y.user_id IS NOT NULL THEN 1 END AS was_active
      |  FROM ud u
      |  JOIN fd f ON f.user_id = u.user_id
      |  LEFT JOIN ud y ON y.user_id = u.user_id AND y.day = u.day - 1),
      |daily AS (
      |  SELECT day, COUNT(*) AS n_active,
      |    CAST(SUM(CASE WHEN first_day = day THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_new,
      |    CAST(SUM(CASE WHEN was_active IS NOT NULL THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_retained,
      |    CAST(SUM(CASE WHEN first_day < day AND was_active IS NULL
      |      THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected
      |  FROM flagged GROUP BY day)
      |SELECT day, n_active, n_new, n_retained, n_resurrected,
      |  COALESCE(lag(n_active) OVER (ORDER BY day), 0) -
      |    CASE WHEN lag(day) OVER (ORDER BY day) = day - 1
      |      THEN n_retained ELSE 0 END AS n_churned
      |FROM daily
      |ORDER BY day""".stripMargin

  // -------------------------------------------------------------------
  // q134 — event-rate anomaly detection: hourly counts per type, then a
  // per-type z-test done ENTIRELY in integers so the flag is
  // engine-portable.  For hourly count n with per-type hour count H,
  // sum S and sum-of-squares SS:   z = (nH−S)/√(H·SS−S²), so
  // |z| > 2  ⇔  (nH−S)² > 4·(H·SS−S²)  — no float sqrt, no rounding
  // edge.  Scale: one shuffle builds the (type, hour) counts; the
  // per-type moments are an aggregate over that already-tiny table and
  // join back broadcast.  At 100 TB the events scan dominates and the
  // partial aggregation halves it map-side.
  // -------------------------------------------------------------------
  def q134_rate_anomaly(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.events(spark, dir)
      .select(expr("ts div 3600000000000").as("hour_bucket"),
        col("event_type"))
      .groupBy(col("event_type"), col("hour_bucket"))
      .agg(count(lit(1)).as("n_events"))
    val stats = counts.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_hours"), sum(col("n_events")).as("s"),
        sum(col("n_events") * col("n_events")).as("ss"))
    counts.join(stats, "event_type")
      .withColumn("dev_num",
        col("n_events") * col("n_hours") - col("s"))
      .withColumn("var_num",
        col("n_hours") * col("ss") - col("s") * col("s"))
      .filter(col("dev_num") * col("dev_num") > lit(4L) * col("var_num"))
      .select(col("event_type"), col("hour_bucket"), col("n_events"),
        col("dev_num"), col("var_num"))
      .orderBy(col("event_type"), col("hour_bucket"))
  }

  val q134_sql: String =
    """WITH c AS (
      |  SELECT event_type, epoch_ns(ts) // 3600000000000 AS hour_bucket,
      |         COUNT(*) AS n_events
      |  FROM events GROUP BY 1, 2),
      |st AS (
      |  SELECT event_type, COUNT(*) AS n_hours,
      |         CAST(SUM(n_events) AS BIGINT) AS s,
      |         CAST(SUM(n_events * n_events) AS BIGINT) AS ss
      |  FROM c GROUP BY 1)
      |SELECT c.event_type, c.hour_bucket, c.n_events,
      |       c.n_events * st.n_hours - st.s AS dev_num,
      |       st.n_hours * st.ss - st.s * st.s AS var_num
      |FROM c JOIN st USING (event_type)
      |WHERE (c.n_events * st.n_hours - st.s)
      |      * (c.n_events * st.n_hours - st.s)
      |      > 4 * (st.n_hours * st.ss - st.s * st.s)
      |ORDER BY event_type, hour_bucket""".stripMargin

  // -------------------------------------------------------------------
  // q135 — SCD2 validity-interval build (the warehouse "type-2 slowly
  // changing dimension" op): each user's event stream is read as a
  // status-change log; collapse consecutive identical statuses (lag ≠
  // current), then close each surviving interval with the NEXT change's
  // timestamp (lead) — open intervals are flagged current.  Two window
  // passes, both partitioned by user_id: scales as a single shuffle on
  // the entity key, no global ordering anywhere.  Microsecond integer
  // timestamps keep both engines exact.
  // -------------------------------------------------------------------
  def q135_scd2_intervals(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("tsu"), col("event_id"))
    val e = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"),
        expr("ts div 1000").as("tsu"), col("event_type"))
    val changes = e
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNull ||
        col("prev_type") =!= col("event_type"))
    changes
      .withColumn("valid_to_us", lead(col("tsu"), 1).over(w))
      .select(col("user_id"), col("event_type").as("status"),
        col("tsu").as("valid_from_us"), col("valid_to_us"),
        when(col("valid_to_us").isNull, 1L).otherwise(0L)
          .as("is_current"))
      .orderBy(col("user_id"), col("valid_from_us"))
  }

  val q135_sql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS tsu, event_type
      |  FROM events),
      |ch AS (
      |  SELECT user_id, event_id, tsu, event_type FROM (
      |    SELECT *, lag(event_type) OVER (PARTITION BY user_id
      |      ORDER BY tsu, event_id) AS prev_type FROM e)
      |  WHERE prev_type IS NULL OR prev_type <> event_type),
      |iv AS (
      |  SELECT user_id, event_type AS status, tsu AS valid_from_us,
      |    lead(tsu) OVER (PARTITION BY user_id
      |      ORDER BY tsu, event_id) AS valid_to_us
      |  FROM ch)
      |SELECT user_id, status, valid_from_us, valid_to_us,
      |  CAST(CASE WHEN valid_to_us IS NULL THEN 1 ELSE 0 END AS BIGINT)
      |    AS is_current
      |FROM iv ORDER BY user_id, valid_from_us""".stripMargin

  // -------------------------------------------------------------------
  // q142 — distribution-drift report (PSI-style, integer): split the
  // stream at its midpoint timestamp and compare each event type's
  // traffic share across the halves in ppm — the data-contract check a
  // pipeline runs before trusting a new ingest batch. All integer:
  // share = count·10⁶ div half_total, drift = |Δshare|. Scale: one
  // min/max scan (broadcast single row), then ONE partial-aggregated
  // groupBy over the corpus; the per-type table is tiny.
  // -------------------------------------------------------------------
  def q142_type_drift(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir).select(col("ts"), col("event_type"))
    val mm = e.agg(expr("(min(ts) + max(ts)) div 2").as("mid"))
    // materialized: `counts` feeds both the totals broadcast and the
    // probe side — without the barrier the corpus groupBy runs twice
    val counts = e.crossJoin(broadcast(mm))
      .groupBy(col("event_type"))
      .agg(sum(when(col("ts") <= col("mid"), 1L).otherwise(0L))
          .as("n_first"),
        sum(when(col("ts") > col("mid"), 1L).otherwise(0L))
          .as("n_second"))
      .localCheckpoint(eager = true)
    val totals = counts.agg(sum(col("n_first")).as("na"),
      sum(col("n_second")).as("nb"))
    counts.crossJoin(broadcast(totals))
      .withColumn("share_first_ppm", expr("(n_first * 1000000) div na"))
      .withColumn("share_second_ppm", expr("(n_second * 1000000) div nb"))
      .withColumn("drift_ppm",
        abs(col("share_first_ppm") - col("share_second_ppm")))
      .select(col("event_type"), col("n_first"), col("n_second"),
        col("share_first_ppm"), col("share_second_ppm"), col("drift_ppm"))
      .orderBy(col("drift_ppm").desc, col("event_type"))
  }

  val q142_sql: String =
    """WITH mm AS (
      |  SELECT (MIN(epoch_ns(ts)) + MAX(epoch_ns(ts))) // 2 AS mid
      |  FROM events),
      |c AS (
      |  SELECT event_type,
      |    CAST(SUM(CASE WHEN epoch_ns(ts) <= mm.mid THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_first,
      |    CAST(SUM(CASE WHEN epoch_ns(ts) > mm.mid THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_second
      |  FROM events, mm GROUP BY event_type),
      |t AS (
      |  SELECT CAST(SUM(n_first) AS BIGINT) AS na,
      |         CAST(SUM(n_second) AS BIGINT) AS nb FROM c)
      |SELECT event_type, n_first, n_second,
      |  (n_first * 1000000) // na AS share_first_ppm,
      |  (n_second * 1000000) // nb AS share_second_ppm,
      |  abs((n_first * 1000000) // na - (n_second * 1000000) // nb)
      |    AS drift_ppm
      |FROM c, t
      |ORDER BY drift_ppm DESC, event_type""".stripMargin

  // -------------------------------------------------------------------
  // q149 — deletion-cascade audit (right-to-be-forgotten pre-flight):
  // given a forget-set of users (hash-deterministic 2% sample standing
  // in for a deletion request list), count the rows each table would
  // lose — the impact report a compliance pipeline produces BEFORE the
  // destructive pass. One left-semi join per table against the
  // (broadcastable) forget set; counts union trivially. At 100 TB the
  // semi-joins are map-side via the broadcast; no table is rewritten.
  // -------------------------------------------------------------------
  def q149_forget_cascade(spark: SparkSession, dir: String): DataFrame = {
    import graft.pipeline.Sampling
    val forget = Tables.customer(spark, dir)
      .select(col("c_custkey").as("uid"))
      .filter(Sampling.hash60("forget", col("uid")) % 50 === 0)
      .localCheckpoint(eager = true)
    def impact(table: String, df: DataFrame, uidCol: String): DataFrame =
      df.select(col(uidCol).as("uid"))
        .join(broadcast(forget), Seq("uid"), "left_semi")
        .agg(count(lit(1)).as("n_rows_affected"),
          countDistinct(col("uid")).as("n_users_affected"))
        .select(lit(table).as("table_name"), col("n_rows_affected"),
          col("n_users_affected"))
    val orders = Tables.orders(spark, dir)
    impact("customer", Tables.customer(spark, dir), "c_custkey")
      .unionByName(impact("orders", orders, "o_custkey"))
      .unionByName(impact("events", Tables.events(spark, dir), "user_id"))
      .unionByName(impact("lineitem",
        Tables.lineitem(spark, dir)
          .select(col("l_orderkey").as("o_orderkey"))
          .join(orders.select(col("o_orderkey"), col("o_custkey")),
            Seq("o_orderkey")),
        "o_custkey"))
      .orderBy(col("table_name"))
  }

  val q149_sql: String = {
    val h = graft.pipeline.Sampling.hash60Sql("forget", "c_custkey")
    s"""WITH forget AS (
       |  SELECT c_custkey AS uid FROM customer WHERE $h % 50 = 0)
       |SELECT 'customer' AS table_name,
       |  COUNT(*) AS n_rows_affected,
       |  COUNT(DISTINCT c_custkey) AS n_users_affected
       |FROM customer WHERE c_custkey IN (SELECT uid FROM forget)
       |UNION ALL
       |SELECT 'orders', COUNT(*), COUNT(DISTINCT o_custkey)
       |FROM orders WHERE o_custkey IN (SELECT uid FROM forget)
       |UNION ALL
       |SELECT 'events', COUNT(*), COUNT(DISTINCT user_id)
       |FROM events WHERE user_id IN (SELECT uid FROM forget)
       |UNION ALL
       |SELECT 'lineitem', COUNT(*), COUNT(DISTINCT o.o_custkey)
       |FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
       |WHERE o.o_custkey IN (SELECT uid FROM forget)
       |ORDER BY table_name""".stripMargin
  }

  // -------------------------------------------------------------------
  // q150 — trending report: per-day event-type ranks and their
  // day-over-day movement (the "what's rising" dashboard query). Rank
  // windows partition on the DAY — thousands of independent
  // partitions, each bounded by the type cardinality; the
  // previous-day comparison is an equi-join on (type, day−1). First
  // day has no predecessor: rank_delta 0 by convention.
  // -------------------------------------------------------------------
  def q150_trending(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("day"))
      .orderBy(col("n_events").desc, col("event_type"))
    val ranked = Tables.events(spark, dir)
      .select(expr("ts div 86400000000000").as("day"), col("event_type"))
      .groupBy(col("day"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .localCheckpoint(eager = true)
    ranked.as("c").join(
        ranked.select((col("day") + 1).as("day"), col("event_type"),
          col("rnk").as("prev_rnk")).as("p"),
        Seq("day", "event_type"), "left_outer")
      .select(col("day"), col("event_type"), col("n_events"), col("rnk"),
        coalesce(col("prev_rnk") - col("rnk"), lit(0L)).as("rank_delta"))
      .orderBy(col("day"), col("rnk"))
  }

  val q150_sql: String =
    """WITH c AS (
      |  SELECT epoch_ns(ts) // 86400000000000 AS day, event_type,
      |         COUNT(*) AS n_events
      |  FROM events GROUP BY 1, 2),
      |r AS (
      |  SELECT day, event_type, n_events,
      |    ROW_NUMBER() OVER (PARTITION BY day
      |      ORDER BY n_events DESC, event_type) AS rnk
      |  FROM c)
      |SELECT r.day, r.event_type, r.n_events, r.rnk,
      |       COALESCE(p.rnk - r.rnk, 0) AS rank_delta
      |FROM r LEFT JOIN r p
      |  ON p.day = r.day - 1 AND p.event_type = r.event_type
      |ORDER BY r.day, r.rnk""".stripMargin

  // -------------------------------------------------------------------
  // q151 — DAU/WAU stickiness (the product-analytics ratio): daily
  // active users over trailing-7-day active users, in ppm. The sliding
  // DISTINCT is the interesting part at scale: dedup to (user, day)
  // ONCE, fan each row out to the ≤7 target days it contributes to
  // (constant fan-out, the q141 chunking idiom), then ONE distinct +
  // count per target day — never a per-day re-scan of raw events.
  // -------------------------------------------------------------------
  def q151_stickiness(spark: SparkSession, dir: String): DataFrame = {
    val ud = Tables.events(spark, dir)
      .select(col("user_id"), expr("ts div 86400000000000").as("day"))
      .distinct().localCheckpoint(eager = true)
    val dau = ud.groupBy(col("day")).agg(count(lit(1)).as("dau"))
    val wau = ud
      .select(col("user_id"),
        explode(sequence(col("day"), col("day") + 6)).as("day"))
      .distinct()
      .groupBy(col("day")).agg(count(lit(1)).as("wau"))
    dau.join(wau, Seq("day"))
      .select(col("day"), col("dau"), col("wau"),
        expr("(dau * 1000000) div wau").as("stickiness_ppm"))
      .orderBy(col("day"))
  }

  val q151_sql: String =
    """WITH ud AS (
      |  SELECT DISTINCT user_id, epoch_ns(ts) // 86400000000000 AS day
      |  FROM events),
      |dau AS (SELECT day, COUNT(*) AS dau FROM ud GROUP BY day),
      |f AS (
      |  SELECT DISTINCT user_id, day + g.i AS day
      |  FROM ud, unnest(generate_series(0, 6)) AS g(i)),
      |wau AS (SELECT day, COUNT(*) AS wau FROM f GROUP BY day)
      |SELECT dau.day, dau.dau, wau.wau,
      |       (dau.dau * 1000000) // wau.wau AS stickiness_ppm
      |FROM dau JOIN wau ON wau.day = dau.day
      |ORDER BY dau.day""".stripMargin

  // -------------------------------------------------------------------
  // q155 — per-segment trend slopes (OLS over hourly counts), kept
  // ENTIRELY in integers: report β's exact numerator n·Σxy − Σx·Σy and
  // denominator n·Σx² − (Σx)² plus their micro-units ratio — no float
  // division ever happens, so the trend flag is engine-exact (negative
  // slopes divide identically: both engines truncate toward zero).
  // x is the hour offset from each type's first hour (keeps products
  // far from int64 overflow). Scale: one corpus groupBy builds the
  // hourly counts; the regression runs on that tiny table.
  // -------------------------------------------------------------------
  def q155_trend_slope(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.events(spark, dir)
      .select(col("event_type"), expr("ts div 3600000000000").as("hour"))
      .groupBy(col("event_type"), col("hour"))
      .agg(count(lit(1)).as("y"))
      .localCheckpoint(eager = true) // feeds the h0 agg AND the probe
    val h0 = c.groupBy(col("event_type")).agg(min(col("hour")).as("h0"))
    c.join(h0, Seq("event_type"))
      .withColumn("x", col("hour") - col("h0"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_hours"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .filter(col("n_hours") >= 2)
      .select(col("event_type"), col("n_hours"),
        (col("n_hours") * col("sxy") - col("sx") * col("sy"))
          .as("slope_num"),
        (col("n_hours") * col("sxx") - col("sx") * col("sx"))
          .as("slope_den"))
      .withColumn("slope_micro",
        expr("(slope_num * 1000000) div slope_den"))
      .orderBy(col("event_type"))
  }

  val q155_sql: String =
    """WITH c AS (
      |  SELECT event_type, epoch_ns(ts) // 3600000000000 AS hour,
      |         COUNT(*) AS y
      |  FROM events GROUP BY 1, 2),
      |h0 AS (SELECT event_type, MIN(hour) AS h0 FROM c GROUP BY 1),
      |s AS (
      |  SELECT c.event_type, COUNT(*) AS n_hours,
      |    CAST(SUM(c.hour - h0.h0) AS BIGINT) AS sx,
      |    CAST(SUM(c.y) AS BIGINT) AS sy,
      |    CAST(SUM((c.hour - h0.h0) * c.y) AS BIGINT) AS sxy,
      |    CAST(SUM((c.hour - h0.h0) * (c.hour - h0.h0)) AS BIGINT) AS sxx
      |  FROM c JOIN h0 USING (event_type)
      |  GROUP BY c.event_type)
      |SELECT event_type, n_hours,
      |  n_hours * sxy - sx * sy AS slope_num,
      |  n_hours * sxx - sx * sx AS slope_den,
      |  ((n_hours * sxy - sx * sy) * 1000000)
      |    // (n_hours * sxx - sx * sx) AS slope_micro
      |FROM s WHERE n_hours >= 2
      |ORDER BY event_type""".stripMargin

  // -------------------------------------------------------------------
  // q156 — out-of-orderness profile (the watermark-tuning op): an
  // event is LATE by running_max(event-time seen so far in arrival
  // order) − its event-time; the lateness histogram (power-of-4
  // second buckets) is exactly what picks a streaming watermark
  // delay — the 99.9% bucket IS the allowed lateness. The synthetic
  // stream carries no ingest-order column (event_id is time-ordered),
  // so arrival order is SIMULATED by the engine-portable hash — a
  // deterministic stand-in for shuffled ingest that exercises every
  // bucket. Per-user running max = one entity-keyed window; the
  // histogram is a tiny second groupBy.
  // -------------------------------------------------------------------
  def q156_lateness_profile(spark: SparkSession, dir: String): DataFrame = {
    import graft.pipeline.Sampling
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("arr"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"),
        expr("ts div 1000000000").as("tss"))
      .withColumn("arr", Sampling.hash60("arrival", col("event_id")))
      .withColumn("prior_max", max(col("tss")).over(w))
      .withColumn("late_s",
        greatest(coalesce(col("prior_max") - col("tss"), lit(0L)), lit(0L)))
      // power-of-4 buckets via integer threshold compares — a float
      // log4 would flip at exact 4^k boundaries between libm builds
      .withColumn("bucket",
        (1 to 9).foldLeft(when(col("late_s") === 0, 0L)) { (acc, k) =>
          acc.when(col("late_s") <= math.pow(4, k).toLong, k.toLong)
        }.otherwise(10L))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_events"), max(col("late_s")).as("max_late_s"))
      .orderBy(col("bucket"))
  }

  val q156_sql: String =
    s"""WITH e AS (
      |  SELECT user_id, event_id, epoch_ns(ts) // 1000000000 AS tss,
      |    ${graft.pipeline.Sampling.hash60Sql("arrival", "event_id")}
      |      AS arr
      |  FROM events),
      |m AS (
      |  SELECT user_id, event_id, tss,
      |    MAX(tss) OVER (PARTITION BY user_id ORDER BY arr, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |      AS prior_max
      |  FROM e),
      |l AS (
      |  SELECT greatest(COALESCE(prior_max - tss, 0), 0) AS late_s
      |  FROM m),
      |b AS (
      |  SELECT CASE WHEN late_s = 0 THEN 0
      |    WHEN late_s <= 4 THEN 1 WHEN late_s <= 16 THEN 2
      |    WHEN late_s <= 64 THEN 3 WHEN late_s <= 256 THEN 4
      |    WHEN late_s <= 1024 THEN 5 WHEN late_s <= 4096 THEN 6
      |    WHEN late_s <= 16384 THEN 7 WHEN late_s <= 65536 THEN 8
      |    WHEN late_s <= 262144 THEN 9 ELSE 10 END AS bucket, late_s
      |  FROM l)
      |SELECT bucket, COUNT(*) AS n_events, MAX(late_s) AS max_late_s
      |FROM b GROUP BY bucket
      |ORDER BY bucket""".stripMargin

  // -------------------------------------------------------------------
  // q159 — activity streaks (the gaps-and-islands pattern): per user,
  // the longest run of CONSECUTIVE active days plus how many separate
  // runs exist — engagement's classic shape. Island id = day −
  // row_number (constant within a consecutive run, strictly monotone
  // across gaps); the window partitions on the USER over the deduped
  // (user, day) table, so partitions are user-activity-sized. Top 20
  // by (longest streak, user) via distributed TakeOrdered.
  // -------------------------------------------------------------------
  def q159_activity_streaks(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
    Tables.events(spark, dir)
      .select(col("user_id"), expr("ts div 86400000000000").as("day"))
      .distinct()
      .withColumn("island", col("day") - row_number().over(w))
      .groupBy(col("user_id"), col("island"))
      .agg(count(lit(1)).as("streak_days"))
      .groupBy(col("user_id"))
      .agg(max(col("streak_days")).as("longest_streak"),
        count(lit(1)).as("n_streaks"))
      .orderBy(col("longest_streak").desc, col("user_id"))
      .limit(20)
  }

  val q159_sql: String =
    """WITH ud AS (
      |  SELECT DISTINCT user_id, epoch_ns(ts) // 86400000000000 AS day
      |  FROM events),
      |i AS (
      |  SELECT user_id, day,
      |    day - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day)
      |      AS island
      |  FROM ud),
      |s AS (
      |  SELECT user_id, island, COUNT(*) AS streak_days
      |  FROM i GROUP BY 1, 2)
      |SELECT user_id, MAX(streak_days) AS longest_streak,
      |       COUNT(*) AS n_streaks
      |FROM s GROUP BY user_id
      |ORDER BY longest_streak DESC, user_id
      |LIMIT 20""".stripMargin

  // -------------------------------------------------------------------
  // q187 — stationary distribution of the event-type Markov chain:
  // where does a user's session settle in the long run? The q70
  // transition counts row-normalize into an integer-ppm transition
  // matrix; π starts uniform (integer dust on the lexicographically
  // first type so it sums to exactly 10⁶) and takes 10 power-iteration
  // steps π'(j) = Σ_i π(i)·P_ppm(i,j) div 10⁶ — PageRank's recurrence
  // on the BOUNDED type×type matrix, so every frame after the one
  // corpus-sized lag pass has ≤|types|² rows and the iteration is
  // pure tiny-join algebra. The matrix and the vector are ≤|types|²
  // rows BY CONSTRUCTION (the type vocabulary, not the corpus), so the
  // iteration folds on the DRIVER over the collected matrix — the PQ
  // codebook discipline: one corpus job, one driver loop over a
  // handful of longs, no per-iteration job overhead. Sum-then-divide
  // keeps floor loss to one ulp per type per step, bit-identically in
  // both engines.
  // -------------------------------------------------------------------
  def q187_markov_stationary(spark: SparkSession, dir: String)
      : DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"),
        expr("ts div 1000").as("tsu"), col("event_type"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("tsu"), col("event_id"))
    val tr = ev
      .withColumn("prev", lag(col("event_type"), 1).over(w))
      .filter(col("prev").isNotNull)
      .groupBy(col("prev").as("i"), col("event_type").as("j"))
      .agg(count(lit(1)).as("n"))
    val tot = tr.groupBy(col("i")).agg(sum(col("n")).as("tot"))
    // ONE corpus-derived job; both frames are type-vocabulary-bounded
    val p = tr.join(tot, Seq("i"))
      .select(col("i"), col("j"), expr("n * 1000000 div tot").as("p_ppm"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val types = ev.select(col("event_type").as("t")).distinct()
      .collect().map(_.getString(0)).sorted
    val kk = types.length.toLong
    var pi: Map[String, Long] = types.map(t => t ->
      (1000000L / kk + (if (t == types.head) 1000000L % kk else 0L)))
      .toMap
    for (_ <- 1 to 10) {
      val nxt = p.groupBy(_._2).map { case (j, cells) =>
        j -> cells.map { case (i, _, ppm) => pi(i) * ppm }.sum / 1000000L
      }
      pi = types.map(t => t -> nxt.getOrElse(t, 0L)).toMap
    }
    import spark.implicits._
    types.map(t => (t, pi(t))).toSeq
      .toDF("event_type", "pi_ppm")
      .orderBy(col("event_type"))
  }

  val q187_sql: String = {
    val iters = (1 to 10).map { k =>
      s"""pi$k AS (
         |  SELECT ty.t, COALESCE(s.v2, 0) AS v
         |  FROM ty LEFT JOIN (
         |    SELECT p.j AS t2,
         |      CAST(SUM(pi${k - 1}.v * p.p_ppm) // 1000000 AS BIGINT)
         |        AS v2
         |    FROM pi${k - 1} JOIN p ON pi${k - 1}.t = p.i
         |    GROUP BY 1) s ON ty.t = s.t2)""".stripMargin
    }.mkString(",\n")
    s"""WITH ev AS (
       |  SELECT user_id, event_id, epoch_us(ts) AS tsu, event_type
       |  FROM events),
       |tr AS (
       |  SELECT prev AS i, event_type AS j,
       |         CAST(COUNT(*) AS BIGINT) AS n
       |  FROM (SELECT event_type, lag(event_type) OVER (
       |          PARTITION BY user_id ORDER BY tsu, event_id) AS prev
       |        FROM ev)
       |  WHERE prev IS NOT NULL GROUP BY 1, 2),
       |tot AS (SELECT i, CAST(SUM(n) AS BIGINT) AS tot
       |        FROM tr GROUP BY 1),
       |p AS (SELECT tr.i, tr.j, tr.n * 1000000 // tot AS p_ppm
       |      FROM tr JOIN tot USING (i)),
       |ty AS (SELECT DISTINCT event_type AS t FROM ev),
       |kf AS (SELECT CAST(COUNT(*) AS BIGINT) AS kk, MIN(t) AS t0
       |       FROM ty),
       |pi0 AS (
       |  SELECT t, 1000000 // kk +
       |    CASE WHEN t = t0 THEN 1000000 % kk ELSE 0 END AS v
       |  FROM ty CROSS JOIN kf),
       |$iters
       |SELECT t AS event_type, CAST(v AS BIGINT) AS pi_ppm
       |FROM pi10 ORDER BY event_type""".stripMargin
  }

  // -------------------------------------------------------------------
  // q191 — time-to-event survival curve (Kaplan-Meier flavor, exact):
  // hours from a user's first signup to their first subsequent
  // purchase; S(h) = fraction (ppm) of signup users still
  // purchase-free after h hours, for h ∈ [0, 48). Users who never
  // purchase are right-censored and survive the whole horizon. After
  // the two per-user min() aggregations everything runs on the
  // BOUNDED hour domain: deaths bucket by hour, the survival prefix is
  // a triangular join of the 48-row spine against the ≤48-row death
  // table — no per-user window, no corpus-sized sort. Timestamps stay
  // integer nanos throughout, so the hour bucket is exact floor
  // division in both engines.
  // -------------------------------------------------------------------
  def q191_survival_curve(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts"))
    val su = ev.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("ts")).as("ts0"))
      .localCheckpoint(eager = true) // total + the purchase probe
    val pu = ev.filter(col("event_type") === "purchase")
      .join(su, Seq("user_id"))
      .filter(col("ts") > col("ts0"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("tp"))
    val t = su.join(pu, Seq("user_id"), "left_outer")
      .select(expr("(tp - ts0) div 3600000000000").as("t_hours"))
    val died = t.filter(col("t_hours").isNotNull && col("t_hours") < 48)
      .groupBy(col("t_hours")).agg(count(lit(1)).as("d"))
    val total = su.agg(count(lit(1)).as("n_signup"))
    spark.range(0, 48).toDF("h")
      .join(broadcast(died), col("t_hours") <= col("h"), "left")
      .groupBy(col("h"))
      .agg(coalesce(sum(col("d")), lit(0L)).as("cum_died"))
      .crossJoin(broadcast(total))
      .select(col("h"), col("n_signup"),
        (col("n_signup") - col("cum_died")).as("survivors"),
        expr("(n_signup - cum_died) * 1000000 div n_signup")
          .as("s_ppm"))
      .orderBy(col("h"))
  }

  val q191_sql: String =
    """WITH su AS (
      |  SELECT user_id, MIN(epoch_ns(ts)) AS ts0 FROM events
      |  WHERE event_type = 'signup' GROUP BY 1),
      |pu AS (
      |  SELECT e.user_id, MIN(epoch_ns(e.ts)) AS tp
      |  FROM events e JOIN su ON e.user_id = su.user_id
      |  WHERE e.event_type = 'purchase' AND epoch_ns(e.ts) > su.ts0
      |  GROUP BY 1),
      |t AS (
      |  SELECT (tp - ts0) // 3600000000000 AS t_hours
      |  FROM su LEFT JOIN pu USING (user_id)),
      |died AS (
      |  SELECT t_hours, CAST(COUNT(*) AS BIGINT) AS d FROM t
      |  WHERE t_hours IS NOT NULL AND t_hours < 48 GROUP BY 1),
      |total AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_signup FROM su),
      |spine AS (SELECT unnest(generate_series(0, 47)) AS h)
      |SELECT h, n_signup,
      |  n_signup - COALESCE(cum, 0) AS survivors,
      |  CAST((n_signup - COALESCE(cum, 0)) * 1000000 // n_signup
      |    AS BIGINT) AS s_ppm
      |FROM (
      |  SELECT h, CAST(SUM(d) AS BIGINT) AS cum
      |  FROM spine LEFT JOIN died ON t_hours <= h
      |  GROUP BY h) c
      |CROSS JOIN total
      |ORDER BY h""".stripMargin

  // -------------------------------------------------------------------
  // q192 — sequential trigram mining: the 20 most common 3-step
  // event-type paths users actually take (q70's bigram transitions,
  // one step deeper — the input to journey maps and next-action
  // models). Two lag()s in ONE per-user window pass, then a count
  // groupBy; at any scale it is exactly one shuffle on user_id plus
  // one on the trigram key, both with map-side partial aggregation.
  // -------------------------------------------------------------------
  def q192_event_trigrams(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("tsu"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"),
        expr("ts div 1000").as("tsu"), col("event_type"))
      .withColumn("e2", lag(col("event_type"), 1).over(w))
      .withColumn("e1", lag(col("event_type"), 2).over(w))
      .filter(col("e1").isNotNull)
      .groupBy(col("e1"), col("e2"), col("event_type").as("e3"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("e1"), col("e2"), col("e3"))
      .limit(20)
  }

  val q192_sql: String =
    """WITH s AS (
      |  SELECT event_type AS e3,
      |    lag(event_type, 1) OVER (PARTITION BY user_id
      |      ORDER BY epoch_us(ts), event_id) AS e2,
      |    lag(event_type, 2) OVER (PARTITION BY user_id
      |      ORDER BY epoch_us(ts), event_id) AS e1
      |  FROM events)
      |SELECT e1, e2, e3, COUNT(*) AS n
      |FROM s WHERE e1 IS NOT NULL
      |GROUP BY e1, e2, e3
      |ORDER BY n DESC, e1, e2, e3
      |LIMIT 20""".stripMargin

  // -------------------------------------------------------------------
  // q193 — multi-touch attribution by hour of day: each purchase's
  // value is credited to the user's clicks in the preceding hour,
  // under BOTH standard models at once — last-touch (the final click
  // takes everything) and linear (equal split, integer dust to the
  // final click so each purchase's credit sums exactly to its value;
  // the final click is (max ts, max event_id) — the id tie-break keeps
  // credit single-headed even on colliding timestamps).
  // Aggregated by the credited click's hour-of-day, the two models
  // visibly disagree — the report a marketing pipeline uses to decide
  // if "the 9am touchpoint" matters. Purchase values become exact
  // BIGINT micros via floor(value·10⁶) (floor, not cast — DuckDB CAST
  // rounds). Shape: one user-keyed range join (the q51/q54 family —
  // bucketize the time axis if an adversarial user's click density
  // explodes the per-user fan-out), one per-purchase window to rank
  // clicks, then a bounded 24-row aggregation.
  // -------------------------------------------------------------------
  def q193_touch_attribution(spark: SparkSession, dir: String)
      : DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts"),
        col("event_type"), col("value"))
      .localCheckpoint(eager = true) // purchases + clicks
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("pid"),
        col("ts").as("tp"),
        floor(col("value") * 1000000).cast("long").as("vmicros"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("cid"),
        col("ts").as("tc"))
    val touched = purchases.join(clicks, Seq("user_id"))
      .filter(col("tc") <= col("tp") &&
        col("tc") > col("tp") - expr("3600000000000"))
    val wk = Window.partitionBy(col("pid"))
    val credited = touched
      .withColumn("k", count(lit(1)).over(wk))
      .withColumn("last_tc", max(col("tc")).over(wk))
      .withColumn("last_cid", max(when(col("tc") === col("last_tc"),
        col("cid"))).over(wk))
      .withColumn("is_last",
        col("tc") === col("last_tc") && col("cid") === col("last_cid"))
      .withColumn("linear",
        expr("vmicros div k") +
          when(col("is_last"), expr("vmicros - k * (vmicros div k)"))
            .otherwise(lit(0L)))
      .withColumn("last_credit",
        when(col("is_last"), col("vmicros")).otherwise(lit(0L)))
      .withColumn("hour", expr("(tc div 3600000000000) % 24"))
    credited.groupBy(col("hour"))
      .agg(count(lit(1)).as("n_touches"),
        countDistinct(col("pid")).as("n_purchases"),
        sum(col("last_credit")).as("last_touch_micros"),
        sum(col("linear")).as("linear_micros"))
      .orderBy(col("hour"))
  }

  val q193_sql: String =
    """WITH ev AS (
      |  SELECT user_id, event_id, epoch_ns(ts) AS tn, event_type,
      |         value
      |  FROM events),
      |p AS (
      |  SELECT user_id, event_id AS pid, tn AS tp,
      |         CAST(floor(value * 1000000) AS BIGINT) AS vmicros
      |  FROM ev WHERE event_type = 'purchase'),
      |c AS (
      |  SELECT user_id, event_id AS cid, tn AS tc
      |  FROM ev WHERE event_type = 'click'),
      |touched AS (
      |  SELECT p.pid, p.vmicros, c.tc, c.cid
      |  FROM p JOIN c ON p.user_id = c.user_id
      |  WHERE c.tc <= p.tp AND c.tc > p.tp - 3600000000000),
      |credited AS (
      |  SELECT pid, vmicros, tc, cid,
      |    COUNT(*) OVER (PARTITION BY pid) AS k,
      |    MAX(tc) OVER (PARTITION BY pid) AS last_tc
      |  FROM touched),
      |credited2 AS (
      |  SELECT *, tc = last_tc AND cid = MAX(CASE WHEN tc = last_tc
      |      THEN cid END) OVER (PARTITION BY pid) AS is_last
      |  FROM credited)
      |SELECT (tc // 3600000000000) % 24 AS hour,
      |  CAST(COUNT(*) AS BIGINT) AS n_touches,
      |  CAST(COUNT(DISTINCT pid) AS BIGINT) AS n_purchases,
      |  CAST(SUM(CASE WHEN is_last THEN vmicros ELSE 0 END)
      |    AS BIGINT) AS last_touch_micros,
      |  CAST(SUM(vmicros // k + CASE WHEN is_last
      |    THEN vmicros - k * (vmicros // k) ELSE 0 END)
      |    AS BIGINT) AS linear_micros
      |FROM credited2
      |GROUP BY 1 ORDER BY hour""".stripMargin

  // -------------------------------------------------------------------
  // q195 — percolate alerting (§2.8, the INVERTED retrieval shape):
  // a STATIC set of registered queries matches against the DOCUMENT
  // stream — the "tell me when something about X arrives" service.
  // The query set (top-5 df terms, derived once from the batch corpus
  // and localCheckpoint'd so micro-batches don't rescan it) broadcasts
  // into an array_contains join against each arriving document: the
  // match step is STATELESS — no join state store, any number of
  // registered queries scales as broadcast size — and only the
  // downstream per-query tally (complete mode, |queries| rows) holds
  // state. The replay is arrival-order invariant, so one batch SQL
  // oracles the whole pipeline.
  // -------------------------------------------------------------------
  def q195_percolate_alerts(spark: SparkSession, dir: String)
      : DataFrame = {
    val batchDocs = Tables.documents(spark, dir)
      .filter(length(trim(col("text"))) > 0)
    val qterms = batchDocs
      .select(col("doc_id"),
        explode(graft.pipeline.TextAnalysis.tokens(col("text")))
          .as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("term")).limit(5)
      .select(col("term"))
      .localCheckpoint(eager = true)
    val stream = Tables.streamTable(spark, dir, "documents")
      .filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"),
        graft.pipeline.TextAnalysis.tokens(col("text")).as("tk"),
        col("n_chars"))
    val alerts = stream
      .join(broadcast(qterms), expr("array_contains(tk, term)"))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("tot_chars"))
    val sink = s"q195_sink_${System.nanoTime()}"
    // 5 query terms of agg state: 8 state stores per micro-batch
    val shufflePartitions = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    val query =
      try alerts.writeStream.format("memory").queryName(sink)
        .outputMode("complete").start()
      finally spark.conf.set("spark.sql.shuffle.partitions",
        shufflePartitions)
    try { query.processAllAvailable() } finally { query.stop() }
    spark.table(sink).orderBy(col("term"))
  }

  val q195_sql: String =
    """WITH d AS (
      |  SELECT doc_id, text, n_chars FROM documents
      |  WHERE trim(text) <> ''),
      |tf AS (
      |  SELECT DISTINCT doc_id,
      |    unnest(regexp_split_to_array(trim(text), '\s+')) AS term
      |  FROM d),
      |dft AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
      |q AS (SELECT term FROM dft ORDER BY df DESC, term LIMIT 5)
      |SELECT term, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS tot_chars
      |FROM d JOIN q
      |  ON list_contains(regexp_split_to_array(trim(text), '\s+'),
      |       term)
      |GROUP BY term ORDER BY term""".stripMargin

  // -------------------------------------------------------------------
  // q196 — landing / exit / bounce report: per event TYPE, how many
  // sessions OPEN with it, CLOSE with it, and how many of its landings
  // bounce (single-event sessions) — the page-analytics triple, built
  // on q31's 30-minute-gap sessionization. The session's first and
  // last events come from min/max over struct(ts, event_id, type) —
  // (ts, id) is unique, so the lexicographic struct order IS the
  // session order and no row_number pass is needed; the oracle mirrors
  // with FIRST/LAST ... ORDER BY inside the group. Shape: the same
  // one per-user window as every sessionizer, one groupBy per session,
  // then a types-bounded report join.
  // -------------------------------------------------------------------
  def q196_landing_exit(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"),
        expr("ts div 1000").as("tsu"), col("event_type"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("tsu"), col("event_id"))
    val sess = e
      .withColumn("prev_ts", lag(col("tsu"), 1).over(w))
      .withColumn("is_new",
        when(col("prev_ts").isNull ||
          col("tsu") - col("prev_ts") > 1800000000L, 1L).otherwise(0L))
      .withColumn("session_seq", sum(col("is_new"))
        .over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("session_seq"))
      .agg(count(lit(1)).as("n_events"),
        min(struct(col("tsu"), col("event_id"), col("event_type")))
          .getField("event_type").as("landing"),
        max(struct(col("tsu"), col("event_id"), col("event_type")))
          .getField("event_type").as("exit"))
    val landings = sess.groupBy(col("landing").as("event_type"))
      .agg(count(lit(1)).as("n_landings"),
        coalesce(sum(when(col("n_events") === 1, 1L)), lit(0L))
          .as("n_bounces"))
    val exits = sess.groupBy(col("exit").as("event_type"))
      .agg(count(lit(1)).as("n_exits"))
    landings.join(exits, Seq("event_type"), "full_outer")
      .select(col("event_type"),
        coalesce(col("n_landings"), lit(0L)).as("n_landings"),
        coalesce(col("n_exits"), lit(0L)).as("n_exits"),
        coalesce(col("n_bounces"), lit(0L)).as("n_bounces"),
        expr("coalesce(n_bounces, 0) * 1000000 div " +
          "greatest(coalesce(n_landings, 0), 1)").as("bounce_ppm"))
      .orderBy(col("event_type"))
  }

  val q196_sql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS tsu, event_type
      |  FROM events),
      |s AS (
      |  SELECT *,
      |    CASE WHEN lag(tsu) OVER w IS NULL
      |      OR tsu - lag(tsu) OVER w > 1800000000
      |    THEN 1 ELSE 0 END AS is_new
      |  FROM e WINDOW w AS (PARTITION BY user_id
      |                      ORDER BY tsu, event_id)),
      |g AS (
      |  SELECT *, SUM(is_new) OVER (PARTITION BY user_id
      |    ORDER BY tsu, event_id ROWS UNBOUNDED PRECEDING)
      |    AS session_seq
      |  FROM s),
      |sess AS (
      |  SELECT user_id, session_seq, COUNT(*) AS n_events,
      |    FIRST(event_type ORDER BY tsu, event_id) AS landing,
      |    LAST(event_type ORDER BY tsu, event_id) AS exit
      |  FROM g GROUP BY 1, 2),
      |landings AS (
      |  SELECT landing AS event_type,
      |    CAST(COUNT(*) AS BIGINT) AS n_landings,
      |    CAST(COALESCE(SUM(CASE WHEN n_events = 1 THEN 1 END), 0)
      |      AS BIGINT) AS n_bounces
      |  FROM sess GROUP BY 1),
      |exits AS (
      |  SELECT exit AS event_type, CAST(COUNT(*) AS BIGINT) AS n_exits
      |  FROM sess GROUP BY 1)
      |SELECT event_type,
      |  COALESCE(n_landings, 0) AS n_landings,
      |  COALESCE(n_exits, 0) AS n_exits,
      |  COALESCE(n_bounces, 0) AS n_bounces,
      |  CAST(COALESCE(n_bounces, 0) * 1000000 //
      |    greatest(COALESCE(n_landings, 0), 1) AS BIGINT)
      |    AS bounce_ppm
      |FROM landings FULL OUTER JOIN exits USING (event_type)
      |ORDER BY event_type""".stripMargin

  // -------------------------------------------------------------------
  // q197 — effective-dated dimension lookup (the SCD2 JOIN q135 only
  // builds): purchases enrich against the user's activity-status
  // dimension AS OF the purchase instant — revenue by what the user
  // was doing when they bought. The status dimension is q135's
  // change-collapse over NON-purchase events (a purchase must not
  // define its own status); each fact matches the single interval with
  // valid_from ≤ ts < valid_to (open tail = null), which the
  // change/lead construction makes a disjoint cover — ties collapse to
  // empty [t, t) intervals that can never match, so the join is
  // provably 1-row. Purchases before any status surface as 'none'
  // (left join), and value stays exact BIGINT micros. One user-keyed
  // interval join (per-user interval counts bounded by that user's
  // churn), then a statuses-bounded rollup.
  // -------------------------------------------------------------------
  def q197_scd2_lookup(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("tsu"), col("event_id"))
    val e = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"),
        expr("ts div 1000").as("tsu"), col("event_type"), col("value"))
      .localCheckpoint(eager = true) // dimension build + the fact scan
    val iv = e.filter(col("event_type") =!= "purchase")
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNull ||
        col("prev_type") =!= col("event_type"))
      .withColumn("valid_to", lead(col("tsu"), 1).over(w))
      .select(col("user_id"), col("event_type").as("status"),
        col("tsu").as("valid_from"), col("valid_to"))
    val p = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("tsu").as("tp"),
        floor(col("value") * 1000000).cast("long").as("vmicros"))
    p.join(iv,
        p("user_id") === iv("user_id") &&
          col("tp") >= col("valid_from") &&
          (col("valid_to").isNull || col("tp") < col("valid_to")),
        "left")
      .groupBy(coalesce(col("status"), lit("none")).as("status"))
      .agg(count(lit(1)).as("n_purchases"),
        sum(col("vmicros")).as("revenue_micros"))
      .orderBy(col("status"))
  }

  val q197_sql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS tsu, event_type,
      |         value
      |  FROM events),
      |st AS (SELECT * FROM e WHERE event_type <> 'purchase'),
      |ch AS (
      |  SELECT user_id, event_id, tsu, event_type FROM (
      |    SELECT *, lag(event_type) OVER (PARTITION BY user_id
      |      ORDER BY tsu, event_id) AS prev_type FROM st)
      |  WHERE prev_type IS NULL OR prev_type <> event_type),
      |iv AS (
      |  SELECT user_id, event_type AS status, tsu AS valid_from,
      |    lead(tsu) OVER (PARTITION BY user_id
      |      ORDER BY tsu, event_id) AS valid_to
      |  FROM ch),
      |p AS (
      |  SELECT user_id, tsu AS tp,
      |    CAST(floor(value * 1000000) AS BIGINT) AS vmicros
      |  FROM e WHERE event_type = 'purchase')
      |SELECT COALESCE(iv.status, 'none') AS status,
      |  CAST(COUNT(*) AS BIGINT) AS n_purchases,
      |  CAST(SUM(vmicros) AS BIGINT) AS revenue_micros
      |FROM p LEFT JOIN iv
      |  ON iv.user_id = p.user_id
      | AND p.tp >= iv.valid_from
      | AND (iv.valid_to IS NULL OR p.tp < iv.valid_to)
      |GROUP BY 1 ORDER BY status""".stripMargin

  val registry: graft.SparkEntry.Registry = Seq(
    ("q197_scd2_lookup", q197_scd2_lookup _, q197_sql),
    ("q196_landing_exit", q196_landing_exit _, q196_sql),
    ("q195_percolate_alerts", q195_percolate_alerts _, q195_sql),
    ("q193_touch_attribution", q193_touch_attribution _, q193_sql),
    ("q191_survival_curve", q191_survival_curve _, q191_sql),
    ("q192_event_trigrams", q192_event_trigrams _, q192_sql),
    ("q187_markov_stationary", q187_markov_stationary _, q187_sql),
    ("q90_retention", q90_retention _, q90_sql),
    ("q103_stream_windows", q103_stream_windows _, q103_sql),
    ("q108_stream_dedup", q108_stream_dedup _, q108_sql),
    ("q162_stream_sessions", q162_stream_sessions _, q162_sql),
    ("q163_stream_state", q163_stream_state _, q163_sql),
    ("q165_stream_interval_join", q165_stream_interval_join _, q165_sql),
    ("q168_stream_static_join", q168_stream_static_join _, q168_sql),
    ("q173_stream_outer_join", q173_stream_outer_join _, q173_sql),
    ("q174_time_spine", q174_time_spine _, q174_sql),
    ("q175_mix_shift", q175_mix_shift _, q175_sql),
    ("q176_growth_accounting", q176_growth_accounting _, q176_sql),
    ("q30_hourly_windows", q30_hourly_windows _, q30_sql),
    ("q31_sessions", q31_sessions _, q31_sql),
    ("q70_transitions", q70_transitions _, q70_sql),
    ("q71_unpivot", q71_unpivot _, q71_sql),
    ("q77_conversion_funnel", q77_conversion_funnel _, q77_sql),
    ("q134_rate_anomaly", q134_rate_anomaly _, q134_sql),
    ("q135_scd2_intervals", q135_scd2_intervals _, q135_sql),
    ("q142_type_drift", q142_type_drift _, q142_sql),
    ("q149_forget_cascade", q149_forget_cascade _, q149_sql),
    ("q150_trending", q150_trending _, q150_sql),
    ("q151_stickiness", q151_stickiness _, q151_sql),
    ("q155_trend_slope", q155_trend_slope _, q155_sql),
    ("q156_lateness_profile", q156_lateness_profile _, q156_sql),
    ("q159_activity_streaks", q159_activity_streaks _, q159_sql))
}
