package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}

/** Structured Streaming layer — the incremental pipeline the reference
  * designed but never implemented (`docs/rfc/001:76-80`,
  * `research.md:280-323`): streaming event analytics.
  *
  * Batch/stream symmetry: every operator runs the same plan on a batch
  * or a streaming DataFrame; windowed aggregations carry watermarks so
  * state is bounded on an unbounded stream (the property that matters
  * at cluster scale — state store size is O(open windows), not
  * O(stream length)).
  */
object Incremental {

  /** Tumbling-window counts/sums per event type with a watermark bounding
    * state. Works on a streaming OR batch DataFrame (same plan).
    * The value sum accumulates as decimal(30,6) and casts back to double
    * once, so the result is independent of partition/arrival order —
    * which also makes the streaming path DuckDB-oracle-able (q103). */
  def windowedEventCounts(events: DataFrame, tsCol: String,
      windowDur: String = "1 hour",
      watermark: String = "2 hours"): DataFrame = {
    val src =
      if (events.isStreaming) events.withWatermark(tsCol, watermark)
      else events
    src.groupBy(window(col(tsCol), windowDur), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(30, 6)))
          .cast("double").as("total_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("total_value"))
  }

  /** Session windows (gap-based) per user — Structured Streaming's
    * session_window; gap closes a session after `gap` idle. */
  def sessionizedEvents(events: DataFrame, tsCol: String,
      gap: String = "30 minutes", watermark: String = "2 hours"): DataFrame = {
    val src =
      if (events.isStreaming) events.withWatermark(tsCol, watermark)
      else events
    src.groupBy(session_window(col(tsCol), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("total_value"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"), col("user_id"),
        col("n_events"), col("total_value"))
  }

  /** Streaming exact-dedup on a content fingerprint — the continuous
    * form of the batch keep-one policy (`Dedup.exactDedup`): the first
    * arrival of each fingerprint passes, later copies are dropped.
    * With an event-time column + watermark the dedup state is BOUNDED
    * (`dropDuplicatesWithinWatermark`): a fingerprint older than the
    * watermark can be forgotten, so state is O(recent distinct docs),
    * not O(stream length) — the only form that survives an unbounded
    * 100 TB/day ingest. Without a time column (tsCol = None) it falls
    * back to unbounded `dropDuplicates` (exact across all time, state
    * grows forever — batch-backfill use only). */
  def streamingDedup(docs: DataFrame, textCol: String,
      tsCol: Option[String] = None,
      watermark: String = "1 hour"): DataFrame = {
    val fp = docs.withColumn("content_fp",
      sha2(trim(regexp_replace(lower(col(textCol)), "\\s+", " ")), 256))
    tsCol match {
      case Some(t) if docs.isStreaming =>
        fp.withWatermark(t, watermark)
          .dropDuplicatesWithinWatermark("content_fp")
      case _ => fp.dropDuplicates("content_fp")
    }
  }

  /** Watermarked stream-stream INTERVAL join — the attribution shape
    * (purchase within `maxLag` after a click, per user). Both sides are
    * keyed on `keyCol`; a right row matches a left row when
    * `left_ts < right_ts <= left_ts + maxLag`.
    *
    * The range condition is not just semantics — it is what BOUNDS the
    * join state. Stream-stream joins buffer both sides; with watermarks
    * on each input plus an event-time range in the join condition, Spark
    * derives a state-eviction bound per side (a buffered left row can be
    * dropped once the right watermark passes `left_ts + maxLag`), so
    * state is O(rows inside the lag window), not O(stream length) —
    * the only form that survives an unbounded ingest. Works on batch
    * inputs with the identical plan shape (minus watermarks), which is
    * what lets the DuckDB batch oracle gate the streaming path (q165).
    *
    * `joinType` also admits "left_outer": an unmatched left row is held
    * in state and emitted with null right columns only once the right
    * watermark passes its lag horizon — i.e. once no future right row
    * could still match it. The emission is therefore watermark-DRIVEN:
    * on a finite replay the last rows surface only when something
    * advances the watermark past them (q173 plants a far-future
    * sentinel for exactly that).
    */
  def intervalJoin(left: DataFrame, right: DataFrame,
      keyCol: String, tsCol: String, idCol: String,
      maxLag: String = "1 hour", watermark: String = "2 hours",
      joinType: String = "inner"): DataFrame = {
    def shape(df: DataFrame, side: String): DataFrame = {
      val named = df.select(col(keyCol).as("key"),
        col(tsCol).as(s"${side}_ts"), col(idCol).as(s"${side}_id"))
      if (df.isStreaming) named.withWatermark(s"${side}_ts", watermark)
      else named
    }
    val l = shape(left, "left")
    val r = shape(right, "right").withColumnRenamed("key", "r_key")
    l.join(r,
        col("key") === col("r_key") &&
          col("right_ts") > col("left_ts") &&
          col("right_ts") <= col("left_ts") + expr(s"interval $maxLag"),
        joinType)
      .select(col("key"), col("left_id"), col("left_ts"),
        col("right_id"), col("right_ts"))
  }

  case class UserEvent(user_id: Long, event_id: Long, value: Double)
  case class UserRunning(user_id: Long, n_events: Long, total: Double,
      max_event_id: Long)

  /** Custom keyed state: running per-user totals via mapGroupsWithState —
    * the escape hatch for stateful logic windows can't express
    * (KeyValueGroupedDataset, SURVEY §2.8 disposition). */
  def runningUserTotals(events: Dataset[UserEvent]): Dataset[UserRunning] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .mapGroupsWithState[UserRunning, UserRunning](
        GroupStateTimeout.NoTimeout()) {
        case (uid, rows, state: GroupState[UserRunning]) =>
          val prev = state.getOption.getOrElse(UserRunning(uid, 0L, 0.0, -1L))
          val next = rows.foldLeft(prev) { (acc, e) =>
            UserRunning(uid, acc.n_events + 1, acc.total + e.value,
              math.max(acc.max_event_id, e.event_id))
          }
          state.update(next)
          next
      }
  }
}
