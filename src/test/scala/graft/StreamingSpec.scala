package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.Incremental

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  test("windowed event counts over a memory stream with watermark") {
    implicit val sql = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Double)]
    val df = input.toDF().toDF("event_time", "event_type", "value")
    val agg = Incremental.windowedEventCounts(df, "event_time",
      windowDur = "10 minutes", watermark = "1 hour")
    val q = agg.writeStream.format("memory").queryName("win")
      .outputMode("complete").start()
    try {
      input.addData((ts(1), "click", 1.0), (ts(2), "click", 2.0),
        (ts(11), "view", 5.0))
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT event_type, n_events, total_value FROM win ORDER BY event_type")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      assert(rows.toSeq === Seq(("click", 2L, 3.0), ("view", 1L, 5.0)))
    } finally q.stop()
  }

  test("session windows close after the gap") {
    val batch = Seq(
      (ts(0), 1L, 1.0), (ts(5), 1L, 1.0),   // session 1 (gap<30m)
      (ts(59), 1L, 1.0)                      // session 2
    ).toDF("event_time", "user_id", "value")
    val out = Incremental.sessionizedEvents(batch, "event_time",
      gap = "30 minutes").collect()
    assert(out.length === 2)
    assert(out.map(_.getAs[Long]("n_events")).sorted.toSeq === Seq(1L, 2L))
  }

  test("streamTable reads both physical layouts (file and directory)") {
    // regression pin for the silent-zero mode: a name glob over the sf
    // dir matches a single-file table but NOTHING inside a
    // directory-of-parts table, so the stream "succeeds" with 0 rows
    val dir = java.nio.file.Files
      .createTempDirectory("graft_layout_spec").toString
    val rows = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
    rows.repartition(2).write.parquet(s"$dir/docs.parquet") // directory
    def countOf(name: String): Long = {
      val sink = s"lay_${System.nanoTime()}"
      val q = graft.Tables.streamTable(spark, dir, name)
        .groupBy().count()
        .writeStream.format("memory").queryName(sink)
        .outputMode("complete").start()
      try q.processAllAvailable() finally q.stop()
      spark.table(sink).collect().headOption.map(_.getLong(0)).getOrElse(0L)
    }
    assert(countOf("docs") === 3L)
    // single-FILE layout: move a lone part file to <dir>/single.parquet
    val part = new java.io.File(s"$dir/docs.parquet").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(part.toPath,
      java.nio.file.Paths.get(s"$dir/single.parquet"))
    assert(countOf("single") > 0L)
  }

  test("intervalJoin matches right rows inside (left_ts, left_ts+lag]") {
    implicit val sql = spark.sqlContext
    val clicks = MemoryStream[(Long, Timestamp, Long)]
    val buys = MemoryStream[(Long, Timestamp, Long)]
    val c = clicks.toDF().toDF("user_id", "event_ts", "event_id")
    val b = buys.toDF().toDF("user_id", "event_ts", "event_id")
    val joined = Incremental.intervalJoin(c, b,
      keyCol = "user_id", tsCol = "event_ts", idCol = "event_id",
      maxLag = "10 minutes", watermark = "1 hour")
    val q = joined.writeStream.format("memory").queryName("ij")
      .outputMode("append").start()
    try {
      clicks.addData((1L, ts(0), 100L), (2L, ts(0), 101L))
      buys.addData(
        (1L, ts(5), 200L),  // in window → pair
        (1L, ts(10), 201L), // exactly left+lag → pair (inclusive)
        (1L, ts(11), 202L), // past lag → no pair
        (1L, ts(0), 203L),  // same instant → no pair (strict >)
        (2L, ts(3), 204L),  // other key → its own pair
        (3L, ts(4), 205L))  // unmatched key
      q.processAllAvailable()
      val rows = spark.sql("SELECT key, left_id, right_id FROM ij")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._3)
      assert(rows.toSeq ===
        Seq((1L, 100L, 200L), (1L, 100L, 201L), (2L, 101L, 204L)))
    } finally q.stop()
  }

  test("intervalJoin left_outer emits unmatched rows on watermark pass") {
    implicit val sql = spark.sqlContext
    val clicks = MemoryStream[(Long, Timestamp, Long)]
    val buys = MemoryStream[(Long, Timestamp, Long)]
    val joined = Incremental.intervalJoin(
      clicks.toDF().toDF("user_id", "event_ts", "event_id"),
      buys.toDF().toDF("user_id", "event_ts", "event_id"),
      keyCol = "user_id", tsCol = "event_ts", idCol = "event_id",
      maxLag = "10 minutes", watermark = "30 minutes",
      joinType = "left_outer")
    val q = joined.writeStream.format("memory").queryName("oj")
      .outputMode("append").start()
    try {
      clicks.addData((1L, ts(0), 100L), (2L, ts(0), 101L))
      buys.addData((2L, ts(3), 200L))
      q.processAllAvailable()
      // user 1's click is unmatched but must NOT surface yet — nothing
      // proves a purchase can't still arrive inside its lag window
      val early = spark.sql(
        "SELECT key FROM oj WHERE right_id IS NULL").collect()
      assert(early.isEmpty, "outer row emitted before watermark proof")
      // sentinel rows on BOTH sides push the global watermark past
      // click+lag; the no-data batch then flushes the unmatched click
      clicks.addData((99L, Timestamp.valueOf("2024-01-01 13:00:00"), 900L))
      buys.addData((99L, Timestamp.valueOf("2024-01-01 13:00:00"), 901L))
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT key, left_id, right_id FROM oj WHERE key < 99")
        .collect().map(r => (r.getLong(0), r.getLong(1),
          Option(r.get(2)).map(_.asInstanceOf[Long])))
        .sortBy(_._1)
      assert(rows.toSeq === Seq((1L, 100L, None), (2L, 101L, Some(200L))))
    } finally q.stop()
  }

  test("intervalJoin batch parity: same operator, same pairs") {
    val c = Seq((1L, ts(0), 100L), (2L, ts(0), 101L))
      .toDF("user_id", "event_ts", "event_id")
    val b = Seq((1L, ts(5), 200L), (1L, ts(11), 202L), (2L, ts(3), 204L))
      .toDF("user_id", "event_ts", "event_id")
    val out = Incremental.intervalJoin(c, b, "user_id", "event_ts",
        "event_id", maxLag = "10 minutes")
      .select("key", "left_id", "right_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._3)
    assert(out.toSeq === Seq((1L, 100L, 200L), (2L, 101L, 204L)))
  }

  test("streamingDedup keeps first arrival per fingerprint within watermark") {
    implicit val sql = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, String)]
    val df = input.toDF().toDF("event_time", "doc_id", "text")
    val deduped = Incremental.streamingDedup(df, "text",
      tsCol = Some("event_time"), watermark = "1 hour")
    val q = deduped.writeStream.format("memory").queryName("dedup")
      .outputMode("append").start()
    try {
      input.addData((ts(1), 1L, "hello  world"), (ts(2), 2L, "HELLO world"),
        (ts(3), 3L, "unique doc"))
      q.processAllAvailable()
      input.addData((ts(4), 4L, "hello world")) // dup within watermark
      q.processAllAvailable()
      val ids = spark.sql("SELECT doc_id FROM dedup")
        .collect().map(_.getLong(0)).toSet
      // normalized fingerprint: case/whitespace-insensitive → one of
      // 1/2 survives (first arrival), 4 is dropped, 3 passes
      assert(ids.contains(3L) && !ids.contains(4L))
      assert(ids.size === 2)
    } finally q.stop()
  }

  test("streamingDedup state survives a stop/restart via checkpoint") {
    // the exactly-once story: dedup state lives in the state store, so
    // a RESTARTED query (same checkpoint) must still drop a duplicate
    // whose original arrived before the stop — a fresh query would
    // re-emit it. File source + parquet sink so both sides restart.
    import org.apache.spark.sql.types._
    val root = java.nio.file.Files
      .createTempDirectory("graft-recover").toString
    val (in, out, ck) = (s"$root/in", s"$root/out", s"$root/ck")
    val schema = StructType(Seq(
      StructField("event_time", TimestampType),
      StructField("doc_id", LongType),
      StructField("text", StringType)))
    def write(rows: Seq[(Timestamp, Long, String)]): Unit =
      rows.toDF("event_time", "doc_id", "text")
        .coalesce(1).write.mode("append").parquet(in)
    def start() = {
      val src = spark.readStream.schema(schema).parquet(in)
      Incremental.streamingDedup(src, "text",
          tsCol = Some("event_time"), watermark = "1 hour")
        .select("doc_id")
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ck)
        .outputMode("append").start()
    }
    write(Seq((ts(1), 1L, "alpha doc"), (ts(2), 2L, "beta doc")))
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    // duplicate of doc 1 plus a new doc arrive AFTER the restart
    write(Seq((ts(3), 3L, "ALPHA  doc"), (ts(4), 4L, "gamma doc")))
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val ids = spark.read.parquet(out)
      .collect().map(_.getLong(0)).toSet
    assert(ids === Set(1L, 2L, 4L)) // 3 deduped across the restart
  }

  test("streamingDedup batch fallback dedups across all time") {
    val batch = Seq((ts(0), 1L, "a  b"), (ts(1), 2L, "A B"),
      (ts(2), 3L, "c")).toDF("event_time", "doc_id", "text")
    val out = Incremental.streamingDedup(batch, "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(out.size === 2 && out.contains(3L))
  }

  test("mapGroupsWithState running totals") {
    implicit val sql = spark.sqlContext
    val input = MemoryStream[Incremental.UserEvent]
    val out = Incremental.runningUserTotals(input.toDS())
    val q = out.writeStream.format("memory").queryName("running")
      .outputMode("update").start()
    try {
      input.addData(Incremental.UserEvent(1L, 10L, 2.0),
        Incremental.UserEvent(1L, 11L, 3.0))
      q.processAllAvailable()
      input.addData(Incremental.UserEvent(1L, 12L, 5.0))
      q.processAllAvailable()
      val last = spark.sql(
        "SELECT n_events, total, max_event_id FROM running WHERE user_id=1 " +
        "ORDER BY n_events DESC LIMIT 1").collect()(0)
      assert(last.getLong(0) === 3L)
      assert(last.getDouble(1) === 10.0)
      assert(last.getLong(2) === 12L)
    } finally q.stop()
  }

  test("slidingChunks runs per micro-batch via foreachBatch (append)") {
    // the chunker is stateless, so streaming == batch per micro-batch;
    // foreachBatch is how a 100 TB ingest runs it incrementally
    implicit val sql = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val seen = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, String)]
    val q = input.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        seen.synchronized {
          seen ++= graft.pipeline.TextAnalysis
            .slidingChunks(batch, "doc_id", "text", 4, 2)
            .collect()
            .map(r => (r.getLong(0), r.getLong(1), r.getString(5)))
        }
        ()
      }.start()
    try {
      input.addData((1L, "a b c d e f"))
      q.processAllAvailable()
      input.addData((2L, "x y"))
      q.processAllAvailable()
      val got = seen.sortBy(c => (c._1, c._2)).toSeq
      assert(got === Seq((1L, 0L, "a b c d"), (1L, 1L, "c d e f"),
        (2L, 0L, "x y")))
    } finally q.stop()
  }
}
