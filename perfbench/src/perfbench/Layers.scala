package perfbench

/** Per-layer figures for a set of traced windows (one or more passes),
  * averaged per pass. `scanModule` names the layer whose files the scan
  * tasks read: the analytics tables (`Tables`) or the graph store
  * (`store`). */
object Layers {
  private val MB = 1048576.0

  def put(log: RunLog, tr: Tracer, windows: Seq[Span], passes: Int,
      cpus: Int, scanModule: String): Unit = {
    val n = math.max(passes, 1).toDouble
    val (jobs, tasks, plans) = tr.within(windows)
    val modOf = jobs.map(j => j.id -> j.module).toMap
    def tasksOf(m: String) = tasks.filter(t => modOf.get(t.job).contains(m))
    val wallMs = windows.map(w => w.endMs - w.startMs).sum.toDouble
    val busyMs = windows.map { w =>
      Tracer.unionMs(tasks.map(t =>
          (math.max(t.launchMs, w.startMs), math.min(t.finishMs, w.endMs)))
        .filter(iv => iv._2 > iv._1))
    }.sum.toDouble
    val taskMs = tasks.map(t => t.finishMs - t.launchMs).sum.toDouble
    log.put("spark.jobs", jobs.size / n, "count")
    log.put("spark.tasks", tasks.size / n, "count")
    log.put("spark.busy_s", busyMs / 1000 / n, "s")
    log.put("spark.idle_s", (wallMs - busyMs) / 1000 / n, "s")
    log.put("spark.core_util",
      if (wallMs > 0) taskMs / (wallMs * cpus) else 0.0, "ratio")
    log.put("spark.max_task_s",
      if (tasks.isEmpty) 0.0
      else tasks.map(t => t.finishMs - t.launchMs).max / 1000.0, "s")
    val barrier = jobs.filter(_.barrier)
    log.put("ops.barrier_jobs", barrier.size / n, "count")
    log.put("ops.barrier_s",
      barrier.map(j => math.max(j.endMs - j.startMs, 0L)).sum / 1000.0 / n, "s")
    // ingest.jobs is the index-time count the code-intelligence
    // workload reports itself
    Tracer.modules.filter(_ != "ingest").foreach { m =>
      log.put(s"$m.jobs", jobs.count(_.module == m) / n, "count")
    }
    Seq("pipeline", "graph", "queries").foreach { m =>
      val ts = tasksOf(m)
      log.put(s"$m.task_s", ts.map(_.runMs).sum / 1000.0 / n, "s")
      log.put(s"$m.shuffle_mb", ts.map(_.shuffleBytes).sum / MB / n, "MB")
      log.put(s"$m.spill_mb", ts.map(_.spillBytes).sum / MB / n, "MB")
    }
    val scans = tasks.filter(_.inputBytes > 0)
    val tablesScan = scanModule == "Tables"
    def scanned(v: Double): Double = if (tablesScan) v else 0.0
    log.put("Tables.input_mb", scanned(scans.map(_.inputBytes).sum / MB / n), "MB")
    log.put("Tables.input_rows", scanned(scans.map(_.inputRows).sum / n), "rows")
    log.put("Tables.scan_task_s",
      scanned(scans.map(_.runMs).sum / 1000.0 / n), "s")
    log.put("store.read_s",
      if (tablesScan) 0.0 else scans.map(_.runMs).sum / 1000.0 / n, "s")
    log.put("queries.analysis_ms", plans.map(_.analysisMs).sum / n, "ms")
    log.put("queries.optimizer_ms", plans.map(_.optimizerMs).sum / n, "ms")
    log.put("queries.planning_ms", plans.map(_.planningMs).sum / n, "ms")
    log.put("queries.actions", plans.size / n, "count")
  }
}
