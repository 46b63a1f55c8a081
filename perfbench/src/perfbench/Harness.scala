package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""; case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"; case '\r' => sb ++= "\\r"; case '\t' => sb ++= "\\t"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    (sb += '"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d).toPlainString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear-interpolated quantile (0 for an empty sample). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val pos = q * (s.size - 1)
      val lo = pos.floor.toInt; val hi = pos.ceil.toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}

/** Command-line options, all `key=value`. */
final case class Opts(kv: Map[String, String]) {
  def apply(k: String): String =
    kv.getOrElse(k, sys.error(s"missing option $k"))
  def workload: String = this("workload")
  def seed: Long = this("seed").toLong
  def passes: Int = this("passes").toInt
  def trace: Boolean = this("trace") == "1"
  def cpus: Int = this("cpus").toInt
  def out: String = this("out")
}

/** What one workload run reports back to the harness. */
final class RunLog {
  var attempted = 0L
  var failed = 0L
  var wrong = 0L
  val mismatches = mutable.ArrayBuffer.empty[String]
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  def put(name: String, value: Double, unit: String): Unit =
    metrics(name) = (value, unit)
  def mismatch(msg: String): Unit = {
    wrong += 1
    if (mismatches.size < 20) mismatches += msg
    System.err.println(s"[perfbench] MISMATCH $msg")
  }
  def fail(msg: String): Unit = {
    failed += 1
    System.err.println(s"[perfbench] FAILED $msg")
  }
}

/** One pass: the timed calls, the rest of the pass's program work
  * (writes, server rebuilds), and the JVM's GC and JIT time during it. */
final case class Pass(traced: Boolean, calls: Seq[Span], other: Seq[Span],
    gcMs: Long, jitMs: Long) {
  def seconds: Double = (calls ++ other).map(_.seconds).sum
}

object Passes {
  /** The cold pass, then `o.passes` warm passes. A traced run keeps the
    * listeners on through the cold pass, then makes one untraced warm
    * pass, the steepest part of the JIT warm-up, which the
    * traced-to-untraced comparison leaves out. Its other warm passes run
    * in the order untraced, traced, traced, untraced (and again), a
    * multiple of four of them and at least four, so that a steady drift
    * across them cancels out of the comparison. */
  def run(o: Opts, tr: Tracer, pass: Int => (Seq[Span], Seq[Span]))
      : (Pass, Seq[Pass]) = {
    def one(p: Int, traced: Boolean): Pass = {
      tr.attach(traced)
      val (g0, j0) = (Harness.gcMs, Harness.jitMs)
      val (calls, other) = pass(p)
      val r = Pass(traced, calls, other, Harness.gcMs - g0, Harness.jitMs - j0)
      System.err.println(f"[perfbench] pass $p ${r.seconds}%.3f s, gc ${r.gcMs} ms," +
        f" jit ${r.jitMs} ms")
      r
    }
    val cold = one(0, o.trace)
    settle()
    val n = if (o.trace) 1 + 4 * math.max((o.passes - 1) / 4, 1) else o.passes
    val warm = (1 to n).map(p =>
      one(p, o.trace && p > 1 && Set(1, 2)((p - 2) % 4)))
    tr.attach(false)
    (cold, warm)
  }

  /** Outside timing, let the cold pass's backlog of JIT compilation
    * drain (up to 5 s) and collect its garbage, so that the warm passes
    * do not share the cores with it. */
  private def settle(): Unit = {
    val t0 = System.nanoTime()
    System.gc()
    var last = -1L
    val deadline = t0 + 5000000000L
    while (Harness.jitMs != last && System.nanoTime() < deadline) {
      last = Harness.jitMs
      Thread.sleep(250)
    }
    System.err.println(f"[perfbench] settle ${(System.nanoTime() - t0) / 1e9}%.3f s," +
      f" at ${Harness.uptimeS}%.1f s")
  }

  /** The end-to-end metrics, or on a traced run the per-layer metrics
    * every workload shares. */
  def report(o: Opts, log: RunLog, tr: Tracer, setupTimes: Seq[Double],
      coldS: Double, warm: Seq[Pass], scanModule: String): Unit =
    if (!o.trace) {
      // each operation's median over the warm passes, then the median
      // over the operations: a pass makes one call to each of a few
      // operations of very different cost, so the median of all calls
      // pooled would fall in the gap between two of them
      val perOp = warm.flatMap(_.calls).groupBy(_.name.split('/').last)
        .values.map(c => Stats.median(c.map(_.seconds))).toSeq
      log.put("setup_s", Stats.median(setupTimes), "s")
      log.put("cold_pass_s", coldS, "s")
      log.put("warm_pass_s", Stats.median(warm.map(_.seconds)), "s")
      log.put("query_p50_s", Stats.median(perOp), "s")
      log.put("live_heap_mb", Harness.liveHeapMb(), "MB")
    } else {
      val traced = warm.filter(_.traced)
      Layers.put(log, tr, traced.flatMap(w => w.calls ++ w.other),
        traced.size, o.cpus, scanModule)
      log.put("jvm.gc_ms", traced.map(_.gcMs).sum.toDouble / traced.size, "ms")
      log.put("jvm.jit_ms", traced.map(_.jitMs).sum.toDouble / traced.size, "ms")
      log.put("jvm.codecache_mb", Harness.codeCacheMb, "MB")
      log.put("trace.overhead_ratio", Stats.median(traced.map(_.seconds)) /
        Stats.median(warm.drop(1).filterNot(_.traced).map(_.seconds)), "ratio")
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"${o.out}/spans.jsonl"), tr.spansJson)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"${o.out}/jobs.jsonl"), tr.jobsJson)
    }
}

/** Entry point. One JVM runs one workload once:
  *
  *   java … perfbench.Harness workload=loops seed=1 passes=4 trace=0 \
  *     cpus=4 data=<tables dir> out=<scratch dir> queries=q1,q2 …
  *
  * and prints one `PERFBENCH {json}` line with the metrics, the
  * operation counts, the mismatches and the run's provenance. */
object Harness {
  def session(o: Opts): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${o.cpus}]")
      .appName("perfbench")
      // the confs graft.Bench builds its session with
      .config("spark.sql.shuffle.partitions", o.cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      // keep every file the run writes inside its scratch directory
      .config("spark.local.dir", s"${o.out}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.out}/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"${o.out}/tmp")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def uptimeS: Double = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).sum
  def jitMs: Long = Option(ManagementFactory.getCompilationMXBean)
    .map(_.getTotalCompilationTime).getOrElse(0L)
  def codeCacheMb: Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getName.startsWith("CodeHeap"))
    .map(_.getUsage.getUsed).sum / 1048576.0

  /** Heap in use after a forced full collection, the least of three
    * readings (a collection can leave some garbage behind). */
  def liveHeapMb(): Double = (1 to 3).map { _ =>
    System.gc(); Thread.sleep(100)
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }.min

  /** Set up `reps` times and keep the last session. The first
    * repetition is timed from JVM start, so it carries the JVM launch
    * and class loading that every fresh process pays; the later ones
    * rebuild the session in the warm JVM. */
  def setUp(o: Opts, reps: Int, prepare: SparkSession => Unit)
      : (SparkSession, Seq[Double]) = {
    var spark: SparkSession = null
    val times = (0 until reps).map { i =>
      // the JVM's start is known only in milliseconds; later repetitions
      // use the nanosecond clock
      val fromStart = i == 0
      val t0 = if (fromStart) ManagementFactory.getRuntimeMXBean.getStartTime
        else System.nanoTime()
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      }
      spark = session(o)
      prepare(spark)
      val s = if (fromStart) (System.currentTimeMillis() - t0) / 1e3
        else (System.nanoTime() - t0) / 1e9
      System.err.println(f"[perfbench] setup ${i + 1}/$reps $s%.3f s")
      s
    }
    (spark, times)
  }

  def main(args: Array[String]): Unit = {
    val o = Opts(args.map { a =>
      val i = a.indexOf('='); a.take(i) -> a.drop(i + 1)
    }.toMap)
    Files.createDirectories(Paths.get(o.out))
    val log = new RunLog
    val spark = o.workload match {
      case "codeintel" => new CodeIntel(o, log).run()
      case _ => new QueryWorkload(o, log).run()
    }
    val rt = ManagementFactory.getRuntimeMXBean
    val jvmArg = (p: String) => rt.getInputArguments.asScala
      .find(_.startsWith(p)).map(_.drop(p.length)).getOrElse("default")
    val confs = spark.conf.getAll.toSeq.sortBy(_._1)
      .filter(kv => kv._1.startsWith("spark.sql.") || kv._1 == "spark.master")
      .map { case (k, v) => k -> Json.str(v) }
    val provenance = Seq(
      "commit" -> Json.str(o("commit")),
      "nproc" -> Runtime.getRuntime.availableProcessors.toString,
      "cpus" -> o.cpus.toString,
      "sf" -> Json.str(o.kv.getOrElse("sf", "-")),
      "seed" -> o.seed.toString,
      "workload" -> Json.str(o.workload),
      "xmx" -> Json.str(jvmArg("-Xmx")),
      "reserved_code_cache" -> Json.str(jvmArg("-XX:ReservedCodeCacheSize=")),
      "java" -> Json.str(System.getProperty("java.version")),
      "spark" -> Json.str(spark.version),
      "spark_confs" -> Json.obj(confs))
    spark.stop()
    System.err.println(f"[perfbench] done at ${uptimeS}%.1f s")
    val metrics = log.metrics.toSeq.map { case (k, (v, u)) =>
      k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
    }
    println("PERFBENCH " + Json.obj(Seq(
      "attempted" -> log.attempted.toString,
      "failed" -> log.failed.toString,
      "wrong" -> log.wrong.toString,
      "mismatches" -> log.mismatches.map(Json.str).mkString("[", ",", "]"),
      "metrics" -> Json.obj(metrics),
      "provenance" -> Json.obj(provenance))))
  }
}
