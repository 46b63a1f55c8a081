package graft.ops

import org.apache.spark.sql.DataFrame

/** Materialization barrier for iterative DataFrame loops (Pregel-style
  * fixpoints: MST, SALSA, HITS, power iteration, LPA, coloring,
  * matching).
  *
  * `localCheckpoint` truncates the LINEAGE but carries the origin
  * plan's `sizeInBytes` statistic forward — and in a loop whose next
  * round JOINS the checkpointed frame, those statistics MULTIPLY round
  * over round (measured in SCALING.md: ×3 digits per round,
  * megabyte-BigInteger statistics arithmetic on the driver and 85 s
  * planning stalls by round 15 of the q344 loop). Rebuilding the frame
  * from the checkpointed RDD resets the statistic to the flat
  * `defaultSizeInBytes`, so every round plans in constant time. The
  * Row round-trip is partition-local and costs the same order as the
  * round's own join — no shuffle, no driver collect.
  *
  * Use this INSTEAD of a bare `localCheckpoint` whenever the
  * checkpointed frame is joined again inside the loop. For a terminal
  * materialization (result reused by several downstream aggregations,
  * never re-joined iteratively) a bare `localCheckpoint` is fine and
  * one plan-rebuild cheaper.
  */
object Iterate {

  /** Materialize `df` eagerly and return a frame with TRUNCATED
    * lineage and RESET statistics (flat default `sizeInBytes`) —
    * KEEPING the checkpoint's internal row format, partitioning, and
    * ordering (see [[org.apache.spark.sql.execution.GraftBarrier]]:
    * the naive external-Row rebuild also resets the statistic, but
    * drops the partitioning and re-encodes every row — measured 2× on
    * the q347 coloring loop whose per-round anti joins ride the
    * checkpoint's hash partitioning). */
  def barrier(df: DataFrame): DataFrame =
    org.apache.spark.sql.execution.GraftBarrier.resetStats(
      df.localCheckpoint(eager = true))
    // NOT barrierCounted: CollectMetrics evaluates its aggregate
    // row-by-row on every materialized row and splits the codegen
    // pipeline — measured as a uniform per-barrier cost across the
    // loop tier when every barrier paid it. Loops that USE the count
    // call barrierCounted explicitly; everyone else keeps the free
    // path (resetStats retries the async storage lookup bounded, so
    // the statistics stay deterministic either way).

  /** [[barrier]] that also returns the materialized ROW COUNT for
    * free: the count rides the checkpoint job as a CollectMetrics
    * `observe` metric, so loops that gate on "is the state empty /
    * how many rows remain" (MST, star CC, MIS, matching) stop paying
    * a separate count() or limit(1).count() job per round — at bench
    * scale those loops are job-launch-bound, so one job per round is
    * a third of the round (guide §1.2 step 1: fewer passes). The
    * count also feeds the barrier's statistics as a DETERMINISTIC
    * fallback when the async block-manager lookup has not caught up
    * (see GraftBarrier.resetStats), and rowCount itself improves the
    * planner's join-size decisions inside the loops. */
  def barrierCounted(df: DataFrame): (DataFrame, Long) = {
    import org.apache.spark.sql.functions.{count, lit}
    val dfo = df.observe("graft_barrier_count", count(lit(1)).as("n"))
    val cp = dfo.localCheckpoint(eager = true)
    // SYNCHRONOUS accumulator read off the executed plan — the
    // Observation listener path waits on the async listener bus and
    // its drain latency showed up as a uniform per-barrier cost in
    // every loop (see GraftBarrier.collectedMetricRow). Fall back to
    // a direct count of the materialized blocks if the node is not
    // found (never wrong, just one cheap extra job).
    val n = org.apache.spark.sql.execution.GraftBarrier
      .collectedMetricRow(dfo, "graft_barrier_count")
      .map(_.getAs[Long]("n"))
      .getOrElse(cp.count())
    (org.apache.spark.sql.execution.GraftBarrier.resetStats(cp, Some(n)),
      n)
  }

  /** `.barrier` as a chainable drop-in for an in-loop
    * `.localCheckpoint(eager = true)`. */
  implicit class BarrierOps(private val df: DataFrame) extends AnyVal {
    def barrier: DataFrame = Iterate.barrier(df)
  }

  /** Run two INDEPENDENT eager computations (e.g. two BFS passes,
    * each a chain of per-level barrier jobs) on separate driver
    * threads, so one pass's small jobs back-fill the executor slots
    * the other's stragglers leave idle (guide §2.6 — Spark schedules
    * concurrent jobs FIFO, which is exactly the back-fill behavior).
    * Results are deterministic: thread scheduling affects only WHEN
    * jobs run, never what they compute. Both sides are awaited before
    * a failure is rethrown (`a`'s first), so no job outlives the call. */
  def concurrently[A, B](a: => A, b: => B): (A, B) = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val fa = Future(a)
    val fb = Future(b)
    Await.ready(fa, Duration.Inf)
    Await.ready(fb, Duration.Inf)
    (fa.value.get.get, fb.value.get.get)
  }

  /** Decimal digit count of the optimized plan's `sizeInBytes` stat —
    * the probe behind the MSTDEBUG finding, exposed so specs can
    * assert the statistic stays FLAT across rounds (a loop whose digit
    * count grows round-over-round has the multiplication trap). */
  def statDigits(df: DataFrame): Int =
    df.queryExecution.optimizedPlan.stats.sizeInBytes.toString.length
}
