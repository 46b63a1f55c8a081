package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.GraftBarrier

/** Materialization barrier and the one loop driver for iterative
  * DataFrame loops (Pregel-style fixpoints: MST, SALSA, HITS, power
  * iteration, LPA, coloring, matching, traversals).
  *
  * [[fixpoint]] is the one loop driver: a convergence loop states
  * only its step and, when "empty" is not enough, its `done` test.
  * Fixed-round loops (`for` + `.barrier`) need no driver.
  *
  * `localCheckpoint` truncates the LINEAGE but carries the origin
  * plan's `sizeInBytes` statistic forward — and in a loop whose next
  * round JOINS the checkpointed frame, those statistics MULTIPLY round
  * over round (measured in SCALING.md: ×3 digits per round,
  * megabyte-BigInteger statistics arithmetic on the driver and 85 s
  * planning stalls by round 15 of the q344 loop). [[barrier]] replaces
  * that statistic with one bounded by the round's own data (see
  * `GraftBarrier.resetStats`), so every round plans in constant time.
  *
  * Use this INSTEAD of a bare `localCheckpoint` whenever the
  * checkpointed frame is joined again inside the loop. For a terminal
  * materialization (result reused by several downstream aggregations,
  * never re-joined iteratively) a bare `localCheckpoint` is fine and
  * one plan-rebuild cheaper.
  */
object Iterate {

  /** Materialize `df` eagerly and return a frame with TRUNCATED
    * lineage and RESET statistics, keeping the checkpoint's row format,
    * partitioning and ordering. `GraftBarrier.resetStats` states which
    * size the planner then sees and when it falls back. */
  def barrier(df: DataFrame): DataFrame =
    GraftBarrier.resetStats(df.localCheckpoint(eager = true))
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
    val n = observed(dfo, "graft_barrier_count")(Row(cp.count()))
      .getLong(0)
    (GraftBarrier.resetStats(cp, Some(n)), n)
  }

  /** The row of the completed `observe` metric `name` on `df`, read
    * SYNCHRONOUSLY off the executed plan: the Observation listener
    * path waits on the async listener bus, and its drain latency
    * showed up as a uniform per-barrier cost in every loop (see
    * GraftBarrier.collectedMetricRow). When the plan shape hides the
    * metric, `fallback` computes the same row with one cheap extra
    * job — a miss costs time, never correctness (the round-12 q136
    * lesson). */
  def observed(df: DataFrame, name: String)(fallback: => Row): Row =
    GraftBarrier.collectedMetricRow(df, name).getOrElse(fallback)

  /** The loop driver (Pregelix's generic superstep driver: the
    * caller's `step` is the join + group-by, this owns the rest).
    * Round 1 is `init`; each later round is `step(rounds so far)`.
    * Every round is materialized by [[barrierCounted]], so its row
    * count rides the checkpoint job and no stop test pays a probe job.
    * The loop stops after an EMPTY round, or once `done(previous,
    * current)` holds, or at `maxRounds` rounds: there a depth-capped
    * traversal returns, and a `mustConverge` loop throws (an
    * unconverged state is not an answer). Returns every round's
    * (state, rows), init first, so callers union levels lazily. */
  def fixpoint(name: String, init: DataFrame, maxRounds: Int,
      mustConverge: Boolean = false,
      done: ((DataFrame, Long), (DataFrame, Long)) => Boolean =
        (_, _) => false)(
      step: Vector[(DataFrame, Long)] => DataFrame)
      : Vector[(DataFrame, Long)] = {
    require(maxRounds >= 1, s"$name: maxRounds ($maxRounds) < 1")
    @annotation.tailrec
    def loop(rounds: Vector[(DataFrame, Long)])
        : Vector[(DataFrame, Long)] = {
      val cur = rounds.last
      if (cur._2 == 0 ||
          rounds.size > 1 && done(rounds(rounds.size - 2), cur)) rounds
      else if (rounds.size < maxRounds)
        loop(rounds :+ barrierCounted(step(rounds)))
      else if (mustConverge)
        throw new IllegalStateException(s"$name did not converge in " +
          s"$maxRounds rounds (${cur._2} rows left)")
      else rounds
    }
    loop(Vector(barrierCounted(init)))
  }

  /** `.barrier` as a chainable drop-in for an in-loop
    * `.localCheckpoint(eager = true)`. */
  implicit class BarrierOps(private val df: DataFrame) extends AnyVal {
    def barrier: DataFrame = Iterate.barrier(df)
  }

  /** Run two INDEPENDENT eager computations (e.g. two BFS passes,
    * each a chain of per-level barrier jobs) on two driver threads, so
    * one pass's small jobs back-fill the executor slots the other's
    * stragglers leave idle (guide §2.6 — Spark schedules concurrent
    * jobs FIFO, which is exactly the back-fill behavior). Results are
    * deterministic: thread scheduling affects only WHEN jobs run, never
    * what they compute. `b` runs on the calling thread and `a` on a
    * thread started here, which inherits a copy of the caller's Spark
    * local properties (job group, description, tags) and active
    * session — SparkContext keeps them in cloning InheritableThreadLocals,
    * the copy `SQLExecution.withThreadLocalCaptured` makes for broadcast
    * futures — so a caller's `cancelJobGroup` reaches both sides. Both
    * sides are awaited before a failure is rethrown (`a`'s first), so no
    * job outlives the call. */
  def concurrently[A, B](a: => A, b: => B): (A, B) = {
    import scala.util.{Failure, Success, Try}
    def attempt[T](body: => T): Try[T] =
      try Success(body) catch { case e: Throwable => Failure(e) }
    var ra: Try[A] = null
    val side = new Thread(() => ra = attempt(a), "graft-concurrently")
    side.start()
    val rb = try attempt(b) finally side.join()
    (ra.get, rb.get)
  }
}
