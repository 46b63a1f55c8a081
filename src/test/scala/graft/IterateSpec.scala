package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.GraftBarrier
import org.apache.spark.sql.functions._

import graft.ops.Iterate

/** The shared iterative-loop barrier (graft.ops.Iterate): content
  * equivalence with a bare localCheckpoint, and the property that
  * motivates it — the optimizer's sizeInBytes statistic stays FLAT
  * across rounds of a join loop, where a bare localCheckpoint carries
  * the origin plan's statistic forward and lets it MULTIPLY round over
  * round (the q344/SCALING.md driver-planning-stall trap, now latent
  * in every Pregel-style loop: MST, SALSA, HITS, LPA, coloring,
  * matching, power iteration).
  */
class IterateSpec extends SparkSpec {

  private def loopFrame() = {
    import spark.implicits._
    (1L to 64L).map(i => (i, i % 7)).toDF("id", "grp")
  }

  test("barrier preserves rows and schema exactly") {
    val df = loopFrame()
    val b = Iterate.barrier(df)
    assert(b.schema === df.schema)
    assert(b.collect().sortBy(_.getLong(0)).toSeq ===
      df.collect().sortBy(_.getLong(0)).toSeq)
  }

  test("statDigits stays flat across 12 rounds of a barriered join " +
      "loop, while a bare localCheckpoint loop's statistic grows") {
    val fixed = Iterate.barrier(loopFrame()
      .select(col("id"), col("grp").as("g2")))

    var withBarrier = Iterate.barrier(loopFrame())
    var bare = loopFrame().localCheckpoint(true)
    val barrierDigits = Seq.newBuilder[Int]
    val bareDigits = Seq.newBuilder[Int]
    for (_ <- 1 to 12) {
      withBarrier = Iterate.barrier(
        withBarrier.join(fixed, Seq("id")).select(col("id"), col("grp")))
      bare = bare.join(fixed, Seq("id")).select(col("id"), col("grp"))
        .localCheckpoint(true)
      barrierDigits += statDigits(withBarrier)
      bareDigits += statDigits(bare)
    }
    val bd = barrierDigits.result()
    val rd = bareDigits.result()
    // flat: every round's digit count equals the first round's
    assert(bd.distinct.size === 1,
      s"barriered loop statistic drifted: $bd")
    // the bare loop multiplies: strictly more digits at the end than
    // the start (the measured trap — ~×3 digits per joined round)
    assert(rd.last > rd.head,
      s"bare localCheckpoint loop unexpectedly flat: $rd — if Spark " +
        "started resetting stats on localCheckpoint, barrier can be " +
        "retired")
    // both loops still compute the same rows
    assert(withBarrier.orderBy("id").collect().toSeq ===
      bare.orderBy("id").collect().toSeq)
  }

  test("barrierCounted returns count() on a non-empty frame, 0 on an " +
      "empty one") {
    val df = loopFrame()
    val (_, n) = Iterate.barrierCounted(df)
    assert(n === df.count())
    assert(n === 64L)
    val (empty, n0) = Iterate.barrierCounted(df.filter(col("id") < 0L))
    assert(n0 === 0L)
    assert(empty.isEmpty)
  }

  test("barrierCounted preserves rows and schema exactly") {
    val df = loopFrame()
    val (b, _) = Iterate.barrierCounted(df)
    assert(b.schema === df.schema)
    assert(b.collect().sortBy(_.getLong(0)).toSeq ===
      df.collect().sortBy(_.getLong(0)).toSeq)
  }

  test("barrierCounted feeds its count into flat statistics") {
    val fixed = Iterate.barrier(loopFrame()
      .select(col("id"), col("grp").as("g2")))
    var state = Iterate.barrierCounted(loopFrame())._1
    val digits = Seq.newBuilder[Int]
    for (round <- 1 to 12) {
      // drop one row per round, so the count changes every round
      val (next, n) = Iterate.barrierCounted(
        state.join(fixed, Seq("id")).filter(col("id") > round)
          .select(col("id"), col("grp")))
      assert(n === 64L - round)
      assert(next.queryExecution.optimizedPlan.stats.rowCount ===
        Some(BigInt(n)), s"round $round: rowCount is not the count")
      digits += statDigits(next)
      state = next
    }
    val d = digits.result()
    // 52..63 rows: at most one digit apart, never the multiplied trap
    assert(d.max - d.min <= 1, s"barrierCounted loop statistic drifted: $d")
  }

  test("resetStats: a storage-lookup miss takes its statistics from " +
      "the known row count") {
    import org.apache.spark.sql.catalyst.plans.logical.statsEstimation
      .EstimationUtils
    val df = loopFrame()
    // a lazy checkpoint has no cached blocks yet, so the lookup misses
    val cp = df.localCheckpoint(eager = false)
    val b = GraftBarrier.resetStats(cp, rowCount = Some(64L))
    val stats = b.queryExecution.optimizedPlan.stats
    assert(stats.rowCount === Some(BigInt(64)))
    assert(stats.sizeInBytes === BigInt(64) *
      EstimationUtils.getSizePerRow(cp.queryExecution.analyzed.output))
    assert(b.collect().sortBy(_.getLong(0)).toSeq ===
      df.collect().sortBy(_.getLong(0)).toSeq)
  }

  test("resetStats: an empty checkpoint with no row count probes to " +
      "exact empty statistics") {
    val cp = loopFrame().filter(col("id") < 0L).localCheckpoint(eager = true)
    val b = GraftBarrier.resetStats(cp)
    val stats = b.queryExecution.optimizedPlan.stats
    assert(stats.sizeInBytes === BigInt(1))
    assert(stats.rowCount === Some(BigInt(0)))
    assert(b.isEmpty)
  }

  // 64 rows; round r keeps ids above 16·(r − 1): 64, 48, 32, 16, 0
  private def shrinking(rounds: Vector[(DataFrame, Long)]): DataFrame =
    rounds.last._1.filter(col("id") > rounds.size * 16)

  test("fixpoint: R non-empty rounds and one empty round launch " +
      "exactly R + 1 jobs, with no probe job") {
    val (rounds, jobs) = jobsOf(
      Iterate.fixpoint("shrink", loopFrame(), maxRounds = 10)(shrinking))
    assert(rounds.map(_._2) === Vector(64L, 48L, 32L, 16L, 0L))
    assert(jobs === 5, s"expected one job per round, got $jobs")
    // each round is the materialized state its count describes
    assert(rounds.map(_._1.count()) === rounds.map(_._2))
  }

  test("fixpoint: done(prev, cur) stops the loop; a capped loop " +
      "returns exactly maxRounds rounds") {
    val still = Iterate.fixpoint("still", loopFrame(), maxRounds = 10,
      done = (prev, cur) => prev._2 == cur._2)(_.last._1)
    assert(still.map(_._2) === Vector(64L, 64L))
    val capped = Iterate.fixpoint("capped", loopFrame(),
      maxRounds = 3)(shrinking)
    assert(capped.map(_._2) === Vector(64L, 48L, 32L))
  }

  test("fixpoint: a mustConverge loop past maxRounds throws, naming " +
      "the loop") {
    val e = intercept[IllegalStateException] {
      Iterate.fixpoint("shrink-loop", loopFrame(), maxRounds = 3,
        mustConverge = true)(shrinking)
    }
    assert(e.getMessage.contains("shrink-loop"), e.getMessage)
    assert(e.getMessage.contains("3 rounds"), e.getMessage)
    // the same loop converges when the cap admits its empty round
    assert(Iterate.fixpoint("shrink-loop", loopFrame(), maxRounds = 5,
      mustConverge = true)(shrinking).last._2 === 0L)
  }

  test("observed: a metric missing from the plan returns the same " +
      "value through its fallback") {
    val dfo = loopFrame().observe("graft_spec_count",
      count(lit(1)).as("n"))
    val cp = dfo.localCheckpoint(eager = true)
    var fallbacks = 0
    def fallback = { fallbacks += 1; Row(cp.count()) }
    val hit = Iterate.observed(dfo, "graft_spec_count")(fallback)
    assert(hit.getLong(0) === 64L)
    assert(fallbacks === 0, "the metric was present, yet the fallback ran")
    val miss = Iterate.observed(dfo, "graft_spec_absent")(fallback)
    assert(miss.getLong(0) === 64L)
    assert(fallbacks === 1)
  }

  test("concurrently returns both sides' results in argument order") {
    val (a, b) = Iterate.concurrently({ Thread.sleep(200); "left" }, 42)
    assert(a === "left")
    assert(b === 42)
  }

  test("concurrently runs both sides' jobs under the caller's job group") {
    def job(): Long = spark.sparkContext.parallelize(1 to 8, 2).count()
    // a prior call outside any group, so that no thread left over from
    // it can carry the counted group into the call below by accident
    Iterate.concurrently({ Thread.sleep(50); job() }, job())
    val ((x, y), jobs) = jobsOf(Iterate.concurrently(job(), job()))
    assert((x, y) === ((8L, 8L)))
    assert(jobs === 2, "a side's job ran outside the caller's job group")
  }

  test("concurrently rethrows a side's failure after the sibling ends") {
    val siblingDone = new java.util.concurrent.atomic.AtomicBoolean(false)
    val boom = new IllegalStateException("boom")
    val thrown = intercept[IllegalStateException] {
      Iterate.concurrently[Int, Unit](throw boom,
        { Thread.sleep(500); siblingDone.set(true) })
    }
    assert(thrown eq boom)
    assert(siblingDone.get, "the sibling was still running on return")
  }
}
