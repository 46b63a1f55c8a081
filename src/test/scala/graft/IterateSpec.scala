package graft

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
      barrierDigits += Iterate.statDigits(withBarrier)
      bareDigits += Iterate.statDigits(bare)
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

  test("concurrently returns both sides' results in argument order") {
    val (a, b) = Iterate.concurrently({ Thread.sleep(200); "left" }, 42)
    assert(a === "left")
    assert(b === 42)
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
