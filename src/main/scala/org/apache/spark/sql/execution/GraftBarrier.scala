package org.apache.spark.sql.execution

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.classic.{Dataset, SparkSession}

/** The one `private[sql]` shim this library carries (the standard
  * Spark-package-object technique used by open-source Spark
  * extensions): rebuild a `localCheckpoint`ed frame's `LogicalRDD`
  * WITHOUT the origin plan's carried statistics.
  *
  * Why not `createDataFrame(cp.rdd, cp.schema)` (the round-10 first
  * cut): the external-Row rebuild resets the statistic but DROPS the
  * checkpoint's output partitioning and pays an InternalRow → Row →
  * InternalRow re-encode per round — measured 2× on q347's coloring
  * loop, whose per-round anti joins rode the checkpoint's hash
  * partitioning. Rebuilding the `LogicalRDD` node itself keeps the
  * materialized InternalRow RDD, the partitioning, and the ordering,
  * and clears ONLY `originStats` — so the optimizer falls back to the
  * flat `defaultSizeInBytes` instead of the round-over-round
  * multiplying product (the SCALING.md q344 trap).
  */
object GraftBarrier {

  /** Synchronous, listener-free read of a completed `observe` metric:
    * walk the EXECUTED plan (through AQE nesting) to the named
    * CollectMetricsExec and read its accumulator directly. The public
    * `Observation` API delivers the same row via the ASYNC listener
    * bus, which adds tens of milliseconds of drain latency per
    * await — measured as a uniform per-barrier regression across every
    * iterative loop when `Iterate.barrierCounted` first used it. After
    * an eager action the accumulator is already merged (task
    * completion is synchronous with job end), so this read is exact.
    * Callers go through `Iterate.observed`, which owns the fallback. */
  def collectedMetricRow(df: DataFrame,
      name: String): Option[org.apache.spark.sql.Row] = {
    def find(p: SparkPlan): Option[org.apache.spark.sql.Row] = p match {
      case c: CollectMetricsExec if c.name == name =>
        Some(c.collectedMetrics)
      case a: adaptive.AdaptiveSparkPlanExec => find(a.executedPlan)
      // AQE wraps executed segments in QueryStageExec nodes, which are
      // LEAVES of the enclosing plan (Spark 4.x additionally wraps the
      // final segment in a result query stage) — the `.children` walk
      // cannot see inside them, so descend into the stage's plan
      // explicitly. Round 12 missed this and q136's metric lookup
      // came back None in the driver's environment.
      case q: adaptive.QueryStageExec => find(q.plan)
      case other => other.children.iterator.map(find)
        .collectFirst { case Some(r) => r }
    }
    find(df.asInstanceOf[Dataset[org.apache.spark.sql.Row]]
      .queryExecution.executedPlan)
  }

  /** `df` must be the result of `localCheckpoint` (its analyzed plan
    * is a single `LogicalRDD`); returns the same data with the
    * carried statistic replaced by the TRUE materialized block size
    * from the block manager. Clearing the statistic outright is NOT
    * enough: a stats-less `LogicalRDD` reports `defaultSizeInBytes`
    * (effectively infinite), which forbids broadcast planning for the
    * small per-round frames these loops join — measured +30% on the
    * coloring loop. The checkpoint's blocks are already materialized,
    * so their exact size is a free lookup; it is bounded by the data
    * (no round-over-round product) AND keeps broadcast decisions
    * honest.
    *
    * The storage lookup is ASYNCHRONOUS on the driver: under load the
    * status report can lag the eager materialization, and the former
    * None fallback then reported the flat default (~9.2e18, 19
    * digits) — planning-safe but nondeterministic, and it both forbade
    * broadcasts of genuinely small frames and tripped the
    * Round11GateSpec digit gates intermittently. A caller-known exact
    * `rowCount` (from `Iterate.barrierCounted`'s observe metric) gives
    * a schema-width × rowCount estimate that is deterministic, bounded
    * by the data, and carries rowCount into the planner. Preference
    * order: measured blocks, then count-based, then flat default;
    * any non-LogicalRDD plan takes the external-Row rebuild. */
  def resetStats(df: DataFrame,
      rowCount: Option[Long] = None): DataFrame = {
    val classic = df.asInstanceOf[Dataset[org.apache.spark.sql.Row]]
    val session = classic.sparkSession.asInstanceOf[SparkSession]
    classic.queryExecution.analyzed match {
      case lr: LogicalRDD =>
        val counted = rowCount.map { n =>
          val perRow = org.apache.spark.sql.catalyst.plans.logical
            .statsEstimation.EstimationUtils.getSizePerRow(lr.output)
          org.apache.spark.sql.catalyst.plans.logical.Statistics(
            sizeInBytes = (BigInt(n) * perRow).max(BigInt(1)),
            rowCount = Some(BigInt(n)))
        }
        def lookup: Option[BigInt] = session.sparkContext
          .getRDDStorageInfo
          .find(_.id == lr.rdd.id)
          .map(i => BigInt(i.memSize + i.diskSize))
          .filter(_ > 0)
        var size = lookup
        var knownEmpty = false
        if (size.isEmpty && rowCount.isEmpty) {
          // two distinct miss causes, both formerly degrading to the
          // flat ~9.2e18 default nondeterministically:
          //  - a fully EMPTY checkpoint registers no storage blocks at
          //    all (converged loops barrier empty frames every tail
          //    round) — one tiny limit-probe job settles it exactly;
          //  - the async storage report lags the materialization —
          //    retry briefly (≤ 50 ms).
          if (classic.isEmpty) knownEmpty = true
          else {
            var tries = 0
            while (size.isEmpty && tries < 25) {
              Thread.sleep(2)
              tries += 1
              size = lookup
            }
          }
        }
        val measured = size
          .map(s => org.apache.spark.sql.catalyst.plans.logical
            .Statistics(sizeInBytes = s,
              rowCount = rowCount.map(BigInt(_))))
          .orElse(counted)
          .orElse(if (knownEmpty)
            Some(org.apache.spark.sql.catalyst.plans.logical.Statistics(
              sizeInBytes = BigInt(1), rowCount = Some(BigInt(0))))
          else None)
        // PINNED to Spark 4.1.x: positional LogicalRDD constructor
        // (6 primary + 3 curried args, verified against the shipped
        // spark-sql_2.13-4.1.2 jar); lr.stream and the origin
        // constraints are deliberately dropped (checkpoints are
        // batch, and constraints would re-derive the origin stats
        // problem). Round11Spec's "localCheckpoint analyzes to
        // LogicalRDD and resetStats preserves …" test pins this shape,
        // so a Spark upgrade that reshapes the constructor or stops
        // analyzing localCheckpoint to a bare LogicalRDD fails CI
        // loudly instead of silently degrading to the external-Row
        // branch.
        Dataset.ofRows(session, new LogicalRDD(lr.output, lr.rdd,
          lr.outputPartitioning, lr.outputOrdering, lr.isStreaming,
          None)(session, measured, None))
      case _ =>
        session.createDataFrame(classic.rdd, classic.schema)
    }
  }

  /** Spec probe (LogicalRDD is `private[sql]`, so graft-package tests
    * cannot pattern-match it directly): when `df`'s analyzed plan is a
    * single LogicalRDD, its (output attribute names, partitioning,
    * ordering) rendered as strings — the exact invariants
    * [[resetStats]] must preserve. None for any other plan shape,
    * which is the upgrade canary: a Spark version whose
    * `localCheckpoint` no longer analyzes to LogicalRDD would make
    * resetStats silently take the slow external-Row fallback. */
  def logicalRddShape(df: DataFrame): Option[(Seq[String], String, String)] =
    df.queryExecution.analyzed match {
      case lr: LogicalRDD =>
        Some((lr.output.map(_.name),
          lr.outputPartitioning.toString,
          lr.outputOrdering.map(_.sql).mkString(", ")))
      case _ => None
    }
}
