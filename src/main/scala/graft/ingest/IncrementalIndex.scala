package graft.ingest

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.model.Model.{Labels, RelTypes}
import graft.store.GraphStore

/** Incremental code-graph indexing — the reference's *planned* pipeline
  * (`docs/rfc/001-code-intelligence-platform.md:76-80`,
  * `research.md:280-323`: edit detection → delta re-derivation → atomic
  * graph update, <1 s target), composed from the pieces that already
  * exist: content-hash change detection against the stored File nodes,
  * the GoFrontend parser restricted to the changed files (with the
  * SURVIVING functions/classes of unchanged files as linking context),
  * and the store's write machinery.
  *
  * Semantics (the delta algebra):
  *   - changed file  = new path, or stored File-node hash ≠ sha2(content)
  *   - deleted file  = stored path absent from the input file set
  *   - stale node    = old node in a changed/deleted file whose identity
  *     (content-derived id) is not re-derived — deleted, with every edge
  *     touching it (the dangling rule, `client.go:184-188`)
  *   - re-derived    = ALL edges whose src lies in a changed file (a
  *     body edit can change CALLS without changing any node identity,
  *     so keeping them would resurrect removed call sites)
  *   - kept          = everything else — unchanged files are never
  *     re-parsed, their nodes/edges never rewritten
  *   - symbol GC     = Symbol nodes with no remaining DEFINES edge
  *
  * Execution: the delta is detected by one (path, hash) join, then
  * parsed and composed ON THE DRIVER by [[GoFrontend.compose]], the
  * composition a full ingest runs over the whole tree, here with the
  * store's surviving functions and classes as linking context. The
  * store is touched by THREE pruned scans (File-label hashes for
  * detection; affected/ctx nodes; affected edges + DEFINES survival)
  * and TWO O(delta) LSM appends ([[GraphStore.appendDelta]] — adds +
  * key tombstones, folded by merge-on-read, compacted after K deltas).
  * Nothing corpus-sized is shuffled or rewritten, which is what makes
  * the <1 s per-save target reachable on a warm session.
  *
  * Known limit (shared with the reference's design, research.md:301):
  * a caller in an UNCHANGED file that references a symbol which did not
  * exist at that file's last index is re-linked only when the caller's
  * own file changes — cross-file re-link requires re-scanning unchanged
  * bodies, which is exactly what incremental indexing avoids.
  */
object IncrementalIndex {

  /** Bring `store` up to date with `files` (the full current tree as
    * (path, content)); only changed files are parsed. Returns a one-row
    * summary (n_changed_files, n_deleted_files, n_new_nodes,
    * n_stale_nodes).
    *
    * The driver holds the delta uncapped: the changed paths, the
    * changed files' text and the rows composed from them. Its size
    * follows the edit, not the tree. The callers' deltas are small: an
    * editor save, perfbench's 5-file batches, and q254's 286 changed
    * rows, whose `files` is a ≤ 2,000-row `part` slice; the others
    * build `files` from a driver-local `Seq`, so the driver holds all
    * of it anyway. */
  def reindex(store: GraphStore, files: DataFrame, service: String)
      : DataFrame = {
    val spark = files.sparkSession
    import spark.implicits._

    val incoming = files
      .select(col("path").cast("string"), col("content").cast("string"))
      .withColumn("new_hash", sha2(col("content"), 256))
    // bind the old graph ONCE per reindex — every spark.read.parquet
    // re-lists files and re-reads footers (~150 ms against a sub-second
    // budget), and binding also pins the snapshot the whole pass reads
    val oldNodes = store.nodes
    val oldEdges = store.edges
    val storedFiles = oldNodes.filter(col("label") === Labels.File)
      .select(col("path"), col("hash").as("old_hash"))

    // one pass classifies the delta on (path, hash) ONLY — the full
    // tree's file CONTENTS never enter the detection shuffle (a
    // full-outer join can't broadcast, and shuffling every byte of a
    // 100 TB tree to discover that three files changed is the scale
    // anti-pattern this operator exists to avoid)
    val delta = incoming.select(col("path"), col("new_hash"))
      .join(storedFiles, Seq("path"), "full_outer")
      .filter((col("new_hash").isNotNull && (col("old_hash").isNull ||
        col("old_hash") =!= col("new_hash"))) || col("new_hash").isNull)
      .select(col("path"), col("new_hash").isNull.as("is_deleted"))
      .collect()
    val changedPaths = delta.filter(!_.getBoolean(1)).map(_.getString(0))
    val deleted = delta.filter(_.getBoolean(1)).map(_.getString(0))
    if (changedPaths.isEmpty && deleted.isEmpty)
      return Seq((0L, 0L, 0L, 0L)).toDF("n_changed_files",
        "n_deleted_files", "n_new_nodes", "n_stale_nodes")
    // fetch the changed files' contents with a pushed-down path filter
    // — O(delta) bytes move, however large the tree
    val changed = files
      .filter(col("path").isin(changedPaths.toSeq: _*))
      .select(col("path").cast("string"), col("content").cast("string"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)))

    val affected: Array[String] = changed.map(_._1) ++ deleted
    val inAffected: Row => Boolean = r =>
      (!r.isNullAt(3) && affected.contains(r.getString(3))) ||
        (!r.isNullAt(4) && affected.contains(r.getString(4)))
    // ONE pruned scan covers every store lookup the composition needs:
    // nodes in affected files (stale detection + old ids), surviving
    // call targets by name, surviving receiver classes by name
    var ctx = Array.empty[Row]
    def link(calleeNames: Seq[String], receiverNames: Seq[String]) = {
      ctx = oldNodes.filter(
          col("path").isin(affected.toSeq: _*) ||
          col("filePath").isin(affected.toSeq: _*) ||
          (col("label").isin(Labels.Function, Labels.Method) &&
            col("name").isin(calleeNames: _*)) ||
          (col("label") === Labels.Class &&
            col("name").isin(receiverNames: _*)))
        .select(col("id"), col("label"), col("name"), col("path"),
          col("filePath"), col("fqn"))
        .collect()
      val outside = ctx.filterNot(inAffected)
      GoFrontend.Linking(
        outside.filter(r => r.getString(1) == Labels.Function ||
            r.getString(1) == Labels.Method)
          .map(r => r.getString(2) -> r.getLong(0)).toSeq,
        outside.filter(r => r.getString(1) == Labels.Class &&
            !r.isNullAt(5))
          .map { r =>
            val fqn = r.getString(5)
            ((fqn.takeWhile(_ != '.'), r.getString(2)), r.getLong(0))
          }.toSeq)
    }
    val (newNodeRows, newEdges) =
      GoFrontend.compose(changed.toSeq, service, link)
    val oldAffectedIds = ctx.filter(inAffected).map(_.getLong(0)).toSet

    val newIds = newNodeRows.map(_.getLong(0)).toSet
    val staleIds = oldAffectedIds -- newIds

    // ONE edge scan resolves tombstone keys (src in affected —
    // re-derived — or dst stale — dangling) AND the DEFINES rows
    // feeding symbol GC; both In-lists push down to the pruned scan
    val affIdsLit = oldAffectedIds.toSeq
    val staleLit = staleIds.toSeq
    val edgeHits = oldEdges.filter(
        col("src").isin(affIdsLit: _*) || col("dst").isin(staleLit: _*))
      .select(col("src"), col("dst"), col("relType"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    // symbols whose definer went stale; they survive iff some other
    // DEFINES edge (old from an unaffected file, or new) still lands
    val candSyms = edgeHits.collect {
      case (es, d, t) if t == RelTypes.Defines && staleIds(es) => d
    }.distinct
    val survivors: Set[Long] =
      if (candSyms.isEmpty) Set.empty
      else {
        val fromNew = newEdges.filter(_.getString(2) == RelTypes.Defines)
          .map(_.getLong(1)).toSet
        val fromOld = oldEdges
          .filter(col("relType") === RelTypes.Defines &&
            col("dst").isin(candSyms.toSeq: _*) &&
            !col("src").isin(staleLit: _*))
          .select(col("dst")).collect().map(_.getLong(0)).toSet
        fromNew ++ fromOld
      }
    val gcSyms = candSyms.filterNot(survivors).toSet

    // two O(delta) LSM appends — DRIVER-written JSONL, no Spark job;
    // merge-on-read folds them, compaction amortizes the rewrite
    store.appendDelta("nodes", newNodeRows,
      (staleIds ++ gcSyms).toSeq.sorted.map(Seq(_)))
    store.appendDelta("edges", newEdges,
      edgeHits.toSeq.map { case (es, ed, et) => Seq(es, ed, et) })
    Seq((changed.length.toLong, deleted.length.toLong,
      newNodeRows.length.toLong, staleIds.size.toLong))
      .toDF("n_changed_files", "n_deleted_files", "n_new_nodes",
        "n_stale_nodes")
  }
}
