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
  * parsed and composed ON THE DRIVER (the same families
  * [[GoFrontend.derive]] builds for a full ingest, which the spec's
  * incremental-equals-full graph equality checks it against). The
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

  /** Node-row staging shape for the delta (object-level so the
    * Spark product encoder can resolve it; Option fields become
    * nullable columns that ensureNodeIds/align cast onto the canonical
    * schema). */
  private case class N(label: String, name: String = null,
    fqn: String = null, path: String = null, signature: String = null,
    symbol: String = null, kind: String = null, displayName: String = null,
    filePath: String = null, startLine: Option[Int] = None,
    endLine: Option[Int] = None, startByte: Option[Int] = None,
    endByte: Option[Int] = None, linesOfCode: Option[Int] = None,
    docstring: String = null, complexity: Option[Int] = None,
    isExported: Option[Boolean] = None, size: Option[Int] = None,
    lineCount: Option[Int] = None, hash: String = null,
    content: String = null)

  private val callSiteRe = """(\w+)\s*\(""".r

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
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global

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

    val ents = changed.flatMap { case (p, c) =>
      GoFrontend.parseFile(p, c).map(e => (e, c))
    }
    val affected: Array[String] = changed.map(_._1) ++ deleted
    // call-site tokens per caller (matches GoFrontend.derive's
    // regexp_extract_all over the byte-span body)
    val callSites = ents.collect {
      case (e, c) if e.label == Labels.Function || e.label == Labels.Method =>
        val body = c.substring(e.startByte, e.endByte)
        (e, callSiteRe.findAllMatchIn(body).map(_.group(1))
          .filter(_ != e.name).toSeq.distinct)
    }
    val calleeNames = callSites.flatMap(_._2).distinct
    val receiverNames = ents.collect {
      case (e, _) if e.label == Labels.Method => e.receiver
    }.distinct

    // ONE pruned scan covers every store lookup the composition needs:
    // nodes in affected files (stale detection + old ids), surviving
    // call targets by name, surviving receiver classes by name. It is
    // independent of the local id-assignment job below, so the two run
    // concurrently (every ~150 ms job slot counts against <1 s).
    val affLit = affected.toSeq
    val ctxF = Future(oldNodes.filter(
        col("path").isin(affLit: _*) ||
        col("filePath").isin(affLit: _*) ||
        (col("label").isin(Labels.Function, Labels.Method) &&
          col("name").isin(calleeNames.toSeq: _*)) ||
        (col("label") === Labels.Class &&
          col("name").isin(receiverNames.toSeq: _*)))
      .select(col("id"), col("label"), col("name"), col("path"),
        col("filePath"), col("fqn"))
      .collect())
    val inAffected: Row => Boolean = r =>
      (!r.isNullAt(3) && affected.contains(r.getString(3))) ||
        (!r.isNullAt(4) && affected.contains(r.getString(4)))
    lazy val ctx = Await.result(ctxF, Duration.Inf)
    lazy val oldAffectedIds = ctx.filter(inAffected).map(_.getLong(0)).toSet
    lazy val extFuncs = ctx.filter(r => !inAffected(r) &&
        (r.getString(1) == Labels.Function || r.getString(1) == Labels.Method))
      .map(r => r.getString(2) -> r.getLong(0))
    lazy val extClasses = ctx.filter(r => !inAffected(r) &&
        r.getString(1) == Labels.Class && !r.isNullAt(5))
      .map { r =>
        val fqn = r.getString(5)
        ((fqn.takeWhile(_ != '.'), r.getString(2)), r.getLong(0))
      }

    // node rows (the GoFrontend.derive families, composed locally).
    // Ids are computed ON THE DRIVER through the same catalyst
    // XxHash64Function the xxhash64 expression evaluates — bit-equal to
    // ensureNodeIds without spending a ~150 ms job slot; the spec's
    // incremental-equals-full graph equality is the parity gate.
    def sha256(s: String): String =
      java.security.MessageDigest.getInstance("SHA-256")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val svcN = N(Labels.Service, name = service)
    val fileNs = changed.map { case (p, c) =>
      N(Labels.File, name = p.split('/').last, path = p,
        size = Some(c.codePointCount(0, c.length)),
        lineCount = Some(c.split("\n", -1).length), hash = sha256(c),
        content = c)
    }
    val modNs = ents.map(_._1.pkg).distinct.map(pkg =>
      N(Labels.Module, name = pkg, fqn = s"$service/$pkg"))
    val entNs = ents.map { case (e, _) =>
      N(e.label, name = e.name, signature = e.signature,
        filePath = e.filePath, startLine = Some(e.startLine),
        endLine = Some(e.endLine), startByte = Some(e.startByte),
        endByte = Some(e.endByte),
        linesOfCode = Some(e.endLine - e.startLine + 1),
        docstring = e.docstring, complexity = Some(e.complexity),
        isExported = Some(e.isExported),
        fqn = if (e.label == Labels.Class || e.label == Labels.Interface)
          s"${e.pkg}.${e.name}" else null)
    }
    val symEnts = ents.map(_._1).filter(e =>
      e.label == Labels.Function || e.label == Labels.Method ||
        e.label == Labels.Class || e.label == Labels.Interface)
    val symNs = symEnts.map(e => (GoFrontend.symbolOf(service, e), e))
      .groupBy(_._1).toSeq.sortBy(_._1).map { case (sym, es) =>
        val e = es.head._2
        N(Labels.Symbol, symbol = sym, displayName = e.name,
          kind = e.label.toLowerCase)
      }
    val allNs = Seq(svcN) ++ fileNs ++ modNs ++ entNs ++ symNs
    def idOf(n: N): Long = {
      import org.apache.spark.sql.catalyst.expressions.XxHash64Function
      import org.apache.spark.sql.types.StringType
      import org.apache.spark.unsafe.types.UTF8String
      val keys: Seq[String] = n.label match {
        case Labels.Symbol => Seq(n.symbol)
        case Labels.Service => Seq(n.name)
        case Labels.File => Seq(n.path)
        case Labels.Class | Labels.Interface | Labels.Module => Seq(n.fqn)
        case Labels.Function | Labels.Method => Seq(n.signature, n.filePath)
        case Labels.Variable => Seq(n.name, n.filePath)
        case other => sys.error(s"reindex: no merge key for $other")
      }
      // ensureNodeIds: xxhash64(label, key₁…keyₙ) — seed 42, each input
      // folded through XXH64 in order
      (n.label +: keys).foldLeft(42L)((h, v) =>
        XxHash64Function.hash(UTF8String.fromString(v), StringType, h))
    }
    val nodeSchema = graft.model.Model.nodeSchema
    def rowOf(n: N, id: Long): Row = {
      val m: Map[String, Any] = Map(
        "id" -> Long.box(id), "label" -> n.label, "name" -> n.name,
        "fqn" -> n.fqn, "path" -> n.path, "signature" -> n.signature,
        "symbol" -> n.symbol, "kind" -> n.kind,
        "displayName" -> n.displayName, "filePath" -> n.filePath,
        "startLine" -> n.startLine.map(Int.box).orNull,
        "endLine" -> n.endLine.map(Int.box).orNull,
        "startByte" -> n.startByte.map(Int.box).orNull,
        "endByte" -> n.endByte.map(Int.box).orNull,
        "linesOfCode" -> n.linesOfCode.map(Int.box).orNull,
        "docstring" -> n.docstring,
        "complexity" -> n.complexity.map(Int.box).orNull,
        "isExported" -> n.isExported.map(Boolean.box).orNull,
        "size" -> n.size.map(Int.box).orNull,
        "lineCount" -> n.lineCount.map(Int.box).orNull,
        "hash" -> n.hash, "content" -> n.content)
      Row.fromSeq(nodeSchema.fields.toSeq.map(f => m.getOrElse(f.name, null)))
    }
    // duplicate identities inside one delta collapse here, exactly
    // like GraphStore.keepLatest collapses them in a merge write
    val newNodeRows = allNs.map(n => rowOf(n, idOf(n)))
      .groupBy(_.getLong(0)).map(_._2.head).toArray
    val _ = ctx // join the concurrent scan before composing edges

    // id lookup maps for edge composition
    val sIdx = graft.model.Model.nodeSchema.fieldIndex _
    def str(r: Row, f: String): String =
      if (r.isNullAt(sIdx(f))) null else r.getString(sIdx(f))
    val byLabel = newNodeRows.groupBy(_.getString(sIdx("label")))
      .withDefaultValue(Array.empty[Row])
    val svcId = byLabel(Labels.Service).head.getLong(0)
    val fileIdByPath = byLabel(Labels.File)
      .map(r => str(r, "path") -> r.getLong(0)).toMap
    val entIdByKey = (byLabel(Labels.Function) ++ byLabel(Labels.Method) ++
      byLabel(Labels.Class) ++ byLabel(Labels.Interface) ++
      byLabel(Labels.Variable))
      .map(r => (str(r, "label"), str(r, "name"), str(r, "signature"),
        str(r, "filePath")) -> r.getLong(0)).toMap
    val symIdBySym = byLabel(Labels.Symbol)
      .map(r => str(r, "symbol") -> r.getLong(0)).toMap
    def entId(e: GoFrontend.Entity): Long =
      entIdByKey((e.label, e.name, e.signature, e.filePath))

    // edge families (src, dst, relType, isExported)
    type EdgeT = (Long, Long, String, Option[Boolean])
    val none: Option[Boolean] = None
    val svcFileE: Seq[EdgeT] = fileIdByPath.values.toSeq
      .map(fid => (svcId, fid, RelTypes.Contains, none))
    val fileEntE: Seq[EdgeT] = ents.map { case (e, _) =>
      (fileIdByPath(e.filePath), entId(e), RelTypes.Contains, none)
    }.toSeq
    val newClasses = ents.map(_._1).filter(_.label == Labels.Class)
      .map(e => ((e.pkg, e.name), entId(e)))
    val classId = (extClasses ++ newClasses).groupBy(_._1)
      .map { case (k, vs) => k -> vs.map(_._2).distinct.toSeq }
    val clsMethE: Seq[EdgeT] = ents.map(_._1)
      .filter(_.label == Labels.Method).flatMap { m =>
        classId.getOrElse((m.pkg, m.receiver), Seq.empty[Long])
          .map(cid => (cid, entId(m), RelTypes.Contains, none))
      }.toSeq
    val tru: Option[Boolean] = Some(true)
    val definesE: Seq[EdgeT] = symEnts.map(e =>
      (entId(e), symIdBySym(GoFrontend.symbolOf(service, e)),
        RelTypes.Defines, tru)).distinct
    val newFuncs = ents.map(_._1).filter(e =>
      e.label == Labels.Function || e.label == Labels.Method)
      .map(e => (e.name, entId(e)))
    val funcIdsByName = (extFuncs ++ newFuncs).groupBy(_._1)
      .map { case (k, vs) => k -> vs.map(_._2).distinct.toSeq }
    val callsE: Seq[EdgeT] = callSites.flatMap { case (caller, callees) =>
      val cid = entId(caller)
      callees.flatMap(n => funcIdsByName.getOrElse(n, Seq.empty[Long]))
        .filter(_ != cid).distinct
        .map(calleeId => (cid, calleeId, RelTypes.Calls, none))
    }.toSeq
    val newEdges =
      (svcFileE ++ fileEntE ++ clsMethE ++ definesE ++ callsE).distinct

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
        val fromNew = newEdges.collect {
          case (_, d, t, _) if t == RelTypes.Defines => d
        }.toSet
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
    val edgeRowOf: ((Long, Long, String, Option[Boolean])) => Row = {
      case (es, ed, et, ex) => Row.fromSeq(
        graft.model.Model.edgeSchema.fields.toSeq.map(_.name).map {
          case "src" => Long.box(es)
          case "dst" => Long.box(ed)
          case "relType" => et
          case "isExported" => ex.map(Boolean.box).orNull
          case _ => null
        })
    }
    store.appendDelta("nodes", newNodeRows.toSeq,
      (staleIds ++ gcSyms).toSeq.sorted.map(Seq(_)))
    store.appendDelta("edges", newEdges.map(edgeRowOf),
      edgeHits.toSeq.map { case (es, ed, et) => Seq(es, ed, et) })
    Seq((changed.length.toLong, deleted.length.toLong,
      newNodeRows.length.toLong, staleIds.size.toLong))
      .toDF("n_changed_files", "n_deleted_files", "n_new_nodes",
        "n_stale_nodes")
  }
}
