package graft.store

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.StructType

import graft.model.Model

/** Parquet-backed property-graph store with MERGE-semantics writes.
  *
  * Spark-native replacement for the reference's Neo4j client
  * (`pkg/neo4j/client.go`): instead of one Bolt round-trip per node/edge
  * (`client.go:104-212`, the reason its self-index takes ~45 s —
  * BASELINE.md), ingest is two DataFrame writes. Upsert identity is a
  * deterministic hash of (label, merge-key columns), so re-ingesting is
  * idempotent like Neo4j MERGE (`client.go:135-179`).
  *
  * Scale design:
  *   - `nodes` partitioned by `label`, `edges` by `relType` → label/type
  *     predicates become partition pruning, the Parquet analog of Neo4j's
  *     label indexes (`schema.go:82-203`);
  *   - MERGE = union + window keep-latest: one hash shuffle on `id`, no
  *     driver loops;
  *   - writes go to a new snapshot directory then swap, so readers never
  *     see a half-written graph (job-atomic, SURVEY §4.2).
  */
class GraphStore(spark: SparkSession, val basePath: String) {
  import GraphStore._

  // Snapshots are versioned directories + a pointer file: a MERGE writes
  // a brand-new directory and atomically repoints, so concurrent readers
  // (and Spark's global file-listing cache) never observe a half-swapped
  // or stale path. The previous snapshot is removed after the repoint.
  import org.apache.hadoop.fs.Path

  private def fs = new Path(basePath).getFileSystem(
    spark.sparkContext.hadoopConfiguration)

  private def pointer(kind: String) = new Path(s"$basePath/$kind.current")

  /** Current snapshot dir for `kind`, or None before the first write.
    * If the pointer file is momentarily absent (crash or concurrent
    * repoint between delete and rename), fall back to the newest
    * retained version directory instead of reporting an empty graph. */
  private def currentDir(kind: String): Option[String] = {
    val ptr = pointer(kind)
    if (fs.exists(ptr)) {
      val in = fs.open(ptr)
      try {
        val v = new String(
          org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8").trim
        Some(s"$basePath/$v")
      } finally in.close()
    } else versions(kind).lastOption.map(v => s"$basePath/$v")
  }

  def nodes: DataFrame = read("nodes", Model.nodeSchema)
  def edges: DataFrame = read("edges", Model.edgeSchema)

  /** Merge-on-read: the base snapshot minus rows superseded or
    * tombstoned by delta files, plus the deltas' adds (newest delta
    * wins per key). With no deltas this is exactly the plain base scan
    * — zero overhead in the compacted steady state. With deltas, the
    * base is NEVER shuffled: superseded/tombstoned keys are removed by
    * a broadcast anti-join (delta-sized build side) and the adds are a
    * small union — scan-speed at any base size, the Delta/Iceberg MOR
    * pattern. */
  // Memoized merged views keyed by (base version, last delta seq) —
  // snapshot + delta dirs are immutable once written, so a cached
  // DataFrame stays valid for its key; any write changes the key.
  // Saves the ~100 ms/reader footer+listing cost on every store read,
  // which matters on the <1 s per-save incremental path.
  private val readCache =
    scala.collection.mutable.Map.empty[(String, String, Int), DataFrame]
  // base snapshots are immutable → their readers never invalidate; a
  // per-save delta append must not pay a fresh base footer read
  private val baseCache =
    scala.collection.mutable.Map.empty[String, DataFrame]
  // collapsed in-memory image of the pending deltas (latest op per
  // key): lets same-instance reads build the merged view from a LOCAL
  // relation — no JSON scan, no _seq window shuffle — while the JSONL
  // files stay the durable truth for fresh instances. value =
  // (lastSeq, key → (add row | None=tombstone))
  private val deltaMem = scala.collection.mutable.Map
    .empty[String, (Int, Map[Seq[Any], Option[org.apache.spark.sql.Row]])]

  private def read(kind: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    currentDir(kind) match {
      case Some(dir) =>
        val baseVersion = new Path(dir).getName
        val deltas = deltaDirs(kind, baseVersion)
        val key = (kind, baseVersion, deltas.lastOption.map(_._1).getOrElse(0))
        readCache.getOrElseUpdate(key, {
          val base = baseCache.getOrElseUpdate(dir,
            spark.read.parquet(dir).select(schema.fields.map(f =>
              col(f.name).cast(f.dataType).as(f.name)).toSeq: _*))
          val keyCols0 = GraphStore.mergeKeyCols(kind)
          val mem = deltaMem.get(kind)
            .filter(_._1 == deltas.lastOption.map(_._1).getOrElse(0))
          if (deltas.isEmpty) base
          else if (mem.isDefined) {
            // same-instance fast view: local-relation adds + broadcast
            // anti-join kill set — one base scan, zero delta I/O
            val ops = mem.get._2
            val addRows = ops.valuesIterator.flatten.toSeq
            val adds = spark.createDataFrame(
              java.util.Arrays.asList(addRows: _*), schema)
            val killSchema = org.apache.spark.sql.types.StructType(
              keyCols0.map(k => schema.fields(schema.fieldIndex(k))))
            val kill = spark.createDataFrame(
              java.util.Arrays.asList(ops.keysIterator
                .map(ks => org.apache.spark.sql.Row.fromSeq(ks))
                .toSeq: _*), killSchema)
            base.join(broadcast(kill), keyCols0, "left_anti")
              .unionByName(adds)
          } else {
            val keyCols = GraphStore.mergeKeyCols(kind)
            // every delta file carries its own _seq column (written at
            // append time), so ALL deltas load through ONE reader —
            // per-dir readers cost ~100 ms each in footer reads
            val deltaSchema = org.apache.spark.sql.types.StructType(
              schema.fields ++ Seq(
                org.apache.spark.sql.types.StructField("_tomb",
                  org.apache.spark.sql.types.BooleanType),
                org.apache.spark.sql.types.StructField("_seq",
                  org.apache.spark.sql.types.IntegerType)))
            val dRaw = spark.read.schema(deltaSchema)
              .json(deltas.map(d => d._2 + "/delta.jsonl"): _*)
            // same-seq tie: the add row wins over the tomb (a row
            // re-derived within one delta is tombstoned AND re-added)
            val w = Window.partitionBy(keyCols.map(col): _*)
              .orderBy(col("_seq").desc, col("_tomb").asc)
            val dLatest = dRaw.withColumn("_rn", row_number().over(w))
              .filter(col("_rn") === 1)
            val adds = dLatest.filter(!col("_tomb"))
              .select(schema.fields.map(f =>
                col(f.name).cast(f.dataType).as(f.name)).toSeq: _*)
            // any key present in ANY delta (add or tomb) kills the base
            // row — adds override it, tombs delete it
            val kill = dRaw.select(keyCols.map(col): _*).distinct()
            base.join(broadcast(kill), keyCols, "left_anti")
              .unionByName(adds)
          }
        })
      case None => GraphStore.emptyDf(spark, schema)
    }

  /** Delta dirs applying to `baseVersion`, (seq, path), oldest first.
    * Deltas are bound to the base version they patch, so a reader that
    * resolved an old base keeps a consistent view while a compaction
    * writes a new base — the new base simply has no deltas yet. */
  private def deltaDirs(kind: String, baseVersion: String)
      : Seq[(Int, String)] = {
    val base = new Path(basePath)
    val prefix = s"${kind}_delta_${baseVersion}_"
    if (!fs.exists(base)) Seq.empty
    else fs.listStatus(base).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(prefix))
      .map { st =>
        val seq = st.getPath.getName.drop(prefix.length)
          .takeWhile(_.isDigit).toInt
        (seq, st.getPath.toString)
      }.sortBy(_._1)
  }

  /** Number of delta files pending against the current base of `kind`
    * (0 in the compacted steady state). */
  def pendingDeltas(kind: String): Int =
    currentDir(kind).map(d =>
      deltaDirs(kind, new Path(d).getName).size).getOrElse(0)

  /** LSM-style incremental write: append a small delta file (adds +
    * key-only tombstones) instead of rewriting the table — O(delta)
    * per call where a merge write is O(graph). This is what makes a
    * per-save incremental index viable at 100 TB: the corpus-sized
    * rewrite happens once per `autoCompactAfter` deltas (amortized),
    * not once per edit. Readers fold pending deltas via [[read]].
    *
    * The delta is DRIVER-WRITTEN JSONL, not a Spark job: a per-save
    * delta is a few hundred rows, and a Spark parquet commit costs
    * ~200-400 ms of scheduling + commit protocol against the <1 s save
    * budget, where a direct file write costs ~1 ms. Compaction folds
    * the JSONL back into columnar parquet, so the inefficient format
    * only ever holds O(K · delta) rows.
    *
    * `adds` rows follow the kind's canonical schema; `tombKeys` are
    * merge-key tuples (nodes: id; edges: (src, dst, relType)). */
  def appendDelta(kind: String, adds: Seq[org.apache.spark.sql.Row],
      tombKeys: Seq[Seq[Any]], autoCompactAfter: Int = 8): Unit = {
    val schema = if (kind == "nodes") Model.nodeSchema else Model.edgeSchema
    // a delta needs a base to patch — first write becomes the base
    if (currentDir(kind).isEmpty) {
      writeSnapshot(spark.createDataFrame(
          java.util.Arrays.asList(adds: _*), schema),
        kind, if (kind == "nodes") Seq("label") else Seq("relType"))
      return
    }
    val baseVersion = new Path(currentDir(kind).get).getName
    val seq = deltaDirs(kind, baseVersion).lastOption.map(_._1 + 1)
      .getOrElse(1)
    val keyCols = GraphStore.mergeKeyCols(kind)
    import org.json4s.JsonDSL._
    import org.json4s._
    def jval(v: Any): JValue = v match {
      case null => JNull
      case s: String => JString(s)
      case l: Long => JLong(l)
      case i: Int => JInt(i)
      case i: Integer => JInt(i.toInt)
      case b: Boolean => JBool(b)
      case b: java.lang.Boolean => JBool(b.booleanValue)
      case l: java.lang.Long => JLong(l.longValue)
      case other => JString(other.toString)
    }
    val addLines = adds.map { r =>
      val fields = schema.fields.zipWithIndex.toList.collect {
        case (f, i) if !r.isNullAt(i) => f.name -> jval(r.get(i))
      }
      org.json4s.jackson.JsonMethods.compact(org.json4s.jackson
        .JsonMethods.render(JObject(fields :::
          List("_tomb" -> JBool(false), "_seq" -> JInt(seq)))))
    }
    val tombLines = tombKeys.map { ks =>
      val fields = keyCols.zip(ks).toList.map { case (k, v) => k -> jval(v) }
      org.json4s.jackson.JsonMethods.compact(org.json4s.jackson
        .JsonMethods.render(JObject(fields :::
          List("_tomb" -> JBool(true), "_seq" -> JInt(seq)))))
    }
    val dir = new Path(s"$basePath/${kind}_delta_${baseVersion}_${seq}_" +
      java.util.UUID.randomUUID().toString.take(8))
    fs.mkdirs(dir)
    // write to a dot-file then rename: the read path globs *.jsonl, so
    // a half-written file is never visible (rename is atomic per file)
    val tmp = new Path(dir, ".delta.jsonl.tmp")
    val out = fs.create(tmp, true)
    try out.write((addLines ++ tombLines).mkString("", "\n", "\n")
      .getBytes("UTF-8"))
    finally out.close()
    fs.rename(tmp, new Path(dir, "delta.jsonl"))
    // maintain the collapsed in-memory image (latest op per key) that
    // the read path prefers over re-scanning the JSONL files. Only
    // valid if it covered the previous seq — a fresh instance over
    // pre-existing deltas keeps using the durable JSONL path.
    val schemaIdx = keyCols.map(schema.fieldIndex)
    val prev = deltaMem.get(kind) match {
      case Some((last, ops)) if last == seq - 1 => ops
      case _ if seq == 1 =>
        Map.empty[Seq[Any], Option[org.apache.spark.sql.Row]]
      case _ => null // gap: unknown prior deltas — disable the image
    }
    if (prev != null) {
      // within one delta, tombs apply FIRST and adds override them: a
      // re-derived row is tombstoned (its source was invalidated) and
      // re-added in the same append, and must survive
      val withTombs = tombKeys.foldLeft(prev)((m, ks) =>
        m.updated(ks, None))
      val withAdds = adds.foldLeft(withTombs)((m, r) =>
        m.updated(schemaIdx.map(r.get), Some(r)))
      deltaMem(kind) = (seq, withAdds)
    } else deltaMem.remove(kind)
    if (deltaDirs(kind, baseVersion).size >= autoCompactAfter)
      compact(kind)
  }

  /** Fold pending deltas of `kind` into a fresh base snapshot (the
    * amortized corpus-sized rewrite). No-op when already compacted. */
  def compact(kind: String): Unit =
    if (pendingDeltas(kind) > 0) {
      if (kind == "nodes") replaceNodes(nodes) else replaceEdges(edges)
    }

  def nodesByLabel(label: String): DataFrame =
    nodes.filter(col("label") === label)

  def edgesByType(relType: String): DataFrame =
    edges.filter(col("relType") === relType)

  /** Upsert nodes. Incoming rows may carry any subset of the node schema
    * plus `label`; ids are derived from merge keys when absent. Keep-latest
    * per id (incoming wins over existing; within incoming, greatest
    * updatedAt then arbitrary-but-deterministic).
    */
  def mergeNodes(incoming: DataFrame): Unit = {
    val withId = ensureNodeIds(incoming)
    val aligned = align(withId, Model.nodeSchema)
    writeSnapshot(keepLatest(nodes, aligned), "nodes", Seq("label"))
  }

  /** Upsert edges: identity = (src, dst, relType). */
  def mergeEdges(incoming: DataFrame): Unit = {
    def keyed(df: DataFrame): DataFrame =
      df.withColumn("id", xxhash64(col("src"), col("dst"), col("relType")))
    val aligned = keyed(align(incoming, Model.edgeSchema))
    val existing = keyed(edges)
    val merged = keepLatest(existing, aligned).drop("id")
    writeSnapshot(merged, "edges", Seq("relType"))
  }

  /** Atomically replace the full node set with `df` (schema-aligned).
    * The incremental-index path composes its final frame (old − stale
    * ∪ re-derived) and lands it in ONE snapshot write instead of a
    * merge write plus a delete write; same version-dir + pointer-swap
    * atomicity as every other write. The input must be bound to the
    * CURRENT snapshot before calling (store reads resolve the pointer
    * at DataFrame-creation time, and old snapshot dirs are retained,
    * so a frame built from `nodes`/`edges` stays consistent while the
    * pointer moves). */
  def replaceNodes(df: DataFrame): Unit =
    writeSnapshot(align(df, Model.nodeSchema), "nodes", Seq("label"))

  /** Edge analog of [[replaceNodes]]. */
  def replaceEdges(df: DataFrame): Unit =
    writeSnapshot(align(df, Model.edgeSchema), "edges", Seq("relType"))

  /** Drop edges whose endpoints are absent from `nodes` — the existence
    * join the reference performs before each relationship insert
    * (`client.go:184-188`, SURVEY J11). */
  def danglingEdges(): DataFrame = {
    val ids = nodes.select(col("id"))
    val key = edges.select(col("src"), col("dst"), col("relType"))
    key.join(ids.withColumnRenamed("id", "src"), Seq("src"), "left_anti")
      .union(key.join(ids.withColumnRenamed("id", "dst"),
        Seq("dst"), "left_anti"))
      .distinct()
  }

  private def writeSnapshot(df: DataFrame, kind: String,
      partitionBy: Seq[String]): Unit = {
    deltaMem.remove(kind) // a fresh base snapshot carries no deltas

    val version = s"${kind}_v${java.util.UUID.randomUUID().toString.take(8)}"
    df.write.mode(SaveMode.Overwrite).partitionBy(partitionBy: _*)
      .parquet(s"$basePath/$version")
    // atomic repoint: write pointer to a tmp file, rename over.
    // Previous snapshot dirs are retained (snapshot isolation — handles
    // created against an older version stay readable); reclaim with
    // vacuum().
    val tmpPtr = new Path(s"$basePath/$kind.current.__tmp")
    val out = fs.create(tmpPtr, true)
    try out.write(version.getBytes("UTF-8")) finally out.close()
    fs.delete(pointer(kind), false)
    fs.rename(tmpPtr, pointer(kind))
  }

  /** Retained snapshot versions of `kind` ("nodes"|"edges"), oldest
    * first (time-travel surface over the versioned store). */
  def versions(kind: String): Seq[String] = {
    val base = new Path(basePath)
    if (!fs.exists(base)) Seq.empty
    else fs.listStatus(base).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(s"${kind}_v"))
      .sortBy(_.getModificationTime)
      .map(_.getPath.getName)
  }

  /** Read a specific retained snapshot version (from [[versions]]). */
  def nodesAt(version: String): DataFrame =
    spark.read.parquet(s"$basePath/$version")
      .select(Model.nodeSchema.fields.map(f =>
        col(f.name).cast(f.dataType).as(f.name)).toSeq: _*)

  /** Delete all non-current snapshot versions. */
  def vacuum(): Unit = {
    val keep = Seq("nodes", "edges").flatMap(currentDir)
      .map(d => new Path(d).getName).toSet
    if (fs.exists(new Path(basePath))) {
      fs.listStatus(new Path(basePath)).foreach { st =>
        val name = st.getPath.getName
        if (st.isDirectory &&
            (name.startsWith("nodes_v") || name.startsWith("edges_v")) &&
            !keep.contains(name))
          fs.delete(st.getPath, true)
      }
    }
  }
}

object GraphStore {

  /** Merge-identity columns per table kind — the delta/tombstone key. */
  def mergeKeyCols(kind: String): Seq[String] =
    if (kind == "nodes") Seq("id") else Seq("src", "dst", "relType")

  /** Fill ids for rows that lack one, using per-label merge keys. A label
    * whose merge-key columns are not ALL present falls through to the
    * hash-of-all-columns default — substituting nulls would silently
    * collapse every row of the label to one id (xxhash64 skips null
    * inputs). */
  def ensureNodeIds(df: DataFrame): DataFrame = {
    val withIdCol =
      if (df.columns.contains("id")) df else df.withColumn("id", lit(null))
    val keyExpr = Model.MergeKeys.foldLeft(lit(null).cast("long")) {
      case (acc, (label, keys)) =>
        if (!keys.forall(withIdCol.columns.contains)) acc
        else when(col("label") === label,
          xxhash64((lit(label) +: keys.map(k => col(k).cast("string"))): _*))
          .otherwise(acc)
    }
    withIdCol.withColumn("id",
      coalesce(col("id").cast("long"), keyExpr,
        xxhash64(col("label"), to_json(struct(withIdCol.columns
          .filterNot(_ == "id").sorted.map(col): _*)))))
  }

  /** Union + keep one row per id: incoming beats existing, newer updatedAt
    * beats older. One shuffle; no driver round-trips. */
  def keepLatest(existing: DataFrame, incoming: DataFrame): DataFrame = {
    val e = existing.withColumn("_gen", lit(0))
    val i = incoming.withColumn("_gen", lit(1))
    val w = Window.partitionBy(col("id"))
      .orderBy(col("_gen").desc, col("updatedAt").desc_nulls_last)
    e.unionByName(i)
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn", "_gen")
  }

  /** Project a loosely-shaped DataFrame onto `schema`: missing columns
    * become nulls, present ones are cast; extra columns are folded into
    * the `properties` overflow map only if already provided. */
  def align(df: DataFrame, schema: StructType): DataFrame = {
    val cols = schema.fields.map { f =>
      if (df.columns.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }
    df.select(cols.toSeq: _*)
  }

  def emptyDf(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      schema)

  /** Union heterogenous node-row families into one schema-aligned frame
    * (ids filled per family) so an ingest can MERGE once instead of once
    * per family — each MERGE rewrites the snapshot, so batching is
    * O(graph) instead of O(families × graph). */
  def unionNodeFamilies(dfs: Seq[DataFrame]): DataFrame =
    dfs.map(df => align(ensureNodeIds(df), Model.nodeSchema))
      .reduce(_.unionByName(_))

  def unionEdgeFamilies(dfs: Seq[DataFrame]): DataFrame =
    dfs.map(df => align(df, Model.edgeSchema)).reduce(_.unionByName(_))
}
