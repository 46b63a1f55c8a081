package graft

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.GraftBarrier

import graft.ops.Iterate

/** Round-11 hardening: (1) pin the Spark-4.1.x internals GraftBarrier
  * rides on, so an upgrade that reshapes `LogicalRDD` or stops
  * analyzing `localCheckpoint` to one fails CI loudly instead of
  * silently degrading every iterative loop to the slow external-Row
  * rebuild; (2) pin the DuckDB behavior the Borůvka/matching SQL
  * convergence guards rely on — a deliberately undersized unroll must
  * RAISE the guard's conversion error, not silently truncate the
  * merge log (the exact failure mode the guard exists to prevent).
  */
class Round11Spec extends SparkSpec {
  import spark.implicits._

  // ------------------------------------------------------------------
  // GraftBarrier internals pin (ADVICE r10 #1)
  // ------------------------------------------------------------------

  test("localCheckpoint analyzes to LogicalRDD and resetStats " +
      "preserves output, partitioning, and ordering (Spark 4.1.x pin)") {
    val df = (1L to 512L).map(i => (i, i % 13)).toDF("id", "grp")
      .repartition(8, col("grp"))
      .sortWithinPartitions(col("id"))
    val cp = df.localCheckpoint(eager = true)

    // the upgrade canary: if this is None, resetStats is taking the
    // slow external-Row fallback on EVERY loop round
    val before = GraftBarrier.logicalRddShape(cp)
    assert(before.isDefined,
      "localCheckpoint no longer analyzes to a single LogicalRDD — " +
        "GraftBarrier.resetStats would silently degrade; re-verify " +
        "the pinned constructor against this Spark version")

    val rs = GraftBarrier.resetStats(cp)
    val after = GraftBarrier.logicalRddShape(rs)
    assert(after.isDefined, "resetStats output is not a LogicalRDD")
    assert(after.get._1 === before.get._1, "output attributes changed")
    assert(after.get._2 === before.get._2,
      s"partitioning changed: ${before.get._2} -> ${after.get._2}")
    assert(after.get._3 === before.get._3,
      s"ordering changed: ${before.get._3} -> ${after.get._3}")
    // under AQE the checkpoint may record UnknownPartitioning (the
    // final-stage partitioning is decided at runtime); with AQE off
    // the hash partitioning must be recorded AND survive resetStats —
    // this is the property the q347 coloring loop's 2x win rides on
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val cpNoAqe = (1L to 512L).map(i => (i, i % 13)).toDF("id", "grp")
        .repartition(8, col("grp"))
        .localCheckpoint(eager = true)
      val b = GraftBarrier.logicalRddShape(cpNoAqe)
      assert(b.exists(_._2.contains("hashpartitioning")),
        s"checkpoint did not record hash partitioning: $b")
      val a = GraftBarrier.logicalRddShape(
        GraftBarrier.resetStats(cpNoAqe))
      assert(a.map(_._2) === b.map(_._2),
        s"resetStats dropped the hash partitioning: $b -> $a")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)

    // content identical, statistic bounded by the data (the measured
    // block size is a few KB here; the origin-stat multiplication the
    // barrier exists to stop would show up as digit growth in loops —
    // IterateSpec covers that; here we pin it is NOT the effectively-
    // infinite defaultSizeInBytes that forbids broadcasts)
    assert(rs.orderBy("id").collect().toSeq ===
      cp.orderBy("id").collect().toSeq)
    val digits = statDigits(rs)
    assert(digits <= 8, s"resetStats statistic suspiciously large " +
      s"($digits digits) — measured-size lookup may have broken")
  }

  // ------------------------------------------------------------------
  // SQL unroll convergence guards (ADVICE r10 #4): DuckDB must RAISE
  // on an undersized unroll. Pins the string->BIGINT CAST staying
  // effective inside a CTE consumed via CROSS JOIN (verified on
  // duckdb 1.0.0; a DuckDB upgrade that prunes the guard scalar would
  // revert to silent truncation and this spec would catch it).
  // ------------------------------------------------------------------

  /** Run `sql` in DuckDB via the driver-side python install; returns
    * (exitCode, combined output). Specs using this must assume() the
    * harness is present so the suite stays green off the build box. */
  private def duckdb(sql: String): (Int, String) = {
    val f = Files.createTempFile("graft-guard", ".sql")
    Files.write(f, sql.getBytes(StandardCharsets.UTF_8))
    val script =
      s"""import duckdb, sys
         |sql = open(${"\"" + f.toString + "\""}).read()
         |try:
         |    duckdb.connect().execute(sql).fetchall()
         |    print("OK")
         |except Exception as e:
         |    print("ERR:" + str(e))
         |""".stripMargin
    val pb = new ProcessBuilder("python3", "-c", script)
    pb.redirectErrorStream(true)
    val p = pb.start()
    val out = new String(p.getInputStream.readAllBytes(),
      StandardCharsets.UTF_8)
    val code = p.waitFor()
    Files.deleteIfExists(f)
    (code, out)
  }

  private lazy val duckdbAvailable: Boolean =
    try duckdb("SELECT 1")._2.contains("OK")
    catch { case _: Exception => false }

  // a 16-vertex path: one Borůvka round merges at most half the
  // components, so rounds=1 leaves >= 8 components with cross-
  // component edges — the guard MUST fire, for any coin sequence
  private val pathVerticesSql =
    "SELECT * FROM (VALUES " +
      (1 to 16).map(i => s"($i)").mkString(", ") + ") t(v)"
  private val pathEdgesSql =
    "SELECT * FROM (VALUES " +
      (1 to 15).map(i => s"($i, ${i + 1}, ${i * 10})").mkString(", ") +
      ") t(a, b, w)"

  test("boruvkaSql: undersized unroll raises the BORUVKA GUARD " +
      "conversion error instead of silently truncating") {
    assume(duckdbAvailable, "driver-side python3+duckdb not available")
    val sql = s"WITH ${graft.graph.Mst.boruvkaSql(pathVerticesSql,
      pathEdgesSql, rounds = 1)}\nSELECT * FROM mst"
    val (_, out) = duckdb(sql)
    assert(out.contains("ERR:") && out.contains("BORUVKA GUARD"),
      s"guard did not fire on a 1-round unroll of a 16-path: $out")
    // and a sufficient unroll converges cleanly (guard scalar is 0)
    val ok = s"WITH ${graft.graph.Mst.boruvkaSql(pathVerticesSql,
      pathEdgesSql, rounds = 40)}\nSELECT * FROM mst"
    val (_, okOut) = duckdb(ok)
    assert(okOut.contains("OK"), s"converged unroll failed: $okOut")
  }

  test("maximalMatchingSql: undersized unroll raises the MATCHING " +
      "GUARD conversion error instead of silently truncating") {
    assume(duckdbAvailable, "driver-side python3+duckdb not available")
    val h = graft.pipeline.Sampling.hash60Sql("mm",
      "CAST(u AS VARCHAR) || '|' || CAST(w AS VARCHAR)")
    // a 40-edge path: one round of locally-max-at-both-ends matching
    // cannot clear every edge (verified deterministic under the fixed
    // hash60 priorities — live edges remain after round 1)
    val edgesSql = "SELECT u, w, " + h + " AS h FROM (VALUES " +
      (1 to 40).map(i => s"($i, ${i + 1})").mkString(", ") + ") t(u, w)"
    val sql = s"WITH ${graft.graph.Communities.maximalMatchingSql(
      edgesSql, rounds = 1)}\nSELECT * FROM matching"
    val (_, out) = duckdb(sql)
    assert(out.contains("ERR:") && out.contains("MATCHING GUARD"),
      s"guard did not fire on a 1-round unroll of a 40-path: $out")
    val ok = s"WITH ${graft.graph.Communities.maximalMatchingSql(
      edgesSql, rounds = 40)}\nSELECT * FROM matching"
    val (_, okOut) = duckdb(ok)
    assert(okOut.contains("OK"), s"converged unroll failed: $okOut")
  }

  // ------------------------------------------------------------------
  // Borůvka self-loop contract (ADVICE r10 #2): an a == b edge in the
  // input must not block convergence or appear in the merge log.
  // ------------------------------------------------------------------

  test("boruvka drops self-loop edges at entry instead of looping " +
      "to maxRounds") {
    val vs = (1L to 6L).toDF("v")
    val es = Seq(
      (1L, 2L, 10L), (2L, 3L, 20L), (3L, 4L, 30L),
      (4L, 5L, 40L), (5L, 6L, 50L),
      (3L, 3L, 1L) // contract-violating self-loop, minimum weight
    ).toDF("a", "b", "w")
    val log = graft.graph.Mst.boruvka(vs, es, maxRounds = 32).collect()
    assert(log.length === 5, s"expected the 5 path edges: ${log.toSeq}")
    assert(!log.exists(r => r.getLong(1) === r.getLong(2)),
      "self-loop surfaced in the merge log")
    assert(log.map(_.getLong(3)).sorted.toSeq ===
      Seq(10L, 20L, 30L, 40L, 50L))
  }

  // ------------------------------------------------------------------
  // q262 early-exit: distinct ranks are a doubling fixpoint, so the
  // remaining levels are emitted as copies — must be bit-identical to
  // the full unroll (the DuckDB oracle still runs every round).
  // ------------------------------------------------------------------

  test("suffixDoublingProfile early-exit emits the converged fixpoint " +
      "rows for all remaining levels") {
    // all tokens unique -> converged at k = 1; 8 doublings must still
    // emit 9 levels, all identical except k
    val docs = Seq((1L, "alpha beta gamma"), (2L, "delta epsilon zeta"))
      .toDF("doc_id", "text")
    val prof = graft.pipeline.Dedup
      .suffixDoublingProfile(docs, "doc_id", "text", 8)
      .collect()
    assert(prof.map(_.getAs[Long]("k")).toSeq ===
      Seq(1L, 2L, 4L, 8L, 16L, 32L, 64L, 128L, 256L))
    assert(prof.forall(_.getAs[Long]("dup_groups") === 0L))
    assert(prof.map(_.getAs[Long]("distinct_groups")).distinct.toSeq ===
      Seq(6L))
    assert(prof.forall(_.getAs[Long]("top_doc") === -1L))
  }

  test("suffixDoublingProfile mid-run convergence matches the hand " +
      "profile of an all-identical-token doc") {
    // "x x x": dup at k=1 (3 positions) and k=2 (2 positions), fully
    // distinct from k=4 on — exercises real rounds THEN the fixpoint
    val docs = Seq((7L, "x x x")).toDF("doc_id", "text")
    val prof = graft.pipeline.Dedup
      .suffixDoublingProfile(docs, "doc_id", "text", 4)
      .collect()
    assert(prof.map(r => (r.getAs[Long]("k"),
      r.getAs[Long]("dup_positions"), r.getAs[Long]("dup_groups"),
      r.getAs[Long]("distinct_groups"))).toSeq === Seq(
      (1L, 3L, 1L, 1L), (2L, 2L, 1L, 2L), (4L, 0L, 0L, 3L),
      (8L, 0L, 0L, 3L), (16L, 0L, 0L, 3L)))
  }

  // ------------------------------------------------------------------
  // q358 similarity-report operator: bounded-output semantics on a
  // hand-checkable pair frame (the DuckDB oracle pins the full chain)
  // ------------------------------------------------------------------

  test("similarityJoinReport bands, counts, and k-pass exemplars " +
      "match the hand computation") {
    val pairs = Seq(
      (1L, 2L, 1000L), (1L, 3L, 1000L), (2L, 3L, 1000L), (4L, 5L, 995L),
      (6L, 7L, 941L), (6L, 8L, 948L),
      (9L, 10L, 902L)
    ).toDF("id_a", "id_b", "jac_x1000")
    val got = graft.pipeline.Dedup
      .similarityJoinReport(pairs, 10L, 2)
      .collect()
      .map(r => (r.getAs[Long]("band"), r.getAs[Long]("n_pairs"),
        r.getAs[Long]("n_docs"), r.getAs[Long]("max_jac_x1000"),
        r.getAs[Long]("rank"), r.getAs[Long]("ex_id_a"),
        r.getAs[Long]("ex_id_b"))).toSeq
    assert(got === Seq(
      (900L, 1L, 2L, 902L, 1L, 9L, 10L),
      (940L, 2L, 3L, 948L, 1L, 6L, 7L),
      (940L, 2L, 3L, 948L, 2L, 6L, 8L),
      (990L, 1L, 2L, 995L, 1L, 4L, 5L),
      (1000L, 3L, 3L, 1000L, 1L, 1L, 2L),
      (1000L, 3L, 3L, 1000L, 2L, 1L, 3L)))
  }

  // ------------------------------------------------------------------
  // MakeScale isometry: the per-replica signed permutation must
  // preserve within-replica geometry exactly (it is orthogonal) while
  // changing direction across replicas — the property the round-10
  // "DEGENERATE replicas" artifact lacked.
  // ------------------------------------------------------------------

  test("seeded signed permutation is an isometry within a replica " +
      "and decorrelates across replicas") {
    def perm(salt: String, rep: Int, n: Int): Array[Int] =
      (0 until n).sortBy(i =>
        graft.pipeline.Sampling.hash60Jvm(s"$salt:$rep", i.toLong))
        .toArray
    def sign(rep: Int, n: Int): Array[Float] =
      (0 until n).map(i => if (graft.pipeline.Sampling
        .hash60Jvm(s"sign:$rep", i.toLong) % 2 == 0) 1f else -1f).toArray
    val dim = 64
    val rnd = new scala.util.Random(7)
    def vec() = Array.fill(dim)(rnd.nextFloat() - 0.5f)
    def apply(rep: Int, v: Array[Float]): Array[Float] = {
      val p = perm("emb", rep, dim); val s = sign(rep, dim)
      (0 until dim).map(i => v(p(i)) * s(i)).toArray
    }
    def dot(a: Array[Float], b: Array[Float]): Double =
      (0 until dim).map(i => a(i).toDouble * b(i)).sum
    val (x, y) = (vec(), vec())
    // within-replica: every dot product exact (so norms and cosines)
    for (rep <- 1 to 5)
      assert(math.abs(dot(apply(rep, x), apply(rep, y)) - dot(x, y))
        < 1e-4, s"replica $rep broke the isometry")
    // across replicas: a vector no longer matches its own transform
    val base = math.sqrt(dot(x, x))
    for (rep <- 1 to 5) {
      val c = dot(x, apply(rep, x)) / (base * base)
      assert(math.abs(c) < 0.6,
        s"replica $rep kept direction (cos=$c) — LSH buckets collapse")
    }
  }

  // ------------------------------------------------------------------
  // Jaccard threshold domain guard (ADVICE r10 #3)
  // ------------------------------------------------------------------

  test("prefixFilteredJaccardPairsFromDocs rejects thresholds outside " +
      "[0, 1000] where the exact-collapse equivalence breaks") {
    val docs = graft.pipeline.Dedup.docShingleSets(
      Seq((1L, "x"), (2L, "x")).toDF("doc_id", "text"), "doc_id", "text", 1)
    val e = intercept[IllegalArgumentException] {
      graft.pipeline.Dedup.prefixFilteredJaccardPairsFromDocs(docs, 1001L)
    }
    assert(e.getMessage.contains("thresholdX1000"))
    // the valid boundary still works
    val ok = graft.pipeline.Dedup
      .prefixFilteredJaccardPairsFromDocs(docs, 1000L).collect()
    assert(ok.length === 1 && ok(0).getAs[Long]("jac_x1000") === 1000L)
  }

  // ------------------------------------------------------------------
  // q358 — the similarity join's bounded-output report (judge task 2)
  // ------------------------------------------------------------------

  test("q358_similarity_report mirrors a JVM aggregation of the exact " +
      "pair set and ships at most bands * k rows") {
    val sf = "/root/testdata/sf0.001"
    val bandWidth = 10L; val k = 3
    // ground truth: the exact pair set the report summarizes
    val pairs = graft.pipeline.Dedup.prefixFilteredJaccardPairsFromDocs(
        graft.pipeline.Dedup.docShingleSets(
          Tables.documents(spark, sf), "doc_id", "text", 1), 900L)
      .select("id_a", "id_b", "jac_x1000")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSeq
    assert(pairs.nonEmpty, "fixture corpus produced no qualifying pairs")
    val expected = pairs
      .groupBy { case (_, _, j) => j - j % bandWidth }
      .toSeq.flatMap { case (band, ps) =>
        val nPairs = ps.length.toLong
        val nDocs = ps.flatMap(p => Seq(p._1, p._2)).distinct.length.toLong
        val maxJac = ps.map(_._3).max
        // exemplars: the k first pairs in (id_a, id_b) order — the
        // min(struct) passes pick exactly these ((id_a, id_b) is unique,
        // so the struct order degenerates to the pair order)
        ps.sortBy(p => (p._1, p._2)).take(k).zipWithIndex.map {
          case ((a, b, j), i) =>
            (band, nPairs, nDocs, maxJac, (i + 1).toLong, a, b, j)
        }
      }.sortBy(r => (r._1, r._5))
    val got = graft.queries.ScaleQueries.q358_similarity_report(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6),
        r.getLong(7))).toSeq
    assert(got === expected)
    val bands = expected.map(_._1).distinct.size
    assert(got.size <= bands * k,
      s"report is not bounded: ${got.size} rows for $bands bands, k=$k")
  }
}
