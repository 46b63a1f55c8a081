package graft

import org.apache.spark.sql.functions._

import graft.pipeline.Dedup
import graft.queries.ScaleQueries

/** Property tests for the round-8 scale-algorithm tier (ScaleQueries):
  * the oracle gate pins exact outputs; these pin the ALGORITHMIC claims
  * (losslessness, independence/maximality, combinatorial identities)
  * that the output equality alone would not distinguish from luck.
  */
class ScaleAlgoSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  // ----------------------------------------------------------------
  // q269 — prefix filter is LOSSLESS and actually prunes
  // ----------------------------------------------------------------

  test("prefix-filtered Jaccard join equals the naive all-pairs result") {
    val docs = Tables.documents(spark, sf)
    val sh = Dedup.shingleRows(docs, "doc_id", "text", 1)
    val fast = Dedup.prefixFilteredJaccardPairsFromDocs(
        Dedup.docShingleSets(docs, "doc_id", "text", 1), 900L)
      .select("id_a", "id_b", "intersection", "size_a", "size_b")
    val naive = Dedup.jaccardPairsFromRows(sh, 0.9, Long.MaxValue)
      .select("id_a", "id_b", "intersection", "size_a", "size_b")
    assert(fast.exceptAll(naive).isEmpty && naive.exceptAll(fast).isEmpty)
  }

  test("prefix filter generates strictly fewer token meetings than the " +
      "full inverted-list join") {
    val sh = Dedup.shingleRows(Tables.documents(spark, sf),
        "doc_id", "text", 1)
      .localCheckpoint(true)
    def meetings(rows: org.apache.spark.sql.DataFrame): Long =
      rows.as("a").join(rows.as("b"),
          col("a.shingle") === col("b.shingle") &&
            col("a.doc") < col("b.doc"))
        .count()
    val sizes = sh.groupBy(col("doc")).agg(count(lit(1)).as("sz"))
    val dfreq = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    val pref = sh.join(dfreq, Seq("shingle"))
      .withColumn("rk", row_number().over(org.apache.spark.sql.expressions
        .Window.partitionBy(col("doc")).orderBy(col("df"), col("shingle"))))
      .join(sizes, Seq("doc"))
      .filter(col("rk") <= col("sz") - expr("(900 * sz + 999) div 1000") + 1)
      .select(col("doc"), col("shingle"))
    val full = meetings(sh)
    val pruned = meetings(pref)
    assert(pruned < full / 2,
      s"prefix meetings $pruned not < half of full $full")
  }

  // ----------------------------------------------------------------
  // q271 — MIS is independent and maximal
  // ----------------------------------------------------------------

  test("Luby MIS is an independent set and is maximal") {
    val mis = ScaleQueries.q271_luby_mis(spark, sf)
      .select(col("node")).localCheckpoint(true)
    val part = Tables.part(spark, sf)
    val fwd = Seq(7, 17, 23).map { s =>
      part.filter(col("p_partkey") >= s)
        .select(col("p_partkey").as("u"), (col("p_partkey") - s).as("w"))
    }.reduce(_ unionAll _)
    val sym = fwd.unionAll(fwd.select(col("w").as("u"), col("u").as("w")))
      .localCheckpoint(true)
    // independence: no edge with both endpoints in the MIS
    val internal = sym
      .join(mis.select(col("node").as("u")), Seq("u"))
      .join(mis.select(col("node").as("w")), Seq("w"))
      .count()
    assert(internal === 0L, s"$internal edges inside the MIS")
    // maximality: every non-member has a member neighbour
    val nodes = part.select(col("p_partkey").as("node"))
    val nonMembers = nodes.join(mis, Seq("node"), "left_anti")
    val covered = sym.join(mis.select(col("node").as("u")), Seq("u"))
      .select(col("w").as("node")).distinct()
    val uncovered = nonMembers.join(covered, Seq("node"), "left_anti")
      .count()
    assert(uncovered === 0L, s"$uncovered non-members with no MIS neighbour")
  }

  test("Luby MIS equals the sequential greedy MIS in priority order") {
    val rows = Tables.part(spark, sf)
      .select(col("p_partkey").cast("long")).collect().map(_.getLong(0))
    val h = rows.map(v => v -> ((v * 2654435761L) % 4294967296L)).toMap
    val adj = rows.map { v =>
      v -> Seq(7, 17, 23).flatMap(s => Seq(v - s, v + s))
        .filter(h.contains)
    }.toMap
    val mis = scala.collection.mutable.Set.empty[Long]
    val killed = scala.collection.mutable.Set.empty[Long]
    rows.sortBy(h).foreach { v =>
      if (!killed(v)) { mis += v; adj(v).foreach(killed += _) }
    }
    val got = ScaleQueries.q271_luby_mis(spark, sf)
      .select(col("node")).collect().map(_.getLong(0)).toSet
    assert(got === mis.toSet)
  }

  // ----------------------------------------------------------------
  // q270 — subsequence supports equal brute-force enumeration
  // ----------------------------------------------------------------

  test("sequential-pattern supports equal brute-force subsequence " +
      "matching over the first-8 prefixes") {
    val seqs = Tables.events(spark, sf)
      .select(col("user_id"), col("event_type"), col("ts"),
        col("event_id"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .groupBy(_._1)
      .map { case (u, rows) =>
        u -> rows.sortBy(r => (r._3, r._4)).take(8).map(_._2).toSeq
      }
    def isSubseq(pat: Seq[String], s: Seq[String]): Boolean = {
      var i = 0
      s.foreach(t => if (i < pat.size && t == pat(i)) i += 1)
      i == pat.size
    }
    val types = seqs.values.flatten.toSet.toSeq.sorted
    val nUsers = seqs.size
    val pats2 = for (a <- types; b <- types) yield Seq(a, b)
    val pats3 = for (a <- types; b <- types; c <- types) yield Seq(a, b, c)
    val naive = (pats2 ++ pats3).map { p =>
      (p.mkString(">"), p.size,
        seqs.values.count(s => isSubseq(p, s)).toLong)
    }.filter { case (_, _, sup) => sup * 4 >= nUsers }.toSet
    val got = graft.queries.ScaleQueries.q270_seq_patterns(spark, sf)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
      .toSet
    assert(got === naive)
  }

  // ----------------------------------------------------------------
  // q273 — k-truss fixpoint equals sequential peeling, and converged
  // ----------------------------------------------------------------

  test("k-truss output equals sequential peeling to fixpoint and " +
      "reports convergence") {
    val out = graft.queries.ScaleQueries.q273_ktruss(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getInt(3)))
    assert(out.forall(_._4 == 1), "truss did not converge in the cap")
    // sequential reference peeling on the same fixture graph
    val n = Tables.part(spark, sf)
      .agg(max(col("p_partkey"))).head().getLong(0)
    var edges = (for {
      a <- 0L to n; s <- 1 to 3; if a + s <= n
      h = ((a * 31 + s * 131) * 2654435761L) % 4294967296L
      if h % 10 < 7
    } yield (a, a + s)).toSet
    var changed = true
    while (changed) {
      val adj = edges.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val keep = edges.filter { case (a, b) =>
        adj(a).intersect(adj(b)).size >= 2 }
      changed = keep != edges
      edges = keep
    }
    val adjF = edges.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val expected = edges.map { case (a, b) =>
      (a, b, adjF(a).intersect(adjF(b)).size.toLong, 1) }
    assert(out.toSet === expected)
  }

  // ----------------------------------------------------------------
  // q274 — Hilbert transform is a continuous bijection on the grid
  // ----------------------------------------------------------------

  test("Hilbert xy2d is a bijection and consecutive indexes are " +
      "grid-adjacent") {
    import spark.implicits._
    val n = 64
    val grid = (for (x <- 0 until n; y <- 0 until n) yield (x, y))
      .toDF("x", "y")
    val d2xy = graft.ops.Hilbert.withIndex(grid, n)
      .select(col("d"), col("x"), col("y"))
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2)))
      .toMap
    assert(d2xy.size === n * n)
    assert(d2xy.keys.min === 0L && d2xy.keys.max === (n * n - 1).toLong)
    (0L until (n * n - 1).toLong).foreach { d =>
      val (x1, y1) = d2xy(d); val (x2, y2) = d2xy(d + 1)
      assert(math.abs(x1 - x2) + math.abs(y1 - y2) === 1,
        s"jump between d=$d ($x1,$y1) and d+1 ($x2,$y2)")
    }
  }

  // ----------------------------------------------------------------
  // q275 — Fellegi–Sunter weights carry positive agreement evidence
  // ----------------------------------------------------------------

  test("FS agreement weights exceed disagreement weights and true " +
      "matches win the ranking") {
    val rows = graft.queries.ScaleQueries.q275_fellegi_sunter(spark, sf)
      .collect()
    // full agreement must outrank every other observed pattern
    val byPattern = rows.groupBy(_.getString(2))
      .view.mapValues(_.map(r => BigInt(r.getString(3))).max).toMap
    assert(byPattern.contains("1111"))
    byPattern.foreach { case (p, s) =>
      if (p != "1111")
        assert(byPattern("1111") > s, s"pattern $p >= 1111")
    }
    // the top block of the ranking is dominated by true matches
    val top = rows.take(10)
    assert(top.count(_.getInt(4) == 1) >= 8,
      "fewer than 8 of top-10 scored pairs are true matches")
  }

  // ----------------------------------------------------------------
  // q272 — butterfly identity: wedge-side total equals naive count
  // ----------------------------------------------------------------

  test("butterfly total equals the naive quadruple count") {
    val e = Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_custkey").as("c"))
      .join(Tables.lineitem(spark, sf)
        .select(col("l_orderkey").as("o_orderkey"),
          col("l_partkey").as("p")), Seq("o_orderkey"))
      .select(col("c"), col("p")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val byPart = e.groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
    val parts = byPart.keys.toSeq.sorted
    var naive = 0L
    for (i <- parts.indices; j <- (i + 1) until parts.size) {
      val k = byPart(parts(i)).intersect(byPart(parts(j))).size.toLong
      naive += k * (k - 1) / 2
    }
    val got = ScaleQueries.q272_butterflies(spark, sf)
      .select(col("total_bf")).head().getLong(0)
    assert(got === naive)
  }
}
