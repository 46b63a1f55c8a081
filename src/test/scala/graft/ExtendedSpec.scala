package graft

import org.apache.spark.sql.functions._

import graft.ingest.ScipIngest
import graft.pipeline.{Multimodal, Similarity, TextAnalysis}

/** Specs for the round-2 operators: WTA comparison-bit LSH, IVF ANN,
  * binary metadata, portable subword counting, SCIP symbol-parse
  * columns. */
class ExtendedSpec extends SparkSpec {
  import spark.implicits._

  test("wtaPairs is deterministic, in-bounds, and never self-pairs") {
    val p1 = Similarity.wtaPairs(16, 64)
    val p2 = Similarity.wtaPairs(16, 64)
    assert(p1 == p2)
    assert(p1.size == 16)
    p1.foreach { case (a, b) =>
      assert(a >= 0 && a < 64 && b >= 0 && b < 64 && a != b)
    }
  }

  test("wtaSignature sets bit p iff v[a]>v[b]") {
    val pairs = Seq((0, 1), (1, 0), (2, 3))
    val df = Seq((1L, Seq(5.0f, 1.0f, 2.0f, 2.0f))).toDF("id", "v")
    val sig = df.select(
      Similarity.wtaSignature(col("v"), pairs).as("s")).head.getLong(0)
    // bit0: v[1]>v[2] (5>1) set; bit1: v[2]>v[1] clear; bit2: 2>2 clear
    assert(sig == 1L)
  }

  test("wtaTopK returns at most k ranked neighbors per query") {
    val vecs = (0L until 40L).map { i =>
      (i, Array.tabulate(8)(d => ((i % 4) + d).toFloat / 8f).toSeq)
    }
    val df = vecs.toDF("vec_id", "embedding")
    val out = Similarity.wtaTopK(df, "vec_id", "embedding", k = 2,
      planes = 8, bandBits = 4, dims = 8).collect()
    val byQuery = out.groupBy(_.getLong(0))
    byQuery.values.foreach { rows =>
      assert(rows.length <= 2)
      assert(rows.map(_.getInt(3)).sorted.sameElements(
        1 to rows.length))
      rows.foreach(r => assert(r.getLong(1) != r.getLong(0)))
    }
  }

  test("ivfTopK excludes self and respects k") {
    val vecs = (0L until 100L).map { i =>
      (i, Array.tabulate(8)(d =>
        math.sin(i * 0.7 + d).toFloat).toSeq)
    }
    val df = vecs.toDF("vec_id", "embedding")
    val out = Similarity.ivfTopK(df, "vec_id", "embedding", k = 3,
      centroidMod = 10, queryMod = 20, nprobe = 2).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getLong(0) % 20 == 0)         // query set respected
      assert(r.getLong(1) != r.getLong(0))   // never self
      assert(r.getInt(3) >= 1 && r.getInt(3) <= 3)
    }
  }

  test("KMV estimate lands within 20% of the exact distinct count") {
    // deterministic synthetic: 5000 values, known distinct count 1200
    val rnd = new scala.util.Random(7)
    val vals = (1 to 5000).map(_ => rnd.nextInt(1200).toLong)
    val exact = vals.distinct.size
    val df = vals.toDF("v")
    // q47's sketch shape (60-bit md5 hashes, k smallest, (k-1)/u_k)
    // with k=256 → std error ≈ 1/√(k−2) ≈ 6%; assert 3σ ≈ 20%
    val k = 256
    val hashed = df.distinct().select(
      conv(substring(md5(col("v").cast("string")), 1, 15), 16, 10)
        .cast("long").as("h"))
    val topk = hashed.orderBy(col("h")).limit(k).collect().map(_.getLong(0))
    val est = (k - 1).toDouble * 1152921504606846976.0 / topk.max
    assert(math.abs(est - exact) / exact < 0.20,
      s"KMV estimate $est vs exact $exact")
  }

  test("WTA ANN recall: top-1 found for most queries on clustered data") {
    // 4 tight clusters of 25 vectors each — near neighbors share WTA
    // comparison bits with high probability
    val vecs = (0L until 100L).map { i =>
      val c = (i % 4).toInt
      (i, Array.tabulate(16)(d =>
        (math.sin(c * 2.1 + d) + 0.01 * math.sin(i * 13.7 + d))
          .toFloat).toSeq)
    }
    val df = vecs.toDF("vec_id", "embedding")
    val exact = Similarity.bruteForceTopK(df, df, "vec_id", "embedding",
        k = 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val approx = Similarity.wtaTopK(df, "vec_id", "embedding", k = 1,
        planes = 16, bandBits = 8, dims = 16).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // recall@1: approximate top-1 is in the same cluster as exact top-1
    val hits = exact.count { case (q, n) =>
      approx.get(q).exists(a => a % 4 == n % 4)
    }
    assert(hits >= (exact.size * 0.9).toInt,
      s"cluster recall $hits/${exact.size}")
  }

  test("binaryMeta matches MessageDigest and frame arithmetic") {
    val df = Seq((1L, "hello"), (2L, ""), (3L, "x" * 600))
      .toDF("doc_id", "text")
    val out = Multimodal.binaryMeta(df, "doc_id", "text", frameSize = 256)
      .collect().map(m => m.media_id -> m).toMap
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val helloHex = md.digest("hello".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(out(1L).n_bytes == 5 && out(1L).sha_hex == helloHex)
    assert(out(1L).n_frames == 1)
    assert(out(2L).n_bytes == 0 && out(2L).n_frames == 0)
    assert(out(3L).n_bytes == 600 && out(3L).n_frames == 3)
  }

  test("subwordCountPortable splits camelCase, runs, digits") {
    val df = Seq("parseHTTPResponse2 now", "", "a1b2").toDF("t")
    val counts = df.select(
      TextAnalysis.subwordCountPortable(col("t")).as("c"))
      .collect().map(_.getInt(0)).toSeq
    // parse|H|T|T|P|Response|2|now = 8; empty = 0; a|1|b|2 = 4
    assert(counts == Seq(8, 0, 4))
  }

  test("SCIP parse columns: 5 fields, kind, display name") {
    val df = Seq(
      "scip-go gomod example.com/mod v1.0 pkg/Client#",
      "scip-go gomod example.com/mod v1.0 pkg/Client#run().",
      "scip-go gomod example.com/mod v1.0 pkg/ns/",
      "scip-go gomod example.com/mod v1.0 pkg/x.",
      "scip-go gomod example.com/mod v1.0 weird").toDF("symbol")
    val out = df.select(
        ScipIngest.parseSymbolCol(col("symbol")).as("p"))
      .select(col("p.scheme"), col("p.descriptor"),
        ScipIngest.kindCol(col("p.descriptor")).as("kind"),
        ScipIngest.displayNameCol(col("p.descriptor")).as("dn"))
      .collect()
    assert(out.forall(_.getString(0) == "scip-go"))
    assert(out.map(_.getString(2)).toSeq ==
      Seq("class", "method", "namespace", "term", "unknown"))
    assert(out.map(_.getString(3)).toSeq ==
      Seq("Client", "Client#run", "", "x", "weird"))
  }

  test("graft_* SQL functions match their DataFrame columns exactly") {
    graft.functions.GraftExtensions.registerAll(spark)
    val r = spark.sql(
      """SELECT graft_fingerprint('  The   QUICK fox ') AS fp,
        |  graft_tokens(' a  b ') AS tk,
        |  graft_token_count(' a  b  c ') AS tc,
        |  graft_subwords('camelCase42') AS sw,
        |  graft_punct_ratio('ab,!') AS pr,
        |  graft_cosine(array(1.0d, 0.0d), array(0.0d, 1.0d)) AS cos,
        |  graft_int_dot(array(2L, 3L), array(4L, 5L)) AS dot
        |""".stripMargin).collect()(0)
    val df = Seq("  The   QUICK fox ").toDF("t")
      .select(TextAnalysis.fingerprint($"t")).collect()(0).getString(0)
    assert(r.getString(0) === df)
    assert(r.getSeq[String](1) === Seq("a", "b"))
    assert(r.getInt(2) === 3)
    assert(r.getInt(3) === 3)   // camel + Case + 42
    assert(r.getDouble(4) === 0.5)
    assert(r.getDouble(5) === 0.0)
    assert(r.getLong(6) === 23L)
    // arity errors surface as analysis-time failures, not wrong answers
    intercept[Exception] { spark.sql("SELECT graft_fingerprint('a','b')") }
  }

  test("q112 LSH recall is a valid ppm fraction with hits ≤ truth") {
    val r = graft.queries.PipelineQueries
      .q112_lsh_recall(spark, "/root/testdata/sf0.001").collect()
    assert(r.length === 1)
    val (nTrue, nHit, ppm) =
      (r(0).getLong(0), r(0).getLong(1), r(0).getLong(2))
    assert(nTrue > 0 && nHit <= nTrue)
    assert(ppm === nHit * 1000000L / nTrue)
    // 4 bands × 2 rows at J ≥ 0.8 has pair-catch probability ≥ 0.97
    // analytically (1-(1-s²)⁴ at s=0.8); corpus recall stays well above
    // one half on any non-adversarial data
    assert(ppm > 500000L)
  }

  test("q113 profiler matches directly-computed column stats") {
    val out = graft.queries.Relational
      .q113_col_profile(spark, "/root/testdata/sf0.001").collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3), r.getString(4))))
      .toMap
    val orders = Tables.orders(spark, "/root/testdata/sf0.001")
    val expected = orders.agg(
      countDistinct(col("o_orderstatus")),
      min(col("o_orderkey")).cast("string"),
      max(col("o_orderkey")).cast("string")).collect()(0)
    assert(out("o_orderstatus")._1 === 0L)
    assert(out("o_orderstatus")._2 === expected.getLong(0))
    assert(out("o_orderkey")._3 === expected.getString(1))
    assert(out("o_orderkey")._4 === expected.getString(2))
    assert(out.keySet === Set("o_custkey", "o_orderkey",
      "o_orderpriority", "o_orderstatus"))
  }

  test("q114 approximate quantiles stay within tolerance, ordered") {
    val out = graft.queries.Relational
      .q114_approx_quantiles(spark, "/root/testdata/sf0.001").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getBoolean(2)))
    assert(out.map(_._1).toSeq === Seq("p25", "p50", "p75"))
    assert(out.forall(_._3), "a quantile sketch left its error budget")
    assert(out(0)._2 <= out(1)._2 && out(1)._2 <= out(2)._2)
    // disc quantile must be an actual data element
    val prices = Tables.lineitem(spark, "/root/testdata/sf0.001")
      .select(col("l_extendedprice")).distinct()
      .collect().map(_.getDouble(0)).toSet
    assert(out.forall(o => prices.contains(o._2)))
  }

  test("q193 attribution: colliding click timestamps stay single-" +
      "headed and credit sums to the purchase value exactly") {
    val h = 3600000000000L
    // user 1: purchase of 10.000001 at t=2h+30min with THREE clicks in
    // window, two of them at the identical timestamp (the tie) — last
    // touch must pick exactly one (max event_id), and linear credit
    // must hand 3333333x2 + 3333335 (dust) = 10000001 micros total
    val tp = 2 * h + 1800000000000L
    val rows = Seq(
      (100L, tp, 1L, "purchase", 10.000001),
      (101L, tp - 100L, 1L, "click", 0.0),
      (102L, tp - 50L, 1L, "click", 0.0),
      (103L, tp - 50L, 1L, "click", 0.0), // ts tie with 102
      (104L, tp - 2 * h, 1L, "click", 0.0)) // outside the 1h window
    val dir = java.nio.file.Files
      .createTempDirectory("graft-attr").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = graft.queries.EventQueries
      .q193_touch_attribution(spark, dir).collect()
    assert(out.length === 1) // all three credited clicks share an hour
    val r = out.head
    assert(r.getLong(1) === 3L)             // n_touches
    assert(r.getLong(2) === 1L)             // n_purchases
    assert(r.getLong(3) === 10000001L)      // last-touch: ONE head
    assert(r.getLong(4) === 10000001L)      // linear sums exactly
  }

  test("multiprobe candidates are a superset of single-probe candidates") {
    // pseudo-random but deterministic: signatures spread across many
    // buckets, so single-probe misses pairs that differ in exactly one
    // comparison bit — the case multiprobe exists to recover
    val vecs = (0L until 60L).map { i =>
      (i, Array.tabulate(8)(d => ((i * 7 + d * 13) % 29).toFloat).toSeq)
    }
    val df = vecs.toDF("vec_id", "embedding")
    def pairs(cand: org.apache.spark.sql.DataFrame) = cand.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val single = pairs(Similarity.wtaCandidates(
      df, "vec_id", "embedding", 8, 4, 8))
    val multi = pairs(Similarity.wtaMultiprobeCandidates(
      df, "vec_id", "embedding", 8, 4, 8))
    assert(single.subsetOf(multi),
      s"missing: ${single -- multi}")
    // Hamming-1 probing must actually widen coverage on this data
    assert(multi.size > single.size)
    multi.foreach { case (a, b) => assert(a < b) }
  }

  test("sizedBandBits keeps bucket occupancy under target at any n") {
    import Similarity.sizedBandBits
    // occupancy bound: n / 2^bits < target for every n in the clamp's
    // working range — the invariant that keeps candidate volume per
    // vector flat as the corpus grows (round-7 q240 defect)
    for (n <- Seq(100L, 1000L, 20000L, 1000000L, 100000000L)) {
      val b = sizedBandBits(n, targetOccupancy = 16)
      if (b < 15) // below the clamp ceiling the bound must hold
        assert(n.toDouble / (1L << b) < 16.0, s"n=$n bits=$b")
      if (b > 4) // and the width is the SMALLEST such (no overshoot)
        assert(n.toDouble / (1L << (b - 1)) >= 16.0, s"n=$n bits=$b")
    }
    // monotone in n, clamped to [4, 15]
    assert(sizedBandBits(1) === 4)
    assert(sizedBandBits(Long.MaxValue) === 15)
    val widths = Seq(10L, 100L, 10000L, 10000000L).map(sizedBandBits(_))
    assert(widths === widths.sorted)
  }

  test("q253 equals the pinned multiprobe run at the derived width") {
    val sf = "/root/testdata/sf0.001"
    val emb = Tables.embeddings(spark, sf)
    val bb = Similarity.sizedBandBits(emb.count())
    val pinned = Similarity.wtaMultiprobeTopK(emb, "vec_id", "embedding",
        k = 3, planes = 2 * bb, bandBits = bb,
        dims = graft.queries.ExtendedQueries.EmbDim)
      .withColumnRenamed("rank", "rk")
      .orderBy(col("query_id"), col("rk")).collect().toSeq
    val sized = graft.queries.PipelineQueries
      .q253_sized_multiprobe(spark, sf).collect().toSeq
    assert(sized === pinned)
  }

  test("q240 multiprobe never ranks a worse neighbor set than q29") {
    val sf = "/root/testdata/sf0.001"
    def top1Sim(df: org.apache.spark.sql.DataFrame): Map[Long, Double] =
      df.filter(col("rk") === 1).collect()
        .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val s29 = top1Sim(
      graft.queries.PipelineQueries.q29_ann_lsh(spark, sf))
    val s240 = top1Sim(
      graft.queries.PipelineQueries.q240_multiprobe_lsh(spark, sf))
    // every q29 query still answered, and its best-sim never degrades
    s29.foreach { case (q, sim) =>
      assert(s240.contains(q), s"query $q lost")
      assert(s240(q) >= sim - 1e-9, s"query $q: ${s240(q)} < $sim")
    }
    assert(s240.size >= s29.size)
  }
}
