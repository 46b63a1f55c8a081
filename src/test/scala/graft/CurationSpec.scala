package graft

import org.apache.spark.sql.functions._

import graft.pipeline.{Clusters, Curation, Multimodal, Sampling, TextAnalysis}

class CurationSpec extends SparkSpec {
  import spark.implicits._

  test("stratifiedSample is deterministic, stratum-rated, and re-run stable") {
    val df = (0L until 2000L).map(i =>
      (i, if (i % 4 == 0) "en" else "other")).toDF("id", "stratum")
    val s1 = Sampling.stratifiedSample(df, "id", "stratum",
      Map("en" -> 250000L), 500000L).collect().map(_.getLong(0)).toSet
    val s2 = Sampling.stratifiedSample(df, "id", "stratum",
      Map("en" -> 250000L), 500000L).collect().map(_.getLong(0)).toSet
    assert(s1 === s2) // pure function of the hash — no RNG drift
    val enRate = s1.count(_ % 4 == 0) / 500.0
    val otherRate = s1.count(_ % 4 != 0) / 1500.0
    assert(enRate > 0.15 && enRate < 0.35)
    assert(otherRate > 0.42 && otherRate < 0.58)
  }

  test("splitAssign covers ~80/10/10 and is independent of the sample salt") {
    val df = spark.range(2000).toDF("id")
    val out = Sampling.splitAssign(df, "id")
      .groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out.keySet === Set("train", "val", "test"))
    assert(out("train") > 1500 && out("train") < 1700)
    assert(out("val") > 130 && out("val") < 280)
    // decorrelated salts: the train set's sample-hash buckets are not
    // skewed (a shared salt would nest one decision inside the other)
    val joint = Sampling.splitAssign(
        Sampling.stratifiedSample(df.withColumn("s", lit("x")), "id", "s",
          Map.empty, 500000L), "id")
      .groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(joint("train").toDouble / out("train") > 0.4)
    assert(joint("train").toDouble / out("train") < 0.6)
  }

  test("splitByKey keeps duplicate content on one side (leak-free)") {
    import spark.implicits._
    // 300 distinct contents, each duplicated 1-3×, ids interleaved so
    // an id-hash split WOULD scatter copies
    val docs = (0L until 300L).flatMap { c =>
      (0 to (c % 3).toInt).map(k => (c * 10 + k, s"content number $c"))
    }.toDF("doc_id", "text")
    val out = Sampling.splitByKey(docs, md5(col("text")))
    // no content hash appears in more than one split
    val straddlers = out.groupBy(md5(col("text")).as("ck"))
      .agg(countDistinct(col("split")).as("ns"))
      .filter(col("ns") > 1).count()
    assert(straddlers === 0L)
    // all three splits are populated and proportions are sane
    val m = out.groupBy(col("split")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m.keySet === Set("train", "val", "test"))
    assert(m("train") > m("val") && m("train") > m("test"))
    // the id-hash split DOES scatter at least one duplicate group —
    // the control that makes the zero above meaningful
    val controlStraddlers = Sampling.splitAssign(docs, "doc_id")
      .groupBy(md5(col("text")).as("ck"))
      .agg(countDistinct(col("split")).as("ns"))
      .filter(col("ns") > 1).count()
    assert(controlStraddlers > 0L)
  }

  test("shardManifest checksums are invariant under row order/partitioning") {
    import spark.implicits._
    val docs = (1L to 97L).map(i => (i, s"document body number $i"))
    val a = Curation.shardManifest(docs.toDF("doc_id", "text"),
      "doc_id", "text", numShards = 4).collect()
    val b = Curation.shardManifest(
      scala.util.Random.shuffle(docs).toDF("doc_id", "text")
        .repartition(7), "doc_id", "text", numShards = 4).collect()
    assert(a.map(_.toSeq).toSeq === b.map(_.toSeq).toSeq)
    assert(a.map(_.getLong(1)).sum === 97L)       // every doc in a shard
    assert(a.map(_.getLong(0)).toSet.subsetOf((0L to 3L).toSet))
    // checksums differ if any one document's content changes
    val c = Curation.shardManifest(
      docs.updated(10, (11L, "tampered content")).toDF("doc_id", "text"),
      "doc_id", "text", numShards = 4).collect()
    assert(c.map(_.toSeq).toSeq !== a.map(_.toSeq).toSeq)
  }

  test("connectedComponents: GraphX and DataFrame engines agree") {
    // two chains, one triangle, one isolated pair
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (11L, 12L),
      (12L, 10L), (20L, 21L), (5L, 4L)).toDF("id_a", "id_b")
    val gx = Clusters.connectedComponentsGraphX(spark, pairs, "id_a",
        "id_b").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val star = Clusters.connectedComponentsStar(pairs, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gx === star)
    assert(gx(3L) === 1L)   // chain collapses to min id
    assert(gx(12L) === 10L) // cycle safe
    assert(gx(4L) === 4L)   // reversed pair still labels by min
    assert(gx(21L) === 20L)
    val sizes = Clusters.clusterSizes(
      Clusters.connectedComponentsGraphX(spark, pairs, "id_a", "id_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sizes === Map(1L -> 3L, 10L -> 3L, 20L -> 2L, 4L -> 2L))
  }

  test("exactQuotaSample takes exactly k per stratum, deterministically") {
    val df = (0L until 500L).map(i => (i, s"s${i % 5}"))
      .toDF("id", "stratum")
    val s1 = Sampling.exactQuotaSample(df, "id", "stratum", 7)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(s1.groupBy(_._2).view.mapValues(_.length).toMap ===
      (0 until 5).map(i => s"s$i" -> 7).toMap)
    val s2 = Sampling.exactQuotaSample(df, "id", "stratum", 7)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(s1.toSet === s2.toSet)
    // quota above stratum size → whole stratum, no error
    val all = Sampling.exactQuotaSample(df.filter($"id" < 3), "id",
      "stratum", 10).count()
    assert(all === 3L)
  }

  test("star CC agrees with GraphX and beats min-label on a long chain") {
    // mixed shapes: chains, a triangle, a reversed pair
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (11L, 12L),
      (12L, 10L), (20L, 21L), (5L, 4L)).toDF("id_a", "id_b")
    val star = Clusters.connectedComponentsStar(pairs, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val gx = Clusters.connectedComponentsGraphX(spark, pairs, "id_a",
        "id_b").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(star === gx)
    // a 200-node chain: min-label needs ~200 rounds, star converges
    // within its default 30 — the whole point of the algorithm
    val chain = (1L to 199L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val labels = Clusters.connectedComponentsStar(chain, "id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(labels.map(_._2).toSet === Set(1L))
    assert(labels.map(_._1).toSet === (1L to 200L).toSet)
    // random graph cross-check
    val rnd = new scala.util.Random(13)
    val rp = (1 to 150).map(_ =>
      (rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
      .filter(p => p._1 != p._2).toDF("id_a", "id_b")
    val s2 = Clusters.connectedComponentsStar(rp, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val g2 = Clusters.connectedComponentsGraphX(spark, rp, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(s2 === g2)
  }

  test("connectedComponentsStar refuses an unconverged labeling") {
    // a 12-node chain: the first star round rewires edges, so one
    // round cannot reach the fixpoint
    val chain = (1L to 11L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    intercept[IllegalStateException] {
      Clusters.connectedComponentsStar(chain, "id_a", "id_b", maxIter = 1)
        .collect()
    }
    val ok = Clusters.connectedComponentsStar(chain, "id_a", "id_b")
      .collect().map(_.getLong(1)).toSet
    assert(ok === Set(1L))
  }

  test("connectedComponents merges chained near-dup pairs transitively") {
    // A~B, B~C but never A~C: pairwise keep-one would keep {A, C}
    val pairs = Seq((100L, 200L), (200L, 300L)).toDF("id_a", "id_b")
    val labels = Clusters.connectedComponentsGraphX(spark, pairs,
      "id_a", "id_b").collect().map(_.getLong(1)).toSet
    assert(labels === Set(100L)) // one cluster, one keeper
  }

  test("wordChunks reassembles to the token stream, last chunk ragged") {
    val df = Seq((1L, (1 to 95).map(i => s"w$i").mkString(" ")),
      (2L, "a b"), (3L, "   ")).toDF("id", "text")
    val out = TextAnalysis.wordChunks(df, "id", "text", 40)
      .orderBy("doc_id", "chunk_idx").collect()
    val doc1 = out.filter(_.getLong(0) == 1L)
    assert(doc1.map(_.getLong(1)).toSeq === Seq(0L, 1L, 2L))
    assert(doc1.map(_.getLong(2)).toSeq === Seq(40L, 40L, 15L))
    assert(doc1.map(_.getString(3)).mkString(" ") ===
      (1 to 95).map(i => s"w$i").mkString(" "))
    assert(out.filter(_.getLong(0) == 2L).head.getString(3) === "a b")
    assert(!out.exists(_.getLong(0) == 3L)) // empty doc → no chunks
  }

  test("curate: filters, quality-keeper dedup, and splits compose") {
    val docs = Seq(
      // dup group: same 10-token prefix, second has higher quality
      (1L, ("the and of to is that with " * 12).trim, 300L),
      (2L, ("the and of to is that with " * 30).trim, 500L),
      // passes alone
      (3L, ("a good long document " + "the and of to is with that " * 12)
        .trim, 400L),
      // fails: short
      (4L, "the and of", 10L),
      // fails: no recognizable language
      (5L, "zzz qqq xxx " * 30, 360L),
      // empty
      (6L, "", 0L)).toDF("doc_id", "text", "n_chars")
    val out = graft.pipeline.Curation.curate(docs, "doc_id", "text",
      "n_chars")
    val rows = out.collect()
    val ids = rows.map(_.getAs[Long]("doc_id")).toSet
    assert(ids === Set(2L, 3L)) // keeper 2 beats 1 on quality
    assert(rows.forall(r =>
      Set("train", "val", "test")(r.getAs[String]("split"))))
    // reproducible: second run identical
    val again = graft.pipeline.Curation.curate(docs, "doc_id", "text",
      "n_chars").collect().map(r =>
      (r.getAs[Long]("doc_id"), r.getAs[String]("split"))).toSet
    assert(again === rows.map(r =>
      (r.getAs[Long]("doc_id"), r.getAs[String]("split"))).toSet)
  }

  test("curate keeper falls to a filter-passing member of a dup group") {
    // best-quality member of the group FAILS the length filter; the
    // passing member must still be kept (no shadowing)
    val good = ("the and of to is that with " * 12).trim // ~320 chars
    val docs = Seq(
      (1L, good, 300L),
      (2L, good.take(80), 80L) // same prefix, shorter: fails minChars
    ).toDF("doc_id", "text", "n_chars")
    val ids = graft.pipeline.Curation.curate(docs, "doc_id", "text",
      "n_chars").collect().map(_.getAs[Long]("doc_id")).toSet
    assert(ids === Set(1L))
  }

  test("frameHex frames the payload byte-exactly") {
    val payload = Array.tabulate[Byte](600)(i => (i % 251).toByte)
    val df = Seq((7L, payload), (8L, Array.emptyByteArray))
      .toDF("id", "bin")
    val out = Multimodal.frameHex(df, "id", "bin", 256, 4)
      .collect().sortBy(f => (f.media_id, f.frame_index))
    assert(out.map(f => (f.media_id, f.frame_index, f.frame_bytes)).toSeq
      === Seq((7L, 0, 256), (7L, 1, 256), (7L, 2, 88)))
    assert(out.head.head_hex ===
      payload.take(4).map("%02X".format(_)).mkString)
    assert(out(2).head_hex ===
      payload.slice(512, 516).map("%02X".format(_)).mkString)
  }

  test("q181 phrase retrieval counts OVERLAPPING occurrences") {
    // "x x x y": bigrams (x,x)x2 (x,y)x1; "x x z": (x,x)x1 (x,z)x1 —
    // top phrase is (x,x) and doc 1 must report BOTH overlapping hits
    val dir = java.nio.file.Files
      .createTempDirectory("graft-phrase").toString
    Seq((1L, "x x x y"), (2L, "x x z"))
      .toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val got = graft.queries.CurationQueries
      .q181_phrase_retrieval(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 2L, 2L -> 1L))
  }

  test("q238 audio features match the synthesis closed form") {
    val ids = Tables.documents(spark, "/root/testdata/sf0.001")
      .selectExpr("cast(doc_id as long)").collect().map(_.getLong(0))
    val want = ids.sorted.map { id =>
      val n = (64 + id % 64).toInt
      val v = Array.tabulate(n)(i => (id * 31 + i * 7) % 65536 - 32768)
      val frames = v.grouped(16).map(_.map(x => x * x).sum).toSeq
      val zc = v.zip(v.tail).count { case (a, b) => a * b < 0 }.toLong
      (id, n.toLong, ((n + 15) / 16).toLong, frames.sum, frames.max, zc)
    }
    val got = graft.queries.CurationQueries
      .q238_audio_features(spark, "/root/testdata/sf0.001").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(got.toSeq === want.toSeq)
  }

  test("q250 curation v2 matches a naive filter->dedup->mixture mirror") {
    val sf = "/root/testdata/sf0.001"
    def score(text: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      text.trim.split("\\s+").map { tok =>
        val hex = md.digest(s"feat:$tok".getBytes("UTF-8"))
          .map("%02x".format(_)).mkString.take(15)
        val slot = java.lang.Long.parseLong(hex, 16) % 1024L
        (slot * 2654435761L) % 2001L - 1000L
      }.sum
    }
    def fp(text: String): String = {
      val norm = text.toLowerCase.replaceAll("\\s+", " ")
        .dropWhile(_ == ' ').reverse.dropWhile(_ == ' ').reverse
      java.security.MessageDigest.getInstance("SHA-256")
        .digest(norm.getBytes("UTF-8")).map("%02x".format(_)).mkString
    }
    val docs = Tables.documents(spark, sf)
      .selectExpr("doc_id", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .filter(_._3.trim.nonEmpty)
    val kept = docs.filter(d => score(d._3) > 0)
    val finalDocs = kept.groupBy(d => fp(d._3)).values
      .map(_.minBy(_._1)).toSeq
    val totalToks = finalDocs
      .map(_._3.trim.split("\\s+").length.toLong).sum
    val want = docs.map(_._2).distinct.sorted.map { lang =>
      val raw = docs.count(_._2 == lang).toLong
      val k = kept.count(_._2 == lang).toLong
      val fin = finalDocs.filter(_._2 == lang)
      val toks = fin.map(_._3.trim.split("\\s+").length.toLong).sum
      (lang, raw, k, fin.length.toLong, toks,
        toks * 1000000L / totalToks)
    }
    val got = graft.queries.CurationQueries.q250_curation_v2(spark, sf)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(got.toSeq === want)
    // the funnel only narrows: raw >= kept >= final
    got.foreach { case (_, raw, k, fin, _, _) =>
      assert(raw >= k && k >= fin)
    }
  }
}
