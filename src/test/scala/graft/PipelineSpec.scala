package graft

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._

import graft.pipeline.{Dedup, Frequency, Multimodal, Sampling, Selection, Similarity, TextAnalysis}

class PipelineSpec extends SparkSpec {
  import spark.implicits._

  /** A deterministic media table of `n` rows: 32x32, 16 kHz metadata,
    * 64–127 payload bytes, modality cycling image/audio/video. */
  private def syntheticMedia(n: Int): Dataset[Multimodal.MediaRow] =
    spark.range(n).map { i =>
      val bytes = Array.tabulate[Byte](64 + (i % 64).toInt)(j =>
        ((i * 31 + j * 7) % 251).toByte)
      val modality = (i % 3) match {
        case 0 => "image"; case 1 => "audio"; case _ => "video"
      }
      Multimodal.MediaRow(i, modality, bytes, 32, 32, 16000)
    }

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"), // exact dup of 1
    (3L, "the quick brown fox leaps over the lazy dog"), // near dup
    (4L, "completely different content about spark engines"),
    (5L, "")
  ).toDF("doc_id", "text")

  test("exactDedup keeps one row per identical content") {
    val out = Dedup.exactDedup(docs, "doc_id", "text")
    val ids = out.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids === Set(1L, 3L, 4L, 5L)) // 2 collapsed into 1 (min id)
  }

  test("jaccardPairs finds the near-dup pair, not the unrelated one") {
    val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", n = 1,
        threshold = 0.7)
      .collect().map(r => (r.getLong(1), r.getLong(0))).toSet
    assert(pairs.contains((1L, 2L)) || pairs.contains((2L, 1L)) ||
      pairs.map(p => Set(p._1, p._2)).contains(Set(1L, 2L)))
    val flat = pairs.flatMap(p => Seq(p._1, p._2))
    assert(!flat.contains(4L)) // unrelated doc never pairs
  }

  test("word shingles n=2 produce bigrams") {
    val sh = docs.filter($"doc_id" === 4L)
      .select(Dedup.shingles($"text", 2).as("sh"))
      .collect()(0).getSeq[String](0).toSet
    assert(sh.contains("completely different"))
    assert(sh.contains("spark engines"))
  }

  test("minHash candidates include exact dups with all bands shared") {
    val cands = Dedup.minHashCandidates(docs, "doc_id", "text", 8, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val dup = cands.find(c => c._1 == 1L && c._2 == 2L)
    assert(dup.isDefined && dup.get._3 === 4L) // 4 bands, all agree
  }

  test("simHash: identical docs have hamming 0; near-dups small hamming") {
    val cands = Dedup.simHashCandidates(docs, "doc_id", "text", 32, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toList
    val exact = cands.find(c => c._1 == 1L && c._2 == 2L)
    assert(exact.isDefined && exact.get._3 === 0)
  }

  test("bruteForceTopK ranks an identical vector first") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(1.0f, 0.0f, 0.0f)),   // identical to 1
      (3L, Array(0.9f, 0.1f, 0.0f)),   // close
      (4L, Array(0.0f, 0.0f, 1.0f))    // orthogonal
    ).toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(
        vecs.filter($"vec_id" === 1L), vecs, "vec_id", "embedding", 2)
      .collect()
    assert(top(0).getAs[Long]("neighbor_id") === 2L)
    assert(top(0).getAs[Double]("sim") === 1.0)
    assert(top(1).getAs[Long]("neighbor_id") === 3L)
  }

  test("text analysis: counts, ratios, langId on hand samples") {
    val t = Seq(
      (1L, "The cat and the dog play in the garden with the ball"),
      (2L, "el perro y el gato juegan en la casa de la abuela"),
      (3L, "der Hund und die Katze spielen nicht mit der Maus"),
      (4L, "你好 世界 这是 中文 文本"),
      (5L, "")
    ).toDF("id", "text")
    val out = TextAnalysis.langIdDf(t, "text")
      .select($"id", TextAnalysis.tokenCount($"text").as("n"), $"predicted")
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getString(2)))
      .toMap
    assert(out(1L) === ((12, "en")))
    assert(out(2L)._2 === "es")
    assert(out(3L)._2 === "de")
    assert(out(4L)._2 === "zh")
    assert(out(5L) === ((0, "und")))
  }

  test("fingerprint is whitespace/case insensitive") {
    val t = Seq((1L, "Hello   World"), (2L, "hello world"))
      .toDF("id", "text")
    val fps = t.select(TextAnalysis.fingerprint($"text")).collect()
      .map(_.getString(0))
    assert(fps(0) === fps(1))
  }

  test("multimodal: batched feature extraction is deterministic") {
    val media = syntheticMedia(30)
    val feats = Multimodal.extractFeatures(media)
    assert(feats.count() === 30L)
    val f0 = feats.filter($"media_id" === 0L).collect()(0)
    assert(f0.features.length === 8)
    // deterministic: same input → same features
    val f0b = Multimodal.extractFeatures(media)
      .filter($"media_id" === 0L).collect()(0)
    assert(f0.features.toSeq === f0b.features.toSeq)
    assert(f0.checksum === f0b.checksum)
  }

  test("semDedup drops the higher id of within-cluster near-dups only") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)),    // centroid (id % 2 == 0), cluster 0
      (1L, Array(0.99f, 0.01f)),  // near-dup of 0 → dropped
      (2L, Array(0.0f, 1.0f)),    // centroid, cluster 2
      (3L, Array(0.0f, 0.9f)),    // parallel to 2 → dropped
      (5L, Array(-1.0f, 0.1f))    // lands in cluster 2, dissimilar → kept
    ).toDF("vec_id", "embedding")
    val out = Similarity.semDedup(vecs, "vec_id", "embedding",
        threshold = 0.8, centroidMod = 2)
      .collect().map(r => (r.getLong(0), r.getInt(2))).toMap
    assert(out === Map(0L -> 0, 1L -> 1, 2L -> 0, 3L -> 1, 5L -> 0))
  }

  test("duplicatedSpans unions overlapping shared windows per doc") {
    val d = Seq(
      (1L, "a b c d e"),            // shares "a b c" + "b c d"
      (2L, "x y a b c"),            // shares "a b c" at the tail
      (3L, "a b c d"),              // fully covered by shared windows
      (4L, "unique words only here"), // nothing shared
      (6L, "ab")                    // shorter than the window
    ).toDF("doc_id", "text")
    val out = Dedup.duplicatedSpans(d, "doc_id", "text", n = 3)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getDouble(3)))).toMap
    assert(out(1L) === ((5L, 4L, 0.8)))  // positions 1-4 of 5
    assert(out(2L) === ((5L, 3L, 0.6)))  // positions 3-5 of 5
    assert(out(3L) === ((4L, 4L, 1.0)))  // every position duplicated
    assert(out(4L) === ((4L, 0L, 0.0)))
    assert(out(6L) === ((1L, 0L, 0.0)))
  }

  test("hashedClassifierScore is deterministic, additive, 0 on empty") {
    val d = Seq((1L, "alpha beta"), (2L, "alpha beta"), (3L, ""),
      (4L, "alpha"), (5L, "beta")).toDF("doc_id", "text")
    val out = d.select($"doc_id",
        TextAnalysis.hashedClassifierScore($"text").as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(1L) === out(2L))           // pure function of content
    assert(out(3L) === 0L)                // empty bag scores 0
    assert(out(1L) === out(4L) + out(5L)) // bag-of-words additivity
    assert(out(4L) !== out(5L))           // distinct tokens, distinct slots
  }

  test("temperatureMixture boosts tail sources above natural share") {
    val rows = Seq(("small", 100L), ("big", 10000L))
      .toDF("source", "n_toks")
    val out = Sampling.temperatureMixture(rows, "source", "n_toks")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // tt = 10100, tw = floor(sqrt(100)) + floor(sqrt(10000)) = 110
    assert(out("small") === ((100L, 9900L, 90909L, 9182L)))
    assert(out("big") === ((10000L, 990099L, 909090L, 918L)))
    assert(out("small")._3 > out("small")._2) // tail boosted
    assert(out("big")._3 < out("big")._2)     // head flattened
  }

  test("dropRepeatedChunks removes cross-doc chunks and reassembles") {
    def sha(s: String): String =
      java.security.MessageDigest.getInstance("SHA-256")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val d = Seq(
      (1L, "a b c d e f"), // chunks: "a b" | "c d" | "e f"
      (2L, "a b x y"),     // shares boilerplate chunk "a b"
      (3L, "p q r"),       // "p q" | "r" — untouched, partial tail chunk
      (4L, "a b"),         // single chunk, all boilerplate → empty text
      (5L, "")             // blank — excluded entirely
    ).toDF("doc_id", "text")
    val out = Dedup.dropRepeatedChunks(d, "doc_id", "text", c = 2)
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(1L) === ((3L, 2L, sha("c d e f"))))
    assert(out(2L) === ((2L, 1L, sha("x y"))))
    assert(out(3L) === ((2L, 2L, sha("p q r"))))
    assert(out(4L) === ((1L, 0L, sha(""))))
    assert(!out.contains(5L))
  }

  test("heavyHitters returns exact counts above the ppm threshold") {
    val d = Seq(
      (1L, "x x x x x x x x x x"), // 10×x
      (2L, "x y y y z"),           // x=11 total, y count grows
      (3L, "y y w")                // 18 tokens: x=11 y=5 z=1 w=1
    ).toDF("doc_id", "text")
    // 20% of 18 tokens = 3.6 → x (11) and y (5) qualify, z/w do not
    val out = Frequency.heavyHitters(d, "text", minFracPpm = 200000L,
        capacity = 16)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(out.toSeq === Seq(("x", 11L), ("y", 5L)))
    // threshold below the MG guarantee bound must be refused
    intercept[IllegalArgumentException] {
      Frequency.heavyHitters(d, "text", minFracPpm = 1000L, capacity = 16)
    }
    // empty corpus → empty result, same schema
    val empty = Frequency.heavyHitters(
      Seq((1L, "")).toDF("doc_id", "text"), "text",
      minFracPpm = 200000L, capacity = 16)
    assert(empty.columns.toSeq === Seq("token", "cnt"))
    assert(empty.count() === 0L)
  }

  test("buildVocab assigns dense frequency-ranked ids with text ties") {
    val d = Seq(
      (1L, "b b b a a c z"),
      (2L, "b a y"),   // b=4 a=3 c=1 y=1 z=1
      (3L, "")
    ).toDF("doc_id", "text")
    val all = Frequency.buildVocab(d, "text", maxSize = 10)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(all.toSeq === Seq(("b", 4L, 1L), ("a", 3L, 2L),
      ("c", 1L, 3L), ("y", 1L, 4L), ("z", 1L, 5L)))
    val cut = Frequency.buildVocab(d, "text", maxSize = 2)
      .collect().map(r => (r.getString(0), r.getLong(2)))
    assert(cut.toSeq === Seq(("b", 1L), ("a", 2L)))
  }

  test("encodeWithVocab maps tokens to dense ids with OOV zeros") {
    val d = Seq(
      (1L, "b b b a a c z"),
      (2L, "b a y"),
      (3L, "")
    ).toDF("doc_id", "text")
    // vocab cut at 2: b->1, a->2; c/y/z are OOV
    val enc = Frequency.encodeWithVocab(d, "doc_id", "text",
      Frequency.buildVocab(d, "text", maxSize = 2))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3)))
    def fp(ids: Seq[Long]) = java.security.MessageDigest
      .getInstance("MD5").digest(ids.mkString(",").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(enc.toSeq === Seq(
      (1L, 7L, 2L, fp(Seq(1, 1, 1, 2, 2, 0, 0))),
      (2L, 3L, 1L, fp(Seq(1, 2, 0)))))
  }

  test("dsirScores ranks target-like documents above off-target ones") {
    // target = lang "en"; doc 5 is raw-only but made of target bigrams,
    // doc 6 is raw-only with bigrams seen nowhere in the target
    val d = Seq(
      (1L, "en", "the cat sat on the mat"),
      (2L, "en", "the cat ran"),
      (3L, "fr", "le chat noir dort"),
      (4L, "fr", "le chien court vite"),
      (5L, "xx", "the cat sat"),
      (6L, "xx", "zz yy xx ww"),
      (7L, "xx", "solo")
    ).toDF("doc_id", "lang", "text")
    val s = Selection.dsirScores(d, "doc_id", "text",
      col("lang") === "en")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(!s.contains(7L)) // single-token doc carries no bigram
    assert(s(1L)._1 === 1L && s(3L)._1 === 0L)
    assert(s(1L)._2 === 5L) // bigram count
    // target-like raw doc outscores the alien one, and targets outscore
    // off-target docs
    assert(s(5L)._3 > s(6L)._3)
    assert(s(1L)._3 > s(3L)._3)
    // deterministic across re-runs
    val again = Selection.dsirScores(d, "doc_id", "text",
      col("lang") === "en")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(again === s)
  }

  test("dsirScores matches a naive single-machine reference") {
    val docs = Seq(
      (1L, "en", "a b c a b"),
      (2L, "en", "b c d"),
      (3L, "fr", "x y z x"),
      (4L, "xx", "a b x y c d")
    )
    val buckets = 64
    def md5hex(s: String) = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    def bucket(bg: String): Long =
      java.lang.Long.parseLong(md5hex("dsir:" + bg).take(15), 16) % buckets
    val occ = docs.flatMap { case (id, lang, text) =>
      val tk = text.trim.split("\\s+").toSeq
      tk.sliding(2).filter(_.size == 2)
        .map(p => (id, lang == "en", bucket(p.mkString(" ")))).toSeq
    }
    val cr = occ.groupBy(_._3).map { case (b, xs) => b -> xs.size.toLong }
    val ct = occ.filter(_._2).groupBy(_._3)
      .map { case (b, xs) => b -> xs.size.toLong }
    val rTot = occ.size.toLong
    val tTot = occ.count(_._2).toLong
    def lam(b: Long): Long =
      ((ct.getOrElse(b, 0L) + 1) * (rTot + buckets) * 1000000L) /
        ((cr(b) + 1) * (tTot + buckets))
    val expect = occ.groupBy(_._1).map { case (id, xs) =>
      id -> xs.map(x => lam(x._3)).sum / xs.size }
    val got = Selection.dsirScores(
      docs.toDF("doc_id", "lang", "text"), "doc_id", "text",
      col("lang") === "en", buckets = buckets)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(got === expect)
  }

  test("kmeansParInit seeds deterministically on exact-cosine geometry") {
    import graft.pipeline.Clusters
    val e1 = Seq(1.0, 0.0, 0.0)
    val e2 = Seq(0.0, 1.0, 0.0)
    // ids 1-3 share e1 (d=0 to the first center, never sampled);
    // ids 4-9 share e2: round-1 φ = 6·10⁵, so p = min(10⁶,
    // 8·10⁵·10⁶ div 6·10⁵) = 10⁶ — every e2 point is sampled with
    // certainty, no hash luck involved; round 2 has φ = 0 and is a
    // no-op. Nearest-center tie-break (d, cid) sends all e2 points to
    // cid 4.
    val v = ((1L to 3L).map(i => (i, e1)) ++ (4L to 9L).map(i => (i, e2)))
      .toDF("vec_id", "embedding")
    val got = Clusters.kmeansParInit(v, "vec_id", "embedding",
      ell = 8, rounds = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq === Seq((1L, 3L), (4L, 6L)))
    // degenerate corpus: all identical → φ = 0 every round, the single
    // seed attracts everything
    val same = (1L to 5L).map(i => (i, e1)).toDF("vec_id", "embedding")
    val one = Clusters.kmeansParInit(same, "vec_id", "embedding",
      ell = 8, rounds = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(one.toSeq === Seq((1L, 5L)))
  }

  test("dupSourceMatrix counts shared fingerprints per source pair") {
    val d = Seq(
      (1L, "web", "Hello   World"),
      (2L, "books", "hello world"),   // normalized dup of 1 → web×books
      (3L, "web", "same text"),
      (4L, "web", "same  TEXT"),      // within-web dup
      (5L, "books", "unique content"),
      (6L, "", "")
    ).toDF("doc_id", "source", "text")
    val m = Dedup.dupSourceMatrix(d, "doc_id", "text", "source")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(m.toSeq === Seq(("books", "web", 1L), ("web", "web", 1L)))
    // prefix variant: docs 3 and 5 share only their first token, so a
    // 1-token boilerplate fingerprint links web×books while the
    // full-text variant does not
    val p = Seq(
      (3L, "web", "same text"),
      (5L, "books", "same content here")
    ).toDF("doc_id", "source", "text")
    val pm = Dedup.dupSourceMatrix(p, "doc_id", "text", "source",
      prefixTokens = 1)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(pm.toSeq === Seq(("books", "web", 1L)))
    assert(Dedup.dupSourceMatrix(p, "doc_id", "text", "source")
      .count() === 0L)
  }

  test("shingleUniqueness scores docs by globally-unique shingle ppm") {
    val d = Seq(
      (1L, "a b c d"),     // shingles: "a b","b c","c d"
      (2L, "a b c e"),     // shares "a b","b c"; unique "c e"
      (3L, "x"),           // too short for bigrams → no row
      (4L, "")
    ).toDF("doc_id", "text")
    val u = Dedup.shingleUniqueness(d, "doc_id", "text", n = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    assert(u.toSeq === Seq(
      (1L, 3L, 1L, 333333L),   // "c d" unique of 3
      (2L, 3L, 1L, 333333L)))  // "c e" unique of 3
  }

  test("fertility: subword-per-word ppm per language on hand samples") {
    val d = Seq(
      (1L, "en", "Hello world"),        // 2 words, 2 subwords
      (2L, "en", "CamelCase x9"),       // 2 words, 4 subwords (Camel,Case,x,9)
      (3L, "de", "Donaudampfschiff"),   // 1 word, 1 subword
      (4L, "de", "")
    ).toDF("doc_id", "lang", "text")
    val f = graft.queries.QualityQueries.fertilityByLang(d)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(f.toSeq === Seq(
      ("de", 1L, 1L, 1L, 1000000L),
      ("en", 2L, 4L, 6L, 1500000L)))
  }

  test("editSimPairs verifies LSH candidates with exact Levenshtein") {
    val s1 = "the quick brown fox jumps over the lazy dog and then runs far away home"
    val s3 = s1.dropRight(4) + "dome" // last word home→dome: lev 1
    val d = Seq(
      (1L, s1),
      (2L, s1),  // identical
      (3L, s3),  // single-char edit; shares 10 of 11 5-gram shingles
      (4L, "completely unrelated content about spark engines " +
        "running wide analytic scans across many executor threads")
    ).toDF("doc_id", "text")
    // loose banding (4 bands of 2) so the J=10/12 near-dup is a candidate
    val pairs = Dedup.editSimPairs(d, "doc_id", "text", numHashes = 8,
      rowsPerBand = 2, prefixLen = 160, minSimPpm = 500000L, shingleN = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    val m = pairs.map(p => (p._1, p._2) -> (p._3, p._4)).toMap
    // identical docs: lev 0, sim 1.0
    assert(m((1L, 2L)) === (0L, 1000000L))
    // home→dome is one substitution
    assert(m((1L, 3L))._1 === 1L)
    assert(m((1L, 3L))._2 ===
      (s1.length - 1L) * 1000000L / s1.length)
    // the unrelated doc survives no verify
    assert(!pairs.exists(p => p._1 === 4L || p._2 === 4L))
  }

  test("editSimPairs 5-gram candidates stay sparse on low-diversity text") {
    // every doc draws from the SAME tiny vocabulary (near-identical
    // token SETS) but in different orders — unigram LSH would pair all
    // of them; 5-gram shingles must not
    val vocab = Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta")
    val docs = (1L to 12L).map { i =>
      val r = new scala.util.Random(i) // deterministic per-doc order
      val words = (0 until 24).map(_ => vocab(r.nextInt(vocab.size)))
      (i, words.mkString(" "))
    }
    val d = docs.toDF("doc_id", "text")
    val pairs = Dedup.editSimPairs(d, "doc_id", "text", numHashes = 8,
      rowsPerBand = 4, prefixLen = 160, minSimPpm = 0L, shingleN = 5)
      .collect()
    // docs whose word ORDER differs share few 5-grams — far from all-pairs
    assert(pairs.length < 12 * 11 / 4,
      s"5-gram banding produced ${pairs.length} of ${12 * 11 / 2} pairs")
  }

  test("collocations score discounted integer lift on hand-counts") {
    // "new york" appears 6×; "the cat" 6×; tokens chosen so the counts
    // are hand-checkable
    val d = Seq.fill(6)((1L, "new york")) ++ Seq.fill(6)((2L, "the cat")) ++
      Seq((3L, "the dog saw the bird and the fish"))
    val out = Frequency.collocations(d.toDF("doc_id", "text"), "text",
      minCount = 5L, discount = 5L, k = 10)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    // unigrams: new 6, york 6, the 9, cat 6; N = 12 + 12 + 8 = 32 toks
    // new york: ((6-5)*1e6 div 6) * 32 div 6 = 166666*32 div 6 = 888885
    // the cat:  ((6-5)*1e6 div 9) * 32 div 6 = 111111*32 div 6 = 592592
    assert(out.toSeq === Seq(
      ("new", "york", 6L, 6L, 6L, 888885L),
      ("the", "cat", 6L, 9L, 6L, 592592L)))
  }

  test("lineFilter applies C4 line rules and certifies reassembly") {
    val d = Seq(
      // keeps lines 1+3: line 2 too short, line 4 no terminal punct,
      // line 5 contains javascript
      (1L, "This is a good first sentence.\nshort one.\n" +
        "Another long enough line to survive!\nno punctuation here at all\n" +
        "Enable javascript to view this page."),
      (2L, "Totally fine text. But lorem ipsum appears here."), // doc ban
      (3L, "Uses a { curly brace } in config."),                // doc ban
      (4L, "tiny.\nalso tiny.")                                 // 0 kept
    ).toDF("doc_id", "text")
    val out = TextAnalysis.lineFilter(d, "doc_id", "text",
      minLineWords = 3, requireTerminalPunct = true,
      bannedLineWord = "javascript",
      docBannedSubstrings = Seq("lorem ipsum", "{"), minKeptLines = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(4)))
    assert(out.map(t => (t._1, t._2, t._3, t._4)).toSeq === Seq(
      (1L, 5L, 2L, 0L), (2L, 1L, 1L, 1L), (3L, 1L, 1L, 1L),
      (4L, 2L, 0L, 1L)))
    // reassembly is exactly the surviving lines joined by \n
    val expected = java.security.MessageDigest.getInstance("SHA-256")
      .digest(("This is a good first sentence.\n" +
        "Another long enough line to survive!").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(out.head._5 === expected)
  }

  test("winnowing guarantees detection of shared runs >= w+k-1 tokens") {
    // docs 1 and 2 share an 8-token run (> w+k-1 = 6) inside otherwise
    // different text — winnowing MUST select a common fingerprint
    val shared = "the big pipeline reads every shard twice nightly"
    val d = Seq(
      (1L, s"alpha beta gamma $shared delta epsilon"),
      (2L, s"one two three four five $shared six"),
      (3L, "entirely different words with no overlap at all here okay")
    ).toDF("doc_id", "text")
    val pairs = Dedup.winnowPairs(d, "doc_id", "text", k = 3, w = 4,
      minShared = 1L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.exists(p => p._1 === 1L && p._2 === 2L && p._3 >= 1L))
    assert(!pairs.exists(p => p._1 === 3L || p._2 === 3L))
    // selection density: ~2/(w+1) of k-gram positions, never zero for
    // docs with at least one full window
    val rows = Dedup.winnowRows(d, "doc_id", "text", k = 3, w = 4)
    val perDoc = rows.groupBy("doc").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(perDoc.keySet === Set(1L, 2L, 3L))
    assert(perDoc.values.forall(_ >= 1L))
  }

  test("prefixRerankTopK equals brute force when the shortlist covers all") {
    val r = new scala.util.Random(11)
    val vecs = (0 until 30).map(i =>
      (i.toLong, Array.fill(16)((r.nextDouble() * 2 - 1).toFloat).toSeq))
      .toDF("vec_id", "embedding")
    val exact = Similarity.bruteForceTopK(
      vecs.filter(col("vec_id") % 10 === 0), vecs, "vec_id", "embedding",
      k = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    val prog = Similarity.prefixRerankTopK(vecs, "vec_id", "embedding",
      prefixDims = 4, m = 29, k = 4, queryMod = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(prog === exact)
    // with a tight shortlist it still returns k ranked rows per query
    val tight = Similarity.prefixRerankTopK(vecs, "vec_id", "embedding",
      prefixDims = 4, m = 6, k = 4, queryMod = 10).collect()
    assert(tight.groupBy(_.getLong(0)).forall(_._2.length == 4))
  }

  test("CMS never under-counts and cells merge additively") {
    val r = new scala.util.Random(3)
    val words = Seq("alpha", "beta", "gamma", "delta", "epsilon")
    val docs = (1L to 40L).map(i =>
      (i, (0 until 20).map(_ => words(r.nextInt(words.size)))
        .mkString(" ")))
    val d = docs.toDF("doc_id", "text")
    val cells = Frequency.cmsBuild(d, "text")
    val exact = d.select(explode(TextAnalysis.tokens(col("text")))
        .as("token"))
      .groupBy("token").agg(count(lit(1)).as("exact_cnt"))
    val est = Frequency.cmsEstimate(cells, exact, "token")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(est.nonEmpty)
    est.foreach { case (tok, ex, e) =>
      assert(e >= ex, s"CMS under-counted $tok: $e < $ex") }
    // mergeability: build on halves, add cells → identical to full build
    val (h1, h2) = (docs.take(20).toDF("doc_id", "text"),
      docs.drop(20).toDF("doc_id", "text"))
    val merged = Frequency.cmsBuild(h1, "text")
      .unionByName(Frequency.cmsBuild(h2, "text"))
      .groupBy("j", "bucket").agg(sum("cnt").as("cnt"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    val full = cells.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(merged === full)
  }

  test("cmsJoinSize never under-estimates and is exact-tight when " +
      "buckets are collision-free") {
    val r = new scala.util.Random(5)
    val ka = (1 to 300).map(_ => (r.nextInt(40) + 1).toLong)
    val kb = (1 to 300).map(_ => (r.nextInt(40) + 1).toLong)
    val da = ka.map(Tuple1(_)).toDF("k")
    val db = kb.map(Tuple1(_)).toDF("k")
    val est = Frequency.cmsJoinSize(
        Frequency.cmsKeyCells(da, "k", salt = "cmj"),
        Frequency.cmsKeyCells(db, "k", salt = "cmj"))
      .collect().head.getLong(0)
    val fa = ka.groupBy(identity).view.mapValues(_.size.toLong)
    val fb = kb.groupBy(identity).view.mapValues(_.size.toLong)
    val exact = fa.map { case (k, ca) =>
      ca * fb.getOrElse(k, 0L) }.sum
    assert(est >= exact, s"CMS inner product under-counted: $est < $exact")
    // 40 keys in 256 buckets: overshoot only from collisions, which
    // add positive products — bounded above by the j=any row total
    // product; sanity: within 50% here
    assert(est <= exact * 3 / 2)
  }

  test("q262 suffix doubling profile matches naive k-token-slice groups") {
    val sf = "/root/testdata/sf0.001"
    val dcs = Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .map { case (id, t) =>
        (id, if (t.trim.isEmpty) Array.empty[String]
             else t.trim.split("\\s+")) }
    val want = (0 to 8).map(i => 1L << i).map { k =>
      // group key: the ACTUAL (doc-end-truncated) k-token slice —
      // the invariant prefix doubling's rank groups must reproduce
      val groups = dcs.flatMap { case (id, toks) =>
        toks.indices.map(p =>
          (toks.slice(p, p + k.toInt).toSeq, (id, p.toLong)))
      }.groupBy(_._1).values.map(_.map(_._2).sortBy(identity)).toSeq
      val dups = groups.filter(_.length >= 2)
      val top = dups.sortBy(g => (-g.length, g.head)).headOption
      (k, dups.map(_.length.toLong).sum, dups.length.toLong,
        groups.length.toLong,
        top.map(_.length.toLong).getOrElse(0L),
        top.map(_.head._1).getOrElse(-1L),
        top.map(_.head._2).getOrElse(-1L))
    }
    val got = graft.queries.PipelineQueries.q262_suffix_doubling(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(got.toSeq === want)
    assert(want.head._2 > 0, "no single-token duplicates in the corpus?")
  }

  test("marginMining demotes hub vectors that raw cosine ranks first") {
    // side A (even ids): 0,2,4 point near the hub direction (1,0);
    // 6 is the genuine source at (0,1). side B (odd ids): 1 is a hub
    // everything likes; 7 is the genuine match of 6; 3 is filler.
    val vecs = Seq(
      (0L, Seq(10f, 1f)), (2L, Seq(10f, -1f)), (4L, Seq(10f, 0.5f)),
      (6L, Seq(0f, 10f)),
      (1L, Seq(1f, 0f)), (3L, Seq(8f, 3f)), (7L, Seq(0.5f, 10f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.marginMining(vecs, "vec_id", "embedding",
        k = 2, queryMod = 2, limit = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    // raw cosine of every hub pair exceeds most sims, but the margin
    // ranks the genuine pair (6,7) first: the hub's top-k neighborhood
    // average is itself high, so its ratio margin collapses
    assert(out.head._1 === 6L && out.head._2 === 7L)
    val hubMargins = out.filter(_._2 == 1L).map(_._4)
    assert(hubMargins.nonEmpty && hubMargins.max < out.head._4)
    // output is sorted by margin desc
    assert(out.map(_._4).toSeq === out.map(_._4).sortBy(-_).toSeq)
  }

  test("pqTopK ranks an exact duplicate first via ADC") {
    val r = new scala.util.Random(7)
    // 40 vectors of dim 16; vec 20 duplicates vec 0 exactly
    val base = (0 until 40).map { i =>
      (i.toLong, Array.fill(16)((r.nextDouble() * 2 - 1).toFloat).toSeq)
    }
    val docs = base.map { case (i, v) =>
      if (i == 20L) (i, base.head._2) else (i, v)
    }.toDF("vec_id", "embedding")
    val out = Similarity.pqTopK(docs, "vec_id", "embedding", k = 3,
      centroidMod = 8, queryMod = 20, numSub = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getInt(3)))
    // queries are 0 and 20 (the duplicate pair): each ranks the other
    // first — identical vectors share codes, so ADC distances tie at
    // the query's own quantization error, minimal over the corpus
    val byQuery = out.groupBy(_._1)
    assert(byQuery(0L).find(_._4 == 1).get._2 === 20L)
    assert(byQuery(20L).find(_._4 == 1).get._2 === 0L)
    // ADC distances are symmetric for the duplicate pair
    assert(byQuery(0L).find(_._4 == 1).get._3 ===
      byQuery(20L).find(_._4 == 1).get._3)
  }

  test("ivfPqTopK matches a naive integer IVFADC mirror") {
    val rnd = new scala.util.Random(11)
    // 60 vectors of dim 16; vec 25 duplicates vec 0 exactly
    val base = (0 until 60).map { i =>
      (i.toLong, Array.fill(16)((rnd.nextDouble() * 2 - 1).toFloat))
    }
    val vecs = base.map { case (i, v) =>
      if (i == 25L) (i, base.head._2) else (i, v)
    }
    val docs = vecs.map { case (i, v) => (i, v.toSeq) }
      .toDF("vec_id", "embedding")
    val k = 3; val coarseMod = 10; val pqMod = 6
    val queryMod = 25; val nprobe = 3; val numSub = 4
    val out = Similarity.ivfPqTopK(docs, "vec_id", "embedding", k,
        coarseMod, coarseCap = 1000L, pqMod, pqCap = 1000L,
        queryMod, nprobe, numSub)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getInt(3)))
    // naive mirror: same quantization, residual encode, LUT, ranking
    val dv = vecs.map { case (i, v) => (i, v.map(_.toDouble)) }
    val gm = dv.flatMap(_._2.map(math.abs)).max
    val q = dv.map { case (i, v) =>
      (i, v.map(x => math.floor(x / gm * 127.0 + 0.5).toLong)) }
    def l2(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val coarse = q.filter(t => t._1 % coarseMod == 0).sortBy(_._1)
    def cell(v: Array[Long]): (Long, Array[Long]) =
      coarse.minBy(c => (l2(v, c._2), c._1))
    val subDim = 16 / numSub
    def sub(v: Array[Long], s: Int): Array[Long] =
      v.slice(s * subDim, (s + 1) * subDim)
    val book = (0 until numSub).map { s =>
      q.filter(t => t._1 % pqMod == 0).sortBy(_._1).map { case (p, v) =>
        val cq = cell(v)._2
        (p, sub(v, s).zip(sub(cq, s)).map { case (x, c) => x - c })
      }
    }
    val enc = q.map { case (i, v) =>
      val (cid, cq) = cell(v)
      (i, cid, (0 until numSub).map { s =>
        val rs = sub(v, s).zip(sub(cq, s)).map { case (x, c) => x - c }
        book(s).minBy(e => (l2(rs, e._2), e._1))._1
      })
    }
    val want = q.filter(_._1 % queryMod == 0).flatMap { case (qid, qv) =>
      val probed = coarse.sortBy(c => (l2(qv, c._2), c._1)).take(nprobe)
      val cand = enc.filter(e =>
        e._1 != qid && probed.exists(_._1 == e._2))
      cand.map { case (vid, cid, codes) =>
        val cq = probed.find(_._1 == cid).get._2
        val adc = (0 until numSub).map { s =>
          val rs = sub(qv, s).zip(sub(cq, s)).map { case (x, c) => x - c }
          l2(rs, book(s).find(_._1 == codes(s)).get._2)
        }.sum
        (qid, vid, adc)
      }.sortBy(t => (t._3, t._2)).take(k).zipWithIndex
        .map { case ((a, b, c), r) => (a, b, c, r + 1) }
    }.sortBy(t => (t._1, t._4))
    assert(out.toSeq === want.toSeq)
    // the exact duplicate of query 0 shares every code: minimal ADC
    assert(out.filter(t => t._1 == 0L && t._4 == 1).head._2 === 25L)
  }

  test("continuationPairs joins tail fingerprints to head fingerprints") {
    val d = Seq(
      (1L, "page one text ends with a cliff hanger here"),   // tail: "a cliff hanger here"
      (2L, "a cliff hanger here resolves in part two text"), // head matches 1's tail
      (3L, "unrelated document with entirely different body words"),
      (4L, "short doc")                                      // < 2m tokens: excluded
    ).toDF("doc_id", "text")
    val out = Dedup.continuationPairs(d, "doc_id", "text", m = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSeq === Seq((1L, 2L)))
  }

  test("maxTokenRun finds the first longest identical-token run") {
    val d = Seq(
      (1L, "a a a b b"),          // run of 3 a's
      (2L, "x y x y x y"),        // no repeats: max 1, first token
      (3L, "p q q r r r r q q"),  // run of 4 r's
      (4L, "solo"),               // single token
      (5L, "t t u u")             // tie 2-2: FIRST run (t) wins
    ).toDF("doc_id", "text")
    val out = TextAnalysis.maxTokenRun(d, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3)))
    assert(out.toSeq === Seq(
      (1L, 5L, 3L, "a"), (2L, 6L, 1L, "x"), (3L, 9L, 4L, "r"),
      (4L, 1L, 1L, "solo"), (5L, 4L, 2L, "t")))
  }

  test("vocabGrowth accumulates first-occurrence types per bucket") {
    // ids 0..3, 2 buckets → docs 0,1 in bucket 0; docs 2,3 in bucket 1
    val d = Seq(
      (0L, "a b a"),       // types a,b first here; 3 tokens
      (1L, "b c"),         // c new; 2 tokens
      (2L, "a c d"),       // d new; 3 tokens
      (3L, "d e")          // e new; 2 tokens
    ).toDF("doc_id", "text")
    val out = Frequency.vocabGrowth(d, "doc_id", "text", buckets = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    assert(out.toSeq === Seq(
      (0L, 2L, 5L, 3L),   // a,b,c seen after docs 0-1
      (1L, 4L, 10L, 5L))) // +d,e after docs 2-3
  }

  test("bigramLmScore computes integer mean conditional probability") {
    val d = Seq(
      (1L, "a b a b a"), // bigrams ab, ba, ab, ba
      (2L, "a c"),       // bigram ac
      (3L, "solo"),      // single token — excluded
      (4L, "")           // blank — excluded
    ).toDF("doc_id", "text")
    // model: c(a,b)=2 c(b,a)=2 c(a,c)=1; contexts a=3, b=2
    // p_ppm: ab = 2000000 div 3 = 666666; ba = 1000000; ac = 333333
    val out = TextAnalysis.bigramLmScore(d, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(out(1L) === ((4L, (666666L * 2 + 1000000L * 2) / 4)))
    assert(out(2L) === ((1L, 333333L)))
    assert(out.keySet === Set(1L, 2L))
  }
}
