package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines, each designed so
  * the candidate-generation step is a hash-partitioned join (never an
  * all-pairs comparison) and therefore survives 100 TB:
  *
  *   - exact:   one groupBy on a content hash;
  *   - MinHash+LSH: shingle → K min-hashes → B banded bucket keys →
  *     bucket equi-join (only same-bucket docs are compared);
  *   - SimHash: 32-bit signature → 4×8-bit bands → bucket join →
  *     hamming-distance filter;
  *   - n-gram Jaccard: token explode → token equi-join → |∩|/|∪|.
  *
  * All column-expression based (codegen'd); hash family = md5/xxhash so
  * results are engine-portable and deterministic.
  */
object Dedup {

  /** Whitespace token set per row (distinct). */
  private def tokenSet(text: Column): Column =
    array_distinct(TextAnalysis.tokens(text))

  // -------------------------------------------------------------------
  // Exact dedup
  // -------------------------------------------------------------------

  /** Exact-duplicate groups by content hash: (content_hash, n_copies,
    * keeper_id = min id). Keep-one policy joins back on keeper_id. */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(count(lit(1)).as("n_copies"), min(col(idCol)).as("keeper_id"))

  /** Rows surviving exact dedup (min-id per identical content). */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val keep = exactGroups(df, idCol, textCol)
      .select(col("keeper_id").as(idCol))
    df.join(keep, Seq(idCol), "left_semi")
  }

  // -------------------------------------------------------------------
  // n-gram Jaccard
  // -------------------------------------------------------------------

  /** Word n-gram shingles (n=1 → token set). `toks` should be a BOUND
    * column (a projected attribute), not an inline `split(...)`: the
    * transform lambda references it once per element, and an inline
    * expression would re-tokenize the text O(tokens) times per row —
    * see [[shingleRows]] for the two-step projection. */
  def shinglesFromToks(toks: Column, n: Int): Column =
    if (n <= 1) array_distinct(toks)
    else
      array_distinct(
        when(size(toks) < n, array().cast("array<string>")).otherwise(
          transform(sequence(lit(0), size(toks) - n),
            i => concat_ws(" ", slice(toks, i + 1, lit(n))))))

  /** Word n-gram shingles from raw text (n=1 → token set). Prefer
    * [[shingleRows]] in bulk paths (single tokenization per row). */
  def shingles(text: Column, n: Int): Column =
    shinglesFromToks(TextAnalysis.tokens(text), n)

  /** Exploded (doc, shingle) rows with the token array materialized in
    * its own projection first, so tokenization runs exactly once per
    * row (Catalyst keeps the separate projection — non-cheap
    * expressions are not re-inlined into the consuming lambda). */
  def shingleRows(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame =
    df.select(col(idCol).as("doc"),
        TextAnalysis.tokens(col(textCol)).as("_toks"))
      .select(col("doc"),
        explode(shinglesFromToks(col("_toks"), n)).as("shingle"))

  /** Pairwise Jaccard similarity over n-gram shingle sets, via a shingle
    * equi-join (docs sharing no shingle never meet). Returns
    * (id_a, id_b, intersection, size_a, size_b, jaccard) with id_a<id_b.
    * At scale, add a document-frequency cap on shingles first (ultra-
    * common shingles explode the join) — see `dfCapped`.
    */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = 1, threshold: Double = 0.8,
      maxDf: Long = Long.MaxValue): DataFrame = {
    val shAll = shingleRows(df, idCol, textCol, n)
    val sh0 =
      if (maxDf == Long.MaxValue) shAll.localCheckpoint(true) else shAll
    jaccardPairsFromRows(sh0, threshold, maxDf)
  }

  /** General path over pre-built (doc, shingle) rows. When uncapped,
    * `shAll` must already be materialized by the caller (it feeds
    * three plan branches); with a cap, only the capped output is
    * materialized ONCE — it feeds the size aggregation and both
    * self-join sides, and on templated corpora it is orders of
    * magnitude smaller than the raw shingle rows. The df-cap drops
    * shingles shared by more than maxDf docs BEFORE the join — the
    * skew guard that keeps the equi-join linear (a bigram present in
    * every templated doc would otherwise drive the join quadratic);
    * Jaccard is then over the capped sets on both sides. */
  def jaccardPairsFromRows(shAll: DataFrame, threshold: Double,
      maxDf: Long): DataFrame = {
    val sh =
      if (maxDf == Long.MaxValue) shAll
      else dfCapped(shAll, maxDf).localCheckpoint(true)
    val sizes = sh.groupBy(col("doc")).agg(count(lit(1)).as("sz"))
    val inter = sh.as("a").join(sh.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc") < col("b.doc"))
      .groupBy(col("a.doc").as("id_a"), col("b.doc").as("id_b"))
      .agg(count(lit(1)).as("intersection"))
    inter
      .join(sizes.withColumnRenamed("doc", "id_a")
        .withColumnRenamed("sz", "size_a"), Seq("id_a"))
      .join(sizes.withColumnRenamed("doc", "id_b")
        .withColumnRenamed("sz", "size_b"), Seq("id_b"))
      .withColumn("jaccard", col("intersection").cast("double") /
        (col("size_a") + col("size_b") - col("intersection")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("intersection"),
        col("size_a"), col("size_b"), col("jaccard"))
  }

  /** One sorted-distinct token-set row per document, computed straight
    * from the source table WITHOUT the explode → groupBy(doc) →
    * collect_list round trip (guide §2.4: that shuffle re-assembles
    * per-row what the source row already holds). Bit-identical to
    * `shingleRows(df …, n).groupBy(doc).agg(sort_array(collect_list),
    * count)`: `shinglesFromToks` already array_distinct's, docs with
    * zero shingles vanish exactly as explode dropped them, and sz =
    * the distinct-shingle count. Feed the result to
    * [[prefixFilteredJaccardPairsFromDocs]]. */
  def docShingleSets(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame =
    if (n <= 1)
      df.select(col(idCol).as("doc"),
          TextAnalysis.tokens(col(textCol)).as("_toks"))
        .select(col("doc"),
          sort_array(shinglesFromToks(col("_toks"), n)).as("tk"))
        .filter(size(col("tk")) > 0)
        .select(col("doc"), col("tk"),
          size(col("tk")).cast("long").as("sz"))
    else
      // n ≥ 2 goes through explode → groupBy: the direct projection
      // chain gets its filter/size references collapsed by Catalyst,
      // which re-inlines tokens(text) INSIDE the shingle transform
      // lambda — the O(tokens²)-per-row re-tokenization trap
      // [[shinglesFromToks]] documents (measured 0.1 s → 4.3 s warm on
      // q85's bigram corpus at sf0.1). One narrow-row shuffle is far
      // cheaper than a quadratic scan.
      shingleRows(df, idCol, textCol, n)
        .groupBy(col("doc"))
        .agg(sort_array(collect_list(col("shingle"))).as("tk"),
          count(lit(1)).as("sz"))

  /** AllPairs/PPJoin-style prefix-filtered EXACT-threshold Jaccard join
    * (Bayardo et al. 2007; Xiao et al. 2008): instead of the full
    * inverted-list join of [[jaccardPairsFromRows]] — whose cost is
    * Σ df² over EVERY token, dominated by stopwords at 100 TB — each
    * document indexes only its PREFIX under a global rarest-first token
    * order: p = |x| − ⌈t·|x|⌉ + 1 tokens. Two documents with
    * Jaccard ≥ t must share a prefix token (pigeonhole on the overlap
    * bound), so the candidate join touches only the RARE end of the
    * vocabulary and the filter is LOSSLESS — the verified output equals
    * the naive all-pairs result exactly, which is what the oracle
    * checks. A length filter (1000·min ≥ t₁₀₀₀·max) prunes candidates
    * before verification.
    *
    * Input: one (doc, tk sorted-distinct array, sz) row per document,
    * as [[docShingleSets]] builds it. `thresholdX1000` is the Jaccard
    * threshold ×1000 (integer, so the keep test `1000·|∩| ≥ t₁₀₀₀·|∪|`
    * is exact in any engine). Returns (id_a, id_b, intersection,
    * size_a, size_b, jac_x1000) with jac_x1000 = ⌊1000·|∩|/|∪|⌋.
    */
  def prefixFilteredJaccardPairsFromDocs(docsArr: DataFrame,
      thresholdX1000: Long): DataFrame = {
    // the exact-duplicate collapse below emits within-set pairs
    // UNCONDITIONALLY on the argument that identical sets have
    // Jaccard 1000, which clears any threshold ≤ 1000 — enforce the
    // argument's domain instead of assuming it (thresholdX1000 > 1000
    // is degenerate but representable, and there the collapsed path
    // would diverge from the pre-collapse pipeline)
    require(thresholdX1000 >= 0 && thresholdX1000 <= 1000,
      s"thresholdX1000 must be in [0, 1000], got $thresholdX1000")
    val t = lit(thresholdX1000)
    // EXACT-DUPLICATE COLLAPSE before the near-dup machinery (the C4
    // ordering — exact dedup first — applied inside the operator):
    // identical token SETS are one representative each; the prefix
    // index, candidate join, and array-verification run over distinct
    // sets only, and qualifying pairs expand back to doc pairs at the
    // end. On duplication-heavy corpora this shrinks the candidate ×
    // token-array verification shuffle by the duplication factor
    // SQUARED (sf10 replication: the verify stage previously spilled
    // past the box's 78 GB disk; collapsed it is 10⁻⁴ of the pairs),
    // while the emitted answer is bit-identical: members of one set
    // have Jaccard 1000 with each other and identical similarity to
    // every outside doc.
    //
    // mem is the pipeline's ONE corpus-sized materialization: slim,
    // reps, and the exploded rep tokens are all cheap projections of
    // this checkpoint (round 12 — the former per-projection
    // checkpoints each re-ran the collect_list + identical-set window
    // from scratch, so the heaviest two stages executed twice).
    val mem = docsArr
      .withColumn("rep", min(col("doc")).over(org.apache.spark.sql
        .expressions.Window.partitionBy(col("tk"))))
      .localCheckpoint(true)
    // the downstream pipeline references slim/reps/shReps many times
    // (the candidate self-join alone duplicates its whole subtree), so
    // each gets its OWN narrow materialization — cheap single scans of
    // the mem checkpoint. A first cut left them as lazy projections
    // and every reference re-scanned the wide array checkpoint: q269
    // 7.0 → 22.2 s warm. The win over the old shape is in how they
    // are BUILT (no collect_list reassembly, no sh ⋈ reps corpus
    // join, no second run of the identical-set window), not in
    // skipping materialization.
    // slim doc → (rep, sz) map: NO token arrays ride the expansion
    val slim = mem.select(col("doc"), col("rep"), col("sz"))
      .localCheckpoint(true)
    val reps = mem.filter(col("doc") === col("rep"))
      .select(col("doc"), col("tk"), col("sz"))
      .localCheckpoint(true)
    // (doc, sz, shingle) rows re-derived map-side from the checkpointed
    // representative arrays — the former sh ⋈ reps equi-join (one
    // corpus shuffle) said the same thing the explode says for free,
    // and carrying sz here deletes the pref ⋈ reps(sz) join below
    val shReps = reps.select(col("doc"), col("sz"),
      explode(col("tk")).as("shingle"))
      .localCheckpoint(true)
    val dfreq = shReps.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    // global rarest-first total order (df, then token text); the window
    // partitions by doc, so no single-reducer exchange. Any FIXED total
    // order keeps the prefix filter lossless; df over representatives
    // is the cheap one.
    val ranked = shReps.join(dfreq, Seq("shingle"))
      .withColumn("rk", row_number().over(org.apache.spark.sql.expressions
        .Window.partitionBy(col("doc"))
        .orderBy(col("df"), col("shingle"))))
    // prefix length p = sz − ceil(t·sz) + 1, integer-exact; rk rides
    // along for the positional filter below
    val pref = ranked
      .filter(col("rk") <=
        col("sz") - expr(s"($thresholdX1000 * sz + 999) div 1000") + 1)
      .select(col("doc"), col("shingle"), col("sz"), col("rk"))
    // PPJoin POSITIONAL filter (Xiao 2008 §3.2, round 13): at a
    // colliding prefix token the achievable overlap is bounded by
    // 1 + min(remaining tokens after rk in a, in b) — tokens share one
    // global order, so every later common token sits after rk on both
    // sides. A qualifying pair always survives through its FIRST
    // common prefix token (there ub ≥ true overlap ≥ the Jaccard-t
    // overlap bound), so the verified answer is unchanged; what the
    // condition removes is collision rows and false candidates before
    // they reach the dedup exchange and the array verification
    // (measured at sf0.1: 4.39M → 1.96M collision rows, 2.07M → 1.73M
    // candidates, candidate stage −45%).
    val ub = lit(1) + least(col("a.sz") - col("a.rk"),
      col("b.sz") - col("b.rk"))
    val cand = pref.as("a").join(pref.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc") < col("b.doc")
          && lit(1000) * least(col("a.sz"), col("b.sz")) >=
             t * greatest(col("a.sz"), col("b.sz"))
          && lit(1000) * ub >= t * (col("a.sz") + col("b.sz") - ub))
      .select(col("a.doc").as("id_a"), col("b.doc").as("id_b"))
      // The verification below is CPU-dense on BYTE-TINY rows (an
      // array_intersect per candidate over ~16-byte pair keys):
      // byte-based AQE coalescing reads the candidate frame as "one
      // small partition" and serializes the whole verify stage
      // (measured 2.7 s → 23.6 s at sf0.1 when it collapses). An
      // explicit numPartitions repartition is exempt from coalescing;
      // defaultParallelism derives from the deployment (cores locally,
      // executor slots on a cluster), never a tuned constant
      // (guide §2.2/§2.5). Round 13: the repartition sits BEFORE the
      // distinct — it hashes exactly the keys the dedup aggregate
      // needs, so the final aggregate rides the explicit exchange in
      // parallel instead of a byte-coalesced (serial) one, and the
      // former second exchange disappears.
      .repartition(pref.sparkSession.sparkContext.defaultParallelism,
        col("id_a"), col("id_b"))
      .distinct()
    // exact verification over representative pairs only, map-side
    val repPairs = cand
      .join(reps.select(col("doc").as("id_a"), col("tk").as("ta"),
        col("sz").as("size_a")), Seq("id_a"))
      .join(reps.select(col("doc").as("id_b"), col("tk").as("tb"),
        col("sz").as("size_b")), Seq("id_b"))
      .withColumn("intersection",
        size(array_intersect(col("ta"), col("tb"))).cast("long"))
      .filter(lit(1000) * col("intersection") >=
        t * (col("size_a") + col("size_b") - col("intersection")))
      .select(col("id_a").as("rep_a"), col("id_b").as("rep_b"),
        col("intersection"))
    // expansion 1: cross-set pairs — every member of A × every member
    // of B, canonicalized to id_a < id_b (set membership interleaves
    // with the id order, so least/greatest, with sizes re-read from
    // the slim map). Answer-sized work by construction.
    val cross = repPairs
      .join(slim.select(col("rep").as("rep_a"), col("doc").as("da")),
        Seq("rep_a"))
      .join(slim.select(col("rep").as("rep_b"), col("doc").as("db")),
        Seq("rep_b"))
      .select(least(col("da"), col("db")).as("id_a"),
        greatest(col("da"), col("db")).as("id_b"), col("intersection"))
    // expansion 2: within-set pairs — identical docs, Jaccard 1000,
    // which always clears any threshold ≤ 1000 (and the original
    // non-collapsed pipeline emitted them via shared prefixes)
    val within = slim.select(col("rep"), col("doc").as("id_a"))
      .join(slim.select(col("rep"), col("doc").as("id_b")), Seq("rep"))
      .filter(col("id_a") < col("id_b"))
      .join(slim.select(col("doc").as("id_a"), col("sz")), Seq("id_a"))
      .select(col("id_a"), col("id_b"), col("sz").as("intersection"))
    cross.unionAll(within)
      .join(slim.select(col("doc").as("id_a"), col("sz").as("size_a")),
        Seq("id_a"))
      .join(slim.select(col("doc").as("id_b"), col("sz").as("size_b")),
        Seq("id_b"))
      .select(col("id_a"), col("id_b"), col("intersection"),
        col("size_a"), col("size_b"),
        expr("(1000 * intersection) div " +
          "(size_a + size_b - intersection)").as("jac_x1000"))
  }

  /** Bounded-output reporting mode over a similarity-pair frame (the
    * round-10 q269 gap: the EXACT pair dump is answer-sized — ~96.5M
    * rows at sf10 — and dumping/sorting it exceeded the box's spill
    * disk; a production 10⁸-pair dedup report ships per-band counts +
    * capped exemplars instead). Input: (id_a, id_b, jac_x1000, …) as
    * produced by [[prefixFilteredJaccardPairsFromDocs]]. Output: one
    * row per (similarity band, exemplar rank ≤ k) — band pair/doc
    * counts with the k lexicographically-first exemplar pairs.
    *
    * Scale shape: every aggregate here is a hash aggregation with
    * map-side partial combine over O(bands) cells — NO per-band
    * window (a row_number over a 10⁸-row band is a one-task skew
    * bomb). Exemplars are taken by k passes of `min(struct(id_a,
    * id_b, …))` per band, each pass excluding the previous winners
    * via a broadcast anti join on O(bands · k) rows — exact top-k for
    * tiny constant k with per-partition state of ONE row per band,
    * the only formulation whose memory is flat in the pair count. */
  def similarityJoinReport(pairs: DataFrame, bandWidth: Long,
      k: Int): DataFrame = {
    require(bandWidth >= 1, s"bandWidth must be >= 1, got $bandWidth")
    require(k >= 1, s"k must be >= 1, got $k")
    // terminal materialization (reused by the stats, doc, and k
    // exemplar aggregations; never re-joined iteratively against
    // itself — the Iterate.scala rule for a bare localCheckpoint).
    // The checkpointed projection is 4 longs/pair — the SLIM frame,
    // not the token payloads the exact mode spills on.
    val banded = pairs
      .select((col("jac_x1000") - pmod(col("jac_x1000"),
        lit(bandWidth))).as("band"),
        col("id_a"), col("id_b"), col("jac_x1000"))
      .localCheckpoint(eager = true)
    val stats = banded.groupBy(col("band")).agg(
      count(lit(1)).as("n_pairs"),
      max(col("jac_x1000")).as("max_jac_x1000"))
    val docs = banded.select(col("band"), col("id_a").as("doc"))
      .unionAll(banded.select(col("band"), col("id_b").as("doc")))
      .groupBy(col("band"))
      .agg(countDistinct(col("doc")).as("n_docs"))
    var remaining = banded
    var ex: DataFrame = null
    for (r <- 1 to k) {
      val m = remaining.groupBy(col("band"))
        .agg(min(struct(col("id_a"), col("id_b"), col("jac_x1000")))
          .as("m"))
        .select(col("band"), lit(r.toLong).as("rank"),
          col("m.id_a").as("ex_id_a"), col("m.id_b").as("ex_id_b"),
          col("m.jac_x1000").as("ex_jac_x1000"))
      remaining = remaining.join(broadcast(m.select(col("band"),
          col("ex_id_a").as("id_a"), col("ex_id_b").as("id_b"))),
        Seq("band", "id_a", "id_b"), "left_anti")
      ex = if (ex == null) m else ex.unionAll(m)
    }
    stats.join(docs, Seq("band")).join(ex, Seq("band"))
      .select(col("band"), col("n_pairs"), col("n_docs"),
        col("max_jac_x1000"), col("rank"), col("ex_id_a"),
        col("ex_id_b"), col("ex_jac_x1000"))
      .orderBy(col("band"), col("rank"))
  }

  /** Drop shingles appearing in more than maxDf documents before joining —
    * the skew guard that keeps the shingle join linear at 100 TB.
    *
    * Implemented as a count-over-window on the shingle key: ONE shuffle,
    * no broadcast, and the output stays hash-partitioned by `shingle` —
    * exactly the partitioning the subsequent self-join needs, so the
    * exchange is reused. The earlier broadcast-the-hot-set formulation
    * assumed hot ≪ vocab; on templated corpora the inverse holds (at
    * sf0.1 the cap keeps 254 of 256k shingle rows — nearly the whole
    * vocabulary is hot) and collecting/shipping the hot set dominated
    * the query. The window form is size-agnostic: it never materializes
    * either side on the driver. NULL shingles are dropped (documented
    * domain behavior). */
  def dfCapped(sh: DataFrame, maxDf: Long): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shingle"))
    sh.filter(col("shingle").isNotNull)
      .withColumn("_df", count(lit(1)).over(w))
      .filter(col("_df") <= maxDf)
      .drop("_df")
  }

  /** Exact Jaccard pairs for SMALL vocabularies (≤ 62 distinct shingles)
    * over pre-built (doc, shingle) rows, so the adaptive entry point
    * materializes the explode exactly once: dictionary-encode each
    * shingle set as a 64-bit mask, deduplicate identical sets, compare
    * distinct masks with popcount, then expand back to document pairs.
    * Identical output to [[jaccardPairs]], but the ultra-common-shingle
    * join (quadratic when every shingle is in most docs) collapses to
    * |distinct sets|² cheap integer ops. The caller checks the
    * vocabulary bound (see [[jaccardPairsAdaptive]]).
    */
  def jaccardPairsBitmaskFromRows(sh: DataFrame,
      threshold: Double): DataFrame = {
    // The vocabulary is ≤ 62 entries here (the adaptive dispatch guard),
    // so the dictionary is built on the DRIVER — an O(62) collect of an
    // already-aggregated distinct — instead of a global ordinal window
    // (which would be a single-partition sort of the whole shingle set,
    // the exact degenerate-window shape this module bans).
    val spark = sh.sparkSession
    val vocabArr = sh.select(col("shingle")).distinct()
      .collect().map(_.getString(0)).sorted
    // hard guard, not just a caller contract: bit 63 is the sign bit and
    // bit 64 wraps — a larger vocabulary would corrupt masks silently
    require(vocabArr.length <= 62,
      s"bitmask fast path needs <= 62 distinct shingles, got " +
        s"${vocabArr.length} — use jaccardPairs")
    val vocab = spark.createDataFrame(vocabArr.zipWithIndex.toSeq)
      .toDF("shingle", "bit")
    val masks = sh.join(broadcast(vocab), Seq("shingle"))
      .groupBy(col("doc"))
      .agg(sum(expr("shiftleft(cast(1 as bigint), bit)")).as("mask"),
        count(lit(1)).as("sz"))
    // group docs sharing an identical set
    val groups = masks.groupBy(col("mask"), col("sz"))
      .agg(sort_array(collect_list(col("doc"))).as("docs"))
    val pairs = groups.as("a").join(groups.as("b"),
        col("a.mask") <= col("b.mask"))
      .withColumn("intersection", expr("bit_count(a.mask & b.mask)"))
      .withColumn("jaccard", col("intersection").cast("double") /
        (col("a.sz") + col("b.sz") - col("intersection")))
      .filter(col("jaccard") >= threshold)
    pairs.select(explode(col("a.docs")).as("d1"), col("b.docs"),
        col("a.mask").as("mask_a"), col("b.mask").as("mask_b"),
        col("intersection"), col("a.sz").as("size_a"),
        col("b.sz").as("size_b"), col("jaccard"))
      .select(col("d1"), explode(col("b.docs")).as("d2"), col("mask_a"),
        col("mask_b"), col("intersection"), col("size_a"), col("size_b"),
        col("jaccard"))
      .filter(col("mask_a") < col("mask_b") || col("d1") < col("d2"))
      .select(least(col("d1"), col("d2")).as("id_a"),
        greatest(col("d1"), col("d2")).as("id_b"),
        col("intersection"),
        // size_a must be the set size of id_a (swap with the ids)
        when(col("d1") < col("d2"), col("size_a")).otherwise(col("size_b"))
          .as("size_a"),
        when(col("d1") < col("d2"), col("size_b")).otherwise(col("size_a"))
          .as("size_b"),
        col("jaccard"))
  }

  /** Adaptive Jaccard pairs: materialize the shingle rows ONCE, read
    * the distinct-shingle count from them, then run the bitmask path
    * (vocab ≤ 62) or the general equi-join over the same materialized
    * rows, so the corpus is tokenized once for both the vocabulary
    * count and the join. */
  def jaccardPairsAdaptive(df: DataFrame, idCol: String, textCol: String,
      n: Int = 1, threshold: Double = 0.8,
      maxDf: Long = Long.MaxValue): DataFrame = {
    val shAll = shingleRows(df, idCol, textCol, n).localCheckpoint(true)
    val nVocab = shAll.agg(countDistinct(col("shingle")))
      .collect()(0).getLong(0)
    if (nVocab <= 62 && maxDf == Long.MaxValue)
      jaccardPairsBitmaskFromRows(shAll, threshold)
        .select(col("id_a"), col("id_b"), col("intersection"),
          col("size_a"), col("size_b"), col("jaccard"))
    else
      jaccardPairsFromRows(shAll, threshold, maxDf)
  }

  // -------------------------------------------------------------------
  // MinHash + LSH
  // -------------------------------------------------------------------

  /** Mersenne prime 2³¹−1 — the modulus of the min-hash family. */
  val MinHashP = 2147483647L

  /** Kirsch–Mitzenmacher hash family (2006, "Less Hashing, Same
    * Performance"): ONE digest per token, K hashes derived as
    * h_i = (h1 + i·h2) mod P from two independent 28-bit halves of the
    * md5. Replaces the earlier md5(token ":" seed) family, which paid K
    * digest instantiations per token row — at 100 TB the MinHash scan
    * is digest-bound (MessageDigest.getInstance per call inside Spark's
    * md5), so this is a ~K× kernel win with the same estimator
    * guarantees (pairwise independence suffices for MinHash). All
    * arithmetic is 64-bit integer — any engine with md5 + substring
    * reproduces it exactly. Projects (doc, h1, h2) plus `keep`. */
  private def kmTokenHashes(toks: DataFrame, keep: Seq[String] = Nil)
      : DataFrame =
    toks
      .select((col("doc") +: keep.map(col) :+ md5(col("tok")).as("_m")): _*)
      .select((col("doc") +: keep.map(col) :+
        conv(substring(col("_m"), 1, 7), 16, 10).cast("long").as("h1") :+
        conv(substring(col("_m"), 8, 7), 16, 10).cast("long").as("h2")): _*)

  /** The i-th Kirsch–Mitzenmacher hash (h1 + i·h2 mod P): h1,h2 < 2²⁸,
    * so h1 + i·h2 stays far below 2⁶³ for any practical K. */
  private def kmHash(i: Int): Column =
    (col("h1") + lit(i.toLong) * col("h2")) % MinHashP

  /** Candidate pairs from banded LSH: (id_a, id_b, shared_bands).
    * All K min-hashes are computed in ONE aggregation over the token rows
    * (K min() columns) rather than a K-way (doc, seed) fan-out — one
    * shuffle less and K× fewer hash evaluations shuffled. Band b's key
    * is md5 of its rowsPerBand signatures joined by "|"; docs agreeing
    * on any band key are candidate near-duplicates. */
  def minHashCandidates(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 8, rowsPerBand: Int = 2, shingleN: Int = 1): DataFrame = {
    require(numHashes % rowsPerBand == 0,
      s"numHashes ($numHashes) must be divisible by rowsPerBand " +
        s"($rowsPerBand) — a partial band would silently be dropped")
    // shingleN > 1 min-hashes word n-gram shingles instead of the unigram
    // token set — order-sensitive, and the defence against low-diversity
    // corpora where every doc's token SET is near-identical (unigram
    // banding then degenerates toward all-pairs; n-gram sets still
    // separate because they encode word order). Two-step projection so
    // the transform lambda doesn't re-tokenize per element.
    val toks = kmTokenHashes(df
      .select(col(idCol).as("doc"),
        TextAnalysis.tokens(col(textCol)).as("_toks"))
      .select(col("doc"),
        explode(shinglesFromToks(col("_toks"), shingleN)).as("tok")))
    val sigCols = (0 until numHashes).map(i =>
      min(kmHash(i)).as(s"sig$i"))
    val wide = toks.groupBy(col("doc")).agg(sigCols.head, sigCols.tail: _*)
    val nBands = numHashes / rowsPerBand
    val bandStructs = (0 until nBands).map { b =>
      val sigs = (b * rowsPerBand until (b + 1) * rowsPerBand)
        .map(i => col(s"sig$i").cast("string"))
      struct(lit(b.toLong).as("band"),
        md5(concat_ws("|", sigs: _*)).as("band_key"))
    }
    val bandKeyCols = (0 until nBands).map(b => col(s"bk$b"))
    val withKeys = wide.select(col("doc") +: (0 until nBands).map(b =>
      bandStructs(b).getField("band_key").as(s"bk$b")): _*)
    // signature classes: docs with identical full band vectors pair in
    // every band (shared_bands = nBands); pair enumeration runs at class
    // level, then expands — dedup-before-pairing, the same candidates.
    val classes = withKeys.groupBy(bandKeyCols: _*)
      .agg(sort_array(collect_list(col("doc"))).as("docs"))
      .withColumn("ck", md5(concat_ws("|", bandKeyCols: _*)))
    val intra = classes.filter(size(col("docs")) > 1)
      .select(explode(col("docs")).as("id_a"), col("docs"))
      .select(col("id_a"), explode(col("docs")).as("id_b"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("shared_bands", lit(nBands.toLong))
    val classBands = classes.select(col("ck"), col("docs"),
        explode(array((0 until nBands).map(b =>
          struct(lit(b.toLong).as("band"), col(s"bk$b").as("band_key"))): _*))
          .as("bk"))
      .select(col("ck"), col("docs"), col("bk.band").as("band"),
        col("bk.band_key").as("band_key"))
    val classPairs = classBands.as("a").join(classBands.as("b"),
        col("a.band") === col("b.band") &&
        col("a.band_key") === col("b.band_key") &&
        col("a.ck") < col("b.ck"))
      .groupBy(col("a.ck").as("ck_a"), col("b.ck").as("ck_b"))
      .agg(count(lit(1)).as("shared_bands"),
        first(col("a.docs")).as("docs_a"), first(col("b.docs")).as("docs_b"))
    val inter = classPairs
      .select(col("shared_bands"), explode(col("docs_a")).as("d1"),
        col("docs_b"))
      .select(col("shared_bands"), col("d1"),
        explode(col("docs_b")).as("d2"))
      .select(least(col("d1"), col("d2")).as("id_a"),
        greatest(col("d1"), col("d2")).as("id_b"), col("shared_bands"))
    intra.select(col("id_a"), col("id_b"), col("shared_bands"))
      .unionByName(inter)
  }

  // -------------------------------------------------------------------
  // SimHash
  // -------------------------------------------------------------------

  /** 60-bit token hash portable across engines: first 15 hex chars of
    * md5, parsed base-16. */
  private def tokHash(tok: Column): Column =
    conv(substring(md5(tok), 1, 15), 16, 10).cast("long")

  /** `bits`-bit SimHash signature per doc over the distinct-token set:
    * bit i of the signature is set iff more token-hashes have bit i set
    * than clear. Returns (doc, simhash). */
  def simHashSignatures(df: DataFrame, idCol: String, textCol: String,
      bits: Int = 32): DataFrame = {
    // ONE partial-aggregated groupBy: per doc, `bits` bit-population sums
    // plus the token count, all codegen'd. Bit i is set iff more token
    // hashes have it set than clear (2·s_i > n ⟺ balance > 0) — same
    // signature as the textbook per-bit balance, without the doc×bit
    // fan-out (bits× row inflation) or the second shuffle.
    val exploded = df.select(col(idCol).as("doc"),
      explode(tokenSet(col(textCol))).as("tok"))
      .select(col("doc"), tokHash(col("tok")).as("h"))
    val aggs = (0 until bits).map(i =>
      sum(expr(s"shiftright(h, $i) & 1")).as(s"s$i")) :+
      count(lit(1)).as("n")
    val sig = (0 until bits).map(i =>
        when(col(s"s$i") * 2 > col("n"), lit(1L << i)).otherwise(0L))
      .reduce(_ + _)
    exploded.groupBy(col("doc")).agg(aggs.head, aggs.tail: _*)
      .select(col("doc"), sig.as("simhash"))
  }

  /** Near-duplicate candidates: split the signature into 8-bit bands,
    * bucket-join, then filter by hamming distance ≤ maxHamming.
    * Any pair within hamming d of a b-band signature shares ≥1 exact band
    * when d < b, so banding loses no candidates at maxHamming ≤ 3. */
  def simHashCandidates(df: DataFrame, idCol: String, textCol: String,
      bits: Int = 32, maxHamming: Int = 3): DataFrame = {
    val sigs = simHashSignatures(df, idCol, textCol, bits)
    val nBands = bits / 8
    // Signature classes: docs with identical signatures are
    // interchangeable, so candidate generation (band join + distinct +
    // hamming filter) runs over DISTINCT signatures only and expands to
    // doc pairs afterwards — the q24 dedup-before-pairing trick. On a
    // self-similar corpus this shrinks the pair-level distinct from
    // O(docPairs) to O(sigPairs).
    // classes feeds five plan branches (banding, two pair joins, intra);
    // materialize once — exchange reuse alone would re-run the final
    // aggregation per consumer
    val classes = sigs.groupBy(col("simhash"))
      .agg(sort_array(collect_list(col("doc"))).as("docs"))
      .localCheckpoint(true)
    val banded = classes.select(col("simhash"),
        explode(sequence(lit(0), lit(nBands - 1))).as("band"))
      .withColumn("band_val", expr("shiftright(simhash, band * 8) & 255"))
    val sigPairs = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") &&
        col("a.band_val") === col("b.band_val") &&
        col("a.simhash") < col("b.simhash"))
      .select(col("a.simhash").as("sig_a"), col("b.simhash").as("sig_b"))
      .distinct()
      .withColumn("hamming", expr("bit_count(sig_a ^ sig_b)"))
      .filter(col("hamming") <= maxHamming)
    val inter = sigPairs
      .join(classes.select(col("simhash").as("sig_a"),
        col("docs").as("docs_a")), Seq("sig_a"))
      .join(classes.select(col("simhash").as("sig_b"),
        col("docs").as("docs_b")), Seq("sig_b"))
      .select(col("hamming"), explode(col("docs_a")).as("d1"),
        col("docs_b"))
      .select(col("hamming"), col("d1"), explode(col("docs_b")).as("d2"))
      .select(least(col("d1"), col("d2")).as("id_a"),
        greatest(col("d1"), col("d2")).as("id_b"), col("hamming"))
    val intra = classes.filter(size(col("docs")) > 1)
      .select(explode(col("docs")).as("id_a"), col("docs"))
      .select(col("id_a"), explode(col("docs")).as("id_b"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        lit(0).cast("int").as("hamming"))
    intra.unionByName(inter)
  }

  /** Shingle-set containment pairs: documents whose entire n-gram set
    * appears inside a strictly larger document's set — the quote/
    * snippet/excerpt duplicates that symmetric Jaccard misses (a short
    * doc embedded in a long one scores low Jaccard but 100%
    * containment). Directional: returns (inner_id, outer_id,
    * size_inner, size_outer) with inner ⊂ outer.
    *
    * Uses the PPJoin-family prefix filter, which is LOSSLESS for
    * containment: if inner ⊆ outer then outer contains every inner
    * shingle — in particular inner's globally RAREST ones — so joining
    * only each doc's two rarest shingles (by corpus document
    * frequency, shingle tie-break) against all shingle rows, and
    * keeping pairs that matched on BOTH, finds every true pair while
    * multiplying the two selectivities (one rare shingle alone is a
    * weak filter on small-vocabulary/templated corpora). Survivors are
    * verified with a native array_intersect against the collected
    * shingle sets — candidate counts are small by then, so the
    * quadratic-ish per-pair check touches few rows. The all-pairs
    * equi-join this replaces is Σ df² — quadratic on templated
    * corpora. The shingle rows materialize once and feed the df-rank,
    * set-collect, and candidate branches. */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = 2, setVerifyMaxShingleRows: Long = 3000000L): DataFrame = {
    val sh = shingleRows(df, idCol, textCol, n).localCheckpoint(true)
    // document frequency as groupBy + join-back (NOT a window over the
    // full shingle rows): AQE broadcasts the df table when the
    // vocabulary is small, and on huge vocabularies it stays a shuffle
    // join on the same key the window would have shuffled on — never
    // worse, often one wide exchange cheaper
    val dfc = sh.groupBy(col("shingle")).agg(count(lit(1)).as("_df"))
    val wRarest = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc")).orderBy(col("_df"), col("shingle"))
    val prefix = sh.join(dfc, Seq("shingle"))
      .withColumn("_rk", row_number().over(wRarest))
      .filter(col("_rk") <= 2)
      .select(col("doc"), col("shingle"))
    val cand = prefix.as("r").join(sh.as("o"),
        col("r.shingle") === col("o.shingle") &&
        col("r.doc") =!= col("o.doc"))
      .groupBy(col("r.doc").as("inner_id"), col("o.doc").as("outer_id"))
      .agg(count(lit(1)).as("_matched"))
    // Two equivalent verify strategies (equality-tested in QualitySpec),
    // chosen by corpus size — the jaccardPairsAdaptive discipline:
    //   - SMALL (shingle rows fit executor memory comfortably): carry
    //     collect_list shingle sets to the candidates and use a native
    //     array_intersect — fewest joins, fastest at bench scale.
    //   - LARGE: the wide set rows become the bottleneck (at the 100×
    //     stress — 600k docs, 25.6M shingle rows — the set-carrying
    //     path spent 42 s in GC and spilled; measured 719 s warm).
    //     Verify JOIN-NATIVE instead: explode each surviving pair by
    //     the inner doc's shingles and probe the outer doc's rows on
    //     (doc, shingle) — narrow rows, O(Σ candidate·|inner|) shuffle,
    //     no wide-row memory cliff, the shape a 1000-executor cluster
    //     partitions cleanly (measured 668 s warm / 27 s GC at 100×,
    //     and degrading smoothly rather than cliffing).
    val nsh = sh.count() // sh is checkpointed — metadata-cheap
    if (nsh <= setVerifyMaxShingleRows) {
      val sets = sh.groupBy(col("doc"))
        .agg(collect_list(col("shingle")).as("set"),
          count(lit(1)).as("sz"))
      cand
        .join(sets.select(col("doc").as("inner_id"),
          col("set").as("_iset"), col("sz").as("size_inner")),
          Seq("inner_id"))
        // a 1-shingle doc has a 1-long prefix — require the full prefix
        .filter(col("_matched") === least(lit(2), col("size_inner")))
        .join(sets.select(col("doc").as("outer_id"),
          col("set").as("_oset"), col("sz").as("size_outer")),
          Seq("outer_id"))
        .filter(col("size_inner") < col("size_outer") &&
          size(array_intersect(col("_iset"), col("_oset"))) ===
            col("size_inner"))
        .select(col("inner_id"), col("outer_id"),
          col("size_inner"), col("size_outer"))
    } else {
      val sizes = sh.groupBy(col("doc")).agg(count(lit(1)).as("sz"))
      val filtered = cand
        .join(sizes.select(col("doc").as("inner_id"),
          col("sz").as("size_inner")), Seq("inner_id"))
        .filter(col("_matched") === least(lit(2), col("size_inner")))
        .join(sizes.select(col("doc").as("outer_id"),
          col("sz").as("size_outer")), Seq("outer_id"))
        .filter(col("size_inner") < col("size_outer"))
      filtered
        .join(sh.select(col("doc").as("inner_id"), col("shingle")),
          Seq("inner_id"))
        .join(sh.select(col("doc").as("outer_id"), col("shingle")),
          Seq("outer_id", "shingle"))
        .groupBy(col("inner_id"), col("outer_id"),
          col("size_inner"), col("size_outer"))
        .agg(count(lit(1)).as("_inter"))
        .filter(col("_inter") === col("size_inner"))
        .select(col("inner_id"), col("outer_id"),
          col("size_inner"), col("size_outer"))
    }
  }

  /** Exact-substring deduplication (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better", arXiv:2107.06499):
    * any `n`-token window whose text occurs in MORE than one document
    * marks its token span as duplicated; per document, report how many
    * token positions fall inside at least one duplicated window and the
    * resulting duplicated fraction. The paper's suffix array is replaced
    * by the Spark-native equivalent: a sliding-window equi-join — one
    * shuffle on the window key — then a position explode + distinct for
    * the span union. Work is linear in corpus tokens × n (the explode
    * factor), never pairwise in documents, so the shape survives 100 TB;
    * the window key could be hashed to a fixed 8 bytes at scale to cap
    * shuffle width (kept as raw text here for oracle portability).
    *
    * Returns (doc_id, n_toks, dup_tokens, dup_frac) for every document
    * with non-blank text; docs shorter than `n` tokens report 0.
    */
  def duplicatedSpans(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    require(n >= 2, s"window must be at least 2 tokens, got $n")
    val base = df
      .filter(length(trim(col(textCol))) > 0)
      .select(col(idCol).as("doc_id"),
        TextAnalysis.tokens(col(textCol)).as("tk"))
      .withColumn("n_toks", size(col("tk")).cast("long"))
    // one window row per start position (1-based, matching SQL slicing)
    val wins = base.filter(col("n_toks") >= n)
      .select(col("doc_id"), col("tk"),
        explode(sequence(lit(1L), col("n_toks") - (n - 1))).as("i"))
      .select(col("doc_id"), col("i"),
        array_join(slice(col("tk"), col("i"), lit(n)), " ").as("win"))
      // THREE consumers (dup keys, the join-back, and the position
      // explode below all reread it) — materialize the explode once
      .localCheckpoint(eager = true)
    val dup = wins.groupBy(col("win"))
      .agg(countDistinct(col("doc_id")).as("_nd"))
      .filter(col("_nd") > 1)
      .select(col("win"))
    val covered = wins.join(dup, Seq("win"))
      .select(col("doc_id"),
        explode(sequence(col("i"), col("i") + (n - 1))).as("p"))
      .distinct()
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("_dup"))
    base.join(covered, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_toks"),
        coalesce(col("_dup"), lit(0L)).as("dup_tokens"),
        round(coalesce(col("_dup"), lit(0L)) / col("n_toks"), 5)
          .as("dup_frac"))
  }

  // -------------------------------------------------------------------
  // Repeated-chunk removal (C4-style boilerplate dedup)
  // -------------------------------------------------------------------

  /** Corpus-level repeated-chunk removal — the C4 "three-sentence"
    * dedup (Raffel et al. 2020 §2.2) at fixed token-chunk granularity:
    * a document is cut into non-overlapping `c`-token chunks, any chunk
    * whose text occurs in more than one document is dropped everywhere
    * it appears (boilerplate: headers, footers, license blocks), and
    * the surviving chunks are re-joined in order. Complements
    * [[duplicatedSpans]], which only *measures* overlapping-window
    * duplication — this one produces the rewritten corpus.
    *
    * Shape at 100 TB: chunking is a per-row explode (no shuffle); the
    * boilerplate set is one groupBy on the chunk key; removal is a
    * left-anti equi-join on the same key, so the exchange is reused.
    * Work is linear in corpus tokens — never pairwise in documents.
    * The reassembly is a per-document sort of ≤ n_chunks elements
    * inside an aggregation buffer (no global sort). At scale the chunk
    * join key would be a fixed-width hash of the text (xxhash64); raw
    * text is kept here so the DuckDB oracle can mirror it exactly.
    *
    * Returns (doc_id, n_chunks, kept_chunks, clean_fp) per non-blank
    * document, where clean_fp = sha256 of the reassembled text (empty
    * string when every chunk was boilerplate) — fingerprint rather than
    * the full rewritten text so the result stays result-set-sized while
    * still certifying the reassembly byte-for-byte.
    */
  def dropRepeatedChunks(df: DataFrame, idCol: String, textCol: String,
      c: Int): DataFrame = {
    require(c >= 2, s"chunk must be at least 2 tokens, got $c")
    val base = df
      .filter(length(trim(col(textCol))) > 0)
      .select(col(idCol).as("doc_id"),
        TextAnalysis.tokens(col(textCol)).as("tk"))
      .withColumn("n_toks", size(col("tk")).cast("long"))
      .withColumn("n_chunks", expr(s"(n_toks + ${c - 1}) div $c"))
    // one row per chunk, 1-based index; slice clamps the final partial
    // chunk on both engines
    val chunks = base
      .select(col("doc_id"), col("tk"),
        explode(sequence(lit(1L), col("n_chunks"))).as("ci"))
      .select(col("doc_id"), col("ci"),
        array_join(
          slice(col("tk"), ((col("ci") - 1) * c + 1).cast("int"), lit(c)),
          " ").as("chunk"))
      // three consumers (boilerplate-set groupBy, the anti-join, and
      // the per-doc totals) reread the explode — materialize it once
      .localCheckpoint(eager = true)
    val boiler = chunks.groupBy(col("chunk"))
      .agg(countDistinct(col("doc_id")).as("_nd"))
      .filter(col("_nd") > 1)
      .select(col("chunk"))
    val kept = chunks.join(boiler, Seq("chunk"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("kept_chunks"),
        array_join(
          transform(
            array_sort(collect_list(struct(col("ci"), col("chunk")))),
            s => s.getField("chunk")),
          " ").as("_clean"))
    // per-doc totals from the materialized chunk rows (ci covers
    // 1..n_chunks for every non-blank doc, so max(ci) = n_chunks) —
    // joining back through `base` would re-tokenize the whole corpus
    val totals = chunks.groupBy(col("doc_id"))
      .agg(max(col("ci")).as("n_chunks"))
    totals.join(kept, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_chunks"),
        coalesce(col("kept_chunks"), lit(0L)).as("kept_chunks"),
        sha2(coalesce(col("_clean"), lit("")), 256).as("clean_fp"))
  }

  /** Edit-similarity-verified near-duplicates: MinHash-banded LSH over
    * word `shingleN`-gram shingles proposes candidate pairs, then a
    * character-level Levenshtein verify confirms them — the NearDup
    * shape (Lee et al. 2022 define near-dup by edit similarity and
    * generate candidates with 5-gram MinHash; LSH makes it tractable
    * by never comparing non-candidates). Candidates MUST come from
    * n-gram shingles, not unigram token sets: on a low-diversity
    * corpus every doc's token set is near-identical and unigram
    * banding degenerates to all-pairs (measured: 7.6M of a possible
    * 12.5M pairs on the sf0.1 corpus vs 260 with 5-grams), which
    * would put the O(len²) DP on corpus² pairs. Both engines'
    * `levenshtein` is the same classic integer DP, so the verify is
    * exactly portable; similarity is integer ppm of the longer side:
    * sim = (maxlen − lev)·10⁶ div maxlen.
    *
    * The DP is O(len²) per pair, so the verify runs on the first
    * `prefixLen` characters — a deliberate, documented bound (the
    * published pipelines bound this too; RETSim replaces the DP with
    * embeddings for exactly this reason). Cost per pair is thereby
    * constant, and total cost is candidates × prefixLen², never
    * corpus².
    *
    * Returns (id_a, id_b, lev, sim_ppm) for candidates with
    * sim_ppm ≥ minSimPpm, ordered by (id_a, id_b).
    */
  def editSimPairs(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 8, rowsPerBand: Int = 4, prefixLen: Int = 160,
      minSimPpm: Long = 500000L, shingleN: Int = 5): DataFrame = {
    val txt = df.select(col(idCol).as("id"),
      substring(trim(col(textCol)), 1, prefixLen).as("t"))
    minHashCandidates(df, idCol, textCol, numHashes, rowsPerBand, shingleN)
      .join(txt.select(col("id").as("id_a"), col("t").as("ta")), "id_a")
      .join(txt.select(col("id").as("id_b"), col("t").as("tb")), "id_b")
      .withColumn("lev", levenshtein(col("ta"), col("tb")))
      .withColumn("mx", greatest(length(col("ta")), length(col("tb"))))
      .filter(col("mx") > 0)
      .withColumn("sim_ppm", expr("(mx - lev) * 1000000L div mx"))
      .filter(col("sim_ppm") >= minSimPpm)
      .select(col("id_a"), col("id_b"), col("lev").cast("long").as("lev"),
        col("sim_ppm"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Winnowing fingerprint selection (Schleimer, Wilkerson & Aiken
    * 2003, "Winnowing: Local Algorithms for Document Fingerprinting" —
    * the MOSS algorithm): hash every word k-gram, slide a window of w
    * consecutive hashes, keep each window's MINIMUM — a deterministic
    * ~2/(w+1) sample of positions with the paper's guarantee that any
    * shared token run of length ≥ w+k−1 shares at least one selected
    * fingerprint (unlike MinHash there are NO probabilistic misses).
    * Values only, not positions: equal 60-bit hashes ⇒ same k-gram
    * (for cross-doc matching the value set suffices; the paper's
    * positions locate matches within a doc, which [[duplicatedSpans]]
    * already covers exactly).
    *
    * Selection runs as ONE imperative pass per document inside
    * `mapPartitions` — row-local, zero shuffles, O(len·w) per doc,
    * one digest instance per partition. A pure-Catalyst formulation
    * (transform over sequence + array_min(slice)) is a trap here:
    * `InferFiltersFromGenerate` synthesizes `size(fps) > 0` from the
    * explode and pushdown re-inlines the WHOLE selection (with the
    * k-gram hash array nested per window element — O(len²) digests)
    * into a per-row Filter; measured 155 s vs < 2 s at sf0.1 for the
    * same output. The hash is bit-identical to the SQL mirror:
    * first 15 hex chars of md5(k-gram), parsed base-16 (60 bits).
    * Docs with < k+w−1 tokens have no full window and yield no rows
    * (documented; the guarantee is vacuous below the match length
    * anyway). Returns (doc, shingle) rows with distinct selected hash
    * values, [[dfCapped]]-compatible. The id column must be numeric.
    */
  def winnowRows(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3, w: Int = 4): DataFrame = {
    require(k >= 1 && w >= 2, s"need k >= 1, w >= 2 (got k=$k, w=$w)")
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long").as("doc"),
        TextAnalysis.tokens(col(textCol)).as("tk"))
      .filter(size(col("tk")) >= k + w - 1)
      .as[(Long, Seq[String])]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { case (doc, tkSeq) =>
          val tk = tkSeq.toArray
          val n = tk.length - k + 1
          val h = new Array[Long](n)
          var i = 0
          while (i < n) {
            val dig = md.digest(
              tk.slice(i, i + k).mkString(" ").getBytes("UTF-8"))
            // first 15 hex chars = bytes 0-6 + high nibble of byte 7
            var v = 0L
            var b = 0
            while (b < 7) { v = (v << 8) | (dig(b) & 0xffL); b += 1 }
            h(i) = (v << 4) | ((dig(7) & 0xf0L) >> 4)
            i += 1
          }
          val sel = scala.collection.mutable.LinkedHashSet.empty[Long]
          var s = 0
          while (s <= n - w) {
            var m = h(s)
            var j = s + 1
            while (j < s + w) { if (h(j) < m) m = h(j); j += 1 }
            sel += m
            s += 1
          }
          sel.iterator.map(v => (doc, v))
        }
      }
      .toDF("doc", "shingle")
  }

  /** Candidate near-dup pairs from winnowing fingerprints: docs sharing
    * ≥ `minShared` selected values, counted via the fingerprint
    * equi-join (docs sharing none never meet). The join input is the
    * winnowed ~2/(w+1) sample of the k-gram rows — same linear shape
    * as the shingle join, several× smaller, with [[dfCapped]] as the
    * boilerplate-fingerprint skew guard. Returns
    * (id_a, id_b, shared_fps), ordered. */
  def winnowPairs(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3, w: Int = 4, minShared: Long = 2L,
      maxDf: Long = 1000L): DataFrame = {
    val rows = dfCapped(winnowRows(df, idCol, textCol, k, w), maxDf)
      .localCheckpoint(eager = true) // both join sides read it
    rows.as("a").join(rows.as("b"),
        col("a.shingle") === col("b.shingle") &&
          col("a.doc") < col("b.doc"))
      .groupBy(col("a.doc").as("id_a"), col("b.doc").as("id_b"))
      .agg(count(lit(1)).as("shared_fps"))
      .filter(col("shared_fps") >= minShared)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Split-document continuation detection: doc A's LAST m tokens equal
    * doc B's FIRST m tokens ⇒ B plausibly continues A — the ingestion
    * artifact where pagination/chunked scraping splits one document
    * into several records (the repair is concatenation, the inverse of
    * chunking; cf. the overlap heuristics in shard-stitching/pagination
    * cleanup). One md5 boundary fingerprint per side, one equi-join on
    * it — linear at any scale; [[dfCapped]] guards both sides against
    * boilerplate boundaries (a shared header/footer would otherwise
    * cross-product). Head and tail must not overlap (needs ≥ 2m
    * tokens). Returns (prev_id, next_id, boundary_fp), ordered. */
  def continuationPairs(df: DataFrame, idCol: String, textCol: String,
      m: Int = 4, maxDf: Long = 100L): DataFrame = {
    require(m >= 1, s"boundary length m must be positive ($m)")
    val base = df
      .select(col(idCol).as("doc"),
        TextAnalysis.tokens(col(textCol)).as("tk"))
      .filter(size(col("tk")) >= 2 * m)
    val tails = dfCapped(base.select(col("doc"),
      md5(concat_ws(" ", slice(col("tk"), -m, m))).as("shingle")), maxDf)
    val heads = dfCapped(base.select(col("doc"),
      md5(concat_ws(" ", slice(col("tk"), 1, m))).as("shingle")), maxDf)
    tails.as("a").join(heads.as("b"),
        col("a.shingle") === col("b.shingle") &&
          col("a.doc") =!= col("b.doc"))
      .select(col("a.doc").as("prev_id"), col("b.doc").as("next_id"),
        col("a.shingle").as("boundary_fp"))
      .orderBy(col("prev_id"), col("next_id"))
  }

  /** Cross-source duplication matrix — WHERE duplicates come from, the
    * diagnostic that decides which feed to dedup against which. For
    * every pair of sources (src_a ≤ src_b) counts the normalized-text
    * fingerprints shared by both (diagonal entries: fingerprints with
    * ≥ 2 docs inside ONE source). A mirror-heavy crawl shows up as a
    * hot off-diagonal cell; boilerplate inside one feed as a hot
    * diagonal one.
    *
    * Scale shape: one groupBy on (fingerprint, source) — the only
    * corpus-sized shuffle — then a self-equi-join on the fingerprint
    * key over the already-aggregated table (both sides reuse the same
    * exchange) and a final groupBy over ≤ |sources|² keys. Nothing is
    * ever all-pairs over documents.
    *
    * `prefixTokens` = 0 fingerprints the whole normalized text (exact
    * duplication); k > 0 fingerprints only the first k lowercase
    * tokens — the shared-leading-boilerplate variant that catches
    * feeds stamping the same template header on distinct bodies.
    *
    * Returns (src_a, src_b, n_dup_fps) ordered by (src_a, src_b).
    */
  def dupSourceMatrix(df: DataFrame, idCol: String, textCol: String,
      srcCol: String, prefixTokens: Int = 0): DataFrame = {
    val fp =
      if (prefixTokens <= 0) TextAnalysis.fingerprint(col(textCol))
      else md5(concat_ws(" ",
        slice(TextAnalysis.tokens(lower(col(textCol))), 1, prefixTokens)))
    val perSrc = df.filter(length(trim(col(textCol))) > 0)
      .select(fp.as("fp"), col(srcCol).as("src"))
      .groupBy(col("fp"), col("src")).agg(count(lit(1)).as("n"))
    val cross = perSrc.as("a")
      .join(perSrc.as("b"), col("a.fp") === col("b.fp") &&
        col("a.src") < col("b.src"))
      .select(col("a.src").as("src_a"), col("b.src").as("src_b"))
    val within = perSrc.filter(col("n") >= 2)
      .select(col("src").as("src_a"), col("src").as("src_b"))
    // each input row is already unique per (fp, src_a, src_b), so a
    // plain count counts distinct shared fingerprints
    cross.union(within)
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_dup_fps"))
      .orderBy(col("src_a"), col("src_b"))
  }

  /** Per-document n-gram uniqueness — the memorization-risk /
    * novelty score: what fraction (ppm) of a document's distinct
    * n-gram shingles appear in NO other document. Unique-heavy
    * documents carry content the model can only learn here (high
    * value, high memorization risk); unique-poor documents are
    * recombinations of corpus boilerplate.
    *
    * Scale shape: distinct (doc, shingle) rows, one groupBy on the
    * shingle key for document frequencies, one equi-join back on the
    * same key (exchange reused), one groupBy on the doc key.
    * Boilerplate mega-shingles skew the join-back key — AQE skew
    * splitting handles it (the df value is identical across split
    * partitions), and integer ppm keeps the score exact.
    *
    * Returns (doc, n_shingles, n_unique, uniq_ppm) ordered by doc;
    * documents with fewer than `n` tokens have no shingles and no row.
    */
  def shingleUniqueness(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    // sh feeds the df aggregation AND the join probe — materialize so
    // the shingle generation + distinct shuffle run once
    val sh = shingleRows(df, idCol, textCol, n).distinct()
      .localCheckpoint(eager = true)
    val dfreq = sh.groupBy(col("shingle"))
      .agg(count(lit(1)).as("df"))
    sh.join(dfreq, Seq("shingle"))
      .groupBy(col("doc"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_unique"))
      .select(col("doc"), col("n_shingles"), col("n_unique"),
        expr("n_unique * 1000000L div n_shingles").as("uniq_ppm"))
      .orderBy(col("doc"))
  }

  /** Suffix-array prefix doubling (Manber & Myers 1990), the machinery
    * behind exact-substring training-data dedup (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better"):
    * after round i, every suffix carries a DENSE RANK identifying its
    * first 2^i tokens (doc-terminated — suffixes never cross document
    * boundaries, so (doc_id, p) is the position key and the shift
    * lookup is a within-doc lead() over the doc-partitioned layout).
    * Each round re-ranks (rank, rank-at-p+k) pairs with a single hash
    * groupBy (min-position representative, see below) plus one
    * relabel join — two corpus exchanges per round, no distributed
    * sort, NEVER a single-task global window — the canonical
    * out-of-core suffix-array construction with the dense ordinal
    * replaced by an injective group id.
    *
    * Returns the duplicated-prefix profile, one row per level
    * k ∈ {1, 2, 4, …, 2^doublings}: how many token positions start a
    * k-token run that appears elsewhere in the corpus (the Lee et al.
    * "fraction of corpus in duplicated substrings" measurement), how
    * many distinct duplicated runs there are, and the largest
    * duplicate group with its lexicographically-first occurrence.
    * Columns: (k, dup_positions, dup_groups, distinct_groups,
    * top_group_size, top_doc, top_p), ordered by k.
    */
  def suffixDoublingProfile(df: DataFrame, idCol: String,
      textCol: String, doublings: Int): DataFrame = {
    require(doublings >= 1 && doublings <= 10,
      s"doublings ($doublings) out of the sane unrolled range")
    val spark = df.sparkSession
    import spark.implicits._
    val toks = df.select(col(idCol).as("doc_id"),
        posexplode(TextAnalysis.tokens(col(textCol)))
          .as(Seq("p", "tok")))
      .select(col("doc_id"), col("p").cast("long").as("p"), col("tok"))
      .localCheckpoint(eager = true)
    // Rank = the group's MIN POSITION (doc-ordered struct), not a
    // dense ordinal. The profile depends only on rank GROUP
    // PARTITIONS (the Scaladoc contract above; the level stats group
    // by r and never order by it), so any injective group id works —
    // and a min-representative id needs one hash groupBy per round
    // where a dense rank needs a distributed SORT (range partition +
    // local sort + zipWithIndex: a sampling barrier plus a skew-
    // sensitive exchange, per round, at corpus scale). The DuckDB
    // oracle keeps DENSE_RANK; group identity is what the outputs
    // read, so the engines still agree bit-for-bit.
    //
    // The group tables (vr, per-round dr) carry the group SIZE too:
    // every per-level statistic reads off the ONE-ROW-PER-GROUP
    // frame, not the corpus-sized rank table — the round-12 change
    // that deletes a whole corpus groupBy(r) + checkpoint per level
    // (guide §2.4). Legal because r is injective over groups (min
    // positions of disjoint position sets are distinct) and the min
    // position of a group IS its representative, so (r, sz) on the
    // group table equals (rep, sz) of the old rank-side aggregation.
    //
    // Round 13: the group table is LAZY and the level statistics ride
    // the rank-update job as `observe` metrics on it, so each level
    // runs ONE job (the rank checkpoint) where it ran four (group
    // checkpoint, rank checkpoint, stats checkpoint, head probe) —
    // and the stats pass's extra scan of the group table is gone
    // (guide §1.2). A metric miss falls back to re-running the level
    // aggregation as its own job — one extra job, never correctness
    // (the round-12 q136 lesson).
    val vr = toks.groupBy(col("tok"))
      .agg(min(struct(col("doc_id"), col("p"))).as("r"),
        count(lit(1)).as("sz"))
    // the level-stats aggregate expressions over a one-row-per-group
    // (r, sz) frame; top pick = max over (sz, −doc, −p), i.e. largest
    // group with the lexicographically-FIRST representative on ties —
    // identical to the old orderBy(sz desc, rep).limit(1)
    def statCols: Seq[Column] = Seq(
      count(lit(1)).as("distinct_groups"),
      coalesce(sum(when(col("sz") >= 2, col("sz"))), lit(0L))
        .as("dup_positions"),
      count(when(col("sz") >= 2, lit(1))).as("dup_groups"),
      max(when(col("sz") >= 2,
        struct(col("sz").as("sz"), (-col("r.doc_id")).as("nd"),
          (-col("r.p")).as("np")))).as("t"))
    // the per-level profile as DRIVER values (bounded: ≤ doublings+1
    // rows of 7 longs — the q321/q332 driver-bounded-assembly class);
    // assembled into the result frame once at the end
    case class Lvl(k: Long, dupPositions: Long, dupGroups: Long,
      distinctGroups: Long, topSize: Long, topDoc: Long, topP: Long)
    def lvlOf(lvl: Long, row: org.apache.spark.sql.Row): Lvl = {
      val t = if (row.isNullAt(row.fieldIndex("t"))) null
        else row.getStruct(row.fieldIndex("t"))
      Lvl(lvl,
        row.getAs[Long]("dup_positions"),
        row.getAs[Long]("dup_groups"),
        row.getAs[Long]("distinct_groups"),
        if (t == null) 0L else t.getAs[Long]("sz"),
        if (t == null) -1L else -t.getAs[Long]("nd"),
        if (t == null) -1L else -t.getAs[Long]("np"))
    }
    // rank rides a (doc_id)-hash / (doc_id, p)-sorted layout through
    // the checkpoint (LogicalRDD keeps partitioning AND ordering), so
    // each round's shift lookup is a zero-exchange, zero-sort lead()
    // window instead of the former corpus self-join on (doc_id, p) —
    // positions are dense per doc (posexplode), so the row `shift`
    // ahead in p-order IS position p + shift (guide §2.4).
    // The level-1 stats ride this one job as observe metrics on vr.
    val vrObs = vr.observe("graft_sd_lvl1", statCols.head,
      statCols.tail: _*)
    val rank0 = toks.join(vrObs.select(col("tok"), col("r")), Seq("tok"))
      .select(col("doc_id"), col("p"), col("r"))
      .repartition(col("doc_id"))
      .sortWithinPartitions(col("doc_id"), col("p"))
    var rank = rank0.localCheckpoint(eager = true)
    var stats = lvlOf(1L, graft.ops.Iterate.observed(rank0,
      "graft_sd_lvl1")(vr.agg(statCols.head, statCols.tail: _*).head()))
    val levels = scala.collection.mutable.ArrayBuffer(stats)
    var k = 1L
    // EARLY EXIT, two tiers (round-10 stretch, widened round 12), both
    // bit-identical to the full unroll (the DuckDB oracle runs every
    // round; the correctness gate would catch any divergence):
    //  (a) dup_groups == 0 — every rank unique; a dense rank over
    //      distinct (ra, rb) keys with distinct ra is a bijection, so
    //      ranks stay distinct forever.
    //  (b) REFINEMENT FIXPOINT — distinct_groups unchanged from the
    //      previous level. Doubling only ever SPLITS classes, so an
    //      unchanged count means ≡_{2k} = ≡_k as partitions; then for
    //      any p ≡_{2k} q: the halves give p+k ≡_k q+k, the hypothesis
    //      lifts that to p+k ≡_{2k} q+k, so p, q agree on 3k tokens,
    //      and p+2k ≡_k q+2k lifts the same way to 4k — by induction
    //      the suffixes are FULLY equal and every later level's
    //      profile row (groups, sizes, min-reps) is identical. This is
    //      the exit that fires on corpora with exact duplicates
    //      (duplicated full suffixes keep dup_groups > 0 forever, but
    //      the partition freezes once 2^i clears the max LCP between
    //      DISTINCT suffixes — 3-5 rounds on real text, Lee 2022 §4).
    // Each probe reads the observe row the level's one job already
    // collected — free. Spec-pinned in Round11Spec + Round12Spec.
    var prevDistinct = stats.distinctGroups
    var converged = stats.dupGroups == 0L
    for (lvl <- 1 to doublings) {
      k *= 2
      if (converged) {
        levels += stats.copy(k = k)
      } else {
        // (-1, -1) is the "no suffix at p+k" sentinel — impossible as
        // a real min-position representative (p >= 0). lead() past the
        // doc's last position yields null → the sentinel, exactly the
        // rows the old (doc_id, p) left_outer self-join left unmatched.
        val wDoc = org.apache.spark.sql.expressions.Window
          .partitionBy(col("doc_id")).orderBy(col("p"))
        val paired = rank.select(col("doc_id"), col("p"),
          col("r").as("a"),
          coalesce(lead(col("r"), (k / 2).toInt).over(wDoc),
            struct(lit(-1L).as("doc_id"), lit(-1L).as("p"))).as("b"))
        // paired is a zero-exchange projection over the checkpointed
        // rank (layout satisfies the window), so its two consumers
        // below recompute it for the price of a scan — no checkpoint
        val dr = paired.groupBy(col("a"), col("b"))
          .agg(min(struct(col("doc_id"), col("p"))).as("r"),
            count(lit(1)).as("sz"))
        if (lvl == doublings) {
          // FINAL level: the updated rank table would never be
          // consumed — the former code still paid its corpus join +
          // doc repartition + sort + checkpoint. Run the level
          // aggregation as its own 1-row job instead.
          stats = lvlOf(k, dr.agg(statCols.head, statCols.tail: _*)
            .head())
        } else {
          // SHUFFLE_HASH: dr (one row per group) is the build side;
          // the default sort-merge would re-sort the corpus-sized
          // paired by (a, b) for nothing (guide §3.1). The level
          // stats ride the same job as observe metrics on dr.
          val name = s"graft_sd_lvl$k"
          val drObs = dr.observe(name, statCols.head, statCols.tail: _*)
          val rank1 = paired
            .join(drObs.select(col("a"), col("b"), col("r"))
              .hint("shuffle_hash"), Seq("a", "b"))
            .select(col("doc_id"), col("p"), col("r"))
            .repartition(col("doc_id"))
            .sortWithinPartitions(col("doc_id"), col("p"))
          rank = rank1.localCheckpoint(eager = true)
          stats = lvlOf(k, graft.ops.Iterate.observed(rank1, name)(
            dr.agg(statCols.head, statCols.tail: _*).head()))
        }
        levels += stats
        converged = stats.dupGroups == 0L ||
          stats.distinctGroups == prevDistinct
        prevDistinct = stats.distinctGroups
      }
    }
    levels.toSeq.map(l => (l.k, l.dupPositions, l.dupGroups,
        l.distinctGroups, l.topSize, l.topDoc, l.topP))
      .toDF("k", "dup_positions", "dup_groups", "distinct_groups",
        "top_group_size", "top_doc", "top_p")
      .orderBy(col("k"))
  }
}
