package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * Three engine families:
  *   - brute-force cosine top-k: broadcast the (small) query set against
  *     the corpus — exact, one pass over the corpus, no shuffle of the
  *     corpus side. The right baseline whenever |queries| ≪ |corpus|.
  *   - WTA comparison-bit LSH: 'planes'-bit signature per vector whose
  *     bits are raw element comparisons (no float arithmetic);
  *     bucket-join on signature bands, re-rank candidates exactly. At
  *     100 TB the bucket join replaces the corpus-wide scan per query
  *     (recall tunable via bands/planes), and the signatures are
  *     bit-identical on any engine, so results oracle exactly.
  *   - IVF: nearest-centroid assignment + nprobe-pruned search — the
  *     partition-pruned ANN layout for a centroid-partitioned corpus.
  *
  * All math in double precision column expressions (`zip_with` +
  * `aggregate` fold = deterministic left-to-right summation).
  */
object Similarity {

  /** Elementwise dot product of two double arrays. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column =
    sqrt(aggregate(transform(a, x => x * x), lit(0.0), (acc, v) => acc + v))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Native-expression cosine (graft.functions.CosineSimilarity): one
    * fused codegen loop, numerically identical to
    * dot/(norm·norm) with left-to-right accumulation. */
  def cosineFast(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftBridge.column(
      graft.functions.CosineSimilarity(
        org.apache.spark.sql.GraftBridge.expression(a),
        org.apache.spark.sql.GraftBridge.expression(b)))

  /** `round(cosineFast(a, b), roundTo)` keeping the sign of a rounded
    * zero, as DuckDB's round does: Spark's round turns a cosine in
    * (−0.5·10^−roundTo, 0) into +0.0 where DuckDB gives −0.0. Every
    * non-zero rounded value already carries the cosine's sign, so
    * |rounded| · signum(cosine) changes only those zeros. */
  def roundedCosine(a: Column, b: Column, roundTo: Int): Column = {
    val c = cosineFast(a, b)
    abs(round(c, roundTo)) * signum(c)
  }

  /** Native-expression integer dot product over array<bigint>
    * (graft.functions.IntDotProduct) — the exact, order-independent
    * scoring kernel for int8-quantized vectors ([[quantizeInt8]]). */
  def intDot(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftBridge.column(
      graft.functions.IntDotProduct(
        org.apache.spark.sql.GraftBridge.expression(a),
        org.apache.spark.sql.GraftBridge.expression(b)))

  private def asDouble(c: Column): Column = c.cast("array<double>")

  /** Exact cosine top-k: for each query vector, the k nearest corpus
    * vectors (excluding itself). Query side must be small (broadcast).
    * Returns (query_id, neighbor_id, sim, rank); sim rounded to
    * `roundTo` decimals for cross-engine determinism in rank ties.
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int, roundTo: Int = 5): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      asDouble(col(vecCol)).as("qv")))
    val c = corpus.select(col(idCol).as("neighbor_id"),
      asDouble(col(vecCol)).as("cv"))
    val scored = q.join(c, col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", roundedCosine(col("qv"), col("cv"), roundTo))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("sim"), col("rank"))
  }

  // -------------------------------------------------------------------
  // WTA (winner-take-all style) comparison-bit LSH: bit p of the
  // signature is `v[a_p] > v[b_p]` for a fixed md5-derived dim-pair
  // table. No floating-point arithmetic in the hash — raw element
  // comparisons only — so signatures are bit-identical across engines
  // (a random-hyperplane projection's sum order is not). Rank-order
  // hashes of this family appear in Yagnik et al., "The Power of
  // Comparative Reasoning" (ICCV 2011).
  // -------------------------------------------------------------------

  /** Deterministic dim-pair table: pair p compares dims (a_p, b_p),
    * derived from md5 so any engine (or the oracle SQL) can reproduce
    * it as literals. */
  def wtaPairs(planes: Int, dims: Int): Seq[(Int, Int)] = {
    def h(s: String): Int = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      (((d(0) & 0xff) << 24) | ((d(1) & 0xff) << 16) |
        ((d(2) & 0xff) << 8) | (d(3) & 0xff)) >>> 1
    }
    (0 until planes).map { p =>
      val a = h(s"a:$p") % dims
      val b0 = h(s"b:$p") % dims
      val b = if (b0 == a) (b0 + 1) % dims else b0
      (a, b)
    }
  }

  /** `planes`-bit comparison signature over a vector column (1-based
    * element_at, matching SQL list indexing). */
  def wtaSignature(vec: Column, pairs: Seq[(Int, Int)]): Column =
    pairs.zipWithIndex.map { case ((a, b), p) =>
      when(element_at(vec, a + 1) > element_at(vec, b + 1),
        lit(1L << p)).otherwise(0L)
    }.reduce(_ + _)

  /** Candidate pairs sharing ≥1 signature band (id_a < id_b). */
  def wtaCandidates(df: DataFrame, idCol: String, vecCol: String,
      planes: Int, bandBits: Int, dims: Int): DataFrame = {
    require(planes % bandBits == 0,
      s"planes ($planes) must be divisible by bandBits ($bandBits) — " +
        "leftover high bits would silently never be banded")
    val pairs = wtaPairs(planes, dims)
    val sigs = df.select(col(idCol).as("vid"),
      wtaSignature(col(vecCol), pairs).as("sig"))
    val nBands = planes / bandBits
    val banded = sigs.select(col("vid"), col("sig"),
        explode(sequence(lit(0), lit(nBands - 1))).as("band"))
      .withColumn("band_val",
        expr(s"shiftright(sig, band * $bandBits) & ${(1 << bandBits) - 1}"))
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") &&
        col("a.band_val") === col("b.band_val") &&
        col("a.vid") < col("b.vid"))
      .select(col("a.vid").as("id_a"), col("b.vid").as("id_b"))
      .distinct()
  }

  /** Multiprobe WTA candidates: besides its exact bucket, every vector
    * PROBES the `bandBits` Hamming-1 neighbors of each band value (Lv
    * et al., VLDB'07). Catches near-neighbors that a single comparison
    * bit flipped into an adjacent bucket — recall rises without adding
    * hash tables, at a constant (1 + bandBits)× probe fan-out instead
    * of another full corpus pass per table. XOR probing is symmetric
    * (a sees b's bucket iff b sees a's), so `id_a < id_b` + distinct
    * still enumerates each pair once. */
  def wtaMultiprobeCandidates(df: DataFrame, idCol: String, vecCol: String,
      planes: Int, bandBits: Int, dims: Int): DataFrame = {
    require(planes % bandBits == 0,
      s"planes ($planes) must be divisible by bandBits ($bandBits)")
    val pairs = wtaPairs(planes, dims)
    val sigs = df.select(col(idCol).as("vid"),
      wtaSignature(col(vecCol), pairs).as("sig"))
    val nBands = planes / bandBits
    val banded = sigs.select(col("vid"), col("sig"),
        explode(sequence(lit(0), lit(nBands - 1))).as("band"))
      .withColumn("band_val",
        expr(s"shiftright(sig, band * $bandBits) & ${(1 << bandBits) - 1}"))
    // probe j = -1 is the exact bucket; j >= 0 flips bit j
    val probes = banded
      .withColumn("j", explode(sequence(lit(-1), lit(bandBits - 1))))
      .withColumn("probe_val", expr(
        "case when j < 0 then band_val " +
          "else cast(band_val as bigint) ^ shiftleft(1L, j) end"))
    probes.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") &&
        col("a.probe_val") === col("b.band_val") &&
        col("a.vid") < col("b.vid"))
      .select(col("a.vid").as("id_a"), col("b.vid").as("id_b"))
      .distinct()
  }

  /** Approximate top-k over an arbitrary candidate set + exact cosine
    * re-rank (shared by the single-probe and multiprobe paths).
    *
    * Each UNDIRECTED candidate pair is scored ONCE and the slim scored
    * rows mirrored afterwards. The earlier form mirrored the pairs
    * FIRST and joined vectors to the directed set: that doubled the
    * array-payload re-rank join AND — because a DataFrame union
    * evaluates each branch independently (no cross-branch subtree
    * reuse) — re-ran the whole candidate-generation join a second
    * time. At sf10 (200k vectors, bandBits 14 ⇒ 15 probes/band) that
    * was the dominant cost of q253. Bit-identical by symmetry:
    * cosineFast's dot is Σ xᵢ·yᵢ in index order (per-term IEEE-754
    * multiply is commutative) and the norm product multiplies two
    * sqrts, so swapping the operands reproduces the same double. The
    * checkpoint is a terminal slim materialization (3 cols), never
    * re-joined iteratively (Iterate.scala rule). */
  def candidateTopK(df: DataFrame, idCol: String, vecCol: String,
      cands: DataFrame, k: Int, roundTo: Int): DataFrame = {
    val v = df.select(col(idCol).as("vid"), asDouble(col(vecCol)).as("vec"))
    val scoredOnce = cands.select(col("id_a"), col("id_b"))
      .join(v.toDF("id_a", "qv"), Seq("id_a"))
      .join(v.toDF("id_b", "cv"), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        roundedCosine(col("qv"), col("cv"), roundTo).as("sim"))
      .localCheckpoint(eager = true)
    val scored = scoredOnce.select(col("id_a").as("query_id"),
        col("id_b").as("neighbor_id"), col("sim"))
      .unionByName(scoredOnce.select(col("id_b").as("query_id"),
        col("id_a").as("neighbor_id"), col("sim")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("sim"), col("rank"))
  }

  /** Approximate top-k from WTA candidates + exact cosine re-rank.
    * Deterministic end-to-end → exactly reproducible by the DuckDB
    * oracle (see q29). */
  def wtaTopK(df: DataFrame, idCol: String, vecCol: String, k: Int,
      planes: Int, bandBits: Int, dims: Int, roundTo: Int = 5): DataFrame = {
    val cands = wtaCandidates(df, idCol, vecCol, planes, bandBits, dims)
    candidateTopK(df, idCol, vecCol, cands, k, roundTo)
  }

  /** Multiprobe variant of [[wtaTopK]] — same re-rank over the
    * Hamming-1-probed candidate set. */
  def wtaMultiprobeTopK(df: DataFrame, idCol: String, vecCol: String,
      k: Int, planes: Int, bandBits: Int, dims: Int, roundTo: Int = 5)
      : DataFrame =
    candidateTopK(df, idCol, vecCol,
      wtaMultiprobeCandidates(df, idCol, vecCol, planes, bandBits, dims),
      k, roundTo)

  /** Corpus-sized band width: the smallest `b` with `2^b` buckets per
    * band holding `(n-1)/targetOccupancy < 2^b`, i.e. average bucket
    * occupancy stays UNDER `targetOccupancy` as the corpus grows —
    * the standard LSH sizing rule (bandBits ≈ log₂(n/occupancy)). A
    * FIXED signature width is the classic scale trap this closes: at
    * 10× the corpus, 2^8 buckets hold 10× the vectors, candidate
    * pairs grow with occupancy² per bucket, and the "constant-fan-out"
    * probe structure goes quadratic (round-7 q240: 15× runtime at 10×
    * data). Integer-exact bit-length derivation (no float log2) so the
    * DuckDB oracle reproduces the same width from the same COUNT(*).
    * Clamped to [4, 15] — 2 bands × 15 bits stays inside one long. */
  def sizedBandBits(n: Long, targetOccupancy: Int = 16): Int = {
    val q = math.max(1L, (math.max(n, 2L) - 1L) / targetOccupancy)
    val bits = 64 - java.lang.Long.numberOfLeadingZeros(q)
    math.min(15, math.max(4, bits))
  }

  /** [[wtaMultiprobeTopK]] with the signature width derived from the
    * corpus size (one cheap metadata count) via [[sizedBandBits]] —
    * the scale-safe default: bucket occupancy, and therefore candidate
    * volume per vector, stays bounded as n grows. Two bands always;
    * recall knobs are `targetOccupancy` (bigger ⇒ more candidates,
    * higher recall) and the Hamming-1 probes. */
  def wtaMultiprobeTopKSized(df: DataFrame, idCol: String, vecCol: String,
      k: Int, dims: Int, targetOccupancy: Int = 16, roundTo: Int = 5)
      : DataFrame = {
    val bb = sizedBandBits(df.count(), targetOccupancy)
    wtaMultiprobeTopK(df, idCol, vecCol, k, planes = 2 * bb,
      bandBits = bb, dims = dims, roundTo = roundTo)
  }

  /** The COMPOSED serving path — sized-LSH candidates + exact re-rank,
    * wired end-to-end as one operator (the "100× answer" for the
    * brute-force retrievers q25/q263/q279, previously only prose):
    * candidate generation via the corpus-sized multiprobe WTA banding
    * (bucket occupancy bounded by [[sizedBandBits]] at ANY corpus
    * size), candidates restricted to the `query_id % queryMod == 0`
    * serving sample BEFORE the re-rank join (the corpus side still
    * bands in full — that is the index build — but the
    * candidate×vector re-rank join is sample-sized), exact cosine
    * top-k over each query's candidate list only.
    *
    * Returns per served query: (query_id, rk, neighbor_id, sim,
    * n_cand) where n_cand is that query's measured candidate count —
    * the audit column that shows the work per query stays FLAT as n
    * grows (the sizing rule's promise; recall is gated separately by
    * q256's brute-force audit over the same candidate structure).
    * Queries whose probe buckets are empty return no rows — there is
    * no brute fallback, by design (at 100 TB the fallback IS the
    * failure).
    */
  def sizedCandidateRetrieval(df: DataFrame, idCol: String,
      vecCol: String, k: Int, dims: Int, queryMod: Int,
      targetOccupancy: Int = 16, roundTo: Int = 5): DataFrame = {
    val bb = sizedBandBits(df.count(), targetOccupancy)
    val cands = wtaMultiprobeCandidates(df, idCol, vecCol,
      planes = 2 * bb, bandBits = bb, dims = dims)
    val directed = cands.select(col("id_a").as("query_id"),
        col("id_b").as("neighbor_id"))
      .unionByName(cands.select(col("id_b").as("query_id"),
        col("id_a").as("neighbor_id")))
      .filter(col("query_id") % queryMod === 0)
    val nCand = directed.groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_cand"))
    val v = df.select(col(idCol).as("vid"), asDouble(col(vecCol)).as("vec"))
    val scored = directed
      .join(v.toDF("query_id", "qv"), Seq("query_id"))
      .join(v.toDF("neighbor_id", "cv"), Seq("neighbor_id"))
      .withColumn("sim", roundedCosine(col("qv"), col("cv"), roundTo))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    scored.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .join(nCand, Seq("query_id"))
      .select(col("query_id"), col("rk"), col("neighbor_id"),
        col("sim"), col("n_cand"))
  }

  /** Mutual nearest-neighbor pairs (the margin-free core of bitext /
    * parallel-corpus mining, Artetxe & Schwenk 2019): (a, b) such that
    * b is a's top-1 neighbor AND a is b's top-1, within the WTA
    * candidate graph. Mutuality is the classic high-precision filter —
    * one-directional top-1 is noisy, reciprocal top-1 rarely is.
    *
    * Scale shape: candidates come from the band join (never corpus²);
    * the top-1 table is computed ONCE and self-joined on the reversed
    * key — Spark reuses the shuffle exchange for both sides. Returns
    * (id_a < id_b, sim). */
  def mutualTopPairs(df: DataFrame, idCol: String, vecCol: String,
      planes: Int, bandBits: Int, dims: Int, roundTo: Int = 5)
      : DataFrame = {
    val t1 = wtaTopK(df, idCol, vecCol, 1, planes, bandBits, dims, roundTo)
      .select(col("query_id"), col("neighbor_id"), col("sim"))
    t1.as("f").join(t1.as("g"),
        col("f.query_id") === col("g.neighbor_id") &&
          col("f.neighbor_id") === col("g.query_id") &&
          col("f.query_id") < col("f.neighbor_id"))
      .select(col("f.query_id").as("id_a"),
        col("f.neighbor_id").as("id_b"), col("f.sim").as("sim"))
  }

  /** Near-duplicate pairs by embedding cosine ≥ threshold, candidates
    * from WTA banding (the embedding-space analog of SimHash dedup). */
  def embeddingNearDups(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, planes: Int, bandBits: Int, dims: Int,
      roundTo: Int = 5): DataFrame = {
    val cands = wtaCandidates(df, idCol, vecCol, planes, bandBits, dims)
    val v = df.select(col(idCol).as("vid"), asDouble(col(vecCol)).as("vec"))
    cands
      .join(v.toDF("id_a", "va"), Seq("id_a"))
      .join(v.toDF("id_b", "vb"), Seq("id_b"))
      .withColumn("sim", roundedCosine(col("va"), col("vb"), roundTo))
      .filter(col("sim") >= threshold)
      .select(col("id_a"), col("id_b"), col("sim"))
  }

  // -------------------------------------------------------------------
  // IVF (inverted-file) ANN: assign every vector to its nearest
  // centroid (broadcast join — the codebook is tiny), then search only
  // the `nprobe` closest centroid lists per query. The classic
  // partition-pruned ANN layout: at 100 TB the corpus is stored
  // partitioned by centroid id, so a query touches nprobe partitions
  // instead of the full corpus. Deterministic "training-free" codebook
  // (every centroidMod-th vector) keeps it oracle-reproducible; swap in
  // k-means centroids without changing the query shape.
  // -------------------------------------------------------------------

  /** (vid, cid): nearest centroid per vector (cosine, ties → smaller
    * centroid id). */
  def ivfAssign(vectors: DataFrame, centroids: DataFrame,
      roundTo: Int = 5): DataFrame = {
    val scored = vectors.join(broadcast(centroids))
      .withColumn("csim", roundedCosine(col("v"), col("cv"), roundTo))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vid")).orderBy(col("csim").desc, col("cid"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).select(col("vid"), col("cid"))
  }

  /** IVF top-k: queries = ids where `id % queryMod == 0`, codebook =
    * ids where `id % centroidMod == 0`. */
  def ivfTopK(df: DataFrame, idCol: String, vecCol: String, k: Int,
      centroidMod: Int, queryMod: Int, nprobe: Int,
      roundTo: Int = 5): DataFrame = {
    val v = df.select(col(idCol).as("vid"), asDouble(col(vecCol)).as("v"))
    val cents = df.filter(col(idCol) % centroidMod === 0)
      .select(col(idCol).as("cid"), asDouble(col(vecCol)).as("cv"))
    val assign = ivfAssign(v, cents, roundTo)
    val queries = v.filter(col("vid") % queryMod === 0)
      .select(col("vid").as("query_id"), col("v").as("qv"))
    val probeScored = queries.join(broadcast(cents))
      .withColumn("csim", roundedCosine(col("qv"), col("cv"), roundTo))
    val wp = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("csim").desc, col("cid"))
    val probes = probeScored.withColumn("rn", row_number().over(wp))
      .filter(col("rn") <= nprobe).select(col("query_id"), col("qv"),
        col("cid"))
    val scored = probes.join(assign, Seq("cid"))
      .filter(col("vid") =!= col("query_id"))
      .join(v.select(col("vid"), col("v").as("cv2")), Seq("vid"))
      .withColumn("sim", roundedCosine(col("qv"), col("cv2"), roundTo))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("vid"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vid").as("neighbor_id"), col("sim"),
        col("rank"))
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    * deduplication by cluster-partitioned cosine. Every vector is
    * assigned to its nearest codebook centroid (here the deterministic
    * every-`centroidMod`-th vector, so the result is oracle-reproducible;
    * at scale the k-means centroids from `Clusters.centroidRecompute`
    * slot in without changing the query shape), and near-duplicate
    * comparison happens ONLY inside a cluster: a vector is dropped when
    * its cluster holds a lower-id vector with cosine ≥ `threshold`
    * (keep-lowest-id representative — deterministic, no scoring model).
    *
    * 100 TB shape: the codebook is a broadcast, the assignment is a
    * scan-speed projection, and pair enumeration is a self-join on
    * `cid` — Σ|cluster|² work, the SemDeDup design point (clusters are
    * thousands of vectors out of billions), never corpus².
    *
    * Returns (vid, cid, dropped 0/1) for every input vector.
    */
  def semDedup(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, centroidMod: Int, roundTo: Int = 5): DataFrame = {
    val v = df.select(col(idCol).as("vid"), asDouble(col(vecCol)).as("v"))
    val cents = df.filter(col(idCol) % centroidMod === 0)
      .select(col(idCol).as("cid"), asDouble(col(vecCol)).as("cv"))
    // THREE consumers (both sides of the pair self-join + the final
    // left join) — materialize the corpus×codebook assignment once, or
    // the full cosine-assignment subtree re-executes per consumer
    val assigned = ivfAssign(v, cents, roundTo).join(v, Seq("vid"))
      .localCheckpoint(eager = true)
    val dropped = assigned.as("a").join(assigned.as("b"),
        col("a.cid") === col("b.cid") && col("a.vid") < col("b.vid"))
      .filter(roundedCosine(col("a.v"), col("b.v"), roundTo)
        >= threshold)
      .select(col("b.vid").as("vid")).distinct()
    assigned
      .join(dropped.withColumn("_d", lit(1)), Seq("vid"), "left_outer")
      .select(col("vid"), col("cid"),
        coalesce(col("_d"), lit(0)).as("dropped"))
  }

  /** Symmetric int8 scalar quantization — the storage/compute shrink a
    * 100 TB embedding store runs before ANN serving (4× smaller than
    * float32, SIMD-friendly integer dot products downstream).
    *
    * Per vector: scale = max(|v_i|); q_i = floor(v_i/scale·127 + 0.5)
    * ∈ [-127, 127] (round-half-up, exact in IEEE double so any engine
    * reproduces it bit-for-bit); the all-zero vector quantizes to zeros
    * with scale 0. Returns (idCol, scale_ppb, q) where scale_ppb is the
    * scale in integer parts-per-billion and q is array<long>.
    *
    * Row-local projection — no shuffle, runs at scan speed and
    * composes with pushed filters/column pruning.
    */
  def quantizeInt8(df: DataFrame, idCol: String,
      vecCol: String): DataFrame = {
    val v = asDouble(col(vecCol))
    val m = array_max(transform(v, x => abs(x)))
    df.select(col(idCol),
        v.as("_v"), m.as("_m"))
      .select(col(idCol),
        floor(col("_m") * 1e9).cast("long").as("scale_ppb"),
        when(col("_m") > 0.0,
            transform(col("_v"),
              x => floor(x / col("_m") * 127.0 + 0.5).cast("long")))
          .otherwise(transform(col("_v"), _ => lit(0L)))
          .as("q"))
  }

  /** Product quantization + asymmetric-distance top-k (Jégou, Douze &
    * Schmid 2011, "Product Quantization for Nearest Neighbor Search"):
    * vectors are int8-quantized on a GLOBAL scale (one shared scale so
    * subspace distances are comparable — unlike [[quantizeInt8]]'s
    * per-vector scale), split into `numSub` subvectors, and each
    * subvector encoded as the id of its nearest codebook entry under
    * integer L2². Queries then score the whole corpus through the
    * code LUT: adc² = Σ_s d²(query_sub[s], codebook[s][code[s]]) — the
    * memory-bandwidth trick that makes billion-scale search fit in
    * RAM (a D-dim vector becomes numSub bytes).
    *
    * Codebook is training-free/deterministic (subvectors of every
    * `centroidMod`-th vector — the [[ivfTopK]] convention; swap in
    * k-means codebooks via q89/q118 without changing shape). Encoding
    * is corpus×numSub×K rows through one broadcast join + one window
    * argmin partitioned by (vector, subspace) — bounded partitions,
    * linear in the corpus. ADC is queries×K LUT (broadcast-sized)
    * joined to the corpus codes — Q×corpus×numSub tiny integer rows,
    * the PQ scan. Everything integer ⇒ bit-portable. Returns
    * (query_id, neighbor_id, adc_d2, rank ≤ k), self excluded, ties
    * (adc_d2, neighbor_id). */
  /** Progressive (Matryoshka-style) re-rank: a coarse pass scores the
    * corpus on only the FIRST `prefixDims` dimensions, keeps a
    * shortlist of `m` per query, and the exact full-dimension cosine
    * re-ranks the shortlist to top-k — the precision-layering pattern
    * of Matryoshka Representation Learning deployments (Kusupati et
    * al. 2022: prefixes of an MRL embedding are themselves valid
    * embeddings, so the cheap pass is a real similarity, not a
    * heuristic). Coarse cost scales with prefixDims/D (memory
    * bandwidth, the dominant ANN cost); the exact pass touches only
    * m·|Q| rows. Composes with IVF/LSH candidate pruning for the
    * corpus-scan term. Ties at both stages break on neighbor id;
    * sims rounded to `roundTo` for float portability. Returns
    * (query_id, neighbor_id, sim, rank ≤ k). */
  def prefixRerankTopK(df: DataFrame, idCol: String, vecCol: String,
      prefixDims: Int, m: Int, k: Int, queryMod: Int,
      roundTo: Int = 5): DataFrame = {
    require(m >= k, s"shortlist m=$m must be at least k=$k")
    val c = df.select(col(idCol).as("neighbor_id"),
      asDouble(col(vecCol)).as("cv"))
    val q = broadcast(df.filter(col(idCol) % queryMod === 0)
      .select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("qv")))
    val wC = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("psim").desc, col("neighbor_id"))
    val wF = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    q.join(c, col("query_id") =!= col("neighbor_id"))
      .withColumn("psim", roundedCosine(
        slice(col("qv"), 1, prefixDims),
        slice(col("cv"), 1, prefixDims), roundTo))
      .withColumn("crank", row_number().over(wC))
      .filter(col("crank") <= m)
      .withColumn("sim", roundedCosine(col("qv"), col("cv"), roundTo))
      .withColumn("rank", row_number().over(wF))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("sim"), col("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  def pqTopK(df: DataFrame, idCol: String, vecCol: String, k: Int,
      centroidMod: Int, queryMod: Int, numSub: Int): DataFrame = {
    val v = df.select(col(idCol).as("vid"), asDouble(col(vecCol)).as("v"))
    val gmax = v.agg(max(array_max(transform(col("v"), x => abs(x))))
      .as("gm"))
    val q = v.crossJoin(broadcast(gmax))
      .select(col("vid"),
        when(col("gm") > 0.0, transform(col("v"),
            x => floor(x / col("gm") * 127.0 + 0.5).cast("long")))
          .otherwise(transform(col("v"), _ => lit(0L))).as("q"))
    // (vid, s, sq): one row per subvector; dim must divide evenly
    val subs = q.select(col("vid"),
        explode(expr(
          s"""transform(sequence(0, $numSub - 1),
             |  s -> named_struct('s', cast(s as bigint),
             |    'sq', slice(q, s * (size(q) div $numSub) + 1,
             |                size(q) div $numSub)))""".stripMargin))
          .as("e"))
      .select(col("vid"), col("e.s").as("s"), col("e.sq").as("sq"))
    val cents = subs.filter(col("vid") % centroidMod === 0)
      .select(col("vid").as("cid"), col("s"), col("sq").as("cq"))
    val d2 = expr(
      """aggregate(zip_with(sq, cq, (x, y) -> (x - y) * (x - y)),
        |  cast(0 as bigint), (acc, e) -> acc + e)""".stripMargin)
    // encode: argmin centroid per (vid, s). The codebook is broadcast-
    // sized BY DEFINITION (that is what a PQ codebook is), so the
    // argmin runs as a tight per-row loop over a broadcast array
    // instead of a corpus×K join + window — same (d2, cid) tie rule,
    // no 18M-row shuffle (measured ~3.0 → ~1.3 s warm at sf0.1).
    val spark = df.sparkSession
    val centArr: Map[Long, Array[(Long, Array[Long])]] = cents
      .collect()
      .map(r => (r.getLong(1), (r.getLong(0), r.getSeq[Long](2).toArray)))
      .groupBy(_._1)
      .map { case (s, rows) =>
        s -> rows.map(_._2).sortBy(_._1)
      }
    val centBc = spark.sparkContext.broadcast(centArr)
    import spark.implicits._
    val codes = subs.select(col("vid"), col("s"), col("sq"))
      .as[(Long, Long, Array[Long])]
      .mapPartitions { it =>
        val cb = centBc.value
        it.map { case (vid, s, sq) =>
          var bestCid = Long.MaxValue
          var bestD2 = Long.MaxValue
          val cands = cb(s)
          var i = 0
          while (i < cands.length) {
            val (cid, cq) = cands(i)
            var d = 0L
            var j = 0
            while (j < sq.length) {
              val diff = sq(j) - cq(j); d += diff * diff; j += 1
            }
            // tie rule (d2, cid): cands sorted by cid, strict <
            if (d < bestD2) { bestD2 = d; bestCid = cid }
            i += 1
          }
          (vid, s, bestCid)
        }
      }.toDF("vid", "s", "code")
    // ADC LUT: query subvectors × codebook (broadcast-sized)
    val lut = subs.filter(col("vid") % queryMod === 0)
      .select(col("vid").as("query_id"), col("s"), col("sq"))
      .join(broadcast(cents), Seq("s"))
      .withColumn("d2", d2)
      .select(col("query_id"), col("s"), col("cid").as("code"), col("d2"))
    val wRank = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("adc_d2"), col("vid"))
    codes.join(lut, Seq("s", "code"))
      .filter(col("vid") =!= col("query_id"))
      .groupBy(col("query_id"), col("vid"))
      .agg(sum(col("d2")).as("adc_d2"))
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vid").as("neighbor_id"),
        col("adc_d2"), col("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Margin-based candidate mining (Artetxe & Schwenk 2019 — the
    * ratio-margin criterion behind CCMatrix/LASER bitext mining): the
    * id-parity halves of the corpus stand in for the two languages;
    * for a bounded query sample X from side A, each top-k side-B
    * neighbor y of x is scored margin(x,y) = cos(x,y) / ((avg top-k
    * sim of x in B + avg top-k sim of y in A) / 2). Dividing by both
    * endpoints' local similarity level suppresses hub vectors that
    * score high against everything — the failure mode of raw-cosine
    * mining.
    *
    * Scale shape: side-B top-k is |X|·|B| (bounded query sample — the
    * q25/q68 exactness-baseline discipline; compose with IVF/LSH for
    * the corpus-scan term); the reverse top-k only runs for the ≤k·|X|
    * candidate y's. Similarities quantize to ppm ints at the scan so
    * the margin ratio is integer-exact on any engine. Returns
    * (x, y, sim_ppm, margin_x1000) top-`limit` by margin.
    */
  def marginMining(df: DataFrame, idCol: String, vecCol: String,
      k: Int, queryMod: Int, limit: Int, roundTo: Int = 5): DataFrame = {
    val a = df.filter(col(idCol) % 2 === 0)
    val b = df.filter(col(idCol) % 2 === 1)
    val xs = a.filter(col(idCol) % queryMod === 0)
    val ppm = (c: Column) => floor(c * 1000000.0 + 0.5).cast("long")
    val topB = bruteForceTopK(xs, b, idCol, vecCol, k, roundTo)
      .select(col("query_id").as("x"), col("neighbor_id").as("y"),
        ppm(col("sim")).as("sim_ppm"))
      .localCheckpoint(eager = true) // pair rows + both sum consumers
    val sumX = topB.groupBy(col("x"))
      .agg(sum(col("sim_ppm")).as("sum_x"))
    val ys = topB.select(col("y").as(idCol)).distinct()
    val sumY = bruteForceTopK(b.join(broadcast(ys), Seq(idCol)), a,
        idCol, vecCol, k, roundTo)
      .groupBy(col("query_id").as("y"))
      .agg(sum(ppm(col("sim"))).as("sum_y"))
    topB
      .join(broadcast(sumX), Seq("x"))
      .join(broadcast(sumY), Seq("y"))
      .filter(col("sum_x") + col("sum_y") > 0)
      .select(col("x"), col("y"), col("sim_ppm"),
        expr(s"sim_ppm * ${2000L * k} div (sum_x + sum_y)")
          .as("margin_x1000"))
      .orderBy(col("margin_x1000").desc, col("x"), col("y"))
      .limit(limit)
  }

  /** IVF-PQ with asymmetric distance (Jégou et al. 2011 §IV "IVFADC",
    * the FAISS billion-scale default): a coarse inverted-file quantizer
    * prunes the corpus to `nprobe` cells per query, and within probed
    * cells vectors are compared through PQ codes of their RESIDUAL
    * (quantized vector minus its cell centroid) — residual PQ is what
    * distinguishes IVFADC from running PQ ([[pqTopK]]) behind an IVF
    * filter ([[ivfTopK]]): encoding the residual re-centers every cell
    * at the origin so one shared codebook covers all cells.
    *
    * Both codebooks are FIXED-SIZE at any corpus scale (id-capped
    * deterministic samples standing in for k-means codebooks, the
    * q257-landmark-budget discipline): coarse cells ≤ ~`coarseCap /
    * coarseMod`, PQ entries ≤ ~`pqCap / pqMod`. Fixed K keeps the
    * per-query LUT (nprobe·numSub·K rows) and the driver-collected
    * codebooks O(1) in n; only cell occupancy grows with the corpus —
    * the IVF design point (scan n·nprobe/K of the corpus as narrow
    * integer code rows).
    *
    * All-integer (global int8 quantization, integer L2², (d2, id) tie
    * rules) ⇒ bit-portable to any engine. Encode and LUT argmins run
    * as tight per-row loops over the broadcast codebooks — no
    * corpus×K shuffle. Returns (query_id, neighbor_id, adc_d2,
    * rank ≤ k), self excluded.
    */
  def ivfPqTopK(df: DataFrame, idCol: String, vecCol: String, k: Int,
      coarseMod: Int, coarseCap: Long, pqMod: Int, pqCap: Long,
      queryMod: Int, nprobe: Int, numSub: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val v = df.select(col(idCol).as("vid"), asDouble(col(vecCol)).as("v"))
    val gmax = v.agg(max(array_max(transform(col("v"), x => abs(x))))
      .as("gm"))
    val q = v.crossJoin(broadcast(gmax))
      .select(col("vid"),
        when(col("gm") > 0.0, transform(col("v"),
            x => floor(x / col("gm") * 127.0 + 0.5).cast("long")))
          .otherwise(transform(col("v"), _ => lit(0L))).as("q"))
    // coarse codebook: bounded by construction (id cap), driver-sized
    val coarse: Array[(Long, Array[Long])] = q
      .filter(col("vid") % coarseMod === 0 && col("vid") <= coarseCap)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
      .sortBy(_._1)
    require(coarse.nonEmpty, "empty coarse codebook")
    val subDim = coarse.head._2.length / numSub
    def l2(a: Array[Long], b: Array[Long], aOff: Int, bOff: Int,
        len: Int): Long = {
      var d = 0L; var i = 0
      while (i < len) {
        val x = a(aOff + i) - b(bOff + i); d += x * x; i += 1
      }
      d
    }
    // (cells sorted by cid, strict < ⇒ ties keep the smaller cid)
    def nearestCell(qv: Array[Long]): Int = {
      var best = 0; var bestD = Long.MaxValue; var i = 0
      while (i < coarse.length) {
        val d = l2(qv, coarse(i)._2, 0, 0, qv.length)
        if (d < bestD) { bestD = d; best = i }
        i += 1
      }
      best
    }
    // PQ codebook over RESIDUALS of the capped sample, per subspace
    val pqSample = q
      .filter(col("vid") % pqMod === 0 && col("vid") <= pqCap)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
      .sortBy(_._1)
    val cb: Array[Array[(Long, Array[Long])]] = Array.tabulate(numSub) {
      s =>
        pqSample.map { case (pid, qv) =>
          val cq = coarse(nearestCell(qv))._2
          val sub = Array.tabulate(subDim)(j =>
            qv(s * subDim + j) - cq(s * subDim + j))
          (pid, sub)
        }
    }
    val coarseBc = spark.sparkContext.broadcast(coarse)
    val cbBc = spark.sparkContext.broadcast(cb)
    val nSub = numSub
    val sDim = subDim
    // encode: (vid, cid, s, code) — one broadcast-argmin pass, no shuffle
    val codes = q.as[(Long, Array[Long])].mapPartitions { it =>
      val cents = coarseBc.value
      val book = cbBc.value
      it.flatMap { case (vid, qv) =>
        var best = 0; var bestD = Long.MaxValue; var i = 0
        while (i < cents.length) {
          var d = 0L; var j = 0
          while (j < qv.length) {
            val x = qv(j) - cents(i)._2(j); d += x * x; j += 1
          }
          if (d < bestD) { bestD = d; best = i }
          i += 1
        }
        val cq = cents(best)._2
        (0 until nSub).map { s =>
          val entries = book(s)
          var bc = 0L; var bd = Long.MaxValue; var e = 0
          while (e < entries.length) {
            val sub = entries(e)._2
            var d = 0L; var j = 0
            while (j < sDim) {
              val x = qv(s * sDim + j) - cq(s * sDim + j) - sub(j)
              d += x * x; j += 1
            }
            if (d < bd) { bd = d; bc = entries(e)._1 }
            e += 1
          }
          (vid, cents(best)._1, s.toLong, bc)
        }
      }
    }.toDF("vid", "cid", "s", "code")
    // LUT: per (query, probed cell, subspace, codebook entry) — the
    // residual query is re-derived per probed cell
    val np = nprobe
    val lut = q.filter(col("vid") % queryMod === 0)
      .as[(Long, Array[Long])].mapPartitions { it =>
        val cents = coarseBc.value
        val book = cbBc.value
        it.flatMap { case (qid, qv) =>
          val scored = cents.map { case (cid, cq) =>
            (l2(qv, cq, 0, 0, qv.length), cid, cq)
          }.sortBy(t => (t._1, t._2)).take(np)
          scored.toSeq.flatMap { case (_, cid, cq) =>
            (0 until nSub).flatMap { s =>
              book(s).map { case (pid, sub) =>
                var d = 0L; var j = 0
                while (j < sDim) {
                  val x = qv(s * sDim + j) - cq(s * sDim + j) - sub(j)
                  d += x * x; j += 1
                }
                (qid, cid, s.toLong, pid, d)
              }
            }
          }
        }
      }.toDF("query_id", "cid", "s", "code", "d2")
    val wRank = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("adc_d2"), col("vid"))
    codes.join(lut, Seq("cid", "s", "code"))
      .filter(col("vid") =!= col("query_id"))
      .groupBy(col("query_id"), col("vid"))
      .agg(sum(col("d2")).as("adc_d2"))
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vid").as("neighbor_id"),
        col("adc_d2"), col("rank"))
      .orderBy(col("query_id"), col("rank"))
  }
}
