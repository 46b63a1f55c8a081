package graft.pipeline

import org.apache.spark.graphx.{Edge, Graph}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Duplicate-cluster resolution: near-dup candidate PAIRS (from MinHash
  * LSH, SimHash, or embedding banding) are only half the dedup story —
  * keep-one-per-cluster needs the transitive closure of the pair
  * relation. A ⟷ B and B ⟷ C must land A, B, C in ONE cluster with one
  * keeper, else chained near-dups survive pairwise dedup.
  *
  * Component id = the minimum member id, so cluster labels are
  * deterministic and the natural keeper (min id) falls out for free.
  */
object Clusters {

  /** Connected components over an undirected pair table via GraphX
    * (Pregel min-label propagation under the hood): returns
    * (node, cluster_id) for every node appearing in `pairs`.
    * GraphX's component id is the smallest vertex id in the component.
    *
    * Scale shape: Pregel supersteps = graph diameter, messages only
    * along edges of still-changing nodes; near-dup graphs are unions of
    * small dense cliques (tiny diameter), so this converges in a few
    * supersteps regardless of corpus size.
    */
  def connectedComponentsGraphX(spark: SparkSession, pairs: DataFrame,
      aCol: String, bCol: String): DataFrame = {
    import spark.implicits._
    val edgeRdd = pairs.select(col(aCol).cast("long"), col(bCol)
        .cast("long"))
      .as[(Long, Long)].rdd.map { case (a, b) => Edge(a, b, ()) }
    Graph.fromEdges(edgeRdd, ()).connectedComponents()
      .vertices.map { case (vid, comp) => (vid, comp) }
      .toDF("node", "cluster_id")
  }

  /** Connected components via alternating large-star/small-star
    * (Kiveris et al. 2014, "Connected Components in MapReduce and
    * Beyond"): converges in O(log²) rounds INDEPENDENT of component
    * diameter, where a min-label loop such as GraphX Pregel needs
    * diameter-many rounds — the difference between ~10 and ~20 000
    * shuffles on a chain-shaped graph, and the reason this is the
    * production CC for web/citation graphs.
    *
    *   - large-star(u): every neighbor v > u re-points to
    *     m = min(Γ(u) ∪ u);
    *   - small-star(u): u and its neighbors v < u re-point to the
    *     minimum among them.
    *
    * Each phase is one symmetrize + one min-groupBy + one join —
    * hash-partitioned by node, no global structure. At the fixpoint
    * the edge set is a star forest (every node points at its
    * component's minimum id). Returns (node, cluster_id) for every
    * non-isolated node; throws past `maxIter` (an unconverged edge
    * set is not a labeling).
    */
  def connectedComponentsStar(pairs: DataFrame, aCol: String,
      bCol: String, maxIter: Int = 30): DataFrame = {
    val wU = org.apache.spark.sql.expressions.Window
      .partitionBy(col("u"))
    def starRound(e: DataFrame): DataFrame = {
      // ROUND 13: each star phase computes its per-node minimum as a
      // WINDOW over the adjacency (one exchange, partition-local sort
      // by u) instead of a groupBy + join-back (two data paths whose
      // join needs size statistics to plan well) — with no join in the
      // round, the large-star intermediate fuses into the small-star
      // barrier and each round runs ONE job instead of two (the loop
      // is job-launch-bound at every measured scale, guide §1.2).
      // large's distinct() exchange is identical across its downstream
      // references, so ReusedExchange computes the large-star edge set
      // once inside the fused job.
      //
      // large-star: neighbors above u hook onto u's minimum
      val adjL = e.unionByName(
        e.select(col("v").as("u"), col("u").as("v")))
      val large = adjL
        .withColumn("m", least(col("u"), min(col("v")).over(wU)))
        .filter(col("v") > col("u") && col("v") =!= col("m"))
        .select(col("m").as("u"), col("v")) // m < u < v ⇒ canonical
        .distinct()
      // small-star: u and its smaller neighbors hook onto their min.
      // The former mS.select(m, u) branch emitted one row per node;
      // the windowed form emits one per below-row — the trailing
      // distinct() collapses them to the identical set.
      val adjS = large.unionByName(
        large.select(col("v").as("u"), col("u").as("v")))
      val below = adjS.filter(col("v") < col("u"))
        .withColumn("m", min(col("v")).over(wU))
      below
        .filter(col("v") =!= col("m"))
        .select(col("m").as("u"), col("v")) // m ≤ v < u ⇒ canonical
        .unionByName(below.select(col("m").as("u"), col("u").as("v")))
        .distinct()
    }
    // edge counts ride each barrier (Iterate.fixpoint): the fixpoint
    // test compares counts for free and pays the anti-join only when
    // they match
    val e = graft.ops.Iterate.fixpoint("star CC",
        pairs.select(col(aCol).cast("long").as("u"),
            col(bCol).cast("long").as("v"))
          .filter(col("u") =!= col("v"))
          .select(least(col("u"), col("v")).as("u"),
            greatest(col("u"), col("v")).as("v"))
          .distinct(), // canonical u < v
        maxIter + 1, mustConverge = true,
        done = (prev, cur) => cur._2 == prev._2 &&
          cur._1.join(prev._1, Seq("u", "v"), "left_anti").isEmpty)(
      rounds => starRound(rounds.last._1)).last._1
    e.select(col("v").as("node"), col("u").as("cluster_id"))
      .unionByName(e.select(col("u").as("node"),
        col("u").as("cluster_id")))
      .distinct()
  }

  /** Cluster summary: (cluster_id = min member = keeper, n_members),
    * from any (node, cluster_id) labeling. */
  def clusterSizes(labels: DataFrame): DataFrame =
    labels.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_members"))

  /** k-means|| seeding (Bahmani et al. 2012, "Scalable k-means++",
    * VLDB): pick an initial candidate center set in a constant number
    * of corpus passes instead of k-means++'s k sequential ones. Each
    * round scores every point by its distance to the current candidate
    * set and samples points with probability ∝ ℓ·d/φ (φ = Σd), then
    * the surviving candidates are weighted by how many points they
    * attract — the weighted set a driver-side k-means++ reduces to k
    * final seeds (here the weights ARE the output; the reduction over
    * |C| ≈ ℓ·rounds rows is trivially driver-sized).
    *
    * Determinism, cross-engine: distance is the oracle-proven rounded
    * cosine, integerized to d = 10⁵ − round(cos·10⁵) (an integral
    * double on both engines, exact to cast); φ and the sampling
    * threshold min(10⁶, ℓ·d·10⁶ div φ) are pure i64 arithmetic; the
    * coin flip is the portable 60-bit hash of (salt+round, id) — no
    * RNG, so the seeding is reproducible across runs, engines, and
    * partitionings. Exact centers have d = 0 and can never resample.
    *
    * Scale shape: the candidate set is driver-sized BY CONSTRUCTION
    * (that is the algorithm's point — |C| ≪ corpus), so each round is
    * ONE shuffle-free projection against candidate literals (no join,
    * no explode: `array_min` over a struct array computes min-distance
    * and argmin in-row) plus two tiny actions (φ, new candidates); the
    * final weighting is one groupBy over |C| keys with map-side
    * partial aggregation. Total: 2·rounds + 1 corpus passes, the
    * paper's cost.
    *
    * Returns (cid, w): candidate center ids with attraction weights,
    * ordered by cid.
    */
  def kmeansParInit(vecs: DataFrame, idCol: String, vecCol: String,
      ell: Int, rounds: Int, salt: String = "kpp"): DataFrame = {
    require(ell >= 1 && rounds >= 1, s"need ell/rounds >= 1")
    val v = vecs.select(col(idCol).cast("long").as("vid"),
      col(vecCol).cast("array<double>").as("vec"))
    // nearest-candidate (distance, cid) in one in-row expression
    def nearest(centers: Seq[(Long, Seq[Double])]): Column =
      array_min(array(centers.map { case (cid, cv) =>
        struct(
          (lit(100000L) - round(Similarity.cosineFast(col("vec"),
            typedLit(cv)) * 100000, 0).cast("long")).as("d"),
          lit(cid).as("cid"))
      }: _*))
    val firstId = v.agg(min(col("vid"))).head().getLong(0)
    var centers: Seq[(Long, Seq[Double])] =
      v.filter(col("vid") === firstId).collect()
        .map(r => r.getLong(0) -> r.getSeq[Double](1).toSeq).toSeq
    for (r <- 1 to rounds) {
      val scored = v.withColumn("dmin", nearest(centers).getField("d"))
      val phi = scored.agg(sum(col("dmin"))).head().getLong(0)
      if (phi > 0) {
        val sampled = scored
          .filter(Sampling.hash60(s"$salt$r", col("vid")) % 1000000L <
            least(lit(1000000L),
              expr(s"(${ell}L * dmin * 1000000L) div ${phi}L")))
          .select(col("vid"), col("vec")).collect()
          .map(row => row.getLong(0) -> row.getSeq[Double](1).toSeq)
        centers = centers ++ sampled
      }
    }
    v.select(col("vid"), nearest(centers).getField("cid").as("cid"))
      .groupBy(col("cid")).agg(count(lit(1)).as("w"))
      .orderBy(col("cid"))
  }

  /** One Lloyd (k-means) centroid-recompute step over an assigned
    * corpus — the embedding-clustering reduce that pairs with
    * [[Similarity.ivfAssign]]'s assignment step to make the IVF
    * codebook trainable instead of fixed.
    *
    * `assigned` is (vid, cid); `vectors` is (vid, vec: array<double>).
    * Returns (cid, dim, n_members, dim_sum_ppm): the per-dimension
    * component sums in integer parts-per-million (decimal-exact
    * accumulation, so the result is order-independent and
    * engine-portable; the new centroid coordinate is
    * dim_sum_ppm / (1e6 · n_members), a division deferred to the
    * caller to keep every emitted value integer).
    *
    * Scale shape: vectors explode to (cid, dim, component) rows and
    * reduce in ONE hash aggregation keyed by (cid, dim) with map-side
    * partial sums — the long-format wide-mean that spreads a
    * billion-vector reduce across the cluster instead of folding
    * whole arrays on few keys (k keys would bottleneck k tasks; k·dims
    * keys parallelize fully).
    */
  def centroidRecompute(assigned: DataFrame,
      vectors: DataFrame): DataFrame =
    assigned.join(vectors, "vid")
      .select(col("cid"), posexplode(col("vec")).as(Seq("dim", "component")))
      .groupBy(col("cid"), col("dim"))
      .agg(count(lit(1)).as("n_members"),
        floor(sum(col("component")
            .cast(org.apache.spark.sql.types.DecimalType(30, 6))) *
          lit(1000000))
          .cast("long").as("dim_sum_ppm"))
}
