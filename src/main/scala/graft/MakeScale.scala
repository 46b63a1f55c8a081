package graft
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-stress data generator: replicate an sf directory K× with
  * deterministic key offsets and content perturbation, so the heavy
  * queries can be measured at 10× bench scale (round-6 verdict task #6)
  * WITHOUT touching the read-only driver testdata.
  *
  *   sbt "runMain graft.MakeScale /root/testdata/sf0.1 tmp/sf1 10"
  *
  * Key columns are offset by `rep * (max_key + 1)` so FK joins keep the
  * same per-key fan-in as the source (orders↔lineitem↔part etc. — a
  * naive union would multiply join fan-in by K and measure a DIFFERENT
  * query). Document text gets a per-replica prefix and embeddings a
  * per-replica jitter so dedup/ANN candidate structure stays
  * source-like instead of collapsing into K-way exact duplicate
  * clusters. region/nation stay single-copy (dimensions, like TPC-H's
  * fixed-size tables at every SF).
  */
object MakeScale {
  def main(args: Array[String]): Unit = {
    val Array(src, dst, fStr) = args
    val factor = fStr.toInt
    require(factor >= 1, "factor must be >= 1")
    val spark = Session.local()
    new java.io.File(dst).mkdirs()

    def load(name: String): DataFrame =
      spark.read.parquet(s"$src/$name.parquet")
    // single parquet FILE per table, matching the driver layout the
    // Tables loader and oracle expect
    def save(df: DataFrame, name: String): Unit =
      df.coalesce(math.max(1, factor)).write.mode("overwrite")
        .parquet(s"$dst/$name.parquet")

    /** Union K replicas, offsetting each key column by rep*base. The
      * base for a FOREIGN key must be the referenced table's base, so
      * every FK keeps pointing inside its own replica — hence bases are
      * passed in per key domain, not derived per table. */
    def replicate(df: DataFrame, keyBases: Seq[(String, Long)],
        perturb: (DataFrame, Int) => DataFrame = (d, _) => d): DataFrame =
      (0 until factor).map { rep =>
        val shifted = keyBases.foldLeft(df) { case (d, (k, base)) =>
          d.withColumn(k, col(k) + lit(rep * base))
        }
        perturb(shifted, rep)
      }.reduce(_ unionAll _)

    def baseOf(df: DataFrame, k: String): Long =
      df.agg(max(col(k))).collect()(0).getLong(0) + 1L

    val (customer, supplier, part, orders, lineitem, events) =
      (load("customer"), load("supplier"), load("part"), load("orders"),
        load("lineitem"), load("events"))
    // one base per key DOMAIN, shared by every table referencing it
    val custBase = baseOf(customer, "c_custkey")
    val suppBase = baseOf(supplier, "s_suppkey")
    val partBase = baseOf(part, "p_partkey")
    val orderBase = baseOf(orders, "o_orderkey")

    save(load("region"), "region")
    save(load("nation"), "nation")
    save(replicate(customer, Seq("c_custkey" -> custBase)), "customer")
    save(replicate(supplier, Seq("s_suppkey" -> suppBase)), "supplier")
    save(replicate(part, Seq("p_partkey" -> partBase)), "part")
    save(replicate(orders,
      Seq("o_orderkey" -> orderBase, "o_custkey" -> custBase)), "orders")
    save(replicate(lineitem, Seq("l_orderkey" -> orderBase,
      "l_partkey" -> partBase, "l_suppkey" -> suppBase)), "lineitem")
    save(replicate(events, Seq("event_id" -> baseOf(events, "event_id"),
      "user_id" -> baseOf(events, "user_id"))), "events")
    /** Deterministic hash-seeded permutation of 0 until n for replica
      * `rep` under `salt` — driver-side, tiny n (alphabet letters /
      * embedding dims), reproducible from (salt, rep, i) alone. */
    def seededPerm(salt: String, rep: Int, n: Int): Array[Int] =
      (0 until n).sortBy(i =>
        graft.pipeline.Sampling.hash60Jvm(s"$salt:$rep", i.toLong))
        .toArray

    val documents = load("documents")
    save(replicate(documents, Seq("doc_id" -> baseOf(documents, "doc_id")),
      perturb = (d, rep) =>
        if (rep == 0) d
        else {
          // per-replica HASH-SEEDED alphabet permutation: within a
          // replica the corpus keeps its exact dup/near-dup structure
          // (translate is a bijection on tokens and shingles), while
          // across replicas token vocabularies are disjoint — a K×
          // corpus should have K× MORE duplicate clusters, not
          // K×-BIGGER clusters. The earlier Caesar ROTATION had only
          // 25 distinct shifts, so factor > 26 made replicas rep and
          // rep+25 byte-identical — cross-replica EXACT duplicates
          // that blew the sf10 near-dup answer up quadratically (the
          // q269 ~96.5M-pair artifact, round-10 SCALING.md). 26!
          // permutations make shift reuse impossible at any factor.
          val lower = "abcdefghijklmnopqrstuvwxyz"
          val upper = lower.toUpperCase
          val p = seededPerm("alpha", rep, 26)
          val plower = p.map(lower(_)).mkString
          val pupper = p.map(upper(_)).mkString
          d.withColumn("text",
            translate(col("text"), lower + upper, plower + pupper))
        }),
      "documents")
    val embeddings = load("embeddings")
    // single distinct-size probe: fails with a diagnostic on an empty
    // or ragged source corpus instead of an index error (round-11
    // advice); 2-row bound keeps the scan O(1)
    val dims = embeddings.select(size(col("embedding")).as("d"))
      .distinct().limit(2).collect()
    require(dims.length == 1,
      s"embeddings source must be non-empty with one uniform " +
        s"dimension; saw ${dims.map(_.getInt(0)).mkString("{", ",", "}")}")
    val dim = dims(0).getInt(0)
    save(replicate(embeddings,
      Seq("vec_id" -> baseOf(embeddings, "vec_id")),
      perturb = (d, rep) =>
        if (rep == 0) d
        else {
          // per-replica SIGNED PERMUTATION of the coordinates — an
          // orthogonal transform, so within a replica every norm,
          // dot product, and cosine is EXACTLY the source's (the
          // replica is source-like, not distorted), while across
          // replicas directions decorrelate like independent random
          // vectors. The earlier ~1e-3 additive jitter broke exact
          // equality but kept cosine(replica_i, replica_j) ≈ 1, so
          // every vector's 99 copies shared its LSH buckets and were
          // its true top-k — inflating candidate volume and making
          // replicated recall degenerate (round-10 SCALING.md
          // "DEGENERATE" row). An isometry per replica gives K× more
          // organic corpus instead of K copies.
          val p = seededPerm("emb", rep, dim)
          val sign = (0 until dim).map(i =>
            if (graft.pipeline.Sampling
              .hash60Jvm(s"sign:$rep", i.toLong) % 2 == 0) 1f else -1f)
          d.withColumn("embedding",
            array((0 until dim).map(i =>
              element_at(col("embedding"), p(i) + 1) * lit(sign(i))): _*))
        }),
      "embeddings")

    println(s"MAKESCALE done: $dst at ${factor}x of $src")
    spark.stop()
  }
}
