package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.pipeline.{Sampling, TextAnalysis}

/** Retrieval / contrastive-training operators: deterministic negative
  * sampling for embedding-model training and reciprocal-rank fusion of
  * heterogeneous rankings — the two ops that turn a curated corpus into
  * retrieval training data.
  *
  * Both are exactly reproducible: sampling uses the engine-portable
  * 60-bit md5 hash family ([[Sampling.hash60]]) and fusion uses integer
  * reciprocal scores, so the DuckDB oracles are bit-identical.
  */
object RetrievalQueries {

  // ---------------------------------------------------------------------
  // q138 — deterministic negative sampling (the contrastive-training
  // "sample K non-interacted items per user" op). Positives are the
  // (customer, part) pairs that actually co-occur in an order; the
  // candidate pool is the top-100 most-ordered parts (popularity-
  // biased negatives, the standard hard-negative heuristic); each
  // customer draws its 5 pseudo-random negatives by ranking the pool
  // on hash60(customer|part) — stable across runs, engines, and
  // cluster layouts.
  //
  // Scale shape: the pool is top-k bounded (broadcast by construction)
  // so candidates are |customers|·100 — LINEAR in customers, never a
  // corpus×corpus cross join. The anti-join on (custkey, partkey) and
  // the per-customer window both key on the customer, one shuffle
  // each; the window partition holds ≤ 100 rows by construction.
  // ---------------------------------------------------------------------
  def q138_negative_sampling(spark: SparkSession, dir: String): DataFrame = {
    val positives = Tables.orders(spark, dir).select(
        col("o_orderkey"), col("o_custkey").as("c_custkey"))
      .join(Tables.lineitem(spark, dir)
        .select(col("l_orderkey").as("o_orderkey"), col("l_partkey")),
        Seq("o_orderkey"))
      .select(col("c_custkey"), col("l_partkey")).distinct()
    val pool = Tables.lineitem(spark, dir)
      .groupBy(col("l_partkey")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("l_partkey"))
      .limit(100)
      .select(col("l_partkey"))
      .localCheckpoint(eager = true) // feeds the cross join AND the semi
    val candidates = Tables.customer(spark, dir).select(col("c_custkey"))
      .crossJoin(broadcast(pool))
    // only positives whose part is IN the pool can match the anti-join:
    // restricting first shrinks the corpus-sized positives table to a
    // |users|·|pool|-bounded one (broadcastable at any corpus scale)
    val poolPositives = positives
      .join(broadcast(pool), Seq("l_partkey"), "left_semi")
    val negatives = candidates
      .join(poolPositives, Seq("c_custkey", "l_partkey"), "left_anti")
    val w = Window.partitionBy(col("c_custkey"))
      .orderBy(col("h"), col("l_partkey"))
    negatives
      .withColumn("h", Sampling.hash60("negsample",
        concat_ws("|", col("c_custkey"), col("l_partkey"))))
      .withColumn("neg_rank", row_number().over(w))
      .filter(col("neg_rank") <= 5)
      .select(col("c_custkey"), col("l_partkey"), col("neg_rank"))
      .orderBy(col("c_custkey"), col("neg_rank"))
  }

  val q138_sql: String = {
    val h = Sampling.hash60Sql("negsample",
      "CAST(c_custkey AS VARCHAR) || '|' || CAST(l_partkey AS VARCHAR)")
    s"""WITH pos AS (
       |  SELECT DISTINCT o.o_custkey AS c_custkey, l.l_partkey
       |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
       |pool AS (
       |  SELECT l_partkey FROM (
       |    SELECT l_partkey, COUNT(*) AS cnt FROM lineitem GROUP BY 1)
       |  ORDER BY cnt DESC, l_partkey LIMIT 100),
       |cand AS (
       |  SELECT c.c_custkey, p.l_partkey FROM customer c CROSS JOIN pool p),
       |neg AS (
       |  SELECT c_custkey, l_partkey FROM cand
       |  WHERE NOT EXISTS (SELECT 1 FROM pos
       |    WHERE pos.c_custkey = cand.c_custkey
       |      AND pos.l_partkey = cand.l_partkey)),
       |ranked AS (
       |  SELECT c_custkey, l_partkey,
       |    ROW_NUMBER() OVER (PARTITION BY c_custkey
       |      ORDER BY $h, l_partkey) AS neg_rank
       |  FROM neg)
       |SELECT c_custkey, l_partkey, neg_rank FROM ranked
       |WHERE neg_rank <= 5
       |ORDER BY c_custkey, neg_rank""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q139 — reciprocal-rank fusion (RRF, Cormack et al. 2009): combine
  // two retrieval rankings without score calibration, here a length
  // ranking (n_chars) and a vocabulary-richness ranking (distinct
  // whitespace tokens) over documents. Score = Σ 10⁹ div (60 + rank)
  // in integer arithmetic (k=60, the canonical constant).
  //
  // Scale shape: each ranking is a distributed TakeOrdered top-100
  // (never a global row_number window — that plans the banned
  // single-partition WindowExec); rank ids come from zipWithIndex over
  // the ≤100-row bounded result. The fusion join then touches 200
  // rows. The corpus is scanned twice, once per ranking metric; both
  // scans prune to (doc_id, metric).
  // ---------------------------------------------------------------------
  def q139_rrf_fusion(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .filter(length(trim(col("text"))) > 0)

    def rankTop(metric: DataFrame, n: Int): DataFrame = {
      val top = metric.orderBy(col("m").desc, col("doc_id")).limit(n)
        .orderBy(col("m").desc, col("doc_id"))
      val ranked = top.rdd.zipWithIndex()
        .map { case (r, i) => (r.getLong(0), i + 1L) }
      spark.createDataFrame(ranked).toDF("doc_id", "r")
    }

    val byLen = rankTop(
      docs.select(col("doc_id"), col("n_chars").as("m")), 100)
    val byVocab = rankTop(
      docs.select(col("doc_id"),
        size(array_distinct(TextAnalysis.tokens(col("text"))))
          .cast("long").as("m")), 100)
    byLen.select(col("doc_id"),
        expr("1000000000 div (60 + r)").as("c_len"))
      .join(byVocab.select(col("doc_id"),
          expr("1000000000 div (60 + r)").as("c_vocab")),
        Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        (coalesce(col("c_len"), lit(0L)) +
          coalesce(col("c_vocab"), lit(0L))).as("rrf_score"))
      .orderBy(col("rrf_score").desc, col("doc_id"))
      .limit(20)
  }

  val q139_sql: String =
    """WITH d AS (
      |  SELECT doc_id, n_chars,
      |    length(list_distinct(regexp_split_to_array(trim(text), '\s+')))
      |      AS n_vocab
      |  FROM documents WHERE length(trim(text)) > 0),
      |a AS (
      |  SELECT doc_id,
      |    ROW_NUMBER() OVER (ORDER BY n_chars DESC, doc_id) AS r
      |  FROM d ORDER BY r LIMIT 100),
      |b AS (
      |  SELECT doc_id,
      |    ROW_NUMBER() OVER (ORDER BY n_vocab DESC, doc_id) AS r
      |  FROM d ORDER BY r LIMIT 100),
      |f AS (
      |  SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
      |    COALESCE(1000000000 // (60 + a.r), 0)
      |      + COALESCE(1000000000 // (60 + b.r), 0) AS rrf_score
      |  FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id)
      |SELECT doc_id, rrf_score FROM f
      |ORDER BY rrf_score DESC, doc_id
      |LIMIT 20""".stripMargin

  // ---------------------------------------------------------------------
  // q144 — co-occurrence pair mining (the item-item signal behind
  // "bought together" recommenders and co-occurrence embeddings):
  // for every unordered part pair appearing in the same order, count
  // co-occurrences; keep pairs seen ≥ 2 times, top 25.
  //
  // Scale shape: a self-equi-join ON THE ORDER KEY with a < to
  // canonicalize — fan-out is Σ per-order k·(k−1)/2, bounded by the
  // basket size (k ≈ 7 here), NOT corpus². Baskets are naturally
  // bounded in practice; a degenerate giant basket would be capped
  // upstream (the q32/dfCapped convention). One shuffle on orderkey,
  // one on the pair key.
  // ---------------------------------------------------------------------
  def q144_copurchase(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
    l.as("x").join(l.as("y"), col("x.l_orderkey") === col("y.l_orderkey")
        && col("x.l_partkey") < col("y.l_partkey"))
      .groupBy(col("x.l_partkey").as("part_a"),
        col("y.l_partkey").as("part_b"))
      .agg(count(lit(1)).as("n_orders"))
      .filter(col("n_orders") >= 2)
      .orderBy(col("n_orders").desc, col("part_a"), col("part_b"))
      .limit(25)
  }

  val q144_sql: String =
    """WITH l AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
      |SELECT x.l_partkey AS part_a, y.l_partkey AS part_b,
      |       COUNT(*) AS n_orders
      |FROM l x JOIN l y ON x.l_orderkey = y.l_orderkey
      |               AND x.l_partkey < y.l_partkey
      |GROUP BY part_a, part_b
      |HAVING COUNT(*) >= 2
      |ORDER BY n_orders DESC, part_a, part_b
      |LIMIT 25""".stripMargin

  // ---------------------------------------------------------------------
  // q145 — foreign-key containment inference (schema profiling / data-
  // catalog op): for each candidate child→parent column pair, what
  // fraction of the child's distinct values exist in the parent?
  // containment_ppm = 10⁶ ⇒ a valid FK; < 10⁶ quantifies orphans.
  // The discovery primitive behind auto-join suggestions.
  //
  // Scale shape: per candidate, two distinct-aggregations and one
  // left-semi join ON the distinct sets (cardinality ≤ key count, not
  // row count). Candidates are a fixed metadata-sized list; results
  // union trivially.
  // ---------------------------------------------------------------------
  def q145_fk_containment(spark: SparkSession, dir: String): DataFrame = {
    def contain(name: String, child: DataFrame, childCol: String,
        parent: DataFrame, parentCol: String): DataFrame = {
      val c = child.select(col(childCol).cast("long").as("k")).distinct()
        .localCheckpoint(eager = true)
      val p = parent.select(col(parentCol).cast("long").as("k")).distinct()
      val matched = c.join(p, Seq("k"), "left_semi")
        .agg(count(lit(1)).as("n_matched"))
      c.agg(count(lit(1)).as("n_child_distinct"))
        .crossJoin(matched)
        .select(lit(name).as("fk_candidate"), col("n_child_distinct"),
          col("n_matched"),
          expr("(n_matched * 1000000) div n_child_distinct")
            .as("containment_ppm"))
    }
    val o = Tables.orders(spark, dir)
    val l = Tables.lineitem(spark, dir)
    contain("orders.o_custkey->customer.c_custkey",
        o, "o_custkey", Tables.customer(spark, dir), "c_custkey")
      .unionByName(contain("lineitem.l_partkey->part.p_partkey",
        l, "l_partkey", Tables.part(spark, dir), "p_partkey"))
      .unionByName(contain("lineitem.l_suppkey->supplier.s_suppkey",
        l, "l_suppkey", Tables.supplier(spark, dir), "s_suppkey"))
      .unionByName(contain("events.user_id->customer.c_custkey",
        Tables.events(spark, dir), "user_id",
        Tables.customer(spark, dir), "c_custkey"))
      .orderBy(col("fk_candidate"))
  }

  val q145_sql: String = {
    def contain(name: String, childTbl: String, childCol: String,
        parentTbl: String, parentCol: String): String =
      s"""SELECT '$name' AS fk_candidate,
         |  (SELECT COUNT(DISTINCT $childCol) FROM $childTbl)
         |    AS n_child_distinct,
         |  (SELECT COUNT(*) FROM
         |    (SELECT DISTINCT $childCol AS k FROM $childTbl) c
         |    WHERE EXISTS (SELECT 1 FROM $parentTbl p
         |      WHERE p.$parentCol = c.k)) AS n_matched,
         |  ((SELECT COUNT(*) FROM
         |    (SELECT DISTINCT $childCol AS k FROM $childTbl) c
         |    WHERE EXISTS (SELECT 1 FROM $parentTbl p
         |      WHERE p.$parentCol = c.k)) * 1000000)
         |  // (SELECT COUNT(DISTINCT $childCol) FROM $childTbl)
         |    AS containment_ppm""".stripMargin
    Seq(
      contain("orders.o_custkey->customer.c_custkey",
        "orders", "o_custkey", "customer", "c_custkey"),
      contain("lineitem.l_partkey->part.p_partkey",
        "lineitem", "l_partkey", "part", "p_partkey"),
      contain("lineitem.l_suppkey->supplier.s_suppkey",
        "lineitem", "l_suppkey", "supplier", "s_suppkey"),
      contain("events.user_id->customer.c_custkey",
        "events", "user_id", "customer", "c_custkey"))
      .mkString("", "\nUNION ALL\n", "\nORDER BY fk_candidate")
  }

  // ---------------------------------------------------------------------
  // q158 — association rules over the q144 co-occurrence pairs: for
  // each part pair, directed confidence conf(a→b) = n(ab)·10⁶ div n(a)
  // and symmetric lift = n(ab)·N·10⁶ div (n(a)·n(b)) — the market-
  // basket strength metrics, all in integer ppm. Scale: the pair join
  // is basket-bounded (q144); the per-item counts and the basket total
  // are one groupBy each, joined back by item key.
  // ---------------------------------------------------------------------
  def q158_association_rules(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
      .localCheckpoint(eager = true) // pairs + item counts + basket total
    val itemN = l.groupBy(col("l_partkey")).agg(count(lit(1)).as("n_item"))
      .localCheckpoint(eager = true) // probed for BOTH rule directions
    val totalN = l.select(col("l_orderkey")).distinct()
      .agg(count(lit(1)).as("n_orders_total"))
    val pairs = l.as("x").join(l.as("y"),
        col("x.l_orderkey") === col("y.l_orderkey") &&
          col("x.l_partkey") < col("y.l_partkey"))
      .groupBy(col("x.l_partkey").as("part_a"),
        col("y.l_partkey").as("part_b"))
      .agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= 2)
    pairs
      .join(itemN.select(col("l_partkey").as("part_a"),
        col("n_item").as("n_a")), Seq("part_a"))
      .join(itemN.select(col("l_partkey").as("part_b"),
        col("n_item").as("n_b")), Seq("part_b"))
      .crossJoin(broadcast(totalN))
      .select(col("part_a"), col("part_b"), col("n_ab"), col("n_a"),
        col("n_b"),
        expr("(n_ab * 1000000) div n_a").as("conf_ab_ppm"),
        expr("(n_ab * 1000000) div n_b").as("conf_ba_ppm"),
        expr("(n_ab * n_orders_total * 1000000) div (n_a * n_b)")
          .as("lift_ppm"))
      .orderBy(col("lift_ppm").desc, col("part_a"), col("part_b"))
      .limit(25)
  }

  val q158_sql: String =
    """WITH l AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |item AS (SELECT l_partkey, COUNT(*) AS n_item FROM l GROUP BY 1),
      |tot AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders_total FROM l),
      |p AS (
      |  SELECT x.l_partkey AS part_a, y.l_partkey AS part_b,
      |         COUNT(*) AS n_ab
      |  FROM l x JOIN l y ON x.l_orderkey = y.l_orderkey
      |                   AND x.l_partkey < y.l_partkey
      |  GROUP BY 1, 2
      |  HAVING COUNT(*) >= 2)
      |SELECT part_a, part_b, n_ab, a.n_item AS n_a, b.n_item AS n_b,
      |  (n_ab * 1000000) // a.n_item AS conf_ab_ppm,
      |  (n_ab * 1000000) // b.n_item AS conf_ba_ppm,
      |  (n_ab * tot.n_orders_total * 1000000)
      |    // (a.n_item * b.n_item) AS lift_ppm
      |FROM p
      |JOIN item a ON a.l_partkey = part_a
      |JOIN item b ON b.l_partkey = part_b
      |CROSS JOIN tot
      |ORDER BY lift_ppm DESC, part_a, part_b
      |LIMIT 25""".stripMargin

  val registry: graft.SparkEntry.Registry = Seq(
    ("q138_negative_sampling", q138_negative_sampling _, q138_sql),
    ("q139_rrf_fusion", q139_rrf_fusion _, q139_sql),
    ("q144_copurchase", q144_copurchase _, q144_sql),
    ("q145_fk_containment", q145_fk_containment _, q145_sql),
    ("q158_association_rules", q158_association_rules _, q158_sql))
}
