package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.graph.Communities
import graft.pipeline.Dedup

/** Round-8 continuation tier — named at-scale algorithms, each the
  * distributed-by-construction form of an operation the reference's
  * single-node engine could only run in memory (`pkg/query/advanced.go`
  * ranks and groups what fits in one process; these are the shapes that
  * survive when the same questions are asked of 100 TB):
  *
  *   - q269 prefix-filtered all-pairs similarity join (AllPairs/PPJoin)
  *   - q271 Luby maximal independent set (fixed priorities)
  *   - q272 bipartite butterfly counting (wedge aggregation)
  *
  * Determinism contract: all outputs integer-exact (counts, ×1000
  * fixed-point), every tie broken by a total order, every aggregate
  * CAST to BIGINT on the DuckDB side (SUM yields HUGEINT there).
  */
object ScaleQueries {

  // -------------------------------------------------------------------
  // q269 — prefix-filtered exact-threshold Jaccard self-join (Bayardo
  // 2007 "Scaling Up All Pairs Similarity Search"; Xiao 2008 PPJoin).
  // q23's inverted-list join pays Σ df² over the WHOLE vocabulary —
  // stopword lists explode it at corpus scale. The prefix filter
  // indexes only each doc's |x| − ⌈t·|x|⌉ + 1 RAREST tokens (global
  // df-ascending order), which is lossless for Jaccard ≥ t: a
  // qualifying pair must collide inside the prefix. The oracle computes
  // the naive all-pairs answer — a green row proves the pruned plan
  // found EVERY pair. Threshold t = 0.9.
  // -------------------------------------------------------------------
  private val Thr269 = 900L

  def q269_prefix_filter_join(spark: SparkSession, dir: String)
      : DataFrame =
    // doc token sets straight from the document rows — no explode →
    // groupBy(doc) reassembly shuffle (guide §2.4; bit-identical, see
    // Dedup.docShingleSets)
    Dedup.prefixFilteredJaccardPairsFromDocs(
        Dedup.docShingleSets(Tables.documents(spark, dir),
          "doc_id", "text", 1), Thr269)
      .orderBy(col("id_a"), col("id_b"))

  val q269_sql: String =
    s"""WITH ${OracleSql.toks},
       |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM toks GROUP BY 1),
       |inter AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n
       |  FROM toks a JOIN toks b
       |    ON a.tok = b.tok AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT id_a, id_b, CAST(n AS BIGINT) AS intersection,
       |  CAST(sa.sz AS BIGINT) AS size_a, CAST(sb.sz AS BIGINT) AS size_b,
       |  CAST((1000 * n) // (sa.sz + sb.sz - n) AS BIGINT) AS jac_x1000
       |FROM inter
       |JOIN sizes sa ON id_a = sa.doc_id
       |JOIN sizes sb ON id_b = sb.doc_id
       |WHERE 1000 * n >= $Thr269 * (sa.sz + sb.sz - n)
       |ORDER BY id_a, id_b""".stripMargin

  // -------------------------------------------------------------------
  // q358 — the similarity join's BOUNDED-OUTPUT reporting mode
  // (round-10 verdict "What's wrong" #2): the same lossless prefix-
  // filtered pipeline as q269, but shipping what a 10⁸-pair dedup
  // report ships in practice — per-similarity-band pair/doc counts
  // plus k capped exemplar pairs — instead of the answer-sized pair
  // dump whose sort + parquet write is what exceeded the box's spill
  // disk at sf10. Output size is O(bands · k) regardless of corpus;
  // the oracle is the identical naive all-pairs filter chain
  // aggregated the same way, so a green row proves the pruned plan
  // STILL found every pair. Band width 10 over jac_x1000 ∈ [900,
  // 1000], k = 3 exemplars by (id_a, id_b) order.
  // -------------------------------------------------------------------
  private val BandWidth358 = 10L
  private val ExemplarK358 = 3

  def q358_similarity_report(spark: SparkSession, dir: String)
      : DataFrame =
    Dedup.similarityJoinReport(
      Dedup.prefixFilteredJaccardPairsFromDocs(
        Dedup.docShingleSets(Tables.documents(spark, dir),
          "doc_id", "text", 1), Thr269),
      BandWidth358, ExemplarK358)

  val q358_sql: String =
    s"""WITH ${OracleSql.toks},
       |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM toks GROUP BY 1),
       |inter AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n
       |  FROM toks a JOIN toks b
       |    ON a.tok = b.tok AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |allp AS (
       |  SELECT id_a, id_b,
       |    (1000 * n) // (sa.sz + sb.sz - n) AS jac
       |  FROM inter
       |  JOIN sizes sa ON id_a = sa.doc_id
       |  JOIN sizes sb ON id_b = sb.doc_id
       |  WHERE 1000 * n >= $Thr269 * (sa.sz + sb.sz - n)),
       |banded AS (
       |  SELECT jac - (jac % $BandWidth358) AS band, id_a, id_b, jac
       |  FROM allp),
       |bstats AS (
       |  SELECT band, CAST(COUNT(*) AS BIGINT) AS n_pairs,
       |    CAST(MAX(jac) AS BIGINT) AS max_jac_x1000
       |  FROM banded GROUP BY 1),
       |bdocs AS (
       |  SELECT band, CAST(COUNT(DISTINCT doc) AS BIGINT) AS n_docs
       |  FROM (SELECT band, id_a AS doc FROM banded
       |        UNION ALL SELECT band, id_b FROM banded)
       |  GROUP BY 1),
       |bex AS (
       |  SELECT band, CAST(rk AS BIGINT) AS rank, id_a AS ex_id_a,
       |    id_b AS ex_id_b, CAST(jac AS BIGINT) AS ex_jac_x1000
       |  FROM (SELECT band, id_a, id_b, jac, ROW_NUMBER() OVER (
       |          PARTITION BY band ORDER BY id_a, id_b) AS rk
       |        FROM banded)
       |  WHERE rk <= $ExemplarK358)
       |SELECT CAST(s.band AS BIGINT) AS band, n_pairs, n_docs,
       |  max_jac_x1000, rank, ex_id_a, ex_id_b, ex_jac_x1000
       |FROM bstats s JOIN bdocs d ON s.band = d.band
       |JOIN bex e ON s.band = e.band
       |ORDER BY band, rank""".stripMargin

  // -------------------------------------------------------------------
  // q271 — maximal independent set via Luby's algorithm (Luby 1986)
  // with fixed collision-free priorities (Knuth multiplicative hash —
  // odd multiplier, bijective mod 2^32, so no ties). Graph: the union
  // of three stride paths over part keys (k ↔ k−7, k−17, k−23),
  // degree ≤ 6, diameter O(n) — the regime where the sequential greedy
  // MIS is a single O(n) chain but Luby converges in
  // O(longest priority-descending path) ≈ O(log n) rounds of hash
  // joins. The oracle unrolls the SAME rounds (32 ≫ the ~16 observed;
  // spent rounds are no-ops), so a green row pins the round-by-round
  // winner sets, and MIS independence/maximality are property-tested
  // in ScaleAlgoSpec.
  // -------------------------------------------------------------------
  private val MisStrides = Seq(7, 17, 23)
  private val MisRounds = 32

  def q271_luby_mis(spark: SparkSession, dir: String): DataFrame = {
    val part = Tables.part(spark, dir)
    val nodes = part.select(col("p_partkey").as("v"),
      expr("(p_partkey * 2654435761) % 4294967296").as("h"))
    val fwd = MisStrides.map { s =>
      part.filter(col("p_partkey") >= s)
        .select(col("p_partkey").as("u"), (col("p_partkey") - s).as("w"))
    }.reduce(_ unionAll _)
    val sym = fwd.unionAll(fwd.select(col("w").as("u"), col("u").as("w")))
    Communities.maximalIndependentSet(nodes, sym, MisRounds)
      .orderBy(col("node"))
  }

  val q271_sql: String = {
    val nodesSql =
      "SELECT p_partkey AS v, (p_partkey * 2654435761) % 4294967296 AS h " +
        "FROM part"
    val fwd = MisStrides.map(s =>
      s"SELECT p_partkey AS u, p_partkey - $s AS w FROM part " +
        s"WHERE p_partkey >= $s").mkString(" UNION ALL ")
    val edgesSql =
      s"WITH fwd AS ($fwd) " +
        "SELECT u, w FROM fwd UNION ALL SELECT w, u FROM fwd"
    s"""WITH ${Communities.maximalIndependentSetSql(nodesSql, edgesSql,
          MisRounds)}
       |SELECT node, round FROM mis ORDER BY node""".stripMargin
  }

  // -------------------------------------------------------------------
  // q272 — butterfly (2×2 biclique) counting in the bipartite
  // customer–part purchase graph (Wang 2014; Sanei-Mehri 2018). The
  // butterfly is the bipartite clustering primitive (triangles don't
  // exist in bipartite graphs). Count by WEDGE AGGREGATION: join the
  // edge list with itself on the customer pivot, group the (p1 < p2)
  // endpoints, and every pair with codeg common customers contributes
  // C(codeg, 2) butterflies — one shuffle join + one aggregation,
  // Σ_c d(c)² work, the side to pivot on chosen so that sum is the
  // smaller (here: customers, whose degree is bounded by order count
  // per customer). Output: top-25 part pairs by co-purchase degree,
  // each row carrying the GLOBAL butterfly total.
  //
  // Scale note (the sf10 wall, round 11): the co-degree table `pr` is
  // ~250M rows at sf10, and an eager localCheckpoint of it — taken so
  // the global Σ pair_bf and the top-25 could share one materialized
  // frame — blew the spill disk together with the wedge shuffle. The
  // completable form never materializes anything pair-sized: the
  // global sum rides the SAME TakeOrdered job as a CollectMetrics
  // observation (`observe` sits below TakeOrderedAndProject, which
  // scans every partition, so the metric sees every pair exactly
  // once), and the bounded 25-row result is re-assembled with the
  // observed total stamped on as a literal. One pass over the wedge
  // join, zero pair-sized state beyond the shuffle itself.
  // -------------------------------------------------------------------
  def q272_butterflies(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey").as("c"))
      .join(Tables.lineitem(spark, dir)
        .select(col("l_orderkey").as("o_orderkey"),
          col("l_partkey").as("p")), Seq("o_orderkey"))
      .select(col("c"), col("p")).distinct()
    val pr = e.as("a")
      .join(e.as("b"),
        col("a.c") === col("b.c") && col("a.p") < col("b.p"))
      .groupBy(col("a.p").as("p1"), col("b.p").as("p2"))
      .agg(count(lit(1)).as("codeg"))
      .withColumn("pair_bf", expr("codeg * (codeg - 1) div 2"))
    val obs = org.apache.spark.sql.Observation()
    val top = pr.observe(obs, sum(col("pair_bf")).as("total_bf"))
      .orderBy(col("codeg").desc, col("p1"), col("p2"))
      .limit(25)
    val rows = graft.ops.Driver.boundedCollect(top, 25, "q272 top pairs")
    val totalBf = obs.get("total_bf") match {
      case l: java.lang.Long => l.longValue()
      case null => 0L // empty edge set: SUM over zero rows is NULL
      case other => sys.error(
        s"q272: observed total_bf is not a Long: $other")
    }
    spark.createDataFrame(
        spark.sparkContext.parallelize(rows.toIndexedSeq, 1), top.schema)
      .withColumn("total_bf", lit(totalBf))
      .orderBy(col("codeg").desc, col("p1"), col("p2"))
  }

  val q272_sql: String =
    """WITH e AS (
      |  SELECT DISTINCT o_custkey AS c, l_partkey AS p
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      |pr AS (
      |  SELECT a.p AS p1, b.p AS p2, COUNT(*) AS codeg
      |  FROM e a JOIN e b ON a.c = b.c AND a.p < b.p
      |  GROUP BY 1, 2),
      |pb AS (
      |  SELECT p1, p2, CAST(codeg AS BIGINT) AS codeg,
      |         CAST(codeg * (codeg - 1) // 2 AS BIGINT) AS pair_bf
      |  FROM pr),
      |t AS (SELECT CAST(SUM(pair_bf) AS BIGINT) AS total_bf FROM pb)
      |SELECT p1, p2, codeg, pair_bf, total_bf FROM pb CROSS JOIN t
      |ORDER BY codeg DESC, p1, p2 LIMIT 25""".stripMargin

  // -------------------------------------------------------------------
  // q270 — sequential-pattern support (the subsequence semantics of
  // PrefixSpan/SPAM, Pei 2001): support of pattern ⟨t1,t2⟩ = #users
  // whose early activity contains t1 strictly before t2 (NOT
  // necessarily adjacent — q192's contiguous trigrams are the other
  // semantics). Mined over each user's FIRST 8 events so per-user
  // state is O(1) and the mining survives unbounded history. The
  // subsequence test never materializes subsequences: ⟨a,b⟩ holds iff
  // first(a) < last(b), and ⟨a,b,c⟩ iff the EARLIEST completion of
  // ⟨a,b⟩ (min pos of b after first(a) — the greedy-matching argument)
  // precedes last(c). Patterns with support ≥ 25% of users are kept.
  // -------------------------------------------------------------------
  def q270_seq_patterns(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val p8 = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts"),
        col("event_id"))
      .withColumn("pos", row_number().over(w))
      .filter(col("pos") <= 8)
      .select(col("user_id"), col("event_type"), col("pos"))
      .localCheckpoint(eager = true) // type summaries + occurrence scan
    val tp = p8.groupBy(col("user_id"), col("event_type").as("t"))
      .agg(min(col("pos")).as("mn"), max(col("pos")).as("mx"))
      .localCheckpoint(eager = true)
    val nU = p8.agg(countDistinct(col("user_id")).as("n_users"))
    val l2 = tp.as("a")
      .join(tp.as("b"), col("a.user_id") === col("b.user_id") &&
        col("a.mn") < col("b.mx"))
      .groupBy(col("a.t").as("t1"), col("b.t").as("t2"))
      .agg(count(lit(1)).as("support"))
      .select(concat_ws(">", col("t1"), col("t2")).as("pattern"),
        lit(2).as("plen"), col("support"))
    val m2 = tp.select(col("user_id"), col("t").as("t1"), col("mn"))
      .join(p8.select(col("user_id"), col("event_type").as("t2"),
        col("pos")), Seq("user_id"))
      .filter(col("pos") > col("mn"))
      .groupBy(col("user_id"), col("t1"), col("t2"))
      .agg(min(col("pos")).as("m2pos"))
    val l3 = m2
      .join(tp.select(col("user_id"), col("t").as("t3"), col("mx")),
        Seq("user_id"))
      .filter(col("m2pos") < col("mx"))
      .groupBy(col("t1"), col("t2"), col("t3"))
      .agg(count(lit(1)).as("support"))
      .select(concat_ws(">", col("t1"), col("t2"), col("t3"))
        .as("pattern"), lit(3).as("plen"), col("support"))
    l2.unionAll(l3).crossJoin(broadcast(nU))
      .filter(col("support") * 4 >= col("n_users"))
      .select(col("pattern"), col("plen"), col("support"))
      .orderBy(col("plen"), col("support").desc, col("pattern"))
  }

  val q270_sql: String =
    """WITH e AS (
      |  SELECT user_id, event_type,
      |    ROW_NUMBER() OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id) AS pos
      |  FROM events),
      |p8 AS (SELECT * FROM e WHERE pos <= 8),
      |tp AS (
      |  SELECT user_id, event_type AS t, MIN(pos) AS mn, MAX(pos) AS mx
      |  FROM p8 GROUP BY 1, 2),
      |u AS (SELECT COUNT(DISTINCT user_id) AS n_users FROM p8),
      |l2 AS (
      |  SELECT a.t || '>' || b.t AS pattern, 2 AS plen,
      |    CAST(COUNT(*) AS BIGINT) AS support
      |  FROM tp a JOIN tp b
      |    ON a.user_id = b.user_id AND a.mn < b.mx
      |  GROUP BY 1, 2),
      |m2 AS (
      |  SELECT a.user_id, a.t AS t1, o.event_type AS t2,
      |    MIN(o.pos) AS m2pos
      |  FROM tp a JOIN p8 o
      |    ON o.user_id = a.user_id AND o.pos > a.mn
      |  GROUP BY 1, 2, 3),
      |l3 AS (
      |  SELECT m.t1 || '>' || m.t2 || '>' || c.t AS pattern, 3 AS plen,
      |    CAST(COUNT(*) AS BIGINT) AS support
      |  FROM m2 m JOIN tp c
      |    ON c.user_id = m.user_id AND m.m2pos < c.mx
      |  GROUP BY 1, 2)
      |SELECT pattern, plen, support
      |FROM (SELECT * FROM l2 UNION ALL SELECT * FROM l3) p, u
      |WHERE support * 4 >= n_users
      |ORDER BY plen, support DESC, pattern""".stripMargin

  // -------------------------------------------------------------------
  // q273 — k-truss decomposition (Cohen 2008) by iterative support
  // peeling: repeatedly drop edges in < k−2 triangles until fixpoint.
  // Each round is one wedge join (edge ⋈ symmetric-adjacency ⋈
  // symmetric-adjacency) + one aggregation — O(Σd²) per round, no
  // vertex-centric state — so a round is the same shuffle shape at
  // 100 TB. The graph is a hash-thinned union of three stride paths
  // over part keys (keep ⟺ h(a,s) mod 10 < 7): density is constant
  // per node, so the truss grows linearly with the corpus and the
  // peeling depth stays FLAT (~4 rounds at every measured scale, see
  // SCALING.md). The oracle unrolls a fixed 10 rounds (a converged
  // fixpoint is idempotent under extra rounds), the engine stops at
  // the fixpoint within the same 10 peels; both emit a `converged`
  // audit column that the spec asserts = 1; k = 4 (every surviving
  // edge in ≥ 2 triangles).
  // -------------------------------------------------------------------
  private val TrussRounds = 10
  private val TrussMinSup = 2 // k − 2 for k = 4

  def q273_ktruss(spark: SparkSession, dir: String): DataFrame = {
    val part = Tables.part(spark, dir)
    val mx = part.agg(max(col("p_partkey")).as("mxk"))
    val cand = Seq(1, 2, 3).map { s =>
      part.select(col("p_partkey").as("a"),
        (col("p_partkey") + s).as("b"), lit(s).as("s"))
    }.reduce(_ unionAll _)
      .crossJoin(broadcast(mx)).filter(col("b") <= col("mxk"))
      .filter(expr(
        "((a * 31 + s * 131) * 2654435761) % 4294967296 % 10 < 7"))
      .select(col("a"), col("b"))
    def support(e: DataFrame): DataFrame = {
      val sym = e.select(col("a").as("u"), col("b").as("w"))
        .unionAll(e.select(col("b").as("u"), col("a").as("w")))
      e.as("e")
        .join(sym.as("s1"), col("s1.u") === col("e.a"))
        .join(sym.as("s2"), col("s2.u") === col("e.b") &&
          col("s2.w") === col("s1.w"))
        .groupBy(col("e.a").as("a"), col("e.b").as("b"))
        .agg(count(lit(1)).as("sup"))
    }
    // in-loop checkpoints are JOINED next round (support(e) is a
    // double self-join) — barriered by Iterate.fixpoint, per the
    // Iterate.scala rule: carried origin stats multiply round over
    // round (Round11GateSpec asserts it stays flat). Peeling only
    // drops edges, so an unchanged count IS the fixpoint: every
    // further round of the fixed 10 would reproduce the same set.
    val rounds = graft.ops.Iterate.fixpoint("k-truss", cand,
        TrussRounds + 1, done = (prev, cur) => cur._2 == prev._2) {
      rounds => support(rounds.last._1)
        .filter(col("sup") >= TrussMinSup).select(col("a"), col("b"))
    }
    val converged = rounds.takeRight(2).map(_._2).distinct.size == 1
    support(rounds.last._1)
      .withColumn("converged", lit(if (converged) 1 else 0))
      .select(col("a"), col("b"), col("sup"), col("converged"))
      .orderBy(col("a"), col("b"))
  }

  val q273_sql: String = {
    val rounds = (1 to TrussRounds).map { r =>
      s"""sym${r - 1} AS MATERIALIZED (
         |  SELECT a AS u, b AS w FROM e${r - 1}
         |  UNION ALL SELECT b, a FROM e${r - 1}),
         |e$r AS MATERIALIZED (
         |  SELECT e.a, e.b FROM e${r - 1} e
         |  JOIN sym${r - 1} s1 ON s1.u = e.a
         |  JOIN sym${r - 1} s2 ON s2.u = e.b AND s2.w = s1.w
         |  GROUP BY e.a, e.b
         |  HAVING COUNT(*) >= $TrussMinSup)""".stripMargin
    }.mkString(",\n")
    val R = TrussRounds
    s"""WITH e0 AS MATERIALIZED (
       |  SELECT p_partkey AS a, p_partkey + s AS b
       |  FROM part, (VALUES (1), (2), (3)) st(s)
       |  WHERE p_partkey + s <= (SELECT MAX(p_partkey) FROM part)
       |    AND ((p_partkey * 31 + s * 131) * 2654435761)
       |        % 4294967296 % 10 < 7),
       |$rounds,
       |symf AS (
       |  SELECT a AS u, b AS w FROM e$R
       |  UNION ALL SELECT b, a FROM e$R)
       |SELECT e.a, e.b, CAST(COUNT(*) AS BIGINT) AS sup,
       |  (SELECT CASE WHEN (SELECT COUNT(*) FROM e$R) =
       |     (SELECT COUNT(*) FROM e${R - 1}) THEN 1 ELSE 0 END)
       |    AS converged
       |FROM e$R e
       |JOIN symf s1 ON s1.u = e.a
       |JOIN symf s2 ON s2.u = e.b AND s2.w = s1.w
       |GROUP BY e.a, e.b
       |ORDER BY e.a, e.b""".stripMargin
  }

  // -------------------------------------------------------------------
  // q274 — Hilbert-curve layout audit, the companion to q153's Z-order
  // audit: quantize (l_partkey, l_suppkey) onto a 64×64 grid, assign
  // each row its Hilbert index (iterative xy2d — pure CASE/&/× integer
  // arithmetic, codegen'd, no UDF), split the curve into 16 equal index
  // ranges, and report each range's row count, per-dimension distinct
  // counts, and bounding-box AREA. Because consecutive Hilbert indexes
  // are always grid-adjacent (property-tested in ScaleAlgoSpec), the
  // per-range boxes are tighter than Morton's — this is the min/max
  // file-pruning win Hilbert clustering buys a 100 TB table.
  // -------------------------------------------------------------------
  def q274_hilbert_layout(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_partkey"), col("l_suppkey"))
    val mx = li.agg(max(col("l_partkey")).as("mxp"),
      max(col("l_suppkey")).as("mxs"))
    val pts = li.crossJoin(broadcast(mx))
      .withColumn("x", expr("(l_partkey * 64) div (mxp + 1)"))
      .withColumn("y", expr("(l_suppkey * 64) div (mxs + 1)"))
      .select(col("x"), col("y"), col("l_partkey"), col("l_suppkey"))
    graft.ops.Hilbert.withIndex(pts, 64)
      .withColumn("hbucket", expr("d div 256"))
      .groupBy(col("hbucket"))
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        ((max(col("x")) - min(col("x")) + 1) *
          (max(col("y")) - min(col("y")) + 1)).as("bbox_area"),
        min(col("d")).as("dmin"), max(col("d")).as("dmax"))
      .orderBy(col("hbucket"))
  }

  val q274_sql: String = {
    val base = "SELECT (l_partkey * 64) // (mxp + 1) AS x, " +
      "(l_suppkey * 64) // (mxs + 1) AS y, l_partkey, l_suppkey " +
      "FROM lineitem, m"
    s"""WITH m AS (
       |  SELECT MAX(l_partkey) AS mxp, MAX(l_suppkey) AS mxs
       |  FROM lineitem),
       |${graft.ops.Hilbert.sql(base, 64,
          Seq("l_partkey", "l_suppkey"))}
       |SELECT d // 256 AS hbucket, COUNT(*) AS n_rows,
       |  COUNT(DISTINCT l_partkey) AS n_parts,
       |  COUNT(DISTINCT l_suppkey) AS n_supps,
       |  CAST((MAX(x) - MIN(x) + 1) * (MAX(y) - MIN(y) + 1) AS BIGINT)
       |    AS bbox_area,
       |  CAST(MIN(d) AS BIGINT) AS dmin, CAST(MAX(d) AS BIGINT) AS dmax
       |FROM hilb GROUP BY 1 ORDER BY hbucket""".stripMargin
  }

  // -------------------------------------------------------------------
  // q275 — Fellegi–Sunter record-linkage weights (Fellegi & Sunter
  // 1969): estimate, per comparison field, P(agree | match) = m and
  // P(agree | non-match) = u, then score blocked candidate pairs by the
  // product of per-field agreement/disagreement likelihood ratios. The
  // "dirty" B-side re-entry of each customer is derived
  // deterministically (nation off-by-one for key%11=0, segment wiped
  // for key%7=0, balance band shifted for key%5=0, phone last-4 zeroed
  // for key%13=0); m comes from the true (k,k) pairs, u from the
  // shifted (k,k+1) pairs, both Laplace-smoothed ((agree+1)·10⁶ ÷
  // (n+2)) so no ratio divides by zero. Scores are exact integer
  // products of ppm ratios — DECIMAL(38) here, HUGEINT in the oracle
  // (the q221/q237 promotion pattern; 4-field products peak ~10³¹).
  // Candidates come from MULTI-PASS blocking (the Splink-style scale
  // pattern): name-suffix-4 (~10⁴ blocks) ∪ (nation, balance-band)
  // (~2.75k blocks), deduplicated on the pair id. A match is reachable
  // unless suffix AND (nation or balance) are corrupted (~2% documented
  // recall cost), and Σ block² stays bounded because BOTH passes key on
  // high-cardinality values — the same occupancy lesson as q253's LSH
  // sizing rule. The first cut of this query blocked on (nat, seg)
  // (125 fixed blocks) and measured 17× at 10× data; this shape
  // measures 2.4× (1.47 s → 3.55 s warm, sf0.1 → sf1).
  // -------------------------------------------------------------------
  /** The linkage fixture shared by q275 and q277: the clean customer
    * side (k, nat, seg, bal, sfx) and its deterministically-corrupted
    * re-entry (nation off-by-one for k%11=0, segment wiped for k%7=0,
    * balance band shifted for k%5=0, name suffix zeroed for k%13=0).
    * Both sides are materialized (each feeds several plan branches).
    */
  private[queries] def dirtyCustomerSides(spark: SparkSession,
      dir: String): (DataFrame, DataFrame) = {
    val a = Tables.customer(spark, dir).select(
      col("c_custkey").as("k"),
      col("c_nationkey").cast("long").as("nat"),
      col("c_mktsegment").as("seg"),
      expr("cast(floor(c_acctbal) as bigint) div 100").as("bal"),
      expr("substring(c_name, length(c_name) - 3, 4)").as("sfx"))
      .localCheckpoint(eager = true)
    val b = a.select(col("k"),
      when(col("k") % 11 === 0, col("nat") + 1).otherwise(col("nat"))
        .as("nat"),
      when(col("k") % 7 === 0, lit("UNKNOWN")).otherwise(col("seg"))
        .as("seg"),
      when(col("k") % 5 === 0, col("bal") + 1).otherwise(col("bal"))
        .as("bal"),
      when(col("k") % 13 === 0, lit("0000")).otherwise(col("sfx"))
        .as("sfx"))
      .localCheckpoint(eager = true)
    (a, b)
  }

  /** The SQL mirror of [[dirtyCustomerSides]] as two CTE bodies. */
  private[queries] val dirtyCustomerCtes: String =
    """a AS (
      |  SELECT c_custkey AS k, CAST(c_nationkey AS BIGINT) AS nat,
      |    c_mktsegment AS seg,
      |    CAST(floor(c_acctbal) AS BIGINT) // 100 AS bal,
      |    substring(c_name, length(c_name) - 3, 4) AS sfx
      |  FROM customer),
      |b AS (
      |  SELECT k,
      |    CASE WHEN k % 11 = 0 THEN nat + 1 ELSE nat END AS nat,
      |    CASE WHEN k % 7 = 0 THEN 'UNKNOWN' ELSE seg END AS seg,
      |    CASE WHEN k % 5 = 0 THEN bal + 1 ELSE bal END AS bal,
      |    CASE WHEN k % 13 = 0 THEN '0000' ELSE sfx END AS sfx
      |  FROM a)""".stripMargin

  def q275_fellegi_sunter(spark: SparkSession, dir: String): DataFrame = {
    val fields = Seq("nat", "seg", "bal", "sfx")
    val (a, b) = dirtyCustomerSides(spark, dir)
    def agreeStats(pairs: DataFrame): Seq[Long] = {
      val aggs = fields.map(f =>
        sum(when(col(s"a.$f") === col(s"b.$f"), 1L).otherwise(0L))
          .as(s"g_$f")) :+ count(lit(1)).as("n")
      val r = pairs.agg(aggs.head, aggs.tail: _*).head()
      val n = r.getLong(fields.size)
      fields.indices.map(i => (r.getLong(i) + 1) * 1000000L / (n + 2))
    }
    val m = agreeStats(a.as("a").join(b.as("b"), col("a.k") === col("b.k")))
    val u = agreeStats(
      a.as("a").join(b.as("b"), col("a.k") + 1 === col("b.k")))
    val wa = m.zip(u).map { case (mi, ui) => BigInt(mi) * 1000000 / ui }
    val wd = m.zip(u).map { case (mi, ui) =>
      BigInt(1000000 - mi) * 1000000 / (1000000 - ui) }
    // multi-pass blocked candidates scored by per-pattern products;
    // pattern is a pure function of the pair, so union+distinct is safe
    def blockPass(cond: org.apache.spark.sql.Column): DataFrame =
      a.as("a").join(b.as("b"), cond)
        .select(col("a.k").as("id_a"), col("b.k").as("id_b"),
          concat(fields.map(f =>
            when(col(s"a.$f") === col(s"b.$f"), "1").otherwise("0")): _*)
            .as("pattern"))
    val cand = blockPass(col("a.sfx") === col("b.sfx"))
      .union(blockPass(
        col("a.nat") === col("b.nat") && col("a.bal") === col("b.bal")))
      .distinct()
    val nf = fields.size
    val scoreCase = (0 until (1 << nf)).map { bits =>
      val pat = ((nf - 1) to 0 by -1).map(i => (bits >> i) & 1).mkString
      val score = (0 until nf).map(i =>
        if (((bits >> (nf - 1 - i)) & 1) == 1) wa(i) else wd(i))
        .product
      s"WHEN pattern = '$pat' THEN CAST('$score' AS DECIMAL(38, 0))"
    }.mkString("CASE ", " ", " END")
    cand.withColumn("score", expr(scoreCase))
      .withColumn("is_match",
        when(col("id_a") === col("id_b"), 1).otherwise(0))
      .orderBy(col("score").desc, col("id_a"), col("id_b"))
      .limit(20)
      // the product exceeds int64 — ship digits (q250's sum_fp pattern)
      .select(col("id_a"), col("id_b"), col("pattern"),
        col("score").cast("string").as("score"), col("is_match"))
  }

  val q275_sql: String =
    s"""WITH $dirtyCustomerCtes,
      |ms AS (""".stripMargin +
    """
      |  SELECT
      |    (SUM(CASE WHEN a.nat = b.nat THEN 1 ELSE 0 END) + 1)
      |      * 1000000 // (COUNT(*) + 2) AS m_nat,
      |    (SUM(CASE WHEN a.seg = b.seg THEN 1 ELSE 0 END) + 1)
      |      * 1000000 // (COUNT(*) + 2) AS m_seg,
      |    (SUM(CASE WHEN a.bal = b.bal THEN 1 ELSE 0 END) + 1)
      |      * 1000000 // (COUNT(*) + 2) AS m_bal,
      |    (SUM(CASE WHEN a.sfx = b.sfx THEN 1 ELSE 0 END) + 1)
      |      * 1000000 // (COUNT(*) + 2) AS m_sfx
      |  FROM a JOIN b ON a.k = b.k),
      |us AS (
      |  SELECT
      |    (SUM(CASE WHEN a.nat = b.nat THEN 1 ELSE 0 END) + 1)
      |      * 1000000 // (COUNT(*) + 2) AS u_nat,
      |    (SUM(CASE WHEN a.seg = b.seg THEN 1 ELSE 0 END) + 1)
      |      * 1000000 // (COUNT(*) + 2) AS u_seg,
      |    (SUM(CASE WHEN a.bal = b.bal THEN 1 ELSE 0 END) + 1)
      |      * 1000000 // (COUNT(*) + 2) AS u_bal,
      |    (SUM(CASE WHEN a.sfx = b.sfx THEN 1 ELSE 0 END) + 1)
      |      * 1000000 // (COUNT(*) + 2) AS u_sfx
      |  FROM a JOIN b ON a.k + 1 = b.k),
      |w AS (
      |  SELECT
      |    m_nat * 1000000 // u_nat AS wa_nat,
      |    m_seg * 1000000 // u_seg AS wa_seg,
      |    m_bal * 1000000 // u_bal AS wa_bal,
      |    m_sfx * 1000000 // u_sfx AS wa_sfx,
      |    (1000000 - m_nat) * 1000000 // (1000000 - u_nat) AS wd_nat,
      |    (1000000 - m_seg) * 1000000 // (1000000 - u_seg) AS wd_seg,
      |    (1000000 - m_bal) * 1000000 // (1000000 - u_bal) AS wd_bal,
      |    (1000000 - m_sfx) * 1000000 // (1000000 - u_sfx) AS wd_sfx
      |  FROM ms, us),
      |pairs AS (
      |  SELECT a.k AS id_a, b.k AS id_b,
      |    (CASE WHEN a.nat = b.nat THEN '1' ELSE '0' END) ||
      |    (CASE WHEN a.seg = b.seg THEN '1' ELSE '0' END) ||
      |    (CASE WHEN a.bal = b.bal THEN '1' ELSE '0' END) ||
      |    (CASE WHEN a.sfx = b.sfx THEN '1' ELSE '0' END) AS pattern
      |  FROM a JOIN b ON a.sfx = b.sfx
      |  UNION
      |  SELECT a.k, b.k,
      |    (CASE WHEN a.nat = b.nat THEN '1' ELSE '0' END) ||
      |    (CASE WHEN a.seg = b.seg THEN '1' ELSE '0' END) ||
      |    (CASE WHEN a.bal = b.bal THEN '1' ELSE '0' END) ||
      |    (CASE WHEN a.sfx = b.sfx THEN '1' ELSE '0' END)
      |  FROM a JOIN b ON a.nat = b.nat AND a.bal = b.bal),
      |cand AS (
      |  SELECT id_a, id_b, pattern,
      |    (CASE WHEN pattern[1] = '1' THEN w.wa_nat ELSE w.wd_nat
      |       END)::HUGEINT *
      |    (CASE WHEN pattern[2] = '1' THEN w.wa_seg ELSE w.wd_seg
      |       END)::HUGEINT *
      |    (CASE WHEN pattern[3] = '1' THEN w.wa_bal ELSE w.wd_bal
      |       END)::HUGEINT *
      |    (CASE WHEN pattern[4] = '1' THEN w.wa_sfx ELSE w.wd_sfx
      |       END)::HUGEINT AS score,
      |    CASE WHEN id_a = id_b THEN 1 ELSE 0 END AS is_match
      |  FROM pairs, w)
      |SELECT id_a, id_b, pattern, CAST(score AS VARCHAR) AS score,
      |  is_match
      |FROM cand
      |ORDER BY cand.score DESC, id_a, id_b LIMIT 20""".stripMargin

  val registry: graft.SparkEntry.Registry = Seq(
    ("q269_prefix_filter_join", q269_prefix_filter_join _, q269_sql),
    ("q270_seq_patterns", q270_seq_patterns _, q270_sql),
    ("q271_luby_mis", q271_luby_mis _, q271_sql),
    ("q272_butterflies", q272_butterflies _, q272_sql),
    ("q273_ktruss", q273_ktruss _, q273_sql),
    ("q274_hilbert_layout", q274_hilbert_layout _, q274_sql),
    ("q275_fellegi_sunter", q275_fellegi_sunter _, q275_sql),
    ("q358_similarity_report", q358_similarity_report _, q358_sql))
}
