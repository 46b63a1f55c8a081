package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.pipeline.Sampling

/** Round-8 planner/placement/storage-audit tier — the introspection
  * operators an engine needs ABOUT ITSELF at 100 TB: how a survey
  * sample should be allocated (q283), where data should live and what
  * moves when topology changes (q284), how selective a predicate is
  * before running it (q285), which join order to pick (q286), and what
  * an id bitmap costs on disk (q287). The reference delegates all of
  * this to Neo4j's internals (`SURVEY.md §4.1`); here each one is a
  * first-class oracle-gated query.
  *
  * Determinism contract as elsewhere: integer-exact outputs, total-
  * order tie-breaks, BIGINT casts on the DuckDB side. Square roots are
  * EXACT integer isqrt (floating sqrt + a two-sided integer adjust —
  * double sqrt is within ±1 of isqrt for inputs ≤ 2^52, and the
  * adjust removes even that).
  */
object PlannerQueries {

  // -------------------------------------------------------------------
  // q283 — Neyman-allocation stratified sampling (Neyman 1934): a
  // fixed budget of n=100 rows split across strata proportionally to
  // N_h·S_h (size × standard deviation) — the minimum-variance
  // allocation for estimating the population mean, and the right way
  // to sample a skewed corpus for eval. Variances are computed exactly
  // in DECIMAL(38)/HUGEINT (N·Σx² − (Σx)², the q221/q237 promotion
  // pattern), S_h is the exact integer sqrt, and the sample itself is
  // the per-stratum hash-rank prefix (Sampling.hash60 — deterministic,
  // engine-portable). Output: one row per stratum with its population,
  // spread, allocation, and the sampled-id checksum that pins the
  // exact sample membership.
  // -------------------------------------------------------------------
  private val NeymanBudget = 100

  /** Exact integer sqrt as a SQL expression over a BIGINT column
    * expression `v` (both engines): floor(sqrt(double)) then a
    * two-sided adjust. */
  private[graft] def isqrtSql(v: String): String = {
    val s0 = s"CAST(floor(sqrt(CAST(($v) AS DOUBLE))) AS BIGINT)"
    val s1 = s"(CASE WHEN ($s0 + 1) * ($s0 + 1) <= ($v) " +
      s"THEN $s0 + 1 ELSE $s0 END)"
    s"(CASE WHEN $s1 * $s1 > ($v) THEN $s1 - 1 ELSE $s1 END)"
  }

  def q283_neyman_allocation(spark: SparkSession, dir: String)
      : DataFrame = {
    val rows = Tables.customer(spark, dir).select(
      col("c_mktsegment").as("stratum"), col("c_custkey").as("id"),
      expr("cast(floor(c_acctbal * 100) as bigint)").as("x"))
      .localCheckpoint(eager = true) // stats AND sampling consumers
    val stats = rows.groupBy(col("stratum"))
      .agg(count(lit(1)).as("nh"), sum(col("x")).as("sx"),
        // x² sums overflow int64 two decades up — promote at the sum
        sum((col("x") * col("x")).cast("decimal(38,0)")).as("sxx"))
      .withColumn("varx", expr(
        "cast((cast(nh as decimal(38,0)) * cast(sxx as decimal(38,0))" +
          " - cast(sx as decimal(38,0)) * cast(sx as decimal(38,0)))" +
          " div cast(nh * (nh - 1) as decimal(38,0)) as bigint)"))
      .withColumn("sd", expr(isqrtSql("varx")))
      .withColumn("wh", col("nh") * col("sd"))
    val tot = stats.agg(sum(col("wh")).as("wtot"))
    val alloc = stats.crossJoin(broadcast(tot))
      .withColumn("alloc",
        expr(s"$NeymanBudget * wh div wtot"))
      .select(col("stratum"), col("nh"), col("sd"), col("alloc"))
      .localCheckpoint(eager = true) // join key for the rank filter
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("stratum"))
      .orderBy(Sampling.hash60("neyman", col("id")), col("id"))
    rows.withColumn("rk", row_number().over(w))
      .join(broadcast(alloc), Seq("stratum"))
      .filter(col("rk") <= col("alloc"))
      .groupBy(col("stratum"))
      .agg(count(lit(1)).as("n_sampled"), sum(col("id")).as("id_sum"))
      .join(broadcast(alloc), Seq("stratum"))
      .select(col("stratum"), col("nh"), col("sd"), col("alloc"),
        col("n_sampled"), col("id_sum"))
      .orderBy(col("stratum"))
  }

  val q283_sql: String = {
    val h = Sampling.hash60Sql("neyman", "id")
    s"""WITH s AS (
       |  SELECT c_mktsegment AS stratum, c_custkey AS id,
       |    CAST(floor(c_acctbal * 100) AS BIGINT) AS x
       |  FROM customer),
       |st AS (
       |  SELECT stratum, COUNT(*) AS nh, SUM(x) AS sx,
       |    SUM(x * x) AS sxx
       |  FROM s GROUP BY 1),
       |v AS (
       |  SELECT stratum, nh,
       |    CAST((nh * sxx - sx * sx) // (nh * (nh - 1)) AS BIGINT)
       |      AS varx
       |  FROM st),
       |sd AS (
       |  SELECT stratum, nh, ${isqrtSql("varx")} AS sd FROM v),
       |al AS (
       |  SELECT stratum, nh, sd,
       |    CAST($NeymanBudget * (nh * sd)
       |      // (SELECT SUM(nh * sd) FROM sd) AS BIGINT) AS alloc
       |  FROM sd),
       |rk AS (
       |  SELECT stratum, id,
       |    ROW_NUMBER() OVER (PARTITION BY stratum
       |      ORDER BY $h, id) AS rk
       |  FROM s),
       |sm AS (
       |  SELECT rk.stratum, COUNT(*) AS n_sampled, SUM(id) AS id_sum
       |  FROM rk JOIN al ON rk.stratum = al.stratum
       |  WHERE rk.rk <= al.alloc
       |  GROUP BY 1)
       |SELECT al.stratum, CAST(al.nh AS BIGINT) AS nh, al.sd,
       |  al.alloc, CAST(sm.n_sampled AS BIGINT) AS n_sampled,
       |  CAST(sm.id_sum AS BIGINT) AS id_sum
       |FROM al JOIN sm ON al.stratum = sm.stratum
       |ORDER BY al.stratum""".stripMargin
  }

  // -------------------------------------------------------------------
  // q284 — rendezvous (highest-random-weight) hashing placement audit
  // (Thaler & Ravishankar 1998): each doc goes to the shard with the
  // max hash(doc, shard) over 16 shards — the stateless consistent-
  // placement scheme behind cache rings and shard routers. The audit
  // measures (a) balance and (b) the HRW minimal-movement guarantee:
  // remove shard 7 and ONLY its documents move (each to its runner-up
  // shard) — at 100 TB this is the difference between re-shuffling
  // 1/16th of the corpus and all of it. Per-doc work is a 16-row
  // argmax (doc-keyed window), scan shape.
  // -------------------------------------------------------------------
  private val HrwShards = 16
  private val HrwRemoved = 7

  def q284_rendezvous_hashing(spark: SparkSession, dir: String)
      : DataFrame = {
    val w = Tables.documents(spark, dir).select(col("doc_id"))
      .withColumn("s",
        explode(sequence(lit(0L), lit(HrwShards - 1L))))
      .withColumn("w",
        Sampling.hash60("hrw", col("doc_id") * HrwShards + col("s")))
      .localCheckpoint(eager = true) // before AND after argmax
    def argmax(df: DataFrame): DataFrame = {
      val win = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id"))
        .orderBy(col("w").desc, col("s").desc)
      df.withColumn("rn", row_number().over(win))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("s").as("shard"))
    }
    val bef = argmax(w).localCheckpoint(eager = true)
    val aft = argmax(w.filter(col("s") =!= HrwRemoved))
      .localCheckpoint(eager = true)
    val shards = spark.range(HrwShards).select(col("id").as("shard"))
    val nb = bef.groupBy(col("shard")).agg(count(lit(1)).as("n_docs"))
    val na = aft.groupBy(col("shard")).agg(count(lit(1)).as("n_after"))
    val mv = bef.filter(col("shard") === HrwRemoved)
      .select(col("doc_id"))
      .join(aft, Seq("doc_id"))
      .groupBy(col("shard")).agg(count(lit(1)).as("moved_in"))
    shards.join(nb, Seq("shard"), "left_outer")
      .join(na, Seq("shard"), "left_outer")
      .join(mv, Seq("shard"), "left_outer")
      .select(col("shard"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"),
        coalesce(col("n_after"), lit(0L)).as("n_after"),
        coalesce(col("moved_in"), lit(0L)).as("moved_in"))
      .orderBy(col("shard"))
  }

  val q284_sql: String = {
    val h = Sampling.hash60Sql("hrw", s"doc_id * $HrwShards + s")
    s"""WITH g AS (
       |  SELECT doc_id, s, $h AS w
       |  FROM documents, generate_series(0, ${HrwShards - 1}) t(s)),
       |bef AS (
       |  SELECT doc_id, s AS shard FROM (
       |    SELECT doc_id, s, ROW_NUMBER() OVER (PARTITION BY doc_id
       |      ORDER BY w DESC, s DESC) AS rn FROM g)
       |  WHERE rn = 1),
       |aft AS (
       |  SELECT doc_id, s AS shard FROM (
       |    SELECT doc_id, s, ROW_NUMBER() OVER (PARTITION BY doc_id
       |      ORDER BY w DESC, s DESC) AS rn FROM g
       |    WHERE s <> $HrwRemoved)
       |  WHERE rn = 1),
       |sh AS (SELECT CAST(s AS BIGINT) AS shard
       |  FROM generate_series(0, ${HrwShards - 1}) t(s)),
       |nb AS (SELECT shard, COUNT(*) AS n_docs FROM bef GROUP BY 1),
       |na AS (SELECT shard, COUNT(*) AS n_after FROM aft GROUP BY 1),
       |mv AS (
       |  SELECT a.shard, COUNT(*) AS moved_in
       |  FROM bef b JOIN aft a ON b.doc_id = a.doc_id
       |  WHERE b.shard = $HrwRemoved GROUP BY 1)
       |SELECT sh.shard,
       |  CAST(COALESCE(nb.n_docs, 0) AS BIGINT) AS n_docs,
       |  CAST(COALESCE(na.n_after, 0) AS BIGINT) AS n_after,
       |  CAST(COALESCE(mv.moved_in, 0) AS BIGINT) AS moved_in
       |FROM sh LEFT JOIN nb ON sh.shard = nb.shard
       |LEFT JOIN na ON sh.shard = na.shard
       |LEFT JOIN mv ON sh.shard = mv.shard
       |ORDER BY sh.shard""".stripMargin
  }

  // -------------------------------------------------------------------
  // q285 — equi-width histogram selectivity audit (Selinger et al.
  // 1979; the System R estimate every cost-based planner still makes):
  // build a 16-bucket histogram on line price cents, then for nine
  // range predicates (x < max·j/10) compare the histogram's
  // interpolated row estimate against the true count — err in ppm.
  // The estimate is full-buckets + an integer linear interpolation in
  // the boundary bucket, computed with identical integer arithmetic in
  // both engines, so the AUDIT itself is exact even though the
  // estimate is approximate. max(x) is a one-row driver scalar (the
  // q278 count discipline); the histogram and the nine actuals are
  // each ONE scan-shaped aggregation.
  // -------------------------------------------------------------------
  private val HistBuckets = 16
  private val HistCuts = 9

  def q285_histogram_selectivity(spark: SparkSession, dir: String)
      : DataFrame = {
    // deterministic 1-column projection: three pushdown scans beat
    // materializing the corpus-sized column (checkpoint write cost
    // showed up as warm > cold at sf1)
    val xs = Tables.lineitem(spark, dir)
      .select(expr("cast(floor(l_extendedprice * 100) as bigint)")
        .as("x"))
    val mx = xs.agg(max(col("x"))).head().getLong(0)
    val hist = xs
      .withColumn("b", expr(s"x * $HistBuckets div (${mx + 1})"))
      .groupBy(col("b")).agg(count(lit(1)).as("cnt"))
      .localCheckpoint(eager = true) // ≤ 16 rows, 9 consumers
    val cuts = spark.range(1, HistCuts + 1)
      .select(col("id").as("j"),
        expr(s"(${mx + 1}) * id div 10").as("thr"))
    val est = cuts.crossJoin(hist) // 9 × ≤16 rows
      .withColumn("bt", expr(s"thr * $HistBuckets div (${mx + 1})"))
      .withColumn("lo", expr(s"bt * (${mx + 1}) div $HistBuckets"))
      .withColumn("hi",
        expr(s"(bt + 1) * (${mx + 1}) div $HistBuckets"))
      .withColumn("contrib",
        when(col("b") < col("bt"), col("cnt"))
          .when(col("b") === col("bt"),
            expr("(thr - lo) * cnt div (hi - lo)"))
          .otherwise(0L))
      .groupBy(col("j"), col("thr"))
      .agg(sum(col("contrib")).as("est_rows"))
    val actAggs = (1 to HistCuts).map(j =>
      sum(when(col("x") < expr(s"(${mx + 1}) * $j div 10"), 1L)
        .otherwise(0L)).as(s"a$j"))
    val actRow = xs.agg(actAggs.head, actAggs.tail: _*).head()
    val act = spark.createDataFrame(
        (1 to HistCuts).map(j => (j.toLong, actRow.getLong(j - 1))))
      .toDF("j", "actual_rows")
    est.join(act, Seq("j"))
      .withColumn("err_ppm", expr(
        "abs(est_rows - actual_rows) * 1000000" +
          " div greatest(actual_rows, 1L)"))
      .select(col("j"), col("thr"), col("est_rows"),
        col("actual_rows"), col("err_ppm"))
      .orderBy(col("j"))
  }

  val q285_sql: String =
    s"""WITH xs AS (
       |  SELECT CAST(floor(l_extendedprice * 100) AS BIGINT) AS x
       |  FROM lineitem),
       |m AS (SELECT MAX(x) + 1 AS mx1 FROM xs),
       |hist AS (
       |  SELECT x * $HistBuckets // mx1 AS b, COUNT(*) AS cnt
       |  FROM xs, m GROUP BY 1),
       |cuts AS (
       |  SELECT CAST(j AS BIGINT) AS j, mx1 * j // 10 AS thr
       |  FROM generate_series(1, $HistCuts) t(j), m),
       |est AS (
       |  SELECT j, thr, CAST(SUM(
       |    CASE WHEN b < thr * $HistBuckets // mx1 THEN cnt
       |         WHEN b = thr * $HistBuckets // mx1 THEN
       |           (thr - (thr * $HistBuckets // mx1) * mx1
       |             // $HistBuckets) * cnt
       |           // (((thr * $HistBuckets // mx1) + 1) * mx1
       |             // $HistBuckets
       |             - (thr * $HistBuckets // mx1) * mx1 // $HistBuckets)
       |         ELSE 0 END) AS BIGINT) AS est_rows
       |  FROM cuts, hist, m GROUP BY 1, 2),
       |act AS (
       |  SELECT j, thr,
       |    CAST(COUNT(*) FILTER (WHERE x < thr) AS BIGINT)
       |      AS actual_rows
       |  FROM cuts, xs GROUP BY 1, 2)
       |SELECT est.j, est.thr, est.est_rows, act.actual_rows,
       |  CAST(abs(est.est_rows - act.actual_rows) * 1000000
       |    // greatest(act.actual_rows, 1) AS BIGINT) AS err_ppm
       |FROM est JOIN act ON est.j = act.j
       |ORDER BY est.j""".stripMargin

  // -------------------------------------------------------------------
  // q286 — join-order cardinality audit: the question a cost-based
  // optimizer answers before every multi-way join, made visible. For
  // the filtered star customer('BUILDING') ⋈ orders ⋈
  // lineitem(qty>25), both join orders produce the same final rows but
  // very different intermediates; each row reports the System R
  // uniform-FK ESTIMATE of the intermediate (|O|·|C_f|/|C| resp.
  // |L_f|·|O|/|O|) next to its ACTUAL size. The audit is the planning
  // rule: join the most selective side first. All six counts are
  // scan-shaped aggregates; at 100 TB this is exactly the statistics
  // pass AQE runs on shuffle files.
  // -------------------------------------------------------------------
  def q286_join_order_audit(spark: SparkSession, dir: String)
      : DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
    val l = Tables.lineitem(spark, dir)
    val cf = c.filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey")).localCheckpoint(eager = true)
    val lf = l.filter(col("l_quantity") > 25)
      .select(col("l_orderkey")).localCheckpoint(eager = true)
    val ok = o.select(col("o_orderkey"), col("o_custkey"))
      .localCheckpoint(eager = true)
    val (nC, nO) = (c.count(), ok.count())
    val (nCf, nLf) = (cf.count(), lf.count())
    val co = ok.join(broadcast(cf),
      col("o_custkey") === col("c_custkey"))
    val coCnt = co.count()
    val olCnt = ok.join(lf, col("o_orderkey") === col("l_orderkey"))
      .count()
    val finalCnt = co.join(lf, col("o_orderkey") === col("l_orderkey"))
      .count()
    spark.createDataFrame(Seq(
        ("co_then_l", nO * nCf / nC, coCnt, finalCnt),
        ("ol_then_c", nLf * nO / nO, olCnt, finalCnt)))
      .toDF("plan", "inter_est", "inter_actual", "final_rows")
      .orderBy(col("plan"))
  }

  val q286_sql: String =
    """WITH cf AS (SELECT c_custkey FROM customer
      |  WHERE c_mktsegment = 'BUILDING'),
      |lf AS (SELECT l_orderkey FROM lineitem WHERE l_quantity > 25),
      |co AS (SELECT o_orderkey FROM orders
      |  JOIN cf ON o_custkey = c_custkey),
      |n AS (
      |  SELECT (SELECT COUNT(*) FROM customer) AS nc,
      |    (SELECT COUNT(*) FROM orders) AS no,
      |    (SELECT COUNT(*) FROM cf) AS ncf,
      |    (SELECT COUNT(*) FROM lf) AS nlf,
      |    (SELECT COUNT(*) FROM co) AS nco,
      |    (SELECT COUNT(*) FROM orders JOIN lf
      |       ON o_orderkey = l_orderkey) AS nol,
      |    (SELECT COUNT(*) FROM co JOIN lf
      |       ON co.o_orderkey = lf.l_orderkey) AS nfin)
      |SELECT 'co_then_l' AS plan,
      |  CAST(no * ncf // nc AS BIGINT) AS inter_est,
      |  CAST(nco AS BIGINT) AS inter_actual,
      |  CAST(nfin AS BIGINT) AS final_rows FROM n
      |UNION ALL
      |SELECT 'ol_then_c',
      |  CAST(nlf * no // no AS BIGINT),
      |  CAST(nol AS BIGINT), CAST(nfin AS BIGINT) FROM n
      |ORDER BY plan""".stripMargin

  // -------------------------------------------------------------------
  // q287 — Roaring-style bitmap container audit (Chambi, Lemire et al.
  // 2016), q281's sibling for the BITMAP index representation: chunk
  // each term's doc-id postings into fixed-width containers (width 256
  // for this id space — production Roaring uses 2^16; the DECISION
  // RULE is the point), store a container as an id array when sparse
  // (≤ 32 ids ⇒ card bytes) and as a fixed bitmap when dense
  // (32 bytes), and roll up per term bucket: container mix, roaring
  // bytes vs raw 8 B/posting. One groupBy(term, chunk) + one rollup —
  // the same shard-by-term shape as q281.
  // -------------------------------------------------------------------
  private val RoarWidth = 256
  private val RoarArrayMax = 32

  def q287_roaring_audit(spark: SparkSession, dir: String): DataFrame = {
    val toks = graft.pipeline.Dedup
      .shingleRows(Tables.documents(spark, dir), "doc_id", "text", 2)
      .toDF("doc_id", "tok")
    val cont = toks
      .withColumn("chunk", expr(s"doc_id div $RoarWidth"))
      .groupBy(col("tok"), col("chunk"))
      .agg(count(lit(1)).as("card"))
      .withColumn("is_bitmap",
        when(col("card") > RoarArrayMax, 1L).otherwise(0L))
      .withColumn("cbytes",
        when(col("card") > RoarArrayMax, lit(RoarWidth / 8).cast("long"))
          .otherwise(col("card")))
    cont
      .withColumn("bucket",
        pmod(length(col("tok")) * 31 + ascii(col("tok")), lit(16))
          .cast("long"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_containers"),
        sum(lit(1L) - col("is_bitmap")).as("n_array"),
        sum(col("is_bitmap")).as("n_bitmap"),
        sum(col("cbytes")).as("roaring_bytes"),
        (sum(col("card")) * 8).as("raw_bytes"))
      .withColumn("savings_x1000",
        expr("raw_bytes * 1000 div roaring_bytes"))
      .orderBy(col("bucket"))
  }

  val q287_sql: String =
    s"""WITH t0 AS (
       |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
       |  FROM documents WHERE trim(text) <> ''),
       |toks AS (
       |  SELECT DISTINCT doc_id,
       |    unnest([t[i] || ' ' || t[i + 1]
       |            FOR i IN generate_series(1, len(t) - 1)]) AS tok
       |  FROM t0 WHERE len(t) >= 2),
       |cont AS (
       |  SELECT tok, doc_id // $RoarWidth AS chunk, COUNT(*) AS card
       |  FROM toks GROUP BY 1, 2),
       |cb AS (
       |  SELECT tok,
       |    CASE WHEN card > $RoarArrayMax THEN 1 ELSE 0 END AS is_bitmap,
       |    CASE WHEN card > $RoarArrayMax THEN ${RoarWidth / 8}
       |         ELSE card END AS cbytes,
       |    card
       |  FROM cont)
       |SELECT (length(tok) * 31 + ascii(tok)) % 16 AS bucket,
       |  CAST(COUNT(*) AS BIGINT) AS n_containers,
       |  CAST(SUM(1 - is_bitmap) AS BIGINT) AS n_array,
       |  CAST(SUM(is_bitmap) AS BIGINT) AS n_bitmap,
       |  CAST(SUM(cbytes) AS BIGINT) AS roaring_bytes,
       |  CAST(SUM(card) * 8 AS BIGINT) AS raw_bytes,
       |  CAST(SUM(card) * 8 * 1000 // SUM(cbytes) AS BIGINT)
       |    AS savings_x1000
       |FROM cb GROUP BY 1 ORDER BY bucket""".stripMargin

  // -------------------------------------------------------------------
  // q289 — sequence-packing audit (the GPT-2/T5 concatenate-then-chunk
  // training layout): the token stream, in doc_id order, is cut into
  // fixed 512-token context windows; every window is full by
  // construction, and the cost is documents straddling window
  // boundaries (truncated attention). The global token prefix-sum is
  // DISTRIBUTED: coarse doc_id buckets → per-bucket totals → tiny
  // triangular offset join (Ranks.prefixOffsets, the q76/q114 CDF
  // shape) → within-bucket running sums — never a single-task global
  // window (the oracle, single-node by nature, uses the naive window).
  // Output per 64-window group: docs starting there, boundary
  // crossers, worst span, token mass.
  // -------------------------------------------------------------------
  private val PackCapacity = 512L
  private val PackBucketWidth = 1000L
  private val PackGroupBins = 64L

  def q289_sequence_packing(spark: SparkSession, dir: String)
      : DataFrame = {
    import graft.pipeline.{Ranks, TextAnalysis}
    val tk = Tables.documents(spark, dir)
      .select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n"))
      .filter(col("n") > 0)
      .withColumn("bucket", expr(s"doc_id div $PackBucketWidth"))
      .localCheckpoint(eager = true) // totals AND running sums
    val offs = Ranks.prefixOffsets(
      tk.groupBy(col("bucket")).agg(sum(col("n")).as("tot")),
      "bucket", Seq("tot" -> "off"))
    val wB = org.apache.spark.sql.expressions.Window
      .partitionBy(col("bucket")).orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, 0)
    val cum = tk.withColumn("within", sum(col("n")).over(wB))
      .join(broadcast(offs), Seq("bucket"))
      .withColumn("cum", col("off") + col("within"))
      .withColumn("first_bin", expr(s"(cum - n) div $PackCapacity"))
      .withColumn("last_bin", expr(s"(cum - 1) div $PackCapacity"))
    cum.withColumn("g", expr(s"first_bin div $PackGroupBins"))
      .groupBy(col("g"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("last_bin") > col("first_bin"), 1L).otherwise(0L))
          .as("n_crossing"),
        max(col("last_bin") - col("first_bin")).as("max_span"),
        sum(col("n")).as("tok_sum"))
      .orderBy(col("g"))
  }

  val q289_sql: String =
    s"""WITH tk AS (
       |  SELECT doc_id,
       |    CAST(len(regexp_split_to_array(trim(text), '\\s+'))
       |      AS BIGINT) AS n
       |  FROM documents WHERE trim(text) <> ''),
       |cum AS (
       |  SELECT doc_id, n,
       |    SUM(n) OVER (ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM tk),
       |bins AS (
       |  SELECT n, (cum - n) // $PackCapacity AS first_bin,
       |    (cum - 1) // $PackCapacity AS last_bin
       |  FROM cum)
       |SELECT CAST(first_bin // $PackGroupBins AS BIGINT) AS g,
       |  CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(CASE WHEN last_bin > first_bin THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_crossing,
       |  CAST(MAX(last_bin - first_bin) AS BIGINT) AS max_span,
       |  CAST(SUM(n) AS BIGINT) AS tok_sum
       |FROM bins GROUP BY 1 ORDER BY g""".stripMargin

  // -------------------------------------------------------------------
  // q290 — AQE-style skew-split plan audit: given the key histogram of
  // a shuffle (events by event_type — genuinely skewed: the top type
  // holds ~20% of rows), compute the salt plan a skew-aware planner
  // would emit: target slice T = ⌈total/32⌉ (32 = the session's
  // shuffle parallelism), salt factor ⌈cnt/T⌉ per hot key, and the
  // post-split worst slice ⌈cnt/salt⌉ — the number that decides
  // whether the straggler is gone. One hash agg over the corpus; the
  // plan itself is vocabulary-sized.
  // -------------------------------------------------------------------
  private val SkewSlices = 32L

  def q290_skew_split_plan(spark: SparkSession, dir: String)
      : DataFrame = {
    val cnts = Tables.events(spark, dir)
      .groupBy(col("event_type")).agg(count(lit(1)).as("cnt"))
    val tot = cnts.agg(sum(col("cnt")).as("total"))
    cnts.crossJoin(broadcast(tot))
      .withColumn("t_target",
        expr(s"(total + $SkewSlices - 1) div $SkewSlices"))
      .withColumn("salt_factor",
        expr("(cnt + t_target - 1) div t_target"))
      .withColumn("max_slice",
        expr("(cnt + salt_factor - 1) div salt_factor"))
      .withColumn("is_split",
        when(col("salt_factor") > 1, 1L).otherwise(0L))
      .select(col("event_type"), col("cnt"), col("t_target"),
        col("salt_factor"), col("max_slice"), col("is_split"))
      .orderBy(col("event_type"))
  }

  val q290_sql: String =
    s"""WITH c AS (
       |  SELECT event_type, COUNT(*) AS cnt FROM events GROUP BY 1),
       |t AS (
       |  SELECT (SUM(cnt) + $SkewSlices - 1) // $SkewSlices
       |    AS t_target FROM c)
       |SELECT event_type, CAST(cnt AS BIGINT) AS cnt,
       |  CAST(t_target AS BIGINT) AS t_target,
       |  CAST((cnt + t_target - 1) // t_target AS BIGINT)
       |    AS salt_factor,
       |  CAST((cnt + ((cnt + t_target - 1) // t_target) - 1)
       |    // ((cnt + t_target - 1) // t_target) AS BIGINT)
       |    AS max_slice,
       |  CAST(CASE WHEN (cnt + t_target - 1) // t_target > 1
       |    THEN 1 ELSE 0 END AS BIGINT) AS is_split
       |FROM c, t ORDER BY event_type""".stripMargin

  // -------------------------------------------------------------------
  // q296 — range-partitioner balance audit (the sample-sort /
  // RangePartitioner shape, TeraSort's core): draw a BOUNDED
  // deterministic sample (the 1024 hash-smallest order keys — fixed
  // size at any corpus scale, so the planner state never grows), read
  // 31 cut points off the sorted sample at positions i·m/32, then
  // measure what those cuts actually produce: per-bucket row counts
  // and the signed deviation from the ideal total/32 slice in ppm —
  // the number that says whether the sampled splits would stragglers
  // a 32-way range shuffle. Bucket assignment is a scan-speed
  // expression over the collected cut array (31 values, driver-bounded
  // by construction — the q280 discipline); no join, no shuffle until
  // the 32-row rollup.
  // -------------------------------------------------------------------
  private val RpBuckets = 32
  private val RpSample = 1024

  def q296_range_partition_audit(spark: SparkSession, dir: String)
      : DataFrame = {
    val keys = Tables.orders(spark, dir).select(
      col("o_orderkey").as("id"),
      expr("cast(floor(o_totalprice * 100) as bigint)").as("key"))
      .localCheckpoint(eager = true) // sample AND full-count consumers
    val wH = org.apache.spark.sql.expressions.Window
      .orderBy(Sampling.hash60("rpsamp", col("id")), col("id"))
    val samp = keys.withColumn("rn", row_number().over(wH))
      .filter(col("rn") <= RpSample).select(col("key"), col("id"))
      .localCheckpoint(eager = true) // count AND rank consumers
    val m = samp.count()
    val cutPos = (1 until RpBuckets).map(i => i * m / RpBuckets).toSet
    val wK = org.apache.spark.sql.expressions.Window
      .orderBy(col("key"), col("id"))
    val cuts = samp.withColumn("rnk", row_number().over(wK))
      .filter(col("rnk").isin(cutPos.toSeq: _*))
      .select(col("key")).collect().map(_.getLong(0)).sorted
    val cutArr = array(cuts.map(lit(_)): _*)
    val bucketed = keys
      .withColumn("bucket",
        size(filter(cutArr, c => c <= col("key"))).cast("long"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_rows"), min(col("key")).as("lo"),
        max(col("key")).as("hi"))
    val tot = keys.agg(count(lit(1)).as("total"))
    bucketed.crossJoin(broadcast(tot))
      .withColumn("dev_ppm", expr(
        s"n_rows * 1000000 * $RpBuckets div total - 1000000"))
      .select(col("bucket"), col("n_rows"), col("lo"), col("hi"),
        col("dev_ppm"))
      .orderBy(col("bucket"))
  }

  val q296_sql: String = {
    val h = Sampling.hash60Sql("rpsamp", "id")
    s"""WITH k AS (
       |  SELECT o_orderkey AS id,
       |    CAST(floor(o_totalprice * 100) AS BIGINT) AS key
       |  FROM orders),
       |samp AS (
       |  SELECT key, id FROM (
       |    SELECT key, id, ROW_NUMBER() OVER (ORDER BY $h, id) AS rn
       |    FROM k)
       |  WHERE rn <= $RpSample),
       |m AS (SELECT COUNT(*) AS m FROM samp),
       |rk AS (
       |  SELECT key, ROW_NUMBER() OVER (ORDER BY key, id) AS rnk
       |  FROM samp),
       |cuts AS (
       |  SELECT rk.key AS cut FROM rk
       |  WHERE EXISTS (
       |    SELECT 1 FROM generate_series(1, ${RpBuckets - 1}) t(i), m
       |    WHERE rk.rnk = (i * m.m) // $RpBuckets)),
       |b AS (
       |  SELECT k.id, k.key, COUNT(cuts.cut) AS bucket
       |  FROM k LEFT JOIN cuts ON cuts.cut <= k.key
       |  GROUP BY 1, 2),
       |tot AS (SELECT COUNT(*) AS total FROM k)
       |SELECT CAST(bucket AS BIGINT) AS bucket,
       |  CAST(COUNT(*) AS BIGINT) AS n_rows,
       |  CAST(MIN(key) AS BIGINT) AS lo, CAST(MAX(key) AS BIGINT) AS hi,
       |  CAST(COUNT(*) * 1000000 * $RpBuckets // total - 1000000
       |    AS BIGINT) AS dev_ppm
       |FROM b, tot GROUP BY bucket, total ORDER BY bucket""".stripMargin
  }

  // -------------------------------------------------------------------
  // q297 — consistent-hash ring with virtual nodes (Karger et al.
  // 1997, the memcached/Dynamo placement scheme) and its minimal-
  // movement guarantee MEASURED: 16 shards × 8 vnodes hash onto a
  // 60-bit ring; every doc is owned by its clockwise successor vnode.
  // Remove shard 7 and re-derive: only docs whose successor was a
  // shard-7 vnode may move (each slides to the next surviving vnode),
  // which the output pins as moved_out = 0 for every other shard.
  // Complements q284's rendezvous hashing — same guarantee, opposite
  // mechanism (ring successor vs per-shard max). The ring is DATA-
  // INDEPENDENT (hash60Jvm on the driver = hash60Sql in the oracle),
  // so ownership is a scan-speed expression over a 128-entry sorted
  // array literal — no join, no shuffle until the 16-row rollups.
  // -------------------------------------------------------------------
  private val RingShards = 16
  private val RingVnodes = 8

  def q297_consistent_hash_ring(spark: SparkSession, dir: String)
      : DataFrame = {
    import org.apache.spark.sql.Column
    def ringArr(excludeShard: Int): Column = array(
      (for {
        s <- 0 until RingShards if s != excludeShard
        v <- 0 until RingVnodes
      } yield (Sampling.hash60Jvm("ring", s * 100L + v), s.toLong))
        .sortBy(_._1)
        .map { case (h, s) =>
          struct(lit(h).as("h"), lit(s).as("s"))
        }: _*)
    def owner(ring: Column): Column = coalesce(
      get(filter(ring, r => r.getField("h") > col("p")), lit(0)),
      get(ring, lit(0))).getField("s")
    val assign = Tables.documents(spark, dir)
      .select(col("doc_id"), Sampling.hash60("cring", col("doc_id"))
        .as("p"))
      .withColumn("s_old", owner(ringArr(-1)))
      .withColumn("s_new", owner(ringArr(7)))
      .localCheckpoint(eager = true) // before- AND after-side rollups
    val before = assign.groupBy(col("s_old").as("shard"))
      .agg(count(lit(1)).as("n_before"),
        sum(when(col("s_new") =!= col("s_old"), 1L).otherwise(0L))
          .as("moved_out"))
    val after = assign.groupBy(col("s_new").as("shard"))
      .agg(count(lit(1)).as("n_after"),
        sum(when(col("s_new") =!= col("s_old"), 1L).otherwise(0L))
          .as("moved_in"))
    before.join(after, Seq("shard"), "full_outer")
      .na.fill(0L, Seq("n_before", "moved_out", "n_after", "moved_in"))
      .select(col("shard"), col("n_before"), col("n_after"),
        col("moved_in"), col("moved_out"))
      .orderBy(col("shard"))
  }

  val q297_sql: String = {
    val hr = Sampling.hash60Sql("ring", s"s * 100 + v")
    val hd = Sampling.hash60Sql("cring", "doc_id")
    s"""WITH pts AS (
       |  SELECT a.s, b.v, $hr AS h
       |  FROM generate_series(0, ${RingShards - 1}) a(s),
       |       generate_series(0, ${RingVnodes - 1}) b(v)),
       |docs AS (SELECT doc_id, $hd AS p FROM documents),
       |o1 AS (
       |  SELECT d.doc_id,
       |    COALESCE(MIN(CASE WHEN pt.h > d.p THEN pt.h END),
       |      (SELECT MIN(h) FROM pts)) AS ch
       |  FROM docs d CROSS JOIN pts pt GROUP BY d.doc_id, d.p),
       |a1 AS (
       |  SELECT o1.doc_id, pts.s AS s_old FROM o1
       |  JOIN pts ON pts.h = o1.ch),
       |o2 AS (
       |  SELECT d.doc_id,
       |    COALESCE(MIN(CASE WHEN pt.h > d.p THEN pt.h END),
       |      (SELECT MIN(h) FROM pts WHERE s <> 7)) AS ch
       |  FROM docs d CROSS JOIN (SELECT * FROM pts WHERE s <> 7) pt
       |  GROUP BY d.doc_id, d.p),
       |a2 AS (
       |  SELECT o2.doc_id, pts.s AS s_new FROM o2
       |  JOIN pts ON pts.h = o2.ch),
       |asg AS (
       |  SELECT a1.doc_id, a1.s_old, a2.s_new FROM a1
       |  JOIN a2 ON a1.doc_id = a2.doc_id),
       |bf AS (
       |  SELECT s_old AS shard, COUNT(*) AS n_before,
       |    SUM(CASE WHEN s_new <> s_old THEN 1 ELSE 0 END) AS moved_out
       |  FROM asg GROUP BY 1),
       |af AS (
       |  SELECT s_new AS shard, COUNT(*) AS n_after,
       |    SUM(CASE WHEN s_new <> s_old THEN 1 ELSE 0 END) AS moved_in
       |  FROM asg GROUP BY 1)
       |SELECT COALESCE(bf.shard, af.shard) AS shard,
       |  CAST(COALESCE(bf.n_before, 0) AS BIGINT) AS n_before,
       |  CAST(COALESCE(af.n_after, 0) AS BIGINT) AS n_after,
       |  CAST(COALESCE(af.moved_in, 0) AS BIGINT) AS moved_in,
       |  CAST(COALESCE(bf.moved_out, 0) AS BIGINT) AS moved_out
       |FROM bf FULL OUTER JOIN af ON bf.shard = af.shard
       |ORDER BY shard""".stripMargin
  }

  // -------------------------------------------------------------------
  // q301 — columnar encoding audit: RLE vs bit-packing vs plain-dict
  // for the three low-cardinality lineitem columns in storage order —
  // the decision Parquet/ORC writers make per page, costed EXACTLY:
  // true run boundaries (not an approximation) via the distributed
  // run-id assignment — per-bucket change flags, cross-bucket boundary
  // stitch (last value of the PREVIOUS existing bucket), triangular
  // offset join + within-bucket running sums (the q289 prefix-sum
  // shape) — then per-run LEB128 length bytes (the q281 width table).
  // bit-packed width is ceil(log2(card)) read lexically off bin(card−1)
  // so both engines agree with no log(). Output per column: run count,
  // exact RLE bytes (1-byte dict id + varint run length), bit-packed
  // bytes, plain 1-byte-dict bytes, and the winner.
  // -------------------------------------------------------------------
  private val RleBucketWidth = 4096L
  private val RleVarintCase: String =
    "CASE WHEN len < 128 THEN 1 WHEN len < 16384 THEN 2 " +
      "WHEN len < 2097152 THEN 3 ELSE 4 END"

  def q301_encoding_audit(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val melt = Tables.lineitem(spark, dir).select(
      col("l_orderkey").as("ok"), col("l_linenumber").as("ln"),
        explode(array(
          struct(lit("l_linestatus").as("c"), col("l_linestatus").as("v")),
          struct(lit("l_returnflag").as("c"), col("l_returnflag").as("v")),
          struct(lit("l_tax_pct").as("c"),
            expr("cast(cast(floor(l_tax * 100) as bigint) as string)")
              .as("v"))))
          .as("x"))
      .select(col("ok"), col("ln"), col("x.c").as("c"), col("x.v").as("v"))
      .withColumn("bucket", expr(s"ok div $RleBucketWidth"))
    // NOT checkpointed: the melt is a corpus×3 projection whose
    // materialization costs more than its three cheap rescans (the
    // q285 lesson — measured 39.9 s warm WITH the checkpoint vs
    // 6.0 s without at sf1)
    // last value of each (column, bucket), then the previous EXISTING
    // bucket's last value (buckets may be sparse in orderkey space)
    val lasts = melt.groupBy(col("c"), col("bucket"))
      .agg(max(struct(col("ok"), col("ln"), col("v")))
        .getField("v").as("last_v"))
      .withColumn("prev_last", lag(col("last_v"), 1).over(
        Window.partitionBy(col("c")).orderBy(col("bucket"))))
    val wB = Window.partitionBy(col("c"), col("bucket"))
      .orderBy(col("ok"), col("ln"), col("v"))
    val flagged = melt
      .withColumn("pv", lag(col("v"), 1).over(wB))
      .join(lasts.select(col("c"), col("bucket"), col("prev_last")),
        Seq("c", "bucket"))
      .withColumn("s", when(col("pv").isNotNull,
          when(col("v") =!= col("pv"), 1L).otherwise(0L))
        .otherwise(when(col("prev_last").isNull ||
          col("v") =!= col("prev_last"), 1L).otherwise(0L)))
    val btot = flagged.groupBy(col("c"), col("bucket"))
      .agg(sum(col("s")).as("tot"))
    val offs = btot.as("g")
      .join(btot.as("h"), col("h.c") === col("g.c") &&
        col("h.bucket") < col("g.bucket"), "left_outer")
      .groupBy(col("g.c").as("c"), col("g.bucket").as("bucket"))
      .agg(coalesce(sum(col("h.tot")), lit(0L)).as("off"))
    val wR = Window.partitionBy(col("c"), col("bucket"))
      .orderBy(col("ok"), col("ln"), col("v"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val runs = flagged
      .withColumn("s_in", sum(col("s")).over(wR))
      .join(broadcast(offs), Seq("c", "bucket"))
      .withColumn("run_id", col("off") + col("s_in"))
      .groupBy(col("c"), col("run_id"))
      .agg(count(lit(1)).as("len"))
    val rle = runs.groupBy(col("c"))
      .agg(count(lit(1)).as("n_runs"),
        sum(expr(s"1 + $RleVarintCase")).as("rle_bytes"))
    val stats = melt.groupBy(col("c"))
      .agg(count(lit(1)).as("n"), countDistinct(col("v")).as("card"))
    stats.join(rle, Seq("c"))
      .withColumn("bitpack_bytes",
        expr("(n * length(bin(card - 1)) + 7) div 8"))
      .withColumn("plain_bytes", col("n"))
      .withColumn("best", when(
          col("rle_bytes") <= col("bitpack_bytes") &&
            col("rle_bytes") <= col("plain_bytes"), "rle")
        .when(col("bitpack_bytes") <= col("plain_bytes"), "bitpack")
        .otherwise("plain"))
      .select(col("c"), col("n"), col("card"), col("n_runs"),
        col("rle_bytes"), col("bitpack_bytes"), col("plain_bytes"),
        col("best"))
      .orderBy(col("c"))
  }

  val q301_sql: String =
    s"""WITH base AS (
       |  SELECT l_orderkey AS ok, l_linenumber AS ln,
       |    l_returnflag, l_linestatus, l_tax
       |  FROM lineitem),
       |m AS (
       |  SELECT ok, ln, 'l_returnflag' AS c, l_returnflag AS v FROM base
       |  UNION ALL
       |  SELECT ok, ln, 'l_linestatus', l_linestatus FROM base
       |  UNION ALL
       |  SELECT ok, ln, 'l_tax_pct',
       |    CAST(CAST(floor(l_tax * 100) AS BIGINT) AS VARCHAR)
       |  FROM base),
       |f AS (
       |  SELECT c, v, CASE WHEN LAG(v) OVER w IS NULL
       |      OR v <> LAG(v) OVER w THEN 1 ELSE 0 END AS s,
       |    ok, ln
       |  FROM m WINDOW w AS (PARTITION BY c ORDER BY ok, ln, v)),
       |ri AS (
       |  SELECT c, SUM(s) OVER (PARTITION BY c ORDER BY ok, ln, v
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
       |  FROM f),
       |runs AS (
       |  SELECT c, run_id, COUNT(*) AS len FROM ri GROUP BY 1, 2),
       |rle AS (
       |  SELECT c, COUNT(*) AS n_runs,
       |    SUM(1 + $RleVarintCase) AS rle_bytes
       |  FROM runs GROUP BY 1),
       |st AS (
       |  SELECT c, COUNT(*) AS n, COUNT(DISTINCT v) AS card
       |  FROM m GROUP BY 1)
       |SELECT st.c, CAST(n AS BIGINT) AS n, CAST(card AS BIGINT) AS card,
       |  CAST(n_runs AS BIGINT) AS n_runs,
       |  CAST(rle_bytes AS BIGINT) AS rle_bytes,
       |  CAST((n * length(bin(card - 1)) + 7) // 8 AS BIGINT)
       |    AS bitpack_bytes,
       |  CAST(n AS BIGINT) AS plain_bytes,
       |  CASE WHEN rle_bytes <= (n * length(bin(card - 1)) + 7) // 8
       |         AND rle_bytes <= n THEN 'rle'
       |       WHEN (n * length(bin(card - 1)) + 7) // 8 <= n
       |         THEN 'bitpack'
       |       ELSE 'plain' END AS best
       |FROM st JOIN rle ON st.c = rle.c
       |ORDER BY st.c""".stripMargin

  // -------------------------------------------------------------------
  // q303 — Bloom-filter join pruning audit (Bloom 1970; the runtime
  // filter every modern engine pushes into the probe side of a
  // selective join, incl. Spark's own InjectRuntimeFilter): build a
  // 65536-bit / 4-hash filter over the build side's join keys
  // (customers in debt), probe the fact side with FOUR BROADCAST
  // equi-joins against the set-bit table (one per hash — zero
  // shuffles, scan speed), and measure what the planner actually
  // bought: true matches, false positives that leak through, rows
  // pruned, and the realized FP rate in ppm next to the filter's
  // set-bit occupancy. Exact and engine-portable: bit positions are
  // hash60 mod m, the pass condition is all-4-bits-set.
  // -------------------------------------------------------------------
  private val BloomM = 65536L
  private val BloomK = 4

  def q303_bloom_join_audit(spark: SparkSession, dir: String)
      : DataFrame = {
    import org.apache.spark.sql.Column
    def pos(j: Int, k: Column): Column =
      pmod(Sampling.hash60("bloom", k * BloomK + j), lit(BloomM))
    val dim = Tables.customer(spark, dir)
      .filter(col("c_acctbal") < 0)
      .select(col("c_custkey").as("k")).distinct()
      .localCheckpoint(eager = true) // bit-build AND truth consumers
    val bits = dim.select(explode(array(
        (0 until BloomK).map(j => pos(j, col("k"))): _*)).as("pos"))
      .distinct()
      .localCheckpoint(eager = true) // ≤ 65536 rows; 4 joins + count
    val nBits = bits.agg(count(lit(1)).as("bits_set"))
    var fact = Tables.orders(spark, dir).select(
      col("o_custkey").as("k"), col("o_orderpriority").as("grp"))
    for (j <- 0 until BloomK) {
      fact = fact.withColumn(s"p$j", pos(j, col("k")))
        .join(broadcast(bits.withColumnRenamed("pos", s"b$j")),
          col(s"p$j") === col(s"b$j"), "left_outer")
    }
    val probed = fact.withColumn("pass",
        (0 until BloomK).map(j => col(s"b$j").isNotNull)
          .reduce(_ && _).cast("long"))
      .join(dim.withColumn("t", lit(1L)), Seq("k"), "left_outer")
    probed.groupBy(col("grp"))
      .agg(count(lit(1)).as("n_fact"),
        sum(coalesce(col("t"), lit(0L))).as("n_true"),
        sum(col("pass")).as("n_pass"))
      .withColumn("n_fp", col("n_pass") - col("n_true"))
      .withColumn("fp_ppm",
        expr("n_fp * 1000000 div (n_fact - n_true)"))
      .crossJoin(broadcast(nBits))
      .select(col("grp"), col("n_fact"), col("n_true"), col("n_pass"),
        col("n_fp"), col("fp_ppm"), col("bits_set"))
      .orderBy(col("grp"))
  }

  val q303_sql: String = {
    val posSql = (0 until BloomK).map(j =>
      s"(${Sampling.hash60Sql("bloom", s"k * $BloomK + $j")}) % $BloomM")
    s"""WITH dim AS (
       |  SELECT DISTINCT c_custkey AS k FROM customer
       |  WHERE c_acctbal < 0),
       |bits AS (
       |  SELECT DISTINCT pos FROM (
       |    ${(0 until BloomK).map(j =>
             s"SELECT ${posSql(j)} AS pos FROM dim")
             .mkString("\n    UNION ALL\n    ")}
       |  )),
       |nb AS (SELECT COUNT(*) AS bits_set FROM bits),
       |fact AS (
       |  SELECT o_custkey AS k, o_orderpriority AS grp,
       |    ${posSql.zipWithIndex.map { case (p, j) => s"$p AS p$j" }
             .mkString(", ")}
       |  FROM orders),
       |probed AS (
       |  SELECT f.grp,
       |    CASE WHEN ${(0 until BloomK).map(j =>
             s"p$j IN (SELECT pos FROM bits)").mkString(" AND ")}
       |      THEN 1 ELSE 0 END AS pass,
       |    CASE WHEN f.k IN (SELECT k FROM dim) THEN 1 ELSE 0 END AS t
       |  FROM fact f)
       |SELECT grp, CAST(COUNT(*) AS BIGINT) AS n_fact,
       |  CAST(SUM(t) AS BIGINT) AS n_true,
       |  CAST(SUM(pass) AS BIGINT) AS n_pass,
       |  CAST(SUM(pass) - SUM(t) AS BIGINT) AS n_fp,
       |  CAST((SUM(pass) - SUM(t)) * 1000000
       |    // (COUNT(*) - SUM(t)) AS BIGINT) AS fp_ppm,
       |  CAST((SELECT bits_set FROM nb) AS BIGINT) AS bits_set
       |FROM probed GROUP BY grp ORDER BY grp""".stripMargin
  }

  // -------------------------------------------------------------------
  // q321 — equi-depth histogram audit (Piatetsky-Shapiro & Connell
  // 1984 — the histogram planners actually keep, vs q285's equi-width
  // strawman): exact 16-quantile boundaries from the distributed CDF
  // (value-bucket totals → triangular offsets → within-bucket running
  // sums, the q76/q289 shape — never a global single-task window),
  // boundary_i = smallest value whose cumulative count reaches
  // ⌈i·N/16⌉. Then the audit: assign every row against the 15
  // collected boundaries (driver-bounded by construction) and measure
  // the realized per-bucket deviation from N/16 in ppm — with heavy
  // ties the buckets CANNOT be even, and that deviation is exactly
  // what a planner needs to know about its own histogram.
  // -------------------------------------------------------------------
  private val EqdBuckets = 16L
  private val EqdGrpWidth = 4096L

  def q321_equidepth_audit(spark: SparkSession, dir: String)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // N rides the checkpoint job as an observe metric
    // (Iterate.barrierCounted) — the former separate vals.count() was
    // a whole extra corpus scan + job (guide §1.2)
    val (vals, tot) = graft.ops.Iterate.barrierCounted(
      Tables.orders(spark, dir).select(
        expr("cast(floor(o_totalprice * 100) as bigint)").as("v")))
    val cnts = vals.groupBy(col("v")).agg(count(lit(1)).as("c"))
      .withColumn("grp", expr(s"v div $EqdGrpWidth"))
    val offs = graft.pipeline.Ranks.prefixOffsets(
      cnts.groupBy(col("grp")).agg(sum(col("c")).as("gc")),
      "grp", Seq("gc" -> "off"))
    val wB = Window.partitionBy(col("grp")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val cum = cnts.withColumn("win", sum(col("c")).over(wB))
      .join(broadcast(offs), Seq("grp"))
      .withColumn("cum", col("off") + col("win"))
    val bounds = cum
      .crossJoin(broadcast(spark.range(1, EqdBuckets)
        .select(col("id").as("i"))))
      .filter(col("cum") >= expr(s"(i * $tot + ${EqdBuckets - 1}) " +
        s"div $EqdBuckets"))
      .groupBy(col("i")).agg(min(col("v")).as("b"))
      .orderBy(col("i")).collect().map(_.getLong(1))
    val bArr = array(bounds.map(lit(_)): _*)
    vals
      .withColumn("bucket",
        size(filter(bArr, x => x < col("v"))).cast("long"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_rows"), min(col("v")).as("lo"),
        max(col("v")).as("hi"))
      .withColumn("dev_ppm", expr(
        s"n_rows * 1000000 * $EqdBuckets div $tot - 1000000"))
      .orderBy(col("bucket"))
  }

  val q321_sql: String =
    s"""WITH vals AS (
       |  SELECT CAST(floor(o_totalprice * 100) AS BIGINT) AS v
       |  FROM orders),
       |tot AS (SELECT COUNT(*) AS n FROM vals),
       |cum AS (
       |  SELECT v, SUM(c) OVER (ORDER BY v) AS cum FROM (
       |    SELECT v, COUNT(*) AS c FROM vals GROUP BY 1)),
       |bounds AS (
       |  SELECT i, MIN(v) AS b
       |  FROM cum, generate_series(1, ${EqdBuckets - 1}) g(i), tot
       |  WHERE cum >= (i * n + ${EqdBuckets - 1}) // $EqdBuckets
       |  GROUP BY 1),
       |assigned AS (
       |  SELECT vals.v,
       |    (SELECT COUNT(*) FROM bounds WHERE b < vals.v) AS bucket
       |  FROM vals)
       |SELECT CAST(bucket AS BIGINT) AS bucket,
       |  CAST(COUNT(*) AS BIGINT) AS n_rows,
       |  CAST(MIN(v) AS BIGINT) AS lo, CAST(MAX(v) AS BIGINT) AS hi,
       |  CAST(COUNT(*) * 1000000 * $EqdBuckets // (SELECT n FROM tot)
       |    - 1000000 AS BIGINT) AS dev_ppm
       |FROM assigned GROUP BY bucket ORDER BY bucket""".stripMargin

  // -------------------------------------------------------------------
  // q332 — join-strategy shuffle-cost planner: for every FK join in
  // the schema, decide broadcast-hash vs shuffle join from measured
  // table stats — the decision Catalyst makes from estimates, here
  // made from EXACT bytes so the audit can be oracle-pinned. Bytes
  // per row are measured (Σ string lengths + 8 per fixed-width
  // column); the model is the standard one: broadcasting ships the
  // small side to every executor (cost = min_bytes × E), shuffling
  // moves both sides once (cost = bytes_a + bytes_b), and a side
  // larger than the broadcast cap is never broadcast regardless of
  // arithmetic. E = 32 and cap = 10 MiB are pinned model constants.
  // Scale shape: seven 1-row table aggs + driver-bounded assembly —
  // the planner input is O(tables), never O(rows).
  // -------------------------------------------------------------------
  private val PlanExecutors = 32L
  private val PlanBcastCap = 10L * 1024 * 1024

  /** (table, string cols, count of fixed-width cols) — the measured
    * row-width model shared with the SQL mirror. */
  private val PlanTables: Seq[(String, Seq[String], Int)] = Seq(
    ("region", Seq("r_name"), 1),
    ("nation", Seq("n_name"), 2),
    ("customer", Seq("c_name", "c_mktsegment"), 3),
    ("supplier", Seq("s_name"), 3),
    ("part", Seq("p_name", "p_brand", "p_type"), 3),
    ("orders", Seq("o_orderstatus", "o_orderpriority"), 4),
    ("lineitem", Seq("l_returnflag", "l_linestatus"), 9))

  private val PlanJoins: Seq[(String, String, String)] = Seq(
    ("customer_nation", "customer", "nation"),
    ("lineitem_orders", "lineitem", "orders"),
    ("lineitem_part", "lineitem", "part"),
    ("lineitem_supplier", "lineitem", "supplier"),
    ("nation_region", "nation", "region"),
    ("orders_customer", "orders", "customer"),
    ("supplier_nation", "supplier", "nation"))

  def q332_join_cost_planner(spark: SparkSession, dir: String)
      : DataFrame = {
    val stats = PlanTables.map { case (t, strs, nFixed) =>
      val width = strs.map(c => length(col(c)).cast("long"))
        .reduce(_ + _) + lit(8L * nFixed)
      Tables.load(spark, dir, t)
        .agg(count(lit(1)).as("rows"), sum(width).as("bytes"))
        .select(lit(t).as("t"), col("rows"), col("bytes"))
    }.reduce(_ unionByName _).localCheckpoint(eager = true)
    PlanJoins.map { case (name, ta, tb) =>
      stats.filter(col("t") === ta)
        .select(col("rows").as("rows_a"), col("bytes").as("bytes_a"))
        .crossJoin(stats.filter(col("t") === tb)
          .select(col("rows").as("rows_b"),
            col("bytes").as("bytes_b")))
        .select(lit(name).as("join_name"), col("rows_a"),
          col("rows_b"), col("bytes_a"), col("bytes_b"))
    }.reduce(_ unionByName _)
      .withColumn("cost_broadcast",
        expr(s"least(bytes_a, bytes_b) * $PlanExecutors"))
      .withColumn("cost_shuffle", expr("bytes_a + bytes_b"))
      .withColumn("strategy", expr(
        s"""CASE WHEN least(bytes_a, bytes_b) <= $PlanBcastCap
           |  AND cost_broadcast < cost_shuffle THEN 'broadcast'
           |  ELSE 'shuffle' END""".stripMargin))
      .orderBy(col("join_name"))
  }

  val q332_sql: String = {
    val statsSql = PlanTables.map { case (t, strs, nFixed) =>
      val width = strs.map(c => s"length($c)").mkString(" + ") +
        s" + ${8L * nFixed}"
      s"SELECT '$t' AS t, COUNT(*) AS rows_, SUM($width) AS bytes_" +
        s" FROM $t"
    }.mkString("\nUNION ALL\n")
    val joinsSql = PlanJoins.map { case (name, ta, tb) =>
      s"('$name', '$ta', '$tb')"
    }.mkString(", ")
    s"""WITH stats AS (
       |$statsSql),
       |joins(join_name, ta, tb) AS (VALUES $joinsSql),
       |j AS (
       |  SELECT join_name, a.rows_ AS rows_a, b.rows_ AS rows_b,
       |    a.bytes_ AS bytes_a, b.bytes_ AS bytes_b
       |  FROM joins
       |  JOIN stats a ON a.t = joins.ta
       |  JOIN stats b ON b.t = joins.tb)
       |SELECT join_name, CAST(rows_a AS BIGINT) AS rows_a,
       |  CAST(rows_b AS BIGINT) AS rows_b,
       |  CAST(bytes_a AS BIGINT) AS bytes_a,
       |  CAST(bytes_b AS BIGINT) AS bytes_b,
       |  CAST(LEAST(bytes_a, bytes_b) * $PlanExecutors AS BIGINT)
       |    AS cost_broadcast,
       |  CAST(bytes_a + bytes_b AS BIGINT) AS cost_shuffle,
       |  CASE WHEN LEAST(bytes_a, bytes_b) <= $PlanBcastCap
       |    AND LEAST(bytes_a, bytes_b) * $PlanExecutors
       |      < bytes_a + bytes_b THEN 'broadcast'
       |    ELSE 'shuffle' END AS strategy
       |FROM j ORDER BY join_name""".stripMargin
  }

  // -------------------------------------------------------------------
  // q331 — V-optimal histogram (Jagadish et al., VLDB 1998): the
  // minimum-SSE B-bucket partition of the value domain — what a
  // cost-based optimizer actually wants where q285 (equi-width) and
  // q321 (equi-depth) are heuristics. Corpus work is ONE hash agg to
  // ≤ 64 value-domain cells (n, Σx, Σx² with the DECIMAL(38)
  // promotion); the O(B·m²) dynamic program runs on the
  // loudly-guarded driver cells with BigInt-exact segment SSE
  // (ss − ⌊s²/n⌋ — flooring only ever SHRINKS the subtrahend, so
  // costs stay ≥ 0 and both engines floor identically), ties broken
  // toward the smallest split point. The oracle replays the SAME DP
  // as 8 materialized argmin levels + an 8-step backtrack chain over
  // the 2 080-row segment table (the q317 AS-MATERIALIZED lesson).
  // Each output bucket carries its SSE next to the equi-width
  // baseline's SSE for the same value range — the planner's
  // evidence that the DP earned its keep.
  // -------------------------------------------------------------------
  private val VoCells = 64L
  private val VoWidth = 800L // cents per base cell
  private val VoBuckets = 8

  def q331_voptimal_histogram(spark: SparkSession, dir: String)
      : DataFrame = {
    import spark.implicits._
    val cellsDf = Tables.events(spark, dir)
      .select(expr("cast(floor(value * 100) as bigint)").as("x"))
      .withColumn("cell",
        least(lit(VoCells - 1), expr(s"x div $VoWidth")))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("s"),
        sum((col("x") * col("x")).cast("decimal(38,0)")).as("ss"))
      .orderBy(col("cell"))
    val cells = graft.ops.Driver.boundedCollect(cellsDf,
        VoCells.toInt, "q331 DP input")
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        BigInt(r.getDecimal(3).toBigInteger)))
    val m = cells.length
    require(m >= 1, "q331: empty DP input")
    // degenerate corpora (< 8 distinct cells) get m buckets instead of
    // a hard require-failure; the pinned 8-level SQL oracle assumes
    // m ≥ 8, which every real table satisfies (ADVICE r8)
    val nBuckets = math.min(VoBuckets, m)
    val pn = cells.scanLeft(0L)(_ + _._2)
    val ps = cells.scanLeft(0L)(_ + _._3)
    val pss = cells.scanLeft(BigInt(0))(_ + _._4)
    // sse over 1-based ordinal segment [j, k]
    def sse(j: Int, k: Int): BigInt = {
      val n = pn(k) - pn(j - 1)
      val s = BigInt(ps(k) - ps(j - 1))
      pss(k) - pss(j - 1) - s * s / n
    }
    // dp(b)(i): best cost of covering ordinals 1..i with b buckets,
    // plus the argmin split (last bucket starts at bj+1)
    val dp = Array.ofDim[(BigInt, Int)](nBuckets + 1, m + 1)
    for (i <- 1 to m) dp(1)(i) = (sse(1, i), 0)
    for (b <- 2 to nBuckets; i <- b to m) {
      dp(b)(i) = (for (j <- (b - 1) to (i - 1)) yield
        (dp(b - 1)(j)._1 + sse(j + 1, i), j))
        .minBy(c => (c._1, c._2))
    }
    // backtrack boundaries; bucket b covers ordinals (lo, hi]
    val bounds = new Array[(Int, Int)](nBuckets + 1)
    var hi = m
    for (b <- nBuckets to 1 by -1) {
      val lo = dp(b)(hi)._2
      bounds(b) = (lo + 1, hi)
      hi = lo
    }
    // equi-width baseline: SSE of the 8-cell value ranges
    def ewSse(b: Int): BigInt = {
      val in = cells.zipWithIndex.filter {
        case ((cell, _, _, _), _) => cell / 8 == b - 1
      }.map(_._2 + 1)
      if (in.isEmpty) BigInt(0) else sse(in.min, in.max)
    }
    val rows = (1 to nBuckets).map { b =>
      val (lo, k) = bounds(b)
      (b.toLong, cells(lo - 1)._1, cells(k - 1)._1,
        pn(k) - pn(lo - 1), sse(lo, k).toLong, ewSse(b).toLong)
    }
    rows.toDF("bucket", "lo_cell", "hi_cell", "n_rows", "sse",
        "ew_sse")
      .orderBy(col("bucket"))
  }

  val q331_sql: String = {
    val dpLevels = (2 to VoBuckets).map { b =>
      s"""dp$b AS MATERIALIZED (
         |  SELECT i, cost, bj FROM (
         |    SELECT s.k AS i, d.cost + s.sse AS cost, s.j - 1 AS bj,
         |      ROW_NUMBER() OVER (PARTITION BY s.k
         |        ORDER BY d.cost + s.sse, s.j) AS rn
         |    FROM dp${b - 1} d JOIN seg s ON s.j = d.i + 1)
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    val btLevels = (VoBuckets - 1 to 1 by -1).map { b =>
      s"""bt$b AS (
         |  SELECT bt${b + 1}.lo0 AS hi, dp$b.bj AS lo0
         |  FROM bt${b + 1} JOIN dp$b ON dp$b.i = bt${b + 1}.lo0)"""
        .stripMargin
    }.mkString(",\n")
    val bucketRows = (1 to VoBuckets).map { b =>
      s"SELECT $b AS bucket, lo0 + 1 AS lo, hi FROM bt$b"
    }.mkString("\nUNION ALL ")
    s"""WITH cells0 AS MATERIALIZED (
       |  SELECT LEAST(${VoCells - 1},
       |      CAST(floor(value * 100) AS BIGINT) // $VoWidth) AS cell,
       |    COUNT(*) AS n,
       |    SUM(CAST(floor(value * 100) AS BIGINT)) AS s,
       |    SUM(CAST(CAST(floor(value * 100) AS BIGINT) AS HUGEINT)
       |      * CAST(floor(value * 100) AS BIGINT)) AS ss
       |  FROM events GROUP BY 1),
       |cells AS MATERIALIZED (
       |  SELECT ROW_NUMBER() OVER (ORDER BY cell) AS i, cell, n, s,
       |    ss
       |  FROM cells0),
       |pre AS MATERIALIZED (
       |  SELECT i, cell,
       |    SUM(n) OVER w AS pn, SUM(s) OVER w AS ps,
       |    SUM(ss) OVER w AS pss
       |  FROM cells WINDOW w AS (ORDER BY i)),
       |seg AS MATERIALIZED (
       |  SELECT j.i AS j, k.i AS k,
       |    k.pn - COALESCE(p0.pn, 0) AS n_seg,
       |    k.pss - COALESCE(p0.pss, 0)
       |      - (CAST(k.ps - COALESCE(p0.ps, 0) AS HUGEINT)
       |         * (k.ps - COALESCE(p0.ps, 0)))
       |        // (k.pn - COALESCE(p0.pn, 0)) AS sse
       |  FROM pre k JOIN pre j ON j.i <= k.i
       |  LEFT JOIN pre p0 ON p0.i = j.i - 1),
       |mm AS (SELECT MAX(i) AS m FROM cells),
       |dp1 AS MATERIALIZED (
       |  SELECT k AS i, sse AS cost, 0 AS bj FROM seg WHERE j = 1),
       |$dpLevels,
       |bt$VoBuckets AS (
       |  SELECT (SELECT m FROM mm) AS hi, bj AS lo0
       |  FROM dp$VoBuckets WHERE i = (SELECT m FROM mm)),
       |$btLevels,
       |buckets AS (
       |  $bucketRows),
       |ew AS (
       |  SELECT (cell // 8) + 1 AS bucket,
       |    SUM(ss) - (CAST(SUM(s) AS HUGEINT) * SUM(s)) // SUM(n)
       |      AS ew_sse
       |  FROM cells0 GROUP BY 1)
       |SELECT CAST(buckets.bucket AS BIGINT) AS bucket,
       |  CAST(cl.cell AS BIGINT) AS lo_cell,
       |  CAST(ch.cell AS BIGINT) AS hi_cell,
       |  CAST(seg.n_seg AS BIGINT) AS n_rows,
       |  CAST(seg.sse AS BIGINT) AS sse,
       |  CAST(COALESCE(ew.ew_sse, 0) AS BIGINT) AS ew_sse
       |FROM buckets
       |JOIN seg ON seg.j = buckets.lo AND seg.k = buckets.hi
       |JOIN cells cl ON cl.i = buckets.lo
       |JOIN cells ch ON ch.i = buckets.hi
       |LEFT JOIN ew ON ew.bucket = buckets.bucket
       |ORDER BY bucket""".stripMargin
  }

  // -------------------------------------------------------------------
  // q334 — bit-sliced index (BSI) aggregation audit (O'Neil & Quass
  // 1997; the FastBit/Pilosa/Druid trick): SUM(x) over a bitmap-
  // indexed column is Σₖ 2ᵏ·popcount(slice k) — 16 bitmap counts
  // instead of touching the column, the reason bit-sliced indexes
  // answer aggregates at bitmap-scan speed. The audit MEASURES the
  // identity per event type (bsi_sum ≡ direct_sum pins all 17
  // slices — k ≤ 16 covers cents to $1310), and profiles the slice
  // densities a BSI storage planner keys on (dense slices → verbatim
  // bitmaps, sparse → compressed). The 17 slice counts ride one
  // map-side-combinable hash agg as 17 sum columns (the q323 column
  // discipline).
  // -------------------------------------------------------------------
  def q334_bsi_aggregation_audit(spark: SparkSession, dir: String)
      : DataFrame = {
    val kBits = (0 to 16).map(k =>
      sum(expr(s"(x div ${1L << k}) % 2")).as(s"c$k"))
    val aggs = Seq(count(lit(1)).as("n"),
      sum(col("x")).as("direct_sum")) ++ kBits
    val base = Tables.events(spark, dir)
      .select(col("event_type"),
        expr("cast(floor(value * 100) as bigint)").as("x"))
      .groupBy(col("event_type"))
      .agg(aggs.head, aggs.tail: _*)
    base
      .withColumn("bsi_sum", expr((0 to 16)
        .map(k => s"c$k * ${1L << k}").mkString(" + ")))
      .withColumn("nonzero_slices", expr((0 to 16)
        .map(k => s"(CASE WHEN c$k > 0 THEN 1 ELSE 0 END)")
        .mkString(" + ")).cast("long"))
      .withColumn("top_n", greatest((0 to 16).map(k => col(s"c$k")): _*))
      .withColumn("top_slice", expr((0 to 16)
        .map(k => s"WHEN c$k = top_n THEN ${k}L")
        .mkString("CASE ", " ", " END")))
      .select(col("event_type"), col("n"), col("direct_sum"),
        col("bsi_sum"), col("nonzero_slices"), col("top_slice"),
        col("top_n"))
      .orderBy(col("event_type"))
  }

  val q334_sql: String = {
    val cs = (0 to 16).map(k =>
      s"SUM((x // ${1L << k}) % 2) AS c$k").mkString(",\n    ")
    val bsi = (0 to 16).map(k => s"c$k * ${1L << k}").mkString(" + ")
    val nz = (0 to 16)
      .map(k => s"(CASE WHEN c$k > 0 THEN 1 ELSE 0 END)")
      .mkString(" + ")
    val topN = s"GREATEST(${(0 to 16).map(k => s"c$k").mkString(", ")})"
    val topSlice = (0 to 16).map(k => s"WHEN c$k = tn THEN $k")
      .mkString("CASE ", " ", " END")
    s"""WITH b AS (
       |  SELECT event_type, COUNT(*) AS n,
       |    SUM(x) AS direct_sum,
       |    $cs
       |  FROM (SELECT event_type,
       |    CAST(floor(value * 100) AS BIGINT) AS x FROM events)
       |  GROUP BY 1),
       |t AS (SELECT *, $topN AS tn FROM b)
       |SELECT event_type, CAST(n AS BIGINT) AS n,
       |  CAST(direct_sum AS BIGINT) AS direct_sum,
       |  CAST($bsi AS BIGINT) AS bsi_sum,
       |  CAST($nz AS BIGINT) AS nonzero_slices,
       |  CAST($topSlice AS BIGINT) AS top_slice,
       |  CAST(tn AS BIGINT) AS top_n
       |FROM t ORDER BY event_type""".stripMargin
  }

  // -------------------------------------------------------------------
  // q336 — predicate-independence (correlated-selectivity) audit:
  // every cost-based optimizer multiplies single-column
  // selectivities when predicates are ANDed — the assumption behind
  // the worst cardinality misestimates in production plans (the
  // "Germany ∧ Berlin" problem). For five pinned predicate pairs the
  // audit measures sel(A), sel(B), the independence ESTIMATE
  // sel(A)·sel(B), the ACTUAL sel(A∧B), and the error ratio ×1000 —
  // the evidence that decides which column pairs need a joint
  // histogram or a bucketed CDF (q285/q321/q331) instead of the
  // product rule. Each pair costs ONE conditional hash agg over its
  // table; everything else is arithmetic on one row.
  // -------------------------------------------------------------------
  private val IndepPairs: Seq[(String, String, String, String)] = Seq(
    // (pair name, table, predicate A, predicate B) — SQL syntax
    // valid in both engines
    ("events_purchase_high", "events",
      "event_type = 'purchase'", "value > 100"),
    ("events_click_low", "events",
      "event_type = 'click'", "value <= 50"),
    ("orders_open_big", "orders",
      "o_orderstatus = 'O'", "o_totalprice > 200000"),
    ("customer_seg_rich", "customer",
      "c_mktsegment = 'BUILDING'", "c_acctbal > 5000"),
    ("part_brand_small", "part",
      "p_brand = 'Brand#1'", "p_size <= 10"))

  def q336_independence_audit(spark: SparkSession, dir: String)
      : DataFrame = {
    IndepPairs.map { case (name, table, pa, pb) =>
      Tables.load(spark, dir, table)
        .agg(count(lit(1)).as("n"),
          sum(expr(s"CASE WHEN $pa THEN 1 ELSE 0 END")).as("n_a"),
          sum(expr(s"CASE WHEN $pb THEN 1 ELSE 0 END")).as("n_b"),
          sum(expr(s"CASE WHEN ($pa) AND ($pb) THEN 1 ELSE 0 END"))
            .as("n_ab"))
        .select(lit(name).as("pair"), col("n"), col("n_a"),
          col("n_b"), col("n_ab"))
    }.reduce(_ unionByName _)
      .withColumn("sel_a_ppm", expr("n_a * 1000000 div n"))
      .withColumn("sel_b_ppm", expr("n_b * 1000000 div n"))
      .withColumn("est_ab_ppm", expr(
        "cast(cast(n_a as decimal(38,0)) * n_b * 1000000" +
          " div (cast(n as decimal(38,0)) * n) as bigint)"))
      .withColumn("act_ab_ppm", expr("n_ab * 1000000 div n"))
      .withColumn("err_x1000", expr(
        "CASE WHEN est_ab_ppm = 0 THEN -1" +
          " ELSE act_ab_ppm * 1000 div est_ab_ppm END"))
      .orderBy(col("pair"))
  }

  val q336_sql: String = {
    val rows = IndepPairs.map { case (name, table, pa, pb) =>
      s"""SELECT '$name' AS pair, COUNT(*) AS n,
         |  SUM(CASE WHEN $pa THEN 1 ELSE 0 END) AS n_a,
         |  SUM(CASE WHEN $pb THEN 1 ELSE 0 END) AS n_b,
         |  SUM(CASE WHEN ($pa) AND ($pb) THEN 1 ELSE 0 END) AS n_ab
         |FROM $table""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH base AS (
       |$rows)
       |SELECT pair, CAST(n AS BIGINT) AS n,
       |  CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       |  CAST(n_ab AS BIGINT) AS n_ab,
       |  CAST(n_a * 1000000 // n AS BIGINT) AS sel_a_ppm,
       |  CAST(n_b * 1000000 // n AS BIGINT) AS sel_b_ppm,
       |  CAST(CAST(n_a AS HUGEINT) * n_b * 1000000
       |    // (CAST(n AS HUGEINT) * n) AS BIGINT) AS est_ab_ppm,
       |  CAST(n_ab * 1000000 // n AS BIGINT) AS act_ab_ppm,
       |  CAST(CASE WHEN CAST(n_a AS HUGEINT) * n_b * 1000000
       |      // (CAST(n AS HUGEINT) * n) = 0 THEN -1
       |    ELSE (n_ab * 1000000 // n) * 1000
       |      // (CAST(n_a AS HUGEINT) * n_b * 1000000
       |         // (CAST(n AS HUGEINT) * n)) END AS BIGINT)
       |    AS err_x1000
       |FROM base ORDER BY pair""".stripMargin
  }

  // -------------------------------------------------------------------
  // q338 — shard rebalancing plan via staircase matching: given the
  // hash-sharded byte sizes (32 shards of documents, sized by
  // n_chars), emit the EXACT minimum-bytes move list that levels
  // every shard to its target (total div 32, remainder spread over
  // the lowest shard ids — Σexcess ≡ Σdeficit by construction). The
  // greedy donor→receiver pairing is sequential, but its RESULT has
  // a closed relational form: lay donors' excesses and receivers'
  // deficits on the same cumulative axis (prefix sums over the
  // 32-row shard table) and every move is an interval overlap —
  // bytes = min(hi) − max(lo). That turns the classic rebalancer
  // into two windows + one small interval join, the same
  // construction at 32 shards or 32 000. Complements q284/q297
  // (consistent/rendezvous placement) with the migration PLAN.
  // -------------------------------------------------------------------
  private val RebShards = 32L

  def q338_rebalance_plan(spark: SparkSession, dir: String)
      : DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    val measured = Tables.documents(spark, dir)
      .withColumn("shard",
        pmod(Sampling.hash60("shard", col("doc_id")), lit(RebShards)))
      .groupBy(col("shard"))
      .agg(sum(col("n_chars")).as("mbytes"))
    // the shard frame is the LITERAL 0..31 range (q332's table-spine
    // pattern), not the measured keys — an empty shard must still get
    // a target and receive moves, or Σexcess ≠ Σdeficit and the plan
    // silently under-levels
    val sizes = spark.range(RebShards).select(col("id").as("shard"))
      .join(measured, Seq("shard"), "left_outer")
      .select(col("shard"), coalesce(col("mbytes"), lit(0L)).as("bytes"))
    val tot = sizes.agg(sum(col("bytes")).as("tb"))
    val deltas = sizes.crossJoin(broadcast(tot))
      .withColumn("target", expr(
        s"tb div $RebShards + CASE WHEN shard < tb % $RebShards" +
          " THEN 1 ELSE 0 END"))
      .withColumn("delta", col("bytes") - col("target"))
      .localCheckpoint(eager = true) // donors + receivers consumers
    def stairs(side: DataFrame, dCol: String): DataFrame =
      side.withColumn("hi", sum(col(dCol)).over(
          w.orderBy(col("shard"))
            .rowsBetween(org.apache.spark.sql.expressions.Window
              .unboundedPreceding, 0)))
        .withColumn("lo", col("hi") - col(dCol))
    val donors = stairs(deltas.filter(col("delta") > 0)
      .select(col("shard"), col("delta")), "delta")
    val receivers = stairs(deltas.filter(col("delta") < 0)
      .select(col("shard"), (-col("delta")).as("need")), "need")
    donors.as("d").join(receivers.as("r"),
        col("d.lo") < col("r.hi") && col("r.lo") < col("d.hi"))
      .select(col("d.shard").as("from_shard"),
        col("r.shard").as("to_shard"),
        (least(col("d.hi"), col("r.hi")) -
          greatest(col("d.lo"), col("r.lo"))).as("bytes_moved"))
      .orderBy(col("from_shard"), col("to_shard"))
  }

  val q338_sql: String = {
    val h = Sampling.hash60Sql("shard", "doc_id")
    s"""WITH measured AS (
       |  SELECT ($h % $RebShards) AS shard, SUM(n_chars) AS bytes
       |  FROM documents GROUP BY 1),
       |sizes AS (
       |  SELECT g.shard, COALESCE(m.bytes, 0) AS bytes
       |  FROM (SELECT CAST(s AS BIGINT) AS shard
       |        FROM generate_series(0, ${RebShards - 1}) t(s)) g
       |  LEFT JOIN measured m ON m.shard = g.shard),
       |tot AS (SELECT SUM(bytes) AS tb FROM sizes),
       |deltas AS (
       |  SELECT shard, bytes,
       |    bytes - (tb // $RebShards + CASE WHEN
       |      shard < tb % $RebShards THEN 1 ELSE 0 END) AS delta
       |  FROM sizes CROSS JOIN tot),
       |donors AS (
       |  SELECT shard, delta,
       |    SUM(delta) OVER (ORDER BY shard) AS hi,
       |    SUM(delta) OVER (ORDER BY shard) - delta AS lo
       |  FROM deltas WHERE delta > 0),
       |receivers AS (
       |  SELECT shard, -delta AS need,
       |    SUM(-delta) OVER (ORDER BY shard) AS hi,
       |    SUM(-delta) OVER (ORDER BY shard) + delta AS lo
       |  FROM deltas WHERE delta < 0)
       |SELECT CAST(d.shard AS BIGINT) AS from_shard,
       |  CAST(r.shard AS BIGINT) AS to_shard,
       |  CAST(LEAST(d.hi, r.hi) - GREATEST(d.lo, r.lo) AS BIGINT)
       |    AS bytes_moved
       |FROM donors d JOIN receivers r
       |  ON d.lo < r.hi AND r.lo < d.hi
       |ORDER BY from_shard, to_shard""".stripMargin
  }

  // -------------------------------------------------------------------
  // q340 — dyadic range-count index audit: the decomposition behind
  // every sketch-backed range query (range trackers, q-digest,
  // dyadic CM hierarchies) — any [lo, hi] over a 2¹⁶ integer domain
  // is the disjoint union of ≤ 2·16 dyadic nodes, so a 17-level
  // count pyramid answers range counts without touching rows. The
  // pyramid is one explode(17 levels) + hash agg whose state is
  // VALUE-DOMAIN bounded (≤ 17 × distinct cents); the five audited
  // ranges' decompositions are computed by the data-INDEPENDENT
  // greedy in Scala and pinned into both engines as literal cell
  // lists; dyadic_n ≡ exact_n measured per range pins all 17 levels.
  // n_cells vs the range width is the planner's read-amplification
  // story.
  // -------------------------------------------------------------------
  private val DyadicRanges: Seq[(String, Long, Long)] = Seq(
    ("narrow_low", 150L, 900L),
    ("mid_block", 4096L, 8191L),
    ("odd_span", 777L, 23456L),
    ("wide", 100L, 40000L),
    ("tail", 30000L, 65535L))

  /** Greedy dyadic decomposition of [lo, hi] — largest aligned block
    * first; pure arithmetic, identical cells in any engine. */
  private[graft] def dyadicCells(lo0: Long, hi: Long)
      : Seq[(Int, Long)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Long)]
    var lo = lo0
    while (lo <= hi) {
      var k = 0
      while (k < 16 && (lo & ((1L << (k + 1)) - 1)) == 0 &&
          lo + (1L << (k + 1)) - 1 <= hi) k += 1
      out += ((k, lo >> k))
      lo += 1L << k
    }
    out.toSeq
  }

  def q340_dyadic_range_audit(spark: SparkSession, dir: String)
      : DataFrame = {
    val xs = Tables.events(spark, dir)
      .select(least(lit(65535L),
        expr("cast(floor(value * 100) as bigint)")).as("x"))
      .localCheckpoint(eager = true) // pyramid + exact-count consumers
    val pyramid = xs
      .select(explode(expr(
        "transform(sequence(0, 16), l ->" +
          " named_struct('lvl', l, 'node', shiftright(x, l)))"))
        .as("c"))
      .select(col("c.lvl"), col("c.node"))
      .groupBy(col("lvl"), col("node"))
      .agg(count(lit(1)).as("n"))
    val cells = DyadicRanges.flatMap { case (name, lo, hi) =>
      dyadicCells(lo, hi).map { case (l, nd) => (name, l, nd) }
    }
    val cellsDf = spark.createDataFrame(cells)
      .toDF("range_id", "lvl", "node")
    val dyadic = pyramid.join(broadcast(cellsDf), Seq("lvl", "node"))
      .groupBy(col("range_id"))
      .agg(sum(col("n")).as("dyadic_n"))
    val exact = xs.agg(
      DyadicRanges.map { case (name, lo, hi) =>
        sum(when(col("x").between(lo, hi), 1L).otherwise(0L))
          .as(s"e_$name")
      }.head, DyadicRanges.tail.map { case (name, lo, hi) =>
        sum(when(col("x").between(lo, hi), 1L).otherwise(0L))
          .as(s"e_$name")
      }: _*)
    val meta = spark.createDataFrame(DyadicRanges.map {
      case (name, lo, hi) =>
        (name, lo, hi, dyadicCells(lo, hi).length.toLong)
    }).toDF("range_id", "lo", "hi", "n_cells")
    meta.join(dyadic, Seq("range_id"), "left_outer")
      .na.fill(0L, Seq("dyadic_n"))
      .crossJoin(broadcast(exact))
      .withColumn("exact_n", expr(DyadicRanges.map {
        case (name, _, _) =>
          s"WHEN range_id = '$name' THEN e_$name"
      }.mkString("CASE ", " ", " END")))
      .select(col("range_id"), col("lo"), col("hi"), col("n_cells"),
        col("exact_n"), col("dyadic_n"))
      .orderBy(col("range_id"))
  }

  val q340_sql: String = {
    val cellRows = DyadicRanges.flatMap { case (name, lo, hi) =>
      dyadicCells(lo, hi).map { case (l, nd) =>
        s"('$name', $l, ${nd}::BIGINT)" }
    }.mkString(", ")
    val metaRows = DyadicRanges.map { case (name, lo, hi) =>
      s"('$name', ${lo}::BIGINT, ${hi}::BIGINT," +
        s" ${dyadicCells(lo, hi).length}::BIGINT)"
    }.mkString(", ")
    s"""WITH xs AS (
       |  SELECT LEAST(65535, CAST(floor(value * 100) AS BIGINT))
       |    AS x
       |  FROM events),
       |pyr AS (
       |  SELECT lvl, x >> lvl AS node, COUNT(*) AS n
       |  FROM xs, (SELECT unnest(generate_series(0, 16)) AS lvl)
       |  GROUP BY 1, 2),
       |cells(range_id, lvl, node) AS (VALUES $cellRows),
       |meta(range_id, lo, hi, n_cells) AS (VALUES $metaRows),
       |dy AS (
       |  SELECT range_id, SUM(n) AS dyadic_n
       |  FROM pyr JOIN cells ON cells.lvl = pyr.lvl
       |    AND cells.node = pyr.node
       |  GROUP BY 1),
       |ex AS (
       |  SELECT meta.range_id,
       |    (SELECT COUNT(*) FROM xs
       |     WHERE x BETWEEN meta.lo AND meta.hi) AS exact_n
       |  FROM meta)
       |SELECT meta.range_id, meta.lo, meta.hi, meta.n_cells,
       |  CAST(ex.exact_n AS BIGINT) AS exact_n,
       |  CAST(COALESCE(dy.dyadic_n, 0) AS BIGINT) AS dyadic_n
       |FROM meta
       |JOIN ex ON ex.range_id = meta.range_id
       |LEFT JOIN dy ON dy.range_id = meta.range_id
       |ORDER BY meta.range_id""".stripMargin
  }

  // -------------------------------------------------------------------
  // q348 — Haar wavelet synopsis audit (Matias, Vitter & Wang 1998,
  // "Wavelet-based histograms for selectivity estimation"): the THIRD
  // classic histogram family next to q285 (equi-width), q321
  // (equi-depth) and q331 (V-optimal) — transform the 64-cell value
  // histogram with the integer lifting Haar (s = a+b, d = a−b, no
  // division, so the forward pass is EXACT), keep the root plus the 8
  // largest-|d| detail coefficients (ties → smallest level, then
  // index), reconstruct with clamped floor halving (counts are
  // nonnegative; GREATEST(·,0) // 2 keeps both engines' integer
  // division on nonnegative ground), and report per-cell
  // reconstruction error. Corpus work is ONE hash agg to ≤ 64 cells;
  // transform + selection are driver arithmetic on the loudly-bounded
  // cell array (the q331 DP discipline); the oracle replays the same
  // pyramid as 6+6 unrolled level CTEs.
  // -------------------------------------------------------------------
  private val HaarCells = 64
  private val HaarWidth = 800L // cents per base cell (q331's binning)
  private val HaarKeep = 8

  def q348_haar_synopsis(spark: SparkSession, dir: String)
      : DataFrame = {
    import spark.implicits._
    val got = graft.ops.Driver.boundedCollect(
        Tables.events(spark, dir)
          .select(expr("cast(floor(value * 100) as bigint)").as("x"))
          .withColumn("cell",
            least(lit(HaarCells - 1L), expr(s"x div $HaarWidth")))
          .groupBy(col("cell")).agg(count(lit(1)).as("n")),
        HaarCells, "q348 Haar cells")
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val cells = (0 until HaarCells)
      .map(i => got.getOrElse(i.toLong, 0L)).toArray
    var level = cells.clone()
    val details =
      scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Long)]
    for (k <- 1 to 6) {
      val next = new Array[Long](level.length / 2)
      for (j <- next.indices) {
        next(j) = level(2 * j) + level(2 * j + 1)
        details += ((k, j, level(2 * j) - level(2 * j + 1)))
      }
      level = next
    }
    val kept = details
      .sortBy { case (k, j, d) => (-math.abs(d), k, j) }
      .take(HaarKeep)
      .map { case (k, j, d) => ((k, j), d) }.toMap
    var rec = Array(level(0)) // root scaling coefficient
    for (k <- 6 to 1 by -1) {
      val next = new Array[Long](rec.length * 2)
      for (j <- rec.indices) {
        val d = kept.getOrElse((k, j), 0L)
        next(2 * j) = math.max(rec(j) + d, 0L) / 2
        next(2 * j + 1) = math.max(rec(j) - d, 0L) / 2
      }
      rec = next
    }
    (0 until HaarCells)
      .map(i => (i.toLong, cells(i), rec(i), math.abs(cells(i) - rec(i))))
      .toDF("cell", "n", "recon", "err")
      .orderBy(col("cell"))
  }

  val q348_sql: String = {
    val fwd = (1 to 6).map { k =>
      s"""hl$k AS (
         |  SELECT idx // 2 AS idx, SUM(s) AS s,
         |    SUM(CASE WHEN idx % 2 = 0 THEN s ELSE -s END) AS d
         |  FROM hl${k - 1} GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    val dets = (1 to 6)
      .map(k => s"SELECT $k AS lvl, idx, d FROM hl$k")
      .mkString("\n  UNION ALL ")
    val inv = (6 to 1 by -1).map { k =>
      s"""hr${k - 1} AS (
         |  SELECT r.idx * 2 + t.o AS idx,
         |    GREATEST(r.s + CASE WHEN t.o = 0 THEN COALESCE(kd.d, 0)
         |      ELSE -COALESCE(kd.d, 0) END, 0) // 2 AS s
         |  FROM hr$k r
         |  LEFT JOIN (SELECT idx, d FROM hkept WHERE lvl = $k) kd
         |    ON kd.idx = r.idx
         |  CROSS JOIN (VALUES (0), (1)) t(o))""".stripMargin
    }.mkString(",\n")
    s"""WITH ev AS (
       |  SELECT LEAST(${HaarCells - 1},
       |    CAST(floor(value * 100) AS BIGINT) // $HaarWidth) AS cell
       |  FROM events),
       |hgot AS (SELECT cell, COUNT(*) AS n FROM ev GROUP BY 1),
       |hl0 AS (
       |  SELECT CAST(t.i AS BIGINT) AS idx, COALESCE(n, 0) AS s
       |  FROM generate_series(0, ${HaarCells - 1}) t(i)
       |  LEFT JOIN hgot ON hgot.cell = t.i),
       |$fwd,
       |hdets AS (
       |  $dets),
       |hkept AS (
       |  SELECT lvl, idx, d FROM hdets
       |  ORDER BY abs(d) DESC, lvl, idx LIMIT $HaarKeep),
       |hr6 AS (SELECT idx, s FROM hl6),
       |$inv
       |SELECT l.idx AS cell, CAST(l.s AS BIGINT) AS n,
       |  CAST(r.s AS BIGINT) AS recon,
       |  CAST(abs(l.s - r.s) AS BIGINT) AS err
       |FROM hl0 l JOIN hr0 r ON r.idx = l.idx
       |ORDER BY cell""".stripMargin
  }

  // -------------------------------------------------------------------
  // q356 — Huffman code-length audit (Huffman 1952) over the 64-cell
  // value histogram: the optimal prefix-free code the compression
  // planner compares every heuristic against (q323 Rice, q333 front
  // coding, q301/q287 dictionary/RLE audits). Corpus work is ONE hash
  // agg to the zero-filled 64-cell table; the greedy merge runs on the
  // driver over those bounded cells (the q331 DP discipline) with the
  // deterministic (weight, min-cell) tie-break, zero-weight cells kept
  // as full-alphabet leaves so BOTH engines always perform exactly 63
  // merges. The oracle replays the same 63 merge steps as unrolled
  // root/membership CTEs. Output: per-cell code length and bits next
  // to the fixed-width baseline; Round9DSpec checks the Kraft equality
  // Σ2^(Lmax−len) = 2^Lmax (the certificate of a complete prefix
  // code).
  // -------------------------------------------------------------------
  def q356_huffman_audit(spark: SparkSession, dir: String)
      : DataFrame = {
    import spark.implicits._
    val got = graft.ops.Driver.boundedCollect(
        Tables.events(spark, dir)
          .select(expr("cast(floor(value * 100) as bigint)").as("x"))
          .withColumn("cell",
            least(lit(HaarCells - 1L), expr(s"x div $HaarWidth")))
          .groupBy(col("cell")).agg(count(lit(1)).as("n")),
        HaarCells, "q356 Huffman weights")
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val cells = (0 until HaarCells)
      .map(i => got.getOrElse(i.toLong, 0L))
    // greedy merge over (weight, minCell)-ordered roots; depth(leaf)
    // = number of merges its subtree took part in
    var roots = cells.indices
      .map(i => (cells(i), i.toLong, Set(i))).toVector
    val depth = scala.collection.mutable.ArrayBuffer
      .fill(HaarCells)(0L)
    while (roots.size > 1) {
      val sorted = roots.sortBy { case (w, mc, _) => (w, mc) }
      val (a, b) = (sorted(0), sorted(1))
      (a._3 ++ b._3).foreach(l => depth(l) += 1)
      roots = sorted.drop(2) :+
        ((a._1 + b._1, math.min(a._2, b._2), a._3 ++ b._3))
    }
    val totalN = cells.sum
    val huffBits = cells.indices.map(i => cells(i) * depth(i)).sum
    cells.indices.map { i =>
      (i.toLong, cells(i), depth(i), cells(i) * depth(i),
        huffBits, totalN * 6L)
    }.toDF("cell", "n", "code_len", "bits", "huff_bits", "fixed_bits")
      .orderBy(col("cell"))
  }

  val q356_sql: String = {
    val steps = (1 to HaarCells - 1).map { s =>
      s"""hpick$s AS (
         |  SELECT id FROM hroots${s - 1} ORDER BY w, mc LIMIT 2),
         |hroots$s AS MATERIALIZED (
         |  SELECT id, w, mc FROM hroots${s - 1}
         |  WHERE id NOT IN (SELECT id FROM hpick$s)
         |  UNION ALL
         |  SELECT ${1000 + s} AS id, SUM(w) AS w, MIN(mc) AS mc
         |  FROM hroots${s - 1} WHERE id IN (SELECT id FROM hpick$s)),
         |hmemb$s AS MATERIALIZED (
         |  SELECT leaf,
         |    CASE WHEN id IN (SELECT id FROM hpick$s)
         |      THEN ${1000 + s} ELSE id END AS id,
         |    depth + CASE WHEN id IN (SELECT id FROM hpick$s)
         |      THEN 1 ELSE 0 END AS depth
         |  FROM hmemb${s - 1})""".stripMargin
    }.mkString(",\n")
    s"""WITH hev AS (
       |  SELECT LEAST(${HaarCells - 1},
       |    CAST(floor(value * 100) AS BIGINT) // $HaarWidth) AS cell
       |  FROM events),
       |hcnt AS (SELECT cell, COUNT(*) AS n FROM hev GROUP BY 1),
       |hcells AS (
       |  SELECT CAST(t.i AS BIGINT) AS cell, COALESCE(n, 0) AS n
       |  FROM generate_series(0, ${HaarCells - 1}) t(i)
       |  LEFT JOIN hcnt ON hcnt.cell = t.i),
       |hroots0 AS (SELECT cell AS id, n AS w, cell AS mc FROM hcells),
       |hmemb0 AS (
       |  SELECT cell AS leaf, cell AS id, CAST(0 AS BIGINT) AS depth
       |  FROM hcells),
       |$steps,
       |hlen AS (SELECT leaf, depth FROM hmemb${HaarCells - 1}),
       |htot AS (
       |  SELECT SUM(c.n * l.depth) AS huff_bits, SUM(c.n) * 6
       |    AS fixed_bits
       |  FROM hcells c JOIN hlen l ON l.leaf = c.cell)
       |SELECT c.cell, CAST(c.n AS BIGINT) AS n,
       |  CAST(l.depth AS BIGINT) AS code_len,
       |  CAST(c.n * l.depth AS BIGINT) AS bits,
       |  CAST(huff_bits AS BIGINT) AS huff_bits,
       |  CAST(fixed_bits AS BIGINT) AS fixed_bits
       |FROM hcells c JOIN hlen l ON l.leaf = c.cell
       |CROSS JOIN htot
       |ORDER BY c.cell""".stripMargin
  }

  val registry: graft.SparkEntry.Registry = Seq(
    ("q356_huffman_audit", q356_huffman_audit _, q356_sql),
    ("q348_haar_synopsis", q348_haar_synopsis _, q348_sql),
    ("q340_dyadic_range_audit", q340_dyadic_range_audit _, q340_sql),
    ("q338_rebalance_plan", q338_rebalance_plan _, q338_sql),
    ("q336_independence_audit", q336_independence_audit _, q336_sql),
    ("q334_bsi_aggregation_audit", q334_bsi_aggregation_audit _, q334_sql),
    ("q331_voptimal_histogram", q331_voptimal_histogram _, q331_sql),
    ("q332_join_cost_planner", q332_join_cost_planner _, q332_sql),
    ("q321_equidepth_audit", q321_equidepth_audit _, q321_sql),
    ("q301_encoding_audit", q301_encoding_audit _, q301_sql),
    ("q303_bloom_join_audit", q303_bloom_join_audit _, q303_sql),
    ("q296_range_partition_audit", q296_range_partition_audit _, q296_sql),
    ("q297_consistent_hash_ring", q297_consistent_hash_ring _, q297_sql),
    ("q289_sequence_packing", q289_sequence_packing _, q289_sql),
    ("q290_skew_split_plan", q290_skew_split_plan _, q290_sql),
    ("q283_neyman_allocation", q283_neyman_allocation _, q283_sql),
    ("q284_rendezvous_hashing", q284_rendezvous_hashing _, q284_sql),
    ("q285_histogram_selectivity", q285_histogram_selectivity _, q285_sql),
    ("q286_join_order_audit", q286_join_order_audit _, q286_sql),
    ("q287_roaring_audit", q287_roaring_audit _, q287_sql))
}
