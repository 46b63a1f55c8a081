package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType

import graft.Tables

/** Relational operator layer — SURVEY.md §2.2–§2.7 re-expressed as
  * idiomatic DataFrame programs over the driver's TPC-H-ish tables.
  *
  * Determinism contract (driver hash-compares against DuckDB):
  *   - every query ends in an explicit orderBy over a unique key prefix;
  *   - double aggregations go through `dsum`/`davg` (exact decimal
  *     accumulation, then one cast back to double) so the result is
  *     independent of partitioning / accumulation order;
  *   - every computed column is aliased identically in the Spark plan
  *     and in the oracle SQL.
  *
  * Scale notes are attached per query: the same plan shape must hold at
  * 100 TB (pushdown to scan, broadcast for dims, partial aggregation,
  * no driver-side loops).
  */
object Relational {

  /** Order-independent sum of a double expression: accumulate exactly as
    * decimal(30,6), cast once back to double. Matches
    * `CAST(SUM(CAST(x AS DECIMAL(30,6))) AS DOUBLE)` in DuckDB bit-for-bit.
    */
  private def dsum(c: Column): Column =
    sum(c.cast(DecimalType(30, 6))).cast("double")

  private def davg(c: Column): Column =
    (sum(c.cast(DecimalType(30, 6))).cast("double") / count(lit(1)))

  /** SQL fragment mirroring dsum. */
  private def sqlDsum(e: String): String =
    s"CAST(SUM(CAST(($e) AS DECIMAL(30,6))) AS DOUBLE)"
  private def sqlDavg(e: String): String =
    s"CAST(SUM(CAST(($e) AS DECIMAL(30,6))) AS DOUBLE) / COUNT(*)"

  // ---------------------------------------------------------------------
  // q01 — pruned scan + grouped multi-aggregate (SURVEY A1/A5/A9, P2).
  // TPC-H Q1 shape. At scale: filter + 7-column projection push to the
  // parquet scan; partial (map-side) aggregation over only
  // |returnflag|x|linestatus| ~ 6 groups means the shuffle is tiny.
  // ---------------------------------------------------------------------
  def q01_pruned_agg(spark: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("sum_disc_price"),
        davg(col("l_quantity")).as("avg_qty"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  val q01_sql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,6))) AS DOUBLE) AS sum_base_price,
      |  CAST(SUM(CAST((l_extendedprice * (1.0 - l_discount)) AS DECIMAL(30,6))) AS DOUBLE) AS sum_disc_price,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE) / COUNT(*) AS avg_qty,
      |  COUNT(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // ---------------------------------------------------------------------
  // q02 — point/range predicate + projection (SURVEY P1/P2/P4).
  // At scale: both predicates and the 4-column ReadSchema reach the scan
  // (verify via explain: PushedFilters [GreaterThanOrEqual, IsNotNull…]).
  // ---------------------------------------------------------------------
  def q02_filter_project(spark: SparkSession, dir: String): DataFrame = {
    Tables.part(spark, dir)
      .filter(col("p_size") >= 25 && col("p_type").isNotNull &&
        col("p_name").contains("red"))
      .select(col("p_partkey"), col("p_name"), col("p_type"), col("p_size"))
      .orderBy(col("p_partkey"))
  }

  val q02_sql: String =
    """SELECT p_partkey, p_name, p_type, p_size
      |FROM part
      |WHERE p_size >= 25 AND p_type IS NOT NULL AND p_name LIKE '%red%'
      |ORDER BY p_partkey""".stripMargin

  // ---------------------------------------------------------------------
  // q03 — multi-field case-insensitive substring search with CASE-ranked
  // ordering + top-k (SURVEY P3 + O1, reference query.go:348-414).
  // The reference ranks matches by node-type priority then name; here the
  // rank is derived from which field matched. At scale this is a
  // TakeOrderedAndProject (no full sort materialization).
  // ---------------------------------------------------------------------
  def q03_search_rank(spark: SparkSession, dir: String): DataFrame = {
    val t = lit("sma")
    val p = Tables.part(spark, dir)
    p.filter(
        lower(col("p_name")).contains(t) ||
        lower(col("p_type")).contains(t) ||
        lower(col("p_brand")).contains(t))
      .withColumn("match_rank",
        when(lower(col("p_name")).contains(t), lit(1))
          .when(lower(col("p_type")).contains(t), lit(2))
          .otherwise(lit(3)))
      .select(col("p_partkey"), col("p_name"), col("match_rank"))
      .orderBy(col("match_rank"), col("p_name"), col("p_partkey"))
      .limit(50)
  }

  val q03_sql: String =
    """SELECT p_partkey, p_name,
      |  CASE WHEN lower(p_name) LIKE '%sma%' THEN 1
      |       WHEN lower(p_type) LIKE '%sma%' THEN 2
      |       ELSE 3 END AS match_rank
      |FROM part
      |WHERE lower(p_name) LIKE '%sma%' OR lower(p_type) LIKE '%sma%'
      |   OR lower(p_brand) LIKE '%sma%'
      |ORDER BY match_rank, p_name, p_partkey
      |LIMIT 50""".stripMargin

  // ---------------------------------------------------------------------
  // q04 — dimension join chain (SURVEY J1: 1-hop "go-to-definition" shape).
  // customer ⋈ nation ⋈ region with the two dims broadcast: at 100 TB the
  // fact side never shuffles; only the final 25-group agg does.
  // ---------------------------------------------------------------------
  def q04_join_broadcast(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir)
    val r = Tables.region(spark, dir)
    c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .filter(r("r_name") === "ASIA")
      .groupBy(n("n_name").as("nation_name"))
      .agg(count(lit(1)).as("n_customers"),
        dsum(col("c_acctbal")).as("total_acctbal"))
      .orderBy(col("nation_name"))
  }

  val q04_sql: String =
    s"""SELECT n_name AS nation_name, COUNT(*) AS n_customers,
       |  ${sqlDsum("c_acctbal")} AS total_acctbal
       |FROM customer
       |JOIN nation ON c_nationkey = n_nationkey
       |JOIN region ON n_regionkey = r_regionkey
       |WHERE r_name = 'ASIA'
       |GROUP BY n_name
       |ORDER BY nation_name""".stripMargin

  // ---------------------------------------------------------------------
  // q05 — multi-hop chain join (SURVEY J3: find-implementations shape).
  // lineitem ⋈ orders ⋈ customer ⋈ nation. At scale: lineitem⋈orders is
  // the one real shuffle (both huge, co-partition on orderkey); customer
  // and nation broadcast.
  // ---------------------------------------------------------------------
  def q05_chain_3hop(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir)
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .filter(o("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
        o("o_orderdate") < lit("1996-01-01").cast("timestamp"))
      .groupBy(n("n_name").as("nation_name"))
      .agg(dsum(l("l_extendedprice") * (lit(1.0) - l("l_discount")))
        .as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("nation_name"))
  }

  val q05_sql: String =
    s"""SELECT n_name AS nation_name,
       |  ${sqlDsum("l_extendedprice * (1.0 - l_discount)")} AS revenue,
       |  COUNT(*) AS n_items
       |FROM lineitem
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |JOIN nation ON c_nationkey = n_nationkey
       |WHERE o_orderdate >= TIMESTAMP '1995-01-01'
       |  AND o_orderdate < TIMESTAMP '1996-01-01'
       |GROUP BY n_name
       |ORDER BY nation_name""".stripMargin

  // ---------------------------------------------------------------------
  // q06 — left outer join + grouped count (SURVEY J9 + A4: optional match).
  // Customers with zero orders must appear with order_count = 0.
  // ---------------------------------------------------------------------
  def q06_left_outer_count(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
    c.join(o, c("c_custkey") === o("o_custkey"), "left_outer")
      .groupBy(c("c_custkey"), c("c_mktsegment"))
      .agg(count(o("o_orderkey")).as("order_count"))
      .orderBy(col("c_custkey"))
  }

  val q06_sql: String =
    """SELECT c_custkey, c_mktsegment, COUNT(o_orderkey) AS order_count
      |FROM customer
      |LEFT OUTER JOIN orders ON c_custkey = o_custkey
      |GROUP BY c_custkey, c_mktsegment
      |ORDER BY c_custkey""".stripMargin

  // ---------------------------------------------------------------------
  // q07 — anti-join (SURVEY J10: integrity checks, "orphaned" rows —
  // e.g. References without a Symbol). Parts never ordered, by type.
  // ---------------------------------------------------------------------
  def q07_anti_join(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(spark, dir)
    val l = Tables.lineitem(spark, dir).select(col("l_partkey"))
    p.join(l, p("p_partkey") === l("l_partkey"), "left_anti")
      .groupBy(col("p_type"))
      .agg(count(lit(1)).as("n_unsold_parts"))
      .orderBy(col("p_type"))
  }

  val q07_sql: String =
    """SELECT p_type, COUNT(*) AS n_unsold_parts
      |FROM part
      |WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)
      |GROUP BY p_type
      |ORDER BY p_type""".stripMargin

  // ---------------------------------------------------------------------
  // q08 — semi-join / existence (SURVEY J11: existence join before insert).
  // Orders that contain at least one high-quantity lineitem.
  // ---------------------------------------------------------------------
  def q08_semi_join(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val l = Tables.lineitem(spark, dir)
      .filter(col("l_quantity") >= 49).select(col("l_orderkey"))
    o.join(l, o("o_orderkey") === l("l_orderkey"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"))
      .orderBy(col("o_orderpriority"))
  }

  val q08_sql: String =
    """SELECT o_orderpriority, COUNT(*) AS n_orders
      |FROM orders
      |WHERE EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o_orderkey AND l_quantity >= 49)
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  // ---------------------------------------------------------------------
  // q09 — count(DISTINCT) + collect(DISTINCT) multi-aggregate (SURVEY A3).
  // collect_set order is nondeterministic → sort the array and join it to
  // one string so the hash compare is stable.
  // ---------------------------------------------------------------------
  def q09_multi_agg(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir)
    c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy(n("n_name").as("nation_name"))
      .agg(
        countDistinct(col("c_mktsegment")).as("n_segments"),
        count(lit(1)).as("n_customers"),
        array_join(array_sort(collect_set(col("c_mktsegment"))), ",")
          .as("segments"))
      .orderBy(col("nation_name"))
  }

  val q09_sql: String =
    """SELECT n_name AS nation_name,
      |  COUNT(DISTINCT c_mktsegment) AS n_segments,
      |  COUNT(*) AS n_customers,
      |  string_agg(DISTINCT c_mktsegment, ',' ORDER BY c_mktsegment) AS segments
      |FROM customer
      |JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY n_name
      |ORDER BY nation_name""".stripMargin

  // ---------------------------------------------------------------------
  // q10 — distinct + multi-column sort (SURVEY A8 + O2/O3).
  // ---------------------------------------------------------------------
  def q10_distinct_sort(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir)
      .select(col("o_orderstatus"), col("o_orderpriority"))
      .distinct()
      .orderBy(col("o_orderstatus"), col("o_orderpriority"))
  }

  val q10_sql: String =
    """SELECT DISTINCT o_orderstatus, o_orderpriority
      |FROM orders
      |ORDER BY o_orderstatus, o_orderpriority""".stripMargin

  // ---------------------------------------------------------------------
  // q11 — global top-k (SURVEY O1/O5). TakeOrderedAndProject at scale:
  // each partition keeps its local top-100, driver merges 100×P rows.
  // ---------------------------------------------------------------------
  def q11_topk(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderdate"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(100)
  }

  val q11_sql: String =
    """SELECT o_orderkey, o_totalprice, o_orderdate
      |FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey
      |LIMIT 100""".stripMargin

  // ---------------------------------------------------------------------
  // q12 — per-group top-k via window (SURVEY J8's "LIMIT 5 per token"
  // becomes row_number over a partition). Filter first so the window
  // shuffle carries only the candidate rows.
  // ---------------------------------------------------------------------
  def q12_window_topk(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir).filter(col("l_orderkey") % 100 === 0)
    val w = Window.partitionBy(col("l_orderkey"))
      .orderBy(col("l_extendedprice").desc, col("l_linenumber"))
    l.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_extendedprice"), col("rn"))
      .orderBy(col("l_orderkey"), col("rn"))
  }

  val q12_sql: String =
    """SELECT l_orderkey, l_linenumber, l_extendedprice, rn FROM (
      |  SELECT l_orderkey, l_linenumber, l_extendedprice,
      |    ROW_NUMBER() OVER (PARTITION BY l_orderkey
      |                       ORDER BY l_extendedprice DESC, l_linenumber) AS rn
      |  FROM lineitem WHERE l_orderkey % 100 = 0
      |) WHERE rn <= 3
      |ORDER BY l_orderkey, rn""".stripMargin

  // ---------------------------------------------------------------------
  // q13 — scalar/string function battery (SURVEY §2.7: lower, split[i],
  // contains, concat_ws, length — the SCIP-symbol-parse shapes).
  // ---------------------------------------------------------------------
  def q13_scalar_funcs(spark: SparkSession, dir: String): DataFrame = {
    Tables.part(spark, dir)
      .filter(col("p_partkey") <= 500)
      .select(
        col("p_partkey"),
        lower(col("p_name")).as("name_lower"),
        split(col("p_name"), " ").getItem(0).as("name_adj"),
        split(col("p_name"), " ").getItem(1).as("name_noun"),
        col("p_name").contains("red").cast("int").as("has_red"),
        concat_ws("|", col("p_brand"), col("p_type")).as("brand_type"),
        length(col("p_name")).as("name_len"))
      .orderBy(col("p_partkey"))
  }

  val q13_sql: String =
    """SELECT p_partkey,
      |  lower(p_name) AS name_lower,
      |  split_part(p_name, ' ', 1) AS name_adj,
      |  split_part(p_name, ' ', 2) AS name_noun,
      |  CAST(p_name LIKE '%red%' AS INT) AS has_red,
      |  concat_ws('|', p_brand, p_type) AS brand_type,
      |  length(p_name) AS name_len
      |FROM part
      |WHERE p_partkey <= 500
      |ORDER BY p_partkey""".stripMargin

  // ---------------------------------------------------------------------
  // q14 — CASE-chain classification + rollup (SURVEY §2.7 symbol-kind /
  // doc-type / status inference shapes: when(contains…) chains).
  // ---------------------------------------------------------------------
  def q14_case_class(spark: SparkSession, dir: String): DataFrame = {
    Tables.part(spark, dir)
      .withColumn("kind",
        when(col("p_type").contains("ECONOMY"), "economy")
          .when(col("p_type").contains("SMALL") ||
            col("p_type").contains("MEDIUM"), "mid")
          .when(col("p_type").contains("PROMO"), "promo")
          .when(col("p_type").contains("STANDARD"), "standard")
          .otherwise("other"))
      .groupBy(col("kind"))
      .agg(count(lit(1)).as("n_parts"),
        davg(col("p_retailprice")).as("avg_price"),
        max(col("p_retailprice")).as("max_price"),
        count(when(col("p_size") > 40, 1)).as("n_large"))
      .orderBy(col("kind"))
  }

  val q14_sql: String =
    s"""SELECT CASE WHEN p_type LIKE '%ECONOMY%' THEN 'economy'
       |            WHEN p_type LIKE '%SMALL%' OR p_type LIKE '%MEDIUM%' THEN 'mid'
       |            WHEN p_type LIKE '%PROMO%' THEN 'promo'
       |            WHEN p_type LIKE '%STANDARD%' THEN 'standard'
       |            ELSE 'other' END AS kind,
       |  COUNT(*) AS n_parts,
       |  ${sqlDavg("p_retailprice")} AS avg_price,
       |  MAX(p_retailprice) AS max_price,
       |  COUNT(CASE WHEN p_size > 40 THEN 1 END) AS n_large
       |FROM part
       |GROUP BY 1
       |ORDER BY kind""".stripMargin

  // ---------------------------------------------------------------------
  // q15 — MERGE / keep-latest upsert semantics (SURVEY S3/S6: the
  // reference's idempotent node merge). Version = monotonic event_id;
  // window row_number keeps the newest row per key. At scale this is one
  // hash-partition-by-key shuffle; no driver round-trips (the reference
  // does one Bolt MERGE per row — SURVEY §3.3).
  // ---------------------------------------------------------------------
  def q15_merge_latest(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val w = Window.partitionBy(col("user_id")).orderBy(col("event_id").desc)
    e.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_id").as("latest_event_id"),
        col("event_type").as("latest_event_type"))
      .orderBy(col("user_id"))
  }

  val q15_sql: String =
    """SELECT user_id, event_id AS latest_event_id,
      |       event_type AS latest_event_type FROM (
      |  SELECT user_id, event_id, event_type,
      |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
      |  FROM events
      |) WHERE rn = 1
      |ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------------
  // q16 — label-whitelist + negated predicate (SURVEY P5 + §2.6 isin).
  // ---------------------------------------------------------------------
  def q16_isin_not(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir)
      .filter(col("o_orderpriority").isin("1-URGENT", "2-HIGH") &&
        !col("o_orderstatus").contains("F"))
      .groupBy(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        dsum(col("o_totalprice")).as("total"))
      .orderBy(col("o_orderstatus"), col("o_orderpriority"))
  }

  val q16_sql: String =
    s"""SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
       |  ${sqlDsum("o_totalprice")} AS total
       |FROM orders
       |WHERE o_orderpriority IN ('1-URGENT','2-HIGH')
       |  AND o_orderstatus NOT LIKE '%F%'
       |GROUP BY o_orderstatus, o_orderpriority
       |ORDER BY o_orderstatus, o_orderpriority""".stripMargin

  // ---------------------------------------------------------------------
  // q34 — prefix completion (reference lsp.go:239: name-prefix lookup,
  // limit 20). Prefix predicates push to the scan as StringStartsWith.
  // ---------------------------------------------------------------------
  def q34_completion(spark: SparkSession, dir: String): DataFrame = {
    Tables.part(spark, dir)
      .filter(lower(col("p_name")).startsWith("sm"))
      .select(col("p_partkey"), col("p_name"))
      .orderBy(col("p_name"), col("p_partkey"))
      .limit(20)
  }

  val q34_sql: String =
    """SELECT p_partkey, p_name
      |FROM part
      |WHERE lower(p_name) LIKE 'sm%'
      |ORDER BY p_name, p_partkey
      |LIMIT 20""".stripMargin

  // ---------------------------------------------------------------------
  // q35 — ROLLUP subtotals (beyond the reference — SURVEY §2.4 notes it
  // has no grouping sets; exposed as engine surface). Nulls from subtotal
  // levels are coalesced to a sentinel so ordering is engine-agnostic.
  // ---------------------------------------------------------------------
  def q35_rollup(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir)
      .rollup(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        dsum(col("o_totalprice")).as("total"))
      .select(coalesce(col("o_orderstatus"), lit("(all)")).as("status"),
        coalesce(col("o_orderpriority"), lit("(all)")).as("priority"),
        col("n_orders"), col("total"))
      .orderBy(col("status"), col("priority"))
  }

  val q35_sql: String =
    s"""SELECT COALESCE(o_orderstatus, '(all)') AS status,
       |  COALESCE(o_orderpriority, '(all)') AS priority,
       |  COUNT(*) AS n_orders,
       |  ${sqlDsum("o_totalprice")} AS total
       |FROM orders
       |GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
       |ORDER BY status, priority""".stripMargin

  // ---------------------------------------------------------------------
  // q36 — HLL approximate distinct with a TOLERANCE oracle. HLL sketches
  // are not bit-portable across engines, so instead of comparing the raw
  // estimate we gate on the property the sketch guarantees: each engine
  // runs its OWN approx_count_distinct next to the exact count and emits
  // `approx_ok = |approx − exact| / exact ≤ 0.10` (5× the requested 2 %
  // rsd — comfortable headroom for both Spark's and DuckDB's HLL
  // parameterizations). The hash-compared output (flag, exact count,
  // boolean) is deterministic on both sides.
  // ---------------------------------------------------------------------
  def q36_approx_distinct(spark: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(approx_count_distinct(col("l_partkey"), 0.02)
        .as("_approx"),
        countDistinct(col("l_partkey")).as("exact_parts"))
      .select(col("l_returnflag"), col("exact_parts"),
        (abs(col("_approx") - col("exact_parts")).cast("double") /
          greatest(col("exact_parts"), lit(1L)) <= lit(0.10))
          .as("approx_ok"))
      .orderBy(col("l_returnflag"))
  }

  val q36_sql: String =
    """SELECT l_returnflag,
      |  COUNT(DISTINCT l_partkey) AS exact_parts,
      |  (CAST(ABS(approx_count_distinct(l_partkey)
      |            - COUNT(DISTINCT l_partkey)) AS DOUBLE)
      |   / GREATEST(COUNT(DISTINCT l_partkey), 1)) <= 0.10 AS approx_ok
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** All queries + oracles in this module. */
  // -------------------------------------------------------------------
  // q72 — semi-structured property-bag extraction: the reference's open
  // `map[string]any` node properties (`node.go:31`) carried as a JSON
  // string column, fields pulled with get_json_object (codegen'd; no
  // UDF) and aggregated. The overflow-column pattern of SURVEY §1.7.
  // -------------------------------------------------------------------
  def q72_json_props(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("k")).as("sum_k"),
        countDistinct(col("k")).as("n_distinct_k"))
      .orderBy(col("event_type"))

  val q72_sql: String =
    """SELECT event_type, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
      |    AS sum_k,
      |  COUNT(DISTINCT CAST(json_extract(props, '$.k') AS BIGINT))
      |    AS n_distinct_k
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  // -------------------------------------------------------------------
  // q73 — correlated EXISTS through the RAW SQL surface (SURVEY S1:
  // the reference ships query strings to its engine; ours is
  // spark.sql over registered views). Catalyst decorrelates the
  // subquery into a semi-join — worth gating because SQL-first users
  // hit this path, not the DataFrame API.
  // -------------------------------------------------------------------
  def q73_exists_sql(spark: SparkSession, dir: String): DataFrame = {
    Tables.customer(spark, dir).createOrReplaceTempView("v_customer")
    Tables.orders(spark, dir).createOrReplaceTempView("v_orders")
    spark.sql(
      """SELECT c_custkey, c_mktsegment FROM v_customer c
        |WHERE EXISTS (
        |  SELECT 1 FROM v_orders o
        |  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
        |ORDER BY c_custkey""".stripMargin)
  }

  val q73_sql: String =
    """SELECT c_custkey, c_mktsegment FROM customer c
      |WHERE EXISTS (
      |  SELECT 1 FROM orders o
      |  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
      |ORDER BY c_custkey""".stripMargin

  // -------------------------------------------------------------------
  // q74 — FULL OUTER join (completes the join family next to q06/q07/
  // q08): per-nation customer vs supplier presence, either side may be
  // absent. At scale both sides are pre-aggregated (tiny) before the
  // join, so the outer join never touches fact-table volume.
  // -------------------------------------------------------------------
  def q74_full_outer(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
      .filter(col("c_custkey") % 7 === 0)
      .groupBy(col("c_nationkey").as("nationkey"))
      .agg(count(lit(1)).as("n_customers"))
    val s = Tables.supplier(spark, dir)
      .filter(col("s_suppkey") % 3 === 0)
      .groupBy(col("s_nationkey").as("nationkey"))
      .agg(count(lit(1)).as("n_suppliers"))
    c.join(s, Seq("nationkey"), "full_outer")
      .select(col("nationkey"),
        coalesce(col("n_customers"), lit(0L)).as("n_customers"),
        coalesce(col("n_suppliers"), lit(0L)).as("n_suppliers"))
      .orderBy(col("nationkey"))
  }

  val q74_sql: String =
    """WITH c AS (
      |  SELECT c_nationkey AS nationkey, COUNT(*) AS n_customers
      |  FROM customer WHERE c_custkey % 7 = 0 GROUP BY c_nationkey),
      |s AS (
      |  SELECT s_nationkey AS nationkey, COUNT(*) AS n_suppliers
      |  FROM supplier WHERE s_suppkey % 3 = 0 GROUP BY s_nationkey)
      |SELECT COALESCE(c.nationkey, s.nationkey) AS nationkey,
      |  COALESCE(n_customers, 0) AS n_customers,
      |  COALESCE(n_suppliers, 0) AS n_suppliers
      |FROM c FULL OUTER JOIN s ON c.nationkey = s.nationkey
      |ORDER BY nationkey""".stripMargin

  // -------------------------------------------------------------------
  // q76 — decile binning (ntile semantics) via a DISTRIBUTED CDF. A
  // naive `ntile(10) OVER (ORDER BY price)` moves the whole fact table
  // to ONE partition; instead we aggregate a price histogram (one
  // linear shuffle), build the cumulative distribution with a
  // triangular join over a tiny coarse-bucket table plus a PARTITIONED
  // within-bucket window (partition size is bounded by the price range
  // of a bucket — at most ~102k distinct cent values — independent of
  // row count), and assign deciles by a broadcast range join against
  // the 10-row boundary table. No global sort anywhere; identical to
  // ntile because the decile aggregate (count, lo, hi) depends only on
  // which GLOBAL RANK RANGE each distinct price value straddles —
  // the o_orderkey tie-break shuffles rows of EQUAL price between
  // adjacent deciles, which cannot change min/max price or the fixed
  // ntile bucket sizes.
  // -------------------------------------------------------------------
  def q76_ntile(spark: SparkSession, dir: String): DataFrame = {
    // (price, cnt) histogram — linear, one shuffle. Checkpointed because
    // THREE consumers derive from it (bucket totals, the total count,
    // the CDF join): without it each one re-scans the fact table, and at
    // 100 TB the scan is the dominant cost. Post-aggregation the row
    // count is bounded by the price-value range, not the data volume.
    val perPrice = Tables.orders(spark, dir)
      .select(col("o_totalprice"))
      .groupBy(col("o_totalprice")).agg(count(lit(1)).as("cnt"))
      .withColumn("grp", floor(col("o_totalprice") / lit(1024.0)))
      .localCheckpoint(eager = true)
    // ntile(10) bucket boundaries — first (n mod 10) buckets get one
    // extra row — derived LAZILY from the 1-row total (no driver
    // round-trip, no action before the final one).
    val total = perPrice.agg(coalesce(sum(col("cnt")), lit(0L)).as("n"))
    val decDf = spark.range(1, 11).toDF("decile")
      .crossJoin(broadcast(total))
      .select(col("decile").cast("int").as("decile"),
        (expr("n div 10") +
          when(col("decile") <= col("n") % 10, 1L).otherwise(0L)).as("sz"),
        ((col("decile") - 1) * expr("n div 10") +
          least(col("decile") - 1, col("n") % 10) + 1).as("rank_start"))
      .withColumn("rank_end", col("rank_start") + col("sz") - 1)
      .filter(col("sz") > 0)
    // Global rank range occupied by each distinct price: the
    // distributed-CDF shape (graft.ops.Cdf — coarse-bucket offsets +
    // a window bounded by each bucket's value range, ≤ ~102k cent
    // values, independent of row count).
    val cdf = graft.ops.Cdf.prefixSum(perPrice, Seq.empty, "grp",
        "o_totalprice", "cnt", "cum", inclusive = true)
      .withColumn("lo_rank", col("cum") - col("cnt") + 1)
    cdf.join(broadcast(decDf),
        col("lo_rank") <= col("rank_end") && col("cum") >= col("rank_start"))
      .groupBy(col("decile"))
      .agg(min(col("sz")).as("n_orders"),
        min(col("o_totalprice")).as("lo"),
        max(col("o_totalprice")).as("hi"))
      .orderBy(col("decile"))
  }

  val q76_sql: String =
    """WITH d AS (
      |  SELECT o_totalprice, NTILE(10) OVER (
      |    ORDER BY o_totalprice, o_orderkey) AS decile
      |  FROM orders)
      |SELECT decile, COUNT(*) AS n_orders,
      |       MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi
      |FROM d GROUP BY decile
      |ORDER BY decile""".stripMargin

  // -------------------------------------------------------------------
  // q113 — one-pass column profiler (ANALYZE TABLE semantics): null
  // count, distinct count, min, max for each profiled column, computed
  // in a SINGLE aggregation over one scan (the multi-count-distinct
  // Expand, not four scans), then unpivoted to long format with stack.
  // The statistics pass every optimizer and data-quality monitor runs
  // first — only integer/string columns profiled so min/max stringify
  // identically on both engines.
  // -------------------------------------------------------------------
  private val profileCols =
    Seq("o_custkey", "o_orderkey", "o_orderpriority", "o_orderstatus")

  def q113_col_profile(spark: SparkSession, dir: String): DataFrame = {
    val aggs = profileCols.flatMap { c =>
      Seq(count(when(col(c).isNull, 1)).as(s"${c}_nulls"),
        countDistinct(col(c)).as(s"${c}_distinct"),
        min(col(c)).cast("string").as(s"${c}_min"),
        max(col(c)).cast("string").as(s"${c}_max"))
    }
    Tables.orders(spark, dir)
      .agg(aggs.head, aggs.tail: _*)
      .selectExpr(s"stack(${profileCols.size}, " +
        profileCols.map(c =>
          s"'$c', ${c}_nulls, ${c}_distinct, ${c}_min, ${c}_max")
          .mkString(", ") +
        ") as (col_name, n_nulls, n_distinct, min_s, max_s)")
      .orderBy(col("col_name"))
  }

  val q113_sql: String = profileCols.map { c =>
    s"""SELECT '$c' AS col_name,
       |  CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_nulls,
       |  CAST(COUNT(DISTINCT $c) AS BIGINT) AS n_distinct,
       |  CAST(MIN($c) AS VARCHAR) AS min_s,
       |  CAST(MAX($c) AS VARCHAR) AS max_s
       |FROM orders""".stripMargin
  }.mkString("", "\nUNION ALL\n", "\nORDER BY col_name")

  // -------------------------------------------------------------------
  // q114 — approximate quantiles under a tolerance oracle (the q36
  // pattern for the quantile-sketch family): each engine runs its OWN
  // approximate-quantile sketch (Spark: one shared Greenwald-Khanna
  // summary at accuracy 1000 — error bound 0.1%, 20× inside the 2%
  // gate; DuckDB: t-digest) next to the exact PERCENTILE_DISC and
  // emits `approx_ok = |approx − exact| / exact ≤ 0.02`. The
  // hash-compared columns (label, exact discrete quantile — an actual
  // data element, so bit-identical across engines — and the boolean)
  // are deterministic.
  //
  // The EXACT side deliberately avoids Spark's percentile_disc, whose
  // aggregation buffer holds every distinct value per partition — at
  // 100 TB of near-unique doubles that buffer is the data. Instead it
  // reuses the q76 distributed-CDF shape: a value histogram (one
  // linear shuffle, rows bounded by the value range post-aggregation),
  // a triangular join over the tiny coarse-bucket table, a PARTITIONED
  // within-bucket window, then PERCENTILE_DISC(q) = min value whose
  // cumulative count ≥ ⌈q·N⌉ — identical semantics, no global sort, no
  // all-values buffer anywhere.
  // -------------------------------------------------------------------
  private val quantilePoints = Seq(("p25", 0.25), ("p50", 0.5), ("p75", 0.75))

  def q114_approx_quantiles(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    // histogram feeds bucket totals AND the CDF join — checkpointed so
    // the fact table scans once for the exact side
    val perVal = li.select(col("l_extendedprice").as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("cnt"))
      .withColumn("grp", floor(col("v") / lit(1024.0)))
      .localCheckpoint(eager = true)
    val grpTot = perVal.groupBy(col("grp")).agg(sum(col("cnt")).as("gcnt"))
    val grpBefore = grpTot.as("g")
      .join(grpTot.as("h"), col("h.grp") < col("g.grp"), "left_outer")
      .groupBy(col("g.grp").as("grp"))
      .agg(coalesce(sum(col("h.gcnt")), lit(0L)).as("before"))
    val total = grpTot.agg(coalesce(sum(col("gcnt")), lit(0L)).as("n"))
    val wg = Window.partitionBy(col("grp")).orderBy(col("v"))
    val cdf = perVal.join(broadcast(grpBefore), Seq("grp"))
      .withColumn("cum", col("before") + sum(col("cnt")).over(wg))
    val exAggs = quantilePoints.map { case (l, q) =>
      min(when(col("cum") >= ceil(lit(q) * col("n")), col("v")))
        .as(s"e_$l")
    }
    val exact = cdf.crossJoin(broadcast(total))
      .agg(exAggs.head, exAggs.tail: _*)
    val approx = li.agg(
      expr("percentile_approx(l_extendedprice, array(" +
        quantilePoints.map(_._2).mkString(",") + "), 1000)").as("a_arr"))
    exact.crossJoin(approx)
      .selectExpr(s"stack(${quantilePoints.size}, " +
        quantilePoints.zipWithIndex.map { case ((l, _), i) =>
          s"'$l', e_$l, abs(a_arr[$i] - e_$l) / e_$l <= 0.02"
        }.mkString(", ") +
        ") as (q, exact_price, approx_ok)")
      .orderBy(col("q"))
  }

  val q114_sql: String = {
    val sels = quantilePoints.map { case (l, q) =>
      s"quantile_disc(l_extendedprice, $q) AS e_$l,\n" +
        s"  approx_quantile(l_extendedprice, $q) AS a_$l"
    }.mkString(",\n  ")
    val rows = quantilePoints.map { case (l, _) =>
      s"SELECT '$l' AS q, e_$l AS exact_price,\n" +
        s"  ABS(a_$l - e_$l) / e_$l <= 0.02 AS approx_ok FROM s"
    }.mkString("\nUNION ALL\n")
    s"WITH s AS (SELECT\n  $sels\nFROM lineitem)\n$rows\nORDER BY q"
  }

  val registry: graft.SparkEntry.Registry = Seq(
    ("q113_col_profile", q113_col_profile _, q113_sql),
    ("q114_approx_quantiles", q114_approx_quantiles _, q114_sql),
    ("q76_ntile", q76_ntile _, q76_sql),
    ("q72_json_props", q72_json_props _, q72_sql),
    ("q73_exists_sql", q73_exists_sql _, q73_sql),
    ("q74_full_outer", q74_full_outer _, q74_sql),
    ("q01_pruned_agg", q01_pruned_agg _, q01_sql),
    ("q02_filter_project", q02_filter_project _, q02_sql),
    ("q03_search_rank", q03_search_rank _, q03_sql),
    ("q04_join_broadcast", q04_join_broadcast _, q04_sql),
    ("q05_chain_3hop", q05_chain_3hop _, q05_sql),
    ("q06_left_outer_count", q06_left_outer_count _, q06_sql),
    ("q07_anti_join", q07_anti_join _, q07_sql),
    ("q08_semi_join", q08_semi_join _, q08_sql),
    ("q09_multi_agg", q09_multi_agg _, q09_sql),
    ("q10_distinct_sort", q10_distinct_sort _, q10_sql),
    ("q11_topk", q11_topk _, q11_sql),
    ("q12_window_topk", q12_window_topk _, q12_sql),
    ("q13_scalar_funcs", q13_scalar_funcs _, q13_sql),
    ("q14_case_class", q14_case_class _, q14_sql),
    ("q15_merge_latest", q15_merge_latest _, q15_sql),
    ("q16_isin_not", q16_isin_not _, q16_sql),
    ("q34_completion", q34_completion _, q34_sql),
    ("q35_rollup", q35_rollup _, q35_sql),
    ("q36_approx_distinct", q36_approx_distinct _, q36_sql))
}
