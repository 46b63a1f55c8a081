package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.pipeline.{Sampling, TextAnalysis}

/** Data-integrity and featurization operators: behavioral-sequence
  * fingerprint dedup (bot/replay detection), hashing-trick
  * featurization audit, and merkle-style partition-hash snapshot diff.
  */
object IntegrityQueries {

  // ---------------------------------------------------------------------
  // q211 — behavioral fingerprint dedup (bot/replay detection): each
  // (user, day) gets a fingerprint of its ordered event-type
  // sequence; fingerprints recurring across ≥ 3 user-days are the
  // repeated/automated behavior patterns a fraud or data-quality pass
  // flags before training on behavior logs. (The day granularity is
  // what makes patterns recur — whole-history sequences are unique
  // for any active user.) Sequence order is (ts, event_id) — total
  // and engine-portable.
  //
  // Scale shape: one shuffle on (user, day) to assemble sequences
  // (group width = one user-day's activity), one groupBy on the
  // fingerprint; no pairwise comparison ever happens — identical
  // sequences collide on the hash, the classic fingerprint-dedup
  // shape (cf. exact dedup q20).
  // ---------------------------------------------------------------------
  def q211_behavior_fingerprint(spark: SparkSession, dir: String)
      : DataFrame = {
    val seqs = Tables.events(spark, dir)
      .select(col("user_id"),
        expr("ts div 86400000000000").as("day"),
        col("ts"), col("event_id"), col("event_type"))
      .groupBy(col("user_id"), col("day"))
      .agg(array_join(transform(
          array_sort(collect_list(struct(col("ts"), col("event_id"),
            col("event_type")))),
          x => x.getField("event_type")), ",").as("seq"))
    seqs
      .select(col("user_id"), md5(col("seq")).as("fp"),
        size(split(col("seq"), ",", -1)).cast("long").as("seq_len"))
      .groupBy(col("fp"), col("seq_len"))
      .agg(count(lit(1)).as("n_user_days"),
        countDistinct(col("user_id")).as("n_users"),
        min(col("user_id")).as("min_user_id"))
      .filter(col("n_user_days") >= 3)
      .orderBy(col("n_user_days").desc, col("fp"))
      .limit(25)
  }

  val q211_sql: String =
    """WITH seqs AS (
      |  SELECT user_id, epoch_ns(ts) // 86400000000000 AS day,
      |    string_agg(event_type, ',' ORDER BY ts, event_id) AS seq
      |  FROM events GROUP BY 1, 2),
      |fps AS (
      |  SELECT user_id, md5(seq) AS fp,
      |    len(string_split(seq, ',')) AS seq_len
      |  FROM seqs)
      |SELECT fp, seq_len, COUNT(*) AS n_user_days,
      |       COUNT(DISTINCT user_id) AS n_users,
      |       MIN(user_id) AS min_user_id
      |FROM fps
      |GROUP BY fp, seq_len
      |HAVING COUNT(*) >= 3
      |ORDER BY n_user_days DESC, fp
      |LIMIT 25""".stripMargin

  // ---------------------------------------------------------------------
  // q212 — hashing-trick featurization audit (Weinberger et al. 2009):
  // tokens are mapped into a fixed 1024-bucket feature space by
  // hash60 mod B — the featurizer that needs NO vocabulary broadcast
  // and no fit pass, which is what makes it the default at corpus
  // scale. Reported: the 20 most-loaded buckets (distinct tokens
  // mapped in = collision degree, plus occurrence mass) and, in every
  // row, the global space utilization (buckets used, distinct
  // tokens) — the numbers that decide whether B must grow.
  //
  // Scale shape: bucket assignment is row-local; one groupBy (bucket)
  // with map-side combine; the distinct-token side aggregates the
  // (bucket, token) pairs first, so nothing corpus-sized is sorted.
  // ---------------------------------------------------------------------
  private val FhB = 1024L

  def q212_feature_hashing(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(explode(TextAnalysis.tokens(col("text"))).as("tok"))
      .withColumn("bucket", pmod(Sampling.hash60("fh", col("tok")),
        lit(FhB)))
    val perBucketTok = toks.groupBy(col("bucket"), col("tok"))
      .agg(count(lit(1)).as("n_occ"))
      .localCheckpoint(eager = true) // bucket rollup + global stats
    val perBucket = perBucketTok.groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("n_occ")).as("n_occurrences"))
    val global = perBucketTok.agg(
      countDistinct(col("bucket")).as("buckets_used"),
      countDistinct(col("tok")).as("distinct_tokens"))
    perBucket.crossJoin(broadcast(global))
      .orderBy(col("n_tokens").desc, col("n_occurrences").desc,
        col("bucket"))
      .limit(20)
  }

  val q212_sql: String =
    s"""WITH toks AS (
       |  SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
       |  FROM documents WHERE trim(text) <> ''),
       |b AS (
       |  SELECT tok,
       |    ${Sampling.hash60Sql("fh", "tok")} % $FhB AS bucket
       |  FROM toks),
       |pbt AS (
       |  SELECT bucket, tok, COUNT(*) AS n_occ FROM b GROUP BY 1, 2),
       |pb AS (
       |  SELECT bucket, COUNT(*) AS n_tokens,
       |    CAST(SUM(n_occ) AS BIGINT) AS n_occurrences
       |  FROM pbt GROUP BY 1),
       |g AS (
       |  SELECT COUNT(DISTINCT bucket) AS buckets_used,
       |    COUNT(DISTINCT tok) AS distinct_tokens
       |  FROM pbt)
       |SELECT pb.bucket, pb.n_tokens, pb.n_occurrences,
       |  g.buckets_used, g.distinct_tokens
       |FROM pb CROSS JOIN g
       |ORDER BY n_tokens DESC, n_occurrences DESC, bucket
       |LIMIT 20""".stripMargin

  // ---------------------------------------------------------------------
  // q213 — merkle-style partition-hash snapshot diff: both corpus
  // snapshots (q91's deterministic old/new synthesis) reduce to 256
  // bucket digests — XOR of the per-row (id:content) hashes, which is
  // order-independent and overflow-free — and only buckets whose
  // digests DISAGREE are reported. This is the sync shortcut that
  // makes 100 TB change detection cheap: the full-fidelity row diff
  // (q91) only ever needs to run inside the ~changed/256 fraction of
  // the data, and identical snapshots reconcile after exchanging 256
  // rows.
  //
  // Scale shape: two scans, each reducing to 256 rows via map-side
  // XOR partials; the digest comparison joins 256×2 rows.
  // ---------------------------------------------------------------------
  private val MerkleBuckets = 256L

  def q213_merkle_diff(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
    val oldSnap = docs.filter(col("doc_id") % 20 =!= 0)
      .select(col("doc_id"), col("text"))
    val newSnap = docs.filter(col("doc_id") % 30 =!= 0)
      .select(col("doc_id"),
        when(col("doc_id") % 7 === 0, concat(col("text"), lit(" EDIT")))
          .otherwise(col("text")).as("text"))
    def digest(snap: DataFrame, side: String): DataFrame =
      snap
        .select(
          pmod(Sampling.hash60("mkb", col("doc_id")), lit(MerkleBuckets))
            .as("bucket"),
          Sampling.hash60("mkr",
            concat_ws(":", col("doc_id"), col("text"))).as("h"))
        .groupBy(col("bucket"))
        .agg(expr("bit_xor(h)").as(s"digest_$side"),
          count(lit(1)).as(s"n_$side"))
    digest(oldSnap, "old")
      .join(digest(newSnap, "new"), Seq("bucket"), "full_outer")
      .select(col("bucket"),
        coalesce(col("digest_old"), lit(0L)).as("digest_old"),
        coalesce(col("n_old"), lit(0L)).as("n_old"),
        coalesce(col("digest_new"), lit(0L)).as("digest_new"),
        coalesce(col("n_new"), lit(0L)).as("n_new"))
      .filter(col("digest_old") =!= col("digest_new"))
      .orderBy(col("bucket"))
  }

  val q213_sql: String = {
    val rowH = Sampling.hash60Sql("mkr",
      "CAST(doc_id AS VARCHAR) || ':' || text")
    val bktH = Sampling.hash60Sql("mkb", "doc_id")
    s"""WITH oldsnap AS (
       |  SELECT doc_id, text FROM documents WHERE doc_id % 20 <> 0),
       |newsnap AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 7 = 0 THEN text || ' EDIT' ELSE text END
       |      AS text
       |  FROM documents WHERE doc_id % 30 <> 0),
       |od AS (
       |  SELECT ($bktH) % $MerkleBuckets AS bucket,
       |    bit_xor($rowH) AS digest_old, COUNT(*) AS n_old
       |  FROM oldsnap GROUP BY 1),
       |nd AS (
       |  SELECT ($bktH) % $MerkleBuckets AS bucket,
       |    bit_xor($rowH) AS digest_new, COUNT(*) AS n_new
       |  FROM newsnap GROUP BY 1)
       |SELECT COALESCE(od.bucket, nd.bucket) AS bucket,
       |  COALESCE(od.digest_old, 0) AS digest_old,
       |  COALESCE(od.n_old, 0) AS n_old,
       |  COALESCE(nd.digest_new, 0) AS digest_new,
       |  COALESCE(nd.n_new, 0) AS n_new
       |FROM od FULL OUTER JOIN nd ON nd.bucket = od.bucket
       |WHERE COALESCE(od.digest_old, 0) <> COALESCE(nd.digest_new, 0)
       |ORDER BY bucket""".stripMargin
  }

  // -------------------------------------------------------------------
  // q293 — CDC log apply (the lakehouse MERGE INTO / change-data-
  // capture semantics: latest op per key wins): a base snapshot (even
  // customer keys) plus a derived change log — inserts for the odd
  // keys (seq 1), balance updates for base keys divisible by 3
  // (seq 2), deletes for base keys divisible by 5 (seq 3, so a key
  // hit by both U and D resolves to D by the seq order) — applied in
  // ONE pass: reduce the log to max-seq per key (a hash agg), then a
  // single full-outer join against the base. No per-op scans, no
  // driver loop — the shape Delta/Iceberg MERGE compiles to. Output:
  // per-segment row counts for every op class plus the final table's
  // row count and balance checksum, which pin the exact merge result.
  // -------------------------------------------------------------------
  def q293_cdc_apply(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir).select(
      col("c_custkey").as("k"), col("c_mktsegment").as("seg"),
      expr("cast(floor(c_acctbal * 100) as bigint)").as("bal"))
      .localCheckpoint(eager = true) // base AND log derivation
    val base = cust.filter(col("k") % 2 === 0)
    val logDf = cust.filter(col("k") % 2 === 1)
      .select(col("k"), lit(1L).as("seq"), lit("I").as("op"),
        col("seg"), col("bal"))
      .unionAll(cust.filter(col("k") % 2 === 0 && col("k") % 3 === 0)
        .select(col("k"), lit(2L).as("seq"), lit("U").as("op"),
          col("seg"), (col("bal") + 1000L).as("bal")))
      .unionAll(cust.filter(col("k") % 2 === 0 && col("k") % 5 === 0)
        .select(col("k"), lit(3L).as("seq"), lit("D").as("op"),
          col("seg"), lit(0L).as("bal")))
    val latest = logDf
      .groupBy(col("k"))
      .agg(max(struct(col("seq"), col("op"), col("seg"), col("bal")))
        .as("m"))
      .select(col("k"), col("m.op").as("op"), col("m.seg").as("lseg"),
        col("m.bal").as("lbal"))
    val merged = base.join(latest, Seq("k"), "full_outer")
      .select(
        coalesce(col("seg"), col("lseg")).as("seg"),
        col("op"),
        when(col("op") === "U", col("lbal"))
          .when(col("op") === "I", col("lbal"))
          .otherwise(col("bal")).as("fbal"),
        col("bal").isNotNull.as("in_base"))
      .localCheckpoint(eager = true) // op counts AND final stats
    merged.groupBy(col("seg"))
      .agg(sum(when(col("in_base"), 1L).otherwise(0L)).as("n_base"),
        sum(when(col("op") === "I", 1L).otherwise(0L)).as("n_ins"),
        sum(when(col("op") === "U", 1L).otherwise(0L)).as("n_upd"),
        sum(when(col("op") === "D", 1L).otherwise(0L)).as("n_del"),
        sum(when(col("op").isNull || col("op") =!= "D", 1L)
          .otherwise(0L)).as("n_final"),
        sum(when(col("op").isNull || col("op") =!= "D", col("fbal"))
          .otherwise(0L)).as("bal_sum"))
      .orderBy(col("seg"))
  }

  val q293_sql: String =
    """WITH cust AS (
      |  SELECT c_custkey AS k, c_mktsegment AS seg,
      |    CAST(floor(c_acctbal * 100) AS BIGINT) AS bal
      |  FROM customer),
      |base AS (SELECT * FROM cust WHERE k % 2 = 0),
      |lg AS (
      |  SELECT k, 1 AS seq, 'I' AS op, seg, bal FROM cust
      |  WHERE k % 2 = 1
      |  UNION ALL
      |  SELECT k, 2, 'U', seg, bal + 1000 FROM cust
      |  WHERE k % 2 = 0 AND k % 3 = 0
      |  UNION ALL
      |  SELECT k, 3, 'D', seg, 0 FROM cust
      |  WHERE k % 2 = 0 AND k % 5 = 0),
      |latest AS (
      |  SELECT k, op, seg AS lseg, bal AS lbal FROM (
      |    SELECT *, ROW_NUMBER() OVER (PARTITION BY k
      |      ORDER BY seq DESC) AS rn FROM lg)
      |  WHERE rn = 1),
      |merged AS (
      |  SELECT COALESCE(b.seg, l.lseg) AS seg, l.op,
      |    CASE WHEN l.op IN ('U', 'I') THEN l.lbal ELSE b.bal END
      |      AS fbal,
      |    b.bal IS NOT NULL AS in_base
      |  FROM base b FULL OUTER JOIN latest l ON b.k = l.k)
      |SELECT seg,
      |  CAST(SUM(CASE WHEN in_base THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_base,
      |  CAST(SUM(CASE WHEN op = 'I' THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_ins,
      |  CAST(SUM(CASE WHEN op = 'U' THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_upd,
      |  CAST(SUM(CASE WHEN op = 'D' THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_del,
      |  CAST(SUM(CASE WHEN op IS NULL OR op <> 'D' THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_final,
      |  CAST(SUM(CASE WHEN op IS NULL OR op <> 'D' THEN fbal
      |    ELSE 0 END) AS BIGINT) AS bal_sum
      |FROM merged GROUP BY seg ORDER BY seg""".stripMargin

  // -------------------------------------------------------------------
  // q320 — XOR-parity (RAID-5) recovery audit: every doc's content
  // hash splits into four 32-bit data blocks (hex substrings of
  // md5(text) — engine-portable); parity = b0⊕b1⊕b2⊕b3, and the
  // recovery identity parity⊕b0⊕b1⊕b3 = b2 is MEASURED per doc, not
  // assumed — n_recover_ok must equal n_docs, which pins the whole
  // xor pipeline bit-for-bit across engines. The per-source rollup
  // carries the parity checksum (the value a scrub job compares
  // across replicas). Pure scan shape: per-row bit arithmetic + one
  // hash agg.
  // -------------------------------------------------------------------
  def q320_xor_parity_audit(spark: SparkSession, dir: String)
      : DataFrame = {
    val blocks = Tables.documents(spark, dir).select(
      col("source"), md5(col("text")).as("h"))
    val withB = (0 until 4).foldLeft(blocks) { (df, j) =>
      df.withColumn(s"b$j",
        conv(substring(col("h"), j * 8 + 1, 8), 16, 10).cast("long"))
    }
    withB
      .withColumn("parity", expr("b0 ^ b1 ^ b2 ^ b3"))
      .withColumn("rec2", expr("parity ^ b0 ^ b1 ^ b3"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("parity")).as("parity_sum"),
        sum(when(col("rec2") === col("b2"), 1L).otherwise(0L))
          .as("n_recover_ok"))
      .orderBy(col("source"))
  }

  val q320_sql: String = {
    def b(j: Int): String =
      s"CAST(('0x' || substr(md5(text), ${j * 8 + 1}, 8)) AS BIGINT)"
    s"""WITH blk AS (
       |  SELECT source, ${b(0)} AS b0, ${b(1)} AS b1, ${b(2)} AS b2,
       |    ${b(3)} AS b3
       |  FROM documents),
       |p AS (
       |  SELECT source, b2,
       |    xor(xor(xor(b0, b1), b2), b3) AS parity,
       |    xor(xor(xor(xor(xor(xor(b0, b1), b2), b3), b0), b1), b3)
       |      AS rec2
       |  FROM blk)
       |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(parity) AS BIGINT) AS parity_sum,
       |  CAST(SUM(CASE WHEN rec2 = b2 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_recover_ok
       |FROM p GROUP BY source ORDER BY source""".stripMargin
  }

  // -------------------------------------------------------------------
  // q329 — Reed–Solomon RAID-6 double-erasure audit (the GF(256)
  // P+Q scheme behind every erasure-coded object store — Plank 1997,
  // Anvin "The mathematics of RAID-6"): each doc's md5 splits into
  // four data blocks of four bytes; P is the XOR parity (q320's
  // code) and Q = Σ gⁱ⊗Dᵢ over GF(256) with poly 0x11d, generator 2.
  // The audit ERASES D₁ and D₃ and recovers both from (P, Q) via the
  // standard algebra — D₃ = (0x0A)⁻¹⊗(B ⊕ 2⊗A), D₁ = A ⊕ D₃ —
  // measured per doc (n_ok_double ≡ n_docs pins the whole field
  // pipeline bit-for-bit). GF multiplies are by CONSTANTS only, so
  // each is ONE lookup in a pinned 256-entry product table computed
  // once in Scala and emitted into BOTH engines as array literals
  // riding a broadcast one-row frame (the q297 array-expression
  // discipline — no UDF, stays in codegen). Pure scan shape: per-row
  // byte arithmetic + one hash agg per source.
  // -------------------------------------------------------------------
  private def gfMul(a: Int, b: Int): Int = {
    var (x, y, r) = (a, b, 0)
    while (y > 0) {
      if ((y & 1) != 0) r ^= x
      x <<= 1
      if ((x & 0x100) != 0) x ^= 0x11d
      y >>= 1
    }
    r
  }
  private val GfInv0A: Int =
    (1 until 256).find(v => gfMul(0x0a, v) == 1).get
  private def gfTable(c: Int): String =
    (0 until 256).map(gfMul(c, _)).mkString(",")

  def q329_rs_erasure_audit(spark: SparkSession, dir: String)
      : DataFrame = {
    val gf = spark.range(1).select(
      expr(s"array(${gfTable(2)})").as("m2"),
      expr(s"array(${gfTable(4)})").as("m4"),
      expr(s"array(${gfTable(8)})").as("m8"),
      expr(s"array(${gfTable(GfInv0A)})").as("mia"))
    def mul(t: String, x: String): String =
      s"element_at($t, ($x) + 1)"
    val base = Tables.documents(spark, dir)
      .select(col("source"), md5(col("text")).as("h"))
      .crossJoin(broadcast(gf))
    val withPos = (0 until 4).foldLeft(base) { (df0, bp) =>
      val df1 = (0 until 4).foldLeft(df0) { (d, i) =>
        d.withColumn(s"d${i}_$bp", expr(
          s"cast(conv(substr(h, ${(4 * i + bp) * 2 + 1}, 2), 16, 10)" +
            " as int)"))
      }
      df1
        .withColumn(s"p_$bp",
          expr(s"d0_$bp ^ d1_$bp ^ d2_$bp ^ d3_$bp"))
        .withColumn(s"q_$bp", expr(
          s"d0_$bp ^ ${mul("m2", s"d1_$bp")} ^" +
            s" ${mul("m4", s"d2_$bp")} ^ ${mul("m8", s"d3_$bp")}"))
        .withColumn(s"aa_$bp", expr(s"p_$bp ^ d0_$bp ^ d2_$bp"))
        .withColumn(s"bb_$bp",
          expr(s"q_$bp ^ d0_$bp ^ ${mul("m4", s"d2_$bp")}"))
        .withColumn(s"d3r_$bp",
          expr(mul("mia", s"bb_$bp ^ ${mul("m2", s"aa_$bp")}")))
        .withColumn(s"d1r_$bp", expr(s"aa_$bp ^ d3r_$bp"))
        .withColumn(s"s1_$bp",
          expr(s"p_$bp ^ d0_$bp ^ d2_$bp ^ d3_$bp"))
    }
    withPos
      .withColumn("ok_s", expr((0 until 4)
        .map(b => s"(s1_$b = d1_$b)").mkString(" AND ")))
      .withColumn("ok_d", expr((0 until 4)
        .map(b => s"(d1r_$b = d1_$b AND d3r_$b = d3_$b)")
        .mkString(" AND ")))
      .withColumn("qv", expr((0 until 4)
        .map(b => s"q_$b").mkString(" + ")).cast("long"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("ok_s"), 1L).otherwise(0L)).as("n_ok_single"),
        sum(when(col("ok_d"), 1L).otherwise(0L)).as("n_ok_double"),
        sum(col("qv")).as("q_checksum"))
      .orderBy(col("source"))
  }

  val q329_sql: String = {
    def mul(t: String, x: String): String = s"$t[(($x)) + 1]"
    def xo(parts: String*): String =
      parts.reduce((a, b) => s"xor($a, $b)")
    def byte(i: Int, bp: Int): String =
      s"CAST(('0x' || substr(h, ${(4 * i + bp) * 2 + 1}, 2))" +
        " AS INTEGER)"
    val posSelects = (0 until 4).map { bp =>
      val (d0, d1, d2, d3) =
        (s"d0_$bp", s"d1_$bp", s"d2_$bp", s"d3_$bp")
      Seq(
        (0 until 4).map(i => s"${byte(i, bp)} AS d${i}_$bp")
          .mkString(", "),
        s"${xo(d0, d1, d2, d3)} AS p_$bp",
        s"${xo(d0, mul("m2", d1), mul("m4", d2), mul("m8", d3))}" +
          s" AS q_$bp")
    }
    val lvl2 = (0 until 4).map { bp =>
      Seq(s"${xo(s"p_$bp", s"d0_$bp", s"d2_$bp")} AS aa_$bp",
        s"${xo(s"q_$bp", s"d0_$bp", mul("m4", s"d2_$bp"))} AS bb_$bp",
        s"${xo(s"p_$bp", s"d0_$bp", s"d2_$bp", s"d3_$bp")} AS s1_$bp")
    }
    val lvl3 = (0 until 4).map { bp =>
      s"${mul("mia", xo(s"bb_$bp", mul("m2", s"aa_$bp")))} AS d3r_$bp"
    }
    s"""WITH gf AS (
       |  SELECT [${gfTable(2)}] AS m2, [${gfTable(4)}] AS m4,
       |    [${gfTable(8)}] AS m8, [${gfTable(GfInv0A)}] AS mia),
       |b0 AS (
       |  SELECT source, m2, m4, m8, mia,
       |    ${posSelects.map(_.head).mkString(",\n    ")}
       |  FROM (SELECT documents.source, md5(text) AS h, m2, m4, m8,
       |    mia FROM documents CROSS JOIN gf)),
       |b1 AS (
       |  SELECT *,
       |    ${(0 until 4).flatMap(bp => posSelects(bp).tail)
          .mkString(",\n    ")}
       |  FROM b0),
       |b2 AS (
       |  SELECT *, ${lvl2.flatten.mkString(",\n    ")} FROM b1),
       |b3 AS (
       |  SELECT *, ${lvl3.mkString(",\n    ")} FROM b2),
       |b4 AS (
       |  SELECT source,
       |    ${(0 until 4).map(b => s"(s1_$b = d1_$b)")
          .mkString(" AND ")} AS ok_s,
       |    ${(0 until 4)
          .map(b => s"(xor(aa_$b, d3r_$b) = d1_$b AND" +
            s" d3r_$b = d3_$b)").mkString(" AND ")} AS ok_d,
       |    ${(0 until 4).map(b => s"q_$b").mkString(" + ")} AS qv
       |  FROM b3)
       |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(CASE WHEN ok_s THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_ok_single,
       |  CAST(SUM(CASE WHEN ok_d THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_ok_double,
       |  CAST(SUM(qv) AS BIGINT) AS q_checksum
       |FROM b4 GROUP BY source ORDER BY source""".stripMargin
  }

  val registry: graft.SparkEntry.Registry = Seq(
    ("q329_rs_erasure_audit", q329_rs_erasure_audit _, q329_sql),
    ("q320_xor_parity_audit", q320_xor_parity_audit _, q320_sql),
    ("q211_behavior_fingerprint", q211_behavior_fingerprint _, q211_sql),
    ("q212_feature_hashing", q212_feature_hashing _, q212_sql),
    ("q213_merkle_diff", q213_merkle_diff _, q213_sql),
    ("q293_cdc_apply", q293_cdc_apply _, q293_sql))
}
