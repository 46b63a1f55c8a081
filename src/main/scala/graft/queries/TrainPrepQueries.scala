package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.pipeline.{Sampling, TextAnalysis}

/** Training-prep and evaluation operators: length-bucketed batch
  * packing (padding-waste audit), exposure/time-weighted averages,
  * and the Mann–Whitney/AUC rank statistic — all integer-exact.
  */
object TrainPrepQueries {

  // ---------------------------------------------------------------------
  // q214 — length-sorted batching padding audit: pad-to-longest
  // batches of 8 docs are formed per source shard in (a) arrival
  // order and (b) length-sorted order, and the padding waste of each
  // strategy is compared — the audit behind "sorted batching", the
  // standard trick that cuts transformer fine-tuning FLOPs by
  // double-digit percents. waste_ppm = padded ÷ (useful + padded).
  //
  // Scale shape: packing runs INSIDE each source shard (window
  // partition = one shard, as production packers do — a global sort
  // would serialize the corpus); the per-batch max and the final
  // roll-up are two bounded aggregations.
  // ---------------------------------------------------------------------
  private val BatchSize = 8

  def q214_length_batching(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_tok"))
      .localCheckpoint(eager = true) // both strategies read it
    def waste(orderCols: Seq[String], strategy: String): DataFrame =
      docs
        .withColumn("batch",
          expr(s"(row_number() over (partition by source order by " +
            s"${orderCols.mkString(", ")}) - 1) div $BatchSize"))
        .groupBy(col("source"), col("batch"))
        .agg(max(col("n_tok")).as("mx"), sum(col("n_tok")).as("useful"),
          count(lit(1)).as("n_docs"))
        .agg(count(lit(1)).as("n_batches"),
          sum(col("useful")).as("total_tokens"),
          sum(col("mx") * col("n_docs") - col("useful"))
            .as("padded_tokens"))
        .select(lit(strategy).as("strategy"), col("n_batches"),
          col("total_tokens"), col("padded_tokens"),
          expr("padded_tokens * 1000000 div " +
            "(total_tokens + padded_tokens)").as("waste_ppm"))
    waste(Seq("doc_id"), "arrival")
      .unionByName(waste(Seq("n_tok", "doc_id"), "length_sorted"))
      .orderBy(col("strategy"))
  }

  val q214_sql: String = {
    def arm(order: String, strategy: String): String =
      s"""SELECT '$strategy' AS strategy,
         |  COUNT(*) AS n_batches,
         |  CAST(SUM(useful) AS BIGINT) AS total_tokens,
         |  CAST(SUM(mx * n_docs - useful) AS BIGINT) AS padded_tokens,
         |  CAST(SUM(mx * n_docs - useful) AS BIGINT) * 1000000
         |    // (CAST(SUM(useful) AS BIGINT)
         |        + CAST(SUM(mx * n_docs - useful) AS BIGINT))
         |    AS waste_ppm
         |FROM (
         |  SELECT source, batch, MAX(n_tok) AS mx, SUM(n_tok) AS useful,
         |         COUNT(*) AS n_docs
         |  FROM (
         |    SELECT source, n_tok,
         |      (ROW_NUMBER() OVER (PARTITION BY source ORDER BY $order)
         |        - 1) // $BatchSize AS batch
         |    FROM d)
         |  GROUP BY 1, 2)""".stripMargin
    s"""WITH d AS (
       |  SELECT source, doc_id,
       |    CASE WHEN trim(text) = '' THEN 0
       |      ELSE len(regexp_split_to_array(trim(text), '\\s+')) END
       |      AS n_tok
       |  FROM documents)
       |${arm("doc_id", "arrival")}
       |UNION ALL
       |${arm("n_tok, doc_id", "length_sorted")}
       |ORDER BY strategy""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q215 — time-weighted average (exposure metering): each event's
  // value is weighted by how long it remained the user's CURRENT
  // value (lead(ts) − ts, in whole seconds); the per-user TWA is the
  // duration integral ÷ total covered time — the metric metering and
  // billing pipelines compute, where a plain AVG over-weights bursts.
  // The last event of each user carries no duration and is excluded,
  // as is any zero-second interval.
  //
  // Scale shape: one window pass partitioned by user (width = one
  // user's events), one groupBy; durations are scaled to seconds at
  // the projection so v·Δt stays far inside int64 at corpus spans.
  // ---------------------------------------------------------------------
  def q215_time_weighted_avg(spark: SparkSession, dir: String)
      : DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"),
        floor(col("value") * 100 + 0.5).cast("long").as("v"))
      .withColumn("dt",
        expr("(lead(ts) over (partition by user_id " +
          "order by ts, event_id) - ts) div 1000000000"))
      .filter(col("dt").isNotNull && col("dt") > 0)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_intervals"),
        sum(col("dt")).as("covered_s"),
        expr("sum(v * dt) div sum(dt)").as("twa_cents"))
      .orderBy(col("twa_cents").desc, col("user_id"))
      .limit(20)
  }

  val q215_sql: String =
    """WITH e AS (
      |  SELECT user_id, epoch_ns(ts) AS tns, event_id,
      |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
      |  FROM events),
      |d AS (
      |  SELECT user_id, v,
      |    (LEAD(tns) OVER (PARTITION BY user_id ORDER BY tns, event_id)
      |      - tns) // 1000000000 AS dt
      |  FROM e)
      |SELECT user_id, COUNT(*) AS n_intervals,
      |  CAST(SUM(dt) AS BIGINT) AS covered_s,
      |  CAST(SUM(v * dt) AS BIGINT) // CAST(SUM(dt) AS BIGINT)
      |    AS twa_cents
      |FROM d WHERE dt IS NOT NULL AND dt > 0
      |GROUP BY user_id
      |ORDER BY twa_cents DESC, user_id
      |LIMIT 20""".stripMargin

  // ---------------------------------------------------------------------
  // q216 — Mann–Whitney U / AUC (rank-sum classifier evaluation):
  // does event value separate purchases from the rest? AUC is
  // computed EXACTLY in integers via doubled midranks (each value's
  // doubled rank is 2·count-below + ties + 1, so tie-averaging never
  // leaves ℤ): auc_ppm = (ΣR₂(pos) − n₁(n₁+1)) · 500000 div (n₁·n₀).
  // The scalable AUC — no per-row sort ever reaches the driver.
  //
  // Scale shape: the corpus reduces to per-(value, class) counts
  // (one groupBy); ranks ride the q76/q114 bucketed-CDF shape —
  // coarse-bucket offsets plus a PARTITIONED exclusive within-bucket
  // window — so no single task sorts the whole value domain.
  // ---------------------------------------------------------------------
  def q216_auc_mannwhitney(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(
        (col("event_type") === "purchase").cast("int").as("pos"),
        floor(col("value") * 100 + 0.5).cast("long").as("v"))
    val counts = ev.groupBy(col("v"))
      .agg(sum(col("pos")).cast("long").as("p"),
        (count(lit(1)) - sum(col("pos"))).cast("long").as("q"))
      .withColumn("grp", expr("v div 4096"))
      .localCheckpoint(eager = true) // bucket totals + the rank probe
    val grpBefore = graft.pipeline.Ranks.prefixOffsets(
      counts.groupBy(col("grp"))
        .agg(sum(col("p") + col("q")).as("gcnt")),
      "grp", Seq("gcnt" -> "before"))
    val w = Window.partitionBy(col("grp")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    counts.join(broadcast(grpBefore), Seq("grp"))
      .withColumn("below", col("before") +
        coalesce(sum(col("p") + col("q")).over(w), lit(0L)))
      // ΣR₂ over positives at this value: p · (2·below + ties + 1).
      // r2_sum grows ~0.4·N², so the sum and the final ratio are
      // promoted to DECIMAL(38) (HUGEINT on the oracle side) — int64
      // would overflow near 10⁷ events (the q208 promotion pattern)
      .select(col("p"), col("q"),
        ((col("p") * (col("below") * 2 + col("p") + col("q") + 1))
          .cast("decimal(38,0)")).as("r2"))
      .agg(sum(col("p")).as("n_pos"), sum(col("q")).as("n_neg"),
        sum(col("r2")).as("r2_sum"))
      .select(col("n_pos"), col("n_neg"),
        expr("cast((r2_sum - cast(n_pos as decimal(38,0)) " +
          "* (n_pos + 1)) * 500000 " +
          "div (cast(n_pos as decimal(38,0)) * n_neg) as bigint)")
          .as("auc_ppm"))
  }

  val q216_sql: String =
    """WITH ev AS (
      |  SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
      |    AS pos,
      |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
      |  FROM events),
      |cnt AS (
      |  SELECT v, CAST(SUM(pos) AS BIGINT) AS p,
      |    CAST(COUNT(*) - SUM(pos) AS BIGINT) AS q
      |  FROM ev GROUP BY 1),
      |rk AS (
      |  SELECT p, q,
      |    COALESCE(CAST(SUM(p + q) OVER (ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |      AS BIGINT), 0) AS below
      |  FROM cnt),
      |s AS (
      |  SELECT CAST(SUM(p) AS BIGINT) AS n_pos,
      |    CAST(SUM(q) AS BIGINT) AS n_neg,
      |    CAST(SUM(p::HUGEINT * (below * 2 + p + q + 1)) AS HUGEINT)
      |      AS r2_sum
      |  FROM rk)
      |SELECT n_pos, n_neg,
      |  CAST((r2_sum - n_pos::HUGEINT * (n_pos + 1)) * 500000
      |    // (n_pos::HUGEINT * n_neg) AS BIGINT) AS auc_ppm
      |FROM s""".stripMargin

  // -------------------------------------------------------------------
  // q291 — WordPiece greedy tokenization (Wu et al. 2016 §4.1 — the
  // BERT inference rule): derive a bounded subword vocabulary from the
  // corpus (every single character, plus the top-48 weighted character
  // 2–4-grams), then tokenize every distinct word by greedy longest
  // match and report the corpus-weighted piece usage — the exact
  // "what will the model see" count that q147's BPE-ish regex only
  // estimates. Scale shape: tokenize the DISTINCT-word table (Zipf —
  // types ≪ tokens) with the vocabulary broadcast; corpus weights
  // re-attach by one join. The oracle unrolls the same greedy walk as
  // 12 materialized CTE steps (words are capped at 12 chars on both
  // sides), picking the longest matching piece per (word, position) —
  // no window in the recursive position, no ties (equal-length match
  // ⇒ identical string).
  // -------------------------------------------------------------------
  private val WpMaxWordLen = 12
  private val WpMaxPieceLen = 4
  private val WpMultiVocab = 48

  def q291_wordpiece(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val wd = Tables.documents(spark, dir)
      .select(explode(TextAnalysis.tokens(col("text"))).as("word"))
      .filter(length(col("word")) <= WpMaxWordLen)
      .groupBy(col("word")).agg(count(lit(1)).as("wcount"))
      .localCheckpoint(eager = true) // vocab derivation AND weights
    val subs = wd
      .withColumn("i",
        explode(sequence(lit(1), length(col("word")))))
      .withColumn("l",
        explode(sequence(lit(1), lit(WpMaxPieceLen))))
      .filter(col("i") + col("l") - 1 <= length(col("word")))
      .select(expr("substring(word, i, l)").as("piece"), col("wcount"))
      .groupBy(col("piece")).agg(sum(col("wcount")).as("w"))
      .localCheckpoint(eager = true) // singles AND multis consumers
    val singles = subs.filter(length(col("piece")) === 1)
      .select(col("piece")).as[String].collect() // alphabet-bounded
    val multis = subs.filter(length(col("piece")) >= 2)
      .orderBy(col("w").desc, col("piece")).limit(WpMultiVocab)
      .select(col("piece")).as[String].collect() // 48 rows
    graft.pipeline.WordPiece
      .tokenizePieces(wd, "word", (singles ++ multis).toSeq,
        WpMaxPieceLen)
      .join(wd, Seq("word"))
      .groupBy(col("piece"))
      .agg(sum(col("n_uses") * col("wcount")).as("n_uses"),
        count(lit(1)).as("n_words"))
      .withColumn("piece_len", length(col("piece")).cast("long"))
      .orderBy(col("n_uses").desc, col("piece"))
  }

  val q291_sql: String = {
    val steps = (1 to WpMaxWordLen).map { r =>
      s"""s$r AS MATERIALIZED (
         |  SELECT word, pos + plen AS pos, piece FROM (
         |    SELECT w.word, w.pos, v.piece,
         |      CAST(length(v.piece) AS BIGINT) AS plen,
         |      ROW_NUMBER() OVER (PARTITION BY w.word, w.pos
         |        ORDER BY length(v.piece) DESC) AS rn
         |    FROM s${r - 1} w JOIN vocab v
         |      ON w.pos <= length(w.word)
         |     AND substr(w.word, CAST(w.pos AS INTEGER),
         |           length(v.piece)) = v.piece)
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    val stepUnion = (1 to WpMaxWordLen)
      .map(r => s"SELECT word, piece FROM s$r").mkString(" UNION ALL ")
    s"""WITH wd AS MATERIALIZED (
       |  SELECT tok AS word, COUNT(*) AS wcount FROM (
       |    SELECT unnest(regexp_split_to_array(trim(text), '\\s+'))
       |      AS tok
       |    FROM documents WHERE trim(text) <> '')
       |  WHERE length(tok) <= $WpMaxWordLen GROUP BY 1),
       |subs AS (
       |  SELECT substr(word, CAST(i AS INTEGER), CAST(l AS INTEGER))
       |    AS piece, SUM(wcount) AS w
       |  FROM wd,
       |    unnest(generate_series(1, length(word))) s(i),
       |    unnest(generate_series(1, $WpMaxPieceLen)) u(l)
       |  WHERE i + l - 1 <= length(word) GROUP BY 1),
       |vocab AS MATERIALIZED (
       |  SELECT piece FROM subs WHERE length(piece) = 1
       |  UNION
       |  SELECT piece FROM (
       |    SELECT piece FROM subs WHERE length(piece) >= 2
       |    ORDER BY w DESC, piece LIMIT $WpMultiVocab)),
       |s0 AS (SELECT word, CAST(1 AS BIGINT) AS pos, '' AS piece
       |  FROM wd),
       |$steps,
       |steps AS ($stepUnion)
       |SELECT piece, CAST(SUM(wcount) AS BIGINT) AS n_uses,
       |  CAST(COUNT(DISTINCT word) AS BIGINT) AS n_words,
       |  CAST(length(piece) AS BIGINT) AS piece_len
       |FROM steps JOIN wd USING (word)
       |GROUP BY piece ORDER BY n_uses DESC, piece""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q304 — CART split finder by exact weighted Gini (Breiman et al.
  // 1984), the inner loop of every distributed decision-tree/GBDT
  // learner (Spark MLlib, XGBoost hist mode): candidate thresholds are
  // the $20k price-band boundaries, per-side class counts come from
  // ONE hash agg to the ~25-band histogram plus a band-ordered prefix
  // sum (vocabulary-sized — the calendar/domain-bounded window
  // discipline), and the split impurity is exact integer ppm:
  // G(t)·10⁶ = Σ_side (n_s² − pos_s² − neg_s²)·10⁶ div (n·n_s) in
  // DECIMAL(38)/HUGEINT, with the parent impurity and the gain
  // alongside. Target = order status 'F', feature = total price.
  // Histogram-mode split finding is exactly what scales to 100 TB:
  // the corpus is touched once, candidates are domain-sized.
  // ---------------------------------------------------------------------
  private val GiniBand = 2000000L // $20k in cents

  def q304_gini_split(spark: SparkSession, dir: String): DataFrame = {
    val rows = Tables.orders(spark, dir).select(
      expr(s"cast(floor(o_totalprice * 100) as bigint) div $GiniBand")
        .as("b"),
      when(col("o_orderstatus") === "F", 1L).otherwise(0L).as("y"))
    val hist = rows.groupBy(col("b"))
      .agg(count(lit(1)).as("nb"), sum(col("y")).as("posb"))
    val wP = Window.orderBy(col("b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val tot = hist.agg(sum(col("nb")).as("n"), sum(col("posb")).as("pos"))
    hist
      .withColumn("n_left", coalesce(sum(col("nb")).over(wP), lit(0L)))
      .withColumn("pos_left",
        coalesce(sum(col("posb")).over(wP), lit(0L)))
      .crossJoin(broadcast(tot))
      .filter(col("n_left") > 0 && col("n_left") < col("n"))
      .withColumn("threshold", col("b") * GiniBand)
      .withColumn("n_right", col("n") - col("n_left"))
      .withColumn("pos_right", col("pos") - col("pos_left"))
      .withColumn("split_gini_ppm", expr(
        "cast((cast(n_left as decimal(38,0)) * n_left - " +
          "cast(pos_left as decimal(38,0)) * pos_left - " +
          "cast(n_left - pos_left as decimal(38,0)) * (n_left - pos_left)" +
          ") * 1000000 div (cast(n as decimal(38,0)) * n_left) as bigint)" +
          " + cast((cast(n_right as decimal(38,0)) * n_right - " +
          "cast(pos_right as decimal(38,0)) * pos_right - " +
          "cast(n_right - pos_right as decimal(38,0)) * " +
          "(n_right - pos_right)) * 1000000 div " +
          "(cast(n as decimal(38,0)) * n_right) as bigint)"))
      .withColumn("parent_gini_ppm", expr(
        "cast((cast(n as decimal(38,0)) * n - " +
          "cast(pos as decimal(38,0)) * pos - " +
          "cast(n - pos as decimal(38,0)) * (n - pos)) * 1000000 div " +
          "(cast(n as decimal(38,0)) * n) as bigint)"))
      .withColumn("gain_ppm",
        col("parent_gini_ppm") - col("split_gini_ppm"))
      .select(col("threshold"), col("n_left"), col("pos_left"),
        col("split_gini_ppm"), col("parent_gini_ppm"), col("gain_ppm"))
      .orderBy(col("threshold"))
  }

  val q304_sql: String =
    s"""WITH r AS (
       |  SELECT CAST(floor(o_totalprice * 100) AS BIGINT) // $GiniBand
       |      AS b,
       |    CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
       |  FROM orders),
       |hist AS (
       |  SELECT b, COUNT(*) AS nb, SUM(y) AS posb FROM r GROUP BY 1),
       |tot AS (SELECT SUM(nb) AS n, SUM(posb) AS pos FROM hist),
       |pre AS (
       |  SELECT b,
       |    COALESCE(SUM(nb) OVER (ORDER BY b ROWS BETWEEN UNBOUNDED
       |      PRECEDING AND 1 PRECEDING), 0) AS n_left,
       |    COALESCE(SUM(posb) OVER (ORDER BY b ROWS BETWEEN UNBOUNDED
       |      PRECEDING AND 1 PRECEDING), 0) AS pos_left
       |  FROM hist),
       |c AS (
       |  SELECT b * $GiniBand AS threshold,
       |    CAST(n_left AS HUGEINT) AS nl, CAST(pos_left AS HUGEINT)
       |      AS pl,
       |    CAST(n - n_left AS HUGEINT) AS nr,
       |    CAST(pos - pos_left AS HUGEINT) AS pr,
       |    CAST(n AS HUGEINT) AS n, CAST(pos AS HUGEINT) AS pos
       |  FROM pre, tot WHERE n_left > 0 AND n_left < n)
       |SELECT CAST(threshold AS BIGINT) AS threshold,
       |  CAST(nl AS BIGINT) AS n_left, CAST(pl AS BIGINT) AS pos_left,
       |  CAST((nl * nl - pl * pl - (nl - pl) * (nl - pl)) * 1000000
       |      // (n * nl)
       |    + (nr * nr - pr * pr - (nr - pr) * (nr - pr)) * 1000000
       |      // (n * nr) AS BIGINT) AS split_gini_ppm,
       |  CAST((n * n - pos * pos - (n - pos) * (n - pos)) * 1000000
       |    // (n * n) AS BIGINT) AS parent_gini_ppm,
       |  CAST((n * n - pos * pos - (n - pos) * (n - pos)) * 1000000
       |      // (n * n)
       |    - ((nl * nl - pl * pl - (nl - pl) * (nl - pl)) * 1000000
       |      // (n * nl)
       |    + (nr * nr - pr * pr - (nr - pr) * (nr - pr)) * 1000000
       |      // (n * nr)) AS BIGINT) AS gain_ppm
       |FROM c ORDER BY threshold""".stripMargin

  // ---------------------------------------------------------------------
  // q305 — Johnson–Lindenstrauss random-projection distortion audit
  // (Achlioptas 2003's ±1 database-friendly projection): project the
  // 64-dim embeddings (quantized to exact integers, floor(x·1000))
  // onto 4 dims with a data-independent ±1 sign matrix (hash60 of
  // (t,i) — 64 entries, identical in both engines), and measure the
  // realized distortion d_proj²/(4·d_orig²) in ppm over the
  // consecutive-id pair sample. E[d_proj²] = 4·d_orig² for ±1
  // entries, so the histogram should center on 10⁶ — the audit that
  // says whether a cheap projected pre-filter is safe for the ANN
  // tier. Scan shape: per-row array fold for the projection, one
  // narrow self-join on vec_id+1, 13-bucket rollup.
  // ---------------------------------------------------------------------
  private val JlDims = 64
  private val JlTarget = 4

  def q305_jl_distortion(spark: SparkSession, dir: String): DataFrame = {
    import graft.pipeline.Sampling
    val signs: IndexedSeq[IndexedSeq[Long]] =
      (0 until JlTarget).map(t => (0 until JlDims).map(i =>
        1L - 2L * (Sampling.hash60Jvm("jl", t.toLong * JlDims + i) % 2)))
    val q = Tables.embeddings(spark, dir).select(col("vec_id"),
      transform(col("embedding"),
        x => floor(x.cast("double") * 1000.0).cast("long")).as("q"))
    val proj = q.select(
      col("vec_id") +: col("q") +:
        (0 until JlTarget).map { t =>
          val sArr = array(signs(t).map(lit(_)): _*)
          aggregate(zip_with(col("q"), sArr, (x, s) => x * s),
            lit(0L), (acc, v) => acc + v).as(s"p$t")
        }: _*)
      .localCheckpoint(eager = true) // both sides of the pair join
    val right = proj.select(
      (col("vec_id") - 1).as("vec_id") +: col("q").as("q2") +:
        (0 until JlTarget).map(t => col(s"p$t").as(s"r$t")): _*)
    proj.join(right, Seq("vec_id"))
      .withColumn("d_orig2",
        aggregate(zip_with(col("q"), col("q2"),
          (a, b) => (a - b) * (a - b)), lit(0L), (acc, v) => acc + v))
      .withColumn("d_proj2",
        (0 until JlTarget).map(t =>
          (col(s"p$t") - col(s"r$t")) * (col(s"p$t") - col(s"r$t")))
          .reduce(_ + _))
      .filter(col("d_orig2") > 0)
      .withColumn("dist_ppm",
        expr(s"d_proj2 * 1000000 div ($JlTarget * d_orig2)"))
      .withColumn("bucket",
        least(expr("dist_ppm div 250000"), lit(12L)))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_pairs"), min(col("dist_ppm")).as("lo"),
        max(col("dist_ppm")).as("hi"))
      .orderBy(col("bucket"))
  }

  val q305_sql: String = {
    import graft.pipeline.Sampling
    val h = Sampling.hash60Sql("jl", s"t * $JlDims + (i - 1)")
    s"""WITH e AS (
       |  SELECT vec_id,
       |    CAST(floor(unnest(embedding) * 1000) AS BIGINT) AS q,
       |    generate_subscripts(embedding, 1) AS i
       |  FROM embeddings),
       |p AS (
       |  SELECT vec_id, t,
       |    SUM((1 - 2 * (($h) % 2)) * q) AS p
       |  FROM e, generate_series(0, ${JlTarget - 1}) s(t)
       |  GROUP BY 1, 2),
       |pw AS (
       |  SELECT vec_id,
       |    ${(0 until JlTarget).map(t =>
             s"SUM(CASE WHEN t = $t THEN p END) AS p$t")
             .mkString(", ")}
       |  FROM p GROUP BY 1),
       |od AS (
       |  SELECT a.vec_id, SUM((a.q - b.q) * (a.q - b.q)) AS d_orig2
       |  FROM e a JOIN e b ON b.vec_id = a.vec_id + 1 AND b.i = a.i
       |  GROUP BY 1),
       |pd AS (
       |  SELECT a.vec_id,
       |    ${(0 until JlTarget).map(t =>
             s"(a.p$t - b.p$t) * (a.p$t - b.p$t)").mkString(" + ")}
       |      AS d_proj2
       |  FROM pw a JOIN pw b ON b.vec_id = a.vec_id + 1),
       |d AS (
       |  SELECT od.vec_id,
       |    d_proj2 * 1000000 // ($JlTarget * d_orig2) AS dist_ppm
       |  FROM od JOIN pd ON od.vec_id = pd.vec_id
       |  WHERE d_orig2 > 0)
       |SELECT CAST(LEAST(dist_ppm // 250000, 12) AS BIGINT) AS bucket,
       |  CAST(COUNT(*) AS BIGINT) AS n_pairs,
       |  CAST(MIN(dist_ppm) AS BIGINT) AS lo,
       |  CAST(MAX(dist_ppm) AS BIGINT) AS hi
       |FROM d GROUP BY 1 ORDER BY bucket""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q316 — exact dimension covariance/correlation of the embedding
  // space (the PCA-prep pass): over the 16-dim MRL prefix (q132's
  // discipline — prefixes are valid embeddings), quantized to exact
  // integers, every (i≤j) pair's raw second moment rides ONE
  // map-side-combinable hash agg of 136 cells — the Gram-matrix shape
  // that scales to any corpus because state is dims², never rows.
  // Correlation in ppm uses the exact integer isqrt (q283) on the
  // centered second moments: r = num/(√dx·√dy), sign-magnitude floors.
  // Output: all 136 pairs with covariance numerator sign and corr_ppm.
  // ---------------------------------------------------------------------
  private val CovDims = 16

  def q316_dim_covariance(spark: SparkSession, dir: String): DataFrame = {
    val q = Tables.embeddings(spark, dir).select(
      transform(col("embedding"),
        x => floor(x.cast("double") * 1000.0).cast("long")).as("q"))
    val cells = q.select(explode(expr(
      s"""flatten(transform(sequence(0, ${CovDims - 1}), i ->
         |  transform(sequence(i, ${CovDims - 1}), j ->
         |    struct(i, j, q[i] as qi, q[j] as qj))))""".stripMargin))
      .as("c"))
      .select(col("c.i"), col("c.j"), col("c.qi"), col("c.qj"))
      .groupBy(col("i"), col("j"))
      .agg(count(lit(1)).as("n"), sum(col("qi")).as("si"),
        sum(col("qj")).as("sj"),
        sum((col("qi") * col("qj")).cast("decimal(38,0)")).as("sij"))
    val diag = cells.filter(col("i") === col("j"))
      .select(col("i").as("d"),
        expr("cast(n as decimal(38,0)) * sij - " +
          "cast(si as decimal(38,0)) * si").as("dvar"))
    val isq = PlannerQueries.isqrtSql("cast(dvar as bigint)")
    val sd = diag.withColumn("sd", expr(isq)).select(col("d"), col("sd"))
    cells
      .join(broadcast(sd.select(col("d").as("i"), col("sd").as("sdi"))),
        Seq("i"))
      .join(broadcast(sd.select(col("d").as("j"), col("sd").as("sdj"))),
        Seq("j"))
      .withColumn("num", expr(
        "cast(n as decimal(38,0)) * sij - " +
          "cast(si as decimal(38,0)) * sj"))
      .withColumn("corr_ppm", expr(
        "case when i = j then cast(1000000 as bigint) else " +
          "cast(sign(num) * (abs(num) * 1000000 div " +
          "(cast(sdi as decimal(38,0)) * sdj)) as bigint) end"))
      .select(col("i").cast("long").as("i"), col("j").cast("long")
        .as("j"), col("n"), col("corr_ppm"))
      .orderBy(col("i"), col("j"))
  }

  val q316_sql: String = {
    val isq = PlannerQueries.isqrtSql("CAST(dvar AS BIGINT)")
    s"""WITH e AS (
       |  SELECT vec_id,
       |    CAST(floor(unnest(embedding) * 1000) AS BIGINT) AS q,
       |    generate_subscripts(embedding, 1) - 1 AS i
       |  FROM embeddings),
       |p AS (SELECT * FROM e WHERE i < $CovDims),
       |cells AS (
       |  SELECT a.i, b.i AS j, COUNT(*) AS n,
       |    SUM(a.q) AS si, SUM(b.q) AS sj,
       |    CAST(SUM(CAST(a.q AS HUGEINT) * b.q) AS HUGEINT) AS sij
       |  FROM p a JOIN p b ON b.vec_id = a.vec_id AND b.i >= a.i
       |  GROUP BY 1, 2),
       |diag AS (
       |  SELECT i AS d,
       |    CAST(n AS HUGEINT) * sij - CAST(si AS HUGEINT) * si AS dvar
       |  FROM cells WHERE i = j),
       |sd AS (SELECT d, $isq AS sd FROM diag)
       |SELECT CAST(c.i AS BIGINT) AS i, CAST(c.j AS BIGINT) AS j,
       |  CAST(n AS BIGINT) AS n,
       |  CASE WHEN c.i = c.j THEN 1000000 ELSE
       |    CAST(sign(CAST(n AS HUGEINT) * sij
       |        - CAST(si AS HUGEINT) * sj)
       |      * (abs(CAST(n AS HUGEINT) * sij - CAST(si AS HUGEINT) * sj)
       |         * 1000000
       |         // (CAST(s1.sd AS HUGEINT) * s2.sd)) AS BIGINT) END
       |    AS corr_ppm
       |FROM cells c
       |JOIN sd s1 ON s1.d = c.i
       |JOIN sd s2 ON s2.d = c.j
       |ORDER BY i, j""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q317 — top principal direction by integer power iteration (the
  // q136 HITS fixed-point discipline applied to the q316 covariance):
  // 8 synchronized matvec rounds over the 16×16 centered second-
  // moment matrix, max-normalized to ppm each round so every engine
  // reproduces the fixed point bit-for-bit (no float norm). The
  // matrix is dims² — matvec is a 256-row join however big the
  // corpus. Output: dimension, eigenvector component in ppm (signed),
  // after 8 rounds.
  // ---------------------------------------------------------------------
  private val PowIters = 8

  def q317_power_iteration(spark: SparkSession, dir: String): DataFrame = {
    val q = Tables.embeddings(spark, dir).select(
      transform(col("embedding"),
        x => floor(x.cast("double") * 1000.0).cast("long")).as("q"))
    val cells = q.select(explode(expr(
      s"""flatten(transform(sequence(0, ${CovDims - 1}), i ->
         |  transform(sequence(0, ${CovDims - 1}), j ->
         |    struct(i, j, q[i] as qi, q[j] as qj))))""".stripMargin))
      .as("c"))
      .select(col("c.i"), col("c.j"), col("c.qi"), col("c.qj"))
      .groupBy(col("i"), col("j"))
      .agg(count(lit(1)).as("n"), sum(col("qi")).as("si"),
        sum(col("qj")).as("sj"),
        sum((col("qi") * col("qj")).cast("decimal(38,0)")).as("sij"))
      .withColumn("m", expr(
        "cast(n as decimal(38,0)) * sij - " +
          "cast(si as decimal(38,0)) * sj"))
      .select(col("i"), col("j"), col("m"))
      .localCheckpoint(eager = true) // 256 rows, 8 matvec rounds
    var v = spark.range(CovDims).select(col("id").cast("int").as("i"),
      lit(1000000L).as("v"))
    for (_ <- 1 to PowIters) {
      // per-round barrier (graft.ops.Iterate): mv is re-joined next
      // round — without it the carried sizeInBytes statistic
      // multiplies round over round. The max rides the barrier job as
      // an observe metric and lands in the projection as a literal of
      // w's type (the HITS normalize shape): no 1-row aggregation job
      // and no broadcast per round.
      val mvObs = cells.join(v.select(col("i").as("j"), col("v")),
          Seq("j"))
        .groupBy(col("i"))
        .agg(sum(expr("m * v")).as("w"))
        .observe("graft_pow_max", max(abs(col("w"))).as("mx"))
      val mv = graft.ops.Iterate.barrier(mvObs)
      val mx = graft.ops.Iterate.observed(mvObs, "graft_pow_max")(
        mv.agg(max(abs(col("w"))).as("mx")).head())
      v = mv
        .withColumn("mx", lit(mx.get(0)).cast(mv.schema("w").dataType))
        .withColumn("v", expr(
          "cast(sign(w) * (abs(w) * 1000000 div mx) as bigint)"))
        .select(col("i"), col("v"))
    }
    v.select(col("i").cast("long").as("dim"), col("v").as("eig_ppm"))
      .orderBy(col("dim"))
  }

  val q317_sql: String = {
    val steps = (1 to PowIters).map { k =>
      s"""mv$k AS MATERIALIZED (
         |  SELECT c.i, SUM(c.m * v.v) AS w
         |  FROM cells c JOIN v${k - 1} v ON v.i = c.j
         |  GROUP BY 1),
         |v$k AS MATERIALIZED (
         |  SELECT i, CAST(sign(w) * (abs(w) * 1000000
         |    // (SELECT MAX(abs(w)) FROM mv$k)) AS BIGINT) AS v
         |  FROM mv$k)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (
       |  SELECT vec_id,
       |    CAST(floor(unnest(embedding) * 1000) AS BIGINT) AS q,
       |    generate_subscripts(embedding, 1) - 1 AS i
       |  FROM embeddings),
       |p AS (SELECT * FROM e WHERE i < $CovDims),
       |cells AS MATERIALIZED (
       |  SELECT a.i, b.i AS j,
       |    CAST(COUNT(*) AS HUGEINT) * SUM(CAST(a.q AS HUGEINT) * b.q)
       |      - CAST(SUM(a.q) AS HUGEINT) * SUM(b.q) AS m
       |  FROM p a JOIN p b ON b.vec_id = a.vec_id
       |  GROUP BY 1, 2),
       |v0 AS (
       |  SELECT g.i, CAST(1000000 AS HUGEINT) AS v
       |  FROM generate_series(0, ${CovDims - 1}) g(i)),
       |$steps
       |SELECT CAST(i AS BIGINT) AS dim, CAST(v AS BIGINT) AS eig_ppm
       |FROM v$PowIters ORDER BY dim""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q324 — epoch-reshuffle decorrelation audit: every training run
  // re-orders the corpus per epoch by a salted hash (the distributed
  // stand-in for Fisher–Yates — sort by hash60("epochE", id) IS a
  // uniform permutation), and this audit measures whether consecutive
  // epochs actually decorrelate: (a) adjacency retention — how many
  // docs keep the SAME successor across two epochs (expect ~0; stuck
  // adjacency means repeated co-occurrence bias in every batch), and
  // (b) mean rank displacement vs the n²/3 random-permutation
  // expectation (disp_ratio_ppm ≈ 10⁶ when well mixed). Global ranks
  // are range-partition + partition-local sort + zipWithIndex (the
  // suffix-array discipline — a distributed sort, never a one-task
  // window); successors come from an equi-join on rank+1. The |Δrank|
  // sum is promoted to DECIMAL(38) before the ×3·10⁶ scale — at 10⁹
  // docs the product overflows int64 two decades before the sum does.
  // ---------------------------------------------------------------------
  def q324_epoch_shuffle_audit(spark: SparkSession, dir: String)
      : DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir).select(col("doc_id"))
    // the SUCCESSOR rides the rank checkpoint (left_outer on rank+1;
    // the epoch's last doc keeps a null successor, which can never
    // equal anything in the adjacency test — exactly the rows the old
    // inner successor join dropped). Round 12: the former separate
    // succ() view re-ran its rank self-join once per consuming pair
    // (ss(0) twice), and each pair then paid TWO doc_id joins (ranks +
    // successors); one wider checkpoint and one join per pair say the
    // same thing (guide §2.4).
    def ranks(e: Int): DataFrame = {
      val r0 = graft.ops.Rank.globalOrdinal(
          docs.withColumn("h", Sampling.hash60(s"epoch$e", col("doc_id"))),
          "r", 32, col("h"), col("doc_id"))
        .select(col("doc_id"), col("r"))
      r0.join(r0.select((col("r") - 1).as("r"),
          col("doc_id").as("succ_doc")), Seq("r"), "left_outer")
        .select(col("doc_id"), col("r"), col("succ_doc"))
        .localCheckpoint(eager = true) // three pair-join consumers
    }
    val rs = (1 to 3).map(ranks)
    val pairs = Seq((0, 1), (1, 2), (0, 2))
    pairs.map { case (a, bIdx) =>
      rs(a).join(
          rs(bIdx).select(col("doc_id"), col("r").as("r2"),
            col("succ_doc").as("succ2")), Seq("doc_id"))
        .agg(count(lit(1)).as("n"),
          sum(abs(col("r") - col("r2")).cast("decimal(38,0)"))
            .as("sd"),
          sum(when(col("succ_doc") === col("succ2"), 1L)
            .otherwise(0L)).as("adj_retained"))
        .select(lit(s"epoch${a + 1}->epoch${bIdx + 1}").as("pair"),
          col("n"),
          coalesce(col("adj_retained"), lit(0L)).as("adj_retained"),
          expr("cast(sd * 3000000 div (cast(n as decimal(38,0)) * n)" +
            " as bigint)").as("disp_ratio_ppm"))
    }.reduce(_ unionByName _)
      .orderBy(col("pair"))
  }

  val q324_sql: String = {
    def h(e: Int) = Sampling.hash60Sql(s"epoch$e", "doc_id")
    val epochs = (1 to 3).map { e =>
      s"""r$e AS (
         |  SELECT doc_id,
         |    ROW_NUMBER() OVER (ORDER BY ${h(e)}, doc_id) AS r
         |  FROM documents),
         |s$e AS (
         |  SELECT a.doc_id, b.doc_id AS succ_doc
         |  FROM r$e a JOIN r$e b ON b.r = a.r + 1)""".stripMargin
    }.mkString(",\n")
    val pairs = Seq((1, 2), (2, 3), (1, 3)).map { case (a, b) =>
      s"""SELECT 'epoch$a->epoch$b' AS pair,
         |  CAST((SELECT COUNT(*) FROM r$a) AS BIGINT) AS n,
         |  CAST(COALESCE((SELECT COUNT(*) FROM s$a JOIN s$b
         |    ON s$a.doc_id = s$b.doc_id
         |    AND s$a.succ_doc = s$b.succ_doc), 0) AS BIGINT)
         |    AS adj_retained,
         |  CAST((SELECT CAST(SUM(ABS(x.r - y.r)) AS HUGEINT) * 3000000
         |      // (CAST(COUNT(*) AS HUGEINT) * COUNT(*))
         |    FROM r$a x JOIN r$b y ON x.doc_id = y.doc_id) AS BIGINT)
         |    AS disp_ratio_ppm""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"WITH $epochs\n$pairs\nORDER BY pair"
  }

  // ---------------------------------------------------------------------
  // q325 — group-aware k-fold split + leakage audit: the split
  // discipline behind every honest eval — near-identical documents
  // must land in the SAME fold, or the held-out fold is contaminated
  // by train-fold twins. Clusters are leading-8-token fingerprints
  // (the template/boilerplate grouping from the dup-source matrix);
  // the group split folds by hash60 of the CLUSTER key, the naive
  // counterfactual folds by doc id. Per fold: docs, clusters, and the
  // number of multi-doc clusters that SPAN folds under each policy —
  // measured, not asserted, for both (group ≡ 0 by construction; the
  // naive column is the leak you ship if you split by row). Scale
  // shape: one fingerprint groupBy + two ≤(clusters × folds) aggs —
  // nothing all-pairs.
  // ---------------------------------------------------------------------
  private val KFolds = 5L

  def q325_group_kfold_leakage(spark: SparkSession, dir: String)
      : DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"),
        md5(concat_ws(" ", slice(
          TextAnalysis.tokens(lower(col("text"))), 1, 8))).as("fp"))
      .withColumn("fold_g",
        pmod(Sampling.hash60("fold", col("fp")), lit(KFolds)))
      .withColumn("fold_d",
        pmod(Sampling.hash60("fold", col("doc_id")), lit(KFolds)))
      .localCheckpoint(eager = true) // fold sizes + both leak audits
    val sizes = docs.groupBy(col("fold_g").as("fold"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("fp")).as("n_clusters"))
    // a cluster leaks under a policy iff it spans ≥ 2 folds; charge it
    // to EVERY fold it touches (each fold's eval set is contaminated)
    def leaks(foldCol: String, out: String): DataFrame = {
      val perCl = docs.groupBy(col("fp"))
        .agg(countDistinct(col(foldCol)).as("nf"))
      docs.select(col("fp"), col(foldCol).as("fold")).distinct()
        .join(perCl.filter(col("nf") >= 2), Seq("fp"))
        .groupBy(col("fold"))
        .agg(count(lit(1)).as(out))
    }
    sizes
      .join(leaks("fold_g", "leak_group"), Seq("fold"), "left_outer")
      .join(leaks("fold_d", "leak_naive"), Seq("fold"), "left_outer")
      .na.fill(0L, Seq("leak_group", "leak_naive"))
      .orderBy(col("fold"))
  }

  val q325_sql: String = {
    val hFp = Sampling.hash60Sql("fold", "fp")
    val hId = Sampling.hash60Sql("fold", "doc_id")
    s"""WITH d AS (
       |  SELECT doc_id, md5(array_to_string(
       |    (regexp_split_to_array(trim(lower(text)), '\\s+'))[1:8],
       |    ' ')) AS fp
       |  FROM documents),
       |f AS (
       |  SELECT doc_id, fp,
       |    ((${hFp} % $KFolds) + $KFolds) % $KFolds AS fold_g,
       |    ((${hId} % $KFolds) + $KFolds) % $KFolds AS fold_d
       |  FROM d),
       |sizes AS (
       |  SELECT fold_g AS fold, COUNT(*) AS n_docs,
       |    COUNT(DISTINCT fp) AS n_clusters
       |  FROM f GROUP BY 1),
       |lg AS (
       |  SELECT fold, COUNT(*) AS leak_group FROM (
       |    SELECT DISTINCT fp, fold_g AS fold FROM f
       |    WHERE fp IN (SELECT fp FROM f GROUP BY fp
       |      HAVING COUNT(DISTINCT fold_g) >= 2))
       |  GROUP BY 1),
       |ld AS (
       |  SELECT fold, COUNT(*) AS leak_naive FROM (
       |    SELECT DISTINCT fp, fold_d AS fold FROM f
       |    WHERE fp IN (SELECT fp FROM f GROUP BY fp
       |      HAVING COUNT(DISTINCT fold_d) >= 2))
       |  GROUP BY 1)
       |SELECT CAST(sizes.fold AS BIGINT) AS fold,
       |  CAST(n_docs AS BIGINT) AS n_docs,
       |  CAST(n_clusters AS BIGINT) AS n_clusters,
       |  CAST(COALESCE(leak_group, 0) AS BIGINT) AS leak_group,
       |  CAST(COALESCE(leak_naive, 0) AS BIGINT) AS leak_naive
       |FROM sizes
       |LEFT JOIN lg ON lg.fold = sizes.fold
       |LEFT JOIN ld ON ld.fold = sizes.fold
       |ORDER BY fold""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q337 — k-means coreset via sensitivity sampling (Bachem, Lucic &
  // Krause 2017): the scale path for clustering 10⁹ vectors — sample
  // points with probability ∝ squared distance to a seed solution,
  // weight by 1/p (Horvitz–Thompson), and cluster the tiny weighted
  // coreset instead of the corpus. Deterministic end to end: 8 seed
  // centers are the hash60-smallest vectors (seeding by salted hash
  // IS a uniform draw), distances are exact integers over the
  // 8-dim milli-unit grid (floor(e·1000) — the q86 quantization
  // discipline), membership is hash60 mod 10⁶ < p_ppm, and the audit
  // compares each center's TRUE assignment mass against the
  // coreset's HT estimate. Scale shape: one broadcast 8-seed cross
  // join (8× scan, never pairs²), two hash aggs, one broadcast
  // total.
  // ---------------------------------------------------------------------
  private val CsSeeds = 8
  private val CsBudget = 256L

  def q337_coreset_sample(spark: SparkSession, dir: String)
      : DataFrame = {
    val dims = 0 until 8
    val vecs = Tables.embeddings(spark, dir)
      .select(col("vec_id") +: dims.map(d =>
        // cast float→double BEFORE the ×1000 so both engines run the
        // same IEEE double multiply (float-lane arithmetic differs)
        expr(s"cast(floor(cast(element_at(embedding, ${d + 1})" +
          s" as double) * 1000) as bigint)").as(s"v$d")): _*)
      .localCheckpoint(eager = true) // seed cut + distance consumers
    val seeds = vecs
      .withColumn("h", Sampling.hash60("coreset", col("vec_id")))
      .orderBy(col("h"), col("vec_id")).limit(CsSeeds)
      .select(col("vec_id").as("cid") +: dims.map(d =>
        col(s"v$d").as(s"c$d")): _*)
    val d2 = dims.map(d => s"(v$d - c$d) * (v$d - c$d)")
      .mkString(" + ")
    val assigned = vecs.crossJoin(broadcast(seeds))
      .withColumn("d2", expr(d2))
      .groupBy(col("vec_id"))
      .agg(min(struct(col("d2"), col("cid"))).as("best"))
      .select(col("vec_id"), col("best.cid").as("cid"),
        col("best.d2").as("d2"))
      .withColumn("w", col("d2") + 1)
      .localCheckpoint(eager = true) // total-mass + sampling consumers
    val tot = assigned.agg(sum(col("w")).as("sw"))
    val sampled = assigned.crossJoin(broadcast(tot))
      .withColumn("p_ppm", least(lit(1000000L),
        expr(s"cast(cast(w as decimal(38,0)) * 1000000 * $CsBudget" +
          " div sw as bigint)")))
      // p = 0 points stay in the audit groups; they just can't be
      // drawn (their HT contribution is guarded out below)
      .withColumn("inv_p", expr(
        "CASE WHEN p_ppm > 0 THEN 1000000000000 div p_ppm" +
          " ELSE 0 END"))
      .withColumn("keep", col("p_ppm") > 0 &&
        pmod(Sampling.hash60("cs", col("vec_id")), lit(1000000L))
          < col("p_ppm"))
    sampled.groupBy(col("cid"))
      .agg(count(lit(1)).as("n_assigned"),
        sum(col("d2")).as("sum_d2"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_sampled"),
        sum(when(col("keep"), col("inv_p")).otherwise(0L))
          .as("est_n_x1e6"))
      .orderBy(col("cid"))
  }

  val q337_sql: String = {
    val dims = 0 until 8
    val hSeed = Sampling.hash60Sql("coreset", "vec_id")
    val hKeep = Sampling.hash60Sql("cs", "vec_id")
    val vCols = dims.map(d =>
      s"CAST(floor(dv[${d + 1}] * 1000) AS BIGINT) AS v$d")
      .mkString(", ")
    val d2 = dims.map(d => s"(v.v$d - s.v$d) * (v.v$d - s.v$d)")
      .mkString(" + ")
    s"""WITH raw AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS dv
       |  FROM embeddings),
       |vecs AS (SELECT vec_id, $vCols FROM raw),
       |seeds AS (
       |  SELECT * FROM (
       |    SELECT vecs.*, ROW_NUMBER() OVER (ORDER BY $hSeed,
       |      vec_id) AS rn
       |    FROM vecs) WHERE rn <= $CsSeeds),
       |asg AS (
       |  SELECT vec_id, cid, d2 FROM (
       |    SELECT v.vec_id, s.vec_id AS cid, $d2 AS d2,
       |      ROW_NUMBER() OVER (PARTITION BY v.vec_id
       |        ORDER BY $d2, s.vec_id) AS rn
       |    FROM vecs v CROSS JOIN seeds s) WHERE rn = 1),
       |ww AS (SELECT vec_id, cid, d2, d2 + 1 AS w FROM asg),
       |tot AS (SELECT SUM(w) AS sw FROM ww),
       |smp AS (
       |  SELECT vec_id, cid, d2,
       |    LEAST(1000000, CAST(CAST(w AS HUGEINT) * 1000000
       |      * $CsBudget // sw AS BIGINT)) AS p_ppm
       |  FROM ww CROSS JOIN tot),
       |k AS (
       |  SELECT *,
       |    CASE WHEN p_ppm > 0 THEN 1000000000000 // p_ppm
       |      ELSE 0 END AS inv_p,
       |    p_ppm > 0 AND ($hKeep % 1000000) < p_ppm AS keep
       |  FROM smp)
       |SELECT CAST(cid AS BIGINT) AS cid,
       |  CAST(COUNT(*) AS BIGINT) AS n_assigned,
       |  CAST(SUM(d2) AS BIGINT) AS sum_d2,
       |  CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_sampled,
       |  CAST(SUM(CASE WHEN keep THEN inv_p ELSE 0 END) AS BIGINT)
       |    AS est_n_x1e6
       |FROM k GROUP BY cid ORDER BY cid""".stripMargin
  }

  val registry: graft.SparkEntry.Registry = Seq(
    ("q337_coreset_sample", q337_coreset_sample _, q337_sql),
    ("q325_group_kfold_leakage", q325_group_kfold_leakage _, q325_sql),
    ("q324_epoch_shuffle_audit", q324_epoch_shuffle_audit _, q324_sql),
    ("q316_dim_covariance", q316_dim_covariance _, q316_sql),
    ("q317_power_iteration", q317_power_iteration _, q317_sql),
    ("q304_gini_split", q304_gini_split _, q304_sql),
    ("q305_jl_distortion", q305_jl_distortion _, q305_sql),
    ("q214_length_batching", q214_length_batching _, q214_sql),
    ("q215_time_weighted_avg", q215_time_weighted_avg _, q215_sql),
    ("q216_auc_mannwhitney", q216_auc_mannwhitney _, q216_sql),
    ("q291_wordpiece", q291_wordpiece _, q291_sql))
}
