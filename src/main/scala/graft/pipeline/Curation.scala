package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The end-to-end curation composition — the operators of q57–q67
  * chained the way a production training-data build runs them:
  *
  *   score → filter (lang, quality, length) → dedup (best-quality
  *   keeper per fingerprint) → deterministic split assignment
  *
  * Everything is a pure function of row content + id hashes, so the
  * whole build is reproducible: re-running over the same corpus yields
  * byte-identical train/val/test sets on any cluster shape. One
  * corpus scan plus the fingerprint-window shuffle.
  */
object Curation {

  /** Tunables with the q59 gate defaults. */
  case class Config(minQualityPpm: Long = 500000L, minChars: Long = 200L,
      prefixTokens: Int = 10, trainPct: Int = 80, valPct: Int = 10)

  /** Returns the curated corpus: input columns plus `predicted` (lang),
    * `q_ppm`, and `split`, containing only rows that pass every filter
    * and win their prefix-fingerprint dup group on quality (among
    * filter survivors — losers of a dup group don't block its keeper). */
  def curate(docs: DataFrame, idCol: String, textCol: String,
      nCharsCol: String, cfg: Config = Config()): DataFrame = {
    val scored = TextAnalysis.langIdDf(docs, textCol)
      .withColumn("q_ppm",
        TextAnalysis.qualityScorePpm(textCol, nCharsCol))
      .withColumn("_fp", md5(concat_ws(" ",
        slice(TextAnalysis.tokens(col(textCol)), 1, cfg.prefixTokens))))
    val filtersOk = trim(col(textCol)) =!= "" &&
      col("predicted") =!= "und" &&
      col("q_ppm") >= cfg.minQualityPpm && col(nCharsCol) >= cfg.minChars
    // rank only filter survivors inside each dup group: a filtered-out
    // doc must not shadow a valid keeper
    val w = Window.partitionBy(col("_fp"))
      .orderBy(when(filtersOk, 0).otherwise(1),
        col("q_ppm").desc, col(idCol))
    Sampling.splitAssign(
      scored.withColumn("_pass", filtersOk && row_number().over(w) === 1)
        .filter(col("_pass")).drop("_pass", "_fp"),
      idCol, cfg.trainPct, cfg.valPct)
  }

  /** Snapshot diff — the change-detection pass that drives incremental
    * rebuilds: given two corpus snapshots keyed by `idCol` with a
    * content fingerprint `fpCol`, classify every id as `added`
    * (new-only), `removed` (old-only), `changed` (both, fingerprints
    * differ) or `unchanged`. Downstream stages then recompute only the
    * added/changed partitions instead of the whole 100 TB corpus — the
    * batch analogue of the reference's designed-but-unbuilt
    * tree-sitter incremental path (`research.md:280-323`).
    *
    * One full outer join hash-partitioned on the id; both fingerprint
    * columns are tiny (the scan reads id + fingerprint only, so column
    * pruning keeps the diff cheap however wide the corpus rows are).
    */
  def snapshotDiff(oldSnap: DataFrame, newSnap: DataFrame,
      idCol: String, fpCol: String): DataFrame = {
    // presence is tracked with explicit marker columns — inferring it
    // from fingerprint nullness would misclassify rows whose
    // fingerprint is itself null (e.g. md5 of a null text column)
    val o = oldSnap.select(col(idCol).as("id"), col(fpCol).as("_fp_old"),
      lit(1).as("_in_old"))
    val n = newSnap.select(col(idCol).as("id"), col(fpCol).as("_fp_new"),
      lit(1).as("_in_new"))
    o.join(n, Seq("id"), "full_outer")
      .select(col("id").as(idCol),
        when(col("_in_old").isNull, "added")
          .when(col("_in_new").isNull, "removed")
          .when(!(col("_fp_old") <=> col("_fp_new")), "changed")
          .otherwise("unchanged").as("status"))
  }

  /** Export-shard manifest: deterministic shard assignment (id hash mod
    * `numShards`) with per-shard integrity checksums — the table a
    * reproducible training-data export publishes next to its files so
    * any consumer (or re-run) can verify a shard without reading the
    * corpus. The checksum must be ORDER-INDEPENDENT (writers emit rows
    * in partition-arrival order): per shard we sum 60-bit content
    * hashes (in decimal(38,0) — a long sum of 2⁶⁰-scale values wraps
    * already at hundreds of rows, and Spark wraps while other engines
    * promote, so the wrap would diverge) and XOR them, both invariant
    * under row permutation and exactly portable. A re-run that
    * produces the same manifest row set proves byte-level shard
    * equivalence without comparing files.
    *
    * One projection + one groupBy on the shard key (≤ numShards
    * groups). Returns (shard, n_docs, tot_chars, sum_fp, xor_fp),
    * ordered by shard. */
  def shardManifest(docs: DataFrame, idCol: String, textCol: String,
      numShards: Int, salt: String = "shard"): DataFrame = {
    require(numShards >= 1, s"numShards must be positive ($numShards)")
    val fp60 = conv(substring(md5(col(textCol)), 1, 15), 16, 10)
      .cast("long")
    docs
      .select((Sampling.hash60(salt, col(idCol)) % numShards).as("shard"),
        length(col(textCol)).cast("long").as("n_chars"), fp60.as("fp"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("tot_chars"),
        // decimal sum rendered as STRING: DuckDB's pandas bridge turns
        // DECIMAL(38,0) into float64 (19 significant digits do not fit),
        // so both engines publish the exact digits as text
        sum(col("fp").cast("decimal(38,0)")).cast("string").as("sum_fp"),
        // bit_xor aggregate: order-independent by algebra
        expr("cast(bit_xor(fp) as bigint)").as("xor_fp"))
      .orderBy(col("shard"))
  }
}
