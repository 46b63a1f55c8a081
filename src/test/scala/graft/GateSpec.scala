package graft

/** Contract guard over the driver gate: every registered query must
  * execute at sf0.001 with sane column names, and the oracle map must
  * stay aligned with the query map. Catches the classic gate breakers
  * (an unaliased aggregate column, a query added without its oracle)
  * before the driver does.
  */
class GateSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  test("queries and oracles are key-aligned (every query oracled)") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert((o -- q).isEmpty, s"oracles without a query: ${o -- q}")
    assert((q -- o).isEmpty, s"queries missing an oracle: ${q -- o}")
  }

  /** Queries REVIEWED as safe global-window users: the window input is
    * LIMIT-bounded (a handful of rows) before the window runs, so the
    * single-partition exchange moves nothing. Any new name appearing
    * here must be reviewed the same way — an unbounded global window
    * is the classic 100 TB single-reducer trap. */
  private val boundedGlobalWindowOk: Set[String] = Set(
    "q177_boolean_retrieval", // row_number over a LIMIT 6 frame
    "q176_growth_accounting", // lag over the O(days) calendar frame
    "q202_tcloseness", // global cumsum over the 10-bucket spine
    "q203_kmv_intersection", // union-minima window over ≤ 2k sketch rows
    "q233_gap_interpolation", // carry windows over the O(calendar) spine
    // round-9 review (VERDICT r8 "What's wrong" #1b) — each window's
    // input is hard-bounded BEFORE the window runs:
    "q278_threshold_topk", // rk over twoPhaseKMin top-1024 lists; kth
    // over seenD ≤ 3·1024 rows × 4 depths (SelectQueries.scala TA notes)
    "q292_ams_f2", // median rank over the 16 fixed AMS estimator rows
    "q304_gini_split", // prefix sums over the ≤ 25-row $20k price-band
    // histogram (hash agg runs first; thresholds are domain-sized)
    "q338_rebalance_plan") // staircase prefix sums over the 32-row
    // shard table (hash agg to RebShards rows precedes the window)

  test("every gate query executes at sf0.001 with clean column names " +
      "and no unbounded global window") {
    val bad = scala.collection.mutable.ArrayBuffer.empty[String]
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        val cols = df.columns
        // driver compare sorts columns by NAME — an unaliased
        // aggregate like `sum(l_quantity)` breaks the hash match
        cols.filter(c => c.exists(ch => "() ".contains(ch))).foreach {
          c => bad += s"$name: suspicious column '$c'"
        }
        // a Window with an empty partitionSpec funnels the whole input
        // through ONE task — only legal over a limit-bounded frame.
        // LIMITATION: queries that fold internally on the driver
        // (q187/q200 collect bounded frames, q195 runs a stream) show
        // only their final LocalRelation here; their internal pipelines
        // are audited by review + the sf1 stress table, not this sweep
        if (!boundedGlobalWindowOk(name)) {
          val global = df.queryExecution.optimizedPlan.collect {
            case w: org.apache.spark.sql.catalyst.plans.logical.Window
                if w.partitionSpec.isEmpty => w
          }
          if (global.nonEmpty)
            bad += s"$name: ${global.size} unbounded global window(s)"
        }
        // noop sink: EVALUATES every output column (count() would let
        // Catalyst prune the final projection, hiding projection-time
        // errors — the q222 ANSI overflow escaped exactly that way)
        df.write.format("noop").mode("overwrite").save()
      } catch {
        case e: Throwable => bad += s"$name: ${e.getMessage}"
      }
    }
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  test("flagship entry returns rows (driver smoke contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("registry keys are unique within and across families") {
    // flattens SparkEntry.registries — the ONE list the production maps
    // are derived from — so a duplicate inside one family's entry list
    // fails here too (toMap would keep only one of the two entries)
    val all = SparkEntry.registries.flatMap(_._2.map(_._1))
    val dups = all.groupBy(identity).filter(_._2.size > 1).keys
    assert(dups.isEmpty, s"duplicate query names in the registries: " +
      dups.mkString(", "))
  }

  /** Queries that predate the spec-reference gate: tested indirectly
    * through their family/function specs (PipelineSpec over Dedup.*,
    * TraversalsSpec over the closure engines, …) but never named in a
    * test source. FROZEN — round-8's q343/q344 shipped spec-less
    * because nothing enforced the convention; every query added from
    * round 9 on must be NAMED in at least one spec (a semantic mirror,
    * not just the GateSpec sweep). Do not add to this list. */
  private val speclessLegacy: Set[String] = Set(
    "q01_pruned_agg", "q03_search_rank",
    "q04_join_broadcast", "q05_chain_3hop",
    "q06_left_outer_count", "q07_anti_join",
    "q08_semi_join", "q09_multi_agg",
    "q100_curate_e2e", "q101_callers_callees",
    "q102_analyze_function", "q103_stream_windows",
    "q104_semdedup", "q105_substring_dedup",
    "q106_temp_mixture", "q107_hash_classifier",
    "q108_stream_dedup", "q109_chunk_dedup",
    "q10_distinct_sort", "q110_heavy_hitters",
    "q111_lm_score", "q115_vocab_build",
    "q116_vocab_encode", "q117_dsir_select",
    "q118_kmeanspp_init", "q119_dup_sources",
    "q11_topk", "q120_ngram_uniqueness",
    "q121_fertility", "q122_editsim_dedup",
    "q123_collocations", "q124_vocab_growth",
    "q125_line_filter", "q126_leakfree_split",
    "q127_max_run", "q128_winnow_pairs",
    "q129_continuations", "q12_window_topk",
    "q130_shard_manifest", "q131_pq_adc",
    "q132_prefix_rerank", "q133_cms_estimate",
    "q134_rate_anomaly", "q135_scd2_intervals",
    "q136_hits", "q137_clustering_coeff",
    "q138_negative_sampling", "q139_rrf_fusion",
    "q13_scalar_funcs", "q140_personalized_pagerank",
    "q141_sliding_chunks", "q142_type_drift",
    "q143_kcore", "q144_copurchase",
    "q145_fk_containment", "q146_mutual_nn",
    "q147_bpe_merge", "q148_skew_audit",
    "q149_forget_cascade", "q14_case_class",
    "q150_trending", "q151_stickiness",
    "q152_centroid_drift", "q153_zorder_layout",
    "q154_sssp", "q155_trend_slope",
    "q156_lateness_profile", "q157_score_calibration",
    "q158_association_rules", "q159_activity_streaks",
    "q15_merge_latest", "q160_cluster_purity",
    "q162_stream_sessions", "q163_stream_state",
    "q164_audio_decode", "q165_stream_interval_join",
    "q166_label_propagation", "q168_stream_static_join",
    "q169_neighborhood_function", "q16_isin_not",
    "q170_random_walks", "q171_target_encoding",
    "q173_stream_outer_join", "q174_time_spine",
    "q175_mix_shift", "q178_k_anonymity",
    "q179_rendezvous_routing", "q17_bfs_reach",
    "q180_ivf_delta_maintenance", "q184_zonemap_audit",
    "q185_link_prediction", "q187_markov_stationary",
    "q188_l_diversity", "q189_rm3_expansion",
    "q18_closure_depths", "q191_survival_curve",
    "q192_event_trigrams", "q194_posting_compression",
    "q195_percolate_alerts", "q197_scd2_lookup",
    "q198_dict_audit", "q199_rfm_segments",
    "q19_path_capture", "q200_retrieval_ndcg",
    "q20_dedup_exact", "q21_text_stats",
    "q22_fingerprint", "q23_jaccard_pairs",
    "q24_minhash_lsh", "q254_incremental_index",
    "q255_avi_frames", "q256_sized_recall",
    "q258_ivfpq_adc", "q25_cosine_topk",
    "q260_cms_join_size", "q263_margin_mining",
    "q267_star_components", "q269_prefix_filter_join",
    "q26_simhash", "q274_hilbert_layout",
    "q276_aho_corasick", "q27_langid",
    "q281_postings_varint", "q28_quality",
    "q291_wordpiece", "q294_mulaw_roundtrip",
    "q30_hourly_windows", "q31_sessions",
    "q32_substring_join", "q33_dedup_keep",
    "q34_completion", "q35_rollup",
    "q36_approx_distinct", "q37_embed_neardup",
    "q38_ivf_ann", "q39_feature_merge",
    "q40_scip_parse", "q41_token_budget",
    "q42_cube", "q43_multimodal_meta",
    "q44_percentiles", "q45_doc_features",
    "q46_set_ops", "q47_kmv_distinct",
    "q48_salted_join", "q49_revenue_topn",
    "q50_bigram_jaccard", "q51_asof_join",
    "q52_dep_grouping", "q53_running_window",
    "q54_range_join", "q55_grouping_sets",
    "q56_minhash_estimate", "q57_stratified_sample",
    "q58_split_assign", "q59_curation_funnel",
    "q60_tfidf_terms", "q61_dup_clusters",
    "q62_word_chunks", "q63_event_pivot",
    "q64_posting_lists", "q65_media_frames",
    "q66_bm25", "q67_cluster_keepers",
    "q68_ann_recall", "q69_pagerank",
    "q70_transitions", "q71_unpivot",
    "q72_json_props", "q73_exists_sql",
    "q74_full_outer", "q75_fuzzy_join",
    "q76_ntile", "q77_conversion_funnel",
    "q78_context_packing", "q79_decontamination",
    "q80_pii_redact", "q81_repetitiveness",
    "q82_crosslingual_dups", "q83_exact_quota",
    "q84_gopher_rules", "q85_containment",
    "q86_embed_quantize", "q87_cdc_chunks",
    "q88_source_mixture", "q89_kmeans_step",
    "q90_retention", "q91_snapshot_diff",
    "q92_kmv_merge", "q93_quantized_ann",
    "q94_bloom_decontam", "q95_triangles",
    "q96_weighted_sample", "q97_incremental_agg",
    "q98_stat_moments", "q99_frame_dedup"
  )

  test("every post-round-8 query is named in at least one spec file") {
    val testDir = java.nio.file.Paths.get("src/test/scala/graft")
    assert(java.nio.file.Files.isDirectory(testDir),
      s"test-source dir not found from ${System.getProperty("user.dir")}")
    import scala.jdk.CollectionConverters._
    val corpus = java.nio.file.Files.list(testDir).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => java.nio.file.Files.readString(p))
      .mkString("\n")
    // frozen list must stay a subset of the live registry (a renamed
    // or deleted query must be pruned here, not silently grandfathered)
    val registered = SparkEntry.queries.keySet
    val stale = speclessLegacy -- registered
    assert(stale.isEmpty, s"speclessLegacy names not in registry: $stale")
    val unreferenced = (registered -- speclessLegacy)
      .filterNot(corpus.contains)
    assert(unreferenced.isEmpty,
      s"queries with no spec reference (write a semantic-mirror test " +
        s"or it doesn't ship): ${unreferenced.toSeq.sorted.mkString(", ")}")
  }

  /** Public defs that only specs call, each kept for a stated reason.
    * Any other such def is deleted with its spec, or its case moves
    * onto the production form it duplicates. */
  private val specOnlyOk: Map[String, String] = Map(
    "dataLineage" -> "J5 mirror: README's coverage map names q19 for it",
    "danglingEdges" -> "J10/J11 mirror: README's coverage map names q07/q08",
    "logicalRddShape" -> ("Spark-upgrade canary for the barrier; it must " +
      "live in the Spark package to reach LogicalRDD"),
    "encodeBmp" -> ("round-trip fixture: MediaCodecsSpec encodes the BMPs " +
      "that decodeBmp and decodeFeatures read"),
    "entry" -> "SparkEntry's entry point, loaded by reflection by name",
    "completions" -> ("LSP mirror: README's coverage map names completion " +
      "(`pkg/query/lsp.go` GetCompletions)"),
    "hover" -> ("LSP mirror: README's coverage map names hover " +
      "(`pkg/query/lsp.go` GetHover)"),
    "vacuum" -> ("the one reclaim of the snapshot dirs every write retains " +
      "for snapshot isolation; an operator calls it, no code path does"))

  /** `src` without its comments (`//` to end of line, `/* */` blocks);
    * string and char literals are matched first, so a `//` inside one
    * stays code. A name that only a comment mentions is then no use. */
  private def stripComments(src: String): String =
    ("(?s)\"\"\".*?\"\"\"|\"(?:\\\\.|[^\"\\\\\n])*\"|'(?:\\\\.|[^'\\\\\n])'" +
      "|//[^\n]*|/\\*.*?\\*/").r.replaceAllIn(src, m =>
      java.util.regex.Matcher.quoteReplacement(
        if (m.matched.startsWith("/")) " " else m.matched))

  test("no public def in src/main is called only from specs") {
    import scala.jdk.CollectionConverters._
    def sources(dir: String): Seq[String] = {
      val root = java.nio.file.Paths.get(dir)
      assert(java.nio.file.Files.isDirectory(root),
        s"$dir not found from ${System.getProperty("user.dir")}")
      java.nio.file.Files.walk(root).iterator().asScala.toSeq
        .filter(_.toString.endsWith(".scala"))
        .map(p => stripComments(java.nio.file.Files.readString(p)))
    }
    val main = sources("src/main/scala") ++ sources("perfbench/src")
    val defs = """(?m)^[ \t]*((?:[\w\[\]]+[ \t]+)*)def[ \t]+(\w+)""".r
      .findAllMatchIn(main.mkString("\n")).toSeq
      .filterNot(m => m.group(1).matches(
        """.*\b(private|protected|override)\b.*"""))
      .map(_.group(2))
      .filterNot(n => n == "main" || n.matches("""q\d+_.*"""))
    val uses = """\w+""".r.findAllIn(main.mkString("\n")).toSeq
      .groupBy(identity).view.mapValues(_.size).toMap
    val defCount = defs.groupBy(identity).view.mapValues(_.size).toMap
    val specOnly = defCount.collect {
      case (n, k) if uses(n) <= k => n }.toSet
    val bad = specOnly -- specOnlyOk.keySet
    assert(bad.isEmpty, "public defs named nowhere in src/main or " +
      "perfbench/src but at their own definition (delete them with " +
      s"their specs): ${bad.toSeq.sorted.mkString(", ")}")
    val stale = specOnlyOk.keySet -- specOnly
    assert(stale.isEmpty, s"allowlisted names now called from main: $stale")
  }

  test("bench JSON line is totals-only and fits a hard byte budget " +
      "including a trailing sbt line, at any suite size") {
    // Round-7 defect #1: the per-query map overflowed the collector's
    // ~2000-char output tail at 252 queries (the tail also holds sbt's
    // trailing `[success]` line) and the driver recorded parsed=null.
    // The contract is now structural: the line carries ONLY bounded
    // fields (totals, n_queries, the 8 BASELINE gate latencies, a
    // capped failed list, the BENCH_FULL.json pointer), so its length
    // is independent of suite size. Simulate the collector window:
    // line + newline + a realistic sbt success trailer must fit 1800
    // chars even for a 10_000-query suite with a mass failure.
    import org.json4s._
    val sbtTrailer =
      "\n[success] Total time: 1234 s (20:34), completed Aug 14, 2026, 12:00:00 PM\n"
    def budgetOk(line: String): Unit =
      assert(line.length + sbtTrailer.length <= 1800,
        s"bench line ${line.length} chars breaks the 1800 budget")

    // realistic current-suite shape
    val names = SparkEntry.queries.keys.toSeq.sorted
    val results = names.zipWithIndex.map { case (n, i) =>
      (n, 8.88, if (i % 3 == 0) 4.73 else 0.47) }
    val line = Bench.renderJson(results, Nil, "/root/testdata/sf0.1")
    budgetOk(line)
    val parsed = org.json4s.jackson.JsonMethods.parse(line)
    def num(v: JValue): Double = v match {
      case JDouble(d) => d
      case JInt(i) => i.toDouble
      case JDecimal(d) => d.toDouble
      case other => fail(s"unexpected number: $other")
    }
    // totals are exact to the 1dp rendering
    val nSub = names.indices.count(_ % 3 != 0)
    val expWarm = 4.73 * (names.size - nSub) + 0.47 * nSub
    // 1dp rendering floor + binary-float sum drift: 0.05 + epsilon
    assert(math.abs(num(parsed \ "value") - 8.88 * names.size) <= 0.051)
    assert(math.abs(num(parsed \ "warm") - expWarm) <= 0.051)
    assert(num(parsed \ "n_queries") === names.size.toDouble)
    assert(num(parsed \ "n_failed") === 0.0)
    assert((parsed \ "full") === JString("BENCH_FULL.json"))
    // the gates map carries exactly the BASELINE gate queries present
    // plus the heavy-tier scaling probes (round-12 verdict task 2)
    val JObject(qs) = (parsed \ "queries"): @unchecked
    assert(qs.map(_._1).toSet ===
      Bench.BaselineGates.union(Bench.ScalingProbes).intersect(
        names.toSet), "gates map != BaselineGates ∪ ScalingProbes")
    assert(qs.forall { case (_, v) =>
      math.abs(num(v) - 0.47) <= 0.005 || math.abs(num(v) - 4.73) <= 0.005
    }, "gate entry lost 2-decimal precision")

    // pathological: 10_000 queries, 10_000 failures — length must stay
    // bounded (count exact, names capped with failed_more remainder)
    val huge = (1 to 10000).map(i => (f"q$i%05d_synthetic", 88.8, 77.7))
    val hugeFailed = (1 to 10000).map(i => f"f$i%05d_synthetic_failure")
    val hugeLine =
      Bench.renderJson(huge, hugeFailed, "/root/testdata/sf0.1")
    budgetOk(hugeLine)
    val hp = org.json4s.jackson.JsonMethods.parse(hugeLine)
    assert(num(hp \ "n_queries") === 10000.0)
    assert(num(hp \ "n_failed") === 10000.0)
    val JArray(fshown) = (hp \ "failed"): @unchecked
    assert(fshown.size === 12)
    assert(num(hp \ "failed_more") === (10000 - 12).toDouble)

    // the untruncated companion file keeps EXACT 3-decimal cold+warm
    // for every query — this is where per-query precision lives
    val full = org.json4s.jackson.JsonMethods.parse(
      Bench.renderFullJson(results, Nil, "/root/testdata/sf0.1"))
    val JObject(cw) = (full \ "cold_warm"): @unchecked
    assert(cw.size === results.size)
    assert(cw.forall {
      case (_, JArray(List(JDouble(c), JDouble(w)))) =>
        c == 8.88 && (w == 0.47 || w == 4.73)
      case _ => false
    }, "BENCH_FULL.json lost exact precision")
  }

  test("bench reports a crashed query as failed, never as a timing") {
    import org.json4s._
    // a broken query must land in "failed" with NO timing contribution
    // to the totals — a crash that "finishes" in 0.06s must not read
    // as a perf win (round-6 verdict defect #2)
    val names = SparkEntry.queries.keys.toSeq.sorted
    val (broken, fine) = (names.head, names.tail)
    val results = fine.map(name => (name, 2.0, 1.0))
    val line = Bench.renderJson(results, Seq(broken), "/root/testdata/sf0.1")
    val parsed = org.json4s.jackson.JsonMethods.parse(line)
    val JArray(failed) = (parsed \ "failed"): @unchecked
    assert(failed === List(JString(broken)))
    (parsed \ "n_failed") match {
      case JInt(v) => assert(v === 1)
      case other => fail(s"unexpected n_failed: $other")
    }
    val coldTotal = (parsed \ "value") match {
      case JDouble(v) => v
      case JInt(v) => v.toDouble
      case other => fail(s"unexpected value: $other")
    }
    assert(math.abs(coldTotal - 2.0 * fine.size) <= 0.05,
      "crashed query leaked into the cold total")
    // the no-failure shape omits the names field; n_failed:0 is the
    // unambiguous "nothing failed" signal
    val cleanLine = Bench.renderJson(
      names.map(n => (n, 1.0, 0.5)), Nil, "/root/testdata/sf0.1")
    val clean = org.json4s.jackson.JsonMethods.parse(cleanLine)
    (clean \ "failed") match {
      case JNothing => ()
      case JArray(none) => assert(none.isEmpty)
      case other => fail(s"unexpected failed field: $other")
    }
    (clean \ "n_failed") match {
      case JInt(v) => assert(v === 0)
      case other => fail(s"unexpected n_failed: $other")
    }
  }
}
