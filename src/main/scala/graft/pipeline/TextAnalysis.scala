package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization, token counting, quality scoring, language ID, document
  * fingerprinting. All pure column expressions (whole-stage codegen'd; no
  * UDFs in the hot path), so they run at scan speed over 100 TB of text.
  *
  * Natural extensions of the reference's document feature extraction
  * (`pkg/indexer/documents/parser.go`) to pipeline scale.
  */
object TextAnalysis {

  /** Whitespace tokens of trimmed text; empty text → empty array. */
  def tokens(text: Column): Column =
    when(length(trim(text)) === 0, array().cast("array<string>"))
      .otherwise(split(trim(text), "\\s+"))

  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish subword token estimate: word-boundary pieces plus digit and
    * punctuation runs (a cheap stand-in for a real BPE vocab — counts the
    * units a byte-pair tokenizer would not merge across). */
  def subwordCount(text: Column): Column =
    size(filter(split(text, "(?=[A-Z])|[^A-Za-z0-9]+"),
      x => length(x) > 0))

  /** Engine-portable subword estimate: camel-case pieces, lowercase
    * runs, digit runs — no lookahead, so the same pattern runs on RE2
    * engines (and codegen'd regexp_extract_all beats the interpreted
    * `filter` in [[subwordCount]]). */
  def subwordCountPortable(text: Column): Column =
    size(regexp_extract_all(text,
      lit("[A-Z][a-z]*|[a-z]+|[0-9]+"), lit(0)))

  /** Fraction of characters that are neither alphanumeric nor space. */
  def punctRatio(text: Column): Column =
    when(length(text) === 0, lit(0.0))
      .otherwise(
        (length(text) - length(regexp_replace(text, "[^a-zA-Z0-9 ]", "")))
          .cast("double") / length(text))

  val defaultStopwords: Seq[String] = Seq(
    "the", "a", "an", "of", "to", "in", "and", "or", "is", "it",
    "for", "on", "with", "as", "at", "by", "be", "this", "that")

  /** Fraction of tokens that are stopwords. */
  def stopwordRatio(text: Column,
      stopwords: Seq[String] = defaultStopwords): Column = {
    val toks = tokens(text)
    val sw = array(stopwords.map(lit): _*)
    when(size(toks) === 0, lit(0.0))
      .otherwise(size(filter(toks, t => array_contains(sw, lower(t))))
        .cast("double") / size(toks))
  }

  /** Composite quality score in [0,1] — the shape used by pretraining
    * data filters: rewards reasonable length and a healthy stopword rate,
    * penalizes punctuation soup. Deterministic closed form. */
  def qualityScore(text: Column, nChars: Column): Column = {
    val lenScore = least(nChars.cast("double") / 500.0, lit(1.0))
    val swScore = least(stopwordRatio(text) * 5.0, lit(1.0))
    val punctPenalty = greatest(lit(0.0), lit(1.0) - punctRatio(text) * 4.0)
    round((lenScore * 0.4 + swScore * 0.3 + punctPenalty * 0.3), 6)
  }

  /** Integer-exact quality score in parts-per-million — same formula as
    * [[qualityScore]] but computed entirely in integer arithmetic (`div`
    * floor division), so any engine produces bit-identical results; no
    * float rounding boundaries. Takes column NAMES (built as a SQL expr
    * to use the integer `div` operator). */
  def qualityScorePpm(textCol: String, nCharsCol: String): Column = {
    val swList = defaultStopwords.map(w => s"'$w'").mkString(",")
    expr(
      s"""(cast(least(2000 * $nCharsCol, 1000000) as bigint) * 4 +
         |(case when trim($textCol) = '' then 0
         |  else least((cast(size(filter(split(trim($textCol), '\\\\s+'),
         |    x -> lower(x) in ($swList))) as bigint) * 5000000)
         |    div size(split(trim($textCol), '\\\\s+')), 1000000) end) * 3 +
         |(case when length($textCol) = 0 then 1000000
         |  else greatest(0, 1000000 -
         |    (cast(length($textCol) - length(regexp_replace($textCol,
         |      '[^a-zA-Z0-9 ]', '')) as bigint) * 4000000)
         |    div length($textCol)) end) * 3
         |) div 10""".stripMargin)
  }

  /** DuckDB mirror of [[qualityScorePpm]] — kept NEXT to the Scala
    * formula so the two sides cannot drift (every oracle that scores
    * quality interpolates this one string). */
  def qualityScorePpmSql(textCol: String, nCharsCol: String): String = {
    val swList = defaultStopwords.map(w => s"'$w'").mkString(",")
    s"""(CAST(least(2000 * $nCharsCol, 1000000) AS BIGINT) * 4 +
       | (CASE WHEN trim($textCol) = '' THEN 0
       |   ELSE least((CAST(len(list_filter(
       |       regexp_split_to_array(trim($textCol), '\\s+'),
       |       x -> lower(x) IN ($swList))) AS BIGINT)
       |     * 5000000)
       |     // len(regexp_split_to_array(trim($textCol), '\\s+')),
       |     1000000) END) * 3 +
       | (CASE WHEN length($textCol) = 0 THEN 1000000
       |   ELSE greatest(0, 1000000 -
       |     (CAST(length($textCol) -
       |       length(regexp_replace($textCol, '[^a-zA-Z0-9 ]', '', 'g'))
       |       AS BIGINT) * 4000000) // length($textCol)) END) * 3
       |) // 10""".stripMargin
  }

  /** Normalized-content fingerprint: sha256 of lowercased,
    * whitespace-collapsed text (the document-level exact-dup key). */
  def fingerprint(text: Column): Column =
    sha2(trim(regexp_replace(lower(text), "\\s+", " ")), 256)

  /** fastText-shaped hashed linear classifier score (Joulin et al.
    * 2016, arXiv:1607.01759 — the architecture behind CCNet/RedPajama
    * quality classifiers): each token hashes into one of `buckets`
    * feature slots (engine-portable md5 hash), a weight per slot, and
    * the document score is the bag-of-words sum. The weights here are
    * a DETERMINISTIC STUB derived from the slot index (training is out
    * of engine scope); the shape — feature hashing, a weight table
    * small enough to broadcast (real classifiers: ~2M buckets × 8 B),
    * and row-local integer scoring — is exactly what a learned filter
    * runs over 100 TB: one codegen'd projection, no shuffle, no UDF.
    * Integer end-to-end so any engine reproduces it bit-for-bit. */
  /** DuckDB mirror of [[hashedClassifierScore]]'s per-token weight sum
    * — shared by every oracle that scores with it (q107, q232, q239,
    * q250) so the Spark and SQL sides cannot drift, the same pattern
    * as `ExtendedQueries.wtaSigSql`. `tokExpr` names the exploded
    * token column in the caller's CTE. */
  def hashedScoreSqlSum(tokExpr: String = "tok", buckets: Int = 1024,
      salt: String = "feat"): String =
    s"SUM(((CAST(('0x' || substr(md5('$salt:' || $tokExpr), 1, 15)) " +
      s"AS BIGINT) % $buckets) * 2654435761) % 2001 - 1000)"

  def hashedClassifierScore(text: Column, buckets: Int = 1024,
      salt: String = "feat"): Column = {
    val slot = (t: Column) =>
      conv(substring(md5(concat(lit(salt), lit(":"), t)), 1, 15), 16, 10)
        .cast("long") % buckets
    // stub weight: (slot * Knuth-hash) mod 2001 - 1000 ∈ [-1000, 1000]
    aggregate(tokens(text), lit(0L),
      (acc, t) => acc + ((slot(t) * 2654435761L) % 2001L - 1000L))
  }

  /** Fixed-size word-window chunking — the pipeline form of the
    * reference's paragraph chunking (`documents/parser.go:51-90`, ≤1000
    * words per chunk), for corpora without paragraph breaks: token k
    * goes to chunk k div chunkWords. Returns (doc_id, chunk_idx,
    * n_words, chunk_text); empty docs yield no chunks.
    *
    * Shape: posexplode → one groupBy on (doc, chunk) with the order
    * restored from the positions — one shuffle, no per-doc state, so
    * chunking 100 TB is a linear pass (vs the reference's in-memory
    * per-document fold). */
  def wordChunks(df: DataFrame, idCol: String, textCol: String,
      chunkWords: Int): DataFrame = {
    require(chunkWords > 0, s"chunkWords must be positive ($chunkWords)")
    df.filter(length(trim(col(textCol))) > 0)
      .select(col(idCol).as("doc_id"),
        posexplode(tokens(col(textCol))).as(Seq("pos", "tok")))
      .groupBy(col("doc_id"),
        expr(s"pos div $chunkWords").as("chunk_idx"))
      .agg(count(lit(1)).as("n_words"),
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("tok")))),
          x => x.getField("tok")), " ").as("chunk_text"))
  }

  /** Sliding-window chunking with overlap — the RAG/pretraining chunker:
    * window of `windowWords` tokens advancing by `strideWords`
    * (stride < window ⇒ consecutive chunks overlap by window−stride
    * tokens, so no answer span is ever cut at a boundary). 0-based
    * chunk k covers token positions [k·stride, k·stride+window−1];
    * the last chunk is the first one whose window reaches the final
    * token, so every token is covered and no degenerate tail chunk is
    * emitted.
    *
    * Shape: posexplode fans each token to its ≤ ⌈window/stride⌉ member
    * chunks (a constant fan-out, ~1.6× rows here — NOT an all-windows
    * materialization), then one groupBy on (doc, chunk) reassembles.
    * Linear in corpus size with a constant factor; one shuffle.
    *
    * Returns (doc_id, chunk_idx, start_tok, end_tok, n_tokens,
    * chunk_text) with 1-based token bounds.
    */
  def slidingChunks(df: DataFrame, idCol: String, textCol: String,
      windowWords: Int, strideWords: Int): DataFrame = {
    require(windowWords > 0 && strideWords > 0 &&
      strideWords <= windowWords,
      s"need 0 < stride ($strideWords) <= window ($windowWords)")
    val (w, s) = (windowWords, strideWords)
    // n is aliased in its own projection BELOW the generate: written as
    // one select, Catalyst evaluates size(tokens()) in the Project
    // ABOVE the Generate — once per exploded token row, O(tokens²) per
    // document (measured 10× q62's runtime at sf0.1)
    df.filter(length(trim(col(textCol))) > 0)
      .select(col(idCol).as("doc_id"), tokens(col(textCol)).as("t"))
      .select(col("doc_id"), size(col("t")).as("n"), col("t"))
      .select(col("doc_id"), col("n"),
        posexplode(col("t")).as(Seq("pos", "tok")))
      // chunk ids this token belongs to: ceil((pos−w+1)/s) .. pos div s,
      // capped to the last real chunk index ⌈max(0, n−w)/s⌉
      .select(col("doc_id"), col("pos"), col("tok"),
        explode(sequence(
          greatest(lit(0), expr(s"(pos - $w + $s) div $s")),
          least(expr(s"pos div $s"),
            expr(s"(greatest(0, n - $w) + $s - 1) div $s"))))
          .as("chunk_idx"))
      .groupBy(col("doc_id"), col("chunk_idx"))
      .agg(count(lit(1)).as("n_tokens"),
        (min(col("pos")) + 1).as("start_tok"),
        (max(col("pos")) + 1).as("end_tok"),
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("tok")))),
          x => x.getField("tok")), " ").as("chunk_text"))
  }

  /** Stopword list for the Gopher-style "has common words" rule —
    * deliberately the same family as [[defaultStopwords]] (the published
    * rule uses {the, be, to, of, and, that, have, with}). */
  val gopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Gopher-style document-quality rule flags (Rae et al. 2021 §A1.1
    * repetition/quality heuristics, integer-exact): word-count bounds,
    * mean-word-length bounds, max 10% symbol-only words, min 80% words
    * containing an alphabetic char, ≥2 distinct common stopwords.
    * Returns the id column plus 0/1 ints `r_wordcount, r_meanlen,
    * r_symbol, r_alpha, r_stopword, pass`.
    *
    * Shape: a single row-local projection — the token array and every
    * derived count materialize exactly once per row in their own
    * projections (the interpreted-lambda-argument trap: an inline
    * tokenization referenced from `filter`/`aggregate` lambdas
    * re-evaluates per element), then the flags read integer columns.
    * No shuffle; runs at scan speed over 100 TB. */
  def gopherRulesDf(df: DataFrame, idCol: String, textCol: String,
      minWords: Int = 50, maxWords: Int = 100000): DataFrame = {
    val sw = array(gopherStopwords.map(lit): _*)
    // lowercasing never changes whitespace boundaries, so the
    // lowercase tokens derive from _toks — one regex split per row
    val counted = df
      .select(col(idCol), tokens(col(textCol)).as("_toks"))
      .select(col(idCol), col("_toks"),
        transform(col("_toks"), t => lower(t)).as("_ltoks"))
      .select(col(idCol),
        size(col("_toks")).cast("long").as("_nw"),
        aggregate(col("_toks"), lit(0L), (a, t) => a + length(t))
          .as("_sumlen"),
        size(filter(col("_toks"), t => t.rlike("[A-Za-z]")))
          .cast("long").as("_alpha"),
        size(filter(col("_toks"), t => !t.rlike("[A-Za-z0-9]")))
          .cast("long").as("_sym"),
        size(filter(sw, w => array_contains(col("_ltoks"), w)))
          .cast("long").as("_stop"))
    val b2i = (c: Column) => when(c, 1).otherwise(0)
    counted.select(col(idCol),
        b2i(col("_nw") >= minWords && col("_nw") <= maxWords)
          .as("r_wordcount"),
        b2i(col("_nw") > 0 &&
            expr("(_sumlen * 1000000) div _nw").between(3000000L, 10000000L))
          .as("r_meanlen"),
        b2i(col("_nw") > 0 && col("_sym") * 10 <= col("_nw"))
          .as("r_symbol"),
        b2i(col("_nw") > 0 && col("_alpha") * 5 >= col("_nw") * 4)
          .as("r_alpha"),
        b2i(col("_stop") >= 2).as("r_stopword"))
      .withColumn("pass",
        b2i(col("r_wordcount") + col("r_meanlen") + col("r_symbol") +
          col("r_alpha") + col("r_stopword") === 5))
  }

  /** Content-defined chunking: a chunk boundary falls AFTER any token
    * whose 60-bit hash ≡ 0 (mod `modulus`) — the FastCDC/rolling-hash
    * idea applied at word granularity. Unlike fixed windows
    * ([[wordChunks]]), boundaries are content-anchored: inserting a
    * word near the front shifts every fixed window but only the one
    * containing chunk here, so downstream chunk-level dedup stays
    * stable under edits. Expected chunk length = `modulus` words.
    *
    * Returns (doc_id, chunk_idx, n_words). One window shuffle on the
    * doc key (the running boundary count), one aggregation reusing the
    * same partitioning; no per-doc driver state. */
  def cdcChunks(df: DataFrame, idCol: String, textCol: String,
      modulus: Int = 16, salt: String = "cdc"): DataFrame = {
    require(modulus > 0, s"modulus must be positive ($modulus)")
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, -1)
    df.filter(length(trim(col(textCol))) > 0)
      .select(col(idCol).as("doc_id"),
        posexplode(tokens(col(textCol))).as(Seq("pos", "tok")))
      .withColumn("_bnd",
        when(Sampling.hash60(salt, col("tok")) % modulus === 0, 1L)
          .otherwise(0L))
      .withColumn("chunk_idx",
        coalesce(sum(col("_bnd")).over(w), lit(0L)))
      .groupBy(col("doc_id"), col("chunk_idx"))
      .agg(count(lit(1)).as("n_words"))
  }

  /** Distinctive-stopword profiles for the Latin-script languages the
    * heuristic can tell apart. Order matters: the tie-break prefers
    * earlier entries (en ≥ es ≥ de ≥ fr). */
  val langProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "is", "that", "with"),
    "es" -> Seq("el", "la", "los", "las", "que", "de", "y", "es"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit"),
    "fr" -> Seq("le", "la", "les", "et", "est", "une", "dans"))

  /** Count of tokens present in `words`. Higher-order `filter` runs
    * interpreted — callers should materialize the token array and each
    * hit count ONCE in a projection, never inline them into a CASE
    * branch where they would be re-evaluated per branch. */
  def stopwordHits(toks: Column, words: Seq[String]): Column = {
    val sw = array(words.map(lit): _*)
    size(filter(toks, t => array_contains(sw, t)))
  }

  /** Classification from pre-materialized hit-count columns (script
    * classes checked on the raw text first). */
  def langIdFromHits(text: Column, en: Column, es: Column, de: Column,
      fr: Column): Column =
    when(text.rlike("[\\u4e00-\\u9fff]"), "zh")
      .when(text.rlike("[\\u3040-\\u30ff]"), "ja")
      .when(text.rlike("[\\uac00-\\ud7af]"), "ko")
      .when(text.rlike("[\\u0400-\\u04ff]"), "ru")
      .when(en >= greatest(es, de, fr) && en > 0, "en")
      .when(es >= greatest(de, fr) && es > 0, "es")
      .when(de >= fr && de > 0, "de")
      .when(fr > 0, "fr")
      .otherwise("und")

  /** Language-ID heuristic (n-gram/stopword profile, no model):
    * CJK/Cyrillic by script, then Latin languages by distinctive-
    * stopword hit counts. Single-expression form; prefer
    * [[langIdDf]]-style materialized hits for bulk scoring. */
  def langId(text: Column): Column = {
    val Seq(en, es, de, fr) = langProfiles.map { case (_, ws) =>
      stopwordHits(tokens(lower(text)), ws)
    }
    langIdFromHits(text, en, es, de, fr)
  }

  /** DuckDB mirror of the per-language stopword hit counts (select-list
    * fragment producing `h_<code>` columns from a `toks` array column) —
    * kept NEXT to [[langProfiles]] so the two sides cannot drift; every
    * oracle that classifies language interpolates this and
    * [[langIdCaseSql]]. */
  def langHitsSql(toksCol: String = "toks"): String =
    langProfiles.map { case (code, ws) =>
      val list = ws.map(w => s"'$w'").mkString(",")
      s"len(list_filter($toksCol, x -> x IN ($list))) AS h_$code"
    }.mkString(",\n|    ")

  /** DuckDB mirror of [[langIdFromHits]]: the script-regex + hit-count
    * CASE chain, reading `h_<code>` columns from [[langHitsSql]]. */
  def langIdCaseSql(textCol: String = "text"): String =
    s"""CASE WHEN regexp_matches($textCol, '[\\x{4e00}-\\x{9fff}]') THEN 'zh'
       |         WHEN regexp_matches($textCol, '[\\x{3040}-\\x{30ff}]') THEN 'ja'
       |         WHEN regexp_matches($textCol, '[\\x{ac00}-\\x{d7af}]') THEN 'ko'
       |         WHEN regexp_matches($textCol, '[\\x{0400}-\\x{04ff}]') THEN 'ru'
       |         WHEN h_en >= greatest(h_es, h_de, h_fr) AND h_en > 0
       |           THEN 'en'
       |         WHEN h_es >= greatest(h_de, h_fr) AND h_es > 0 THEN 'es'
       |         WHEN h_de >= h_fr AND h_de > 0 THEN 'de'
       |         WHEN h_fr > 0 THEN 'fr'
       |         ELSE 'und' END""".stripMargin

  /** Bulk language-ID over a DataFrame: tokens and the four hit counts
    * are each computed exactly once per row (separate projections that
    * Catalyst keeps — non-cheap expressions are not re-inlined), then
    * the CASE chain reads integer columns. Adds `predicted`. */
  def langIdDf(df: DataFrame, textCol: String): DataFrame = {
    val withToks = df.withColumn("_toks", tokens(lower(col(textCol))))
    val hitCols = langProfiles.map { case (code, ws) =>
      stopwordHits(col("_toks"), ws).as(s"_h_$code")
    }
    val withHits = withToks.select(col("*") +: hitCols: _*)
    withHits
      .withColumn("predicted", langIdFromHits(col(textCol),
        col("_h_en"), col("_h_es"), col("_h_de"), col("_h_fr")))
      .drop("_toks", "_h_en", "_h_es", "_h_de", "_h_fr")
  }

  /** Corpus-trained bigram language-model fluency score — the
    * LM-quality-filter stage of published pipelines (CCNet, Wenzek et
    * al. 2020, filters on KenLM perplexity). The model is the corpus
    * itself: P(w2|w1) = count(w1 w2) / count(w1 ·), and each document
    * scores the mean of its bigrams' conditional probabilities in parts
    * per million. A document of improbable transitions (shuffled text,
    * gibberish, wrong-language mix) scores low exactly as it would on
    * perplexity; the linear-space mean replaces the log-space mean so
    * every intermediate is integer arithmetic, bit-portable across
    * engines (no libm log in either plan).
    *
    * Shape at 100 TB: bigram explode is per-row; the model is two
    * groupBys on (w1,w2) and w1 — bigram-vocabulary-sized, not
    * corpus-sized; scoring joins the bigram stream to the model on
    * (w1,w2), co-partitioned with the model build so the exchange is
    * reused. A production variant would prune the model to the top-V
    * bigrams and broadcast it; the full-model join here keeps the
    * DuckDB oracle exact.
    *
    * Returns (doc_id, n_bigrams, mean_p_ppm) for documents with ≥ 2
    * tokens.
    */
  /** C4/RefinedWeb-style LINE-level cleaning (Raffel et al. 2020 §2.2;
    * Penedo et al. 2023 line-wise corrections): split on newline, keep
    * lines passing the per-line rules, re-join survivors in order, and
    * flag documents failing the doc-level rules. Rules (each
    * parametrized, C4's defaults documented):
    *   - line has ≥ `minLineWords` whitespace words (C4: 3)
    *   - if `requireTerminalPunct`, line ends in . ! or ? (C4: on)
    *   - line does not contain `bannedLineWord` case-insensitively
    *     (C4 drops lines containing "javascript")
    *   - doc is FLAGGED dropped if lowercase text contains any of
    *     `docBannedSubstrings` (C4: "lorem ipsum", "{") or fewer than
    *     `minKeptLines` lines survive (C4's ≥-sentences gate).
    *
    * Everything is array ops inside ONE codegen'd projection — zero
    * shuffles, scan-speed at any scale; the reassembled text is
    * certified by sha256 so engines can be compared without shipping
    * the cleaned corpus. Returns (id, n_lines, kept_lines, dropped
    * 0/1, clean_fp) ordered by id.
    */
  def lineFilter(df: DataFrame, idCol: String, textCol: String,
      minLineWords: Int = 3, requireTerminalPunct: Boolean = true,
      bannedLineWord: String = "javascript",
      docBannedSubstrings: Seq[String] = Seq("lorem ipsum", "{"),
      minKeptLines: Int = 1): DataFrame = {
    val lines = split(col(textCol), "\n")
    def lineOk(l: Column): Column = {
      val words = size(split(trim(l), "\\s+")) >= minLineWords
      val punct = if (requireTerminalPunct)
        trim(l).rlike("[.!?]$") else lit(true)
      val banned = lower(l).contains(bannedLineWord.toLowerCase)
      words && punct && !banned
    }
    val docBanned = docBannedSubstrings
      .map(s => lower(col(textCol)).contains(s.toLowerCase))
      .reduce(_ || _)
    df.select(col(idCol), lines.as("_lines"), docBanned.as("_db"))
      .withColumn("_kept", filter(col("_lines"), lineOk(_)))
      .select(col(idCol),
        size(col("_lines")).cast("long").as("n_lines"),
        size(col("_kept")).cast("long").as("kept_lines"),
        when(col("_db") || size(col("_kept")) < minKeptLines, 1L)
          .otherwise(0L).as("dropped"),
        sha2(array_join(col("_kept"), "\n"), 256).as("clean_fp"))
      .orderBy(col(idCol))
  }

  /** Longest run of consecutive identical tokens per document — the
    * "degenerate repetition" detector (looping generations, scraped
    * pagination junk, `spam spam spam`): filters commonly cap
    * consecutive-token repeats, complementing the duplicated-n-gram
    * FRACTION (q81) which misses one long contiguous loop in a long
    * document. Computed entirely inside one `aggregate` higher-order
    * expression over the token array — row-local, zero shuffles, scan
    * speed at any corpus size. Ties: the FIRST maximal run's token is
    * reported (strict-greater update). Returns
    * (id, n_toks, max_run, run_tok) for non-blank docs, ordered by id.
    */
  def maxTokenRun(df: DataFrame, idCol: String, textCol: String)
      : DataFrame =
    df.filter(length(trim(col(textCol))) > 0)
      .select(col(idCol), tokens(col(textCol)).as("tk"))
      .withColumn("_r", expr(
        """aggregate(
          |  tk,
          |  named_struct(
          |    'best', cast(0 as bigint), 'cur', cast(0 as bigint),
          |    'prev', cast(null as string), 'btok', cast(null as string)),
          |  (a, x) -> named_struct(
          |    'best', greatest(a.best,
          |      if(a.prev is not null and x = a.prev, a.cur + 1,
          |         cast(1 as bigint))),
          |    'cur', if(a.prev is not null and x = a.prev, a.cur + 1,
          |              cast(1 as bigint)),
          |    'prev', x,
          |    'btok', if(if(a.prev is not null and x = a.prev, a.cur + 1,
          |                  cast(1 as bigint)) > a.best, x, a.btok)),
          |  a -> a)""".stripMargin))
      .select(col(idCol),
        size(col("tk")).cast("long").as("n_toks"),
        col("_r.best").as("max_run"),
        col("_r.btok").as("run_tok"))
      .orderBy(col(idCol))

  def bigramLmScore(df: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val base = df
      .filter(length(trim(col(textCol))) > 0)
      .select(col(idCol).as("doc_id"), tokens(col(textCol)).as("tk"))
      .filter(size(col("tk")) >= 2)
    val bg = base
      .select(col("doc_id"), col("tk"),
        explode(sequence(lit(1), size(col("tk")) - 1)).as("i"))
      .select(col("doc_id"),
        element_at(col("tk"), col("i")).as("w1"),
        element_at(col("tk"), col("i") + 1).as("w2"))
      // two consumers (model build + scoring join) reread the explode —
      // materialize it once
      .localCheckpoint(eager = true)
    val m2 = bg.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c2"))
    val m1 = m2.groupBy(col("w1")).agg(sum(col("c2")).as("c1"))
    val p = m2.join(m1, Seq("w1"))
      .select(col("w1"), col("w2"), expr("c2 * 1000000 div c1").as("p_ppm"))
    bg.join(p, Seq("w1", "w2"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        expr("sum(p_ppm) div count(1)").as("mean_p_ppm"))
  }
}
