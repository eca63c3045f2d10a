package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.HashFunctions.md5Hash60Sql

/** Text-analysis operators for training-data pipelines over `documents`:
  * token counting (whitespace + BPE-ish regex), quality scoring, n-gram
  * heuristic language ID, rolling fingerprints. All pure `functions._`
  * column expressions (whole-stage codegen, no UDFs), each with a DuckDB
  * twin computing the identical arithmetic.
  */
object TextOps {

  private val stopEn = Seq("the", "and", "of", "to", "a", "in", "is")
  private val markers = Map(
    "en" -> Seq("the", "and", "of", "to"),
    "es" -> Seq("el", "la", "los", "de"),
    "de" -> Seq("der", "die", "das", "und"),
    "fr" -> Seq("le", "les", "des", "et"))

  private def inList(vs: Seq[String]): String =
    vs.map(v => s"'$v'").mkString("(", ", ", ")")

  /** The t02 "ok" screen as a reusable predicate over a word-array
    * column: >= 10 tokens, distinct ratio >= 0.5, stopword ratio
    * <= 0.4 — the exact boolean q144's oracle mirrors. Lets composed
    * screens (q172 McNemar, q173 Cochran's Q) ride ONE documents scan
    * instead of joining a second read of t02's output. */
  private[operators] def qualityOkCol(words: Column): Column = {
    val distinctRatio =
      size(array_distinct(words)).cast("double") / size(words)
    val stopRatio =
      size(filter(words, w => w.isin(stopEn: _*))).cast("double") /
        size(words)
    size(words) >= 10 && distinctRatio >= 0.5 && stopRatio <= 0.4
  }

  /** t03's marker-word scoring frame, shared with the t32 confusion
    * matrix: per document the four marker counts, the argmax
    * prediction (ties resolved in fixed en > es > de > fr order) and
    * the labeled lang. Entirely row-local. */
  private def langScored(s: SparkSession, d: String): DataFrame = {
    val df = Tables.documents(s, d)
      .withColumn("words", split(trim(col("text")), " "))
    val scored = markers.keys.toSeq.sorted.foldLeft(df) { (acc, lang) =>
      acc.withColumn(s"s_$lang", size(expr(
        s"filter(words, w -> w IN ${inList(markers(lang))})")))
    }
    scored.withColumn("pred_lang",
      when(col("s_en") >= col("s_es") && col("s_en") >= col("s_de")
        && col("s_en") >= col("s_fr"), "en")
        .when(col("s_es") >= col("s_de") && col("s_es") >= col("s_fr"), "es")
        .when(col("s_de") >= col("s_fr"), "de")
        .otherwise("fr"))
  }

  /** t11's computation as a reusable surface: per-document duplicate
    * 3-gram statistics over any (doc_id, text) frame. Doc-local — the
    * grams are hashed by the codegen'd word_ngram_hashes expression,
    * sorted in-row, and duplicated positions counted by an index lambda
    * over the sorted array (a position is duplicated iff it equals a
    * neighbour after sorting) — so the corpus never shuffles. Documents
    * with fewer than 3 words have zero gram positions; the n_singleton
    * branch is guarded because `sequence(1, 0)` is the DESCENDING
    * sequence [1, 0], not empty, and element_at would throw. */
  /** Per-source DISTINCT 8-gram fingerprints (t19's index frame):
    * (source, 60-bit md5-prefix integer fp) rows. Guard: Spark's
    * `sequence(1, 0)` is the DESCENDING [1, 0] (see
    * [[repetitionStats]]), so a <= 7-word doc must short-circuit to an
    * empty gram array — matching the oracle's empty series — or the
    * lambda would evaluate `slice(words, 0, 8)` and throw. */
  private[graft] def sourceGramFps(docs: DataFrame): DataFrame =
    docs.select(col("source"), explode(
      graft.functions.TextFunctions.md5GramFps(col("text"), 8)).as("fp"))
      .distinct()

  def repetitionStats(docs: DataFrame): DataFrame =
    repetitionStatsKeeping(docs)

  /** [[repetitionStats]] with caller-supplied columns carried through
    * the per-doc projection: a composed screen (q171/q172/q173/t41)
    * computes its own score columns on the input frame and keeps them
    * beside the repetition stats, so the pairing needs ONE documents
    * scan and no join-back (ScanAudit shape). */
  def repetitionStatsKeeping(docs: DataFrame, keep: Column*): DataFrame =
    docs
      .withColumn("g", array_sort(
        graft.functions.TextFunctions.wordGramHashes(col("text"), 3)))
      .withColumn("n_grams", size(col("g")))
      .withColumn("n_singleton",
        when(col("n_grams") === 0, 0).otherwise(size(expr(
          "filter(sequence(1, size(g)), i -> " +
            "(i = 1 OR element_at(g, i) != element_at(g, i - 1)) AND " +
            "(i = size(g) OR element_at(g, i) != element_at(g, i + 1)))"))))
      .withColumn("n_dup_pos", col("n_grams") - col("n_singleton"))
      .withColumn("dup_frac",
        when(col("n_grams") === 0, lit(0.0))
          .otherwise(col("n_dup_pos").cast("double") / col("n_grams")))
      .withColumn("flag_repetitive", col("dup_frac") > 0.2)
      .select(Seq(col("doc_id"), col("n_grams"), col("n_dup_pos"),
        col("dup_frac"), col("flag_repetitive")) ++ keep: _*)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Whitespace + regex ("BPE-ish") token counting, distinct-token ratio.
    "t01_token_stats" -> ((s, d) => {
      Tables.documents(s, d)
        .withColumn("words", split(trim(col("text")), " "))
        .select(col("doc_id"),
          size(col("words")).as("n_tokens"),
          size(array_distinct(col("words"))).as("n_distinct_tokens"),
          size(regexp_extract_all(col("text"),
            lit("[a-z0-9]+|[^a-z0-9 ]"), lit(0))).as("n_bpe_tokens"),
          length(col("text")).as("n_chars_actual"),
          col("n_chars").as("n_chars_meta"))
        .orderBy(col("doc_id"))
    }),

    // Quality scoring: stopword ratio, mean token length, repetition.
    "t02_quality_score" -> ((s, d) => {
      Tables.documents(s, d)
        .withColumn("words", split(trim(col("text")), " "))
        .withColumn("n_tokens", size(col("words")))
        .withColumn("n_stop", size(expr(
          s"filter(words, w -> w IN ${inList(stopEn)})")))
        .withColumn("stop_ratio",
          col("n_stop").cast("double") / col("n_tokens"))
        .withColumn("distinct_ratio",
          size(array_distinct(col("words"))).cast("double") / col("n_tokens"))
        .withColumn("mean_token_len",
          (length(col("text")) - col("n_tokens") + 1).cast("double")
            / col("n_tokens"))
        .withColumn("quality",
          when(col("n_tokens") < 10, "too_short")
            .when(col("distinct_ratio") < 0.5, "repetitive")
            .when(col("stop_ratio") > 0.4, "boilerplate")
            .otherwise("ok"))
        .select(col("doc_id"), col("n_tokens"), col("n_stop"),
          col("stop_ratio"), col("distinct_ratio"), col("mean_token_len"),
          col("quality"))
        .orderBy(col("doc_id"))
    }),

    // Language ID by marker-word scoring (n-gram heuristic): argmax over
    // per-language hit counts with a fixed tie-break order.
    "t03_langid" -> ((s, d) =>
      langScored(s, d)
        .select(col("doc_id"), col("s_en"), col("s_es"), col("s_de"),
          col("s_fr"), col("pred_lang"),
          (col("pred_lang") === col("lang")).as("matches_label"))
        .orderBy(col("doc_id"))),

    // Lang-ID CONFUSION matrix: t03's marker-word classifier scored
    // against the labeled lang column, per (actual, predicted) cell
    // with each cell's share of its actual-language row — the
    // evaluation table that says WHERE the classifier fails, which
    // t03's per-doc boolean cannot (a 95% headline accuracy can hide
    // one language misrouted entirely). Scale shape: the scoring is
    // row-local; the rollup partial-aggregates map-side to at most
    // |langs|² cells, and the row-share window runs over that tiny
    // frame.
    "t32_langid_confusion" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      langScored(s, d)
        .groupBy(col("lang"), col("pred_lang"))
        .agg(count(lit(1)).as("n_docs"))
        .withColumn("row_share", col("n_docs").cast("double")
          / sum(col("n_docs")).over(Window.partitionBy(col("lang")))
            .cast("double"))
        .withColumn("correct", col("lang") === col("pred_lang"))
        .orderBy(col("lang"), col("pred_lang"))
    }),

    // TF-IDF top terms per document (linear-idf variant: score =
    // tf / df — the idf factor enters as an exact single IEEE division,
    // so the score is bit-identical cross-engine, unlike ln-based idf
    // where libm rounding differs). Inverted-index shape: one shuffle
    // on term for df, one on doc for the top-k window.
    "t06_tfidf_top_terms" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val words = Tables.documents(s, d)
        .select(col("doc_id"), explode(split(trim(col("text")), " ")).as("w"))
        .filter(col("w") =!= "")
      val occ = words.groupBy(col("doc_id"), col("w"))
        .agg(count(lit(1)).as("occ"))
      val df = occ.groupBy(col("w"))
        .agg(count(lit(1)).as("df"))
      val win = Window.partitionBy(col("doc_id"))
        .orderBy(col("score").desc, col("w"))
      occ.join(df, "w")
        .withColumn("score", col("occ").cast("double") / col("df"))
        .withColumn("rank", row_number().over(win))
        .filter(col("rank") <= 3)
        .select(col("doc_id"), col("rank"), col("w").as("term"),
          col("occ"), col("df"), col("score"))
        .orderBy(col("doc_id"), col("rank"))
    }),

    // Sequence packing: assign each document to the fixed-token-budget
    // training chunk (512 tokens) its tokens START in, per language
    // stream — the deterministic form of the "pack documents into
    // fixed-length sequences" step before LLM training. bin is a pure
    // function of the running token total under (lang, doc_id) order, so
    // it is reproducible at any parallelism. The running sum is
    // [[Packing.twoPhasePrefixSum]] — the shared 100 TB shape (bounded
    // (lang, block) windows + broadcast per-block offsets; m08's shard
    // manifest uses the same helper over bytes). The narrow token frame
    // (doc_id, lang, n_tokens — ~24 B/row, ~1/1000th of the corpus) is
    // materialized once so BOTH phases read it instead of re-scanning
    // and re-tokenizing the text column.
    "t07_sequence_packing" -> ((s, d) => sequencePacking(Tables.documents(s, d))),

    // Deterministic stratified sampling: per-language keep rates applied
    // by portable hash bucket (60-bit md5 of doc_id, mod 100) — the
    // downsampling/mixture-weighting step of a training-data pipeline.
    // Hash-based (not rand()-based) so the sample is stable across runs,
    // partitionings, and engines; a doc's fate depends only on its id.
    "t08_stratified_sample" -> ((s, d) => {
      val h = conv(substring(
        md5(encode(col("doc_id").cast("string"), "UTF-8")), 1, 15),
        16, 10).cast("long")
      Tables.documents(s, d)
        .withColumn("bucket", pmod(h, lit(100L)).cast("int"))
        .withColumn("keep_pct",
          when(col("lang") === "en", 50)
            .when(col("lang") === "de", 25)
            .otherwise(10))
        .filter(col("bucket") < col("keep_pct"))
        .select(col("doc_id"), col("lang"), col("bucket"), col("keep_pct"))
        .orderBy(col("doc_id"))
    }),

    // Fuzzy near-dup pairs by bounded edit distance with PREFIX
    // BLOCKING: candidates share (lang, first word, 16-char prefix) —
    // the classic record-linkage blocking step, an equi-keyed join at
    // any scale — then exact levenshtein over the 400-char head, kept
    // at <= 60. The compound key matters: first-word-only blocks grow
    // quadratically on a homogeneous corpus (107k pairs at sf0.1 —
    // levenshtein is O(len²) per pair, so block size is THE cost
    // control in blocked fuzzy matching; production systems run
    // multiple complementary blocking passes for recall). The missing
    // dedup flavor next to token-set Jaccard (d03) and bit-fingerprint
    // hamming (d05): edit distance catches in-place character edits
    // those miss.
    "t09_fuzzy_blocked_pairs" -> ((s, d) => {
      val b = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          concat_ws("|", split(trim(col("text")), " ").getItem(0),
            substring(col("text"), 1, 16)).as("blk"),
          substring(col("text"), 1, 400).as("head"))
      val a = b.select(col("doc_id").as("doc_a"), col("lang"), col("blk"),
        col("head").as("ha"))
      val c = b.select(col("doc_id").as("doc_b"), col("lang"), col("blk"),
        col("head").as("hb"))
      a.join(c, Seq("lang", "blk"))
        .filter(col("doc_a") < col("doc_b"))
        .withColumn("lev", levenshtein(col("ha"), col("hb")))
        .filter(col("lev") <= 60)
        .select(col("doc_a"), col("doc_b"), col("lev"))
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // Source-level (domain) quality filtering — the CommonCrawl-style
    // step that drops every document from a low-quality source rather
    // than scoring docs one by one. Source quality here is the exact
    // integer test 100*sum(distinct tokens) >= 43*sum(tokens) (a
    // ratio-of-sums at threshold 0.43, NOT a mean of per-doc double
    // ratios: float means differ in summation order across engines and
    // sources sit arbitrarily close to any threshold, so the metric
    // itself must be integral to be reproducible). Scale shape: the
    // per-source aggregate is tiny
    // (one row per source/domain) and partial-aggregates map-side; the
    // passing-source list broadcasts back, so the corpus never shuffles.
    "t10_source_filter" -> ((s, d) => {
      val stats = Tables.documents(s, d)
        .withColumn("words", split(trim(col("text")), " "))
        .select(col("doc_id"), col("source"),
          size(col("words")).as("nt"),
          size(array_distinct(col("words"))).as("nd"))
      val passing = stats.groupBy(col("source"))
        .agg(sum(col("nt")).as("src_tokens"),
          sum(col("nd")).as("src_distinct"))
        .filter(col("src_distinct") * 100 >= col("src_tokens") * 43)
      stats.join(broadcast(passing), Seq("source"))
        .select(col("doc_id"), col("source"),
          col("src_tokens"), col("src_distinct"))
        .orderBy(col("doc_id"))
    }),

    // Intra-document repetition filter (the Gopher/MassiveText
    // "duplicate n-gram fraction" rule): the fraction of a document's
    // 3-gram positions whose gram occurs more than once IN THAT
    // DOCUMENT. Fully doc-local — grams are hashed by the codegen'd
    // word_ngram_hashes expression, sorted in-row, and duplicated
    // positions counted with an index lambda over the sorted array
    // (a position is duplicated iff it equals a neighbour after
    // sorting), so the corpus NEVER shuffles: at 100 TB this is a pure
    // map over the scan, unlike the per-(doc, gram) groupBy the same
    // metric naively suggests. The oracle computes the identical
    // counts from string grams via UNNEST + GROUP BY — values differ
    // only on an intra-document 64-bit hash collision (P < g²/2^65
    // per doc, g ≈ corpus's grams-per-doc).
    "t11_repetition_filter" -> ((s, d) => {
      repetitionStats(Tables.documents(s, d)).orderBy(col("doc_id"))
    }),

    // Overlapping token-window chunking — the "split long documents
    // into training-context windows" step (64-token chunks, stride 48,
    // so consecutive chunks share 16 tokens). chunk count and content
    // are pure per-row functions of the token array: map-local explode,
    // no shuffle, embarrassingly parallel at any scale. A chunk i >= 1
    // exists only when it reaches PAST the previous chunk's end
    // (48i + 16 < n, i.e. i <= (n - 17) div 48): a trailing window
    // fully contained in its predecessor would duplicate training
    // content, not cover new tokens.
    "t12_doc_chunking" -> ((s, d) => {
      Tables.documents(s, d)
        .withColumn("words", split(trim(col("text")), " "))
        .withColumn("chunk_idx",
          explode(expr("sequence(CAST(0 AS BIGINT), " +
            "greatest((size(words) - 17) div 48, CAST(0 AS BIGINT)))")))
        .select(col("doc_id"), col("chunk_idx"),
          expr("array_join(slice(words, CAST(chunk_idx * 48 + 1 AS INT), 64), ' ')")
            .as("chunk_text"),
          least(size(col("words")) - col("chunk_idx") * 48, lit(64L))
            .as("n_chunk_tokens"))
        .orderBy(col("doc_id"), col("chunk_idx"))
    }),

    // Vocabulary induction with cumulative coverage — the tokenizer-
    // vocabulary step: corpus term frequencies, rank by (count desc,
    // term), and each rank's cumulative share of all token occurrences.
    // Scale shape: the ONLY corpus-wide stage is the map-side-combined
    // groupBy(term); the rank/cumulative windows run over the VOCABULARY
    // (zipf-bounded, millions of rows at 100 TB, not the corpus), where
    // a single-partition window is the correct plan, not a bottleneck.
    // cum_share is one IEEE division of two exact integers per row.
    "t13_vocab_coverage" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val counts = Tables.documents(s, d)
        .select(explode(split(trim(col("text")), " ")).as("term"))
        .filter(col("term") =!= "")
        .groupBy(col("term")).agg(count(lit(1)).as("cnt"))
      val order = Window.orderBy(col("cnt").desc, col("term"))
      val wCum = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy()
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      counts
        .withColumn("rank", row_number().over(order))
        .withColumn("cum_cnt", sum(col("cnt")).over(wCum))
        .withColumn("cum_share",
          col("cum_cnt").cast("double") / sum(col("cnt")).over(wAll))
        .filter(col("rank") <= 30)
        .select(col("rank"), col("term"), col("cnt"), col("cum_cnt"),
          col("cum_share"))
        .orderBy(col("rank"))
    }),

    // Data-mixture weighting — given target language shares for the
    // training mix, compute each language's actual token share and the
    // relative sampling rate (normalized so the most over-sampled
    // language keeps rate 1.0 — downsample-only, no upsampling). Every
    // double is a composition of single IEEE operations on
    // engine-identical inputs (exact integer token counts and literal
    // target shares), so even the rates are hash-comparable. The
    // per-language aggregate partial-aggregates map-side; the windows
    // run over 5 rows.
    "t14_mixture_weights" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val wAll = Window.partitionBy()
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.documents(s, d)
        .select(col("lang"), size(split(trim(col("text")), " ")).as("nt"))
        .groupBy(col("lang")).agg(sum(col("nt")).as("lang_tokens"))
        .withColumn("actual_share",
          col("lang_tokens").cast("double") / sum(col("lang_tokens")).over(wAll))
        .withColumn("target_share",
          when(col("lang") === "en", 0.45)
            .when(col("lang") === "es", 0.20)
            .when(col("lang") === "de", 0.20)
            .when(col("lang") === "fr", 0.10)
            .otherwise(0.05))
        .withColumn("ratio", col("target_share") / col("actual_share"))
        .withColumn("sample_rate", col("ratio") / max(col("ratio")).over(wAll))
        .select(col("lang"), col("lang_tokens"), col("actual_share"),
          col("target_share"), col("sample_rate"))
        .orderBy(col("lang"))
    }),

    // MIXTURE RESAMPLE — t14's sampling weights APPLIED: each document
    // keeps or drops by a deterministic million-bucket md5 hash of its
    // doc_id against its language's sample-rate threshold
    // (round(rate·10^6), the cents2 rounding rule), and the report
    // compares achieved token share against target per language — the
    // stage that turns t14's plan into a corpus, with the audit of how
    // close the down-sample landed. Thresholding by integer bucket
    // keeps the decision portable (no engine RNG); docs are whole-kept
    // or whole-dropped, so achieved share only approximates target at
    // doc granularity — the deviation column is the point. Scale
    // shape: rates reduce to a |langs|-row broadcast; the keep
    // decision is a row-local hash compare; both rollups
    // partial-aggregate to |langs| rows.
    "t33_mixture_resample" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val wAll = Window.partitionBy()
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          size(split(trim(col("text")), " ")).cast("long").as("nt"))
      val rates = docs.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_before"), sum(col("nt")).as("tok_before"))
        .withColumn("actual_share", col("tok_before").cast("double")
          / sum(col("tok_before")).over(wAll).cast("double"))
        .withColumn("target_share",
          when(col("lang") === "en", 0.45)
            .when(col("lang") === "es", 0.20)
            .when(col("lang") === "de", 0.20)
            .when(col("lang") === "fr", 0.10)
            .otherwise(0.05))
        .withColumn("ratio", col("target_share") / col("actual_share"))
        .withColumn("thr",
          round((col("ratio") / max(col("ratio")).over(wAll))
            * lit(1000000)).cast("long"))
      val h = conv(substring(
        md5(encode(col("doc_id").cast("string"), "UTF-8")), 1, 15),
        16, 10).cast("long")
      val kept = docs
        .join(broadcast(rates.select(col("lang"), col("thr"))), "lang")
        .filter(pmod(h, lit(1000000L)) < col("thr"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_after"), sum(col("nt")).as("tok_after"))
      rates.join(kept, Seq("lang"), "left")
        .withColumn("n_after", coalesce(col("n_after"), lit(0L)))
        .withColumn("tok_after", coalesce(col("tok_after"), lit(0L)))
        .withColumn("achieved_share", col("tok_after").cast("double")
          / sum(col("tok_after")).over(wAll).cast("double"))
        .select(col("lang"), col("n_before"), col("n_after"),
          col("tok_before"), col("tok_after"), col("target_share"),
          col("achieved_share"),
          (col("achieved_share") - col("target_share")).as("deviation"))
        .orderBy(col("lang"))
    }),

    // Leakage-safe train/val/test split: the split is a deterministic
    // hash of the document's CONTENT-GROUP REPRESENTATIVE (the exact-dup
    // group's min doc_id), not of the document itself — byte-identical
    // copies can never straddle train and test, the classic eval-leak.
    // (For near-dup safety, substitute d07's cluster_rep as the
    // representative — Pipeline.leakageSafeSplit takes any rep column.)
    // Same portable 60-bit md5 bucket as t08: stable across runs,
    // partitionings, and engines. Scale shape: one fingerprint groupBy
    // (16-byte keys, map-side combined) + a broadcast-sized join back.
    "t15_leakage_safe_split" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .withColumn("fp", md5(encode(col("text"), "UTF-8")))
      val reps = docs.groupBy(col("fp"))
        .agg(min(col("doc_id")).as("rep"))
      val h = conv(substring(
        md5(encode(col("rep").cast("string"), "UTF-8")), 1, 15),
        16, 10).cast("long")
      docs.join(reps, Seq("fp"))
        .withColumn("bucket", pmod(h, lit(100L)).cast("int"))
        .withColumn("split",
          when(col("bucket") < 90, "train")
            .when(col("bucket") < 95, "val")
            .otherwise("test"))
        .select(col("doc_id"), col("rep"), col("bucket"), col("split"))
        .orderBy(col("doc_id"))
    }),

    // Unigram-frequency quality scoring — the integer-exact
    // perplexity-proxy filter of LLM data prep: documents whose tokens
    // are, on average, RARE in the corpus (or absent from the top-1000
    // vocabulary) are noise candidates (boilerplate, mojibake, code in
    // a prose corpus). Real perplexity filtering uses an LM's logprobs;
    // the standard engine-side stand-in keeps the statistics exact so
    // the operator is oracle-checkable: per doc, the mean corpus-wide
    // count of its tokens (one IEEE division of exact integers) and
    // its out-of-vocabulary token fraction vs the deterministic
    // top-1000 vocab (cnt desc, term asc — a total order, selected by
    // TakeOrderedAndProject: distributed top-k, NOT a single-partition
    // rank window). Scale shape: the unigram count table shuffles
    // 8-byte-hashable terms once to build; the top-1000 set is O(1)
    // and broadcasts trivially. The per-token probe joins the FULL
    // distinct-token table — broadcast here (fine at judged SFs), but
    // corpus-dependent: a 100 TB web corpus's distinct-token table
    // (every URL/number/typo is a "token" under space splitting) can
    // exceed broadcast range, at which point drop the hint and the
    // probe plans as a shuffle join on the term, with the rest of the
    // query unchanged.
    "t16_unigram_quality" -> ((s, d) => {
      val toks = Tables.documents(s, d)
        .select(col("doc_id"),
          explode(split(trim(col("text")), " ")).as("w"))
        .filter(col("w") =!= "")
      val counts = toks.groupBy(col("w"))
        .agg(count(lit(1)).as("cnt"))
      val top = counts.orderBy(col("cnt").desc, col("w")).limit(1000)
        .select(col("w"), lit(true).as("in_vocab"))
      val vocab = counts.join(broadcast(top), Seq("w"), "left")
        .withColumn("in_vocab", coalesce(col("in_vocab"), lit(false)))
      toks.join(broadcast(vocab), Seq("w"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tokens"),
          sum(col("cnt")).as("freq_sum"),
          sum(when(col("in_vocab"), 0L).otherwise(1L)).as("n_oov"))
        .withColumn("avg_tok_freq",
          col("freq_sum").cast("double") / col("n_tokens"))
        .withColumn("oov_rate",
          col("n_oov").cast("double") / col("n_tokens"))
        .select(col("doc_id"), col("n_tokens"), col("freq_sum"),
          col("n_oov"), col("avg_tok_freq"), col("oov_rate"))
        .orderBy(col("doc_id"))
    }),

    // Bigram-LM quality scoring — t16's unigram proxy sharpened one
    // order: mean corpus BIGRAM frequency and unseen-bigram rate per
    // document against the deterministic top-1000 bigram vocabulary.
    // A doc of common words in uncommon ORDER scores well on t16 and
    // badly here — word-order degeneracy (shuffled/generated text) is
    // exactly what the bigram signal catches and the unigram one
    // can't. Integer-exact until the two final divisions (the same
    // log-free design as t16: a real LM perplexity would sum
    // engine-specific ln() doubles and lose the oracle). Scale shape:
    // bigram build is row-local; the count rollup and the doc rollup
    // are the only exchanges; top-1000 vocab + annotated counts ride
    // broadcasts.
    "t21_bigram_quality" -> ((s, d) => {
      val bg = Tables.documents(s, d)
        .select(col("doc_id"),
          expr("filter(split(trim(text), ' '), x -> x <> '')").as("ws"))
        .select(col("doc_id"), explode(expr(
          "CASE WHEN size(ws) >= 2 THEN transform(sequence(0, size(ws) - 2), " +
            "i -> concat(ws[i], ' ', ws[i+1])) ELSE array() END")).as("b"))
      val counts = bg.groupBy(col("b")).agg(count(lit(1)).as("cnt"))
      val top = counts.orderBy(col("cnt").desc, col("b")).limit(1000)
        .select(col("b"), lit(true).as("in_vocab"))
      val vocab = counts.join(broadcast(top), Seq("b"), "left")
        .withColumn("in_vocab", coalesce(col("in_vocab"), lit(false)))
      bg.join(broadcast(vocab), Seq("b"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"),
          sum(col("cnt")).as("freq_sum"),
          sum(when(col("in_vocab"), 0L).otherwise(1L)).as("n_oov"))
        .withColumn("avg_bigram_freq",
          col("freq_sum").cast("double") / col("n_bigrams"))
        .withColumn("oov_rate",
          col("n_oov").cast("double") / col("n_bigrams"))
        .select(col("doc_id"), col("n_bigrams"), col("freq_sum"),
          col("n_oov"), col("avg_bigram_freq"), col("oov_rate"))
        .orderBy(col("doc_id"))
    }),

    // Per-source n-gram novelty — the "what does this source actually
    // add" number behind corpus acquisition decisions: of each
    // source's distinct word 8-grams, how many appear in NO
    // lexicographically-earlier source (a deterministic stand-in for
    // acquisition order). A source whose novelty_rate is near zero is
    // already covered by the corpus and can be dropped from the mix
    // (the d08/t14 curation loop's missing third measure). Scale
    // shape: in-row gram explode to (60-bit portable fingerprint,
    // source) rows — the d05/q51 md5-prefix integer, so the exchange
    // carries 8-byte longs instead of 32-char digests AND stays
    // DuckDB-checkable — DISTINCT per source, then ONE fp-keyed
    // exchange: the first-seeing source is a min() window over fp (a
    // groupBy + join-back would shuffle the gram frame twice for the
    // same partitioning), and the per-source rollup partially
    // aggregates map-side. A 60-bit collision would fold two grams
    // (~1e-7 at 1M distinct grams) identically in both engines.
    "t19_source_novelty" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val grams = sourceGramFps(Tables.documents(s, d))
      grams
        .withColumn("first_src",
          min(col("source")).over(Window.partitionBy(col("fp"))))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("first_src") === col("source"), 1L).otherwise(0L))
            .as("n_new"))
        .withColumn("novelty_rate",
          col("n_new").cast("double") / col("n_grams"))
        .orderBy(col("source"))
    }),

    // Cross-source overlap matrix — the provenance signal behind
    // mirror/scrape detection: for every source pair, the number of
    // distinct 16-word chunks appearing in BOTH (t17's chunk unit,
    // t19's pairwise twin — novelty is ordered, this is symmetric).
    // Two mirrored sources light up immediately; dropping one is a
    // t14 mixture decision. Scale shape: chunks reduce in-row to the
    // 60-bit md5-prefix integer; the fp-keyed self-join fans out to
    // at most C(|sources|, 2) pairs per chunk (source count is small
    // and bounded); the pair rollup is map-side partial.
    "t20_source_overlap" -> ((s, d) => {
      val cf = Tables.documents(s, d)
        .select(col("source"), explode(graft.functions.TextFunctions
          .md5GramFps(col("text"), 16, step = 16)).as("fp"))
        .distinct()
      val a = cf.select(col("fp"), col("source").as("source_a"))
      val b = cf.select(col("fp"), col("source").as("source_b"))
      a.join(b, Seq("fp")).filter(col("source_a") < col("source_b"))
        .groupBy(col("source_a"), col("source_b"))
        .agg(count(lit(1)).as("n_shared"))
        .orderBy(col("source_a"), col("source_b"))
    }),

    // Boilerplate chunk detection — the line-level dedup step of web
    // corpus pipelines (headers, nav bars, license blurbs repeat
    // verbatim across many pages; CCNet/RefinedWeb drop repeated lines
    // before document-level dedup). "Lines" here are 16-word
    // non-overlapping windows (the synthetic corpus has no newlines);
    // a chunk appearing in >= 2 DISTINCT documents is boilerplate, and
    // each document reports its boilerplate fraction — the filter
    // signal. Scale shape: one exchange keyed on the chunk (group +
    // distinct-doc count; at 100 TB key on xxhash64(chunk) so the
    // shuffle carries 8-byte keys — same trick as the shingle index),
    // one join back, one per-doc partial aggregate.
    "t17_boilerplate_chunks" -> ((s, d) => {
      // chunk identity rides the 60-bit md5 fp (the t19/t20 key — the
      // shuffle carries 8-byte longs, never chunk text) and the chunk
      // frame cuts once: it feeds the boiler count AND the join back
      val chunks = Materialize.LocalCheckpoint(Tables.documents(s, d)
        .select(col("doc_id"), explode(graft.functions.TextFunctions
          .md5GramFps(col("text"), 16, step = 16)).as("chunk")))
      val boiler = chunks.groupBy(col("chunk"))
        .agg(countDistinct(col("doc_id")).as("ndocs"))
        .filter(col("ndocs") >= 2)
        .select(col("chunk"), lit(true).as("is_boiler"))
      chunks.join(boiler, Seq("chunk"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_chunks"),
          sum(when(col("is_boiler"), 1L).otherwise(0L)).as("n_boiler"))
        .withColumn("boiler_frac",
          col("n_boiler").cast("double") / col("n_chunks"))
        .orderBy(col("doc_id"))
    }),

    // Effective token budget — the number epoch planning actually
    // needs: raw corpus tokens vs tokens after exact dedup (each
    // distinct content counted once) and the implied duplication
    // factor. All integers until the one final division, computed
    // fingerprint-first (the groupBy keys on md5, never text) with a
    // single-row result — the corpus-level summary a data-mixture
    // plan starts from (t14's shares then split the deduped budget).
    "t18_token_budget" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .select(md5(encode(col("text"), "UTF-8")).as("fp"),
          size(split(trim(col("text")), " ")).as("nt"))
      val perContent = docs.groupBy(col("fp"))
        .agg(min(col("nt")).as("nt"), count(lit(1)).as("copies"))
      perContent.agg(
          sum(col("nt") * col("copies")).as("total_tokens"),
          sum(col("nt")).as("deduped_tokens"),
          count(lit(1)).as("n_distinct_docs"),
          sum(col("copies")).as("n_docs"))
        .withColumn("duplication_factor",
          col("total_tokens").cast("double") / col("deduped_tokens"))
    }),

    // Position-weighted rolling fingerprint over tokens — a polynomial
    // rolling hash computed with identical integer arithmetic in both
    // engines (sum of token_length * 31^(i mod 8) mod 2^31-1).
    "t04_rolling_fingerprint" -> ((s, d) => {
      Tables.documents(s, d)
        .withColumn("words", split(trim(col("text")), " "))
        .select(col("doc_id"),
          expr("""aggregate(
                    zip_with(words, sequence(0, size(words) - 1),
                             (w, i) -> named_struct('w', w, 'i', i)),
                    0L,
                    (acc, x) -> pmod(acc + length(x.w) *
                      CAST(pow(31, x.i % 8) AS BIGINT), 2147483647L))""")
            .as("fingerprint"))
        .orderBy(col("doc_id"))
    }),

    // Bigram ASSOCIATION mining (collocation lift): the top word pairs
    // by lift = P(w1,w2) / (P(w1)·P(w2)) — the corpus-linguistics
    // signal behind multiword-expression vocab entries ("new york"
    // should be one token) and tokenizer merge rules. Lift is the
    // monotone exp(PMI), so ranking by the RATIONAL
    // pair·total / (cnt_a·cnt_b) gives the PMI order without an ln()
    // in the output (libm rounding differs across engines — the
    // t16/t21 log-free contract). Scale shape: the bigram explode
    // collapses map-side to the distinct-bigram vocabulary before its
    // one exchange; unigram counts are vocab-sized and BROADCAST back
    // to the pair frame twice; the corpus total rides a 1-row
    // broadcast. The global top-30 window runs over the distinct-pair
    // frame via orderBy+limit (TakeOrdered — per-partition partial
    // top-k, never a single-task pass).
    "t27_bigram_lift" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .select(split(trim(col("text")), " ").as("l"))
      val bg = docs.filter(size(col("l")) >= 2)
        .select(explode(expr(
          "transform(sequence(0, size(l) - 2), " +
            "i -> named_struct('w1', l[i], 'w2', l[i+1]))")).as("b"))
        .select(col("b.w1"), col("b.w2"))
        .groupBy(col("w1"), col("w2"))
        .agg(count(lit(1)).as("pair_cnt"))
      val uni = docs.select(explode(col("l")).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      val tot = uni.agg(sum(col("cnt")).as("total"))
      val lifted = bg
        .join(broadcast(uni.select(col("word").as("w1"),
          col("cnt").as("cnt_a"))), Seq("w1"))
        .join(broadcast(uni.select(col("word").as("w2"),
          col("cnt").as("cnt_b"))), Seq("w2"))
        .crossJoin(broadcast(tot))
        .withColumn("lift",
          (col("pair_cnt").cast("double") * col("total").cast("double"))
            / (col("cnt_a").cast("double") * col("cnt_b").cast("double")))
      // top-30 via orderBy+limit (TakeOrdered: per-partition partial
      // top-k, no single-task rank over the bigram-vocab frame)
      lifted.orderBy(col("lift").desc, col("w1"), col("w2")).limit(30)
        .select(col("w1"), col("w2"), col("pair_cnt"), col("cnt_a"),
          col("cnt_b"), col("lift"))
        .orderBy(col("lift").desc, col("w1"), col("w2"))
    }),

    // Term BURSTINESS profile: for the 40 highest-document-frequency
    // terms, the variance-to-mean ratio of the per-document count
    // ACROSS ALL docs (zeros included) — the dispersion statistic
    // separating topical terms (bursty: a doc that mentions them
    // mentions them often, VMR >> 1) from function words (VMR ≈ 1,
    // Poisson-like). Drives stopword-list induction and t06-style
    // term weighting. All moments are exact integer sums over the
    // per-(term, doc) count frame — zeros enter via N = |docs| in
    // closed form, not materialized rows — and the two divisions
    // happen once at the final projection with oracle-identical
    // parenthesization. Scale: per-doc term counts partial-aggregate
    // map-side (doc-local), the term rollup is one vocab-keyed
    // exchange of integer triples, and the doc total is a 1-row
    // broadcast; the top-40 pick is a TakeOrdered over the vocab frame.
    "t28_term_burstiness" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), split(trim(col("text")), " ").as("l"))
      val perDoc = docs.select(col("doc_id"), explode(col("l")).as("word"))
        .groupBy(col("word"), col("doc_id"))
        .agg(count(lit(1)).as("c"))
      val nDocs = docs.agg(count(lit(1)).as("n_docs"))
      val terms = perDoc.groupBy(col("word"))
        .agg(count(lit(1)).as("df"),
          sum(col("c")).as("total_cnt"),
          sum(col("c") * col("c")).as("sum_sq"))
      // top-40 via orderBy+limit BEFORE the 1-row broadcast (TakeOrdered
      // over the vocab frame; no single-task rank window)
      terms.orderBy(col("df").desc, col("word")).limit(40)
        .crossJoin(broadcast(nDocs))
        .withColumn("mean",
          col("total_cnt").cast("double") / col("n_docs").cast("double"))
        .withColumn("vmr",
          (col("sum_sq").cast("double") / col("n_docs").cast("double")
            - col("mean") * col("mean")) / col("mean"))
        .select(col("word"), col("df"), col("total_cnt"), col("mean"),
          col("vmr"))
        .orderBy(col("word"))
    }),

    // Corpus COVERAGE curve: cumulative distinct word 8-grams after
    // each of t24's 16 deterministic shards, plus each shard's
    // marginal novelty — the diminishing-returns curve behind "is
    // acquiring more of this corpus still buying new content?" (the
    // per-shard view of what t19 measures per source; here the shard
    // order is the deterministic stand-in for acquisition batches).
    // Scale shape: grams reduce in-row to the 60-bit md5-prefix
    // integer and the shard id is row-local hash arithmetic; the
    // (shard, fp) distinct and the first-seen window are both keyed on
    // fp (8-byte keys on the wire, text never shuffles); the rollup is
    // 16 rows and the cumulative window runs over those 16 — nothing
    // corpus-sized past the fp exchanges.
    "t29_coverage_curve" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val shard = pmod(graft.functions.HashFunctions.md5Hash60(
        concat(lit("shard|"), col("doc_id").cast("string"))), lit(16L))
        .cast("int")
      val sg = Tables.documents(s, d)
        .select(col("doc_id"), graft.functions.TextFunctions
          .md5GramFps(col("text"), 8).as("hs"))
        .filter(size(col("hs")) > 0)
        .select(shard.as("shard"),
          explode(array_distinct(col("hs"))).as("fp"))
        .distinct()
      val per = sg
        .withColumn("first_shard",
          min(col("shard")).over(Window.partitionBy(col("fp"))))
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("first_shard") === col("shard"), 1L).otherwise(0L))
            .as("n_new"))
      per
        .withColumn("cum_distinct", sum(col("n_new")).over(
          Window.orderBy(col("shard"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("novelty_rate",
          col("n_new").cast("double") / col("n_grams").cast("double"))
        .select(col("shard"), col("n_grams"), col("n_new"),
          col("cum_distinct"), col("novelty_rate"))
        .orderBy(col("shard"))
    }),

    // TWO-SAMPLE KOLMOGOROV–SMIRNOV drift per source — the
    // distribution-shape test the moment-based screens (t26 length
    // histogram, q111 correlations) can't do: for each source, the KS
    // statistic D = max_x |F_source(x) − F_rest(x)| over the doc-length
    // distribution, source vs the pooled rest of the corpus. A source
    // whose docs are systematically longer/shorter/bimodal vs the
    // corpus flags here even when its mean matches. EXACT by
    // construction: both CDFs are evaluated at every pooled jump point
    // on a zero-filled (source × distinct-length) grid (the KS max can
    // sit at a REST-only jump — evaluating only at the source's own
    // values undercounts), and the max runs over the integer
    // cross-multiplied numerator |cum_s·(N−n_s) − cum_rest·n_s| so no
    // float comparison decides the argmax; the single division is the
    // final display. Scale shape: the grid is |sources| × |distinct
    // lengths| — two DIMENSIONS, so the broadcast cross is q83's
    // calendar-grid class, constant in the corpus; doc rows reduce to
    // per-(source, length) counts map-side before anything wide.
    // Headroom: cum·N products cap at N² — shift to DECIMAL(38,0)
    // past ~3e9 docs (the q127 note).
    "t36_ks_drift" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      // every downstream frame (distinct values, per-source totals,
      // grand total, per-value totals) is derivable from the
      // (source, n_chars) count grid — cut that grid once so the
      // documents table is scanned a single time (ScanAudit: 6 → 1)
      val counts = Materialize.LocalCheckpoint(Tables.documents(s, d)
        .groupBy(col("source"), col("n_chars"))
        .agg(count(lit(1)).as("c")))
      val values = counts.select(col("n_chars")).distinct()
      val sources = counts.groupBy(col("source"))
        .agg(sum(col("c")).as("n_s"))
      val tot = counts.agg(sum(col("c")).as("n_all"))
      val perValue = counts.groupBy(col("n_chars"))
        .agg(sum(col("c")).as("ct"))
      val wT = Window.orderBy(col("n_chars"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cumT = perValue.withColumn("cum_t", sum(col("ct")).over(wT))
        .select(col("n_chars"), col("cum_t"))
      val wS = Window.partitionBy(col("source")).orderBy(col("n_chars"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      values.crossJoin(broadcast(sources.select(col("source"))))
        .join(counts, Seq("source", "n_chars"), "left")
        .na.fill(0L, Seq("c"))
        .withColumn("cum_s", sum(col("c")).over(wS))
        .join(cumT, Seq("n_chars"))
        .join(broadcast(sources), Seq("source"))
        .crossJoin(broadcast(tot))
        .withColumn("num", abs(col("cum_s") * (col("n_all") - col("n_s"))
          - (col("cum_t") - col("cum_s")) * col("n_s")))
        .groupBy(col("source"))
        .agg(max(col("num")).as("max_num"),
          max(col("n_s")).as("n_docs"),
          max(col("n_all")).as("n_all"))
        .withColumn("ks_stat", col("max_num").cast("double") /
          (col("n_docs") * (col("n_all") - col("n_docs"))).cast("double"))
        .select(col("source"), col("n_docs"), col("ks_stat"))
        .orderBy(col("source"))
    }),

    // STRATIFIED train/val/test split with EXACT per-source 80/10/10
    // proportions: every document ranked within its source by the
    // portable 60-bit hash (a deterministic shuffle both engines
    // reproduce), then cut at the integer thresholds (n*8) div 10 and
    // (n*9) div 10 — the split manifest a pipeline materializes before
    // training so val/test composition is stratified BY CONSTRUCTION,
    // not in expectation (t24's hash-bucket sharding gives ~proportions;
    // this gives exact ones; in production rank t15's content groups
    // instead of raw docs to keep the split leakage-safe too). Scale:
    // the within-source rank comes from ONE range-partitioned global
    // rank over (source, hash) (Packing.orderedRank — no per-source
    // window, which would funnel corpus/|sources| rows through a task)
    // minus broadcast per-source offsets; thresholds are integer
    // arithmetic; the report is |sources| x 3 rows.
    "t43_stratified_split" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          size(split(trim(col("text")), " ")).cast("long").as("toks"))
        .withColumn("h", graft.functions.HashFunctions.md5Hash60(
          concat(lit("split|"), col("doc_id").cast("string"))))
      val ranked = Packing.orderedRank(docs,
        Seq(col("source"), col("h"), col("doc_id")))
      // per-source counts + rank offsets: |sources| rows
      val wSrc = Window.orderBy(col("source"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val counts = docs.groupBy(col("source"))
        .agg(count(lit(1)).as("n_src"))
        .withColumn("off", coalesce(sum(col("n_src")).over(wSrc), lit(0L)))
      ranked.join(broadcast(counts), Seq("source"))
        .withColumn("r_in_src", col("rnk") - col("off"))
        .withColumn("split",
          when(col("r_in_src") <= expr("(n_src * 8) div 10"), "train")
            .when(col("r_in_src") <= expr("(n_src * 9) div 10"), "val")
            .otherwise("test"))
        .groupBy(col("source"), col("split"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("toks")).as("n_tokens"),
          min(col("r_in_src")).as("r_lo"),
          max(col("r_in_src")).as("r_hi"))
        .orderBy(col("source"), col("split"))
    }),

    // HELD-OUT BIGRAM-LM CROSS-ENTROPY — the perplexity-style quality
    // number per language: train an add-one-smoothed bigram model on
    // 90% of docs (doc_id % 10 ≠ 7), score the held-out 10% as
    // H = −Σ ln((c₂+1)/(c₁+V))/N nats per bigram (V = the language's
    // train continuation vocabulary). Complements t16/t21's
    // integer-exact frequency screens with the actual NLL, and the
    // split makes it honest (t21 scores in-sample). CONTRACT: each
    // NLL term is quantized to 1e-9 nats (DECIMAL(18,9)) BEFORE the
    // order-insensitive sum — ln is the one libm call neither engine
    // rounds correctly (measured: a handful of 1-ulp JVM-vs-libm
    // term diffs at sf0.001 shifted a DECIMAL(38,15) sum's 15th
    // digit), and the 1e-9 grid absorbs 1-ulp input drift with
    // ~4e-7/term boundary risk (the q159 decimal-round-trip idiom,
    // coarsened for a 10⁴-term sum). Scale shape: gram explode is
    // in-row; the model tables key
    // on (lang, gram) with map-side combine; the |langs|-row vocab
    // table broadcasts; eval grams join on the same gram keys.
    "t44_bigram_cross_entropy" -> ((s, d) => {
      val bg = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          expr("filter(split(trim(text), ' '), x -> x <> '')").as("ws"))
        .select(col("doc_id"), col("lang"), explode(expr(
          "CASE WHEN size(ws) >= 2 THEN transform(sequence(0, size(ws) - 2), " +
            "i -> struct(ws[i] AS w1, ws[i+1] AS w2)) ELSE " +
            "array() END")).as("g"))
        .select(col("doc_id"), col("lang"),
          col("g.w1").as("w1"), col("g.w2").as("w2"))
      val train = bg.filter(col("doc_id") % 10 =!= 7)
      val ev = bg.filter(col("doc_id") % 10 === 7)
      val c2 = train.groupBy(col("lang"), col("w1"), col("w2"))
        .agg(count(lit(1)).as("c2"))
      val c1 = train.groupBy(col("lang"), col("w1"))
        .agg(count(lit(1)).as("c1"))
      val vs = train.groupBy(col("lang"))
        .agg(countDistinct(col("w2")).as("v"))
      // vs joins LEFT: a language whose docs ALL landed in the eval
      // split has no trained model — it still reports (n_eval rows,
      // unseen_rate 1.0) with NULL cross-entropy instead of silently
      // vanishing from the output
      ev.join(c2, Seq("lang", "w1", "w2"), "left")
        .join(c1, Seq("lang", "w1"), "left")
        .join(broadcast(vs), Seq("lang"), "left")
        .withColumn("c2n", coalesce(col("c2"), lit(0L)))
        .withColumn("c1n", coalesce(col("c1"), lit(0L)))
        .withColumn("lp", log((col("c2n") + lit(1L)).cast("double") /
          (col("c1n") + col("v")).cast("double")))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_eval_bigrams"),
          sum(when(col("c2n") === 0L, 1L).otherwise(0L)).as("n_unseen"),
          sum((-col("lp")).cast(org.apache.spark.sql.types
            .DecimalType(18, 9))).cast("double").as("nll_sum"))
        .withColumn("cross_entropy_nats",
          col("nll_sum") / col("n_eval_bigrams").cast("double"))
        .withColumn("unseen_rate",
          col("n_unseen").cast("double") /
            col("n_eval_bigrams").cast("double"))
        .select(col("lang"), col("n_eval_bigrams"), col("n_unseen"),
          col("nll_sum"), col("cross_entropy_nats"), col("unseen_rate"))
        .orderBy(col("lang"))
    }),

    // CHAO1 UNSEEN-VOCABULARY ESTIMATE — how many bigram TYPES has
    // this corpus NOT yet shown us, per language? Chao1 = S_obs +
    // n₁²/(2n₂) from the count-of-counts (hapaxes n₁, doubletons n₂),
    // plus the bias-corrected form n₁(n₁−1)/(2(n₂+1)) that stays
    // defined when n₂ = 0. The TYPE-count companion to t38's
    // Good–Turing unseen MASS: t38 says how much probability the
    // unseen carries, this says how many distinct items are still
    // out there — the corpus-acquisition saturation number. Finding:
    // the bigram vocabulary saturates with scale (sf0.01 → sf0.1 the
    // hapax count collapses 87 → 10 for 'de' and the estimate
    // converges onto S_obs — more data is no longer buying new
    // bigrams). All-integer until two single divisions. Scale shape:
    // gram explode in-row, one (lang, gram) count exchange with
    // map-side combine, a |langs|-row count-of-counts rollup.
    "t45_chao1_vocab" -> ((s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          expr("filter(split(trim(text), ' '), x -> x <> '')").as("ws"))
        .select(col("lang"), explode(expr(
          "CASE WHEN size(ws) >= 2 THEN transform(sequence(0, size(ws) - 2), " +
            "i -> concat(ws[i], ' ', ws[i+1])) ELSE array() END")).as("b"))
        .groupBy(col("lang"), col("b"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("s_obs"),
          sum(when(col("c") === 1L, 1L).otherwise(0L)).as("n1"),
          sum(when(col("c") === 2L, 1L).otherwise(0L)).as("n2"))
        .withColumn("chao1",
          when(col("n2") > 0L, col("s_obs").cast("double") +
            (col("n1") * col("n1")).cast("double") /
              (lit(2L) * col("n2")).cast("double")))
        .withColumn("chao1_bc",
          col("s_obs").cast("double") +
            (col("n1") * (col("n1") - lit(1L))).cast("double") /
              (lit(2L) * (col("n2") + lit(1L))).cast("double"))
        .select(col("lang"), col("s_obs"), col("n1"), col("n2"),
          col("chao1"), col("chao1_bc"))
        .orderBy(col("lang"))
    }),

    // TEMPERATURE-SCALED MIXTURE WEIGHTS — the standard LLM data-mixing
    // knob (share_l ∝ n_l^α): α = 1 is natural sampling, lower α
    // flattens the mix toward uniform, and the repetition factor
    // share·N/n_l says how many effective epochs upsampling costs each
    // language. Complements t14 (fixed editorial targets) with the
    // data-derived family every pretraining mix sweep actually uses.
    // CROSS-ENGINE DESIGN: α ∈ {1, 1/2, 1/4} so n^α is a sqrt chain
    // (IEEE sqrt is correctly rounded — no libm pow), and each α's
    // normalizing total folds over the LANG-SORTED weight array in one
    // fixed sequence (the q133 left-fold rule) — never a parallel
    // double sum. Scale shape: one (lang)-keyed token rollup with
    // map-side combine; everything after runs on a |langs|-row array
    // in a single row.
    "t46_temperature_mixture" -> ((s, d) => {
      val per = Tables.documents(s, d)
        .select(col("lang"), size(expr(
          "filter(split(trim(text), ' '), x -> x <> '')")).as("nt"))
        .groupBy(col("lang")).agg(sum(col("nt")).as("n"))
      def wExpr(x: String, alpha: String) = alpha match {
        case "1.0"  => s"CAST($x AS DOUBLE)"
        case "0.5"  => s"sqrt(CAST($x AS DOUBLE))"
        case "0.25" => s"sqrt(sqrt(CAST($x AS DOUBLE)))"
      }
      val alphas = Seq("1.0" -> "a100", "0.5" -> "a050", "0.25" -> "a025")
      val one = per
        .agg(expr("sort_array(collect_list(struct(lang, n)))").as("arr"),
          sum(col("n")).as("ntot"))
      val tots = alphas.map { case (a, nm) =>
        expr(s"aggregate(arr, CAST(0 AS DOUBLE), " +
          s"(acc, x) -> acc + ${wExpr("x.n", a)})").as(s"tot_$nm")
      }
      one.select(Seq(col("arr"), col("ntot")) ++ tots: _*)
        .select(Seq(col("ntot"), explode(col("arr")).as("e")) ++
          alphas.map(p => col(s"tot_${p._2}")): _*)
        .select(col("ntot"), col("e.lang").as("lang"),
          col("e.n").as("n_tokens"), explode(array(
            alphas.map { case (a, nm) =>
              struct(lit(a).as("alpha"),
                (expr(wExpr("e.n", a)) / col(s"tot_$nm")).as("share"))
            }: _*)).as("m"))
        .select(col("m.alpha").as("alpha"), col("lang"), col("n_tokens"),
          col("m.share").as("share"),
          (col("m.share") * col("ntot").cast("double") /
            col("n_tokens").cast("double")).as("repetition_factor"))
        .orderBy(col("alpha"), col("lang"))
    }),

    // PACKING BIN-SIZE SWEEP — the sequence-length knob every
    // pretraining pipeline tunes before t07 packs: for bin sizes
    // {256, 512, 1024, 2048} tokens, per language, what the two
    // packing policies cost. TRUNCATE policy (no doc splitting):
    // n_docs_truncated and tokens_lost = Σ max(0, n − B) — the data
    // you throw away. STREAM policy (t07's split-across-bins):
    // n_bins = ceil(total/B) and fill_ratio = total/(bins·B) — the
    // padding you pay only at each language's tail. Loss is integer-
    // exact; the two ratios are single divisions of exact longs.
    // Tokenization = the t44/t45/t46 empty-filtered split. Scale
    // shape: ONE (lang)-keyed rollup with 9 conditional sums
    // (map-side combinable); the 4-config explode runs on |langs|
    // rows.
    "t47_packing_sweep" -> ((s, d) => {
      val bins = Seq(256L, 512L, 1024L, 2048L)
      val t = Tables.documents(s, d)
        .select(col("lang"), size(expr(
          "filter(split(trim(text), ' '), x -> x <> '')"))
          .cast("long").as("nt"))
      val aggs = Seq(count(lit(1)).as("n_docs"),
        sum(col("nt")).as("total_tokens")) ++ bins.flatMap(b => Seq(
        sum(when(col("nt") > b, 1L).otherwise(0L)).as(s"over_$b"),
        sum(when(col("nt") > b, col("nt") - b).otherwise(0L))
          .as(s"lost_$b")))
      t.groupBy(col("lang")).agg(aggs.head, aggs.tail: _*)
        .select(col("lang"), col("n_docs"), col("total_tokens"),
          explode(array(bins.map(b => struct(lit(b).as("bin_tokens"),
            col(s"over_$b").as("n_docs_truncated"),
            col(s"lost_$b").as("tokens_lost"))): _*)).as("e"))
        .select(col("lang"), col("e.bin_tokens").as("bin_tokens"),
          col("n_docs"), col("total_tokens"),
          col("e.n_docs_truncated").as("n_docs_truncated"),
          col("e.tokens_lost").as("tokens_lost"),
          (col("e.tokens_lost").cast("double") /
            col("total_tokens").cast("double")).as("loss_rate"),
          expr("(total_tokens + e.bin_tokens - 1) div e.bin_tokens")
            .as("n_bins"))
        .withColumn("fill_ratio",
          col("total_tokens").cast("double") /
            (col("n_bins") * col("bin_tokens")).cast("double"))
        .orderBy(col("lang"), col("bin_tokens"))
    }),

    // VOCABULARY-SIZE SWEEP — the word-level tokenizer knob between
    // t13 (coverage of one fixed vocab) and t37 (BPE merges): for
    // vocab sizes {1024, 4096, 16384}, if the vocabulary is the top-V
    // corpus words (count desc, ties by word — deterministic in both
    // engines), what fraction of running tokens is covered and what
    // OOV rate a model at that vocab pays. token_coverage uses exact
    // long sums; the rank is ONE window over the VOCABULARY frame
    // (Heaps-law sublinear in corpus size — t13's declared class; the
    // 100 TB escape hatch is a df-floor prefilter, which changes
    // nothing here because every V of interest sits far above the
    // floor). Scale shape: word rollup with map-side combine, window
    // over types, 3 conditional sums.
    "t48_vocab_sweep" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val sizes = Seq(1024L, 4096L, 16384L)
      val wRank = Window.orderBy(col("cnt").desc, col("w"))
      val types = Tables.documents(s, d)
        .select(explode(expr(
          "filter(split(trim(text), ' '), x -> x <> '')")).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
        .withColumn("rk", row_number().over(wRank))
      val aggs = Seq(count(lit(1)).as("n_types"),
        sum(col("cnt")).as("total_tokens")) ++ sizes.map(v =>
        sum(when(col("rk") <= v, col("cnt")).otherwise(0L))
          .as(s"cov_$v"))
      types.agg(aggs.head, aggs.tail: _*)
        .select(col("n_types"), col("total_tokens"),
          explode(array(sizes.map(v => struct(lit(v).as("vocab_size"),
            col(s"cov_$v").as("tokens_covered"))): _*)).as("e"))
        .select(col("e.vocab_size").as("vocab_size"), col("n_types"),
          col("total_tokens"),
          col("e.tokens_covered").as("tokens_covered"),
          (col("e.tokens_covered").cast("double") /
            col("total_tokens").cast("double")).as("token_coverage"),
          (lit(1.0) - col("e.tokens_covered").cast("double") /
            col("total_tokens").cast("double")).as("oov_rate"),
          (least(col("e.vocab_size"), col("n_types")).cast("double") /
            col("n_types").cast("double")).as("type_coverage"))
        .orderBy(col("vocab_size"))
    })
  )

  /** t07's engine as a library surface: pack `docs(doc_id, lang, text)`
    * into fixed-token-budget bins via [[Packing.twoPhasePrefixSum]]
    * (the shared 100 TB running-sum shape; see its scaladoc for the
    * block-partitioned design and the `blkSize` trade-off).
    * `materialize` picks the strategy for the single cut point where
    * the narrow token frame is stored for both phases —
    * [[Materialize.LocalCheckpoint]] (default) on local/small clusters,
    * [[Materialize.Persist]] / [[Materialize.ReliableCheckpoint]] where
    * executor loss must not kill the query. Output is identical under
    * every strategy (pinned by PipelineSpec).
    */
  def sequencePacking(docs: DataFrame, blkSize: Long = 4096L,
      binTokens: Long = 512L,
      materialize: Materialize = Materialize.LocalCheckpoint): DataFrame =
    Packing.twoPhasePrefixSum(
      docs.withColumn("n_tokens", size(split(trim(col("text")), " ")))
        .select(col("doc_id"), col("lang"), col("n_tokens")),
      "lang", "n_tokens", blkSize, materialize)
      .withColumn("cum_tokens", col("cum"))
      .withColumn("bin",
        expr(s"(cum_tokens - n_tokens) div $binTokens"))
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        col("cum_tokens"), col("bin"))
      .orderBy(col("doc_id"))

  def oracleSql: Map[String, String] = Map(
    "t01_token_stats" ->
      """SELECT doc_id,
         CAST(LEN(string_split(TRIM(text), ' ')) AS INT) AS n_tokens,
         CAST(LEN(list_distinct(string_split(TRIM(text), ' '))) AS INT)
           AS n_distinct_tokens,
         CAST(LEN(regexp_extract_all(text, '[a-z0-9]+|[^a-z0-9 ]')) AS INT)
           AS n_bpe_tokens,
         CAST(LENGTH(text) AS INT) AS n_chars_actual,
         n_chars AS n_chars_meta
         FROM documents ORDER BY doc_id""",

    "t02_quality_score" ->
      """WITH w AS (SELECT doc_id, text,
           string_split(TRIM(text), ' ') AS words FROM documents),
         m AS (SELECT doc_id, text, words,
           CAST(LEN(words) AS INT) AS n_tokens,
           CAST(LEN(list_filter(words,
             w -> w IN ('the', 'and', 'of', 'to', 'a', 'in', 'is'))) AS INT)
             AS n_stop,
           CAST(LEN(list_distinct(words)) AS DOUBLE) / LEN(words)
             AS distinct_ratio
           FROM w)
         SELECT doc_id, n_tokens, n_stop,
           CAST(n_stop AS DOUBLE) / n_tokens AS stop_ratio,
           distinct_ratio,
           CAST(LENGTH(text) - n_tokens + 1 AS DOUBLE) / n_tokens
             AS mean_token_len,
           CASE WHEN n_tokens < 10 THEN 'too_short'
                WHEN distinct_ratio < 0.5 THEN 'repetitive'
                WHEN CAST(n_stop AS DOUBLE) / n_tokens > 0.4 THEN 'boilerplate'
                ELSE 'ok' END AS quality
         FROM m ORDER BY doc_id""",

    "t03_langid" ->
      """WITH w AS (SELECT doc_id, lang,
           string_split(TRIM(text), ' ') AS words FROM documents),
         sc AS (SELECT doc_id, lang,
           CAST(LEN(list_filter(words, w -> w IN ('the','and','of','to'))) AS INT) AS s_en,
           CAST(LEN(list_filter(words, w -> w IN ('el','la','los','de'))) AS INT) AS s_es,
           CAST(LEN(list_filter(words, w -> w IN ('der','die','das','und'))) AS INT) AS s_de,
           CAST(LEN(list_filter(words, w -> w IN ('le','les','des','et'))) AS INT) AS s_fr
           FROM w)
         SELECT doc_id, s_en, s_es, s_de, s_fr,
           CASE WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en'
                WHEN s_es >= s_de AND s_es >= s_fr THEN 'es'
                WHEN s_de >= s_fr THEN 'de'
                ELSE 'fr' END AS pred_lang,
           (CASE WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en'
                WHEN s_es >= s_de AND s_es >= s_fr THEN 'es'
                WHEN s_de >= s_fr THEN 'de'
                ELSE 'fr' END) = lang AS matches_label
         FROM sc ORDER BY doc_id""",

    "t32_langid_confusion" ->
      """WITH w AS (SELECT doc_id, lang,
           string_split(TRIM(text), ' ') AS words FROM documents),
         sc AS (SELECT doc_id, lang,
           CAST(LEN(list_filter(words, w -> w IN ('the','and','of','to'))) AS INT) AS s_en,
           CAST(LEN(list_filter(words, w -> w IN ('el','la','los','de'))) AS INT) AS s_es,
           CAST(LEN(list_filter(words, w -> w IN ('der','die','das','und'))) AS INT) AS s_de,
           CAST(LEN(list_filter(words, w -> w IN ('le','les','des','et'))) AS INT) AS s_fr
           FROM w),
         p AS (SELECT lang,
           CASE WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en'
                WHEN s_es >= s_de AND s_es >= s_fr THEN 'es'
                WHEN s_de >= s_fr THEN 'de'
                ELSE 'fr' END AS pred_lang
           FROM sc)
         SELECT lang, pred_lang, COUNT(1) AS n_docs,
           CAST(COUNT(1) AS DOUBLE)
             / CAST(CAST(SUM(COUNT(1)) OVER (PARTITION BY lang)
                 AS BIGINT) AS DOUBLE) AS row_share,
           lang = pred_lang AS correct
         FROM p GROUP BY lang, pred_lang
         ORDER BY lang, pred_lang""",

    "t33_mixture_resample" ->
      s"""WITH docs AS (SELECT doc_id, lang,
             CAST(LEN(string_split(TRIM(text), ' ')) AS BIGINT) AS nt
           FROM documents),
         r0 AS (SELECT lang, COUNT(1) AS n_before,
                  CAST(SUM(nt) AS BIGINT) AS tok_before
                FROM docs GROUP BY 1),
         r1 AS (SELECT *, CAST(tok_before AS DOUBLE)
                  / CAST(CAST(SUM(tok_before) OVER () AS BIGINT)
                      AS DOUBLE) AS actual_share,
                  CASE lang WHEN 'en' THEN 0.45 WHEN 'es' THEN 0.20
                            WHEN 'de' THEN 0.20 WHEN 'fr' THEN 0.10
                            ELSE 0.05 END AS target_share
                FROM r0),
         r2 AS (SELECT *, target_share / actual_share AS ratio FROM r1),
         r3 AS (SELECT *, CAST(round((ratio / MAX(ratio) OVER ())
                  * 1000000) AS BIGINT) AS thr FROM r2),
         h AS (SELECT doc_id, lang, nt,
                 ${md5Hash60Sql("CAST(doc_id AS VARCHAR)")} % 1000000 AS b
               FROM docs),
         kept AS (SELECT h.lang, COUNT(1) AS n_after,
                    CAST(SUM(h.nt) AS BIGINT) AS tok_after
                  FROM h JOIN r3 ON h.lang = r3.lang
                  WHERE h.b < r3.thr GROUP BY 1)
         SELECT r3.lang, n_before,
           COALESCE(n_after, 0) AS n_after, tok_before,
           COALESCE(tok_after, 0) AS tok_after, target_share,
           CAST(COALESCE(tok_after, 0) AS DOUBLE)
             / CAST(CAST(SUM(COALESCE(tok_after, 0)) OVER ()
                 AS BIGINT) AS DOUBLE) AS achieved_share,
           achieved_share - target_share AS deviation
         FROM r3 LEFT JOIN kept ON r3.lang = kept.lang
         ORDER BY r3.lang""",

    "t06_tfidf_top_terms" ->
      """WITH w AS (SELECT doc_id, UNNEST(string_split(TRIM(text), ' ')) AS w
                    FROM documents),
         occ AS (SELECT doc_id, w, COUNT(1) AS occ FROM w
                 WHERE w <> '' GROUP BY doc_id, w),
         df AS (SELECT w, COUNT(1) AS df FROM occ GROUP BY w),
         sc AS (SELECT occ.doc_id, occ.w, occ.occ, df.df,
                  CAST(occ.occ AS DOUBLE) / df.df AS score,
                  ROW_NUMBER() OVER (PARTITION BY occ.doc_id
                    ORDER BY CAST(occ.occ AS DOUBLE) / df.df DESC, occ.w)
                    AS rank
                FROM occ JOIN df USING (w))
         SELECT doc_id, CAST(rank AS INT) AS rank, w AS term, occ, df, score
         FROM sc WHERE rank <= 3 ORDER BY doc_id, rank""",

    "t07_sequence_packing" ->
      """WITH t AS (SELECT doc_id, lang,
           CAST(LEN(string_split(TRIM(text), ' ')) AS INT) AS n_tokens
           FROM documents)
         SELECT doc_id, lang, n_tokens,
           CAST(SUM(n_tokens) OVER w AS BIGINT) AS cum_tokens,
           CAST((SUM(n_tokens) OVER w - n_tokens) // 512 AS BIGINT) AS bin
         FROM t
         WINDOW w AS (PARTITION BY lang ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         ORDER BY doc_id""",

    "t08_stratified_sample" ->
      s"""WITH h AS (SELECT doc_id, lang,
           ${md5Hash60Sql("CAST(doc_id AS VARCHAR)")} % 100 AS bucket
           FROM documents)
         SELECT doc_id, lang, CAST(bucket AS INT) AS bucket,
           CASE WHEN lang = 'en' THEN 50 WHEN lang = 'de' THEN 25
                ELSE 10 END AS keep_pct
         FROM h
         WHERE bucket < CASE WHEN lang = 'en' THEN 50 WHEN lang = 'de' THEN 25
                             ELSE 10 END
         ORDER BY doc_id""",

    "t09_fuzzy_blocked_pairs" ->
      """WITH b AS (SELECT doc_id, lang,
           string_split(TRIM(text), ' ')[1] || '|' ||
             substring(text, 1, 16) AS blk,
           substring(text, 1, 400) AS head FROM documents)
         SELECT a.doc_id AS doc_a, c.doc_id AS doc_b,
           CAST(levenshtein(a.head, c.head) AS INT) AS lev
         FROM b a JOIN b c
           ON a.lang = c.lang AND a.blk = c.blk AND a.doc_id < c.doc_id
         WHERE levenshtein(a.head, c.head) <= 60
         ORDER BY doc_a, doc_b""",

    "t10_source_filter" ->
      """WITH st AS (SELECT doc_id, source,
           CAST(LEN(string_split(TRIM(text), ' ')) AS INT) AS nt,
           CAST(LEN(list_distinct(string_split(TRIM(text), ' '))) AS INT)
             AS nd
           FROM documents),
         src AS (SELECT source, CAST(SUM(nt) AS BIGINT) AS src_tokens,
                        CAST(SUM(nd) AS BIGINT) AS src_distinct
                 FROM st GROUP BY source
                 HAVING SUM(nd) * 100 >= SUM(nt) * 43)
         SELECT st.doc_id, st.source, src.src_tokens, src.src_distinct
         FROM st JOIN src USING (source)
         ORDER BY st.doc_id""",

    "t11_repetition_filter" ->
      """WITH w AS (SELECT doc_id, string_split(TRIM(text), ' ') AS words
                    FROM documents),
         g AS (SELECT doc_id,
                 UNNEST(list_transform(
                   generate_series(1, GREATEST(LEN(words) - 2, 0)),
                   i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]))
                 AS gram
               FROM w),
         c AS (SELECT doc_id, gram, COUNT(1) AS cnt FROM g
               GROUP BY doc_id, gram),
         a AS (SELECT doc_id, CAST(SUM(cnt) AS INT) AS n_grams,
                 CAST(SUM(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS INT)
                   AS n_dup_pos
               FROM c GROUP BY doc_id)
         SELECT w.doc_id,
           COALESCE(a.n_grams, 0) AS n_grams,
           COALESCE(a.n_dup_pos, 0) AS n_dup_pos,
           CASE WHEN COALESCE(a.n_grams, 0) = 0 THEN 0.0
                ELSE CAST(a.n_dup_pos AS DOUBLE) / a.n_grams END AS dup_frac,
           (CASE WHEN COALESCE(a.n_grams, 0) = 0 THEN 0.0
                 ELSE CAST(a.n_dup_pos AS DOUBLE) / a.n_grams END) > 0.2
             AS flag_repetitive
         FROM w LEFT JOIN a USING (doc_id) ORDER BY doc_id""",

    "t12_doc_chunking" ->
      """WITH w AS (SELECT doc_id, string_split(TRIM(text), ' ') AS words
                    FROM documents),
         c AS (SELECT doc_id, words,
                 UNNEST(generate_series(0,
                   GREATEST((LEN(words) - 17) // 48, 0)))
                   AS chunk_idx
               FROM w)
         SELECT doc_id, chunk_idx,
           array_to_string(words[(chunk_idx*48 + 1):(chunk_idx*48 + 64)], ' ')
             AS chunk_text,
           LEAST(LEN(words) - chunk_idx*48, 64) AS n_chunk_tokens
         FROM c ORDER BY doc_id, chunk_idx""",

    "t13_vocab_coverage" ->
      """WITH t AS (SELECT UNNEST(string_split(TRIM(text), ' ')) AS term
                    FROM documents),
         c AS (SELECT term, COUNT(1) AS cnt FROM t
               WHERE term <> '' GROUP BY term),
         r AS (SELECT term, cnt,
                 ROW_NUMBER() OVER (ORDER BY cnt DESC, term) AS rank,
                 SUM(cnt) OVER (ORDER BY cnt DESC, term
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum_cnt,
                 SUM(cnt) OVER () AS total
               FROM c)
         SELECT CAST(rank AS INT) AS rank, term, cnt,
           CAST(cum_cnt AS BIGINT) AS cum_cnt,
           CAST(cum_cnt AS DOUBLE) / total AS cum_share
         FROM r WHERE rank <= 30 ORDER BY rank""",

    "t14_mixture_weights" ->
      """WITH lt AS (SELECT lang,
           CAST(SUM(LEN(string_split(TRIM(text), ' '))) AS BIGINT)
             AS lang_tokens
           FROM documents GROUP BY lang),
         sh AS (SELECT lang, lang_tokens,
                  CAST(lang_tokens AS DOUBLE) / SUM(lang_tokens) OVER ()
                    AS actual_share,
                  CASE lang WHEN 'en' THEN 0.45 WHEN 'es' THEN 0.20
                            WHEN 'de' THEN 0.20 WHEN 'fr' THEN 0.10
                            ELSE 0.05 END AS target_share
                FROM lt),
         rt AS (SELECT *, target_share / actual_share AS ratio FROM sh)
         SELECT lang, lang_tokens, actual_share, target_share,
           ratio / MAX(ratio) OVER () AS sample_rate
         FROM rt ORDER BY lang""",

    "t15_leakage_safe_split" ->
      s"""WITH f AS (SELECT doc_id, MD5(text) AS fp FROM documents),
         r AS (SELECT fp, MIN(doc_id) AS rep FROM f GROUP BY fp),
         j AS (SELECT f.doc_id, r.rep,
                 CAST(${md5Hash60Sql("CAST(r.rep AS VARCHAR)")} % 100 AS INT) AS bucket
               FROM f JOIN r USING (fp))
         SELECT doc_id, rep, bucket,
           CASE WHEN bucket < 90 THEN 'train'
                WHEN bucket < 95 THEN 'val'
                ELSE 'test' END AS split
         FROM j ORDER BY doc_id""",

    "t04_rolling_fingerprint" ->
      """WITH w AS (SELECT doc_id, string_split(TRIM(text), ' ') AS words
                    FROM documents),
         tok AS (SELECT doc_id, LENGTH(words[i]) AS wl, i - 1 AS idx
                 FROM w, UNNEST(GENERATE_SERIES(1, LEN(words))) AS t(i))
         SELECT doc_id,
           CAST(SUM(wl * CAST(POW(31, idx % 8) AS BIGINT)) % 2147483647
             AS BIGINT) AS fingerprint
         FROM tok GROUP BY doc_id ORDER BY doc_id""",

    "t16_unigram_quality" ->
      """WITH t AS (SELECT doc_id, UNNEST(string_split(TRIM(text), ' '))
                      AS w
                    FROM documents),
         tk AS (SELECT doc_id, w FROM t WHERE w <> ''),
         c AS (SELECT w, COUNT(1) AS cnt FROM tk GROUP BY w),
         v AS (SELECT w, cnt,
                 ROW_NUMBER() OVER (ORDER BY cnt DESC, w) <= 1000
                   AS in_vocab
               FROM c)
         SELECT tk.doc_id, COUNT(1) AS n_tokens,
           CAST(SUM(v.cnt) AS BIGINT) AS freq_sum,
           CAST(SUM(CASE WHEN v.in_vocab THEN 0 ELSE 1 END) AS BIGINT)
             AS n_oov,
           CAST(CAST(SUM(v.cnt) AS BIGINT) AS DOUBLE) / COUNT(1)
             AS avg_tok_freq,
           CAST(CAST(SUM(CASE WHEN v.in_vocab THEN 0 ELSE 1 END)
                  AS BIGINT) AS DOUBLE) / COUNT(1) AS oov_rate
         FROM tk JOIN v USING (w)
         GROUP BY tk.doc_id ORDER BY doc_id""",

    // t16's oracle at bigram granularity; generate_series(1, 0) is
    // empty in DuckDB, so sub-2-word docs contribute no bigrams on
    // either side
    "t21_bigram_quality" ->
      """WITH w AS (SELECT doc_id,
             list_filter(string_split(TRIM(text), ' '), x -> x <> '')
               AS ws
           FROM documents),
         bg AS (SELECT doc_id, ws[i] || ' ' || ws[i + 1] AS b
                FROM w, UNNEST(generate_series(1, LEN(ws) - 1)) AS t(i)),
         c AS (SELECT b, COUNT(1) AS cnt FROM bg GROUP BY b),
         v AS (SELECT b, cnt,
                 ROW_NUMBER() OVER (ORDER BY cnt DESC, b) <= 1000
                   AS in_vocab
               FROM c)
         SELECT bg.doc_id, COUNT(1) AS n_bigrams,
           CAST(SUM(v.cnt) AS BIGINT) AS freq_sum,
           CAST(SUM(CASE WHEN v.in_vocab THEN 0 ELSE 1 END) AS BIGINT)
             AS n_oov,
           CAST(CAST(SUM(v.cnt) AS BIGINT) AS DOUBLE) / COUNT(1)
             AS avg_bigram_freq,
           CAST(CAST(SUM(CASE WHEN v.in_vocab THEN 0 ELSE 1 END)
                  AS BIGINT) AS DOUBLE) / COUNT(1) AS oov_rate
         FROM bg JOIN v USING (b)
         GROUP BY bg.doc_id ORDER BY doc_id""",

    // same 16-word chunk + 60-bit md5-prefix integer as the Spark side
    "t20_source_overlap" ->
      s"""WITH w AS (SELECT source, string_split(TRIM(text), ' ') AS words
                    FROM documents),
         cf AS (SELECT DISTINCT source,
                  ${md5Hash60Sql("array_to_string( words[(p*16 + 1):(p*16 + 16)], ' ')")} AS fp
                FROM w, UNNEST(generate_series(0, (LEN(words) - 1) // 16))
                  AS t(p))
         SELECT a.source AS source_a, b.source AS source_b,
           COUNT(1) AS n_shared
         FROM cf a JOIN cf b ON a.fp = b.fp AND a.source < b.source
         GROUP BY 1, 2 ORDER BY source_a, source_b""",

    // identical 60-bit md5-prefix integer fingerprint (d05/q51 idiom)
    "t19_source_novelty" ->
      s"""WITH w AS (SELECT source, string_split(TRIM(text), ' ') AS words
                    FROM documents),
         g AS (SELECT DISTINCT source,
                 ${md5Hash60Sql("array_to_string(words[p:p+7], ' ')")} AS fp
               FROM w, UNNEST(generate_series(1,
                 GREATEST(LEN(words) - 7, 0))) AS t(p)),
         f AS (SELECT fp, MIN(source) AS first_src FROM g GROUP BY fp)
         SELECT g.source, COUNT(1) AS n_grams,
           CAST(SUM(CASE WHEN f.first_src = g.source THEN 1 ELSE 0 END)
             AS BIGINT) AS n_new,
           CAST(SUM(CASE WHEN f.first_src = g.source THEN 1 ELSE 0 END)
             AS DOUBLE) / COUNT(1) AS novelty_rate
         FROM g JOIN f USING (fp)
         GROUP BY g.source ORDER BY g.source""",

    "t17_boilerplate_chunks" ->
      """WITH w AS (SELECT doc_id, string_split(TRIM(text), ' ') AS words
                    FROM documents),
         ch AS (SELECT doc_id,
                  array_to_string(words[(i*16 + 1):(i*16 + 16)], ' ')
                    AS chunk
                FROM w, UNNEST(generate_series(0, (LEN(words) - 1) // 16))
                  AS t(i)),
         b AS (SELECT chunk FROM ch GROUP BY chunk
               HAVING COUNT(DISTINCT doc_id) >= 2)
         SELECT ch.doc_id, COUNT(1) AS n_chunks,
           CAST(SUM(CASE WHEN b.chunk IS NOT NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS n_boiler,
           CAST(SUM(CASE WHEN b.chunk IS NOT NULL THEN 1 ELSE 0 END)
             AS DOUBLE) / COUNT(1) AS boiler_frac
         FROM ch LEFT JOIN b USING (chunk)
         GROUP BY ch.doc_id ORDER BY doc_id""",

    "t18_token_budget" ->
      """WITH pc AS (SELECT MD5(text) AS fp,
             MIN(LEN(string_split(TRIM(text), ' '))) AS nt,
             COUNT(1) AS copies
           FROM documents GROUP BY MD5(text))
         SELECT CAST(SUM(nt * copies) AS BIGINT) AS total_tokens,
           CAST(SUM(nt) AS BIGINT) AS deduped_tokens,
           COUNT(1) AS n_distinct_docs,
           CAST(SUM(copies) AS BIGINT) AS n_docs,
           CAST(CAST(SUM(nt * copies) AS BIGINT) AS DOUBLE)
             / CAST(SUM(nt) AS BIGINT) AS duplication_factor
         FROM pc""",

    "t27_bigram_lift" ->
      """WITH docs AS (SELECT string_split(TRIM(text), ' ') AS l
                       FROM documents),
         bg AS (SELECT f.l[i] AS w1, f.l[i+1] AS w2
                FROM (SELECT l FROM docs WHERE LEN(l) >= 2) f,
                     UNNEST(range(1, LEN(f.l))) AS t(i)),
         pc AS (SELECT w1, w2, COUNT(1) AS pair_cnt FROM bg GROUP BY 1, 2),
         uni AS (SELECT word, COUNT(1) AS cnt
                 FROM (SELECT UNNEST(l) AS word FROM docs) GROUP BY 1),
         tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM uni)
         SELECT w1, w2, pair_cnt, cnt_a, cnt_b, lift FROM (
           SELECT w1, w2, pair_cnt, a.cnt AS cnt_a, b.cnt AS cnt_b,
             CAST(pair_cnt AS DOUBLE) * CAST(total AS DOUBLE)
               / (CAST(a.cnt AS DOUBLE) * CAST(b.cnt AS DOUBLE)) AS lift
           FROM pc JOIN uni a ON pc.w1 = a.word
                   JOIN uni b ON pc.w2 = b.word
                   CROSS JOIN tot) s
         QUALIFY ROW_NUMBER() OVER (ORDER BY lift DESC, w1, w2) <= 30
         ORDER BY lift DESC, w1, w2""",

    "t28_term_burstiness" ->
      """WITH docs AS (SELECT doc_id, string_split(TRIM(text), ' ') AS l
                       FROM documents),
         pd AS (SELECT word, doc_id, COUNT(1) AS c
                FROM (SELECT doc_id, UNNEST(l) AS word FROM docs)
                GROUP BY 1, 2),
         nd AS (SELECT COUNT(1) AS n_docs FROM docs),
         terms AS (SELECT word, COUNT(1) AS df,
                     CAST(SUM(c) AS BIGINT) AS total_cnt,
                     CAST(SUM(c * c) AS BIGINT) AS sum_sq
                   FROM pd GROUP BY 1)
         SELECT word, df, total_cnt, mean, vmr FROM (
           SELECT word, df, total_cnt,
             CAST(total_cnt AS DOUBLE) / CAST(n_docs AS DOUBLE) AS mean,
             (CAST(sum_sq AS DOUBLE) / CAST(n_docs AS DOUBLE)
               - (CAST(total_cnt AS DOUBLE) / CAST(n_docs AS DOUBLE))
                 * (CAST(total_cnt AS DOUBLE) / CAST(n_docs AS DOUBLE)))
               / (CAST(total_cnt AS DOUBLE) / CAST(n_docs AS DOUBLE))
               AS vmr,
             ROW_NUMBER() OVER (ORDER BY df DESC, word) AS rk
           FROM terms CROSS JOIN nd) t
         WHERE rk <= 40 ORDER BY word""",

    "t29_coverage_curve" ->
      s"""WITH w AS (SELECT doc_id, string_split(TRIM(text), ' ') AS ws
                    FROM documents),
         wf AS (SELECT doc_id, ws FROM w WHERE LEN(ws) >= 8),
         sg AS (SELECT DISTINCT
                  CAST(${md5Hash60Sql("'shard|' || CAST(doc_id AS VARCHAR)")} % 16 AS INT) AS shard,
                  ${md5Hash60Sql("array_to_string(ws[i:i+7], ' ')")} AS fp
                FROM wf, UNNEST(GENERATE_SERIES(1, LEN(ws) - 7)) AS t(i)),
         f AS (SELECT shard, fp,
                 MIN(shard) OVER (PARTITION BY fp) AS first_shard
               FROM sg),
         per AS (SELECT shard, COUNT(1) AS n_grams,
                   CAST(SUM(CASE WHEN first_shard = shard THEN 1
                     ELSE 0 END) AS BIGINT) AS n_new
                 FROM f GROUP BY shard)
         SELECT shard, n_grams, n_new,
           CAST(SUM(n_new) OVER (ORDER BY shard
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS cum_distinct,
           CAST(n_new AS DOUBLE) / CAST(n_grams AS DOUBLE)
             AS novelty_rate
         FROM per ORDER BY shard""",

    // same zero-filled pooled-jump-point grid; integer cross-multiplied
    // numerator decides the max, one final division
    "t36_ks_drift" ->
      """WITH counts AS (SELECT source, n_chars, COUNT(1) AS c
           FROM documents GROUP BY 1, 2),
         vals AS (SELECT DISTINCT n_chars FROM documents),
         srcs AS (SELECT source, COUNT(1) AS n_s FROM documents
           GROUP BY 1),
         tot AS (SELECT COUNT(1) AS n_all FROM documents),
         pv AS (SELECT n_chars, CAST(SUM(c) AS BIGINT) AS ct
           FROM counts GROUP BY 1),
         cumt AS (SELECT n_chars, CAST(SUM(ct) OVER (ORDER BY n_chars
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS cum_t
           FROM pv),
         grid AS (SELECT s.source, v.n_chars,
             COALESCE(c.c, 0) AS c
           FROM vals v CROSS JOIN (SELECT source FROM srcs) s
           LEFT JOIN counts c
             ON c.source = s.source AND c.n_chars = v.n_chars),
         cums AS (SELECT source, n_chars,
             CAST(SUM(c) OVER (PARTITION BY source ORDER BY n_chars
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum_s
           FROM grid),
         nums AS (SELECT g.source,
             abs(g.cum_s * (t.n_all - s.n_s)
               - (ct.cum_t - g.cum_s) * s.n_s) AS num,
             s.n_s, t.n_all
           FROM cums g
           JOIN cumt ct ON ct.n_chars = g.n_chars
           JOIN srcs s ON s.source = g.source
           CROSS JOIN tot t)
         SELECT source, CAST(MAX(n_s) AS BIGINT) AS n_docs,
           CAST(CAST(MAX(num) AS BIGINT) AS DOUBLE)
             / CAST(MAX(n_s) * (MAX(n_all) - MAX(n_s)) AS DOUBLE)
             AS ks_stat
         FROM nums GROUP BY source ORDER BY source""",

    // within-source rank by the portable 60-bit hash (Horner md5 parse,
    // t24's idiom with a 'split|' prefix); integer // thresholds
    "t43_stratified_split" ->
      s"""WITH h AS (SELECT doc_id, source,
           CAST(LEN(string_split(TRIM(text), ' ')) AS BIGINT) AS toks,
           ${md5Hash60Sql("'split|' || CAST(doc_id AS VARCHAR)")} AS h
           FROM documents),
         r AS (SELECT *,
           ROW_NUMBER() OVER (PARTITION BY source ORDER BY h, doc_id)
             AS r_in_src,
           COUNT(1) OVER (PARTITION BY source) AS n_src FROM h),
         a AS (SELECT source, toks, r_in_src,
           CASE WHEN r_in_src <= (n_src * 8) // 10 THEN 'train'
                WHEN r_in_src <= (n_src * 9) // 10 THEN 'val'
                ELSE 'test' END AS split FROM r)
         SELECT source, split, COUNT(1) AS n_docs,
           CAST(SUM(toks) AS BIGINT) AS n_tokens,
           CAST(MIN(r_in_src) AS BIGINT) AS r_lo,
           CAST(MAX(r_in_src) AS BIGINT) AS r_hi
         FROM a GROUP BY 1, 2 ORDER BY 1, 2""",

    // add-one bigram LM; NLL terms quantized to DECIMAL(18,9) before
    // the sum (ln is libm on both engines — see the Spark twin)
    "t44_bigram_cross_entropy" ->
      """WITH w AS (SELECT doc_id, lang,
           list_filter(string_split(TRIM(text), ' '), x -> x <> '') AS ws
           FROM documents),
         bg AS (SELECT doc_id, lang, ws[i] AS w1, ws[i + 1] AS w2
           FROM w, UNNEST(generate_series(1, len(ws) - 1)) AS t(i)
           WHERE len(ws) >= 2),
         tr AS (SELECT * FROM bg WHERE doc_id % 10 != 7),
         ev AS (SELECT * FROM bg WHERE doc_id % 10 = 7),
         c2 AS (SELECT lang, w1, w2, CAST(COUNT(1) AS BIGINT) AS c2
           FROM tr GROUP BY 1, 2, 3),
         c1 AS (SELECT lang, w1, CAST(COUNT(1) AS BIGINT) AS c1
           FROM tr GROUP BY 1, 2),
         vs AS (SELECT lang, CAST(COUNT(DISTINCT w2) AS BIGINT) AS v
           FROM tr GROUP BY 1),
         j AS (SELECT ev.lang, COALESCE(c2.c2, 0) AS c2n,
             COALESCE(c1.c1, 0) AS c1n, vs.v
           FROM ev LEFT JOIN c2 ON ev.lang = c2.lang
             AND ev.w1 = c2.w1 AND ev.w2 = c2.w2
           LEFT JOIN c1 ON ev.lang = c1.lang AND ev.w1 = c1.w1
           LEFT JOIN vs ON ev.lang = vs.lang),
         t AS (SELECT lang, c2n,
             ln(CAST(c2n + 1 AS DOUBLE) / CAST(c1n + v AS DOUBLE)) AS lp
           FROM j),
         agg AS (SELECT lang,
             CAST(COUNT(1) AS BIGINT) AS n_eval_bigrams,
             CAST(SUM(CASE WHEN c2n = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_unseen,
             CAST(CAST(SUM(CAST(-lp AS DECIMAL(18, 9))) AS VARCHAR)
               AS DOUBLE) AS nll_sum
           FROM t GROUP BY 1)
         SELECT lang, n_eval_bigrams, n_unseen, nll_sum,
           nll_sum / CAST(n_eval_bigrams AS DOUBLE) AS cross_entropy_nats,
           CAST(n_unseen AS DOUBLE) / CAST(n_eval_bigrams AS DOUBLE)
             AS unseen_rate
         FROM agg ORDER BY lang""",

    "t45_chao1_vocab" ->
      """WITH w AS (SELECT doc_id, lang,
           list_filter(string_split(TRIM(text), ' '), x -> x <> '') AS ws
           FROM documents),
         bg AS (SELECT lang, ws[i] || ' ' || ws[i + 1] AS b
           FROM w, UNNEST(generate_series(1, len(ws) - 1)) AS t(i)
           WHERE len(ws) >= 2),
         cnt AS (SELECT lang, b, CAST(COUNT(1) AS BIGINT) AS c
           FROM bg GROUP BY 1, 2),
         cc AS (SELECT lang, CAST(COUNT(1) AS BIGINT) AS s_obs,
             CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n1,
             CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n2
           FROM cnt GROUP BY 1)
         SELECT lang, s_obs, n1, n2,
           CASE WHEN n2 > 0 THEN CAST(s_obs AS DOUBLE) +
             CAST(n1 * n1 AS DOUBLE) / CAST(2 * n2 AS DOUBLE) END
             AS chao1,
           CAST(s_obs AS DOUBLE) +
             CAST(n1 * (n1 - 1) AS DOUBLE) /
               CAST(2 * (n2 + 1) AS DOUBLE) AS chao1_bc
         FROM cc ORDER BY lang""",

    // sqrt-chain powers (no libm pow); per-alpha totals fold over the
    // lang-sorted list in one fixed sequence (q133 idiom)
    "t46_temperature_mixture" -> {
      def w(x: String, a: String) = a match {
        case "1.0"  => s"CAST($x AS DOUBLE)"
        case "0.5"  => s"sqrt(CAST($x AS DOUBLE))"
        case "0.25" => s"sqrt(sqrt(CAST($x AS DOUBLE)))"
      }
      def tot(a: String) =
        s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
           list_transform(arr, x -> ${w("x.n", a)})),
           (acc, b) -> acc + b)"""
      s"""WITH lt AS (SELECT lang,
           CAST(SUM(LEN(list_filter(string_split(TRIM(text), ' '),
             x -> x <> ''))) AS BIGINT) AS n
           FROM documents GROUP BY 1),
         one AS (SELECT
             list({'lang': lang, 'n': n} ORDER BY lang) AS arr,
             CAST(SUM(n) AS BIGINT) AS ntot FROM lt),
         tots AS (SELECT arr, ntot,
             ${tot("1.0")} AS tot_a100,
             ${tot("0.5")} AS tot_a050,
             ${tot("0.25")} AS tot_a025 FROM one),
         el AS (SELECT ntot, tot_a100, tot_a050, tot_a025,
             arr[i].lang AS lang, arr[i].n AS n
           FROM tots, UNNEST(generate_series(1, len(arr))) AS t(i)),
         ex AS (
           SELECT '1.0' AS alpha, lang, n,
             ${w("n", "1.0")} / tot_a100 AS share, ntot FROM el
           UNION ALL
           SELECT '0.5', lang, n, ${w("n", "0.5")} / tot_a050, ntot
           FROM el
           UNION ALL
           SELECT '0.25', lang, n, ${w("n", "0.25")} / tot_a025, ntot
           FROM el)
         SELECT alpha, lang, n AS n_tokens, share,
           share * CAST(ntot AS DOUBLE) / CAST(n AS DOUBLE)
             AS repetition_factor
         FROM ex ORDER BY alpha, lang"""
    },

    // t47: one conditional-sum rollup, bin configs via UNION ALL
    "t47_packing_sweep" -> {
      def cfg(b: Long) =
        s"""SELECT lang, CAST($b AS BIGINT) AS bin_tokens, n_docs,
             total_tokens, over_$b AS n_docs_truncated,
             lost_$b AS tokens_lost,
             CAST(lost_$b AS DOUBLE) / CAST(total_tokens AS DOUBLE)
               AS loss_rate,
             (total_tokens + $b - 1) // $b AS n_bins,
             CAST(total_tokens AS DOUBLE) /
               CAST(((total_tokens + $b - 1) // $b) * $b AS DOUBLE)
               AS fill_ratio
           FROM per"""
      val sums = Seq(256L, 512L, 1024L, 2048L).map(b =>
        s"""CAST(SUM(CASE WHEN nt > $b THEN 1 ELSE 0 END) AS BIGINT)
             AS over_$b,
           CAST(SUM(CASE WHEN nt > $b THEN nt - $b ELSE 0 END) AS BIGINT)
             AS lost_$b""").mkString(",\n           ")
      s"""WITH t AS (SELECT lang,
           CAST(LEN(list_filter(string_split(TRIM(text), ' '),
             x -> x <> '')) AS BIGINT) AS nt FROM documents),
         per AS (SELECT lang, CAST(COUNT(1) AS BIGINT) AS n_docs,
             CAST(SUM(nt) AS BIGINT) AS total_tokens,
             $sums
           FROM t GROUP BY lang)
         ${Seq(256L, 512L, 1024L, 2048L).map(cfg)
            .mkString("\n         UNION ALL\n         ")}
         ORDER BY lang, bin_tokens"""
    },

    // t48: top-V word vocab (count desc, word asc), 3 conditional sums
    "t48_vocab_sweep" -> {
      def row(v: Long) =
        s"""SELECT CAST($v AS BIGINT) AS vocab_size, n_types,
             total_tokens, cov_$v AS tokens_covered,
             CAST(cov_$v AS DOUBLE) / CAST(total_tokens AS DOUBLE)
               AS token_coverage,
             1.0 - CAST(cov_$v AS DOUBLE) / CAST(total_tokens AS DOUBLE)
               AS oov_rate,
             CAST(LEAST($v, n_types) AS DOUBLE) / CAST(n_types AS DOUBLE)
               AS type_coverage
           FROM per"""
      val sums = Seq(1024L, 4096L, 16384L).map(v =>
        s"""CAST(SUM(CASE WHEN rk <= $v THEN cnt ELSE 0 END) AS BIGINT)
             AS cov_$v""").mkString(",\n           ")
      s"""WITH t AS (SELECT u.w, CAST(COUNT(1) AS BIGINT) AS cnt
           FROM documents,
             UNNEST(list_filter(string_split(TRIM(text), ' '),
               x -> x <> '')) AS u(w)
           GROUP BY u.w),
         rk AS (SELECT w, cnt,
             ROW_NUMBER() OVER (ORDER BY cnt DESC, w) AS rk FROM t),
         per AS (SELECT CAST(COUNT(1) AS BIGINT) AS n_types,
             CAST(SUM(cnt) AS BIGINT) AS total_tokens,
             $sums
           FROM rk)
         ${Seq(1024L, 4096L, 16384L).map(row)
            .mkString("\n         UNION ALL\n         ")}
         ORDER BY vocab_size"""
    }
  )
}
