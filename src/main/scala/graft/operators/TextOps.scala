package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.HashFunctions
import graft.functions.HashFunctions.md5Hash60Sql

/** Text-analysis operators for training-data pipelines over `documents`:
  * token counting (whitespace + BPE-ish regex), quality scoring, n-gram
  * heuristic language ID, rolling fingerprints. All pure `functions._`
  * column expressions (whole-stage codegen, no UDFs), each with a DuckDB
  * twin computing the identical arithmetic.
  */
object TextOps extends OperatorFamily {

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
  private def qualityOkCol(words: Column): Column = {
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
  /** Per-document continuous score + binary repetition label, in ONE
    * documents scan: score = distinct-token ratio (t02's
    * `distinct_ratio` surface), label = "no repeated trigram position"
    * (q144's rater b, from [[TextOps.repetitionStats]]). Extra screen
    * columns for q172/q173 ride the same projection via
    * [[TextOps.repetitionStatsKeeping]]. */
  private def scoredDocs(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .withColumn("words", split(trim(col("text")), " "))
      .withColumn("s",
        size(array_distinct(col("words"))).cast("double") /
          size(col("words")))
      .withColumn("a", TextOps.qualityOkCol(col("words")))
      .withColumn("c_len",
        size(col("words")) >= 30 && size(col("words")) <= 120)
    TextOps.repetitionStatsKeeping(docs,
        col("s"), col("a"), col("c_len"))
      .select(col("doc_id"), col("s"), col("a"), col("c_len"),
        (col("n_dup_pos") === 0).as("b"))
  }

  /** DuckDB twin of [[repetitionStats]]' trigram counts over a CTE
    * `w(doc_id, words)`: CTEs `g` (doc_id, gram) and `c` (doc_id, gram,
    * cnt). */
  private val trigramCountSql =
    """g AS (SELECT doc_id,
      |    UNNEST(list_transform(
      |      generate_series(1, GREATEST(LEN(words) - 2, 0)),
      |      i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]))
      |      AS gram
      |  FROM w),
      |  c AS (SELECT doc_id, gram, COUNT(1) AS cnt FROM g
      |    GROUP BY doc_id, gram)""".stripMargin

  /** DuckDB twin of [[TextOps.repetitionStats]]' repeated-trigram
    * count over a CTE `w(doc_id, words)`: CTEs `g`, `c`, `dup`
    * (doc_id, n_dup) — docs without a repeat have no `dup` row. */
  private val repetitionSql = trigramCountSql +
    """,
      |  dup AS (SELECT doc_id,
      |    CAST(SUM(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS BIGINT)
      |      AS n_dup
      |  FROM c GROUP BY doc_id)""".stripMargin

  /** Shared oracle CTE prefix: per-doc score s, screens a/c_len, and
    * the repetition label b, mirroring [[scoredDocs]]. */
  private val docCte =
    s"""WITH w AS (SELECT doc_id, string_split(TRIM(text), ' ')
      |    AS words FROM documents),
      |  sc AS (SELECT doc_id,
      |    CAST(LEN(list_distinct(words)) AS DOUBLE) / LEN(words) AS s,
      |    (LEN(words) >= 10 AND
      |     CAST(LEN(list_distinct(words)) AS DOUBLE) / LEN(words)
      |       >= 0.5 AND
      |     CAST(LEN(list_filter(words, x -> x IN
      |       ('the', 'and', 'of', 'to', 'a', 'in', 'is'))) AS DOUBLE)
      |       / LEN(words) <= 0.4) AS a,
      |    LEN(words) >= 30 AND LEN(words) <= 120 AS c_len
      |  FROM w),
      |  $repetitionSql,
      |  lab AS (SELECT sc.doc_id, sc.s, sc.a, sc.c_len,
      |    COALESCE(dup.n_dup, 0) = 0 AS b
      |  FROM sc LEFT JOIN dup USING (doc_id))""".stripMargin

  /** The 2×2 agreement table of two boolean raters `a`, `b`
    * (n11, n10, n01, n00, n) — q144's kappa and q172's McNemar. */
  private def agreementCells(rated: DataFrame): DataFrame =
    rated
      .agg(
        sum(when(col("a") && col("b"), 1L).otherwise(0L)).as("n11"),
        sum(when(col("a") && !col("b"), 1L).otherwise(0L)).as("n10"),
        sum(when(!col("a") && col("b"), 1L).otherwise(0L)).as("n01"),
        sum(when(!col("a") && !col("b"), 1L).otherwise(0L)).as("n00"))
      .withColumn("n",
        col("n11") + col("n10") + col("n01") + col("n00"))

  /** DuckDB twin of [[agreementCells]] over the rows of `from`: CTE
    * `cells`. */
  private def agreementCellsSql(from: String): String =
    s"""cells AS (SELECT
       |    CAST(SUM(CASE WHEN a AND b THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n11,
       |    CAST(SUM(CASE WHEN a AND NOT b THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n10,
       |    CAST(SUM(CASE WHEN NOT a AND b THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n01,
       |    CAST(SUM(CASE WHEN NOT a AND NOT b THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n00
       |  FROM $from)""".stripMargin

  /** Per-document (bin, train, rep) rows of the q180/q182 calibration
    * screens: token-count bin (20-token steps, capped at 5), the even
    * doc_id training split, and the repeated-trigram label. */
  private def calibrationDocs(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .withColumn("words", split(trim(col("text")), " "))
      .withColumn("n_tok", size(col("words")))
      .withColumn("train", col("doc_id") % 2 === 0)
    TextOps.repetitionStatsKeeping(docs, col("n_tok"), col("train"))
      .select(col("n_tok"), col("train"),
        (col("n_dup_pos") > 0).as("rep"))
      .withColumn("bin",
        least(expr("CAST(n_tok AS BIGINT) div 20"), lit(5L)))
  }

  private val bucketHashSql =
    s"""${md5Hash60Sql("'shard|' || CAST(doc_id AS VARCHAR)")} % 16"""


  /** The training-mix target share per language (t14, t33). */
  private val targetShare: Column =
    when(col("lang") === "en", 0.45)
      .when(col("lang") === "es", 0.20)
      .when(col("lang") === "de", 0.20)
      .when(col("lang") === "fr", 0.10)
      .otherwise(0.05)

  /** DuckDB twin of [[langScored]]'s marker counts (t03, t32): CTEs `w`
    * (doc_id, lang, words) and `sc` (doc_id, lang, s_en … s_fr). */
  private val LangScoreCtes =
    """w AS (SELECT doc_id, lang,
           string_split(TRIM(text), ' ') AS words FROM documents),
         sc AS (SELECT doc_id, lang,
           CAST(LEN(list_filter(words, w -> w IN ('the','and','of','to'))) AS INT) AS s_en,
           CAST(LEN(list_filter(words, w -> w IN ('el','la','los','de'))) AS INT) AS s_es,
           CAST(LEN(list_filter(words, w -> w IN ('der','die','das','und'))) AS INT) AS s_de,
           CAST(LEN(list_filter(words, w -> w IN ('le','les','des','et'))) AS INT) AS s_fr
           FROM w)"""

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
      val h = HashFunctions.md5Hash60Chain(col("doc_id"))
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
      val wAll = Window.partitionBy()
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.documents(s, d)
        .select(col("lang"), size(split(trim(col("text")), " ")).as("nt"))
        .groupBy(col("lang")).agg(sum(col("nt")).as("lang_tokens"))
        .withColumn("actual_share",
          col("lang_tokens").cast("double") / sum(col("lang_tokens")).over(wAll))
        .withColumn("target_share", targetShare)
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
      val wAll = Window.partitionBy()
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          size(split(trim(col("text")), " ")).cast("long").as("nt"))
      val rates = docs.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_before"), sum(col("nt")).as("tok_before"))
        .withColumn("actual_share", col("tok_before").cast("double")
          / sum(col("tok_before")).over(wAll).cast("double"))
        .withColumn("target_share", targetShare)
        .withColumn("ratio", col("target_share") / col("actual_share"))
        .withColumn("thr",
          round((col("ratio") / max(col("ratio")).over(wAll))
            * lit(1000000)).cast("long"))
      val h = HashFunctions.md5Hash60Chain(col("doc_id"))
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
      val h = HashFunctions.md5Hash60Chain(col("rep"))
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
    }),

    // COHEN'S KAPPA between two quality screens — chance-corrected
    // agreement between t02's composite document score (rater A:
    // quality == 'ok') and the trigram-repetition screen (rater B: no
    // repeated word-3-gram, i.e. t11's n_dup_pos == 0), composed from
    // those operators' own library surfaces rather than re-derived.
    // The instructive outcome on this corpus is the UNMASKING: raw
    // agreement p_o ≈ 0.48 looks like the screens back each other up,
    // but kappa ≈ 0.07 says the overlap is almost entirely chance —
    // the two filters measure different things (type diversity vs
    // local repetition) and neither subsumes the other, which is
    // exactly what a curator needs to know before dropping one. All
    // four confusion cells are populated at every SF (q108 rule
    // pre-verified). Kappa is computed as ONE division of exact longs
    // — numerator n·(n11+n00) − Σ marginal products, denominator n² −
    // Σ marginal products — so cross-engine equality needs no
    // operation-sequence care beyond the two display ratios. Scale
    // shape: both raters are doc-local map work; the join is keyed by
    // doc_id; the confusion matrix partial-aggregates to one row.
    "q144_cohens_kappa" -> ((s, d) => {
      val a = TextOps.queries("t02_quality_score")(s, d)
        .select(col("doc_id"), (col("quality") === "ok").as("a"))
      val b = TextOps.repetitionStats(Tables.documents(s, d))
        .select(col("doc_id"), (col("n_dup_pos") === 0).as("b"))
      agreementCells(a.join(b, "doc_id"))
        .withColumn("expsum",
          (col("n11") + col("n10")) * (col("n11") + col("n01")) +
            (col("n01") + col("n00")) * (col("n10") + col("n00")))
        .select(col("n11"), col("n10"), col("n01"), col("n00"), col("n"),
          ((col("n11") + col("n00")).cast("double") /
            col("n").cast("double")).as("p_observed"),
          (col("expsum").cast("double") / col("n").cast("double") /
            col("n").cast("double")).as("p_expected"),
          ((col("n") * (col("n11") + col("n00")) - col("expsum"))
            .cast("double") /
            (col("n") * col("n") - col("expsum")).cast("double"))
            .as("kappa"))
    }),

    // ROC AUC — the threshold-free quality-score evaluation: how well
    // does the continuous distinct-token ratio rank clean documents
    // (no repeated trigram) above repetitive ones? AUC is computed
    // from exact rank sums, NOT a pair join: group the scores into a
    // value grid, one cumulative window for below-counts, carry
    // 2·midrank = 2·below + ties + 1 as exact longs (the q134
    // machinery), then AUC = (Σ2R₁ − n₁(n₁+1)) / (2·n₁·n₀) — a single
    // division of exact longs, identical on both engines. AUC here is
    // literally U/(n₁n₀): the probability a random clean doc outscores
    // a random repetitive one (≈ 0.75–0.78 at every gate SF — the
    // score works, pre-verified). rank_biserial = 2·AUC − 1 is the
    // same rationals re-expressed as a correlation. Scale shape: one
    // documents scan, one grid exchange keyed by score value, windows
    // over the grid (bounded by distinct ratios, not rows), one row
    // out. Never O(n²) — the pair interpretation is computed without
    // materializing pairs.
    "q171_roc_auc" -> ((s, d) => {
      val grid = scoredDocs(s, d)
        .groupBy(col("s"))
        .agg(sum(when(col("b"), 1L).otherwise(0L)).as("c1"),
          sum(when(!col("b"), 1L).otherwise(0L)).as("c0"))
        .withColumn("t", col("c1") + col("c0"))
      val wBelow = Window.orderBy(col("s"))
        .rowsBetween(Window.unboundedPreceding, -1)
      grid
        .withColumn("below",
          coalesce(sum(col("t")).over(wBelow), lit(0L)))
        .withColumn("r2", lit(2L) * col("below") + col("t") + 1L)
        .agg(sum(col("c1")).as("n_pos"), sum(col("c0")).as("n_neg"),
          sum(col("c1") * col("r2")).as("ra2"))
        .withColumn("auc",
          (col("ra2") - col("n_pos") * (col("n_pos") + 1L))
            .cast("double") /
            (lit(2.0) * col("n_pos").cast("double") *
              col("n_neg").cast("double")))
        .withColumn("rank_biserial", lit(2.0) * col("auc") - 1.0)
        .select(col("n_pos"), col("n_neg"), col("ra2"), col("auc"),
          col("rank_biserial"))
    }),

    // McNEMAR'S TEST — are q144's two quality raters (t02 "ok" screen
    // vs t11's zero-repeated-trigram screen) wrong about DIFFERENT
    // documents, or does one systematically fail docs the other
    // passes? Kappa (q144) measures agreement strength; McNemar tests
    // the DIRECTION of the disagreement: only the discordant cells
    // n10/n01 matter, and on this corpus they are wildly asymmetric
    // (2 vs 256 at sf0.01 — the trigram screen passes hundreds of
    // docs the stopword/distinct screen rejects; χ² ≈ 248,
    // pre-verified at every gate SF). Continuity-corrected statistic
    // (|n10 − n01| − 1)² / (n10 + n01): exact longs, ONE division.
    // Scale shape: one documents scan, map-side partial aggregation to
    // a single 4-cell row — no exchange carries more than the cells.
    "q172_mcnemar_screens" -> ((s, d) => {
      agreementCells(scoredDocs(s, d))
        .withColumn("chi2_cc",
          when(col("n10") + col("n01") === 0L, lit(null))
            .otherwise(
              ((abs(col("n10") - col("n01")) - 1L) *
                (abs(col("n10") - col("n01")) - 1L)).cast("double") /
                (col("n10") + col("n01")).cast("double")))
        .withColumn("reject_95", col("chi2_cc") > 3.841458820694124)
        .select(col("n11"), col("n10"), col("n01"), col("n00"),
          col("n"), col("chi2_cc"), col("reject_95"))
    }),

    // COCHRAN'S Q — McNemar generalized to k = 3 paired screens: t02's
    // "ok" rater, t11's zero-repeated-trigram rater, and the
    // Gopher-style token-count window (30–120 words). Do the three
    // screens pass the same fraction of documents? Q = (k−1)(k·ΣCⱼ² −
    // T²)/(k·T − ΣRᵢ²) assembles entirely from exact longs (column
    // totals Cⱼ, per-doc row sums Rᵢ ∈ {0..3}) — ONE division, df = 2.
    // Pass rates 219/473/394 of 500 at sf0.01 → Q ≈ 261, rejecting at
    // every gate SF (pre-verified): the screens measure genuinely
    // different things, which is exactly why the pipeline composes
    // them. Scale shape: one documents scan; the row-sum powers
    // partial-aggregate map-side to one row.
    "q173_cochran_q" -> ((s, d) => {
      val ri = scoredDocs(s, d)
        .select(col("a"), col("b"), col("c_len"),
          (when(col("a"), 1L).otherwise(0L) +
            when(col("b"), 1L).otherwise(0L) +
            when(col("c_len"), 1L).otherwise(0L)).as("ri"))
      ri.agg(
          sum(when(col("a"), 1L).otherwise(0L)).as("c_quality"),
          sum(when(col("b"), 1L).otherwise(0L)).as("c_norep"),
          sum(when(col("c_len"), 1L).otherwise(0L)).as("c_length"),
          count(lit(1)).as("n"),
          sum(col("ri")).as("t_succ"),
          sum(col("ri") * col("ri")).as("r2_sum"))
        .withColumn("q_stat",
          when(lit(3L) * col("t_succ") - col("r2_sum") === 0L,
            lit(null))
            .otherwise(
              (lit(2L) * (lit(3L) *
                (col("c_quality") * col("c_quality") +
                  col("c_norep") * col("c_norep") +
                  col("c_length") * col("c_length")) -
                col("t_succ") * col("t_succ"))).cast("double") /
                (lit(3L) * col("t_succ") - col("r2_sum"))
                  .cast("double")))
        .withColumn("reject_95", col("q_stat") > 5.991464547107979)
        .select(col("c_quality"), col("c_norep"), col("c_length"),
          col("n"), col("t_succ"), col("r2_sum"), col("q_stat"),
          col("reject_95"))
    }),

    // OUT-OF-SAMPLE CALIBRATION (reliability diagram) — does a rate
    // predictor TRAINED on one half of the corpus hold on the other?
    // The predictor is the repetition base rate per 20-token length
    // bin (repetition rises with length: ~0% under 20 tokens to ~16%
    // past 80 — real structure, pre-verified); the split is the
    // deterministic doc_id parity (leakage-safe by construction: a
    // doc is in exactly one side). Per bin: train rate p̂, eval rate,
    // and the calibration gap — each a single division of exact
    // longs; no cross-bin float sum exists to sequence (the diagram
    // IS the deliverable, per-bin rows). Empty-side bins surface as
    // NULL rates, not silent drops. Scale shape: one documents scan,
    // map-side partial aggregation to ≤6 bin rows.
    "q180_calibration_oos" -> ((s, d) => {
      calibrationDocs(s, d)
        .groupBy(col("bin"))
        .agg(
          sum(when(col("train"), 1L).otherwise(0L)).as("n_train"),
          sum(when(col("train") && col("rep"), 1L).otherwise(0L))
            .as("c_train"),
          sum(when(!col("train"), 1L).otherwise(0L)).as("n_eval"),
          sum(when(!col("train") && col("rep"), 1L).otherwise(0L))
            .as("c_eval"))
        .withColumn("p_train",
          when(col("n_train") === 0L, lit(null))
            .otherwise(col("c_train").cast("double") /
              col("n_train").cast("double")))
        .withColumn("p_eval",
          when(col("n_eval") === 0L, lit(null))
            .otherwise(col("c_eval").cast("double") /
              col("n_eval").cast("double")))
        .withColumn("gap", col("p_eval") - col("p_train"))
        .select(col("bin"), col("n_train"), col("c_train"),
          col("p_train"), col("n_eval"), col("c_eval"), col("p_eval"),
          col("gap"))
        .orderBy(col("bin"))
    }),

    // ISOTONIC (PAV) CALIBRATION — the monotone repair of q180's raw
    // rate predictor: repetition probability should not DECREASE with
    // length, but the raw train rates do dip (bin 0 > bin 1 at
    // sf0.01 — pre-verified, so the pooling genuinely fires). The fit
    // is the exact pool-adjacent-violators solution via its minimax
    // characterization f(i) = max_{j≤i} min_{k≥i} rate(j..k), with
    // every interval rate a single division of exact count sums —
    // identical doubles on both engines, and the max/min lattice
    // needs no iteration. Scale shape: one documents scan collapses
    // to ≤6 weighted bins; the interval enumeration and the (i, j, k)
    // lattice are 6×21-bounded broadcast non-equi joins over those
    // bins (PlanLint-allowlisted, the q136 class) — constant-size at
    // ANY data scale.
    "q181_isotonic_calibration" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .withColumn("words", split(trim(col("text")), " "))
        .withColumn("n_tok", size(col("words")))
        .filter(col("doc_id") % 2 === 0) // the q180 train split
      // the 6-row bin frame feeds the interval enumeration 3x — cut
      // it so the documents scan runs once (ScanAudit)
      val bins = Materialize.LocalCheckpoint(
        TextOps.repetitionStatsKeeping(docs, col("n_tok"))
          .select(col("n_tok"), (col("n_dup_pos") > 0).as("rep"))
          .withColumn("bin",
            least(expr("CAST(n_tok AS BIGINT) div 20"), lit(5L)))
          .groupBy(col("bin"))
          .agg(count(lit(1)).as("n"),
            sum(when(col("rep"), 1L).otherwise(0L)).as("c")))
      val iv = bins.select(col("bin").as("j")).join(
          bins.select(col("bin").as("k")), col("j") <= col("k"))
        .join(bins.select(col("bin").as("m"), col("n"), col("c")),
          col("m") >= col("j") && col("m") <= col("k"))
        .groupBy(col("j"), col("k"))
        .agg((sum(col("c")).cast("double") /
          sum(col("n")).cast("double")).as("rate"))
      bins.join(iv, col("j") <= col("bin") && col("k") >= col("bin"))
        .groupBy(col("bin"), col("n"), col("c"), col("j"))
        .agg(min(col("rate")).as("min_rate"))
        .groupBy(col("bin"), col("n"), col("c"))
        .agg(max(col("min_rate")).as("p_isotonic"))
        .withColumn("p_raw",
          col("c").cast("double") / col("n").cast("double"))
        .select(col("bin"), col("n"), col("c"), col("p_raw"),
          col("p_isotonic"))
        .orderBy(col("bin"))
    }),

    // HOSMER–LEMESHOW TEST — the formal closure of the calibration
    // arc: does q181's isotonic fit (trained on even doc_ids) survive
    // the held-out odd half? HL = Σ_bins (c_ev − n_ev·p̂)² /
    // (n_ev·p̂·(1−p̂)) with p̂ the isotonic rate (never 0 or 1 on this
    // corpus — raw rates have a zero bin, which is exactly why the
    // pooled fit is the testable one). Each bin term is a short
    // identical-sequence double expression over exact longs; the
    // cross-bin sum is an explicit LEFT FOLD over the bin-ordered
    // term list (the q133/q174 idiom — ≤6 rationals-of-integers, not
    // decimal-summable). df = bins − 2 by convention; the χ² critical
    // value rides a hardcoded literal per df (the q156 stance).
    // Scale shape: everything downstream of the ≤6-bin lattice is
    // constant-size; ONE documents scan feeds both splits.
    "q182_hosmer_lemeshow" -> ((s, d) => {
      val bins = Materialize.LocalCheckpoint(
        calibrationDocs(s, d)
          .groupBy(col("bin"))
          .agg(
            sum(when(col("train"), 1L).otherwise(0L)).as("n"),
            sum(when(col("train") && col("rep"), 1L).otherwise(0L))
              .as("c"),
            sum(when(!col("train"), 1L).otherwise(0L)).as("n_ev"),
            sum(when(!col("train") && col("rep"), 1L).otherwise(0L))
              .as("c_ev")))
      // match q181 by construction: its bin frame is built from the
      // train split only, so a bin holding ONLY eval docs (n = 0)
      // does not exist there — drop such bins before the interval
      // enumeration (they would otherwise inject 0/0 NaN rates into
      // the min/max lattice) and from the fit itself
      val tbins = bins.filter(col("n") > 0L)
      val iv = tbins.select(col("bin").as("j")).join(
          tbins.select(col("bin").as("k")), col("j") <= col("k"))
        .join(tbins.select(col("bin").as("m"), col("n"), col("c")),
          col("m") >= col("j") && col("m") <= col("k"))
        .groupBy(col("j"), col("k"))
        .agg((sum(col("c")).cast("double") /
          sum(col("n")).cast("double")).as("rate"))
      val fit = tbins
        .join(iv, col("j") <= col("bin") && col("k") >= col("bin"))
        .groupBy(col("bin"), col("n_ev"), col("c_ev"), col("j"))
        .agg(min(col("rate")).as("min_rate"))
        .groupBy(col("bin"), col("n_ev"), col("c_ev"))
        .agg(max(col("min_rate")).as("p_iso"))
        // HL is defined over informative bins: a fitted rate of
        // exactly 0/1 (possible when a prefix block is all-clean, as
        // at sf0.001) or an empty eval side contributes no
        // information — those bins drop from the sum and the df,
        // surfaced via n_bins (the merged-bin convention,
        // deterministically)
        .filter(col("p_iso") > 0.0 && col("p_iso") < 1.0 &&
          col("n_ev") > 0L)
        .withColumn("term",
          (col("c_ev").cast("double") -
            col("n_ev").cast("double") * col("p_iso")) *
            (col("c_ev").cast("double") -
              col("n_ev").cast("double") * col("p_iso")) /
            (col("n_ev").cast("double") * col("p_iso") *
              (lit(1.0) - col("p_iso"))))
      val lst = fit.agg(sort_array(collect_list(
        struct(col("bin"), col("term")))).as("lst"),
        count(lit(1)).as("n_bins"))
      lst.select(col("n_bins"),
          expr("aggregate(transform(lst, s -> s.term), " +
            "CAST(0.0 AS DOUBLE), (a, x) -> a + x)").as("hl_stat"))
        .withColumn("df", col("n_bins") - 2L)
        // chi2 .95 quantiles, df 1..8; NULL outside that range — a
        // degenerate corpus can leave ≤2 informative bins (df ≤ 0),
        // where element_at would throw (index 0) or index from the
        // array end (negative), and >8 has no tabulated quantile
        .withColumn("reject_95",
          when(col("df") >= 1L && col("df") <= 8L,
            col("hl_stat") > element_at(array(
              lit(3.841458820694124), lit(5.991464547107979),
              lit(7.814727903251179), lit(9.487729036781154),
              lit(11.070497693516351), lit(12.591587243743977),
              lit(14.067140449340169), lit(15.50731305586545)),
              col("df").cast("int")))
            .otherwise(lit(null).cast("boolean")))
        .select(col("n_bins"), col("df"), col("hl_stat"),
          col("reject_95"))
    }),

    // Character trigram corpus profile (language-ID style fingerprint):
    // top-20 trigrams by frequency. The scan uses the codegen'd
    // packed_trigrams expression — one long per trigram instead of one
    // string allocation, so the partial aggregate runs on fixed-width
    // keys; UTF-8 order == code-point order, so ordering by the packed
    // long IS ordering by the trigram string, and only the final 20
    // rows are decoded back.
    "t05_char_ngram_profile" -> ((s, d) => {
      val unpack = udf((l: Long) => graft.functions.PackedTrigrams.unpack(l))
      Tables.documents(s, d)
        .filter(length(col("text")) >= 3)
        .select(explode(
          graft.functions.TextFunctions.packedTrigrams(col("text")))
          .as("tri_p"))
        .groupBy(col("tri_p")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("tri_p"))
        .limit(20)
        .select(unpack(col("tri_p")).as("tri"), col("n"))
        .orderBy(col("n").desc, col("tri"))
    }),

    // Deterministic corpus SHARDING: every document assigned to one of
    // 16 training shards by portable 60-bit md5 bucket (t08's hash
    // idiom) — the "global shuffle" that precedes shard writing in a
    // training-data pipeline, done as a hash assignment so it is
    // stable across runs/partitionings/engines AND embarrassingly
    // parallel (no global sort; a sort-by-random-key reaches the same
    // unbiasedness only through a full-corpus range exchange). The
    // report is the per-shard balance audit a pipeline reads before
    // writing: doc count, token count, byte count per shard. Scale:
    // hash + token count are in-row map work; the aggregate is
    // 16 rows; writing the shards themselves is then
    // `.write.partitionBy(shard)` with no further exchange.
    "t24_corpus_shards" -> ((s, d) => {
      val h = conv(substring(
        md5(encode(concat(lit("shard|"), col("doc_id").cast("string")),
          "UTF-8")), 1, 15), 16, 10).cast("long")
      Tables.documents(s, d)
        .withColumn("shard", pmod(h, lit(16L)).cast("int"))
        .withColumn("toks",
          size(split(trim(col("text")), " ")).cast("long"))
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("toks")).as("n_tokens"),
          sum(col("n_chars")).as("n_chars"))
        .orderBy(col("shard"))
    }),

    // Corpus LENGTH-profile histogram: per (source, token-length
    // bucket) doc and token counts plus each bucket's share of its
    // source's token mass — the corpus-composition table read before
    // setting t10's quality thresholds or t12's chunk width (a source
    // whose mass sits in the shortest bucket needs different handling
    // than one dominated by long docs). Scale: token counts are in-row
    // map work; the aggregate is |sources| × 4 rows and the share
    // window runs over that tiny frame, never the corpus.
    "t26_length_histogram" -> ((s, d) => {
      val t = Tables.documents(s, d)
        .select(col("source"),
          size(split(trim(col("text")), " ")).cast("long").as("toks"))
        .withColumn("len_bucket",
          when(col("toks") <= 25, "b1_le25")
            .when(col("toks") <= 50, "b2_le50")
            .when(col("toks") <= 75, "b3_le75")
            .otherwise("b4_gt75"))
      val agg = t.groupBy(col("source"), col("len_bucket"))
        .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("n_tokens"))
      agg.withColumn("token_share",
          col("n_tokens").cast("double")
            / sum(col("n_tokens")).over(Window.partitionBy(col("source")))
              .cast("double"))
        .orderBy(col("source"), col("len_bucket"))
    }),

    // FLESCH READABILITY profile per source: per-doc reading-ease from
    // three regex counts (alphabetic-run words, [.!?]+ sentence ends
    // with a floor of 1, vowel-group syllables — the standard cheap
    // approximation), banded easy/standard/hard, plus a corpus-level
    // score from the SUMMED integer counts (never an average of
    // per-doc doubles — that would be order-dependent). Per-doc flesch
    // is one shared-structure double expression over three exact ints,
    // so both engines band identically. Scale shape: the three counts
    // are codegen'd row-local regex scans (one pass each over the
    // text), partial-agg to |sources| rows; nothing but 6 longs per
    // source crosses the exchange.
    "t34_readability" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("source"),
          regexp_count(col("text"), lit("[A-Za-z]+")).as("w"),
          greatest(lit(1),
            regexp_count(col("text"), lit("[.!?]+"))).as("sen"),
          regexp_count(lower(col("text")), lit("[aeiouy]+")).as("syl"))
      val flesch = lit(206.835) -
        lit(1.015) * (col("w").cast("double") / col("sen").cast("double")) -
        lit(84.6) * (col("syl").cast("double") / col("w").cast("double"))
      docs
        .withColumn("f", when(col("w") > 0, flesch))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("w") === 0, 1L).otherwise(0L)).as("n_empty"),
          sum(when(col("f") >= 60.0, 1L).otherwise(0L)).as("n_easy"),
          sum(when(col("f") >= 30.0 && col("f") < 60.0, 1L).otherwise(0L))
            .as("n_standard"),
          sum(when(col("f") < 30.0, 1L).otherwise(0L)).as("n_hard"),
          sum(col("w").cast("long")).as("words"),
          sum(col("sen").cast("long")).as("sentences"),
          sum(col("syl").cast("long")).as("syllables"))
        .withColumn("corpus_flesch",
          lit(206.835) -
            lit(1.015) * (col("words").cast("double") /
              col("sentences").cast("double")) -
            lit(84.6) * (col("syllables").cast("double") /
              col("words").cast("double")))
        .orderBy(col("source"))
    }),

    // DEDUP MIXTURE SHIFT — how exact dedup changes the TRAINING
    // MIXTURE: per source, doc/token mass before vs after d01's
    // keep-min-id exact dedup, each source's token share of the
    // corpus on both sides, and the shift. d26 prices what dedup
    // deletes; t14 weights the mixture — this is the bridge between
    // them: a source that loses share here was inflating its presence
    // with duplicates, and the post-dedup shares are what t14's
    // target weights should be compared against. Integer carriers
    // (doc/token counts) to the final share divisions; the totals
    // ride a window over the |sources| frame. Scale shape: one
    // fingerprint groupBy (16-byte keys — the d01 shape), one
    // source-keyed rollup each side; text never shuffles.
    "t35_dedup_mixture_shift" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          size(split(trim(col("text")), " ")).cast("long").as("toks"),
          md5(encode(col("text"), "UTF-8")).as("fp"))
      val keep = docs.groupBy(col("fp"))
        .agg(min(col("doc_id")).as("keep_id"))
      val raw = docs.groupBy(col("source"))
        .agg(count(lit(1)).as("n_raw"), sum(col("toks")).as("tok_raw"))
      val kept = docs.join(keep,
          docs("fp") === keep("fp") && docs("doc_id") === keep("keep_id"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"), sum(col("toks")).as("tok_kept"))
      val w = Window.partitionBy()
      raw.join(kept, Seq("source"), "left")
        .select(col("source"), col("n_raw"), col("tok_raw"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          coalesce(col("tok_kept"), lit(0L)).as("tok_kept"))
        .withColumn("trw", sum(col("tok_raw")).over(w))
        .withColumn("tkp", sum(col("tok_kept")).over(w))
        .select(col("source"), col("n_raw"), col("n_kept"),
          col("tok_raw"), col("tok_kept"),
          (col("tok_raw").cast("double") / col("trw").cast("double"))
            .as("share_raw"),
          (col("tok_kept").cast("double") / col("tkp").cast("double"))
            .as("share_kept"),
          (col("tok_kept").cast("double") / col("tkp").cast("double") -
            col("tok_raw").cast("double") / col("trw").cast("double"))
            .as("share_shift"))
        .orderBy(col("source"))
    }),

    // PPS SYSTEMATIC SAMPLE — probability-proportional-to-size
    // sampling for training-mixture construction: per language, k=20
    // sample slots spread systematically over the cumulative
    // token-count line, so a document's selection count is EXACTLY
    // ⌊cum_i·k/W⌋ − ⌊cum_{i−1}·k/W⌋ (integer division both sides —
    // no RNG, no libm, fully oracle-checked; the deterministic
    // survey-statistics alternative to A-ExpJ reservoir sampling,
    // whose u^(1/w) keys cannot cross engines exactly). Documents
    // heavier than one step earn multiplicity > 1 (certainty items),
    // and per-language hit totals are exactly k by construction
    // (spec-pinned). Scale shape: token counts are scan-stage
    // expressions; one lang-keyed cumulative window over the doc
    // frame; cum·k holds in longs to ~4.6e17 tokens per language.
    "t40_pps_sample" -> ((s, d) => {
      val k = 20L
      val wCum = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wTot = Window.partitionBy(col("lang"))
      Tables.documents(s, d)
        .select(col("lang"), col("doc_id"),
          size(split(trim(col("text")), " ")).cast("long").as("w"))
        .withColumn("cum", sum(col("w")).over(wCum))
        .withColumn("tot", sum(col("w")).over(wTot))
        .withColumn("n_hits",
          expr(s"(cum * $k) div tot - ((cum - w) * $k) div tot"))
        .filter(col("n_hits") >= 1L)
        .select(col("lang"), col("doc_id"), col("w"), col("n_hits"))
        .orderBy(col("lang"), col("doc_id"))
    }),

    // PRECISION/RECALL/F1 THRESHOLD SWEEP — the operating-point view
    // of q171's AUC: at each candidate cutoff θ of the distinct-token
    // ratio, the confusion counts against the repetition label and the
    // derived precision, recall, F1 — the table a pipeline owner reads
    // to pick the actual filter threshold. All counts are exact longs;
    // P/R/F1 are single divisions (F1 computed as 2·tp/(2·tp+fp+fn) —
    // one division, no nested ratio-of-ratios). Scale shape: one
    // documents scan, each doc fans out to the 9 thresholds
    // (row-local explode), partial aggregation collapses map-side to
    // 9 rows — the exchange carries 9×counts, nothing else.
    "t41_pr_threshold_sweep" -> ((s, d) => {
      val thr = array((50 to 90 by 5).map(v => lit(v / 100.0)): _*)
      scoredDocs(s, d)
        .select(col("s"), col("b"), explode(thr).as("thr"))
        .groupBy(col("thr"))
        .agg(
          sum(when(col("b") && col("s") >= col("thr"), 1L)
            .otherwise(0L)).as("tp"),
          sum(when(!col("b") && col("s") >= col("thr"), 1L)
            .otherwise(0L)).as("fp"),
          sum(when(col("b") && col("s") < col("thr"), 1L)
            .otherwise(0L)).as("fn"),
          sum(when(!col("b") && col("s") < col("thr"), 1L)
            .otherwise(0L)).as("tn"))
        .withColumn("precision",
          when(col("tp") + col("fp") === 0L, lit(null))
            .otherwise(col("tp").cast("double") /
              (col("tp") + col("fp")).cast("double")))
        .withColumn("recall",
          when(col("tp") + col("fn") === 0L, lit(null))
            .otherwise(col("tp").cast("double") /
              (col("tp") + col("fn")).cast("double")))
        .withColumn("f1",
          when(lit(2L) * col("tp") + col("fp") + col("fn") === 0L,
            lit(null))
            .otherwise((lit(2L) * col("tp")).cast("double") /
              (lit(2L) * col("tp") + col("fp") + col("fn"))
                .cast("double")))
        .select(col("thr"), col("tp"), col("fp"), col("fn"),
          col("tn"), col("precision"), col("recall"), col("f1"))
        .orderBy(col("thr"))
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
      s"""WITH $LangScoreCtes
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
      s"""WITH $LangScoreCtes,
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
      s"""WITH w AS (SELECT doc_id, string_split(TRIM(text), ' ') AS words
                    FROM documents),
         $trigramCountSql,
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
    },

    "q144_cohens_kappa" ->
      s"""$docCte,
        |  ${agreementCellsSql("lab")},
        |  st AS (SELECT n11, n10, n01, n00,
        |    n11 + n10 + n01 + n00 AS n,
        |    (n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00)
        |      AS expsum
        |  FROM cells)
        |SELECT n11, n10, n01, n00, n,
        |  CAST(n11 + n00 AS DOUBLE) / CAST(n AS DOUBLE) AS p_observed,
        |  CAST(expsum AS DOUBLE) / CAST(n AS DOUBLE) / CAST(n AS DOUBLE)
        |    AS p_expected,
        |  CAST(n * (n11 + n00) - expsum AS DOUBLE) /
        |    CAST(n * n - expsum AS DOUBLE) AS kappa
        |FROM st""".stripMargin,

    "q171_roc_auc" ->
      (docCte +
        """,
          |  grid AS (SELECT s,
          |    CAST(SUM(CASE WHEN b THEN 1 ELSE 0 END) AS BIGINT) AS c1,
          |    CAST(SUM(CASE WHEN NOT b THEN 1 ELSE 0 END) AS BIGINT)
          |      AS c0
          |  FROM lab GROUP BY s),
          |  rk AS (SELECT s, c1, c0, c1 + c0 AS t,
          |    COALESCE(CAST(SUM(c1 + c0) OVER (ORDER BY s
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
          |      AS BIGINT), 0) AS below
          |  FROM grid),
          |  ag AS (SELECT CAST(SUM(c1) AS BIGINT) AS n_pos,
          |    CAST(SUM(c0) AS BIGINT) AS n_neg,
          |    CAST(SUM(c1 * (2 * below + t + 1)) AS BIGINT) AS ra2
          |  FROM rk),
          |  fin AS (SELECT n_pos, n_neg, ra2,
          |    CAST(ra2 - n_pos * (n_pos + 1) AS DOUBLE) /
          |      (2.0 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE))
          |      AS auc
          |  FROM ag)
          |SELECT n_pos, n_neg, ra2, auc, 2.0 * auc - 1.0
          |  AS rank_biserial
          |FROM fin""".stripMargin),

    "q172_mcnemar_screens" ->
      (docCte +
        s""",
          |  ${agreementCellsSql("lab")},
          |  st AS (SELECT n11, n10, n01, n00,
          |    n11 + n10 + n01 + n00 AS n,
          |    CASE WHEN n10 + n01 = 0 THEN NULL
          |      ELSE CAST((ABS(n10 - n01) - 1) * (ABS(n10 - n01) - 1)
          |        AS DOUBLE) / CAST(n10 + n01 AS DOUBLE)
          |    END AS chi2_cc
          |  FROM cells)
          |SELECT n11, n10, n01, n00, n, chi2_cc,
          |  chi2_cc > 3.841458820694124 AS reject_95
          |FROM st""".stripMargin),

    "q173_cochran_q" ->
      (docCte +
        """,
          |  ri AS (SELECT a, b, c_len,
          |    (CASE WHEN a THEN 1 ELSE 0 END) +
          |    (CASE WHEN b THEN 1 ELSE 0 END) +
          |    (CASE WHEN c_len THEN 1 ELSE 0 END) AS ri
          |  FROM lab),
          |  ag AS (SELECT
          |    CAST(SUM(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT)
          |      AS c_quality,
          |    CAST(SUM(CASE WHEN b THEN 1 ELSE 0 END) AS BIGINT)
          |      AS c_norep,
          |    CAST(SUM(CASE WHEN c_len THEN 1 ELSE 0 END) AS BIGINT)
          |      AS c_length,
          |    CAST(COUNT(1) AS BIGINT) AS n,
          |    CAST(SUM(ri) AS BIGINT) AS t_succ,
          |    CAST(SUM(ri * ri) AS BIGINT) AS r2_sum
          |  FROM ri),
          |  st AS (SELECT c_quality, c_norep, c_length, n, t_succ,
          |    r2_sum,
          |    CASE WHEN 3 * t_succ - r2_sum = 0 THEN NULL
          |      ELSE CAST(2 * (3 * (c_quality * c_quality +
          |        c_norep * c_norep + c_length * c_length) -
          |        t_succ * t_succ) AS DOUBLE) /
          |        CAST(3 * t_succ - r2_sum AS DOUBLE)
          |    END AS q_stat
          |  FROM ag)
          |SELECT c_quality, c_norep, c_length, n, t_succ, r2_sum,
          |  q_stat, q_stat > 5.991464547107979 AS reject_95
          |FROM st""".stripMargin),

    "q180_calibration_oos" ->
      s"""WITH w AS (SELECT doc_id, string_split(TRIM(text), ' ')
        |    AS words FROM documents),
        |  $repetitionSql,
        |  lab AS (SELECT w.doc_id, LEN(words) AS n_tok,
        |    w.doc_id % 2 = 0 AS train,
        |    COALESCE(dup.n_dup, 0) > 0 AS rep
        |  FROM w LEFT JOIN dup USING (doc_id)),
        |  b AS (SELECT LEAST(CAST(n_tok AS BIGINT) // 20, 5) AS bin,
        |    train, rep FROM lab),
        |  ag AS (SELECT bin,
        |    CAST(SUM(CASE WHEN train THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_train,
        |    CAST(SUM(CASE WHEN train AND rep THEN 1 ELSE 0 END)
        |      AS BIGINT) AS c_train,
        |    CAST(SUM(CASE WHEN NOT train THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_eval,
        |    CAST(SUM(CASE WHEN NOT train AND rep THEN 1 ELSE 0 END)
        |      AS BIGINT) AS c_eval
        |  FROM b GROUP BY bin),
        |  st AS (SELECT bin, n_train, c_train, n_eval, c_eval,
        |    CASE WHEN n_train = 0 THEN NULL
        |      ELSE CAST(c_train AS DOUBLE) / CAST(n_train AS DOUBLE)
        |    END AS p_train,
        |    CASE WHEN n_eval = 0 THEN NULL
        |      ELSE CAST(c_eval AS DOUBLE) / CAST(n_eval AS DOUBLE)
        |    END AS p_eval
        |  FROM ag)
        |SELECT bin, n_train, c_train, p_train, n_eval, c_eval,
        |  p_eval, p_eval - p_train AS gap
        |FROM st
        |ORDER BY bin""".stripMargin,

    "q181_isotonic_calibration" ->
      s"""WITH w AS (SELECT doc_id, string_split(TRIM(text), ' ')
        |    AS words FROM documents WHERE doc_id % 2 = 0),
        |  $repetitionSql,
        |  lab AS (SELECT LEAST(CAST(LEN(words) AS BIGINT) // 20, 5)
        |      AS bin,
        |    COALESCE(dup.n_dup, 0) > 0 AS rep
        |  FROM w LEFT JOIN dup USING (doc_id)),
        |  bins AS (SELECT bin, CAST(COUNT(1) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN rep THEN 1 ELSE 0 END) AS BIGINT) AS c
        |  FROM lab GROUP BY bin),
        |  iv AS (SELECT j.bin AS j, k.bin AS k,
        |    CAST(SUM(m.c) AS DOUBLE) / CAST(SUM(m.n) AS DOUBLE)
        |      AS rate
        |  FROM bins j JOIN bins k ON j.bin <= k.bin
        |  JOIN bins m ON m.bin >= j.bin AND m.bin <= k.bin
        |  GROUP BY 1, 2),
        |  mn AS (SELECT b.bin, b.n, b.c, iv.j,
        |    MIN(iv.rate) AS min_rate
        |  FROM bins b JOIN iv ON iv.j <= b.bin AND iv.k >= b.bin
        |  GROUP BY 1, 2, 3, 4)
        |SELECT bin, n, c,
        |  CAST(c AS DOUBLE) / CAST(n AS DOUBLE) AS p_raw,
        |  MAX(min_rate) AS p_isotonic
        |FROM mn GROUP BY bin, n, c
        |ORDER BY bin""".stripMargin,

    "q182_hosmer_lemeshow" ->
      s"""WITH w AS (SELECT doc_id, string_split(TRIM(text), ' ')
        |    AS words FROM documents),
        |  $repetitionSql,
        |  lab AS (SELECT LEAST(CAST(LEN(words) AS BIGINT) // 20, 5)
        |      AS bin,
        |    w.doc_id % 2 = 0 AS train,
        |    COALESCE(dup.n_dup, 0) > 0 AS rep
        |  FROM w LEFT JOIN dup USING (doc_id)),
        |  bins AS (SELECT bin,
        |    CAST(SUM(CASE WHEN train THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n,
        |    CAST(SUM(CASE WHEN train AND rep THEN 1 ELSE 0 END)
        |      AS BIGINT) AS c,
        |    CAST(SUM(CASE WHEN NOT train THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_ev,
        |    CAST(SUM(CASE WHEN NOT train AND rep THEN 1 ELSE 0 END)
        |      AS BIGINT) AS c_ev
        |  FROM lab GROUP BY bin),
        |  tbins AS (SELECT * FROM bins WHERE n > 0),
        |  iv AS (SELECT j.bin AS j, k.bin AS k,
        |    CAST(SUM(m.c) AS DOUBLE) / CAST(SUM(m.n) AS DOUBLE)
        |      AS rate
        |  FROM tbins j JOIN tbins k ON j.bin <= k.bin
        |  JOIN tbins m ON m.bin >= j.bin AND m.bin <= k.bin
        |  GROUP BY 1, 2),
        |  mn AS (SELECT b.bin, b.n_ev, b.c_ev, iv.j,
        |    MIN(iv.rate) AS min_rate
        |  FROM tbins b JOIN iv ON iv.j <= b.bin AND iv.k >= b.bin
        |  GROUP BY 1, 2, 3, 4),
        |  fit AS (SELECT bin, n_ev, c_ev, MAX(min_rate) AS p_iso
        |  FROM mn GROUP BY bin, n_ev, c_ev),
        |  terms AS (SELECT bin,
        |    (CAST(c_ev AS DOUBLE) - CAST(n_ev AS DOUBLE) * p_iso) *
        |      (CAST(c_ev AS DOUBLE) - CAST(n_ev AS DOUBLE) * p_iso) /
        |      (CAST(n_ev AS DOUBLE) * p_iso * (1.0 - p_iso)) AS term
        |  FROM fit
        |  WHERE p_iso > 0.0 AND p_iso < 1.0 AND n_ev > 0),
        |  lst AS (SELECT list(struct_pack(bin := bin, term := term)
        |      ORDER BY bin) AS l, CAST(COUNT(1) AS BIGINT) AS n_bins
        |    FROM terms),
        |  ag AS (SELECT n_bins, n_bins - 2 AS df,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list_transform(l, s -> s.term)), (a, x) -> a + x)
        |      AS hl_stat
        |  FROM lst)
        |SELECT n_bins, df, hl_stat,
        |  CASE WHEN df >= 1 AND df <= 8 THEN
        |    hl_stat > ([3.841458820694124, 5.991464547107979,
        |      7.814727903251179, 9.487729036781154, 11.070497693516351,
        |      12.591587243743977, 14.067140449340169,
        |      15.50731305586545])[CAST(df AS INT)]
        |  ELSE NULL END AS reject_95
        |FROM ag""".stripMargin,

    "t05_char_ngram_profile" ->
      """SELECT tri, COUNT(1) AS n FROM (
           SELECT substring(text, i, 3) AS tri
           FROM documents, UNNEST(GENERATE_SERIES(1, LENGTH(text) - 2)) AS t(i)
           WHERE LENGTH(text) >= 3) s
         GROUP BY tri ORDER BY n DESC, tri LIMIT 20""",

    "t24_corpus_shards" ->
      s"""WITH sh AS (SELECT doc_id, n_chars,
             CAST($bucketHashSql AS INT) AS shard,
             CAST(LEN(string_split(TRIM(text), ' ')) AS BIGINT) AS toks
           FROM documents)
         SELECT shard, COUNT(*) AS n_docs,
                CAST(SUM(toks) AS BIGINT) AS n_tokens,
                CAST(SUM(n_chars) AS BIGINT) AS n_chars
         FROM sh GROUP BY 1 ORDER BY 1""",

    "t26_length_histogram" ->
      """WITH t AS (SELECT source,
             CAST(LEN(string_split(TRIM(text), ' ')) AS BIGINT) AS toks
           FROM documents),
         b AS (SELECT source,
                 CASE WHEN toks <= 25 THEN 'b1_le25'
                      WHEN toks <= 50 THEN 'b2_le50'
                      WHEN toks <= 75 THEN 'b3_le75'
                      ELSE 'b4_gt75' END AS len_bucket, toks
               FROM t),
         agg AS (SELECT source, len_bucket, COUNT(*) AS n_docs,
                   CAST(SUM(toks) AS BIGINT) AS n_tokens
                 FROM b GROUP BY 1, 2)
         SELECT source, len_bucket, n_docs, n_tokens,
                CAST(n_tokens AS DOUBLE)
                  / CAST(CAST(SUM(n_tokens) OVER (PARTITION BY source)
                    AS BIGINT) AS DOUBLE) AS token_share
         FROM agg ORDER BY source, len_bucket""",

    "t34_readability" ->
      """WITH docs AS (SELECT source,
             len(regexp_extract_all(text, '[A-Za-z]+')) AS w,
             greatest(1, len(regexp_extract_all(text, '[.!?]+')))
               AS sen,
             len(regexp_extract_all(lower(text), '[aeiouy]+')) AS syl
           FROM documents),
         scored AS (SELECT source, w, sen, syl,
             CASE WHEN w > 0 THEN 206.835
               - 1.015 * (CAST(w AS DOUBLE) / CAST(sen AS DOUBLE))
               - 84.6 * (CAST(syl AS DOUBLE) / CAST(w AS DOUBLE))
             END AS f
           FROM docs)
         SELECT source, COUNT(1) AS n_docs,
           CAST(SUM(CASE WHEN w = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_empty,
           CAST(SUM(CASE WHEN f >= 60.0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_easy,
           CAST(SUM(CASE WHEN f >= 30.0 AND f < 60.0 THEN 1 ELSE 0 END)
             AS BIGINT) AS n_standard,
           CAST(SUM(CASE WHEN f < 30.0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_hard,
           CAST(SUM(w) AS BIGINT) AS words,
           CAST(SUM(sen) AS BIGINT) AS sentences,
           CAST(SUM(syl) AS BIGINT) AS syllables,
           206.835
             - 1.015 * (CAST(CAST(SUM(w) AS BIGINT) AS DOUBLE)
               / CAST(CAST(SUM(sen) AS BIGINT) AS DOUBLE))
             - 84.6 * (CAST(CAST(SUM(syl) AS BIGINT) AS DOUBLE)
               / CAST(CAST(SUM(w) AS BIGINT) AS DOUBLE))
             AS corpus_flesch
         FROM scored GROUP BY source ORDER BY source""",

    "t35_dedup_mixture_shift" ->
      """WITH docs AS (SELECT doc_id, source,
             CAST(LEN(string_split(TRIM(text), ' ')) AS BIGINT) AS toks,
             MD5(text) AS fp
           FROM documents),
         keep AS (SELECT fp, MIN(doc_id) AS keep_id FROM docs
           GROUP BY 1),
         raw AS (SELECT source, COUNT(1) AS n_raw,
             CAST(SUM(toks) AS BIGINT) AS tok_raw
           FROM docs GROUP BY 1),
         kept AS (SELECT source, COUNT(1) AS n_kept,
             CAST(SUM(toks) AS BIGINT) AS tok_kept
           FROM docs JOIN keep
             ON docs.fp = keep.fp AND docs.doc_id = keep.keep_id
           GROUP BY 1),
         j AS (SELECT raw.source, n_raw, tok_raw,
             CAST(COALESCE(n_kept, 0) AS BIGINT) AS n_kept,
             CAST(COALESCE(tok_kept, 0) AS BIGINT) AS tok_kept
           FROM raw LEFT JOIN kept ON raw.source = kept.source),
         t AS (SELECT *, CAST(SUM(tok_raw) OVER () AS BIGINT) AS trw,
             CAST(SUM(tok_kept) OVER () AS BIGINT) AS tkp
           FROM j)
         SELECT source, n_raw, n_kept, tok_raw, tok_kept,
           CAST(tok_raw AS DOUBLE) / CAST(trw AS DOUBLE) AS share_raw,
           CAST(tok_kept AS DOUBLE) / CAST(tkp AS DOUBLE)
             AS share_kept,
           CAST(tok_kept AS DOUBLE) / CAST(tkp AS DOUBLE)
             - CAST(tok_raw AS DOUBLE) / CAST(trw AS DOUBLE)
             AS share_shift
         FROM t ORDER BY source""",

    "t40_pps_sample" ->
      """WITH dw AS (SELECT lang, doc_id,
        |    CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS w
        |  FROM documents),
        |  cm AS (SELECT lang, doc_id, w,
        |    CAST(SUM(w) OVER (PARTITION BY lang ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cum,
        |    CAST(SUM(w) OVER (PARTITION BY lang) AS BIGINT) AS tot
        |  FROM dw),
        |  hit AS (SELECT lang, doc_id, w,
        |    (cum * 20) // tot - ((cum - w) * 20) // tot AS n_hits
        |  FROM cm)
        |SELECT lang, doc_id, w, n_hits FROM hit
        |WHERE n_hits >= 1 ORDER BY lang, doc_id""".stripMargin,

    "t41_pr_threshold_sweep" ->
      (docCte +
        """,
          |  th AS (SELECT UNNEST(CAST([0.50, 0.55, 0.60, 0.65, 0.70,
          |    0.75, 0.80, 0.85, 0.90] AS DOUBLE[])) AS thr),
          |  ct AS (SELECT thr,
          |    CAST(SUM(CASE WHEN b AND s >= thr THEN 1 ELSE 0 END)
          |      AS BIGINT) AS tp,
          |    CAST(SUM(CASE WHEN NOT b AND s >= thr THEN 1 ELSE 0 END)
          |      AS BIGINT) AS fp,
          |    CAST(SUM(CASE WHEN b AND s < thr THEN 1 ELSE 0 END)
          |      AS BIGINT) AS fn,
          |    CAST(SUM(CASE WHEN NOT b AND s < thr THEN 1 ELSE 0 END)
          |      AS BIGINT) AS tn
          |  FROM lab CROSS JOIN th GROUP BY thr)
          |SELECT thr, tp, fp, fn, tn,
          |  CASE WHEN tp + fp = 0 THEN NULL
          |    ELSE CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE)
          |  END AS precision,
          |  CASE WHEN tp + fn = 0 THEN NULL
          |    ELSE CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE)
          |  END AS recall,
          |  CASE WHEN 2 * tp + fp + fn = 0 THEN NULL
          |    ELSE CAST(2 * tp AS DOUBLE) /
          |      CAST(2 * tp + fp + fn AS DOUBLE)
          |  END AS f1
          |FROM ct
          |ORDER BY thr""".stripMargin)
  )
}
