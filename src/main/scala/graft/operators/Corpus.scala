package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables

/** Corpus language-model statistics over `documents`: term-frequency
  * shape (Zipf slope, term entropy, Yule's K), bigram models (Good–Turing
  * smoothing, Kneser–Ney cross-entropy, the conditional entropy rate)
  * and byte-pair encoding (merge induction and the encode audit). Each
  * query is a declarative plan with exact integer carriers until its
  * final double projection, and carries its DuckDB oracle twin.
  */
object Corpus extends OperatorFamily {

  /** Shared BPE trainer for t37 (merge table) and t39
    * (encode audit): 5 rounds of deterministic argmax over weighted
    * pair counts on the bracketed-symbol word-frequency table, each
    * round's 1-row winner broadcast back for the re-tokenization
    * replace. Returns (unioned merge table, final symbol table). Both
    * frames are localCheckpointed per round, so the whole training
    * loop reads the documents table once.
    */
  private def bpeTrain(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    val words = Tables.documents(s, d)
      .select(explode(expr(
        "filter(split(trim(text), ' '), x -> x <> '')")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("wcnt"))
      .select(concat(lit("["), array_join(split(col("w"), ""), "]["),
        lit("]")).as("sym"), col("wcnt"))
    var syms = Materialize.LocalCheckpoint(words)
    val merges = (1 to 5).map { r =>
      val pairs = syms
        .withColumn("t", split(
          expr("substring(sym, 2, length(sym) - 2)"), "\\]\\["))
        .select(col("wcnt"), explode(expr(
          "CASE WHEN size(t) >= 2 THEN transform(sequence(1, " +
            "size(t) - 1), i -> concat('[', element_at(t, i), '][', " +
            "element_at(t, i + 1), ']')) " +
            "ELSE CAST(array() AS ARRAY<STRING>) END")).as("pair"))
      val top = Materialize.LocalCheckpoint(
        pairs.groupBy(col("pair")).agg(sum(col("wcnt")).as("cnt"))
          .orderBy(col("cnt").desc, col("pair")).limit(1)
          .withColumn("merged", expr("replace(pair, '][', '')"))
          .withColumn("round", lit(r)))
      syms = Materialize.LocalCheckpoint(
        syms.join(broadcast(top), lit(true))
          .select(expr("replace(sym, pair, merged)").as("sym"),
            col("wcnt")))
      top
    }
    (merges.reduce(_.unionAll(_)), syms)
  }

  /** Word bigrams per document (doc_id, lang, w1, w2): each pair of
    * consecutive non-empty words of the space-split text, exploded
    * in-row. */
  private def bigrams(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        expr("filter(split(trim(text), ' '), x -> x <> '')").as("ws"))
      .select(col("doc_id"), col("lang"), explode(expr(
        "CASE WHEN size(ws) >= 2 THEN transform(sequence(0, size(ws) - 2), " +
          "i -> struct(ws[i] AS w1, ws[i+1] AS w2)) ELSE " +
          "array() END")).as("g"))
      .select(col("doc_id"), col("lang"),
        col("g.w1").as("w1"), col("g.w2").as("w2"))

  /** The bigram models' (train, eval) split of [[bigrams]]: documents
    * with doc_id % 10 == 7 are held out (t44, t49). */
  private def heldOutBigrams(s: SparkSession,
      d: String): (DataFrame, DataFrame) = {
    val bg = bigrams(s, d)
    (bg.filter(col("doc_id") % 10 =!= 7), bg.filter(col("doc_id") % 10 === 7))
  }

  /** DuckDB twin of [[bigrams]]: CTEs `w` (doc_id, lang, ws) and `bg`
    * (doc_id, lang, w1, w2). */
  private val BigramCtes =
    """w AS (SELECT doc_id, lang,
           list_filter(string_split(TRIM(text), ' '), x -> x <> '') AS ws
           FROM documents),
         bg AS (SELECT doc_id, lang, ws[i] AS w1, ws[i + 1] AS w2
           FROM w, UNNEST(generate_series(1, len(ws) - 1)) AS t(i)
           WHERE len(ws) >= 2)"""

  /** DuckDB twin of [[bpeTrain]] (t37, t39): CTEs `w`, `wc` (word
    * counts), `s0` (bracketed symbols) and, for each round i in 1..5,
    * `r<i>p` (the weighted symbol pairs), `r<i>t` (the round's winner:
    * round, pair, cnt, merged) and `s<i>` (the re-tokenized table). */
  private val BpeCtes: String = {
    def round(i: Int): String =
      s"""r${i}p AS (SELECT UNNEST(CASE WHEN len(t) >= 2
         |    THEN list_transform(generate_series(1, len(t) - 1),
         |      i -> '[' || t[i] || '][' || t[i + 1] || ']')
         |    ELSE CAST([] AS VARCHAR[]) END) AS pair, wcnt
         |  FROM (SELECT string_split(substring(sym, 2,
         |      length(sym) - 2), '][') AS t, wcnt FROM s${i - 1})),
         |r${i}t AS (SELECT $i AS round, pair,
         |    CAST(SUM(wcnt) AS BIGINT) AS cnt,
         |    replace(pair, '][', '') AS merged
         |  FROM r${i}p GROUP BY 2 ORDER BY cnt DESC, pair LIMIT 1),
         |s$i AS (SELECT replace(sym, t.pair, t.merged) AS sym, wcnt
         |  FROM s${i - 1} CROSS JOIN r${i}t t)""".stripMargin
    s"""w AS (SELECT UNNEST(list_filter(string_split(trim(text),
       |    ' '), x -> x <> '')) AS w FROM documents),
       |  wc AS (SELECT w, COUNT(1) AS wcnt FROM w GROUP BY 1),
       |  s0 AS (SELECT '[' || array_to_string(string_split(w, ''),
       |      '][') || ']' AS sym, wcnt FROM wc),
       |  ${(1 to 5).map(round).mkString(",\n")}""".stripMargin
  }

  /** Per-document term frequencies (doc_id, term, freq) over the
    * space-split text (t23, t25). */
  private def docTermFreqs(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        explode(split(trim(col("text")), " ")).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("freq"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ZIPF slope per source: log-log OLS of term frequency against
    // frequency rank over each source's top terms. Natural text obeys
    // Zipf (slope near -1); a source whose slope collapses toward 0 is
    // template/machine output — this is a corpus-level quality screen
    // that catches what t02/t16's per-document scores cannot (a
    // thousand distinct documents stamped from one template each look
    // fine alone). Shape: term-frequency aggregate (the only full
    // exchange, partial-agg collapsed), a per-source top-100 window
    // over the |vocab per source| frame, then q58's closed-form OLS on
    // moments — each moment a Parity.dsum (decimal, order-independent)
    // so the slope is cross-engine exact; the result is |sources| rows.
    "t22_zipf_slope" -> ((s, d) => {
      val tf = Tables.documents(s, d)
        .select(col("source"),
          explode(split(trim(col("text")), " ")).as("term"))
        .groupBy(col("source"), col("term"))
        .agg(count(lit(1)).as("freq"))
      val w = Window.partitionBy(col("source"))
        .orderBy(col("freq").desc, col("term"))
      val rk = tf.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 100)
        .withColumn("x", log(col("rank").cast("double")))
        .withColumn("y", log(col("freq").cast("double")))
      rk.groupBy(col("source"))
        .agg(count(lit(1)).as("n_terms"),
          graft.Parity.dsum(col("x")).as("sx"),
          graft.Parity.dsum(col("y")).as("sy"),
          graft.Parity.dsum(col("x") * col("x")).as("sxx"),
          graft.Parity.dsum(col("x") * col("y")).as("sxy"))
        .withColumn("nd", col("n_terms").cast("double"))
        .withColumn("slope",
          (col("nd") * col("sxy") - col("sx") * col("sy"))
            / (col("nd") * col("sxx") - col("sx") * col("sx")))
        .withColumn("intercept",
          (col("sy") - col("slope") * col("sx")) / col("nd"))
        .select(col("source"), col("n_terms"), col("slope"),
          col("intercept"))
        .orderBy(col("source"))
    }),

    // Per-document TERM ENTROPY: Shannon entropy of each document's
    // term distribution plus the normalized form (entropy / ln of
    // distinct terms — 1.0 = uniform, low = a few terms dominate).
    // The within-document diversity screen that complements t11's
    // repetition ratios (a doc repeating one sentence has low entropy
    // long before its top-gram ratio trips). Shape: entirely doc-local
    // — term counts group on (doc, term) where the doc_id prefix keeps
    // the exchange aligned with the document partitioning, and the
    // entropy rollup groups on doc_id; each moment is a Parity.dsum
    // so the doubles are summation-order exact. The one raw (non-dsum)
    // log is ln(n_distinct): bit-identical across engines on integer
    // inputs (verified empirically, JVM intrinsic vs DuckDB libm,
    // 2..2000); any ulp noise in ln(p) is absorbed by dsum's decimal
    // rounding.
    "t23_term_entropy" -> ((s, d) => {
      val tf = docTermFreqs(s, d)
      val tot = tf.groupBy(col("doc_id"))
        .agg(sum(col("freq")).as("total"), count(lit(1)).as("n_distinct"))
      tf.join(tot, "doc_id")
        .withColumn("p", col("freq").cast("double")
          / col("total").cast("double"))
        .groupBy(col("doc_id"))
        .agg(first(col("n_distinct")).as("n_distinct"),
          first(col("total")).as("n_terms"),
          (-graft.Parity.dsum(col("p") * log(col("p")))).as("entropy"))
        .withColumn("norm_entropy",
          when(col("n_distinct") > 1,
            col("entropy") / log(col("n_distinct").cast("double")))
            .otherwise(lit(0d)))
        .select(col("doc_id"), col("n_terms"), col("n_distinct"),
          col("entropy"), col("norm_entropy"))
        .orderBy(col("doc_id"))
    }),

    // BPE MERGE INDUCTION — the first 5 byte-pair-encoding merges over
    // the corpus, the iconic tokenizer-training step t13's frequency
    // vocabulary brackets but never runs: repeatedly merge the most
    // frequent ADJACENT symbol pair, re-tokenize, repeat. Runs on the
    // word-frequency table (the standard implementation: pair counts
    // weighted by word count, merges act within words), so every round
    // is vocabulary-sized no matter the corpus. Symbol sequences are
    // '[t][h][e]'-wrapped strings: the merge is ONE literal
    // replace-all, whose greedy non-overlapping left-to-right scan is
    // exactly BPE's application rule and is implemented identically by
    // Java and DuckDB (checked: '[a][a][a]' + merge (a,a) → '[aa][a]').
    // Tie-break (count desc, pair asc) makes every round
    // deterministic; per-round frames are localCheckpointed (the
    // q105/q125 iterative-lineage discipline). Scale shape: the ONLY
    // corpus exchange is the word-count rollup; 5 rounds of pair
    // explode + 1-row top-pick + broadcast apply all run on the
    // vocabulary frame.
    "t37_bpe_merges" -> ((s, d) => {
      bpeTrain(s, d)._1
        .select(col("round"), col("pair").as("merge_pair"),
          col("cnt").as("n_weighted"))
        .orderBy(col("round"))
    }),

    // GOOD-TURING frequency smoothing over word BIGRAMS — the
    // count-of-counts estimator that closes the vocabulary-statistics
    // family (t13 coverage, t22 Zipf, t29 coverage curve): for each
    // observed frequency r, the smoothed count r* = (r+1)·N_{r+1}/N_r,
    // and the Good–Turing missing mass N_1/N — the probability the
    // NEXT event drawn from this corpus is one never seen, which is
    // exactly the number a data curator reads before deciding whether
    // a vocabulary (t13) or a coverage target (t29) has converged.
    // Bigrams, not unigrams, because the estimator must be able to
    // FIRE (the q108 attainability rule): this corpus has a closed
    // 31-word vocabulary where every word repeats hundreds of times,
    // but the 961-point bigram space genuinely has hapaxes and gaps in
    // its frequency grid. Log-free, so every value is division-exact
    // cross-engine. N_{r+1} is resolved by an adjacency-checked lead
    // over the frequency grid (NOT assumed contiguous — a gap yields
    // N_{r+1} = 0, the estimator's honest answer; this corpus has such
    // gaps and the oracle covers them), and the corpus totals ride an
    // unpartitioned window over the same grid, whose size is bounded
    // by the maximum bigram frequency, not the corpus. Scale shape:
    // one bigram-frequency exchange (map-local explode, partial-agg
    // collapsed), one count-of-counts exchange on the |bigram vocab|
    // frame; everything after runs on the bounded grid.
    "t38_good_turing" -> ((s, d) => {
      val tf = Tables.documents(s, d)
        .select(split(trim(col("text")), " ").as("l"))
        .filter(size(col("l")) >= 2)
        .select(explode(expr(
          "transform(sequence(0, size(l) - 2), " +
            "i -> concat(l[i], ' ', l[i+1]))")).as("term"))
        .groupBy(col("term")).agg(count(lit(1)).as("freq"))
      val cc = tf.groupBy(col("freq").as("r"))
        .agg(count(lit(1)).as("n_r"))
      val wAll = Window
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val wNext = Window.orderBy(col("r"))
      cc.withColumn("n_tokens", sum(col("r") * col("n_r")).over(wAll))
        .withColumn("n1",
          sum(when(col("r") === 1L, col("n_r")).otherwise(0L)).over(wAll))
        .withColumn("r_next", lead(col("r"), 1).over(wNext))
        .withColumn("n_next", lead(col("n_r"), 1).over(wNext))
        .withColumn("n_r1",
          when(col("r_next") === col("r") + 1L, col("n_next"))
            .otherwise(0L))
        .filter(col("r") <= 20L)
        .select(col("r"), col("n_r"), col("n_r1"),
          (((col("r") + 1L) * col("n_r1")).cast("double") /
            col("n_r").cast("double")).as("r_star"),
          (((col("r") + 1L) * col("n_r1")).cast("double") /
            col("n_r").cast("double") / col("n_tokens").cast("double"))
            .as("p_gt"),
          (col("n1").cast("double") / col("n_tokens").cast("double"))
            .as("missing_mass"))
        .orderBy(col("r"))
    }),

    // BPE ENCODE audit — closing t37's train→apply tokenizer loop:
    // the final symbol table t37's 5 merge rounds produce IS the
    // encoded corpus (merges preserve characters, so token counts per
    // word fall straight out of the bracketed form), and the numbers
    // a tokenizer owner actually reads are emitted: character-level
    // token count, post-merge BPE token count, chars-per-token, and
    // the reduction the learned merges bought. Integer-exact until
    // the two final divisions. Scale shape: inherits t37's training
    // loop (one documents scan, per-round 1-row broadcast winners);
    // the audit itself is one aggregate over the |vocab| symbol
    // table.
    "t39_bpe_encode" -> ((s, d) => {
      val fin = bpeTrain(s, d)._2
      fin.agg(count(lit(1)).as("n_words"),
          sum(col("wcnt")).as("n_occurrences"),
          sum(col("wcnt") * expr(
            "length(replace(replace(sym, '[', ''), ']', ''))"))
            .as("n_char_tokens"),
          sum(col("wcnt") * expr("size(split(substring(sym, 2, " +
            "length(sym) - 2), '\\\\]\\\\['))")).as("n_bpe_tokens"))
        .select(col("n_words"), col("n_occurrences"),
          col("n_char_tokens"), col("n_bpe_tokens"),
          (col("n_char_tokens").cast("double") /
            col("n_bpe_tokens").cast("double")).as("chars_per_token"),
          (lit(1.0) - col("n_bpe_tokens").cast("double") /
            col("n_char_tokens").cast("double")).as("token_reduction"))
    }),

    // YULE'S K + SIMPSON'S D — corpus-level lexical concentration per
    // language, from the term-frequency spectrum: K = 10⁴·(Σf² − N)/N²
    // and D = Σf(f−1)/(N(N−1)) (the probability two random tokens are
    // the same type). Complements t25's per-doc TTR with the
    // corpus-level repeat-rate view — on this closed ~31-word
    // vocabulary both run high, and the per-language comparison is
    // the deliverable. Σf², N, V, V1 are exact longs; K and D are
    // single divisions. Long-range note: Σf² holds in longs to
    // N ≈ 3e9 tokens per language (uniform spectrum) — past that,
    // DECIMAL(38,0)/HUGEINT (the q156 carrier). Scale shape: one
    // documents scan, one (lang, term) exchange whose partial
    // aggregation collapses map-side, then ≤|langs| rows.
    "t42_yule_k" -> ((s, d) => {
      Tables.documents(s, d)
        .select(col("lang"),
          explode(split(trim(col("text")), " ")).as("term"))
        .groupBy(col("lang"), col("term"))
        .agg(count(lit(1)).as("f"))
        .groupBy(col("lang"))
        .agg(sum(col("f")).as("n_tokens"),
          count(lit(1)).as("n_types"),
          sum(when(col("f") === 1L, 1L).otherwise(0L)).as("n_hapax"),
          sum(col("f") * col("f")).as("s2"))
        .withColumn("yule_k",
          (lit(10000L) * (col("s2") - col("n_tokens"))).cast("double") /
            (col("n_tokens") * col("n_tokens")).cast("double"))
        .withColumn("simpson_d",
          (col("s2") - col("n_tokens")).cast("double") /
            (col("n_tokens") * (col("n_tokens") - 1L)).cast("double"))
        .select(col("lang"), col("n_tokens"), col("n_types"),
          col("n_hapax"), col("s2"), col("yule_k"), col("simpson_d"))
        .orderBy(col("lang"))
    }),

    // KNESER–NEY BIGRAM CROSS-ENTROPY — t44's add-1 model, upgraded
    // to the smoothing real n-gram LM pipelines ship: absolute
    // discount D = 0.75 off every seen bigram, redistributed through
    // the CONTINUATION probability (how many distinct histories a
    // word completes, not how often it occurs — "Francisco" is
    // frequent but only ever follows "San"). P(w2|w1) =
    // max(c2−D,0)/c1 + (D·N1+(w1·)/c1)·N1+(·w2)/N1+(··); an unseen
    // history backs off to the continuation term alone; a w2 never
    // seen as a continuation gets the uniform floor 1/(V+1). Per-term
    // −log p quantized at DECIMAL(18,9) BEFORE the order-insensitive
    // sum (the t44 libm rule). The finding (measured, Round10OpsSpec):
    // on this generator's HAPAX-DOMINATED bigrams the two smoothers
    // land within 2% and add-1 edges KN on every language at sf0.01 —
    // a fixed D = 0.75 takes three quarters of a singleton's count,
    // and when nearly every seen bigram IS a singleton that
    // over-discount costs more than add-1's uniform dilution (Ney's
    // count-of-counts estimate D = n1/(n1+2n2) would discount even
    // harder here). On real Zipfian text the ranking flips — the
    // eval-twin exists to MEASURE the smoothing choice per corpus,
    // which is exactly what an LM-data pipeline needs it for. Scale
    // shape: identical to t44 — in-row gram
    // explode, three (lang-keyed) count exchanges with map-side
    // combine, broadcast |langs|-row totals, one eval join.
    "t49_kneser_ney_bigram" -> ((s, d) => {
      val (train, ev) = heldOutBigrams(s, d)
      val c2 = train.groupBy(col("lang"), col("w1"), col("w2"))
        .agg(count(lit(1)).as("c2"))
      // per-history: token count c1 AND fan-out N1+(w1·) in one pass
      val hist = c2.groupBy(col("lang"), col("w1"))
        .agg(sum(col("c2")).as("c1"), count(lit(1)).as("n1f"))
      // continuation count N1+(·w2): distinct histories completed
      val cont = c2.groupBy(col("lang"), col("w2"))
        .agg(count(lit(1)).as("n1b"))
      // per-language totals: bigram TYPES and vocabulary
      val tot = c2.groupBy(col("lang"))
        .agg(count(lit(1)).as("n1all"), countDistinct(col("w2")).as("v"))
      val p = ev
        .join(c2, Seq("lang", "w1", "w2"), "left")
        .join(hist, Seq("lang", "w1"), "left")
        .join(cont.withColumnRenamed("w2", "w2"), Seq("lang", "w2"), "left")
        .join(broadcast(tot), Seq("lang"), "left")
        .withColumn("pcont",
          coalesce(col("n1b"), lit(0L)).cast("double") /
            col("n1all").cast("double"))
        .withColumn("p", when(col("c1").isNull,
          // unseen history: continuation model alone, unseen w2 floor
          when(coalesce(col("n1b"), lit(0L)) > 0L, col("pcont"))
            .otherwise(lit(1.0) / (col("v") + lit(1L)).cast("double")))
          .otherwise(
            greatest(coalesce(col("c2"), lit(0L)).cast("double") -
              lit(0.75), lit(0.0)) / col("c1").cast("double") +
              lit(0.75) * col("n1f").cast("double") /
                col("c1").cast("double") *
                when(coalesce(col("n1b"), lit(0L)) > 0L, col("pcont"))
                  .otherwise(lit(1.0) / (col("v") + lit(1L))
                    .cast("double"))))
      p.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_eval_bigrams"),
          sum(when(col("c2").isNull, 1L).otherwise(0L)).as("n_unseen"),
          sum(when(col("c1").isNull, 1L).otherwise(0L))
            .as("n_unseen_hist"),
          sum((-log(col("p"))).cast(DecimalType(18, 9)))
            .cast("double").as("nll_sum"))
        .withColumn("cross_entropy_nats",
          col("nll_sum") / col("n_eval_bigrams").cast("double"))
        .select(col("lang"), col("n_eval_bigrams"), col("n_unseen"),
          col("n_unseen_hist"), col("nll_sum"),
          col("cross_entropy_nats"))
        .orderBy(col("lang"))
    }),

    // BIGRAM ENTROPY RATE per language: H(W₂|W₁) in bits/token from
    // the corpus's own bigram statistics — H = (1/N)·Σ_types
    // c₂·ln(c₁/c₂), surfaced in bits via one division by ln 2. The
    // t44 quantization contract: each type's c₂·ln(c₁/c₂) term is
    // DECIMAL(18,9)-quantized BEFORE the sum (ln is libm, 1-ulp
    // cross-engine; the division c₁/c₂ itself is IEEE-exact). Scale
    // shape: gram explode is in-row; c₂ and c₁ are (lang, gram)
    // counts with map-side combine; the final rollup is |langs| rows.
    "t50_entropy_rate" -> ((s, d) => {
      val bg = bigrams(s, d)
      val c2 = bg.groupBy(col("lang"), col("w1"), col("w2"))
        .agg(count(lit(1)).as("c2"))
      val c1 = bg.groupBy(col("lang"), col("w1"))
        .agg(count(lit(1)).as("c1"))
      c2.join(c1, Seq("lang", "w1"))
        .withColumn("term",
          (col("c2").cast("double") *
            log(col("c1").cast("double") / col("c2").cast("double")))
            .cast(DecimalType(18, 9)))
        .groupBy(col("lang"))
        .agg(sum(col("c2")).as("n_bigrams"),
          countDistinct(col("w1")).as("n_contexts"),
          count(lit(1)).as("n_types"),
          sum(col("term")).cast("double").as("nats_total"))
        .withColumn("entropy_rate_bits",
          (col("nats_total") / col("n_bigrams").cast("double")) /
            lit(0.6931471805599453))
        .select(col("lang"), col("n_bigrams"), col("n_contexts"),
          col("n_types"), col("nats_total"), col("entropy_rate_bits"))
        .orderBy(col("lang"))
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
      val (train, ev) = heldOutBigrams(s, d)
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

    // LEXICAL DIVERSITY per document: type-token ratio, hapax ratio
    // (share of within-doc vocabulary used exactly once), and mean
    // token length — the vocabulary-richness screen next to t23's
    // entropy (TTR catches low-diversity docs linearly; hapax ratio
    // separates natural prose, rich in one-off words, from template
    // text that reuses a fixed vocabulary). Scale: entirely doc-local —
    // the (doc, term) aggregate's exchange is doc_id-prefixed, the
    // per-doc rollup groups on doc_id, all counters are exact integers
    // until the three final divisions.
    "t25_lexical_diversity" -> ((s, d) => {
      val tf = docTermFreqs(s, d)
        .withColumn("tlen", length(col("term")))
      tf.groupBy(col("doc_id"))
        .agg(sum(col("freq")).as("n_tokens"),
          count(lit(1)).as("n_types"),
          sum(when(col("freq") === 1, 1L).otherwise(0L)).as("n_hapax"),
          sum(col("tlen") * col("freq")).as("char_sum"))
        .select(col("doc_id"), col("n_tokens"), col("n_types"),
          (col("n_types").cast("double") / col("n_tokens").cast("double"))
            .as("ttr"),
          (col("n_hapax").cast("double") / col("n_types").cast("double"))
            .as("hapax_ratio"),
          (col("char_sum").cast("double") / col("n_tokens").cast("double"))
            .as("mean_token_len"))
        .orderBy(col("doc_id"))
    }))

  def oracleSql: Map[String, String] = Map(

    "t22_zipf_slope" ->
      s"""WITH terms AS (SELECT source, UNNEST(string_split(TRIM(text), ' '))
                           AS term FROM documents),
         tf AS (SELECT source, term, COUNT(*) AS freq
                FROM terms GROUP BY 1, 2),
         rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY source
                  ORDER BY freq DESC, term) AS rank FROM tf),
         xy AS (SELECT source, ln(CAST(rank AS DOUBLE)) AS x,
                       ln(CAST(freq AS DOUBLE)) AS y
                FROM rk WHERE rank <= 100),
         m AS (SELECT source, COUNT(*) AS n_terms,
                      ${graft.Parity.dsumSql("x")} AS sx,
                      ${graft.Parity.dsumSql("y")} AS sy,
                      ${graft.Parity.dsumSql("x * x")} AS sxx,
                      ${graft.Parity.dsumSql("x * y")} AS sxy
               FROM xy GROUP BY 1)
         SELECT source, n_terms,
                (CAST(n_terms AS DOUBLE) * sxy - sx * sy)
                  / (CAST(n_terms AS DOUBLE) * sxx - sx * sx) AS slope,
                (sy - ((CAST(n_terms AS DOUBLE) * sxy - sx * sy)
                  / (CAST(n_terms AS DOUBLE) * sxx - sx * sx)) * sx)
                  / CAST(n_terms AS DOUBLE) AS intercept
         FROM m ORDER BY source""",

    "t23_term_entropy" ->
      s"""WITH terms AS (SELECT doc_id, UNNEST(string_split(TRIM(text), ' '))
                           AS term FROM documents),
         tf AS (SELECT doc_id, term, COUNT(*) AS freq
                FROM terms GROUP BY 1, 2),
         tot AS (SELECT doc_id, SUM(freq) AS total, COUNT(*) AS n_distinct
                 FROM tf GROUP BY 1),
         p AS (SELECT tf.doc_id, tot.total, tot.n_distinct,
                      CAST(freq AS DOUBLE) / CAST(total AS DOUBLE) AS p
               FROM tf JOIN tot USING (doc_id)),
         e AS (SELECT doc_id, any_value(total) AS n_terms,
                      any_value(n_distinct) AS n_distinct,
                      -(${graft.Parity.dsumSql("p * ln(p)")}) AS entropy
               FROM p GROUP BY 1)
         SELECT doc_id, CAST(n_terms AS BIGINT) AS n_terms, n_distinct,
                entropy,
                CASE WHEN n_distinct > 1
                     THEN entropy / ln(CAST(n_distinct AS DOUBLE))
                     ELSE 0.0 END AS norm_entropy
         FROM e ORDER BY doc_id""",

    "t37_bpe_merges" ->
      s"""WITH $BpeCtes
         |SELECT round, pair AS merge_pair, cnt AS n_weighted
         |FROM (SELECT * FROM r1t UNION ALL SELECT * FROM r2t
         |  UNION ALL SELECT * FROM r3t UNION ALL SELECT * FROM r4t
         |  UNION ALL SELECT * FROM r5t)
         |ORDER BY round""".stripMargin,

    "t38_good_turing" ->
      """WITH docs AS (SELECT string_split(TRIM(text), ' ') AS l
        |    FROM documents),
        |  terms AS (SELECT f.l[i] || ' ' || f.l[i+1] AS term
        |    FROM (SELECT l FROM docs WHERE LEN(l) >= 2) f,
        |    UNNEST(range(1, LEN(f.l))) AS t(i)),
        |  tf AS (SELECT term, COUNT(*) AS freq FROM terms GROUP BY 1),
        |  cc AS (SELECT freq AS r, CAST(COUNT(*) AS BIGINT) AS n_r
        |    FROM tf GROUP BY 1),
        |  g AS (SELECT r, n_r,
        |    CAST(SUM(r * n_r) OVER () AS BIGINT) AS n_tokens,
        |    CAST(SUM(CASE WHEN r = 1 THEN n_r ELSE 0 END) OVER ()
        |      AS BIGINT) AS n1,
        |    LEAD(r, 1) OVER (ORDER BY r) AS r_next,
        |    LEAD(n_r, 1) OVER (ORDER BY r) AS n_next
        |  FROM cc),
        |  h AS (SELECT r, n_r,
        |    CASE WHEN r_next = r + 1 THEN n_next ELSE 0 END AS n_r1,
        |    n_tokens, n1
        |  FROM g)
        |SELECT r, n_r, n_r1,
        |  CAST((r + 1) * n_r1 AS DOUBLE) / CAST(n_r AS DOUBLE) AS r_star,
        |  CAST((r + 1) * n_r1 AS DOUBLE) / CAST(n_r AS DOUBLE)
        |    / CAST(n_tokens AS DOUBLE) AS p_gt,
        |  CAST(n1 AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS missing_mass
        |FROM h WHERE r <= 20
        |ORDER BY r""".stripMargin,

    "t39_bpe_encode" ->
      s"""WITH $BpeCtes,
         |  agg AS (SELECT CAST(COUNT(1) AS BIGINT) AS n_words,
         |    CAST(SUM(wcnt) AS BIGINT) AS n_occurrences,
         |    CAST(SUM(wcnt * length(replace(replace(sym, '[', ''),
         |      ']', ''))) AS BIGINT) AS n_char_tokens,
         |    CAST(SUM(wcnt * len(string_split(substring(sym, 2,
         |      length(sym) - 2), ']['))) AS BIGINT) AS n_bpe_tokens
         |  FROM s5)
         |SELECT n_words, n_occurrences, n_char_tokens, n_bpe_tokens,
         |  CAST(n_char_tokens AS DOUBLE) / CAST(n_bpe_tokens AS DOUBLE)
         |    AS chars_per_token,
         |  1.0 - CAST(n_bpe_tokens AS DOUBLE) /
         |    CAST(n_char_tokens AS DOUBLE) AS token_reduction
         |FROM agg""".stripMargin,

    "t42_yule_k" ->
      """WITH tf AS (SELECT lang, UNNEST(string_split(TRIM(text), ' '))
        |    AS term FROM documents),
        |  f AS (SELECT lang, term, CAST(COUNT(1) AS BIGINT) AS f
        |    FROM tf GROUP BY 1, 2),
        |  ag AS (SELECT lang,
        |    CAST(SUM(f) AS BIGINT) AS n_tokens,
        |    CAST(COUNT(1) AS BIGINT) AS n_types,
        |    CAST(SUM(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_hapax,
        |    CAST(SUM(f * f) AS BIGINT) AS s2
        |  FROM f GROUP BY 1)
        |SELECT lang, n_tokens, n_types, n_hapax, s2,
        |  CAST(10000 * (s2 - n_tokens) AS DOUBLE) /
        |    CAST(n_tokens * n_tokens AS DOUBLE) AS yule_k,
        |  CAST(s2 - n_tokens AS DOUBLE) /
        |    CAST(n_tokens * (n_tokens - 1) AS DOUBLE) AS simpson_d
        |FROM ag
        |ORDER BY lang""".stripMargin,

    "t49_kneser_ney_bigram" ->
      s"""WITH $BigramCtes,
        |  train AS (SELECT * FROM bg WHERE doc_id % 10 <> 7),
        |  ev AS (SELECT * FROM bg WHERE doc_id % 10 = 7),
        |  c2 AS (SELECT lang, w1, w2, COUNT(1) AS c2
        |    FROM train GROUP BY 1, 2, 3),
        |  hist AS (SELECT lang, w1, SUM(c2) AS c1, COUNT(1) AS n1f
        |    FROM c2 GROUP BY 1, 2),
        |  cont AS (SELECT lang, w2, COUNT(1) AS n1b
        |    FROM c2 GROUP BY 1, 2),
        |  tot AS (SELECT lang, COUNT(1) AS n1all,
        |    COUNT(DISTINCT w2) AS v FROM c2 GROUP BY 1),
        |  p AS (SELECT ev.lang, c2.c2, hist.c1,
        |    CASE WHEN hist.c1 IS NULL THEN
        |      CASE WHEN COALESCE(cont.n1b, 0) > 0
        |        THEN CAST(COALESCE(cont.n1b, 0) AS DOUBLE) /
        |          CAST(tot.n1all AS DOUBLE)
        |        ELSE 1.0 / CAST(tot.v + 1 AS DOUBLE) END
        |    ELSE
        |      GREATEST(CAST(COALESCE(c2.c2, 0) AS DOUBLE) - 0.75, 0.0)
        |        / CAST(hist.c1 AS DOUBLE) +
        |      0.75 * CAST(hist.n1f AS DOUBLE) / CAST(hist.c1 AS DOUBLE)
        |        * CASE WHEN COALESCE(cont.n1b, 0) > 0
        |            THEN CAST(COALESCE(cont.n1b, 0) AS DOUBLE) /
        |              CAST(tot.n1all AS DOUBLE)
        |            ELSE 1.0 / CAST(tot.v + 1 AS DOUBLE) END
        |    END AS p
        |  FROM ev
        |  LEFT JOIN c2 ON c2.lang = ev.lang AND c2.w1 = ev.w1
        |    AND c2.w2 = ev.w2
        |  LEFT JOIN hist ON hist.lang = ev.lang AND hist.w1 = ev.w1
        |  LEFT JOIN cont ON cont.lang = ev.lang AND cont.w2 = ev.w2
        |  LEFT JOIN tot ON tot.lang = ev.lang)
        |SELECT lang, CAST(COUNT(1) AS BIGINT) AS n_eval_bigrams,
        |  CAST(SUM(CASE WHEN c2 IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_unseen,
        |  CAST(SUM(CASE WHEN c1 IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_unseen_hist,
        |  CAST(CAST(SUM(CAST(-ln(p) AS DECIMAL(18, 9))) AS VARCHAR)
        |    AS DOUBLE) AS nll_sum,
        |  CAST(CAST(SUM(CAST(-ln(p) AS DECIMAL(18, 9))) AS VARCHAR)
        |    AS DOUBLE) / CAST(COUNT(1) AS DOUBLE)
        |    AS cross_entropy_nats
        |FROM p GROUP BY 1 ORDER BY lang""".stripMargin,

    "t50_entropy_rate" ->
      s"""WITH $BigramCtes,
         c2 AS (SELECT lang, w1, w2, CAST(COUNT(1) AS BIGINT) AS c2
           FROM bg GROUP BY 1, 2, 3),
         c1 AS (SELECT lang, w1, CAST(COUNT(1) AS BIGINT) AS c1
           FROM bg GROUP BY 1, 2),
         t AS (SELECT c2.lang, c2.c2,
             CAST(CAST(c2.c2 AS DOUBLE) *
               ln(CAST(c1.c1 AS DOUBLE) / CAST(c2.c2 AS DOUBLE))
               AS DECIMAL(18, 9)) AS term
           FROM c2 JOIN c1 ON c2.lang = c1.lang AND c2.w1 = c1.w1),
         agg AS (SELECT lang, CAST(SUM(c2) AS BIGINT) AS n_bigrams,
             CAST(COUNT(1) AS BIGINT) AS n_types,
             CAST(SUM(term) AS DOUBLE) AS nats_total
           FROM t GROUP BY 1),
         ctx AS (SELECT lang, CAST(COUNT(1) AS BIGINT) AS n_contexts
           FROM c1 GROUP BY 1)
         SELECT agg.lang AS lang, n_bigrams, n_contexts, n_types,
           nats_total,
           (nats_total / CAST(n_bigrams AS DOUBLE)) / 0.6931471805599453
             AS entropy_rate_bits
         FROM agg JOIN ctx ON agg.lang = ctx.lang
         ORDER BY 1""",

    // add-one bigram LM; NLL terms quantized to DECIMAL(18,9) before
    // the sum (ln is libm on both engines — see the Spark twin)
    "t44_bigram_cross_entropy" ->
      s"""WITH $BigramCtes,
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

    "t25_lexical_diversity" ->
      """WITH terms AS (SELECT doc_id, UNNEST(string_split(TRIM(text), ' '))
                          AS term FROM documents),
         tf AS (SELECT doc_id, term, COUNT(*) AS freq,
                       LEN(term) AS tlen
                FROM terms GROUP BY 1, 2),
         agg AS (SELECT doc_id,
                   CAST(SUM(freq) AS BIGINT) AS n_tokens,
                   COUNT(*) AS n_types,
                   CAST(SUM(CASE WHEN freq = 1 THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_hapax,
                   CAST(SUM(tlen * freq) AS BIGINT) AS char_sum
                 FROM tf GROUP BY 1)
         SELECT doc_id, n_tokens, n_types,
                CAST(n_types AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS ttr,
                CAST(n_hapax AS DOUBLE) / CAST(n_types AS DOUBLE)
                  AS hapax_ratio,
                CAST(char_sum AS DOUBLE) / CAST(n_tokens AS DOUBLE)
                  AS mean_token_len
         FROM agg ORDER BY doc_id""")
}
