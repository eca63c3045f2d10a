package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Fourteenth analytics batch: classifier evaluation and survival
  * comparison — the measurement layer over the quality screens the
  * pipeline already runs. ROC AUC of the continuous distinct-token
  * ratio against the repetition label via exact rank sums (q171 — the
  * effect-size companion to q134's U test: AUC = U/(n1·n0)), McNemar's
  * paired-screen disagreement test (q172) and Cochran's Q for three
  * paired screens (q173) on q144's raters, a log-rank two-group
  * survival comparison (q174) and the Nelson–Aalen cumulative hazard
  * (q175) on q133's censored time-to-event carrier, and a
  * precision/recall/F1 threshold sweep (t41). Same contract as
  * Extended5–13: declarative plans, exact integer carriers until the
  * final double projections with identical operation sequences on both
  * engines, a scale note per entry. The reference delegates all
  * analytics to user code behind its event processor
  * (`/root/reference/README.md:246-293`).
  */
object Extended14 {

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

  /** DuckDB twin of [[TextOps.repetitionStats]]' repeated-trigram
    * count over a CTE `w(doc_id, words)`: CTEs `g`, `c`, `dup`
    * (doc_id, n_dup) — docs without a repeat have no `dup` row. */
  private[operators] val repetitionSql =
    """g AS (SELECT doc_id,
      |    UNNEST(list_transform(
      |      generate_series(1, GREATEST(LEN(words) - 2, 0)),
      |      i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]))
      |      AS gram
      |  FROM w),
      |  c AS (SELECT doc_id, gram, COUNT(1) AS cnt FROM g
      |    GROUP BY doc_id, gram),
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
  private[operators] def agreementCells(rated: DataFrame): DataFrame =
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
  private[operators] def agreementCellsSql(from: String): String =
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

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

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

    // LOG-RANK TEST — the two-group comparison over q133's censored
    // time-to-event carrier: do even- and odd-id users reach their
    // first qualifying purchase at the same hazard? On this uniform
    // generator the split is a NEGATIVE CONTROL — the test must NOT
    // reject (pre-verified |z| ≤ 1.86 across gate SFs; Round7iOpsSpec
    // plants a differential-hazard fixture where it must). At each
    // pooled event time: observed d₁ vs expected d·n₁/n and the
    // hypergeometric variance d·n₁·(n−n₁)·(n−d)/(n²(n−1)) — exact-long
    // inputs, identical double division sequences, summed over event
    // times as an explicit LEFT FOLD over the time-ordered term list
    // (q133's cross-engine-exact idiom; a DECIMAL(38,15) sum is NOT
    // safe here — the terms are rationals of integers whose per-term
    // double→decimal rounding ties the engines resolve differently,
    // measured 5e-15 apart at sf0.01); one IEEE sqrt at the end. Scale
    // shape: events collapse to the per-user carrier once
    // (materialized, shared with q133), then everything runs on the
    // duration grid — the two descending cumulative windows are over
    // distinct durations, not users.
    "q174_logrank" -> ((s, d) => {
      val per = Extended11.survivalDurations(s, d)
        .withColumn("g1", col("user_id") % 2 === 0)
      val durGrid = per.groupBy(col("dur"))
        .agg(count(lit(1)).as("c_all"),
          sum(when(col("g1"), 1L).otherwise(0L)).as("c_g1"))
      val wDesc = Window.orderBy(col("dur").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val risk = durGrid
        .withColumn("n_risk", sum(col("c_all")).over(wDesc))
        .withColumn("n1_risk", sum(col("c_g1")).over(wDesc))
        .select(col("dur"), col("n_risk"), col("n1_risk"))
      val evts = per.filter(col("is_event"))
        .groupBy(col("dur").as("t"))
        .agg(count(lit(1)).as("d"),
          sum(when(col("g1"), 1L).otherwise(0L)).as("d1"))
      val terms = evts.join(risk, col("t") === col("dur"))
        .withColumn("e_term",
          col("d").cast("double") * col("n1_risk").cast("double") /
            col("n_risk").cast("double"))
        .withColumn("v_term",
          when(col("n_risk") > 1L,
            col("d").cast("double") * col("n1_risk").cast("double") *
              (col("n_risk") - col("n1_risk")).cast("double") *
              (col("n_risk") - col("d")).cast("double") /
              (col("n_risk").cast("double") *
                col("n_risk").cast("double") *
                (col("n_risk") - 1L).cast("double")))
            .otherwise(lit(0.0)))
      terms
        .agg(sum(col("d")).as("d_total"), sum(col("d1")).as("o1"),
          sort_array(collect_list(struct(col("t"), col("e_term"),
            col("v_term")))).as("lst"))
        .withColumn("e1", expr(
          "aggregate(transform(lst, s -> s.e_term), " +
            "CAST(0.0 AS DOUBLE), (a, x) -> a + x)"))
        .withColumn("v_sum", expr(
          "aggregate(transform(lst, s -> s.v_term), " +
            "CAST(0.0 AS DOUBLE), (a, x) -> a + x)"))
        .drop("lst")
        .withColumn("z",
          (col("o1").cast("double") - col("e1")) / sqrt(col("v_sum")))
        .withColumn("chi2", col("z") * col("z"))
        .withColumn("reject_95", abs(col("z")) > 1.96)
        .select(col("d_total"), col("o1"), col("e1"), col("v_sum"),
          col("z"), col("chi2"), col("reject_95"))
    }),

    // NELSON–AALEN CUMULATIVE HAZARD — the additive companion to
    // q133's Kaplan–Meier product: H(t) = Σ_{tᵢ≤t} dᵢ/nᵢ with the
    // Klein variance Σ dᵢ/nᵢ². Each per-time term is one/two exact
    // double divisions; the cumulative sums reuse q133's
    // cross-engine-exact idiom — an explicit LEFT FOLD over the
    // rank-prefix slice of a broadcast term list, so both engines add
    // in the identical sequence (a windowed SUM would not guarantee
    // the addition order inside DuckDB's segment tree). Scale shape:
    // identical to q133 — one materialized carrier, grids over
    // distinct durations; the folded list is bounded by distinct event
    // times, and the scaladoc contract is the same as q133's
    // (collect-to-broadcast is sized by the time grid, not by users).
    "q175_nelson_aalen" -> ((s, d) => {
      val per = Extended11.survivalDurations(s, d)
      val evts = per.filter(col("is_event"))
        .groupBy(col("dur").as("t")).agg(count(lit(1)).as("d"))
      val wDesc = Window.orderBy(col("dur").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val atRisk = per.groupBy(col("dur"))
        .agg(count(lit(1)).as("c_all"))
        .withColumn("n_risk", sum(col("c_all")).over(wDesc))
        .select(col("dur"), col("n_risk"))
      val na = evts.join(atRisk, col("t") === col("dur"))
        .select(col("t"), col("d"), col("n_risk"))
        .withColumn("hz",
          col("d").cast("double") / col("n_risk").cast("double"))
        .withColumn("vt",
          col("d").cast("double") /
            (col("n_risk").cast("double") *
              col("n_risk").cast("double")))
        .withColumn("rn", row_number().over(Window.orderBy(col("t"))))
      val lst = na.agg(sort_array(collect_list(
        struct(col("t"), col("hz"), col("vt")))).as("lst"))
      na.join(broadcast(lst), lit(true))
        .withColumn("cum_hazard", expr(
          "aggregate(transform(slice(lst, 1, rn), s -> s.hz), " +
            "CAST(0.0 AS DOUBLE), (a, x) -> a + x)"))
        .withColumn("cum_var", expr(
          "aggregate(transform(slice(lst, 1, rn), s -> s.vt), " +
            "CAST(0.0 AS DOUBLE), (a, x) -> a + x)"))
        .select(col("t").as("t_min"), col("n_risk"),
          col("d").as("n_events"), col("cum_hazard"), col("cum_var"))
        .orderBy(col("t_min"))
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
    }))

  /** The survival-carrier oracle CTEs shared by q174/q175 (mirrors
    * [[Extended11.survivalDurations]]). */
  private val survCte =
    """per AS (SELECT user_id, MIN(ts) AS ft,
      |    MIN(CASE WHEN event_type = 'purchase' AND value > 150
      |      THEN ts END) AS ev,
      |    MAX(ts) AS lt
      |  FROM events GROUP BY 1),
      |  durs AS (SELECT user_id % 2 = 0 AS g1,
      |    ev IS NOT NULL AS is_event,
      |    CASE WHEN ev IS NOT NULL
      |      THEN (epoch_us(ev) - epoch_us(ft)) // 60000000
      |      ELSE (epoch_us(lt) - epoch_us(ft)) // 60000000
      |    END AS dur
      |  FROM per)""".stripMargin

  def oracleSql: Map[String, String] = Map(
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

    "q174_logrank" ->
      ("WITH " + survCte +
        """,
          |  dc AS (SELECT dur, COUNT(1) AS c_all,
          |    CAST(SUM(CASE WHEN g1 THEN 1 ELSE 0 END) AS BIGINT)
          |      AS c_g1
          |  FROM durs GROUP BY 1),
          |  ar AS (SELECT dur,
          |    CAST(SUM(c_all) OVER (ORDER BY dur DESC
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          |      AS BIGINT) AS n_risk,
          |    CAST(SUM(c_g1) OVER (ORDER BY dur DESC
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          |      AS BIGINT) AS n1_risk
          |  FROM dc),
          |  evts AS (SELECT dur AS t, COUNT(1) AS d,
          |    CAST(SUM(CASE WHEN g1 THEN 1 ELSE 0 END) AS BIGINT)
          |      AS d1
          |  FROM durs WHERE is_event GROUP BY 1),
          |  terms AS (SELECT t, d, d1,
          |    CAST(d AS DOUBLE) * CAST(n1_risk AS DOUBLE) /
          |      CAST(n_risk AS DOUBLE) AS e_term,
          |    CASE WHEN n_risk > 1 THEN
          |      CAST(d AS DOUBLE) * CAST(n1_risk AS DOUBLE) *
          |        CAST(n_risk - n1_risk AS DOUBLE) *
          |        CAST(n_risk - d AS DOUBLE) /
          |        (CAST(n_risk AS DOUBLE) * CAST(n_risk AS DOUBLE) *
          |          CAST(n_risk - 1 AS DOUBLE))
          |      ELSE 0.0 END AS v_term
          |  FROM evts JOIN ar ON t = ar.dur),
          |  ag AS (SELECT CAST(SUM(d) AS BIGINT) AS d_total,
          |    CAST(SUM(d1) AS BIGINT) AS o1,
          |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
          |      list_transform(list(struct_pack(t := t,
          |        e_term := e_term, v_term := v_term) ORDER BY t),
          |        s -> s.e_term)), (a, x) -> a + x) AS e1,
          |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
          |      list_transform(list(struct_pack(t := t,
          |        e_term := e_term, v_term := v_term) ORDER BY t),
          |        s -> s.v_term)), (a, x) -> a + x) AS v_sum
          |  FROM terms),
          |  st AS (SELECT d_total, o1, e1, v_sum,
          |    (CAST(o1 AS DOUBLE) - e1) / sqrt(v_sum) AS z
          |  FROM ag)
          |SELECT d_total, o1, e1, v_sum, z, z * z AS chi2,
          |  ABS(z) > 1.96 AS reject_95
          |FROM st""".stripMargin),

    "q175_nelson_aalen" ->
      ("WITH " + survCte +
        """,
          |  evts AS (SELECT dur AS t, COUNT(1) AS d FROM durs
          |    WHERE is_event GROUP BY 1),
          |  dc AS (SELECT dur, COUNT(1) AS c_all FROM durs GROUP BY 1),
          |  ar AS (SELECT dur, CAST(SUM(c_all) OVER (ORDER BY dur DESC
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          |      AS BIGINT) AS n_risk
          |    FROM dc),
          |  na AS (SELECT t, d, n_risk,
          |      CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE) AS hz,
          |      CAST(d AS DOUBLE) / (CAST(n_risk AS DOUBLE) *
          |        CAST(n_risk AS DOUBLE)) AS vt,
          |      ROW_NUMBER() OVER (ORDER BY t) AS rn
          |    FROM evts JOIN ar ON t = ar.dur),
          |  lst AS (SELECT list(struct_pack(t := t, hz := hz, vt := vt)
          |      ORDER BY t) AS l FROM na)
          |SELECT na.t AS t_min, na.n_risk, na.d AS n_events,
          |  list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
          |    list_transform(list_slice(l.l, 1, rn), s -> s.hz)),
          |    (a, x) -> a + x) AS cum_hazard,
          |  list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
          |    list_transform(list_slice(l.l, 1, rn), s -> s.vt)),
          |    (a, x) -> a + x) AS cum_var
          |FROM na CROSS JOIN lst l
          |ORDER BY t_min""".stripMargin),

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
          |ORDER BY thr""".stripMargin))
}
