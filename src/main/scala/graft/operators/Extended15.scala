package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Fifteenth analytics batch: forecast evaluation and robust
  * regression — the operational payoff of q160's oscillation finding.
  * The weekly revenue series oscillates (runs test z = 2.6, lag-1 ACF
  * −0.076), so a trailing-mean forecast should beat last-value naive —
  * and it measurably does: the backtest (q176) scores MASE ≈ 0.78 for
  * the 4-week mean and ≈ 1.75 for drift at every gate SF, the
  * Diebold–Mariano test (q177) confirms the mean's loss advantage is
  * systematic (DM ≈ 6.5), and the Wilcoxon signed-rank test (q178) is
  * its rank-robust twin on the same loss differentials. q179 closes
  * the robust-regression family (q58 OLS, q131/q155 Theil–Sen) with
  * Siegel's repeated median — breakdown point 50%. Same contract as
  * Extended5–14: declarative plans, exact integer carriers until the
  * final double projections with identical operation sequences on
  * both engines, a scale note per entry. The reference delegates all
  * analytics to user code behind its event processor
  * (`/root/reference/README.md:246-293`).
  */
object Extended15 {

  /** The shared backtest frame of q176/q177/q178: the global weekly
    * revenue series (whole dollars, exact longs) with three one-step
    * forecasts per week — naive (last value), the trailing-4-week
    * integer-mean, and drift (2·y₁ − y₂) — evaluated on the weeks
    * where all three are defined. Forecast lags run over the OBSERVED
    * week sequence (documented: a gap week pairs with the previous
    * observed week; the gate corpus is gap-free at sf0.01/sf0.1 and
    * has 7 gaps at sf0.001 — the backtest contract is "previous
    * observation", not calendar-shifted). Scale shape: the fact table
    * collapses to ONE calendar-bounded row per week before the
    * single-partition lag window (~350 rows at ANY data scale — the
    * q156 aggregate-first stance). */
  private def weeklyBacktest(s: SparkSession, d: String): DataFrame = {
    val wLag = Window.orderBy(col("w"))
    OrderRevenue.weeklyRevenue(s, d)
      .withColumn("y1", lag(col("y"), 1).over(wLag))
      .withColumn("y2", lag(col("y"), 2).over(wLag))
      .withColumn("y3", lag(col("y"), 3).over(wLag))
      .withColumn("y4", lag(col("y"), 4).over(wLag))
      .filter(col("y4").isNotNull)
      .select(col("w"), col("y"),
        col("y1").as("naive"),
        expr("(y1 + y2 + y3 + y4) div 4").as("mean4"),
        (lit(2L) * col("y1") - col("y2")).as("drift"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // FORECAST BACKTEST (MASE) — one-step-ahead evaluation of three
    // forecasters on the weekly revenue series: naive (last value),
    // trailing-4-week mean, drift. MAE per model is a single division
    // of an exact long error sum; MASE divides each model's error sum
    // by the naive's ON THE SAME EVALUATION ROWS (the n cancels — one
    // division, and naive's MASE is exactly 1.0). The oscillating
    // series (q160) makes this a REAL ranking: mean4 ≈ 0.78, drift ≈
    // 1.75 at every gate SF — smoothing wins, extrapolation loses,
    // measured out-of-sample by construction (each forecast sees only
    // prior weeks). Scale shape: one fact rollup to the calendar-
    // bounded week grid, a single-partition lag window over ~350
    // rows, 3 rows out via a row-local model unpivot.
    "q176_forecast_backtest" -> ((s, d) => {
      val e = weeklyBacktest(s, d)
        .select(
          abs(col("y") - col("naive")).as("e_naive"),
          abs(col("y") - col("mean4")).as("e_mean4"),
          abs(col("y") - col("drift")).as("e_drift"))
        .agg(count(lit(1)).as("n_eval"),
          sum(col("e_naive")).as("s_naive"),
          sum(col("e_mean4")).as("s_mean4"),
          sum(col("e_drift")).as("s_drift"))
      e.select(explode(array(
          struct(lit("naive").as("model"), col("n_eval"),
            col("s_naive").as("abs_err_sum")),
          struct(lit("mean4").as("model"), col("n_eval"),
            col("s_mean4").as("abs_err_sum")),
          struct(lit("drift").as("model"), col("n_eval"),
            col("s_drift").as("abs_err_sum")))).as("m"),
          col("s_naive"))
        .select(col("m.model").as("model"), col("m.n_eval").as("n_eval"),
          col("m.abs_err_sum").as("abs_err_sum"),
          (col("m.abs_err_sum").cast("double") /
            col("m.n_eval").cast("double")).as("mae"),
          // a constant series makes the naive error sum 0 — NULL, not
          // a 0/0 NaN or x/0 Infinity (the q172/q173 zero-denominator
          // convention)
          when(col("s_naive") === 0L, lit(null).cast("double"))
            .otherwise(col("m.abs_err_sum").cast("double") /
              col("s_naive").cast("double")).as("mase"))
        .orderBy(col("model"))
    }),

    // DIEBOLD–MARIANO TEST — is mean4's loss advantage over naive
    // systematic or luck? d_t = |e_naive| − |e_mean4| is an exact
    // LONG per week (differences of integer absolute errors), so the
    // loss-differential moments S1 = Σd, S2 = Σd² are exact, the
    // sample variance (n·S2 − S1²)/(n(n−1)) and DM = d̄/√(var/n)
    // assemble in doubles with one identical-sequence division chain
    // and ONE IEEE sqrt. DM ≈ 6.5 at every gate SF — rejects hard;
    // the mean forecast's win is structural (the q160 oscillation),
    // not sampling noise. Long-range note: n·S2 holds exactly in
    // longs while the weekly |d| stays under ~8.7e6 dollars at
    // n ≈ 350 (measured 1.8e18 of 9.2e18 at sf0.1); past that, carry
    // the moments in DECIMAL(38,0)/HUGEINT (the q156 128-bit
    // carrier). Scale shape: calendar-bounded grid, map-side partial
    // aggregation to one row.
    "q177_diebold_mariano" -> ((s, d) => {
      weeklyBacktest(s, d)
        .select((abs(col("y") - col("naive")) -
          abs(col("y") - col("mean4"))).as("dt"))
        .agg(count(lit(1)).as("n_eval"),
          sum(col("dt")).as("s1"),
          sum(col("dt") * col("dt")).as("s2"))
        .withColumn("d_bar",
          col("s1").cast("double") / col("n_eval").cast("double"))
        .withColumn("var_d",
          (col("n_eval") * col("s2") - col("s1") * col("s1"))
            .cast("double") /
            (col("n_eval") * (col("n_eval") - 1L)).cast("double"))
        .withColumn("dm_stat",
          col("d_bar") /
            sqrt(col("var_d") / col("n_eval").cast("double")))
        .withColumn("reject_95", abs(col("dm_stat")) > 1.96)
        .select(col("n_eval"), col("s1"), col("d_bar"), col("var_d"),
          col("dm_stat"), col("reject_95"))
    }),

    // WILCOXON SIGNED-RANK — the rank-robust twin of q177 on the SAME
    // loss differentials: is the MEDIAN of d_t = |e_naive| − |e_mean4|
    // nonzero? Immune to the heavy loss weeks that could carry a mean
    // test alone. Zero differentials drop (the standard convention;
    // none occur at any gate SF — pre-verified), |d| values grid up
    // with signed counts, midranks stay exact integers as
    // 2·midrank = 2·below + ties + 1 (the q134 carrier), and the
    // statistic T₂ = Σ(c₊ − c₋)·2R with tie-corrected variance
    // 4·Var[T] = 2n(n+1)(2n+1)/3 − Σ(t³−t)/3 — both terms are exact
    // integer divisions (n(n+1)(2n+1) is divisible by 6, t³−t by 6),
    // so z = T₂/√Var₂ is one double division and one IEEE sqrt.
    // Scale shape: the only exchanges carry the |d| value grid
    // (calendar-bounded); one row out.
    "q178_wilcoxon_signed_rank" -> ((s, d) => {
      val dts = weeklyBacktest(s, d)
        .select((abs(col("y") - col("naive")) -
          abs(col("y") - col("mean4"))).as("dt"))
        .filter(col("dt") =!= 0L)
      val grid = dts.groupBy(abs(col("dt")).as("ad"))
        .agg(sum(when(col("dt") > 0L, 1L).otherwise(0L)).as("cpos"),
          sum(when(col("dt") < 0L, 1L).otherwise(0L)).as("cneg"))
        .withColumn("t", col("cpos") + col("cneg"))
      val wBelow = Window.orderBy(col("ad"))
        .rowsBetween(Window.unboundedPreceding, -1)
      grid
        .withColumn("below",
          coalesce(sum(col("t")).over(wBelow), lit(0L)))
        .withColumn("r2", lit(2L) * col("below") + col("t") + 1L)
        .agg(sum(col("t")).as("n_nonzero"),
          sum((col("cpos") - col("cneg")) * col("r2")).as("t2_stat"),
          sum(col("t") * col("t") * col("t") - col("t")).as("tie3"))
        .withColumn("var2", expr(
          "(2 * n_nonzero * (n_nonzero + 1) * (2 * n_nonzero + 1)) " +
            "div 3 - tie3 div 3"))
        .withColumn("z",
          col("t2_stat").cast("double") /
            sqrt(col("var2").cast("double")))
        .withColumn("reject_95", abs(col("z")) > 1.96)
        .select(col("n_nonzero"), col("t2_stat"), col("tie3"),
          col("var2"), col("z"), col("reject_95"))
    }),

    // BRUNNER–MUNZEL TEST — the Welch of rank tests: q134's
    // Mann–Whitney assumes equal variances of the rank distributions;
    // q165 measured that homoscedasticity FAILS across order-size
    // buckets (F ≈ 568), so this is the two-sample rank test actually
    // licensed on this corpus. Per group: pooled and within-group
    // 2×midranks off the shared value grid; the rank-difference
    // moments A = Σc·(2d)², B = Σc·(2d) stay exact longs, the
    // variance combos n·A − B² ride DECIMAL(38,0)/HUGEINT (measured
    // ≤ 6e19 at sf0.1 — the q183 carrier), and
    // S²_g = (n·A − B²)/(4n(n−1)) is one division. W follows the
    // standard n₁n₂(R̄₁−R̄₂)/((N)·√(n₁S₁²+n₂S₂²)) assembly with one
    // IEEE sqrt; p̂ = (R̄_wide − (n_w+1)/2)/n_n is the common-language
    // effect size on the same rationals. Large-sample normal
    // rejection (documented; n ≥ 5k at the gate SFs). Scale shape:
    // one fact rollup, grid-keyed windows, one row out.
    "q184_brunner_munzel" -> ((s, d) => {
      val dec = org.apache.spark.sql.types.DecimalType(38, 0)
      val grid = OrderRevenue.widthCounts(s, d)
      val wB = Window.orderBy(col("value"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val rk = grid
        .withColumn("below", coalesce(sum(col("t")).over(wB), lit(0L)))
        .withColumn("below_a",
          coalesce(sum(col("ca")).over(wB), lit(0L)))
        .withColumn("below_b",
          coalesce(sum(col("cb")).over(wB), lit(0L)))
        .withColumn("r2", lit(2L) * col("below") + col("t") + 1L)
        .withColumn("da",
          col("r2") - (lit(2L) * col("below_a") + col("ca") + 1L))
        .withColumn("db",
          col("r2") - (lit(2L) * col("below_b") + col("cb") + 1L))
      val m = rk.agg(
        sum(col("ca")).as("na"), sum(col("cb")).as("nb"),
        sum(col("ca") * col("r2")).as("pa2"),
        sum(col("cb") * col("r2")).as("pb2"),
        sum(col("ca") * col("da")).as("ba"),
        sum(col("ca") * col("da") * col("da")).as("aa"),
        sum(col("cb") * col("db")).as("bb"),
        sum(col("cb") * col("db") * col("db")).as("ab"))
      m.withColumn("s2a",
          (col("na").cast(dec) * col("aa").cast(dec) -
            col("ba").cast(dec) * col("ba").cast(dec)).cast("double") /
            (lit(4L) * col("na") * (col("na") - 1L)).cast("double"))
        .withColumn("s2b",
          (col("nb").cast(dec) * col("ab").cast(dec) -
            col("bb").cast(dec) * col("bb").cast(dec)).cast("double") /
            (lit(4L) * col("nb") * (col("nb") - 1L)).cast("double"))
        .withColumn("rbar_a",
          col("pa2").cast("double") /
            (lit(2.0) * col("na").cast("double")))
        .withColumn("rbar_b",
          col("pb2").cast("double") /
            (lit(2.0) * col("nb").cast("double")))
        .withColumn("p_hat",
          (col("rbar_a") -
            (col("na") + 1L).cast("double") / lit(2.0)) /
            col("nb").cast("double"))
        .withColumn("w_stat",
          col("na").cast("double") * col("nb").cast("double") *
            (col("rbar_a") - col("rbar_b")) /
            ((col("na") + col("nb")).cast("double") *
              sqrt(col("na").cast("double") * col("s2a") +
                col("nb").cast("double") * col("s2b"))))
        .withColumn("reject_95", abs(col("w_stat")) > 1.96)
        .select(col("na").as("n_wide"), col("nb").as("n_narrow"),
          col("p_hat"), col("s2a").as("s2_wide"),
          col("s2b").as("s2_narrow"), col("w_stat"), col("reject_95"))
    }),

    // CRAMÉR–VON MISES TWO-SAMPLE — the integral companion to t36's
    // KS supremum: T = Σ_pooled t·(C₁n₂ − C₂n₁)² / (N²n₁n₂) over the
    // pooled value grid, sensitive to distribution differences
    // EVERYWHERE, not just at the widest gap. The cumulative
    // difference D = C₁n₂ − C₂n₁ is an exact long; t·D² exceeds 2⁶³
    // at sf0.1 so the sum rides DECIMAL(38,0)/HUGEINT (measured
    // ≤ 1e25 of 1e38), and T is ONE division with the denominator
    // assembled in doubles. Rejection against the asymptotic 5%
    // point of ω² (0.4614, a literal — documented asymptotic). Scale
    // shape: identical to q134 — one rollup, one grid window, one
    // row.
    "q185_cramer_von_mises" -> ((s, d) => {
      val dec = org.apache.spark.sql.types.DecimalType(38, 0)
      val grid = OrderRevenue.widthCounts(s, d)
      val wCum = Window.orderBy(col("value"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.orderBy(col("value")).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
      val rk = grid
        .withColumn("c1", sum(col("ca")).over(wCum))
        .withColumn("c2", sum(col("cb")).over(wCum))
        .withColumn("na", sum(col("ca")).over(wAll))
        .withColumn("nb", sum(col("cb")).over(wAll))
        .withColumn("dd", col("c1") * col("nb") - col("c2") * col("na"))
      rk.agg(max(col("na")).as("na"), max(col("nb")).as("nb"),
          sum(col("t").cast(dec) * col("dd").cast(dec) *
            col("dd").cast(dec)).as("u"))
        .withColumn("n", col("na") + col("nb"))
        .withColumn("t_stat",
          col("u").cast("double") /
            (col("n").cast("double") * col("n").cast("double") *
              col("na").cast("double") * col("nb").cast("double")))
        .withColumn("reject_95", col("t_stat") > 0.4614)
        .select(col("na").as("n_wide"), col("nb").as("n_narrow"),
          col("t_stat"), col("reject_95"))
    }),

    // STANDARDIZED EFFECT SIZES — the magnitude the q134/q140 tests
    // leave unreported: Cohen's d on the pooled SD, the Hedges small-
    // sample correction g = d·(1 − 3/(4N − 9)), and Glass's Δ on the
    // control (narrow) SD alone — the right denominator when q165
    // says the variances differ. Group moments are exact longs; the
    // n·S2 − S1² combos ride DECIMAL(38,0)/HUGEINT (the q183
    // carrier); means, variances, and the three ratios assemble in
    // identical-sequence doubles with one IEEE sqrt each. Scale
    // shape: one fact rollup, map-side partials to one row.
    "q186_effect_sizes" -> ((s, d) => {
      val dec = org.apache.spark.sql.types.DecimalType(38, 0)
      val m = OrderRevenue.orderWidthValues(s, d).agg(
        sum(when(col("wide"), 1L).otherwise(0L)).as("na"),
        sum(when(!col("wide"), 1L).otherwise(0L)).as("nb"),
        sum(when(col("wide"), col("value")).otherwise(0L)).as("sa"),
        sum(when(!col("wide"), col("value")).otherwise(0L)).as("sb"),
        sum(when(col("wide"), col("value") * col("value"))
          .otherwise(0L)).as("qa"),
        sum(when(!col("wide"), col("value") * col("value"))
          .otherwise(0L)).as("qb"))
      m.withColumn("mean_wide",
          col("sa").cast("double") / col("na").cast("double"))
        .withColumn("mean_narrow",
          col("sb").cast("double") / col("nb").cast("double"))
        .withColumn("var_wide",
          (col("na").cast(dec) * col("qa").cast(dec) -
            col("sa").cast(dec) * col("sa").cast(dec)).cast("double") /
            (col("na") * (col("na") - 1L)).cast("double"))
        .withColumn("var_narrow",
          (col("nb").cast(dec) * col("qb").cast(dec) -
            col("sb").cast(dec) * col("sb").cast(dec)).cast("double") /
            (col("nb") * (col("nb") - 1L)).cast("double"))
        .withColumn("sd_pooled", sqrt(
          ((col("na") - 1L).cast("double") * col("var_wide") +
            (col("nb") - 1L).cast("double") * col("var_narrow")) /
            (col("na") + col("nb") - 2L).cast("double")))
        .withColumn("cohens_d",
          (col("mean_wide") - col("mean_narrow")) / col("sd_pooled"))
        .withColumn("hedges_g",
          col("cohens_d") * (lit(1.0) - lit(3.0) /
            (lit(4.0) * (col("na") + col("nb")).cast("double") -
              lit(9.0))))
        .withColumn("glass_delta",
          (col("mean_wide") - col("mean_narrow")) /
            sqrt(col("var_narrow")))
        .select(col("na").as("n_wide"), col("nb").as("n_narrow"),
          col("mean_wide"), col("mean_narrow"), col("cohens_d"),
          col("hedges_g"), col("glass_delta"))
    }),

    // WALK-FORWARD OLS BACKTEST — the regression member of the
    // temporal-cross-validation family (q145 backtests quantile
    // bounds, q176 point forecasts): for every week past a burn-in of
    // 8, fit y = α + β·w on the PRIOR weeks only and predict the
    // current one — leakage-safe by construction. The expanding
    // moments are exact longs off ONE cumulative window frame
    // (rowsBetween(-∞, -1) — the fit never sees its target), β and α
    // are single divisions, and the naive |y − y_prev| error rides
    // along as the per-week scale reference (q176's denominator).
    // The per-week prediction frame IS the deliverable — no
    // cross-row float sum exists to sequence. Scale shape: the fact
    // table collapses to the calendar-bounded week grid before the
    // single-partition windows (the q156 aggregate-first stance).
    "q188_walkforward_ols" -> ((s, d) => {
      val wk = OrderRevenue.weeklyRevenue(s, d)
      val wPrior = Window.orderBy(col("w"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val wLag = Window.orderBy(col("w"))
      wk
        .withColumn("cn", coalesce(count(col("y")).over(wPrior), lit(0L)))
        .withColumn("sx", coalesce(sum(col("w")).over(wPrior), lit(0L)))
        .withColumn("sy", coalesce(sum(col("y")).over(wPrior), lit(0L)))
        .withColumn("sxx",
          coalesce(sum(col("w") * col("w")).over(wPrior), lit(0L)))
        .withColumn("sxy",
          coalesce(sum(col("w") * col("y")).over(wPrior), lit(0L)))
        .withColumn("y_prev", lag(col("y"), 1).over(wLag))
        .filter(col("cn") >= 8L)
        .withColumn("beta",
          (col("cn") * col("sxy") - col("sx") * col("sy"))
            .cast("double") /
            (col("cn") * col("sxx") - col("sx") * col("sx"))
              .cast("double"))
        .withColumn("alpha",
          (col("sy").cast("double") -
            col("beta") * col("sx").cast("double")) /
            col("cn").cast("double"))
        .withColumn("yhat",
          col("alpha") + col("beta") * col("w").cast("double"))
        .withColumn("abs_err", abs(col("y").cast("double") - col("yhat")))
        .withColumn("abs_err_naive", abs(col("y") - col("y_prev")))
        .select(col("w"), col("y"), col("yhat"), col("abs_err"),
          col("abs_err_naive"))
        .orderBy(col("w"))
    }),

    // OVERDISPERSION (INDEX OF DISPERSION) TEST — are weekly order
    // counts Poisson? D = (n−1)·s²/x̄ collapses to the exact integer
    // form (n·S2 − S1²)/S1 — ONE division of exact longs — tested
    // against χ²_{n−1} via the Wilson–Hilferty cube approximation in
    // identical double ops (z₀.₉₅ literal, cube by multiplication, no
    // libm). The finding is genuinely scale-dependent: the ratio
    // var/mean grows 0.92 → 1.19 → 2.36 across the gate SFs — at
    // sf0.001 Poisson thinning hides the week-level rate variation,
    // at sf0.01+ the test correctly rejects it (the q160 oscillation
    // seen through count eyes). Scale shape: one orders scan
    // collapses to the calendar-bounded week grid; moments partial-
    // aggregate to one row.
    "q187_overdispersion" -> ((s, d) => {
      // the n·S2 − S1² combos ride DECIMAL(38,0)/HUGEINT (the q183
      // carrier): S1² alone wraps a long near 3e9 total orders, and
      // Spark's non-ANSI multiply would wrap SILENTLY while DuckDB's
      // BIGINT overflow errors loudly — divergent engines, wrong
      // answers on one of them
      val dec = org.apache.spark.sql.types.DecimalType(38, 0)
      Tables.orders(s, d)
        .groupBy(OrderRevenue.orderWeek.as("w"))
        .agg(count(lit(1)).as("c"))
        .agg(count(lit(1)).as("n"), sum(col("c")).as("s1"),
          sum(col("c") * col("c")).as("s2"))
        .withColumn("mean_c",
          col("s1").cast("double") / col("n").cast("double"))
        .withColumn("var_c",
          (col("n").cast(dec) * col("s2").cast(dec) -
            col("s1").cast(dec) * col("s1").cast(dec)).cast("double") /
            (col("n") * (col("n") - 1L)).cast("double"))
        .withColumn("dispersion_ratio", col("var_c") / col("mean_c"))
        .withColumn("d_stat",
          (col("n").cast(dec) * col("s2").cast(dec) -
            col("s1").cast(dec) * col("s1").cast(dec)).cast("double") /
            col("s1").cast("double"))
        .withColumn("df", (col("n") - 1L).cast("double"))
        .withColumn("wh",
          lit(1.0) - lit(2.0) / (lit(9.0) * col("df")) +
            lit(1.6448536269514722) *
            sqrt(lit(2.0) / (lit(9.0) * col("df"))))
        .withColumn("crit_95",
          col("df") * col("wh") * col("wh") * col("wh"))
        .withColumn("reject_95", col("d_stat") > col("crit_95"))
        .select(col("n").as("n_weeks"), col("mean_c"), col("var_c"),
          col("dispersion_ratio"), col("d_stat"), col("crit_95"),
          col("reject_95"))
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

    // TWO-PREDICTOR OLS (exact normal equations) — the multivariate
    // extension of q58's single-feature fit: per-order revenue
    // regressed on item count AND total discount points, solved in
    // closed form via Cramer's rule on CENTERED 128-bit moments
    // (n·Sxx − Sx² etc., the q156 DECIMAL(38,0)/HUGEINT carrier;
    // row-level products stay in longs, every cross-combination is
    // measured ≤ 1.2e28 at sf0.1 — ten orders of headroom in
    // precision 38). The finding is the decomposition: basket size
    // carries the revenue (β₁ ≈ 52,900 $/item, R² = 0.74) while the
    // discount coefficient is near-zero — the q146 "noise column"
    // lesson, now measured as a partial effect. Divisions happen ONLY
    // at the final β/R² projections (DuckDB surfaces HUGEINT moments
    // through the VARCHAR→DOUBLE route, the q150 rule). Scale shape:
    // one fact scan, one per-order rollup exchange, map-side partial
    // aggregation of 10 moments to a single row.
    "q183_multiple_regression" -> ((s, d) => {
      val dec = org.apache.spark.sql.types.DecimalType(38, 0)
      val per = Tables.lineitem(s, d)
        .groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("x1"),
          sum(expr("CAST(round(l_discount * 100) AS BIGINT)")).as("x2"),
          expr("sum(CAST(round(l_extendedprice * 100) AS BIGINT)) " +
            "div 100").as("y"))
      val m = per.agg(
        count(lit(1)).cast(dec).as("n"),
        sum(col("x1").cast(dec)).as("s1"),
        sum(col("x2").cast(dec)).as("s2"),
        sum(col("y").cast(dec)).as("sy"),
        sum((col("x1") * col("x1")).cast(dec)).as("s11"),
        sum((col("x2") * col("x2")).cast(dec)).as("s22"),
        sum((col("x1") * col("x2")).cast(dec)).as("s12"),
        sum((col("x1") * col("y")).cast(dec)).as("s1y"),
        sum((col("x2") * col("y")).cast(dec)).as("s2y"),
        sum((col("y") * col("y")).cast(dec)).as("syy"))
      m.select(col("n"),
          (col("n") * col("s11") - col("s1") * col("s1")).as("m11"),
          (col("n") * col("s22") - col("s2") * col("s2")).as("m22"),
          (col("n") * col("s12") - col("s1") * col("s2")).as("m12"),
          (col("n") * col("s1y") - col("s1") * col("sy")).as("b1v"),
          (col("n") * col("s2y") - col("s2") * col("sy")).as("b2v"),
          (col("n") * col("syy") - col("sy") * col("sy")).as("syy_c"),
          col("s1"), col("s2"), col("sy"))
        .withColumn("det",
          col("m11") * col("m22") - col("m12") * col("m12"))
        .withColumn("beta1",
          (col("m22") * col("b1v") - col("m12") * col("b2v"))
            .cast("double") / col("det").cast("double"))
        .withColumn("beta2",
          (col("m11") * col("b2v") - col("m12") * col("b1v"))
            .cast("double") / col("det").cast("double"))
        .withColumn("beta0",
          (col("sy").cast("double") -
            col("beta1") * col("s1").cast("double") -
            col("beta2") * col("s2").cast("double")) /
            col("n").cast("double"))
        .withColumn("r2",
          (col("beta1") * col("b1v").cast("double") +
            col("beta2") * col("b2v").cast("double")) /
            col("syy_c").cast("double"))
        .select(col("n").cast("long").as("n_orders"), col("beta0"),
          col("beta1"), col("beta2"), col("r2"))
    }),

    // SIEGEL REPEATED-MEDIAN SLOPE — the 50%-breakdown upgrade of
    // q155's Theil–Sen (29%): per week i, take the median of slopes
    // to every other week j, then the median of those per-week
    // medians. Each slope is ONE division of exact longs (identical
    // double both engines); both median layers use the q155
    // positional rule (smallest value at position ⌈n/2⌉ via
    // row_number, inner ties broken by the partner week index so the
    // selection is deterministic). Scale shape: the fact table
    // collapses to the calendar-bounded (nation, week) grid FIRST
    // (shared materialized carrier with q155), so the pair join is
    // grid² on ~350 weeks per nation — O(weeks²)·|nations| at ANY
    // data scale, never O(rows²).
    "q179_siegel_slope" -> ((s, d) => {
      val wk = OrderRevenue.nationWeeklyRevenue(s, d)
      // the selection thresholds are knowable without counting inside
      // the pair frame: every week has exactly n_weeks − 1 partners
      // and every nation has n_weeks per-week medians — a broadcast
      // 25-row join replaces two count-window passes over the
      // grid² pair frame
      val weeks = wk.groupBy(col("nk"))
        .agg(count(lit(1)).as("n_weeks"))
      // pair fan-out through a BROADCAST self-join (the checkpointed
      // grid has no size stats, so the planner sort-merge-joined it),
      // and both median layers by ROW-LOCAL sort_array selection in
      // place of the two stacked row_number windows: structs sort
      // lexicographically, so sort_array(struct(slope, wj)) is exactly
      // the (slope, wj) window order and element_at picks the same
      // deterministic positions — ⌈(n_weeks−1)/2⌉ = n_weeks div 2 per
      // week, ⌈n_weeks/2⌉ = (n_weeks+1) div 2 per nation. The per-key
      // lists partial-aggregate map-side and the two full-pair-frame
      // window sorts disappear (guide §2.4/§2.3; measured at sf0.1:
      // window tail 7.3–7.6 s → 1.8–2.4 s from the grid).
      // Round 13: the STREAMED side is pre-partitioned on the
      // (nk, w) group key — an exchange of the dimension-sized grid
      // that the broadcast pair join preserves and the per-week
      // groupBy(nk, wi) then reuses, so the grid² (slope, wj) struct
      // frame itself never crosses a shuffle (it was this query's
      // dominant exchange, ~50 of 75 shuffle-MB at sf0.1; the cut's
      // LogicalRDD exposes no partitioning, so this must be explicit).
      wk.repartition(col("nk"), col("w")).as("a")
        .join(broadcast(wk.as("b")),
          col("a.nk") === col("b.nk") && col("a.w") =!= col("b.w"))
        .select(col("a.nk").as("nk"), col("a.w").as("wi"),
          ((col("b.y") - col("a.y")).cast("double") /
            (col("b.w") - col("a.w")).cast("double")).as("slope"),
          col("b.w").as("wj"))
        .groupBy(col("nk"), col("wi"))
        .agg(sort_array(collect_list(struct(col("slope"), col("wj"))))
          .as("sl"))
        .join(broadcast(weeks), "nk")
        .select(col("nk"), col("n_weeks"), col("wi"),
          element_at(col("sl"), expr("CAST(n_weeks div 2 AS INT)"))
            .getField("slope").as("med_i"))
        .groupBy(col("nk"))
        .agg(max(col("n_weeks")).as("n_weeks"),
          sort_array(collect_list(struct(col("med_i"), col("wi"))))
            .as("ml"))
        .join(broadcast(OrderRevenue.nationNames(s, d)), "nk")
        .select(col("nation"), col("n_weeks"),
          element_at(col("ml"), expr("CAST((n_weeks + 1) div 2 AS INT)"))
            .getField("med_i").as("siegel_slope"))
        .orderBy(col("nation"))
    }),

    // HOLT-WINTERS additive seasonal forecast (period 7 = day-of-week,
    // the structure q92 measured) over the dense daily revenue series —
    // the seasonal upgrade of q176's naive/mean/drift backtest family:
    // level+trend+seasonal state folded through the whole series, then
    // a 7-day-ahead forecast with in-sample one-step RMSE. WHY IT
    // HASH-MATCHES: the fold is a SEQUENTIAL left fold with a fixed
    // operation order (Spark `aggregate` HOF == DuckDB recursive CTE,
    // operation-for-operation), IEEE doubles are correctly rounded, and
    // the smoothing constants are dyadic (alpha=1/4, beta=gamma=1/8) —
    // q133's identical-left-fold rule, q104's dyadic-EWMA rule. Init:
    // level = week-1 mean, trend = (week-2 mean − week-1 mean)/7,
    // seasonals = two-week average deviations; fold starts at day 15.
    // Scale: the series is CALENDAR-bounded (~2.4k days regardless of
    // data volume) — the only data-sized work is the per-day partial
    // aggregate; the fold is one row.
    "q189_holt_winters" -> ((s, d) => {
      val daily = Tables.orders(s, d)
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(sum(round(col("o_totalprice") * lit(100)).cast("long"))
          .as("cents"))
      val series = daily
        .agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
        .select(explode(sequence(col("lo"), col("hi"))).as("day"))
        .join(daily, Seq("day"), "left")
        .select(col("day"), coalesce(col("cents"), lit(0L)).as("cents"))
      // NL (new level) and ERR are textually duplicated because SQL
      // lambdas have no lets — identical expressions give identical
      // doubles, so the duplication is semantically free
      val nl = "(0.25D * (y - element_at(st.s, (st.i % 7) + 1)) " +
        "+ 0.75D * (st.lvl + st.trd))"
      val err = "(y - ((st.lvl + st.trd) + element_at(st.s, (st.i % 7) + 1)))"
      series
        .agg(expr("transform(sort_array(collect_list(struct(day, cents)))" +
          ", x -> CAST(x.cents AS DOUBLE))").as("a"))
        .withColumn("n", expr("size(a)"))
        .withColumn("m1", expr(
          "((((((element_at(a,1)+element_at(a,2))+element_at(a,3))" +
            "+element_at(a,4))+element_at(a,5))+element_at(a,6))" +
            "+element_at(a,7)) / 7.0D"))
        .withColumn("m2", expr(
          "((((((element_at(a,8)+element_at(a,9))+element_at(a,10))" +
            "+element_at(a,11))+element_at(a,12))+element_at(a,13))" +
            "+element_at(a,14)) / 7.0D"))
        .withColumn("trd0", expr("(m2 - m1) / 7.0D"))
        .withColumn("s0", expr("transform(sequence(1, 7), " +
          "j -> ((element_at(a, j) - m1) " +
          "+ (element_at(a, j + 7) - m2)) / 2.0D)"))
        .withColumn("st", expr(s"""
          aggregate(
            slice(a, 15, n - 14),
            named_struct('lvl', m1, 'trd', trd0, 's', s0,
              'i', 14, 'sse', 0.0D),
            (st, y) -> named_struct(
              'lvl', $nl,
              'trd', 0.125D * ($nl - st.lvl) + 0.875D * st.trd,
              's', transform(st.s, (v, j) -> IF(j = st.i % 7,
                     0.125D * (y - $nl) + 0.875D * v, v)),
              'i', st.i + 1,
              'sse', st.sse + $err * $err))"""))
        .withColumn("fc", expr("transform(sequence(1, 7), " +
          "h -> st.lvl + CAST(h AS DOUBLE) * st.trd " +
          "+ element_at(st.s, ((st.i + h - 1) % 7) + 1))"))
        .select(col("n"), col("st"), posexplode(col("fc")))
        .select((col("pos") + 1).cast("long").as("h"),
          (col("col") / 100.0).as("forecast"),
          (col("st.lvl") / 100.0).as("level"),
          (col("st.trd") / 100.0).as("trend"),
          expr("sqrt(st.sse / CAST(n - 14 AS DOUBLE)) / 100.0D")
            .as("rmse"))
        .orderBy(col("h"))
    }),

    // CROSTON'S METHOD — the intermittent-demand member of the forecast
    // family (q176 assumes a dense series; q189 assumes seasonality;
    // neither is right for a slow-moving SKU whose daily demand is
    // mostly zeros): separate exponential smoothing of demand SIZE and
    // demand INTERVAL, updated only on demand days, forecast = size /
    // interval per day. Series: part 1's zero-filled daily shipped
    // quantity over the full lineitem calendar. Same cross-engine
    // identity argument as q189 (fixed-order fold, dyadic alpha = 1/4,
    // integer inputs); NULL rate when the part never ships (q176's
    // zero-denominator convention). Scale: one partkey-filtered partial
    // aggregate (filter pushed to the scan), calendar-bounded fold.
    "q190_croston" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val daily = li.filter(col("l_partkey") === 1)
        .groupBy(col("l_shipdate").cast("date").as("day"))
        .agg(sum(round(col("l_quantity")).cast("long")).as("qty"))
      val series = li
        .agg(min(col("l_shipdate").cast("date")).as("lo"),
          max(col("l_shipdate").cast("date")).as("hi"))
        .select(explode(sequence(col("lo"), col("hi"))).as("day"))
        .join(daily, Seq("day"), "left")
        .select(col("day"), coalesce(col("qty"), lit(0L)).as("qty"))
      series
        .agg(expr("transform(sort_array(collect_list(struct(day, qty)))" +
          ", x -> CAST(x.qty AS DOUBLE))").as("a"))
        .withColumn("n", expr("size(a)"))
        .withColumn("tot", expr("aggregate(a, 0.0D, (acc, y) -> acc + y)"))
        .withColumn("st", expr("""
          aggregate(a,
            named_struct('z', 0.0D, 'p', 0.0D, 'q', 1,
              'seen', false, 'nd', 0),
            (st, y) -> named_struct(
              'z', CASE WHEN y > 0.0D THEN (CASE WHEN st.seen
                     THEN st.z + 0.25D * (y - st.z) ELSE y END)
                   ELSE st.z END,
              'p', CASE WHEN y > 0.0D THEN (CASE WHEN st.seen
                     THEN st.p + 0.25D * (CAST(st.q AS DOUBLE) - st.p)
                     ELSE CAST(st.q AS DOUBLE) END)
                   ELSE st.p END,
              'q', CASE WHEN y > 0.0D THEN 1 ELSE st.q + 1 END,
              'seen', st.seen OR y > 0.0D,
              'nd', st.nd + CASE WHEN y > 0.0D THEN 1 ELSE 0 END))"""))
        .select(col("n").cast("long").as("n_days"),
          col("st.nd").cast("long").as("n_demands"),
          expr("CASE WHEN st.seen THEN st.z END").as("demand_size"),
          expr("CASE WHEN st.seen THEN st.p END").as("mean_interval"),
          expr("CASE WHEN st.seen THEN st.z / st.p END")
            .as("croston_rate"),
          expr("tot / CAST(n AS DOUBLE)").as("exact_rate"))
    }),

    // SEASONAL / TREND STRENGTH (the Hyndman STL-strength numbers) of
    // the daily revenue series — the diagnostic that says whether
    // q189's seasonal state or its trend state is doing the work:
    // trend via a centered 7-day moving average, seasonality via
    // per-day-of-week means of the detrended series, strengths =
    // 1 − Var(remainder)/Var(previous stage). EXACTNESS DESIGN: every
    // per-row quantity is an exact integer (detrended·7 = 7y − window
    // sum; the MA division never happens row-wise), all sums ride the
    // DECIMAL(38,0)/HUGEINT carrier (order-free), the seasonal means
    // enter only as Σ_j S_j²/n_j — computed per DOW as ONE double
    // multiply+divide of exact inputs and combined in a FIXED 7-term
    // parenthesization via a conditional pivot (never a parallel
    // double sum); Σ remainder is exactly zero by construction so
    // Var(r) = (Σd² − Σ_j S_j²/n_j)/N. Scale: one per-day partial
    // aggregate; the MA window runs over the calendar grid (q115's
    // bounded class); everything after is a 7-row frame.
    "q191_seasonal_strength" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val dec = org.apache.spark.sql.types.DecimalType(38, 0)
      val daily = Tables.orders(s, d)
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(sum(round(col("o_totalprice") * lit(100)).cast("long"))
          .as("cents"))
      val grid = daily
        .agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
        .select(explode(sequence(col("lo"), col("hi"))).as("day"))
        .join(daily, Seq("day"), "left")
        .select(col("day"), coalesce(col("cents"), lit(0L)).as("cents"))
      val wDay = Window.orderBy(col("day")).rowsBetween(-3, 3)
      val interior = grid
        .withColumn("wsum", sum(col("cents")).over(wDay))
        .withColumn("wcnt", count(lit(1)).over(wDay))
        .filter(col("wcnt") === 7)
        .select((dayofweek(col("day")) - 1).cast("long").as("dow"),
          (col("cents") * 7).as("y7"),
          (col("cents") * 7 - col("wsum")).as("d7"))
      val perDow = interior.groupBy(col("dow"))
        .agg(count(lit(1)).as("n_j"),
          sum(col("d7").cast(dec)).as("s_j"),
          sum((col("d7").cast(dec) * col("d7").cast(dec)).cast(dec))
            .as("sdd_j"),
          sum(col("y7").cast(dec)).as("sy_j"),
          sum((col("y7").cast(dec) * col("y7").cast(dec)).cast(dec))
            .as("syy_j"))
        // B_j = S_j²/n_j: S_j < 2^53 so the double is exact; one
        // multiply + one divide, both correctly rounded
        .withColumn("b_j",
          col("s_j").cast("double") * col("s_j").cast("double")
            / col("n_j").cast("double"))
      val bCols = (0 to 6).map(j =>
        max(when(col("dow") === j, col("b_j"))).as(s"b$j"))
      val aggs = Seq(
        sum(col("n_j")).as("n"),
        sum(col("s_j")).as("sd"), sum(col("sdd_j")).as("sdd"),
        sum(col("sy_j")).as("sy"), sum(col("syy_j")).as("syy")) ++ bCols
      perDow.agg(aggs.head, aggs.tail: _*)
        .withColumn("sum_b",
          expr("(((((b0 + b1) + b2) + b3) + b4) + b5) + b6"))
        .withColumn("nd", col("n").cast("double"))
        .withColumn("var_y",
          (col("syy").cast("double") - col("sy").cast("double")
            * col("sy").cast("double") / col("nd")) / col("nd"))
        .withColumn("var_d",
          (col("sdd").cast("double") - col("sd").cast("double")
            * col("sd").cast("double") / col("nd")) / col("nd"))
        .withColumn("var_r",
          (col("sdd").cast("double") - col("sum_b")) / col("nd"))
        .select(col("n").cast("long").as("n_days"),
          greatest(lit(0.0), lit(1.0) - col("var_d") / col("var_y"))
            .as("trend_strength"),
          greatest(lit(0.0), lit(1.0) - col("var_r") / col("var_d"))
            .as("seasonal_strength"),
          col("var_y"), col("var_d"), col("var_r"))
    }))

  /** Oracle CTE `wk` (w, y) of q176–q178 and q188, mirroring
    * [[OrderRevenue.weeklyRevenue]]. */
  private val weeklySql =
    """wk AS (SELECT
      |    datediff('day', DATE '1992-01-01', o_orderdate) // 7 AS w,
      |    CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
      |      AS BIGINT) // 100 AS y
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  GROUP BY 1)""".stripMargin

  /** Shared oracle CTEs: the weekly backtest frame (mirrors
    * [[weeklyBacktest]]). */
  private val backtestCte =
    s"""WITH $weeklySql,
      |  lg AS (SELECT w, y,
      |    LAG(y, 1) OVER (ORDER BY w) AS y1,
      |    LAG(y, 2) OVER (ORDER BY w) AS y2,
      |    LAG(y, 3) OVER (ORDER BY w) AS y3,
      |    LAG(y, 4) OVER (ORDER BY w) AS y4
      |  FROM wk),
      |  f AS (SELECT w, y, y1 AS naive,
      |    (y1 + y2 + y3 + y4) // 4 AS mean4,
      |    2 * y1 - y2 AS drift
      |  FROM lg WHERE y4 IS NOT NULL)""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "q176_forecast_backtest" ->
      (backtestCte +
        """,
          |  e AS (SELECT CAST(COUNT(1) AS BIGINT) AS n_eval,
          |    CAST(SUM(ABS(y - naive)) AS BIGINT) AS s_naive,
          |    CAST(SUM(ABS(y - mean4)) AS BIGINT) AS s_mean4,
          |    CAST(SUM(ABS(y - drift)) AS BIGINT) AS s_drift
          |  FROM f),
          |  m AS (SELECT UNNEST(['naive', 'mean4', 'drift']) AS model,
          |    UNNEST([s_naive, s_mean4, s_drift]) AS abs_err_sum,
          |    n_eval, s_naive
          |  FROM e)
          |SELECT model, n_eval, abs_err_sum,
          |  CAST(abs_err_sum AS DOUBLE) / CAST(n_eval AS DOUBLE)
          |    AS mae,
          |  CASE WHEN s_naive = 0 THEN NULL
          |    ELSE CAST(abs_err_sum AS DOUBLE) / CAST(s_naive AS DOUBLE)
          |  END AS mase
          |FROM m
          |ORDER BY model""".stripMargin),

    "q177_diebold_mariano" ->
      (backtestCte +
        """,
          |  dd AS (SELECT ABS(y - naive) - ABS(y - mean4) AS dt
          |    FROM f),
          |  ag AS (SELECT CAST(COUNT(1) AS BIGINT) AS n_eval,
          |    CAST(SUM(dt) AS BIGINT) AS s1,
          |    CAST(SUM(dt * dt) AS BIGINT) AS s2
          |  FROM dd),
          |  st AS (SELECT n_eval, s1,
          |    CAST(s1 AS DOUBLE) / CAST(n_eval AS DOUBLE) AS d_bar,
          |    CAST(n_eval * s2 - s1 * s1 AS DOUBLE) /
          |      CAST(n_eval * (n_eval - 1) AS DOUBLE) AS var_d
          |  FROM ag),
          |  fin AS (SELECT n_eval, s1, d_bar, var_d,
          |    d_bar / sqrt(var_d / CAST(n_eval AS DOUBLE)) AS dm_stat
          |  FROM st)
          |SELECT n_eval, s1, d_bar, var_d, dm_stat,
          |  ABS(dm_stat) > 1.96 AS reject_95
          |FROM fin""".stripMargin),

    "q178_wilcoxon_signed_rank" ->
      (backtestCte +
        """,
          |  dd AS (SELECT ABS(y - naive) - ABS(y - mean4) AS dt
          |    FROM f WHERE ABS(y - naive) - ABS(y - mean4) != 0),
          |  grid AS (SELECT ABS(dt) AS ad,
          |    CAST(SUM(CASE WHEN dt > 0 THEN 1 ELSE 0 END) AS BIGINT)
          |      AS cpos,
          |    CAST(SUM(CASE WHEN dt < 0 THEN 1 ELSE 0 END) AS BIGINT)
          |      AS cneg
          |  FROM dd GROUP BY 1),
          |  rk AS (SELECT ad, cpos, cneg, cpos + cneg AS t,
          |    COALESCE(CAST(SUM(cpos + cneg) OVER (ORDER BY ad
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
          |      AS BIGINT), 0) AS below
          |  FROM grid),
          |  ag AS (SELECT CAST(SUM(t) AS BIGINT) AS n_nonzero,
          |    CAST(SUM((cpos - cneg) * (2 * below + t + 1)) AS BIGINT)
          |      AS t2_stat,
          |    CAST(SUM(t * t * t - t) AS BIGINT) AS tie3
          |  FROM rk),
          |  st AS (SELECT n_nonzero, t2_stat, tie3,
          |    (2 * n_nonzero * (n_nonzero + 1) * (2 * n_nonzero + 1))
          |      // 3 - tie3 // 3 AS var2
          |  FROM ag),
          |  fin AS (SELECT n_nonzero, t2_stat, tie3, var2,
          |    CAST(t2_stat AS DOUBLE) / sqrt(CAST(var2 AS DOUBLE)) AS z
          |  FROM st)
          |SELECT n_nonzero, t2_stat, tie3, var2, z,
          |  ABS(z) > 1.96 AS reject_95
          |FROM fin""".stripMargin),

    "q183_multiple_regression" ->
      """WITH per AS (SELECT l_orderkey,
        |    CAST(COUNT(1) AS HUGEINT) AS x1,
        |    CAST(SUM(CAST(round(l_discount * 100) AS BIGINT))
        |      AS HUGEINT) AS x2,
        |    CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
        |      // 100 AS HUGEINT) AS y
        |  FROM lineitem GROUP BY 1),
        |  m AS (SELECT CAST(COUNT(1) AS HUGEINT) AS n,
        |    SUM(x1) AS s1, SUM(x2) AS s2, SUM(y) AS sy,
        |    SUM(x1 * x1) AS s11, SUM(x2 * x2) AS s22,
        |    SUM(x1 * x2) AS s12, SUM(x1 * y) AS s1y,
        |    SUM(x2 * y) AS s2y, SUM(y * y) AS syy
        |  FROM per),
        |  cm AS (SELECT n, s1, s2, sy,
        |    n * s11 - s1 * s1 AS m11,
        |    n * s22 - s2 * s2 AS m22,
        |    n * s12 - s1 * s2 AS m12,
        |    n * s1y - s1 * sy AS b1v,
        |    n * s2y - s2 * sy AS b2v,
        |    n * syy - sy * sy AS syy_c
        |  FROM m),
        |  dt AS (SELECT *, m11 * m22 - m12 * m12 AS det FROM cm),
        |  bt AS (SELECT n, s1, s2, sy, b1v, b2v, syy_c,
        |    CAST(CAST(m22 * b1v - m12 * b2v AS VARCHAR) AS DOUBLE) /
        |      CAST(CAST(det AS VARCHAR) AS DOUBLE) AS beta1,
        |    CAST(CAST(m11 * b2v - m12 * b1v AS VARCHAR) AS DOUBLE) /
        |      CAST(CAST(det AS VARCHAR) AS DOUBLE) AS beta2
        |  FROM dt),
        |  fin AS (SELECT CAST(n AS BIGINT) AS n_orders,
        |    (CAST(CAST(sy AS VARCHAR) AS DOUBLE) -
        |      beta1 * CAST(CAST(s1 AS VARCHAR) AS DOUBLE) -
        |      beta2 * CAST(CAST(s2 AS VARCHAR) AS DOUBLE)) /
        |      CAST(CAST(n AS VARCHAR) AS DOUBLE) AS beta0,
        |    beta1, beta2,
        |    (beta1 * CAST(CAST(b1v AS VARCHAR) AS DOUBLE) +
        |      beta2 * CAST(CAST(b2v AS VARCHAR) AS DOUBLE)) /
        |      CAST(CAST(syy_c AS VARCHAR) AS DOUBLE) AS r2
        |  FROM bt)
        |SELECT n_orders, beta0, beta1, beta2, r2 FROM fin""".stripMargin,

    "q184_brunner_munzel" ->
      s"""WITH ${OrderRevenue.widthCountsSql},
        |  rk AS (SELECT ca, cb, ca + cb AS t,
        |    COALESCE(CAST(SUM(ca + cb) OVER (ORDER BY value
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS BIGINT), 0) AS below,
        |    COALESCE(CAST(SUM(ca) OVER (ORDER BY value
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS BIGINT), 0) AS below_a,
        |    COALESCE(CAST(SUM(cb) OVER (ORDER BY value
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS BIGINT), 0) AS below_b
        |  FROM grid),
        |  dd AS (SELECT ca, cb,
        |    2 * below + t + 1 AS r2,
        |    (2 * below + t + 1) - (2 * below_a + ca + 1) AS da,
        |    (2 * below + t + 1) - (2 * below_b + cb + 1) AS db
        |  FROM rk),
        |  m AS (SELECT CAST(SUM(ca) AS BIGINT) AS na,
        |    CAST(SUM(cb) AS BIGINT) AS nb,
        |    CAST(SUM(ca * r2) AS BIGINT) AS pa2,
        |    CAST(SUM(cb * r2) AS BIGINT) AS pb2,
        |    CAST(SUM(ca * da) AS HUGEINT) AS ba,
        |    CAST(SUM(ca * da * da) AS HUGEINT) AS aa,
        |    CAST(SUM(cb * db) AS HUGEINT) AS bb,
        |    CAST(SUM(cb * db * db) AS HUGEINT) AS ab
        |  FROM dd),
        |  st AS (SELECT na, nb,
        |    CAST(CAST(CAST(na AS HUGEINT) * aa - ba * ba AS VARCHAR)
        |      AS DOUBLE) / CAST(4 * na * (na - 1) AS DOUBLE) AS s2a,
        |    CAST(CAST(CAST(nb AS HUGEINT) * ab - bb * bb AS VARCHAR)
        |      AS DOUBLE) / CAST(4 * nb * (nb - 1) AS DOUBLE) AS s2b,
        |    CAST(pa2 AS DOUBLE) / (2.0 * CAST(na AS DOUBLE))
        |      AS rbar_a,
        |    CAST(pb2 AS DOUBLE) / (2.0 * CAST(nb AS DOUBLE))
        |      AS rbar_b
        |  FROM m),
        |  fin AS (SELECT na, nb, s2a, s2b,
        |    (rbar_a - CAST(na + 1 AS DOUBLE) / 2.0)
        |      / CAST(nb AS DOUBLE) AS p_hat,
        |    CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) *
        |      (rbar_a - rbar_b) /
        |      (CAST(na + nb AS DOUBLE) *
        |        sqrt(CAST(na AS DOUBLE) * s2a +
        |          CAST(nb AS DOUBLE) * s2b)) AS w_stat
        |  FROM st)
        |SELECT na AS n_wide, nb AS n_narrow, p_hat,
        |  s2a AS s2_wide, s2b AS s2_narrow, w_stat,
        |  ABS(w_stat) > 1.96 AS reject_95
        |FROM fin""".stripMargin,

    "q185_cramer_von_mises" ->
      s"""WITH ${OrderRevenue.widthCountsSql},
        |  rk AS (SELECT ca, cb, ca + cb AS t,
        |    CAST(SUM(ca) OVER (ORDER BY value
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS c1,
        |    CAST(SUM(cb) OVER (ORDER BY value
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS c2,
        |    CAST(SUM(ca) OVER () AS BIGINT) AS na,
        |    CAST(SUM(cb) OVER () AS BIGINT) AS nb
        |  FROM grid),
        |  ag AS (SELECT MAX(na) AS na, MAX(nb) AS nb,
        |    SUM(CAST(t AS HUGEINT) *
        |      CAST(c1 * nb - c2 * na AS HUGEINT) *
        |      CAST(c1 * nb - c2 * na AS HUGEINT)) AS u
        |  FROM rk),
        |  fin AS (SELECT na, nb,
        |    CAST(CAST(u AS VARCHAR) AS DOUBLE) /
        |      (CAST(na + nb AS DOUBLE) * CAST(na + nb AS DOUBLE) *
        |        CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) AS t_stat
        |  FROM ag)
        |SELECT na AS n_wide, nb AS n_narrow, t_stat,
        |  t_stat > 0.4614 AS reject_95
        |FROM fin""".stripMargin,

    "q186_effect_sizes" ->
      s"""WITH ${OrderRevenue.orderWidthValuesSql},
        |  m AS (SELECT
        |    CAST(SUM(CASE WHEN wide THEN 1 ELSE 0 END) AS BIGINT)
        |      AS na,
        |    CAST(SUM(CASE WHEN NOT wide THEN 1 ELSE 0 END) AS BIGINT)
        |      AS nb,
        |    CAST(SUM(CASE WHEN wide THEN value ELSE 0 END) AS BIGINT)
        |      AS sa,
        |    CAST(SUM(CASE WHEN NOT wide THEN value ELSE 0 END)
        |      AS BIGINT) AS sb,
        |    CAST(SUM(CASE WHEN wide THEN value * value ELSE 0 END)
        |      AS HUGEINT) AS qa,
        |    CAST(SUM(CASE WHEN NOT wide THEN value * value ELSE 0 END)
        |      AS HUGEINT) AS qb
        |  FROM tagged),
        |  st AS (SELECT na, nb,
        |    CAST(sa AS DOUBLE) / CAST(na AS DOUBLE) AS mean_wide,
        |    CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE) AS mean_narrow,
        |    CAST(CAST(CAST(na AS HUGEINT) * qa -
        |      CAST(sa AS HUGEINT) * CAST(sa AS HUGEINT) AS VARCHAR)
        |      AS DOUBLE) / CAST(na * (na - 1) AS DOUBLE) AS var_wide,
        |    CAST(CAST(CAST(nb AS HUGEINT) * qb -
        |      CAST(sb AS HUGEINT) * CAST(sb AS HUGEINT) AS VARCHAR)
        |      AS DOUBLE) / CAST(nb * (nb - 1) AS DOUBLE)
        |      AS var_narrow
        |  FROM m),
        |  sp AS (SELECT *,
        |    sqrt((CAST(na - 1 AS DOUBLE) * var_wide +
        |      CAST(nb - 1 AS DOUBLE) * var_narrow) /
        |      CAST(na + nb - 2 AS DOUBLE)) AS sd_pooled
        |  FROM st),
        |  cd AS (SELECT *,
        |    (mean_wide - mean_narrow) / sd_pooled AS cohens_d
        |  FROM sp)
        |SELECT na AS n_wide, nb AS n_narrow, mean_wide, mean_narrow,
        |  cohens_d,
        |  cohens_d * (1.0 - 3.0 /
        |    (4.0 * CAST(na + nb AS DOUBLE) - 9.0)) AS hedges_g,
        |  (mean_wide - mean_narrow) / sqrt(var_narrow) AS glass_delta
        |FROM cd""".stripMargin,

    "q188_walkforward_ols" ->
      s"""WITH $weeklySql,
        |  cw AS (SELECT w, y,
        |    COALESCE(CAST(COUNT(y) OVER pri AS BIGINT), 0) AS cn,
        |    COALESCE(CAST(SUM(w) OVER pri AS BIGINT), 0) AS sx,
        |    COALESCE(CAST(SUM(y) OVER pri AS BIGINT), 0) AS sy,
        |    COALESCE(CAST(SUM(w * w) OVER pri AS BIGINT), 0) AS sxx,
        |    COALESCE(CAST(SUM(w * y) OVER pri AS BIGINT), 0) AS sxy,
        |    LAG(y, 1) OVER (ORDER BY w) AS y_prev
        |  FROM wk
        |  WINDOW pri AS (ORDER BY w
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |  fit AS (SELECT w, y, y_prev,
        |    CAST(cn * sxy - sx * sy AS DOUBLE) /
        |      CAST(cn * sxx - sx * sx AS DOUBLE) AS beta,
        |    cn, sx, sy
        |  FROM cw WHERE cn >= 8),
        |  pred AS (SELECT w, y, y_prev, beta,
        |    (CAST(sy AS DOUBLE) - beta * CAST(sx AS DOUBLE)) /
        |      CAST(cn AS DOUBLE) AS alpha
        |  FROM fit),
        |  fin AS (SELECT w, y,
        |    alpha + beta * CAST(w AS DOUBLE) AS yhat,
        |    ABS(y - y_prev) AS abs_err_naive
        |  FROM pred)
        |SELECT w, y, yhat, ABS(CAST(y AS DOUBLE) - yhat) AS abs_err,
        |  abs_err_naive
        |FROM fin
        |ORDER BY w""".stripMargin,

    "q187_overdispersion" ->
      """WITH wk AS (SELECT
        |    datediff('day', DATE '1992-01-01', o_orderdate) // 7 AS w,
        |    CAST(COUNT(1) AS BIGINT) AS c
        |  FROM orders GROUP BY 1),
        |  m AS (SELECT CAST(COUNT(1) AS BIGINT) AS n,
        |    CAST(SUM(c) AS BIGINT) AS s1,
        |    CAST(SUM(c * c) AS BIGINT) AS s2
        |  FROM wk),
        |  st AS (SELECT n,
        |    CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mean_c,
        |    CAST(CAST(n AS HUGEINT) * CAST(s2 AS HUGEINT) -
        |        CAST(s1 AS HUGEINT) * CAST(s1 AS HUGEINT) AS DOUBLE) /
        |      CAST(n * (n - 1) AS DOUBLE) AS var_c,
        |    CAST(CAST(n AS HUGEINT) * CAST(s2 AS HUGEINT) -
        |        CAST(s1 AS HUGEINT) * CAST(s1 AS HUGEINT) AS DOUBLE) /
        |      CAST(s1 AS DOUBLE) AS d_stat,
        |    CAST(n - 1 AS DOUBLE) AS df
        |  FROM m),
        |  wh AS (SELECT *,
        |    1.0 - 2.0 / (9.0 * df) + 1.6448536269514722 *
        |      sqrt(2.0 / (9.0 * df)) AS whf
        |  FROM st),
        |  fin AS (SELECT n, mean_c, var_c, var_c / mean_c
        |      AS dispersion_ratio,
        |    d_stat, df * whf * whf * whf AS crit_95
        |  FROM wh)
        |SELECT n AS n_weeks, mean_c, var_c, dispersion_ratio, d_stat,
        |  crit_95, d_stat > crit_95 AS reject_95
        |FROM fin""".stripMargin,

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

    "q179_siegel_slope" ->
      s"""WITH ${OrderRevenue.nationWeeklyRevenueSql},
        |  sl AS (SELECT a.nation, a.w AS wi, b.w AS wj,
        |    CAST(b.y - a.y AS DOUBLE) / CAST(b.w - a.w AS DOUBLE)
        |      AS slope
        |  FROM wk a JOIN wk b ON a.nation = b.nation AND a.w != b.w),
        |  sm AS (SELECT nation, wi, slope,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY nation, wi
        |      ORDER BY slope, wj) AS BIGINT) AS rn,
        |    CAST(COUNT(1) OVER (PARTITION BY nation, wi) AS BIGINT)
        |      AS np
        |  FROM sl),
        |  pw AS (SELECT nation, wi,
        |    MIN(CASE WHEN 2 * rn >= np THEN slope END) AS med_i
        |  FROM sm GROUP BY 1, 2),
        |  om AS (SELECT nation, med_i,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY nation
        |      ORDER BY med_i, wi) AS BIGINT) AS rn,
        |    CAST(COUNT(1) OVER (PARTITION BY nation) AS BIGINT) AS np
        |  FROM pw)
        |SELECT nation, MAX(np) AS n_weeks,
        |  MIN(CASE WHEN 2 * rn >= np THEN med_i END) AS siegel_slope
        |FROM om GROUP BY nation
        |ORDER BY nation""".stripMargin,

    // the SAME left fold as the Spark aggregate() HOF, operation for
    // operation, as a recursive CTE; list_transform's lambda index is
    // 1-based (Spark's transform index is 0-based, hence j - 1)
    "q189_holt_winters" ->
      """WITH RECURSIVE daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
        |    CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS cents
        |  FROM orders GROUP BY 1),
        |  b AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM daily),
        |  grid AS (SELECT CAST(UNNEST(generate_series(lo, hi,
        |      INTERVAL 1 DAY)) AS DATE) AS day FROM b),
        |  ser AS (SELECT g.day, COALESCE(d.cents, 0) AS cents
        |    FROM grid g LEFT JOIN daily d USING (day)),
        |  arr AS (SELECT LIST(CAST(cents AS DOUBLE) ORDER BY day) AS a,
        |    CAST(COUNT(1) AS INT) AS n FROM ser),
        |  ini AS (SELECT a, n,
        |    ((((((a[1]+a[2])+a[3])+a[4])+a[5])+a[6])+a[7]) / 7.0 AS m1,
        |    ((((((a[8]+a[9])+a[10])+a[11])+a[12])+a[13])+a[14]) / 7.0
        |      AS m2 FROM arr),
        |  ini2 AS (SELECT a, n, m1, (m2 - m1) / 7.0 AS trd0,
        |    list_transform(generate_series(1, 7),
        |      j -> ((a[j] - m1) + (a[j + 7] - m2)) / 2.0) AS s0
        |  FROM ini),
        |  rec AS (
        |    SELECT 14 AS t, m1 AS lvl, trd0 AS trd, s0 AS s,
        |      CAST(0.0 AS DOUBLE) AS sse
        |    FROM ini2
        |    UNION ALL
        |    SELECT r.t + 1,
        |      (0.25 * (i.a[r.t + 1] - r.s[(r.t % 7) + 1])
        |        + 0.75 * (r.lvl + r.trd)),
        |      0.125 * ((0.25 * (i.a[r.t + 1] - r.s[(r.t % 7) + 1])
        |        + 0.75 * (r.lvl + r.trd)) - r.lvl) + 0.875 * r.trd,
        |      list_transform(r.s, (v, j) -> CASE WHEN j - 1 = r.t % 7
        |        THEN 0.125 * (i.a[r.t + 1]
        |          - (0.25 * (i.a[r.t + 1] - r.s[(r.t % 7) + 1])
        |            + 0.75 * (r.lvl + r.trd))) + 0.875 * v
        |        ELSE v END),
        |      r.sse + (i.a[r.t + 1]
        |          - ((r.lvl + r.trd) + r.s[(r.t % 7) + 1]))
        |        * (i.a[r.t + 1]
        |          - ((r.lvl + r.trd) + r.s[(r.t % 7) + 1]))
        |    FROM rec r, ini2 i WHERE r.t < i.n),
        |  fin AS (SELECT r.*, i.n FROM rec r, ini2 i WHERE r.t = i.n)
        |SELECT CAST(h AS BIGINT) AS h,
        |  (lvl + CAST(h AS DOUBLE) * trd
        |    + s[((t + h - 1) % 7) + 1]) / 100.0 AS forecast,
        |  lvl / 100.0 AS level, trd / 100.0 AS trend,
        |  sqrt(sse / CAST(n - 14 AS DOUBLE)) / 100.0 AS rmse
        |FROM fin, UNNEST(generate_series(1, 7)) AS u(h)
        |ORDER BY h""".stripMargin,

    // same fixed-order fold as the Spark aggregate() HOF; scalar state
    // so the recursion carries plain columns (anchor casts pin types)
    "q190_croston" ->
      """WITH RECURSIVE daily AS (SELECT CAST(l_shipdate AS DATE) AS day,
        |    CAST(SUM(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS qty
        |  FROM lineitem WHERE l_partkey = 1 GROUP BY 1),
        |  b AS (SELECT MIN(CAST(l_shipdate AS DATE)) AS lo,
        |    MAX(CAST(l_shipdate AS DATE)) AS hi FROM lineitem),
        |  grid AS (SELECT CAST(UNNEST(generate_series(lo, hi,
        |      INTERVAL 1 DAY)) AS DATE) AS day FROM b),
        |  ser AS (SELECT g.day, COALESCE(d.qty, 0) AS qty
        |    FROM grid g LEFT JOIN daily d USING (day)),
        |  arr AS (SELECT LIST(CAST(qty AS DOUBLE) ORDER BY day) AS a,
        |    CAST(COUNT(1) AS INT) AS n FROM ser),
        |  tot AS (SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE), a),
        |      (acc, y) -> acc + y) AS tot FROM arr),
        |  rec AS (
        |    SELECT 0 AS t, CAST(0.0 AS DOUBLE) AS z,
        |      CAST(0.0 AS DOUBLE) AS p, 1 AS q, FALSE AS seen, 0 AS nd
        |    UNION ALL
        |    SELECT r.t + 1,
        |      CASE WHEN i.a[r.t + 1] > 0.0 THEN (CASE WHEN r.seen
        |        THEN r.z + 0.25 * (i.a[r.t + 1] - r.z)
        |        ELSE i.a[r.t + 1] END) ELSE r.z END,
        |      CASE WHEN i.a[r.t + 1] > 0.0 THEN (CASE WHEN r.seen
        |        THEN r.p + 0.25 * (CAST(r.q AS DOUBLE) - r.p)
        |        ELSE CAST(r.q AS DOUBLE) END) ELSE r.p END,
        |      CASE WHEN i.a[r.t + 1] > 0.0 THEN 1 ELSE r.q + 1 END,
        |      r.seen OR i.a[r.t + 1] > 0.0,
        |      r.nd + CASE WHEN i.a[r.t + 1] > 0.0 THEN 1 ELSE 0 END
        |    FROM rec r, arr i WHERE r.t < i.n),
        |  fin AS (SELECT r.* FROM rec r, arr i WHERE r.t = i.n)
        |SELECT CAST(i.n AS BIGINT) AS n_days,
        |  CAST(f.nd AS BIGINT) AS n_demands,
        |  CASE WHEN f.seen THEN f.z END AS demand_size,
        |  CASE WHEN f.seen THEN f.p END AS mean_interval,
        |  CASE WHEN f.seen THEN f.z / f.p END AS croston_rate,
        |  t.tot / CAST(i.n AS DOUBLE) AS exact_rate
        |FROM fin f, arr i, tot t""".stripMargin,

    // HUGEINT carriers everywhere; big sums go HUGEINT->VARCHAR->DOUBLE
    // (q150's DuckDB int128 double-rounding workaround); the 7-term
    // sum_b parenthesization matches Spark exactly
    "q191_seasonal_strength" ->
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
        |    CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS cents
        |  FROM orders GROUP BY 1),
        |  b AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM daily),
        |  grid AS (SELECT CAST(UNNEST(generate_series(lo, hi,
        |      INTERVAL 1 DAY)) AS DATE) AS day FROM b),
        |  ser AS (SELECT g.day, COALESCE(d.cents, 0) AS cents
        |    FROM grid g LEFT JOIN daily d USING (day)),
        |  w AS (SELECT day, cents,
        |    SUM(cents) OVER (ORDER BY day
        |      ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS wsum,
        |    COUNT(1) OVER (ORDER BY day
        |      ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS wcnt
        |  FROM ser),
        |  i AS (SELECT date_part('dow', day) AS dow,
        |    7 * cents AS y7, 7 * cents - wsum AS d7
        |  FROM w WHERE wcnt = 7),
        |  pd AS (SELECT dow, COUNT(1) AS n_j,
        |    SUM(CAST(d7 AS HUGEINT)) AS s_j,
        |    SUM(CAST(d7 AS HUGEINT) * CAST(d7 AS HUGEINT)) AS sdd_j,
        |    SUM(CAST(y7 AS HUGEINT)) AS sy_j,
        |    SUM(CAST(y7 AS HUGEINT) * CAST(y7 AS HUGEINT)) AS syy_j
        |  FROM i GROUP BY 1),
        |  pd2 AS (SELECT *,
        |    CAST(CAST(s_j AS VARCHAR) AS DOUBLE)
        |      * CAST(CAST(s_j AS VARCHAR) AS DOUBLE)
        |      / CAST(n_j AS DOUBLE) AS b_j
        |  FROM pd),
        |  comb AS (SELECT SUM(n_j) AS n,
        |    SUM(s_j) AS sd, SUM(sdd_j) AS sdd,
        |    SUM(sy_j) AS sy, SUM(syy_j) AS syy,
        |    MAX(CASE WHEN dow = 0 THEN b_j END) AS b0,
        |    MAX(CASE WHEN dow = 1 THEN b_j END) AS b1,
        |    MAX(CASE WHEN dow = 2 THEN b_j END) AS b2,
        |    MAX(CASE WHEN dow = 3 THEN b_j END) AS b3,
        |    MAX(CASE WHEN dow = 4 THEN b_j END) AS b4,
        |    MAX(CASE WHEN dow = 5 THEN b_j END) AS b5,
        |    MAX(CASE WHEN dow = 6 THEN b_j END) AS b6
        |  FROM pd2),
        |  fin AS (SELECT n,
        |    (((((b0 + b1) + b2) + b3) + b4) + b5) + b6 AS sum_b,
        |    CAST(n AS DOUBLE) AS nd,
        |    CAST(CAST(sd AS VARCHAR) AS DOUBLE) AS sdD,
        |    CAST(CAST(sdd AS VARCHAR) AS DOUBLE) AS sddD,
        |    CAST(CAST(sy AS VARCHAR) AS DOUBLE) AS syD,
        |    CAST(CAST(syy AS VARCHAR) AS DOUBLE) AS syyD
        |  FROM comb),
        |  v AS (SELECT n, nd, sum_b,
        |    (syyD - syD * syD / nd) / nd AS var_y,
        |    (sddD - sdD * sdD / nd) / nd AS var_d,
        |    (sddD - sum_b) / nd AS var_r
        |  FROM fin)
        |SELECT CAST(n AS BIGINT) AS n_days,
        |  GREATEST(CAST(0.0 AS DOUBLE), 1.0 - var_d / var_y)
        |    AS trend_strength,
        |  GREATEST(CAST(0.0 AS DOUBLE), 1.0 - var_r / var_d)
        |    AS seasonal_strength,
        |  var_y, var_d, var_r
        |FROM v""".stripMargin)
}
