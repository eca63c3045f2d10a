package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.{Parity, Tables}
import graft.functions.HashFunctions.md5Hash60Sql

/** Thirteenth analytics batch: robust statistics and series
  * diagnostics — the screens an analyst runs when q150's moment
  * profile says the data is skewed and they need estimators that
  * survive it. MAD with robust-z outlier counts (q154), Theil–Sen
  * median-slope trend (q155), autocorrelation + Ljung–Box whiteness
  * of the weekly revenue series (q156), a Benford first-digit
  * conformance screen (q157 — which this synthetic corpus FAILS, by
  * design the kind of signal the screen exists to catch), and
  * Jensen–Shannon divergence between regional product-mix
  * distributions (q158). Same contract as Extended5–12: declarative
  * plans, exact integer carriers until the final double projections
  * (identical operation sequence on both engines; probability-
  * weighted log sums ride order-insensitive DECIMAL(38,15) sums,
  * the t23 dsum stance at the scale small log terms need), a scale
  * note per entry. The reference delegates all
  * analytics to user code behind its event processor
  * (`/root/reference/README.md:246-293`).
  */
object Extended13 {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // MAD + ROBUST-Z OUTLIER PROFILE — the robust scale estimate that
    // replaces q85's IQR fences when the analyst wants breakdown-point
    // 50%: per nation, median (the q73 discrete-grid rule), MAD =
    // grid-median of |v − median|, and the count of robust-z outliers
    // |v − med| > 3·1.4826·MAD. The outlier comparison is DIVISION-
    // FREE exact: 3·1.4826 = 4.4478 exactly, so the test is
    // dev·10⁴ > 44478·MAD in longs (the q143 cross-multiplication
    // stance); the only double is the final outlier rate. Scale
    // shape: one rollup to the per-nation value grid, keyed windows
    // for the median, one regroup to the deviation grid, keyed
    // windows again, |nations| rows out — a single linear pipeline,
    // no self-join, no re-scan.
    "q154_mad_profile" -> ((s, d) => {
      val wTot = Window.partitionBy(col("nation"))
      val withMed = OrderRevenue.nationValueCum(s, d)
        .withColumn("med",
          min(when(lit(2L) * col("cum") >= col("n"), col("v"))).over(wTot))
      val devGrid = withMed
        .select(col("nation"), abs(col("v") - col("med")).as("dev"),
          col("c"), col("n"), col("med"))
        .groupBy(col("nation"), col("dev"))
        .agg(sum(col("c")).as("c"), max(col("n")).as("n"),
          max(col("med")).as("med"))
      val wCumD = Window.partitionBy(col("nation")).orderBy(col("dev"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      devGrid
        .withColumn("cumd", sum(col("c")).over(wCumD))
        .withColumn("mad",
          min(when(lit(2L) * col("cumd") >= col("n"), col("dev")))
            .over(wTot))
        .groupBy(col("nation"))
        .agg(max(col("n")).as("n"), max(col("med")).as("median"),
          max(col("mad")).as("mad"),
          sum(when(col("dev") * lit(10000L) > lit(44478L) * col("mad"),
            col("c")).otherwise(0L)).as("n_out"))
        .withColumn("out_rate",
          col("n_out").cast("double") / col("n").cast("double"))
        .orderBy(col("nation"))
    }),

    // THEIL–SEN TREND — the median of pairwise weekly-revenue slopes
    // per nation: breakdown point 29%, immune to the outlier weeks
    // that drag an OLS line (q58's moment fit is the fragile twin).
    // Gap-tolerant by construction: slopes use the true week distance,
    // so nations with empty weeks (all of them at small SF) need no
    // gap filling. Each slope is ONE division of exact longs — both
    // engines produce the identical double — and the median is the
    // q73 grid rule over the slope values. Scale shape: the fact
    // table collapses to a (nation, week) frame FIRST (calendar-
    // bounded: |weeks| ≈ 350 per nation regardless of SF), one
    // materialization cut, then the pair join is grid² on the tiny
    // aggregate — O(weeks²)·|nations| ≈ 1.5M rows at ANY data scale,
    // never O(rows²).
    "q155_theil_sen" -> ((s, d) => {
      val wk = OrderRevenue.nationWeeklyRevenue(s, d)
      // the selection threshold is knowable without counting inside
      // the pair frame: np = C(n_weeks, 2) — a 25-row broadcast join
      // replaces a count-window pass over the grid² pairs (the q179
      // rewrite applied back to its parent)
      val weeks = wk.groupBy(col("nk"))
        .agg(count(lit(1)).as("n_weeks"))
        .withColumn("np", expr("n_weeks * (n_weeks - 1) div 2"))
      // pair fan-out through a BROADCAST self-join (the checkpointed
      // grid has no size stats, so the planner sort-merge-joined it —
      // funneling the grid² fan-out through |nations| tasks), and the
      // median by ROW-LOCAL sort_array selection instead of a
      // nation-partitioned row_number window: the same grid-rule
      // value (smallest slope at position ⌈np/2⌉ — element_at of the
      // sorted array), but the per-nation slope lists partial-
      // aggregate map-side and the full-pair-frame sort disappears.
      // Measured at sf0.1: the window tail alone was 4.6–5.4 s, this
      // shape 0.7–1.1 s end-to-end from the grid (guide §2.4/§2.3).
      // Round 13: the STREAMED side is pre-partitioned on nk — an
      // exchange of the |nations|·|weeks| GRID (dimension-sized) that
      // the pair join preserves and the groupBy(nk) then reuses, so
      // the grid² slope frame itself never crosses a shuffle (before:
      // every slope rode the collect_list exchange; the cut's
      // LogicalRDD exposes no partitioning, so this must be explicit).
      wk.repartition(col("nk")).as("a").join(broadcast(wk.as("b")),
          col("a.nk") === col("b.nk") && col("a.w") < col("b.w"))
        .select(col("a.nk").as("nk"),
          ((col("b.y") - col("a.y")).cast("double") /
            (col("b.w") - col("a.w")).cast("double")).as("slope"))
        .groupBy(col("nk"))
        .agg(sort_array(collect_list(col("slope"))).as("sl"))
        .join(broadcast(weeks), "nk")
        .join(broadcast(OrderRevenue.nationNames(s, d)), "nk")
        .select(col("nation"), col("n_weeks"), col("np").as("n_pairs"),
          element_at(col("sl"), expr("CAST((np + 1) div 2 AS INT)"))
            .as("ts_slope"))
        .orderBy(col("nation"))
    }),

    // AUTOCORRELATION + LJUNG–BOX — is the weekly revenue series
    // white noise? ACF at lags 1–6 with the standard full-series-mean
    // estimator, assembled from EXACT integer moments: multiplying
    // the lag-k autocovariance through by n² gives
    // n²·Σx_t·x_{t+k} − n·S1·Σ(x_t + x_{t+k}) + (n−k)·S1², all
    // 128-bit-exact (DECIMAL(38,0) here, HUGEINT in the oracle — the
    // q150 carrier), so r_k is ONE division of two exact integers and
    // cross-engine bit-identical. Ljung–Box Q accumulates r_k²/(n−k)
    // in lag order (an ordered cumulative window — identical
    // sequence both engines) against hardcoded χ² critical literals.
    // Scale shape: the fact table collapses to ONE calendar-bounded
    // row per week before any window; the single-partition lead()
    // window runs over ~350 rows at any SF — the aggregate-first
    // pattern that makes a "global" window scale-safe. Requires a
    // contiguous week index (true of this corpus at the gate SFs:
    // span == count) — lead() over a gapped series would silently
    // pair non-adjacent observations, so the plan GUARDS the
    // assumption and raises on any gap (the d01 collision-guard
    // stance: loud failure over silent corruption).
    "q156_acf_ljung_box" -> ((s, d) => {
      val lags = 1 to 6
      val crit = Map(1 -> 3.8415, 2 -> 5.9915, 3 -> 7.8147,
        4 -> 9.4877, 5 -> 11.0705, 6 -> 12.5916)
      val wk = OrderRevenue.weeklyRevenue(s, d)
        .select(col("w"), col("y").cast(DecimalType(38, 0)).as("x"))
      val wOrd = Window.orderBy(col("w"))
      val led = wk.select(
        Seq(col("w"), col("x")) ++ lags.map(k =>
          lead(col("x"), k).over(wOrd).as(s"x$k")): _*)
      val aggCols = Seq(
        count(lit(1)).as("rows"),
        min(col("w")).as("wmin"), max(col("w")).as("wmax"),
        sum(col("x")).as("s1"),
        sum(col("x") * col("x")).as("s2")) ++
        lags.flatMap(k => Seq(
          sum(col("x") * col(s"x$k")).as(s"p$k"),
          sum(when(col(s"x$k").isNotNull, col("x") + col(s"x$k")))
            .as(s"h$k")))
      val ag = led.agg(aggCols.head, aggCols.tail: _*)
        .withColumn("n",
          when(col("wmax") - col("wmin") + lit(1L) === col("rows"),
            col("rows"))
            .otherwise(raise_error(concat(
              lit("q156: week index not contiguous (rows="),
              col("rows").cast("string"), lit(", span="),
              (col("wmax") - col("wmin") + lit(1L)).cast("string"),
              lit(") — ACF over lead() would pair non-adjacent weeks")))
              .cast("long")))
      val perLag = ag.select(col("n"), col("s1"), col("s2"),
          explode(array(lags.map(k => struct(lit(k).as("lag"),
            col(s"p$k").as("p"), col(s"h$k").as("h"))): _*)).as("kr"))
        .select(col("n"), col("s1"), col("s2"),
          col("kr.lag").as("lag"), col("kr.p").as("p"), col("kr.h").as("h"))
        .withColumn("nd", col("n").cast(DecimalType(38, 0)))
        .withColumn("num",
          col("nd") * col("nd") * col("p") -
            col("nd") * col("s1") * col("h") +
            (col("nd") - col("lag").cast(DecimalType(38, 0))) *
              col("s1") * col("s1"))
        .withColumn("den",
          col("nd") * col("nd") * col("s2") -
            col("nd") * col("s1") * col("s1"))
        .withColumn("acf", col("num").cast("double") / col("den").cast("double"))
      val wLag = Window.orderBy(col("lag"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      perLag
        .withColumn("lb_q",
          col("n").cast("double") * (col("n").cast("double") + lit(2.0)) *
            sum(col("acf") * col("acf") /
              (col("n").cast("double") - col("lag").cast("double")))
              .over(wLag))
        .withColumn("reject_95", col("lb_q") >
          element_at(array(lags.map(k => lit(crit(k))): _*), col("lag")))
        .select(col("lag"), col("n"), col("acf"), col("lb_q"),
          col("reject_95"))
        .orderBy(col("lag"))
    }),

    // BENFORD FIRST-DIGIT SCREEN — the synthetic-data / fraud screen:
    // compare the first significant digit of every line price against
    // Benford's log₁₀(1 + 1/d) law with a χ² goodness-of-fit (df = 8,
    // critical 15.5073). TPC-H's uniform price generator FAILS it
    // loudly — exactly the signal the screen exists to catch (a
    // pipeline ingesting generated or tampered financial data sees
    // this row set first). The 9 Benford probabilities are hardcoded
    // 17-digit literals (no cross-engine libm log), the digit comes
    // from the exact cents long (×100 shifts the decimal point,
    // never the leading digit), and the χ² total rides a decimal
    // window sum so it is summation-order exact. Scale shape: one
    // projected scan to a 9-row grid; everything downstream is
    // constant-size.
    "q157_benford_screen" -> ((s, d) => {
      val benford = Seq(0.3010299956639812, 0.17609125905568124,
        0.12493873660829992, 0.09691001300805642, 0.07918124604762482,
        0.06694678963061322, 0.05799194697768673, 0.05115252244738129,
        0.04575749056067514)
      val wAll = Window.partitionBy(lit(1))
      Tables.lineitem(s, d)
        .select(substring(Parity.cents2(col("l_extendedprice"))
          .cast("string"), 1, 1).cast("int").as("digit"))
        .groupBy(col("digit"))
        .agg(count(lit(1)).as("obs"))
        .withColumn("n", sum(col("obs")).over(wAll))
        .withColumn("benford_p",
          element_at(array(benford.map(lit): _*), col("digit")))
        .withColumn("expected", col("n").cast("double") * col("benford_p"))
        .withColumn("chi_part",
          (col("obs").cast("double") - col("expected")) *
            (col("obs").cast("double") - col("expected")) / col("expected"))
        .withColumn("chi2",
          sum(col("chi_part").cast(DecimalType(38, 15))).over(wAll)
            .cast("double"))
        .select(col("digit"), col("obs"), col("benford_p"),
          col("expected"), col("chi_part"), col("chi2"),
          (col("chi2") > lit(15.5073)).as("reject_95"))
        .orderBy(col("digit"))
    }),

    // JENSEN–SHANNON DIVERGENCE of regional product-mix — how far
    // apart are two regions' brand distributions, in bits? The
    // symmetric, bounded ([0,1] bit) alternative to KL for comparing
    // categorical mixes; the multi-source twin of t33's mixture
    // weights. Brand-share grids per region (all 125 region×brand
    // cells populated on this corpus; zero cells guarded to their
    // exact 0·log0 = 0 limit anyway), pair join on brand across the
    // 10 region pairs, and each pair's Σ p·ln(2p/(p+q)) terms ride a
    // DECIMAL(38,15) order-insensitive sum (the t23 dsum stance at
    // the scale these ~1e-4 terms need; decimal rounding absorbs
    // libm ulp noise in ln). Scale shape: the fact table collapses to a
    // 125-row grid FIRST (one materialization cut feeding both sides
    // of the brand join); everything pairwise is constant-size
    // regardless of SF.
    "q158_jsd_brand_mix" -> ((s, d) => {
      val wTot = Window.partitionBy(col("region"))
      val bx = Materialize.LocalCheckpoint(
        Tables.lineitem(s, d)
          .join(Tables.part(s, d), col("l_partkey") === col("p_partkey"))
          .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(Tables.nation(s, d)),
            col("s_nationkey") === col("n_nationkey"))
          .join(broadcast(Tables.region(s, d)),
            col("n_regionkey") === col("r_regionkey"))
          .groupBy(col("r_name").as("region"), col("p_brand").as("brand"))
          .agg(count(lit(1)).as("c"))
          .withColumn("p",
            col("c").cast("double") /
              sum(col("c")).over(wTot).cast("double"))
          .select(col("region"), col("brand"), col("p")))
      bx.as("a").join(bx.as("b"),
          col("a.brand") === col("b.brand") &&
            col("a.region") < col("b.region"))
        .select(col("a.region").as("region_a"), col("b.region").as("region_b"),
          col("a.p").as("p"), col("b.p").as("q"))
        .withColumn("m", (col("p") + col("q")) / lit(2.0))
        .withColumn("term",
          when(col("p") > 0, col("p") * log(col("p") / col("m")) / lit(2.0))
            .otherwise(lit(0.0)) +
          when(col("q") > 0, col("q") * log(col("q") / col("m")) / lit(2.0))
            .otherwise(lit(0.0)))
        .groupBy(col("region_a"), col("region_b"))
        .agg(count(lit(1)).as("n_brands"),
          sum(col("term").cast(DecimalType(38, 15))).cast("double")
            .as("jsd_nats"))
        .withColumn("jsd_bits", col("jsd_nats") / lit(0.6931471805599453))
        .orderBy(col("region_a"), col("region_b"))
    }),

    // PETTITT CHANGEPOINT — WHERE does the weekly revenue series
    // shift, if anywhere? The rank-based (distribution-free) single-
    // changepoint test: U_t = 2·Σ_{i≤t} rank(y_i) − t(n+1), K =
    // max|U_t| over t < n, changepoint at the argmax. The 2×-midrank
    // carrier keeps every U_t an EXACT integer (2·below + ties + 1
    // per row — q134/q139's stance), and the significance decision is
    // made on the exact log-p term −6K²/(n³+n²) (one division of
    // exact longs) against the hardcoded ln(0.025) literal — libm
    // exp() never enters the decision; the displayed p is rounded
    // through DECIMAL(18,12) so a last-ulp exp() divergence cannot
    // break the hash. This stationary corpus does NOT reject (p caps
    // at 1) — the honest answer, and the instrument q127's CUSUM
    // hands off to when the analyst asks "where, and is it
    // significant?". Scale shape: aggregate-first — the fact table
    // collapses to ~350 calendar-bounded weekly rows before any
    // window; the single-partition windows run over that tiny frame
    // at any SF.
    "q159_pettitt_changepoint" -> ((s, d) => {
      val wk = OrderRevenue.weeklyRevenue(s, d)
      val wVal = Window.orderBy(col("y"))
      val wValTies = Window.partitionBy(col("y"))
      val wSeq = Window.orderBy(col("w"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy(lit(1))
      val ranked = wk
        .withColumn("rk", rank().over(wVal))          // 1 + strictly-below
        .withColumn("ties", count(lit(1)).over(wValTies))
        .withColumn("r2", lit(2L) * (col("rk") - 1L) + col("ties") + 1L)
      val stats = ranked
        .withColumn("t", row_number().over(Window.orderBy(col("w"))))
        .withColumn("s2", sum(col("r2")).over(wSeq))
        .withColumn("n", count(lit(1)).over(wAll))
        .withColumn("u", col("s2") - col("t") * (col("n") + 1L))
        .withColumn("abs_u",
          when(col("t") < col("n"), abs(col("u"))).otherwise(lit(0L)))
        .withColumn("k_stat", max(col("abs_u")).over(wAll))
      stats
        .groupBy(col("k_stat"))
        .agg(max(col("n")).as("n"),
          min(when(col("abs_u") === col("k_stat"), col("w")))
            .as("cp_week"))
        .withColumn("log_p_term",
          lit(-6.0) * col("k_stat").cast("double") *
            col("k_stat").cast("double") /
            (col("n") * col("n") * col("n") + col("n") * col("n"))
              .cast("double"))
        .withColumn("p_approx",
          least(lit(1.0), lit(2.0) * exp(col("log_p_term")))
            .cast(DecimalType(18, 12)).cast("double"))
        .select(col("n"), col("k_stat"), col("cp_week"),
          col("log_p_term"), col("p_approx"),
          (col("log_p_term") < lit(-3.6888794541139363)).as("reject_95"))
    }),

    // BROWN–FORSYTHE VARIANCE-EQUALITY TEST — the assumption check a
    // practitioner runs BEFORE trusting q140's ANOVA: are the
    // order-size buckets' variances even comparable? Levene's test in
    // its robust Brown–Forsythe form — q140's exact one-way F
    // assembly applied to z = |value − median_g| (group medians by
    // the q73 grid rule, so each z is an exact long), same 2.9957
    // critical (F(2, ∞) at 95%; df2 ≈ 14k). Rejection here is WHY the
    // k-sample family leans on the rank tests (q139/q163): revenue
    // spread grows with basket size, so the classic ANOVA's equal-
    // variance premise fails — measured, not assumed. Scale shape:
    // q139's exactly — one rollup to the per-group value grid, keyed
    // windows for the medians, one grouped pass of exact moments,
    // 1 row out.
    "q165_brown_forsythe" -> ((s, d) => {
      val wCum = Window.partitionBy(col("grp")).orderBy(col("value"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wTot = Window.partitionBy(col("grp"))
      val dev = OrderRevenue.orderSizeBuckets(s, d)
        .groupBy(col("grp"), col("value"))
        .agg(count(lit(1)).as("c"))
        .withColumn("cum", sum(col("c")).over(wCum))
        .withColumn("ng", sum(col("c")).over(wTot))
        .withColumn("med",
          min(when(lit(2L) * col("cum") >= col("ng"), col("value")))
            .over(wTot))
        .select(col("grp"), abs(col("value") - col("med")).as("z"),
          col("c"), col("med"))
      val g = dev.groupBy(col("grp"))
        .agg(sum(col("c")).as("n_g"),
          sum(col("z") * col("c")).as("sx"),
          sum(col("z") * col("z") * col("c")).as("sxx"),
          max(col("med")).as("med_g"))
      val sums = OrderRevenue.bucketMomentSums ++ Seq(
        sum(when(col("grp") === "narrow", col("med_g"))).as("med_a"),
        sum(when(col("grp") === "mid", col("med_g"))).as("med_b"),
        sum(when(col("grp") === "wide", col("med_g"))).as("med_c"))
      OrderRevenue.oneWayF(g.agg(sums.head, sums.tail: _*))
        .select(col("na"), col("nb"), col("nc"), col("n"),
          col("med_a"), col("med_b"), col("med_c"),
          col("ssb"), col("ssw"), col("f_stat"),
          (col("f_stat") > 2.9957).as("reject_95"))
    }),

    // WELCH'S ANOVA — the omnibus you run BECAUSE q165 rejected:
    // heteroscedasticity-robust k-sample location test, weighting
    // each group by n_g/s²_g instead of assuming one pooled variance.
    // F* = Σw_g(x̄_g − x̄_w)²/(k−1) over 1 + 2(k−2)/(k²−1)·Λ, with the
    // Welch–Satterthwaite df2 = (k²−1)/(3Λ) reported alongside. Every
    // group moment (n, Σx, Σx²) is an exact long; the weights, means
    // and Λ assemble in an identical double sequence; the critical is
    // the df2→∞ value 2.9957 (declared semantics: slightly
    // over-rejects for small df2 — F(2,100) is 3.09 — immaterial
    // whenever df2 ≫ 100 and F is far from the band, both true at
    // every SF here: df2 ≈ 700–7000, F in the thousands). Completes the q140/q165 story: classic
    // ANOVA assumes equal variances, Brown–Forsythe measures that
    // they are not, Welch answers the location question anyway — and
    // agrees with q139's rank test. Scale shape: q140's exactly — one
    // rollup, one grouped pass of exact moments, 1 row out.
    "q166_welch_anova" -> ((s, d) => {
      val g = OrderRevenue.orderSizeBuckets(s, d).groupBy(col("grp"))
        .agg(count(lit(1)).as("n_g"), sum(col("value")).as("sx"),
          sum(col("value") * col("value")).as("sxx"))
        .withColumn("nd", col("n_g").cast("double"))
        .withColumn("mean_g", col("sx").cast("double") / col("nd"))
        // sample variance from exact moments: (Σx² − (Σx)²/n)/(n−1)
        .withColumn("var_g",
          (col("sxx").cast("double") -
            col("sx").cast("double") * col("sx").cast("double") /
              col("nd")) / (col("nd") - lit(1.0)))
        .withColumn("w_g", col("nd") / col("var_g"))
      val agg = g.agg(
        sum(col("n_g")).as("n"),
        sum(when(col("grp") === "narrow", col("n_g"))).as("na"),
        sum(when(col("grp") === "mid", col("n_g"))).as("nb"),
        sum(when(col("grp") === "wide", col("n_g"))).as("nc"),
        sum(when(col("grp") === "narrow", col("w_g"))).as("wa"),
        sum(when(col("grp") === "mid", col("w_g"))).as("wb"),
        sum(when(col("grp") === "wide", col("w_g"))).as("wc"),
        sum(when(col("grp") === "narrow", col("mean_g"))).as("ma"),
        sum(when(col("grp") === "mid", col("mean_g"))).as("mb"),
        sum(when(col("grp") === "wide", col("mean_g"))).as("mc"),
        sum(when(col("grp") === "narrow", col("nd"))).as("nda"),
        sum(when(col("grp") === "mid", col("nd"))).as("ndb"),
        sum(when(col("grp") === "wide", col("nd"))).as("ndc"))
      agg
        .withColumn("wsum", col("wa") + col("wb") + col("wc"))
        .withColumn("xw",
          (col("wa") * col("ma") + col("wb") * col("mb") +
            col("wc") * col("mc")) / col("wsum"))
        .withColumn("num",
          (col("wa") * (col("ma") - col("xw")) * (col("ma") - col("xw")) +
            col("wb") * (col("mb") - col("xw")) * (col("mb") - col("xw")) +
            col("wc") * (col("mc") - col("xw")) * (col("mc") - col("xw")))
            / lit(2.0))
      .withColumn("lam",
          ((lit(1.0) - col("wa") / col("wsum")) *
            (lit(1.0) - col("wa") / col("wsum")) / (col("nda") - lit(1.0)) +
           (lit(1.0) - col("wb") / col("wsum")) *
            (lit(1.0) - col("wb") / col("wsum")) / (col("ndb") - lit(1.0)) +
           (lit(1.0) - col("wc") / col("wsum")) *
            (lit(1.0) - col("wc") / col("wsum")) / (col("ndc") - lit(1.0))))
        .withColumn("f_welch",
          col("num") / (lit(1.0) + lit(0.25) * col("lam")))
        .withColumn("df2", lit(8.0) / (lit(3.0) * col("lam")))
        .select(col("na"), col("nb"), col("nc"), col("n"),
          col("f_welch"), col("df2"),
          (col("f_welch") > lit(2.9957)).as("reject_95"))
    }),

    // POISSON BOOTSTRAP — the bootstrap that actually runs at 100 TB:
    // instead of materializing B resampled copies of the corpus, each
    // row contributes an independent Poisson(1) weight to each of
    // B=32 replicates in ONE pass (the classic big-data bootstrap
    // approximation: Binomial(n, 1/n) → Poisson(1) as n grows). The
    // weights are DETERMINISTIC — the portable 60-bit md5 hash of
    // (orderkey, replicate) inverted through hardcoded Poisson(1) CDF
    // literals (tail truncated at 9, mass < 1.2e-6) — so the entire
    // procedure, CI included, is oracle-checked; an RNG bootstrap
    // could never be. Replicate means are exact-long weighted sums
    // with one division; the 90% CI is the q73 grid rule over the 32
    // replicate means; boot_rmse is the decimal-summed RMS deviation
    // around the exact full-sample mean (documented choice: the
    // spread that matters for "how far could my point estimate be
    // off"). Scale shape: the ×32 fan-out happens on the per-order
    // ROLLUP (never the fact table) and collapses immediately via
    // map-side partial aggregation — the shuffle carries 32 partial
    // rows per task; the exact-mean branch is a second 2-column
    // pruned pass (the d22 method-comparison bucket).
    "q164_poisson_bootstrap" -> ((s, d) => {
      val b = 32
      val per = OrderRevenue.orderValues(s, d)
      val reps = OrderRevenue.poissonReplicates(per, b)
        .groupBy(col("b"))
        .agg(sum(col("w")).as("n_eff"), sum(col("w") * col("v")).as("swv"))
        .withColumn("mean_b",
          col("swv").cast("double") / col("n_eff").cast("double"))
      val exact = per.agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))
        .withColumn("mean_exact",
          col("sv").cast("double") / col("n").cast("double"))
      val wOrd = Window.partitionBy(lit(1)).orderBy(col("mean_b"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy(lit(1))
      reps.crossJoin(broadcast(exact))
        .withColumn("cum", count(lit(1)).over(wOrd))
        .withColumn("ci_lo",
          min(when(lit(20L) * col("cum") >= lit(b.toLong), col("mean_b")))
            .over(wAll))
        .withColumn("ci_hi",
          min(when(lit(20L) * col("cum") >= lit(19L * b), col("mean_b")))
            .over(wAll))
        .withColumn("sq_dev",
          (col("mean_b") - col("mean_exact")) *
            (col("mean_b") - col("mean_exact")))
        .groupBy(col("n"), col("mean_exact"), col("ci_lo"), col("ci_hi"))
        .agg(count(lit(1)).as("b_reps"),
          sqrt(sum(col("sq_dev").cast(DecimalType(38, 15))).cast("double")
            / lit(b.toDouble)).as("boot_rmse"))
        .select(col("n"), col("mean_exact"), col("b_reps"),
          col("ci_lo").as("ci_lo_90"), col("ci_hi").as("ci_hi_90"),
          col("boot_rmse"))
    }),

    // DUNN'S POST-HOC PAIRWISE TEST — the practitioner's next
    // question after q139's Kruskal–Wallis rejects: WHICH order-size
    // buckets differ? All three pairwise mean-rank contrasts on the
    // SAME pooled midranks the omnibus used (never re-rank within
    // pairs — that is Dunn's defining property vs running three
    // Mann–Whitneys), with the tie-corrected standard error
    // N(N+1)/12 − Σ(t³−t)/(12(N−1)) and a Bonferroni-adjusted
    // critical value z_{α/6} = 2.3939797998185073 (hardcoded literal,
    // α = 0.05 over 3 comparisons). Rank sums stay exact 2×-midrank
    // longs (the q139 carrier — one cumulative window over the
    // distinct-value grid, no per-row ranks); each z is assembled
    // from exact integers in an identical double sequence. Scale
    // shape: q139's exactly — one rollup, one grid window, one
    // 1-row aggregate fanned out to the 3 pair rows.
    "q163_dunn_posthoc" -> ((s, d) => {
      val grid = OrderRevenue.midrankGrid(OrderRevenue.orderSizeBuckets(s, d),
        Seq("narrow", "mid", "wide"))
      val agg = grid.agg(
        sum(col("ca")).as("na"), sum(col("cb")).as("nb"),
        sum(col("cc")).as("nc"),
        sum(col("ca") * col("r2")).as("ra2"),
        sum(col("cb") * col("r2")).as("rb2"),
        sum(col("cc") * col("r2")).as("rc2"),
        sum(col("t") * col("t") * col("t") - col("t")).as("tie3"))
      agg
        .withColumn("n", col("na") + col("nb") + col("nc"))
        .select(col("n"), col("tie3"),
          explode(array(
            struct(lit("narrow").as("grp_i"), lit("mid").as("grp_j"),
              col("na").as("ni"), col("nb").as("nj"),
              col("ra2").as("r2i"), col("rb2").as("r2j")),
            struct(lit("narrow").as("grp_i"), lit("wide").as("grp_j"),
              col("na").as("ni"), col("nc").as("nj"),
              col("ra2").as("r2i"), col("rc2").as("r2j")),
            struct(lit("mid").as("grp_i"), lit("wide").as("grp_j"),
              col("nb").as("ni"), col("nc").as("nj"),
              col("rb2").as("r2i"), col("rc2").as("r2j")))).as("p"))
        .select(col("n"), col("tie3"), col("p.grp_i").as("grp_i"),
          col("p.grp_j").as("grp_j"), col("p.ni").as("n_i"),
          col("p.nj").as("n_j"), col("p.r2i").as("r2i"),
          col("p.r2j").as("r2j"))
        .withColumn("mean_rank_i",
          col("r2i").cast("double") / (lit(2.0) * col("n_i").cast("double")))
        .withColumn("mean_rank_j",
          col("r2j").cast("double") / (lit(2.0) * col("n_j").cast("double")))
        .withColumn("se", sqrt(
          (col("n").cast("double") * (col("n").cast("double") + lit(1.0)) /
            lit(12.0) -
            col("tie3").cast("double") /
              (lit(12.0) * (col("n").cast("double") - lit(1.0)))) *
            (lit(1.0) / col("n_i").cast("double") +
              lit(1.0) / col("n_j").cast("double"))))
        .withColumn("z",
          (col("mean_rank_i") - col("mean_rank_j")) / col("se"))
        .select(col("grp_i"), col("grp_j"), col("n_i"), col("n_j"),
          col("mean_rank_i"), col("mean_rank_j"), col("z"),
          (abs(col("z")) > lit(2.3939797998185073)).as("reject_bonf"))
        .orderBy(col("grp_i"), col("grp_j"))
    }),

    // MANN–KENDALL TREND TEST — q155's significance companion: the
    // Theil–Sen slope says how steep, Mann–Kendall says whether the
    // monotone trend is real. S = Σ sign(y_j − y_i) over week pairs
    // (the same calendar-bounded pair frame as q155), tie-corrected
    // Var(S) = [n(n−1)(2n+5) − Σ t(t−1)(2t+5)]/18, and the
    // continuity-corrected z — S, n, and the tie term are EXACT longs;
    // the only doubles are the final division and one sqrt, identical
    // sequence both engines. Stationary weekly revenue does not
    // reject in any nation here — the honest pairing with q155's
    // near-zero slopes. Scale shape: identical to q155 — aggregate
    // first to (nation, week), one materialization cut feeding the
    // pair join and the tie grid, O(weeks²) per nation at any SF.
    "q162_mann_kendall" -> ((s, d) => {
      OrderRevenue.mannKendall(s, d)
        .select(col("nation"), col("n_weeks"), col("s_stat"),
          col("var_s"), col("z"),
          (abs(col("z")) > lit(1.96)).as("reject_95"))
        .orderBy(col("nation"))
    }),

    // BOOTSTRAP MEDIAN CI — q164's one-pass Poisson machinery
    // applied to the statistic where the bootstrap actually earns its
    // keep: the MEDIAN has no clean analytic SE, and the two
    // textbook answers — the distribution-free order-statistic
    // interval (q151's formula) and the bootstrap percentile
    // interval — should agree. This query computes BOTH on the same
    // per-order revenue and surfaces them side by side (overlap
    // spec-pinned). Everything stays in exact longs: each replicate's
    // weighted grid-rule median IS a grid value, and the CI over the
    // 32 replicate medians is again the grid rule — doubles never
    // appear. Shape (the r7→r8 rewrite, 10.1 s → measured below at
    // sf0.1): the ×32 fan-out collapses to ONE value-grid frame with
    // 32 weight COLUMNS — |grid| rows instead of 32·|grid| — so the
    // shuffle carries the grid once, and all 32 replicate cumsums,
    // the 32 totals, and the exact branch's cumsum share a SINGLE
    // sort in one Window operator (same orderBy, two frames). The
    // replicate medians land in one row; the percentile pick over 32
    // medians is a row-local sort_array (rank ceil(B/20) and
    // ceil(19B/20) — exactly the old min-over-cum-count rule). Grid
    // bound: |distinct whole-dollar order revenues|, value-range
    // bounded, NOT row-count bounded (the t28/q127 single-partition
    // window contract).
    "q170_bootstrap_median_ci" -> ((s, d) => {
      val b = 32
      val rep = OrderRevenue.poissonReplicates(OrderRevenue.orderValues(s, d), b)
      val wsums = (1 to b).map(g =>
        sum(when(col("b") === g, col("w")).otherwise(0L)).as(s"w$g"))
      val grid = rep.groupBy(col("v"))
        .agg(sum(when(col("b") === 1, 1L).otherwise(0L)).as("c"),
          wsums: _*)
      // TWO-PHASE cumulative sums over the value grid (round 13; the
      // Packing.orderedPrefixSum shape lifted to 33 weight columns):
      // the grid is value-bounded but this was the engine's last
      // declared SINGLE-PARTITION window — every cum/total column ran
      // through one task. Phase 1: range-partition the grid by v (the
      // same exchange a global sort would pay), pin the partition ids
      // with the cut, and run all 33 running sums in ONE per-range
      // window; phase 2: per-range totals → exclusive prefix offsets
      // via a window over ≤ numShufflePartitions rows (the only
      // unpartitioned window left), broadcast-joined back; run totals
      // ride the q164 1-row scalar broadcast. Exact long sums in
      // v-order either way — identical values, oracle untouched.
      val nParts = s.sessionState.conf.numShufflePartitions
      val ranged = Materialize.LocalCheckpoint(
        grid.repartitionByRange(nParts, col("v"))
          .withColumn("_pid", spark_partition_id()))
      val wLoc = Window.partitionBy(col("_pid")).orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val localCols = Seq(col("_pid"), col("v"),
        sum(col("c")).over(wLoc).as("lc")) ++
        (1 to b).map(g => sum(col(s"w$g")).over(wLoc).as(s"lw$g"))
      val local = ranged.select(localCols: _*)
      val wOff = Window.orderBy(col("_pid"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val perRange = Seq(sum(col("c")).as("tc")) ++
        (1 to b).map(g => sum(col(s"w$g")).as(s"tw$g"))
      val offs = ranged.groupBy(col("_pid"))
        .agg(perRange.head, perRange.tail: _*)
        .select(Seq(col("_pid"),
          coalesce(sum(col("tc")).over(wOff), lit(0L)).as("oc")) ++
          (1 to b).map(g =>
            coalesce(sum(col(s"tw$g")).over(wOff), lit(0L)).as(s"ow$g")): _*)
      val runTotals = Seq(sum(col("c")).as("n")) ++
        (1 to b).map(g => sum(col(s"w$g")).as(s"tot_w$g"))
      val tots = ranged.agg(runTotals.head, runTotals.tail: _*)
      val winCols = Seq(col("v"),
        (col("lc") + col("oc")).as("cum_c"), col("n")) ++
        (1 to b).flatMap(g => Seq(
          (col(s"lw$g") + col(s"ow$g")).as(s"cum_w$g"), col(s"tot_w$g")))
      val win = local.join(broadcast(offs), "_pid")
        .crossJoin(broadcast(tots))
        .select(winCols: _*)
      val aggCols = Seq(
        max(col("n")).as("n"),
        min(when(lit(2L) * col("cum_c") >= col("n"), col("v")))
          .as("median"),
        min(when(col("cum_c") >= col("k_lo"), col("v"))).as("ci_lo_os"),
        min(when(col("cum_c") >= col("k_hi"), col("v"))).as("ci_hi_os")) ++
        (1 to b).map(g =>
          min(when(lit(2L) * col(s"cum_w$g") >= col(s"tot_w$g"),
            col("v"))).as(s"med$g"))
      win
        .withColumn("nd", col("n").cast("double"))
        .withColumn("k_lo",
          floor((col("nd") - lit(1.96) * sqrt(col("nd"))) / lit(2.0))
            .cast("long"))
        .withColumn("k_hi",
          ceil(lit(1.0) + (col("nd") + lit(1.96) * sqrt(col("nd"))) /
            lit(2.0)).cast("long"))
        .agg(aggCols.head, aggCols.tail: _*)
        .withColumn("meds",
          sort_array(array((1 to b).map(g => col(s"med$g")): _*)))
        .select(col("n"), col("median"),
          col("ci_lo_os"), col("ci_hi_os"),
          element_at(col("meds"), math.ceil(b / 20.0).toInt)
            .as("ci_lo_boot"),
          element_at(col("meds"), math.ceil(19.0 * b / 20.0).toInt)
            .as("ci_hi_boot"))
    }),

    // CAPTURE–RECAPTURE POPULATION ESTIMATE — ecology's census
    // method applied where warehouses actually use it: estimate a
    // distinct-population size from two bounded observation windows
    // when the full census is too expensive (at 100 TB, "how many
    // distinct users/entities exist?" from two day-samples instead
    // of a corpus-wide distinct). Chapman's bias-corrected
    // Lincoln–Petersen: N̂ = (n1+1)(n2+1)/(m+1) − 1 over customers
    // active in 1995 vs 2000, with its closed-form SE and a 95% CI —
    // every input an exact long, the estimator three divisions and
    // one sqrt. Self-validating on this corpus: the exact census
    // (1500) is computed alongside and falls inside the CI
    // (N̂ ≈ 1493 ± 21 at sf0.01, spec-pinned). Scale shape: ONE scan,
    // one customer-keyed rollup carrying two capture flags, one
    // global agg — no join between the windows.
    "q169_capture_recapture" -> ((s, d) => {
      val caps = Tables.orders(s, d)
        .groupBy(col("o_custkey"))
        .agg(max(when(year(col("o_orderdate")) === 1995, 1L)
          .otherwise(0L)).as("s1"),
          max(when(year(col("o_orderdate")) === 2000, 1L)
            .otherwise(0L)).as("s2"))
      caps.agg(
          count(lit(1)).as("census"),
          sum(col("s1")).as("n1"),
          sum(col("s2")).as("n2"),
          sum(col("s1") * col("s2")).as("m"))
        .withColumn("n_hat",
          (col("n1") + 1L).cast("double") * (col("n2") + 1L).cast("double")
            / (col("m") + 1L).cast("double") - lit(1.0))
        .withColumn("se", sqrt(
          (col("n1") + 1L).cast("double") * (col("n2") + 1L).cast("double")
            * (col("n1") - col("m")).cast("double")
            * (col("n2") - col("m")).cast("double") /
            ((col("m") + 1L).cast("double") * (col("m") + 1L).cast("double")
              * (col("m") + 2L).cast("double"))))
        .select(col("n1"), col("n2"), col("m"), col("census"),
          col("n_hat"), col("se"),
          (col("n_hat") - lit(1.96) * col("se")).as("ci_lo"),
          (col("n_hat") + lit(1.96) * col("se")).as("ci_hi"),
          (col("census").cast("double") >=
            col("n_hat") - lit(1.96) * col("se") &&
            col("census").cast("double") <=
              col("n_hat") + lit(1.96) * col("se")).as("census_in_ci"))
    }),

    // PAGE'S TREND TEST — the ordered-alternative member of the
    // blocked-design family: where q148's Friedman asks "do the
    // size buckets differ within nation blocks at all?", Page asks
    // the directional question "do they INCREASE narrow → mid →
    // wide?" — buying power by spending it on the stated ordering,
    // exactly as q147's Jonckheere does for the unblocked q139.
    // L = Σ_j j·R_j over q148's own within-block ranks (exact
    // integers), E[L] = bk(k+1)²/4 and Var[L] = b(k³−k)²/(144(k−1))
    // from closed forms, one-sided z against 1.645. Perfect
    // concordance (q148's W = 1.0) makes L maximal: z = √(2b).
    // Scale shape: q148's exactly — one rollup to the nation×bucket
    // grid, one block-keyed rank window, 1 row out.
    "q168_page_trend" -> ((s, d) => {
      OrderRevenue.blockRankSums(s, d)
        .withColumn("page_l",
          col("r_narrow") + lit(2L) * col("r_mid") +
            lit(3L) * col("r_wide"))
        .withColumn("bd", col("n_blocks").cast("double"))
        // k=3: E[L] = 12b, Var[L] = b(k³−k)²/(144(k−1)) = 2b
        .withColumn("z",
          (col("page_l").cast("double") - lit(12.0) * col("bd")) /
            sqrt(lit(2.0) * col("bd")))
        .select(col("n_blocks"), col("r_narrow"), col("r_mid"),
          col("r_wide"), col("page_l"), col("z"),
          (col("z") > lit(1.645)).as("reject_95"))
    }),

    // BENJAMINI–HOCHBERG FDR — the multiple-comparisons control the
    // 25-nation test batteries need: q162 runs 25 Mann–Kendall tests
    // at 5%, so ~1.25 nations "reject" by pure chance (exactly 1 does,
    // at both gate SFs). BH at FDR 10% ranks the two-sided p-values
    // and keeps only ranks ≤ max{k : p_(k) ≤ k·q/m} — on this
    // stationary corpus that correctly suppresses the chance
    // rejection to ZERO discoveries (spec-pinned), which is the whole
    // point of the instrument. p-values come from |z| via the
    // Zelen–Severo normal-CDF polynomial (hardcoded literals, an
    // identical double sequence both engines — no erf dependency;
    // |err| < 7.5e-8, far below any BH threshold gap), then round
    // through DECIMAL(18,12) — the q159 stance — so a last-ulp libm
    // exp() divergence can neither break the hash nor flip a
    // decision (decisions compare the ROUNDED p). Scale shape: q162's
    // [[OrderRevenue.mannKendall]] pipeline, then three windows over
    // the 25-row test battery.
    "q167_bh_fdr" -> ((s, d) => {
      val z = OrderRevenue.mannKendall(s, d)
      // Zelen–Severo 26.2.17: 1 − Φ(x) ≈ φ(x)·(b1 t + … + b5 t⁵),
      // t = 1/(1 + 0.2316419 x), x = |z| — identical sequence both
      // engines; p two-sided = 2·(1 − Φ(|z|)), rounded to 12 dp
      val withP = z
        .withColumn("x", abs(col("z")))
        .withColumn("t", lit(1.0) / (lit(1.0) + lit(0.2316419) * col("x")))
        .withColumn("phi",
          lit(0.3989422804014327) * exp(lit(-0.5) * col("x") * col("x")))
        .withColumn("poly",
          ((((lit(1.330274429) * col("t") - lit(1.821255978)) * col("t") +
            lit(1.781477937)) * col("t") - lit(0.356563782)) * col("t") +
            lit(0.319381530)) * col("t"))
        .withColumn("p",
          least(lit(1.0), lit(2.0) * col("phi") * col("poly"))
            .cast(DecimalType(18, 12)).cast("double"))
      val wRank = Window.orderBy(col("p"), col("nation"))
      val wAll = Window.partitionBy(lit(1))
      withP
        .withColumn("rank", row_number().over(wRank).cast("long"))
        .withColumn("m", count(lit(1)).over(wAll))
        .withColumn("bh_threshold",
          col("rank").cast("double") * lit(0.10) / col("m").cast("double"))
        .withColumn("max_k",
          max(when(col("p") <= col("bh_threshold"), col("rank")))
            .over(wAll))
        .select(col("nation"), col("z"), col("p"), col("rank"),
          col("bh_threshold"),
          coalesce(col("rank") <= col("max_k"), lit(false))
            .as("reject_fdr10"),
          (col("p") <= lit(0.05)).as("naive_reject_95"))
        .orderBy(col("rank"))
    }),

    // QUANTILE-SKETCH ERROR PROFILE — the e07 stance ("the index is
    // measured, not just built") applied to q52's KMV quantile
    // sketch: per return flag, the 128-sample sketch's p50/p90
    // against the EXACT grid-rule percentiles, with absolute and
    // relative error surfaced. Closes the sketch family's audit loop
    // (q114 HLL and q129 CMS carry rel-err vs exact; q132 KMV
    // distinct joins its exact side) — a user picking a sketch size
    // reads THIS row set, not the sketch's theory. Both branches are
    // deterministic (portable md5 bottom-k sample; grid percentiles),
    // so the errors themselves are oracle-checked. Scale shape: two
    // passes over a 2-column projection of the fact table (sketch
    // agg + exact grid — the d22 method-comparison bucket, each pass
    // map-side combined), joined on the 3-row flag frame.
    "q161_sketch_error_profile" -> ((s, d) => {
      val cents = Tables.lineitem(s, d)
        .select(col("l_returnflag"),
          round(col("l_extendedprice") * 100, 0).cast("long").as("v"))
      val sk = cents
        .withColumn("h",
          graft.functions.HashFunctions.md5Hash60(col("v").cast("string")))
        .groupBy(col("l_returnflag"))
        .agg(graft.functions.QuantileSketchFunctions
          .quantileSketch(col("h"), col("v"), 128, Seq(0.5, 0.9))
          .as("qs"))
        .select(col("l_returnflag"),
          (col("qs")(0) / 100.0).as("est_p50"),
          (col("qs")(1) / 100.0).as("est_p90"))
      val wCum = Window.partitionBy(col("l_returnflag")).orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wTot = Window.partitionBy(col("l_returnflag"))
      val exact = cents
        .groupBy(col("l_returnflag"), col("v"))
        .agg(count(lit(1)).as("c"))
        .withColumn("cum", sum(col("c")).over(wCum))
        .withColumn("n", sum(col("c")).over(wTot))
        .groupBy(col("l_returnflag"))
        .agg(max(col("n")).as("n"),
          (min(when(lit(2L) * col("cum") >= col("n"), col("v")))
            .cast("double") / lit(100.0)).as("exact_p50"),
          (min(when(lit(10L) * col("cum") >= lit(9L) * col("n"),
            col("v"))).cast("double") / lit(100.0)).as("exact_p90"))
      sk.join(exact, "l_returnflag")
        .select(col("l_returnflag"), col("n"),
          col("est_p50"), col("exact_p50"),
          abs(col("est_p50") - col("exact_p50")).as("abs_err_p50"),
          (abs(col("est_p50") - col("exact_p50")) / col("exact_p50"))
            .as("rel_err_p50"),
          col("est_p90"), col("exact_p90"),
          abs(col("est_p90") - col("exact_p90")).as("abs_err_p90"),
          (abs(col("est_p90") - col("exact_p90")) / col("exact_p90"))
            .as("rel_err_p90"))
        .orderBy(col("l_returnflag"))
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

    // WALD–WOLFOWITZ RUNS TEST — is the weekly revenue series random
    // around its median, or does it cluster (trend/cycles give few
    // long runs; oscillation gives many short ones)? The distribution-
    // free randomness check that completes q156's serial-correlation
    // view: weeks above/below the grid-rule median (ties at the
    // median excluded, the standard treatment), runs counted with one
    // lag window in week order, and z = (R − E[R])/√Var from the
    // exact m/k counts — every input to the final two divisions and
    // one sqrt is an exact long, identical sequence both engines.
    // Scale shape: identical to q159 — aggregate-first onto the
    // calendar-bounded weekly frame, tiny single-partition windows.
    "q160_runs_test" -> ((s, d) => {
      val wk = OrderRevenue.weeklyRevenue(s, d)
      val wVal = Window.orderBy(col("y"))
      val wValTies = Window.partitionBy(col("y"))
      val wAll = Window.partitionBy(lit(1))
      val med = wk
        .withColumn("rk", rank().over(wVal))
        .withColumn("ties", count(lit(1)).over(wValTies))
        .withColumn("cum_le", col("rk") + col("ties") - 1L)
        .withColumn("n", count(lit(1)).over(wAll))
        .withColumn("median",
          min(when(lit(2L) * col("cum_le") >= col("n"), col("y")))
            .over(wAll))
      val signs = med
        .filter(col("y") =!= col("median"))
        .select(col("w"), (col("y") > col("median")).as("up"))
      val wSeq = Window.orderBy(col("w"))
      val runs = signs
        .withColumn("prev", lag(col("up"), 1).over(wSeq))
        .select(
          when(col("prev").isNull || col("prev") =!= col("up"), 1L)
            .otherwise(0L).as("boundary"),
          when(col("up"), 1L).otherwise(0L).as("is_up"))
        .agg(sum(col("boundary")).as("runs"),
          sum(col("is_up")).as("n_above"),
          (count(lit(1)) - sum(col("is_up"))).as("n_below"))
      runs
        .withColumn("m", col("n_above").cast("double"))
        .withColumn("k", col("n_below").cast("double"))
        .withColumn("expected_runs",
          lit(1.0) + lit(2.0) * col("m") * col("k") / (col("m") + col("k")))
        .withColumn("var_runs",
          lit(2.0) * col("m") * col("k") *
            (lit(2.0) * col("m") * col("k") - col("m") - col("k")) /
            ((col("m") + col("k")) * (col("m") + col("k")) *
              (col("m") + col("k") - lit(1.0))))
        .withColumn("z",
          (col("runs").cast("double") - col("expected_runs")) /
            sqrt(col("var_runs")))
        .select(col("n_above"), col("n_below"), col("runs"),
          col("expected_runs"), col("z"),
          (abs(col("z")) > lit(1.96)).as("reject_95"))
    }))

  def oracleSql: Map[String, String] = Map(
    "q154_mad_profile" ->
      s"""WITH ${OrderRevenue.nationValueGridSql},
        |  wm AS (SELECT nation, v, c,
        |    CAST(SUM(c) OVER (PARTITION BY nation ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cum,
        |    CAST(SUM(c) OVER (PARTITION BY nation) AS BIGINT) AS n
        |  FROM grid),
        |  md AS (SELECT nation, v, c, n,
        |    MIN(CASE WHEN 2 * cum >= n THEN v END)
        |      OVER (PARTITION BY nation) AS med
        |  FROM wm),
        |  dgrid AS (SELECT nation, abs(v - med) AS dev,
        |    CAST(SUM(c) AS BIGINT) AS c, MAX(n) AS n, MAX(med) AS med
        |  FROM md GROUP BY 1, 2),
        |  dm AS (SELECT nation, dev, c, n, med,
        |    CAST(SUM(c) OVER (PARTITION BY nation ORDER BY dev
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cumd
        |  FROM dgrid),
        |  mq AS (SELECT nation, dev, c, n, med,
        |    MIN(CASE WHEN 2 * cumd >= n THEN dev END)
        |      OVER (PARTITION BY nation) AS mad
        |  FROM dm),
        |  fin AS (SELECT nation, MAX(n) AS n, MAX(med) AS median,
        |    MAX(mad) AS mad,
        |    CAST(SUM(CASE WHEN dev * 10000 > 44478 * mad THEN c
        |      ELSE 0 END) AS BIGINT) AS n_out
        |  FROM mq GROUP BY 1)
        |SELECT nation, n, median, mad, n_out,
        |  CAST(n_out AS DOUBLE) / CAST(n AS DOUBLE) AS out_rate
        |FROM fin ORDER BY nation""".stripMargin,

    "q155_theil_sen" ->
      s"""WITH ${OrderRevenue.nationWeeklyRevenueSql},
        |  sl AS (SELECT a.nation,
        |    CAST(b.y - a.y AS DOUBLE) / CAST(b.w - a.w AS DOUBLE) AS slope
        |  FROM wk a JOIN wk b ON a.nation = b.nation AND a.w < b.w),
        |  sm AS (SELECT nation, slope,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY nation ORDER BY slope)
        |      AS BIGINT) AS rn,
        |    CAST(COUNT(1) OVER (PARTITION BY nation) AS BIGINT) AS np
        |  FROM sl),
        |  ts AS (SELECT nation, MAX(np) AS n_pairs,
        |    MIN(CASE WHEN 2 * rn >= np THEN slope END) AS ts_slope
        |  FROM sm GROUP BY 1),
        |  wc AS (SELECT nation, CAST(COUNT(1) AS BIGINT) AS n_weeks
        |    FROM wk GROUP BY 1)
        |SELECT t.nation, w.n_weeks, t.n_pairs, t.ts_slope
        |FROM ts t JOIN wc w ON t.nation = w.nation
        |ORDER BY t.nation""".stripMargin,

    "q156_acf_ljung_box" ->
      """WITH wk AS (SELECT
        |    datediff('day', DATE '1992-01-01', o.o_orderdate) // 7 AS w,
        |    CAST(CAST(SUM(CAST(round(l.l_extendedprice * 100) AS BIGINT))
        |      AS BIGINT) // 100 AS HUGEINT) AS x
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  GROUP BY 1),
        |  led AS (SELECT x,
        |    lead(x, 1) OVER (ORDER BY w) AS x1,
        |    lead(x, 2) OVER (ORDER BY w) AS x2,
        |    lead(x, 3) OVER (ORDER BY w) AS x3,
        |    lead(x, 4) OVER (ORDER BY w) AS x4,
        |    lead(x, 5) OVER (ORDER BY w) AS x5,
        |    lead(x, 6) OVER (ORDER BY w) AS x6
        |  FROM wk),
        |  ag AS (SELECT CAST(COUNT(1) AS HUGEINT) AS n,
        |    SUM(x) AS s1, SUM(x * x) AS s2,
        |    SUM(x * x1) AS p1,
        |    SUM(CASE WHEN x1 IS NOT NULL THEN x + x1 END) AS h1,
        |    SUM(x * x2) AS p2,
        |    SUM(CASE WHEN x2 IS NOT NULL THEN x + x2 END) AS h2,
        |    SUM(x * x3) AS p3,
        |    SUM(CASE WHEN x3 IS NOT NULL THEN x + x3 END) AS h3,
        |    SUM(x * x4) AS p4,
        |    SUM(CASE WHEN x4 IS NOT NULL THEN x + x4 END) AS h4,
        |    SUM(x * x5) AS p5,
        |    SUM(CASE WHEN x5 IS NOT NULL THEN x + x5 END) AS h5,
        |    SUM(x * x6) AS p6,
        |    SUM(CASE WHEN x6 IS NOT NULL THEN x + x6 END) AS h6
        |  FROM led),
        |  lg AS (
        |    SELECT n, s1, s2, 1 AS lag, p1 AS p, h1 AS h FROM ag
        |    UNION ALL SELECT n, s1, s2, 2, p2, h2 FROM ag
        |    UNION ALL SELECT n, s1, s2, 3, p3, h3 FROM ag
        |    UNION ALL SELECT n, s1, s2, 4, p4, h4 FROM ag
        |    UNION ALL SELECT n, s1, s2, 5, p5, h5 FROM ag
        |    UNION ALL SELECT n, s1, s2, 6, p6, h6 FROM ag),
        |  st AS (SELECT CAST(n AS BIGINT) AS n, lag,
        |    n * n * p - n * s1 * h + (n - lag) * s1 * s1 AS num,
        |    n * n * s2 - n * s1 * s1 AS den
        |  FROM lg),
        |  rr AS (SELECT n, lag,
        |    CAST(CAST(num AS VARCHAR) AS DOUBLE) /
        |      CAST(CAST(den AS VARCHAR) AS DOUBLE) AS acf
        |  FROM st),
        |  lb AS (SELECT n, lag, acf,
        |    CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 2.0) *
        |      SUM(acf * acf / (CAST(n AS DOUBLE) - CAST(lag AS DOUBLE)))
        |        OVER (ORDER BY lag
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS lb_q
        |  FROM rr)
        |SELECT lag, n, acf, lb_q,
        |  lb_q > CASE lag WHEN 1 THEN 3.8415 WHEN 2 THEN 5.9915
        |    WHEN 3 THEN 7.8147 WHEN 4 THEN 9.4877 WHEN 5 THEN 11.0705
        |    ELSE 12.5916 END AS reject_95
        |FROM lb ORDER BY lag""".stripMargin,

    "q157_benford_screen" ->
      """WITH dg AS (SELECT CAST(substr(CAST(CAST(round(
        |      l_extendedprice * 100) AS BIGINT) AS VARCHAR), 1, 1)
        |      AS INTEGER) AS digit,
        |    CAST(COUNT(1) AS BIGINT) AS obs
        |  FROM lineitem GROUP BY 1),
        |  wm AS (SELECT digit, obs,
        |    CAST(SUM(obs) OVER () AS BIGINT) AS n,
        |    CASE digit
        |      WHEN 1 THEN 0.3010299956639812
        |      WHEN 2 THEN 0.17609125905568124
        |      WHEN 3 THEN 0.12493873660829992
        |      WHEN 4 THEN 0.09691001300805642
        |      WHEN 5 THEN 0.07918124604762482
        |      WHEN 6 THEN 0.06694678963061322
        |      WHEN 7 THEN 0.05799194697768673
        |      WHEN 8 THEN 0.05115252244738129
        |      ELSE 0.04575749056067514 END AS benford_p
        |  FROM dg),
        |  ex AS (SELECT digit, obs, n, benford_p,
        |    CAST(n AS DOUBLE) * benford_p AS expected
        |  FROM wm),
        |  cp AS (SELECT digit, obs, n, benford_p, expected,
        |    (CAST(obs AS DOUBLE) - expected) *
        |      (CAST(obs AS DOUBLE) - expected) / expected AS chi_part
        |  FROM ex),
        |  tot AS (SELECT digit, obs, benford_p, expected, chi_part,
        |    CAST(CAST(SUM(CAST(chi_part AS DECIMAL(38,15))) OVER ()
        |      AS VARCHAR) AS DOUBLE) AS chi2
        |  FROM cp)
        |SELECT digit, obs, benford_p, expected, chi_part, chi2,
        |  chi2 > 15.5073 AS reject_95
        |FROM tot ORDER BY digit""".stripMargin,

    "q158_jsd_brand_mix" ->
      """WITH bx AS (SELECT r.r_name AS region, p.p_brand AS brand,
        |    CAST(COUNT(1) AS BIGINT) AS c
        |  FROM lineitem l
        |  JOIN part p ON l.l_partkey = p.p_partkey
        |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |  JOIN nation n ON s.s_nationkey = n.n_nationkey
        |  JOIN region r ON n.n_regionkey = r.r_regionkey
        |  GROUP BY 1, 2),
        |  pr AS (SELECT region, brand,
        |    CAST(c AS DOUBLE) /
        |      CAST(SUM(c) OVER (PARTITION BY region) AS DOUBLE) AS p
        |  FROM bx),
        |  pairs AS (SELECT a.region AS region_a, b.region AS region_b,
        |    a.p AS p, b.p AS q, (a.p + b.p) / 2.0 AS m
        |  FROM pr a JOIN pr b
        |    ON a.brand = b.brand AND a.region < b.region),
        |  terms AS (SELECT region_a, region_b,
        |    (CASE WHEN p > 0 THEN p * ln(p / m) / 2.0 ELSE 0.0 END) +
        |    (CASE WHEN q > 0 THEN q * ln(q / m) / 2.0 ELSE 0.0 END)
        |      AS term
        |  FROM pairs),
        |  agg AS (SELECT region_a, region_b,
        |    CAST(COUNT(1) AS BIGINT) AS n_brands,
        |    CAST(SUM(CAST(term AS DECIMAL(38,15))) AS DOUBLE) AS jsd_nats
        |  FROM terms GROUP BY 1, 2)
        |SELECT region_a, region_b, n_brands, jsd_nats,
        |  jsd_nats / 0.6931471805599453 AS jsd_bits
        |FROM agg ORDER BY region_a, region_b""".stripMargin,

    "q159_pettitt_changepoint" ->
      s"""WITH ${OrderRevenue.weeklyRevenueSql},
        |  rk AS (SELECT w,
        |    CAST(RANK() OVER (ORDER BY y) AS BIGINT) AS rk,
        |    CAST(COUNT(1) OVER (PARTITION BY y) AS BIGINT) AS ties
        |  FROM wk),
        |  r2 AS (SELECT w, 2 * (rk - 1) + ties + 1 AS r2 FROM rk),
        |  st AS (SELECT w,
        |    CAST(ROW_NUMBER() OVER (ORDER BY w) AS BIGINT) AS t,
        |    CAST(SUM(r2) OVER (ORDER BY w
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS s2,
        |    CAST(COUNT(1) OVER () AS BIGINT) AS n
        |  FROM r2),
        |  au AS (SELECT w, n,
        |    CASE WHEN t < n THEN abs(s2 - t * (n + 1)) ELSE 0 END AS abs_u
        |  FROM st),
        |  kk AS (SELECT w, n, abs_u,
        |    CAST(MAX(abs_u) OVER () AS BIGINT) AS k_stat FROM au),
        |  fin AS (SELECT k_stat, MAX(n) AS n,
        |    MIN(CASE WHEN abs_u = k_stat THEN w END) AS cp_week
        |  FROM kk GROUP BY 1),
        |  lp AS (SELECT n, k_stat, cp_week,
        |    -6.0 * CAST(k_stat AS DOUBLE) * CAST(k_stat AS DOUBLE) /
        |      CAST(n * n * n + n * n AS DOUBLE) AS log_p_term
        |  FROM fin)
        |SELECT n, k_stat, cp_week, log_p_term,
        |  CAST(CAST(least(1.0, 2.0 * exp(log_p_term)) AS DECIMAL(18,12))
        |    AS DOUBLE) AS p_approx,
        |  log_p_term < -3.6888794541139363 AS reject_95
        |FROM lp""".stripMargin,

    "q166_welch_anova" ->
      s"""WITH ${OrderRevenue.orderSizeBucketsSql},
        |  g0 AS (SELECT grp, CAST(COUNT(1) AS BIGINT) AS n_g,
        |    CAST(SUM(value) AS BIGINT) AS sx,
        |    CAST(SUM(value * value) AS BIGINT) AS sxx
        |  FROM s GROUP BY 1),
        |  g AS (SELECT grp, n_g, CAST(n_g AS DOUBLE) AS nd,
        |    CAST(sx AS DOUBLE) / CAST(n_g AS DOUBLE) AS mean_g,
        |    (CAST(sxx AS DOUBLE) -
        |      CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) /
        |        CAST(n_g AS DOUBLE)) / (CAST(n_g AS DOUBLE) - 1.0)
        |      AS var_g
        |  FROM g0),
        |  g2 AS (SELECT grp, n_g, nd, mean_g, nd / var_g AS w_g FROM g),
        |  agg AS (SELECT CAST(SUM(n_g) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN grp = 'narrow' THEN n_g END) AS BIGINT)
        |      AS na,
        |    CAST(SUM(CASE WHEN grp = 'mid' THEN n_g END) AS BIGINT) AS nb,
        |    CAST(SUM(CASE WHEN grp = 'wide' THEN n_g END) AS BIGINT)
        |      AS nc,
        |    SUM(CASE WHEN grp = 'narrow' THEN w_g END) AS wa,
        |    SUM(CASE WHEN grp = 'mid' THEN w_g END) AS wb,
        |    SUM(CASE WHEN grp = 'wide' THEN w_g END) AS wc,
        |    SUM(CASE WHEN grp = 'narrow' THEN mean_g END) AS ma,
        |    SUM(CASE WHEN grp = 'mid' THEN mean_g END) AS mb,
        |    SUM(CASE WHEN grp = 'wide' THEN mean_g END) AS mc,
        |    SUM(CASE WHEN grp = 'narrow' THEN nd END) AS nda,
        |    SUM(CASE WHEN grp = 'mid' THEN nd END) AS ndb,
        |    SUM(CASE WHEN grp = 'wide' THEN nd END) AS ndc
        |  FROM g2),
        |  w1 AS (SELECT *, wa + wb + wc AS wsum FROM agg),
        |  w2 AS (SELECT *,
        |    (wa * ma + wb * mb + wc * mc) / wsum AS xw FROM w1),
        |  w3 AS (SELECT *,
        |    (wa * (ma - xw) * (ma - xw) + wb * (mb - xw) * (mb - xw) +
        |     wc * (mc - xw) * (mc - xw)) / 2.0 AS num,
        |    ((1.0 - wa / wsum) * (1.0 - wa / wsum) / (nda - 1.0) +
        |     (1.0 - wb / wsum) * (1.0 - wb / wsum) / (ndb - 1.0) +
        |     (1.0 - wc / wsum) * (1.0 - wc / wsum) / (ndc - 1.0)) AS lam
        |  FROM w2)
        |SELECT na, nb, nc, n,
        |  num / (1.0 + 0.25 * lam) AS f_welch,
        |  8.0 / (3.0 * lam) AS df2,
        |  num / (1.0 + 0.25 * lam) > 2.9957 AS reject_95
        |FROM w3""".stripMargin,

    "q165_brown_forsythe" ->
      s"""WITH ${OrderRevenue.orderSizeBucketsSql},
        |  grid AS (SELECT grp, value, CAST(COUNT(1) AS BIGINT) AS c
        |    FROM s GROUP BY 1, 2),
        |  wm AS (SELECT grp, value, c,
        |    CAST(SUM(c) OVER (PARTITION BY grp ORDER BY value
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cum,
        |    CAST(SUM(c) OVER (PARTITION BY grp) AS BIGINT) AS ng
        |  FROM grid),
        |  md AS (SELECT grp, value, c,
        |    MIN(CASE WHEN 2 * cum >= ng THEN value END)
        |      OVER (PARTITION BY grp) AS med
        |  FROM wm),
        |  dv AS (SELECT grp, abs(value - med) AS z, c, med FROM md),
        |  g AS (SELECT grp, CAST(SUM(c) AS BIGINT) AS n_g,
        |    CAST(SUM(z * c) AS BIGINT) AS sx,
        |    CAST(SUM(z * z * c) AS BIGINT) AS sxx,
        |    MAX(med) AS med_g
        |  FROM dv GROUP BY 1),
        |  agg AS (SELECT CAST(SUM(n_g) AS BIGINT) AS n,
        |    CAST(SUM(sx) AS BIGINT) AS sx_all,
        |    CAST(SUM(sxx) AS BIGINT) AS sxx_all,
        |    CAST(SUM(CASE WHEN grp = 'narrow' THEN n_g END) AS BIGINT)
        |      AS na,
        |    CAST(SUM(CASE WHEN grp = 'mid' THEN n_g END) AS BIGINT) AS nb,
        |    CAST(SUM(CASE WHEN grp = 'wide' THEN n_g END) AS BIGINT) AS nc,
        |    CAST(SUM(CASE WHEN grp = 'narrow' THEN sx END) AS BIGINT)
        |      AS sa,
        |    CAST(SUM(CASE WHEN grp = 'mid' THEN sx END) AS BIGINT) AS sb,
        |    CAST(SUM(CASE WHEN grp = 'wide' THEN sx END) AS BIGINT) AS sc,
        |    CAST(SUM(CASE WHEN grp = 'narrow' THEN med_g END) AS BIGINT)
        |      AS med_a,
        |    CAST(SUM(CASE WHEN grp = 'mid' THEN med_g END) AS BIGINT)
        |      AS med_b,
        |    CAST(SUM(CASE WHEN grp = 'wide' THEN med_g END) AS BIGINT)
        |      AS med_c
        |  FROM g),
        |  st AS (SELECT *, CAST(n AS DOUBLE) AS nd,
        |    CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE) / CAST(na AS DOUBLE) +
        |    CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE) +
        |    CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE) / CAST(nc AS DOUBLE)
        |      AS gsum
        |  FROM agg),
        |  fin AS (SELECT na, nb, nc, n, med_a, med_b, med_c,
        |    gsum - CAST(sx_all AS DOUBLE) * CAST(sx_all AS DOUBLE) / nd
        |      AS ssb,
        |    CAST(sxx_all AS DOUBLE) - gsum AS ssw, nd
        |  FROM st)
        |SELECT na, nb, nc, n, med_a, med_b, med_c, ssb, ssw,
        |  ssb / 2.0 / (ssw / (nd - 3.0)) AS f_stat,
        |  ssb / 2.0 / (ssw / (nd - 3.0)) > 2.9957 AS reject_95
        |FROM fin""".stripMargin,

    "q164_poisson_bootstrap" ->
      s"""WITH ${OrderRevenue.poissonReplicatesSql},
        |  rm AS (SELECT b, CAST(SUM(w) AS BIGINT) AS n_eff,
        |    CAST(SUM(w * v) AS BIGINT) AS swv
        |  FROM ww GROUP BY 1),
        |  mb AS (SELECT b,
        |    CAST(swv AS DOUBLE) / CAST(n_eff AS DOUBLE) AS mean_b
        |  FROM rm),
        |  ex AS (SELECT CAST(COUNT(1) AS BIGINT) AS n,
        |    CAST(SUM(v) AS BIGINT) AS sv FROM per),
        |  ex2 AS (SELECT n,
        |    CAST(sv AS DOUBLE) / CAST(n AS DOUBLE) AS mean_exact FROM ex),
        |  cm AS (SELECT mean_b,
        |    CAST(ROW_NUMBER() OVER (ORDER BY mean_b) AS BIGINT) AS cum
        |  FROM mb),
        |  ci AS (SELECT
        |    MIN(CASE WHEN 20 * cum >= 32 THEN mean_b END) AS ci_lo_90,
        |    MIN(CASE WHEN 20 * cum >= 608 THEN mean_b END) AS ci_hi_90
        |  FROM cm),
        |  sq AS (SELECT CAST(SUM(CAST(
        |      (m.mean_b - e.mean_exact) * (m.mean_b - e.mean_exact)
        |      AS DECIMAL(38,15))) AS DOUBLE) AS ssq,
        |    CAST(COUNT(1) AS BIGINT) AS b_reps
        |  FROM mb m CROSS JOIN ex2 e)
        |SELECT e.n, e.mean_exact, s.b_reps, c.ci_lo_90, c.ci_hi_90,
        |  sqrt(s.ssq / 32.0) AS boot_rmse
        |FROM ex2 e CROSS JOIN ci c CROSS JOIN sq s""".stripMargin,

    "q163_dunn_posthoc" ->
      s"""WITH ${OrderRevenue.midrankSumsSql},
        |  nn AS (SELECT *, na + nb + nc AS n FROM agg),
        |  pairs AS (
        |    SELECT n, tie3, 'narrow' AS grp_i, 'mid' AS grp_j,
        |      na AS n_i, nb AS n_j, ra2 AS r2i, rb2 AS r2j FROM nn
        |    UNION ALL SELECT n, tie3, 'narrow', 'wide',
        |      na, nc, ra2, rc2 FROM nn
        |    UNION ALL SELECT n, tie3, 'mid', 'wide',
        |      nb, nc, rb2, rc2 FROM nn),
        |  mz AS (SELECT grp_i, grp_j, n_i, n_j,
        |    CAST(r2i AS DOUBLE) / (2.0 * CAST(n_i AS DOUBLE))
        |      AS mean_rank_i,
        |    CAST(r2j AS DOUBLE) / (2.0 * CAST(n_j AS DOUBLE))
        |      AS mean_rank_j,
        |    sqrt((CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0) / 12.0 -
        |      CAST(tie3 AS DOUBLE) / (12.0 * (CAST(n AS DOUBLE) - 1.0)))
        |      * (1.0 / CAST(n_i AS DOUBLE) + 1.0 / CAST(n_j AS DOUBLE)))
        |      AS se
        |  FROM pairs)
        |SELECT grp_i, grp_j, n_i, n_j, mean_rank_i, mean_rank_j,
        |  (mean_rank_i - mean_rank_j) / se AS z,
        |  abs((mean_rank_i - mean_rank_j) / se) > 2.3939797998185073
        |    AS reject_bonf
        |FROM mz ORDER BY grp_i, grp_j""".stripMargin,

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

    "q162_mann_kendall" ->
      s"""WITH ${OrderRevenue.mannKendallSql},
        |  ti AS (SELECT nation, CAST(COUNT(1) AS BIGINT) AS n_values,
        |    CAST(SUM(c) AS BIGINT) AS n_weeks,
        |    CAST(SUM(c * (c - 1) * (2 * c + 5)) AS BIGINT) AS tie_term
        |  FROM tg GROUP BY 1),
        |  vv AS (SELECT s.nation, t.n_weeks, s.s_stat,
        |    CAST(t.n_weeks * (t.n_weeks - 1) * (2 * t.n_weeks + 5)
        |      - t.tie_term AS DOUBLE) / 18.0 AS var_s
        |  FROM sa s JOIN ti t ON s.nation = t.nation)
        |SELECT nation, n_weeks, s_stat, var_s,
        |  CASE WHEN s_stat > 0
        |      THEN CAST(s_stat - 1 AS DOUBLE) / sqrt(var_s)
        |    WHEN s_stat < 0
        |      THEN CAST(s_stat + 1 AS DOUBLE) / sqrt(var_s)
        |    ELSE 0.0 END AS z,
        |  abs(CASE WHEN s_stat > 0
        |      THEN CAST(s_stat - 1 AS DOUBLE) / sqrt(var_s)
        |    WHEN s_stat < 0
        |      THEN CAST(s_stat + 1 AS DOUBLE) / sqrt(var_s)
        |    ELSE 0.0 END) > 1.96 AS reject_95
        |FROM vv ORDER BY nation""".stripMargin,

    "q170_bootstrap_median_ci" ->
      s"""WITH ${OrderRevenue.poissonReplicatesSql},
        |  bg AS (SELECT b, v, CAST(SUM(w) AS BIGINT) AS wc
        |    FROM ww GROUP BY 1, 2),
        |  bc AS (SELECT b, v,
        |    CAST(SUM(wc) OVER (PARTITION BY b ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cum,
        |    CAST(SUM(wc) OVER (PARTITION BY b) AS BIGINT) AS nb
        |  FROM bg),
        |  mb AS (SELECT b,
        |    MIN(CASE WHEN 2 * cum >= nb THEN v END) AS med_b
        |  FROM bc GROUP BY 1),
        |  mc AS (SELECT med_b,
        |    CAST(ROW_NUMBER() OVER (ORDER BY med_b) AS BIGINT) AS cum
        |  FROM mb),
        |  boot AS (SELECT
        |    MIN(CASE WHEN 20 * cum >= 32 THEN med_b END) AS ci_lo_boot,
        |    MIN(CASE WHEN 20 * cum >= 608 THEN med_b END) AS ci_hi_boot
        |  FROM mc),
        |  grid AS (SELECT v, CAST(COUNT(1) AS BIGINT) AS c
        |    FROM per GROUP BY 1),
        |  cm AS (SELECT v,
        |    CAST(SUM(c) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cum,
        |    CAST(SUM(c) OVER () AS BIGINT) AS n
        |  FROM grid),
        |  ks AS (SELECT v, cum, n, CAST(n AS DOUBLE) AS nd,
        |    CAST(FLOOR((CAST(n AS DOUBLE) - 1.96 * sqrt(CAST(n AS
        |      DOUBLE))) / 2.0) AS BIGINT) AS k_lo,
        |    CAST(CEIL(1.0 + (CAST(n AS DOUBLE) + 1.96 * sqrt(CAST(n AS
        |      DOUBLE))) / 2.0) AS BIGINT) AS k_hi
        |  FROM cm),
        |  ex AS (SELECT MAX(n) AS n,
        |    MIN(CASE WHEN 2 * cum >= n THEN v END) AS median,
        |    MIN(CASE WHEN cum >= k_lo THEN v END) AS ci_lo_os,
        |    MIN(CASE WHEN cum >= k_hi THEN v END) AS ci_hi_os
        |  FROM ks)
        |SELECT e.n, e.median, e.ci_lo_os, e.ci_hi_os,
        |  bt.ci_lo_boot, bt.ci_hi_boot
        |FROM ex e CROSS JOIN boot bt""".stripMargin,

    "q169_capture_recapture" ->
      """WITH caps AS (SELECT o_custkey,
        |    CAST(MAX(CASE WHEN year(o_orderdate) = 1995 THEN 1
        |      ELSE 0 END) AS BIGINT) AS s1,
        |    CAST(MAX(CASE WHEN year(o_orderdate) = 2000 THEN 1
        |      ELSE 0 END) AS BIGINT) AS s2
        |  FROM orders GROUP BY 1),
        |  agg AS (SELECT CAST(COUNT(1) AS BIGINT) AS census,
        |    CAST(SUM(s1) AS BIGINT) AS n1,
        |    CAST(SUM(s2) AS BIGINT) AS n2,
        |    CAST(SUM(s1 * s2) AS BIGINT) AS m
        |  FROM caps),
        |  est AS (SELECT *,
        |    CAST(n1 + 1 AS DOUBLE) * CAST(n2 + 1 AS DOUBLE)
        |      / CAST(m + 1 AS DOUBLE) - 1.0 AS n_hat,
        |    sqrt(CAST(n1 + 1 AS DOUBLE) * CAST(n2 + 1 AS DOUBLE)
        |      * CAST(n1 - m AS DOUBLE) * CAST(n2 - m AS DOUBLE) /
        |      (CAST(m + 1 AS DOUBLE) * CAST(m + 1 AS DOUBLE)
        |        * CAST(m + 2 AS DOUBLE))) AS se
        |  FROM agg)
        |SELECT n1, n2, m, census, n_hat, se,
        |  n_hat - 1.96 * se AS ci_lo,
        |  n_hat + 1.96 * se AS ci_hi,
        |  CAST(census AS DOUBLE) >= n_hat - 1.96 * se AND
        |    CAST(census AS DOUBLE) <= n_hat + 1.96 * se AS census_in_ci
        |FROM est""".stripMargin,

    "q168_page_trend" ->
      s"""WITH ${OrderRevenue.blockRankSumsSql},
        |  st AS (SELECT n_blocks, r_narrow, r_mid, r_wide,
        |    r_narrow + 2 * r_mid + 3 * r_wide AS page_l,
        |    CAST(n_blocks AS DOUBLE) AS bd
        |  FROM agg)
        |SELECT n_blocks, r_narrow, r_mid, r_wide, page_l,
        |  (CAST(page_l AS DOUBLE) - 12.0 * bd) / sqrt(2.0 * bd) AS z,
        |  (CAST(page_l AS DOUBLE) - 12.0 * bd) / sqrt(2.0 * bd) > 1.645
        |    AS reject_95
        |FROM st""".stripMargin,

    "q167_bh_fdr" ->
      s"""WITH ${OrderRevenue.mannKendallSql},
        |  ti AS (SELECT nation, CAST(SUM(c) AS BIGINT) AS n_weeks,
        |    CAST(SUM(c * (c - 1) * (2 * c + 5)) AS BIGINT) AS tie_term
        |  FROM tg GROUP BY 1),
        |  vv AS (SELECT s.nation, s.s_stat,
        |    CAST(t.n_weeks * (t.n_weeks - 1) * (2 * t.n_weeks + 5)
        |      - t.tie_term AS DOUBLE) / 18.0 AS var_s
        |  FROM sa s JOIN ti t ON s.nation = t.nation),
        |  zz AS (SELECT nation,
        |    CASE WHEN s_stat > 0
        |        THEN CAST(s_stat - 1 AS DOUBLE) / sqrt(var_s)
        |      WHEN s_stat < 0
        |        THEN CAST(s_stat + 1 AS DOUBLE) / sqrt(var_s)
        |      ELSE 0.0 END AS z
        |  FROM vv),
        |  px AS (SELECT nation, z, abs(z) AS x,
        |    1.0 / (1.0 + 0.2316419 * abs(z)) AS t,
        |    0.3989422804014327 * exp(-0.5 * abs(z) * abs(z)) AS phi
        |  FROM zz),
        |  pp AS (SELECT nation, z,
        |    CAST(CAST(least(1.0, 2.0 * phi *
        |      (((((1.330274429 * t - 1.821255978) * t +
        |        1.781477937) * t - 0.356563782) * t +
        |        0.319381530) * t)) AS DECIMAL(18,12)) AS DOUBLE) AS p
        |  FROM px),
        |  rk AS (SELECT nation, z, p,
        |    CAST(ROW_NUMBER() OVER (ORDER BY p, nation) AS BIGINT)
        |      AS rank,
        |    CAST(COUNT(1) OVER () AS BIGINT) AS m
        |  FROM pp),
        |  th AS (SELECT nation, z, p, rank,
        |    CAST(rank AS DOUBLE) * 0.10 / CAST(m AS DOUBLE)
        |      AS bh_threshold
        |  FROM rk),
        |  mk AS (SELECT *,
        |    MAX(CASE WHEN p <= bh_threshold THEN rank END) OVER ()
        |      AS max_k
        |  FROM th)
        |SELECT nation, z, p, rank, bh_threshold,
        |  COALESCE(rank <= max_k, false) AS reject_fdr10,
        |  p <= 0.05 AS naive_reject_95
        |FROM mk ORDER BY rank""".stripMargin,

    "q161_sketch_error_profile" ->
      s"""WITH cents AS (SELECT l_returnflag,
        |    CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT) AS v
        |  FROM lineitem),
        |  hv AS (SELECT DISTINCT l_returnflag,
        |    ${md5Hash60Sql("CAST(v AS VARCHAR)")} AS h, v
        |  FROM cents),
        |  samp AS (SELECT l_returnflag, v,
        |    ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY h, v)
        |      AS rn
        |  FROM hv),
        |  kept AS (SELECT l_returnflag, v,
        |    ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY v) - 1
        |      AS idx,
        |    COUNT(*) OVER (PARTITION BY l_returnflag) AS n
        |  FROM samp WHERE rn <= 128),
        |  qp AS (SELECT UNNEST(CAST([0.5, 0.9] AS DOUBLE[])) AS p,
        |    UNNEST([1, 2]) AS qi),
        |  pts AS (SELECT k.l_returnflag, q.qi,
        |    MAX(q.p * (k.n - 1)) AS r,
        |    MAX(CASE WHEN k.idx = CAST(FLOOR(q.p * (k.n - 1)) AS BIGINT)
        |      THEN k.v END) AS vlo,
        |    MAX(CASE WHEN k.idx = CAST(CEIL(q.p * (k.n - 1)) AS BIGINT)
        |      THEN k.v END) AS vhi
        |  FROM kept k CROSS JOIN qp q
        |  GROUP BY k.l_returnflag, q.qi),
        |  ev AS (SELECT l_returnflag, qi,
        |    (CAST(vlo AS DOUBLE) +
        |      (r - FLOOR(r)) * CAST(vhi - vlo AS DOUBLE)) / 100.0 AS e
        |  FROM pts),
        |  est AS (SELECT l_returnflag,
        |    MAX(CASE WHEN qi = 1 THEN e END) AS est_p50,
        |    MAX(CASE WHEN qi = 2 THEN e END) AS est_p90
        |  FROM ev GROUP BY 1),
        |  grid AS (SELECT l_returnflag, v, CAST(COUNT(1) AS BIGINT) AS c
        |    FROM cents GROUP BY 1, 2),
        |  cm AS (SELECT l_returnflag, v,
        |    CAST(SUM(c) OVER (PARTITION BY l_returnflag ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cum,
        |    CAST(SUM(c) OVER (PARTITION BY l_returnflag) AS BIGINT) AS n
        |  FROM grid),
        |  ex AS (SELECT l_returnflag, MAX(n) AS n,
        |    CAST(MIN(CASE WHEN 2 * cum >= n THEN v END) AS DOUBLE)
        |      / 100.0 AS exact_p50,
        |    CAST(MIN(CASE WHEN 10 * cum >= 9 * n THEN v END) AS DOUBLE)
        |      / 100.0 AS exact_p90
        |  FROM cm GROUP BY 1)
        |SELECT e.l_returnflag, x.n,
        |  e.est_p50, x.exact_p50,
        |  abs(e.est_p50 - x.exact_p50) AS abs_err_p50,
        |  abs(e.est_p50 - x.exact_p50) / x.exact_p50 AS rel_err_p50,
        |  e.est_p90, x.exact_p90,
        |  abs(e.est_p90 - x.exact_p90) AS abs_err_p90,
        |  abs(e.est_p90 - x.exact_p90) / x.exact_p90 AS rel_err_p90
        |FROM est e JOIN ex x USING (l_returnflag)
        |ORDER BY l_returnflag""".stripMargin,

    "q160_runs_test" ->
      s"""WITH ${OrderRevenue.weeklyRevenueSql},
        |  md AS (SELECT w, y,
        |    CAST(RANK() OVER (ORDER BY y) AS BIGINT) +
        |      CAST(COUNT(1) OVER (PARTITION BY y) AS BIGINT) - 1
        |      AS cum_le,
        |    CAST(COUNT(1) OVER () AS BIGINT) AS n
        |  FROM wk),
        |  m2 AS (SELECT w, y,
        |    MIN(CASE WHEN 2 * cum_le >= n THEN y END) OVER () AS median
        |  FROM md),
        |  sg AS (SELECT w, (y > median) AS up FROM m2 WHERE y <> median),
        |  bd AS (SELECT
        |    CASE WHEN lag(up) OVER (ORDER BY w) IS NULL
        |      OR lag(up) OVER (ORDER BY w) <> up THEN 1 ELSE 0 END
        |      AS boundary,
        |    CASE WHEN up THEN 1 ELSE 0 END AS is_up
        |  FROM sg),
        |  ag AS (SELECT CAST(SUM(boundary) AS BIGINT) AS runs,
        |    CAST(SUM(is_up) AS BIGINT) AS n_above,
        |    CAST(COUNT(1) - SUM(is_up) AS BIGINT) AS n_below
        |  FROM bd),
        |  dd AS (SELECT runs, n_above, n_below,
        |    CAST(n_above AS DOUBLE) AS m, CAST(n_below AS DOUBLE) AS k
        |  FROM ag),
        |  ee AS (SELECT runs, n_above, n_below, m, k,
        |    1.0 + 2.0 * m * k / (m + k) AS expected_runs,
        |    2.0 * m * k * (2.0 * m * k - m - k) /
        |      ((m + k) * (m + k) * (m + k - 1.0)) AS var_runs
        |  FROM dd)
        |SELECT n_above, n_below, runs, expected_runs,
        |  (CAST(runs AS DOUBLE) - expected_runs) / sqrt(var_runs) AS z,
        |  abs((CAST(runs AS DOUBLE) - expected_runs) / sqrt(var_runs))
        |    > 1.96 AS reject_95
        |FROM ee""".stripMargin)
}
