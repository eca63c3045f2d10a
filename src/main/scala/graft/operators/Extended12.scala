package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Parity, Tables}

/** Twelfth analytics batch: k-sample hypothesis tests — the
  * generalization of q134's two-sample Mann–Whitney to the k-group
  * question "do these populations share a location at all?", asked both
  * nonparametrically (Kruskal–Wallis H on exact 2× midranks) and
  * parametrically (one-way ANOVA F on exact integer moments). Both run
  * on the same contrast (per-order revenue across order-size buckets
  * narrow ≤2 / mid 3–5 / wide ≥6 items — a split that demonstrably
  * separates on this corpus, per the q108 attainability rule), so the
  * pair doubles as a rank-vs-moment agreement check a practitioner
  * would actually run. Completed by Kendall tau-b (exact concordance
  * over a dominance grid — the O(n²) pair count re-expressed as class-
  * conditional running counters) and Good–Turing frequency smoothing
  * (the count-of-counts unseen-mass estimator closing the t13/t22/t29
  * vocabulary-statistics family). Same contract as Extended5–11: declarative
  * plans, exact integer carriers until the final double projections
  * (identical operation sequence on both engines, ties kept exact via
  * the 2·below + t + 1 midrank carrier, grouped/windowed BIGINT sums
  * CAST in the oracle against DuckDB's HUGEINT widening), a scale note
  * per entry. The reference delegates all of this to user code behind
  * its event processor (`/root/reference/README.md:246-293`).
  */
object Extended12 {

  /** Kruskal–Wallis H as a library surface over (value: Long,
    * grp: String) rows for an ordered group list (2 ≤ k ≤ 26; groups
    * are suffixed a, b, c, … in the output columns `n_a`…, matching
    * q139's na/nb/nc for k = 3). Same exact-carrier plan q139
    * documents: 2× midranks on the distinct-value grid, one
    * cumulative window, H and the tie correction division-exact.
    * Property-checked against a brute-force midrank model on random
    * data in Round7fPropertySpec.
    */
  private[graft] def kruskalWallisH(rows: DataFrame,
      groups: Seq[String]): DataFrame = {
    val sfx = groups.indices.map(i => ('a' + i).toChar.toString)
    val sums = sfx.map(x => sum(col(s"c$x")).as(s"n_$x")) ++
      sfx.map(x => sum(col(s"c$x") * col("r2")).as(s"r2_$x")) :+
      sum(col("t") * col("t") * col("t") - col("t")).as("tie3")
    OrderRevenue.midrankGrid(rows, groups)
      .agg(sums.head, sums.tail: _*)
      .withColumn("n", sfx.map(x => col(s"n_$x")).reduce(_ + _))
      .withColumn("nd", col("n").cast("double"))
      .withColumn("hsum", sfx.map(x =>
        col(s"r2_$x").cast("double") * col(s"r2_$x").cast("double") /
          col(s"n_$x").cast("double")).reduce(_ + _))
      .withColumn("h_raw",
        lit(3.0) * col("hsum") / col("nd") / (col("nd") + lit(1.0)) -
          lit(3.0) * (col("nd") + lit(1.0)))
      .withColumn("tie_corr",
        lit(1.0) - col("tie3").cast("double") /
          (col("nd") * col("nd") * col("nd") - col("nd")))
      // every pooled value identical => the correction is 0 and H is
      // undefined — NULL, not an ANSI divide error
      .withColumn("h_stat",
        when(col("tie_corr") > 0.0, col("h_raw") / col("tie_corr")))
  }

  /** Kendall tau-b as a library surface over (nation: partition key,
    * x: Long, y: Long in 1..yClasses) rows — the q141 dominance-grid
    * plan: exact concordant/discordant counts from one keyed
    * cumulative window carrying `yClasses` class counters, tie terms
    * exact, one IEEE sqrt. Property-checked against a brute-force
    * O(n²) pair count on random data in Round7fPropertySpec.
    */
  private[graft] def kendallTauB(pts: DataFrame,
      yClasses: Int): DataFrame = {
    require(yClasses >= 2 && yClasses <= 20, "2..20 y classes")
    val js = 1 to yClasses
    val cells = pts.groupBy(col("nation"), col("x"))
      .agg(js.map(j =>
          sum(when(col("y") === j, 1L).otherwise(0L)).as(s"c$j")).head,
        js.map(j =>
          sum(when(col("y") === j, 1L).otherwise(0L)).as(s"c$j")).tail :+
          count(lit(1)).as("tx"): _*)
    val w = Window.partitionBy(col("nation")).orderBy(col("x"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val withB = js.foldLeft(cells) { (df, j) =>
      df.withColumn(s"b$j",
        coalesce(sum(col(s"c$j")).over(w), lit(0L)))
    }
    val conc = (2 to yClasses).map { j =>
      col(s"c$j") * (1 until j).map(k => col(s"b$k")).reduce(_ + _)
    }.reduce(_ + _)
    val disc = (1 until yClasses).map { j =>
      col(s"c$j") * ((j + 1) to yClasses).map(k => col(s"b$k"))
        .reduce(_ + _)
    }.reduce(_ + _)
    val perNation = withB
      .withColumn("conc", conc)
      .withColumn("disc", disc)
      .groupBy(col("nation"))
      .agg(sum(col("tx")).as("n"),
        Seq(sum(col("conc")).as("c_pairs"),
          sum(col("disc")).as("d_pairs"),
          sum(col("tx") * (col("tx") - 1L)).as("tiex2")) ++
          js.map(j => sum(col(s"c$j")).as(s"ny$j")): _*)
    val tiey2 = js.map(j =>
      col(s"ny$j") * (col(s"ny$j") - 1L)).reduce(_ + _)
    perNation
      .withColumn("n0x2", col("n") * (col("n") - 1L))
      .withColumn("tiey2", tiey2)
      .select(col("nation"), col("n"), col("c_pairs"), col("d_pairs"),
        expr("tiex2 div 2").as("ties_x"),
        expr("tiey2 div 2").as("ties_y"),
        // tau is undefined when either variable is constant within a
        // key (zero denominator) — NULL, not an ANSI divide error
        when(col("n0x2") > col("tiex2") && col("n0x2") > col("tiey2"),
          (col("c_pairs") - col("d_pairs")).cast("double") /
            sqrt(((col("n0x2") - col("tiex2")).cast("double") / lit(2.0)) *
              ((col("n0x2") - col("tiey2")).cast("double") / lit(2.0))))
          .as("tau_b"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // KRUSKAL-WALLIS H — the k-sample rank test: one statistic for
    // "does per-order revenue differ across order-size buckets?",
    // where q134 could only compare two of them. Ranks are never
    // materialized per row: group by distinct whole-dollar revenue →
    // (ca, cb, cc) bucket counts, one cumulative window over the
    // pooled DISTINCT-value grid, and the 2·below + t + 1 carrier
    // keeps tie-aware midranks exact integers. Rank sums per bucket
    // (as 2× sums), the tie cubic, and N assemble from exact longs in
    // ONE partial-aggregating pass over the grid; H = 3·Σ(R2_g²/n_g)
    // / (N(N+1)) − 3(N+1) (the 12/4 folded because the carrier is 2R)
    // and the tie correction 1 − Σ(t³−t)/(N³−N) are the only double
    // arithmetic, written as the identical operation sequence in both
    // engines — no sqrt, so the statistic is division-exact
    // cross-engine. Rejection at the χ²(0.95, df=2) critical value.
    // Scale shape: the only fact exchange is the per-order rollup; the
    // grid is bounded by the price range, not the order count. Exact-
    // carrier range: Σ c·r2 ≤ 2N² holds in longs to N ≈ 2e9 orders.
    "q139_kruskal_wallis" -> ((s, d) => {
      kruskalWallisH(OrderRevenue.orderSizeBuckets(s, d),
        Seq("narrow", "mid", "wide"))
        .select(col("n_a").as("na"), col("n_b").as("nb"),
          col("n_c").as("nc"), col("n"),
          col("h_raw"), col("tie_corr"), col("h_stat"),
          (col("h_stat") > 5.991464547107979).as("reject_95"))
    }),

    // ONE-WAY ANOVA F — the parametric twin of q139 on the same
    // order-size contrast: between/within sums of squares from exact
    // whole-dollar long moments (n_g, Σx, Σx² per bucket, one
    // partial-aggregating pass; Σx² ≤ N·max(x)² holds in longs to
    // N ≈ 3e7 orders at this price range — beyond that, switch the
    // carrier to DECIMAL(38,0), same plan shape). SSB = Σ(Sx_g²/n_g)
    // − Sx²/N and SSW = Σx² − Σ(Sx_g²/n_g) assemble in doubles with a
    // fixed 3-term sequence identical in both engines; F =
    // (SSB/df1)/(SSW/df2), df1 = 2, df2 = N − 3. No sqrt — the F
    // ratio is division-exact cross-engine. Rejection at the
    // F(0.95; 2, ∞) critical value (df2 is ~1e4 even at sf0.001, where
    // the ∞ quantile is conservative to <0.3%). Reading q139 and q140
    // together is the practitioner's robustness check: when the
    // rank test and the moment test agree this strongly, the location
    // shift is real, not a tail artifact.
    "q140_anova_oneway" -> ((s, d) => {
      val g = OrderRevenue.orderSizeBuckets(s, d).groupBy(col("grp"))
        .agg(count(lit(1)).as("n_g"), sum(col("value")).as("sx"),
          sum(col("value") * col("value")).as("sxx"))
      val sums = OrderRevenue.bucketMomentSums
      OrderRevenue.oneWayF(g.agg(sums.head, sums.tail: _*))
        .select(col("na"), col("nb"), col("nc"), col("n"),
          col("ssb"), col("ssw"), col("f_stat"),
          (col("f_stat") > 2.9957).as("reject_95"))
    }),

    // KENDALL TAU-B per nation — the concordance companion to q135's
    // Spearman rho, computed EXACTLY without the O(n²) pair join the
    // textbook definition implies. The trick: with the y side on a
    // small class grid (item count, classes 1..6 and "7+"), concordant
    // and discordant pair counts are dominance sums over the joint
    // (x, y-class) frequency grid — group to cells, then ONE
    // per-nation cumulative window over x carrying 7 running
    // class counters (b_j = points with x' < x in class j); each
    // cell's concordant mass is c_j · Σ_{j'<j} b_j', discordant
    // c_j · Σ_{j'>j} b_j'. C, D, and the tie terms n1 = Σ t_x(t_x−1)/2
    // (x ties) and n2 = Σ t_y(t_y−1)/2 (y ties) all assemble from
    // exact longs; tau_b = (C − D)/√((n0−n1)(n0−n2)) is the only
    // double arithmetic (one IEEE sqrt; the products are cast to
    // double BEFORE multiplying, identically in both engines, so no
    // long overflow at any n). Folding every item count ≥7 into one
    // class is exact on this corpus (TPC-H orders carry ≤7 lineitems)
    // and degrades gracefully to "ties within the top class"
    // elsewhere. Scale shape: the lineitem rollup and the keyed
    // per-nation window are the only exchanges; the window frame is
    // the per-nation value grid, and the final agg is one row per
    // nation with map-side partials.
    "q141_kendall_tau" -> ((s, d) => {
      val pts = OrderRevenue.perOrderNation(s, d)
        .select(col("nation"), expr("cents div 100").as("x"),
          least(col("n_items"), lit(7L)).as("y"))
      kendallTauB(pts, 7).orderBy(col("nation"))
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

    // WILSON SCORE INTERVAL ranking — the "never sort by raw rate"
    // primitive beside q118's proportion-test outliers: per part
    // brand, the return-rate estimate gets a 95% Wilson interval, and
    // the ranking by the interval's LOWER bound is compared against
    // the naive raw-rate ranking. Where the two disagree (`moved`),
    // the naive ranking was trusting a rate its sample size cannot
    // support — on this corpus 7 of 25 brands move, so the operator
    // demonstrably fires. All inputs are exact longs (trials,
    // successes per brand); the interval assembles in doubles with an
    // identical operation sequence on both engines and one IEEE sqrt,
    // so ranks — ordered on those bit-identical doubles with a brand
    // tie-break — agree cross-engine. Scale shape: one fact exchange
    // keyed by partkey into the dim join (broadcast at these SFs,
    // shuffled-hash beyond the threshold), partial-agg collapsed to
    // |brands| rows; both rank windows run on that tiny frame.
    "q142_wilson_ranking" -> ((s, d) => {
      val z2 = lit(3.8416)
      val byBrand = Tables.lineitem(s, d)
        .join(broadcast(Tables.part(s, d)),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("l_returnflag") === "R", 1L).otherwise(0L))
            .as("k"))
      val st = byBrand
        .withColumn("nd", col("n").cast("double"))
        .withColumn("rate", col("k").cast("double") / col("nd"))
        .withColumn("den", lit(1.0) + z2 / col("nd"))
        .withColumn("center",
          (col("rate") + z2 / (lit(2.0) * col("nd"))) / col("den"))
        .withColumn("half",
          lit(1.96) * sqrt(col("rate") * (lit(1.0) - col("rate")) /
            col("nd") + z2 / (lit(4.0) * col("nd") * col("nd"))) /
            col("den"))
      val wRaw = Window.orderBy(col("rate").desc, col("p_brand"))
      val wLb = Window.orderBy((col("center") - col("half")).desc,
        col("p_brand"))
      st.withColumn("rank_raw", row_number().over(wRaw).cast("long"))
        .withColumn("rank_lb", row_number().over(wLb).cast("long"))
        .select(col("p_brand"), col("n"), col("k"), col("rate"),
          (col("center") - col("half")).as("wilson_lb"),
          (col("center") + col("half")).as("wilson_ub"),
          col("rank_raw"), col("rank_lb"),
          (col("rank_raw") =!= col("rank_lb")).as("moved"))
        .orderBy(col("rank_lb"))
    }),

    // SIMPSON'S PARADOX detector — the aggregation trap q102
    // (discount-band effectiveness) walks straight past: does the
    // discount→return-rate direction HOLD inside every ship-month
    // segment, or does the pooled direction reverse when
    // disaggregated? Entirely DIVISION-FREE: each direction is the
    // sign of the exact integer cross-multiplication k1·n0 − k0·n1
    // (rate comparison without rates), so segment and aggregate
    // directions are integer-exact cross-engine; the displayed rates
    // are the only doubles and decide nothing. On this corpus 4–6 of
    // 12 months run against the pooled direction at every SF — the
    // detector demonstrably fires. Aggregate totals ride an
    // unpartitioned window over the 12-row segment grid (no second
    // fact scan, no cross join). Scale shape: one partial-aggregating
    // fact scan to 12 rows; everything after is grid-local. Long
    // range: k·n products hold exactly to ~3e9 rows per side.
    "q143_simpson_reversal" -> ((s, d) => {
      val seg = Tables.lineitem(s, d)
        .select(month(col("l_shipdate")).cast("long").as("ship_month"),
          (col("l_discount") >= 0.05).as("hi"),
          (col("l_returnflag") === "R").as("ret"))
        .groupBy(col("ship_month"))
        .agg(sum(when(col("hi") && col("ret"), 1L).otherwise(0L)).as("k1"),
          sum(when(col("hi"), 1L).otherwise(0L)).as("n1"),
          sum(when(!col("hi") && col("ret"), 1L).otherwise(0L)).as("k0"),
          sum(when(!col("hi"), 1L).otherwise(0L)).as("n0"))
      val wAll = Window
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      def sign(c: Column): Column =
        when(c > 0L, 1).when(c < 0L, -1).otherwise(0)
      seg
        .withColumn("dseg", col("k1") * col("n0") - col("k0") * col("n1"))
        .withColumn("dagg",
          sum(col("k1")).over(wAll) * sum(col("n0")).over(wAll) -
            sum(col("k0")).over(wAll) * sum(col("n1")).over(wAll))
        .select(col("ship_month"), col("k1"), col("n1"), col("k0"),
          col("n0"),
          (col("k1").cast("double") / col("n1").cast("double"))
            .as("rate_hi"),
          (col("k0").cast("double") / col("n0").cast("double"))
            .as("rate_lo"),
          sign(col("dseg")).as("dir_seg"),
          sign(col("dagg")).as("dir_agg"),
          (sign(col("dseg")) =!= lit(0) &&
            sign(col("dseg")) =!= sign(col("dagg"))).as("reversed"))
        .orderBy(col("ship_month"))
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
      Extended14.agreementCells(a.join(b, "doc_id"))
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

    // ROLLING QUANTILE-COVERAGE BACKTEST — the temporal
    // cross-validation primitive none of the point statistics give
    // you: for every order week, compute exact p10/p90 revenue bounds
    // from the TRAILING 8 prior weeks only (leakage-safe by
    // construction — the interval never sees the week it is judged
    // on), then measure out-of-sample coverage: the fraction of the
    // current week's orders falling inside. A well-calibrated 10–90
    // interval should cover ≈ 80%; weeks drifting off that line are
    // exactly where a revenue model trained on history goes stale.
    // Exactness: percentiles use the discrete integer rule (smallest
    // value whose 10·cumulative-count reaches k·total — q73's
    // weighted-median stance, no interpolation), so bounds, counts,
    // and the final single-division coverage are cross-engine exact.
    // Scale shape: ONE fact scan (plan-pinned) — each weekly
    // value-grid cell fans out with offsets 0..8, where off = 0 marks
    // the judged week's own mass and off ≥ 1 contributes to the next
    // 8 targets' history (q66's trailing-window trick, no per-week
    // rescan and no join-back: the bounds become window minima over
    // the same target-week partition, which is sound because a
    // zero-history grid row can never precede the true threshold row
    // in the nondecreasing cumulative). Warm-up targets (no prior
    // mass) and phantom targets past the data end (no current mass)
    // drop by the two count filters — the same rows the join-back
    // shape would drop.
    "q145_quantile_coverage" -> ((s, d) => {
      val wk = Tables.orders(s, d)
        .select(OrderRevenue.orderWeek.as("wk"),
          Parity.cents2(col("o_totalprice")).as("cents"))
      val fan = wk.groupBy(col("wk"), col("cents"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("off", explode(expr("sequence(0, 8)")))
        .select((col("wk") + col("off")).as("twk"), col("cents"),
          when(col("off") === 0, col("cnt")).otherwise(0L).as("cc"),
          when(col("off") >= 1, col("cnt")).otherwise(0L).as("pc"))
        .groupBy(col("twk"), col("cents"))
        .agg(sum(col("cc")).as("ccnt"), sum(col("pc")).as("pcnt"))
      val wCum = Window.partitionBy(col("twk")).orderBy(col("cents"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wTot = Window.partitionBy(col("twk"))
      fan
        .withColumn("cum", sum(col("pcnt")).over(wCum))
        .withColumn("tot", sum(col("pcnt")).over(wTot))
        .withColumn("p10w",
          min(when(lit(10L) * col("cum") >= col("tot"), col("cents")))
            .over(wTot))
        .withColumn("p90w",
          min(when(lit(10L) * col("cum") >= lit(9L) * col("tot"),
            col("cents"))).over(wTot))
        .filter(col("tot") > 0L)
        .groupBy(col("twk"))
        .agg(max(col("tot")).as("n_prior"),
          max(col("p10w")).as("p10"), max(col("p90w")).as("p90"),
          sum(col("ccnt")).as("n_cur"),
          sum(when(col("cents") >= col("p10w") &&
            col("cents") <= col("p90w"), col("ccnt")).otherwise(0L))
            .as("n_inside"))
        .filter(col("n_cur") > 0L)
        .select(col("twk").as("wk"), col("n_prior"), col("p10"),
          col("p90"), col("n_cur"), col("n_inside"),
          (col("n_inside").cast("double") / col("n_cur").cast("double"))
            .as("coverage"))
        .orderBy(col("wk"))
    }),

    // COCHRAN-MANTEL-HAENSZEL stratified association — the adjudicator
    // q143's Simpson detector hands off to: when per-stratum directions
    // conflict with the pooled one, CMH asks whether a COMMON
    // association survives after controlling the stratifier, and the
    // Mantel–Haenszel common odds ratio says how strong it is. Run on
    // a contrast that demonstrably fires (above-median order revenue ×
    // wide order ≥4 items, stratified by nation — associated within
    // every stratum, so OR_MH >> 1 and the statistic rejects hugely;
    // the q143 discount contrast would show the complementary null
    // outcome). Exactness: the 2×2 cells per stratum are exact longs;
    // E_i, V_i, and the MH numerator/denominator terms are identical
    // per-stratum double sequences, summed order-independently via
    // Parity.dsum (decimal), so the statistic is cross-engine equal.
    // The global median is the discrete value-grid rule (q73 stance)
    // attached as a 1-row broadcast (q69's pattern, PlanLint
    // allowlisted). Scale shape: the per-order frame is cut once
    // (single fact join), the grid median runs on the bounded price
    // grid, and the stratum table is |nations| rows.
    "q146_cmh_test" -> ((s, d) => {
      val per = Materialize.LocalCheckpoint(OrderRevenue.perOrderNation(s, d))
      val wCum = Window.orderBy(col("cents"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val med = per.groupBy(col("cents")).agg(count(lit(1)).as("c"))
        .withColumn("cum", sum(col("c")).over(wCum))
        .withColumn("n", sum(col("c")).over(wAll))
        .agg(min(when(lit(2L) * col("cum") >= col("n"), col("cents")))
          .as("med"))
      val strata = per.crossJoin(broadcast(med))
        .select(col("nation"), (col("cents") > col("med")).as("hi"),
          (col("n_items") >= 4).as("wide"))
        .groupBy(col("nation"))
        .agg(sum(when(col("hi") && col("wide"), 1L).otherwise(0L))
            .as("a"),
          sum(when(col("hi") && !col("wide"), 1L).otherwise(0L))
            .as("b"),
          sum(when(!col("hi") && col("wide"), 1L).otherwise(0L))
            .as("cc"),
          sum(when(!col("hi") && !col("wide"), 1L).otherwise(0L))
            .as("dd"))
        .withColumn("nd",
          (col("a") + col("b") + col("cc") + col("dd")).cast("double"))
        .withColumn("e",
          ((col("a") + col("b")) * (col("a") + col("cc"))).cast("double")
            / col("nd"))
        .withColumn("v",
          (col("a") + col("b")).cast("double") *
            (col("cc") + col("dd")).cast("double") *
            (col("a") + col("cc")).cast("double") *
            (col("b") + col("dd")).cast("double") /
            (col("nd") * col("nd") * (col("nd") - lit(1.0))))
        .withColumn("mh_num",
          (col("a") * col("dd")).cast("double") / col("nd"))
        .withColumn("mh_den",
          (col("b") * col("cc")).cast("double") / col("nd"))
      strata.agg(count(lit(1)).as("n_strata"),
          sum(col("a")).as("sum_a"),
          Parity.dsum(col("e")).as("sum_e"),
          Parity.dsum(col("v")).as("sum_v"),
          Parity.dsum(col("mh_num")).as("mh_num"),
          Parity.dsum(col("mh_den")).as("mh_den"))
        .withColumn("t",
          greatest(abs(col("sum_a").cast("double") - col("sum_e")) -
            lit(0.5), lit(0.0)))
        .select(col("n_strata"), col("sum_a"), col("sum_e"),
          col("sum_v"),
          (col("t") * col("t") / col("sum_v")).as("cmh_stat"),
          (col("mh_num") / col("mh_den")).as("or_mh"),
          (col("t") * col("t") / col("sum_v") > 3.841).as("reject_95"))
    }),

    // JONCKHEERE-TERPSTRA ordered trend test — the directional
    // completion of the k-sample family: q139's Kruskal–Wallis asks
    // "do the groups differ AT ALL?"; JT asks "do they INCREASE in
    // the stated order?" (narrow < mid < wide), which is the actual
    // hypothesis behind the order-size contrast and buys power by
    // spending it. JT is the sum of the three pairwise Mann–Whitney
    // counts in group order, computed on the same value grid with
    // per-group cumulative belows — carried as 2×U (2·#less + ties)
    // so everything is exact longs; the tie-corrected null mean and
    // variance assemble from exact group-size and tie-group sums
    // (the three standard variance terms), with doubles only in the
    // fixed-sequence final divisions and ONE sqrt. Scale shape:
    // identical to q139 — one fact rollup, then the bounded value
    // grid.
    "q147_jonckheere_trend" -> ((s, d) => {
      val ev = OrderRevenue.groupCounts(OrderRevenue.orderSizeBuckets(s, d),
        Seq("narrow", "mid", "wide"))
      val wB = Window.orderBy(col("value"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val grid = ev
        .withColumn("ba", coalesce(sum(col("ca")).over(wB), lit(0L)))
        .withColumn("bb", coalesce(sum(col("cb")).over(wB), lit(0L)))
        .withColumn("bc", coalesce(sum(col("cc")).over(wB), lit(0L)))
      grid.agg(
          sum(col("ca")).as("na"), sum(col("cb")).as("nb"),
          sum(col("cc")).as("nc"),
          // 2×U for ordered pairs (a,b), (a,c), (b,c):
          // each target row contributes c_h · (2·below_g + c_g)
          sum(col("cb") * (lit(2L) * col("ba") + col("ca")) +
            col("cc") * (lit(2L) * col("ba") + col("ca")) +
            col("cc") * (lit(2L) * col("bb") + col("cb"))).as("jt2"),
          sum(col("t") * (col("t") - 1L)).as("t2"),
          sum(col("t") * (col("t") - 1L) * (col("t") - 2L)).as("t3"),
          sum(col("t") * (col("t") - 1L) * (lit(2L) * col("t") + 5L))
            .as("t25"))
        .withColumn("n", col("na") + col("nb") + col("nc"))
        .withColumn("g2",
          col("na") * (col("na") - 1L) + col("nb") * (col("nb") - 1L) +
            col("nc") * (col("nc") - 1L))
        .withColumn("g3",
          col("na") * (col("na") - 1L) * (col("na") - 2L) +
            col("nb") * (col("nb") - 1L) * (col("nb") - 2L) +
            col("nc") * (col("nc") - 1L) * (col("nc") - 2L))
        .withColumn("g25",
          col("na") * (col("na") - 1L) * (lit(2L) * col("na") + 5L) +
            col("nb") * (col("nb") - 1L) * (lit(2L) * col("nb") + 5L) +
            col("nc") * (col("nc") - 1L) * (lit(2L) * col("nc") + 5L))
        .withColumn("nd", col("n").cast("double"))
        .withColumn("jt", col("jt2").cast("double") / lit(2.0))
        .withColumn("mu",
          (col("n") * col("n") - col("na") * col("na") -
            col("nb") * col("nb") - col("nc") * col("nc"))
            .cast("double") / lit(4.0))
        .withColumn("sig2",
          (col("n") * (col("n") - 1L) * (lit(2L) * col("n") + 5L) -
            col("g25") - col("t25")).cast("double") / lit(72.0) +
            col("g3").cast("double") * col("t3").cast("double") /
              (lit(36.0) * col("nd") * (col("nd") - lit(1.0)) *
                (col("nd") - lit(2.0))) +
            col("g2").cast("double") * col("t2").cast("double") /
              (lit(8.0) * col("nd") * (col("nd") - lit(1.0))))
        .withColumn("z",
          (col("jt") - col("mu")) / sqrt(col("sig2")))
        .select(col("na"), col("nb"), col("nc"), col("n"),
          col("jt"), col("mu"), col("z"),
          (col("z") > 1.645).as("reject_95_ordered"))
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
      val fin = Extended11.bpeTrain(s, d)._2
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

    // FRIEDMAN TEST + KENDALL'S W — the blocked-design member of the
    // k-sample family: does the order-size → revenue ordering hold
    // consistently WITHIN every nation (blocks), and how concordant
    // are the blocks? Treatments are the three size buckets ranked by
    // mean order revenue inside each nation; rank sums are exact
    // longs; χ²_F = 12·ΣR_j²/(n·k·(k+1)) − 3·n·(k+1) and
    // W = χ²_F/(n·(k−1)) are fixed-sequence double arithmetic — no
    // sqrt. On this corpus every nation ranks narrow < mid < wide, so
    // W = 1.0 exactly at every SF (perfect concordance is the
    // corpus's truth, and the spec pins it). Ties in the block ranks
    // would need midranks; with three rational means per block a tie
    // is measure-zero, and the (mean, grp) tie-break is deterministic
    // and identical cross-engine since both engines compare the same
    // doubles. Scale shape: one fact rollup to |nations|×3 rows;
    // everything after is grid-local.
    "q148_friedman_concordance" -> ((s, d) => {
      OrderRevenue.blockRankSums(s, d)
        .withColumn("sr2",
          col("r_narrow") * col("r_narrow") + col("r_mid") * col("r_mid")
            + col("r_wide") * col("r_wide"))
        .withColumn("nd", col("n_blocks").cast("double"))
        .withColumn("chi2_f",
          lit(12.0) * col("sr2").cast("double") /
            (col("nd") * lit(3.0) * lit(4.0)) -
            lit(3.0) * col("nd") * lit(4.0))
        .select(col("n_blocks"), col("r_narrow"), col("r_mid"),
          col("r_wide"), col("chi2_f"),
          (col("chi2_f") / (col("nd") * lit(2.0))).as("kendall_w"),
          (col("chi2_f") > 5.991).as("reject_95"))
    }),

    // IPF / RAKING weights — the survey-statistics member of the
    // mixture family (t14 computes source weights, t33 applies them;
    // raking answers the harder version: make BOTH margins of a
    // cross-classified sample match target distributions at once).
    // Five rounds of iterative proportional fitting on the
    // nation × order-size count grid against uniform row and column
    // targets: scale every cell's weight so row margins match, then
    // so column margins match, repeat. Per-round margins are grouped
    // sums over the |nations|×3 grid; the scaling divisions run in a
    // fixed sequence on both engines, and the oracle unrolls the same
    // five rounds as CTEs (the t37 pattern), so the weights compare
    // bit-exact. Convergence is reported, not assumed: the output
    // carries the max relative row/column margin error after round 5
    // (spec pins it tiny AND monotonically improved vs round 1 — IPF
    // on a strictly positive grid converges). Scale shape: one fact
    // rollup to the grid; five rounds of grid-local groupBy+join on
    // |nations| and |buckets| rows; weights localCheckpointed per
    // round so the plan stays flat.
    "q149_raking_weights" -> ((s, d) => {
      val grid = Materialize.LocalCheckpoint(OrderRevenue.perOrderNation(s, d)
        .select(col("nation"),
          OrderRevenue.sizeBucket(col("n_items")).as("grp"))
        .groupBy(col("nation"), col("grp"))
        .agg(count(lit(1)).as("cnt")))
      val tot = grid.agg(sum(col("cnt")).as("n_all"),
        countDistinct(col("nation")).as("n_nations"))
      var w = Materialize.LocalCheckpoint(
        grid.crossJoin(broadcast(tot))
          .withColumn("w", lit(1.0))
          .withColumn("row_target",
            col("n_all").cast("double") / col("n_nations").cast("double"))
          .withColumn("col_target",
            col("n_all").cast("double") / lit(3.0)))
      // margins go through the decimal dsum path: a plain double sum
      // is summation-order-dependent and the margins feed forward
      // into every later round's weights
      (1 to 5).foreach { _ =>
        val rowm = w.groupBy(col("nation").as("rn"))
          .agg(Parity.dsum(col("w") * col("cnt").cast("double")).as("rm"))
        val afterRow = w.join(broadcast(rowm), col("nation") === col("rn"))
          .withColumn("w", col("w") * col("row_target") / col("rm"))
          .drop("rn", "rm")
        val colm = afterRow.groupBy(col("grp").as("cg"))
          .agg(Parity.dsum(col("w") * col("cnt").cast("double")).as("cm"))
        w = Materialize.LocalCheckpoint(
          afterRow.join(broadcast(colm), col("grp") === col("cg"))
            .withColumn("w", col("w") * col("col_target") / col("cm"))
            .drop("cg", "cm"))
      }
      val rowErr = w.groupBy(col("nation"))
        .agg(Parity.dsum(col("w") * col("cnt").cast("double")).as("rm"),
          max(col("row_target")).as("rt"))
        .agg(max(abs(col("rm") - col("rt")) / col("rt")).as("e"))
        .select(col("e"))
      val colErr = w.groupBy(col("grp"))
        .agg(Parity.dsum(col("w") * col("cnt").cast("double")).as("cm"),
          max(col("col_target")).as("ct"))
        .agg(max(abs(col("cm") - col("ct")) / col("ct")).as("e"))
        .select(col("e"))
      val maxErr = rowErr.unionAll(colErr).agg(max(col("e")).as("me"))
      w.crossJoin(broadcast(maxErr))
        .select(col("nation"), col("grp"), col("cnt"), col("w"),
          (col("w") * col("cnt").cast("double")).as("weighted_cnt"),
          col("me").as("max_margin_err"))
        .orderBy(col("nation"), col("grp"))
    }),

    // HIGHER-MOMENT PROFILE — per-nation skewness and excess kurtosis
    // of order revenue from EXACT raw-moment sums. Spark ships
    // skewness()/kurtosis() built-ins, but their running-float central
    // moments are summation-order-dependent — a different partitioning
    // gives a different last bit, so they can never hash-match an
    // oracle (the same reason Parity.dsum exists). This plan sums
    // x, x², x³, x⁴ as exact 128-bit integers (DECIMAL(38,0) here,
    // HUGEINT in the oracle — x⁴·n ≈ 1e27 fits both to ~1e11 rows per
    // group at this value range), then assembles the central moments
    // in doubles with an identical operation sequence: one sqrt, no
    // pow. The numbers a distribution-shape screen actually wants
    // next to q85's robust fences: right-tail skew and tail weight
    // per segment. Scale shape: one rollup, map-side partial sums,
    // |nations| rows out.
    "q150_moment_profile" -> ((s, d) => {
      val per = OrderRevenue.perOrderNation(s, d)
        .select(col("nation"),
          expr("CAST((cents div 100) AS DECIMAL(38,0))").as("x"))
      per.groupBy(col("nation"))
        .agg(count(lit(1)).as("n"),
          sum(col("x")).as("s1"),
          sum(col("x") * col("x")).as("s2"),
          sum(col("x") * col("x") * col("x")).as("s3"),
          sum(col("x") * col("x") * col("x") * col("x")).as("s4"))
        .withColumn("nd", col("n").cast("double"))
        .withColumn("mean", col("s1").cast("double") / col("nd"))
        .withColumn("r2", col("s2").cast("double") / col("nd"))
        .withColumn("r3", col("s3").cast("double") / col("nd"))
        .withColumn("r4", col("s4").cast("double") / col("nd"))
        .withColumn("m2c", col("r2") - col("mean") * col("mean"))
        .withColumn("m3c",
          col("r3") - lit(3.0) * col("mean") * col("r2") +
            lit(2.0) * col("mean") * col("mean") * col("mean"))
        .withColumn("m4c",
          col("r4") - lit(4.0) * col("mean") * col("r3") +
            lit(6.0) * col("mean") * col("mean") * col("r2") -
            lit(3.0) * col("mean") * col("mean") * col("mean") *
              col("mean"))
        .select(col("nation"), col("n"), col("mean"),
          col("m2c").as("variance"),
          (col("m3c") / (sqrt(col("m2c")) * col("m2c"))).as("skewness"),
          (col("m4c") / (col("m2c") * col("m2c")) - lit(3.0))
            .as("kurtosis_excess"))
        .orderBy(col("nation"))
    }),

    // MEDIAN CONFIDENCE INTERVAL — the distribution-free order-
    // statistic interval that gives q50/q73's point percentiles an
    // uncertainty: per nation, the 95% CI for the median of order
    // revenue is [x_(k_lo), x_(k_hi)] with k_lo = ⌊(n − 1.96√n)/2⌋
    // and k_hi = ⌈1 + (n + 1.96√n)/2⌉ (the binomial order-statistic
    // bounds under the normal approximation — no distributional
    // assumption on revenue itself). The ranks come from ONE double
    // expression each (floor/ceil of identical sequences, so
    // cross-engine equal), and the value lookups are the q73 stance:
    // smallest grid value whose cumulative count reaches the rank.
    // Scale shape: one rollup to the per-nation value grid, one keyed
    // cumulative window, conditional-min lookups in the same grouped
    // aggregate — |nations| rows out.
    "q151_median_ci" -> ((s, d) => {
      OrderRevenue.nationValueCum(s, d)
        .withColumn("nd", col("n").cast("double"))
        .withColumn("k_lo",
          floor((col("nd") - lit(1.96) * sqrt(col("nd"))) / lit(2.0))
            .cast("long"))
        .withColumn("k_hi",
          ceil(lit(1.0) + (col("nd") + lit(1.96) * sqrt(col("nd"))) /
            lit(2.0)).cast("long"))
        .groupBy(col("nation"))
        .agg(max(col("n")).as("n"),
          max(col("k_lo")).as("k_lo"), max(col("k_hi")).as("k_hi"),
          min(when(lit(2L) * col("cum") >= col("n"), col("v")))
            .as("median"),
          min(when(col("cum") >= col("k_lo"), col("v"))).as("ci_lo"),
          min(when(col("cum") >= col("k_hi"), col("v"))).as("ci_hi"))
        .orderBy(col("nation"))
    }),

    // SIGN TEST vs the mean — the nonparametric confirmation of
    // q150's moment skewness: under symmetry the count of orders
    // below the nation's mean is Binomial(n, ½); right skew pushes it
    // above n/2, and this corpus rejects in every nation. The mean
    // comparison is DIVISION-FREE: v < S1/n ⟺ v·n < S1 in exact
    // longs (the q143 cross-multiplication stance), ties at the mean
    // counted separately and excluded from the trial count (the
    // standard sign-test treatment). The only doubles are the final
    // z = (2k − m − 1)/√m with continuity correction (m = non-tied
    // trials) — one sqrt, identical sequence. Scale shape: one rollup
    // to the per-nation value grid, window totals, one grouped agg.
    // Exact-carrier range: v·n holds in longs to ~1.5e13 value·rows.
    "q152_sign_test" -> ((s, d) => {
      val grid = OrderRevenue.nationValueGrid(s, d)
      val wTot = Window.partitionBy(col("nation"))
      grid
        .withColumn("n", sum(col("c")).over(wTot))
        .withColumn("s1", sum(col("v") * col("c")).over(wTot))
        .groupBy(col("nation"))
        .agg(max(col("n")).as("n"),
          sum(when(col("v") * col("n") < col("s1"), col("c"))
            .otherwise(0L)).as("k_below"),
          sum(when(col("v") * col("n") > col("s1"), col("c"))
            .otherwise(0L)).as("k_above"),
          sum(when(col("v") * col("n") === col("s1"), col("c"))
            .otherwise(0L)).as("k_eq"))
        .withColumn("m", col("k_below") + col("k_above"))
        .withColumn("z",
          (lit(2.0) * col("k_below").cast("double") -
            col("m").cast("double") - lit(1.0)) /
            sqrt(col("m").cast("double")))
        .select(col("nation"), col("n"), col("k_below"), col("k_above"),
          col("k_eq"), col("z"), (col("z") > 1.96).as("reject_95"))
        .orderBy(col("nation"))
    }),

    // BOWLEY QUARTILE SKEWNESS — the robust member of the shape
    // family: (Q3 + Q1 − 2·median)/(Q3 − Q1) in [−1, 1], immune to
    // the tail values that drive q150's moment skewness. Quartiles
    // are the discrete grid rule (smallest value whose 4·cumulative
    // reaches k·n — q73's stance, no interpolation), so the quartiles
    // are exact longs and the coefficient is ONE division of exact
    // integer combinations. Reading q150 and q153 together is the
    // practitioner's check: when the moment skew is positive but
    // Bowley is near 0, the skew lives in the tails; here both are
    // positive in every nation (body and tail lean the same way).
    // Scale shape: identical to q151 — grid, keyed windows, one
    // grouped agg.
    "q153_bowley_skew" -> ((s, d) => {
      OrderRevenue.nationValueCum(s, d)
        .groupBy(col("nation"))
        .agg(max(col("n")).as("n"),
          min(when(lit(4L) * col("cum") >= col("n"), col("v")))
            .as("q1"),
          min(when(lit(4L) * col("cum") >= lit(2L) * col("n"),
            col("v"))).as("median"),
          min(when(lit(4L) * col("cum") >= lit(3L) * col("n"),
            col("v"))).as("q3"))
        .select(col("nation"), col("n"), col("q1"), col("median"),
          col("q3"),
          ((col("q3") + col("q1") - lit(2L) * col("median"))
            .cast("double") /
            (col("q3") - col("q1")).cast("double")).as("bowley_skew"))
        .orderBy(col("nation"))
    }))

  def oracleSql: Map[String, String] = Map(

    "q139_kruskal_wallis" ->
      s"""WITH ${OrderRevenue.midrankSumsSql},
        |  st AS (SELECT na, nb, nc, na + nb + nc AS n,
        |    CAST(na + nb + nc AS DOUBLE) AS nd,
        |    CAST(ra2 AS DOUBLE) * CAST(ra2 AS DOUBLE) / CAST(na AS DOUBLE) +
        |    CAST(rb2 AS DOUBLE) * CAST(rb2 AS DOUBLE) / CAST(nb AS DOUBLE) +
        |    CAST(rc2 AS DOUBLE) * CAST(rc2 AS DOUBLE) / CAST(nc AS DOUBLE)
        |      AS hsum,
        |    tie3
        |  FROM agg),
        |  h AS (SELECT na, nb, nc, n,
        |    3.0 * hsum / nd / (nd + 1.0) - 3.0 * (nd + 1.0) AS h_raw,
        |    1.0 - CAST(tie3 AS DOUBLE) / (nd * nd * nd - nd) AS tie_corr
        |  FROM st)
        |SELECT na, nb, nc, n, h_raw, tie_corr,
        |  h_raw / tie_corr AS h_stat,
        |  h_raw / tie_corr > 5.991464547107979 AS reject_95
        |FROM h""".stripMargin,

    "q140_anova_oneway" ->
      s"""WITH ${OrderRevenue.orderSizeBucketsSql},
        |  g AS (SELECT grp, CAST(COUNT(1) AS BIGINT) AS n_g,
        |    CAST(SUM(value) AS BIGINT) AS sx,
        |    CAST(SUM(value * value) AS BIGINT) AS sxx
        |  FROM s GROUP BY 1),
        |  agg AS (SELECT CAST(SUM(n_g) AS BIGINT) AS n,
        |    CAST(SUM(sx) AS BIGINT) AS sx_all,
        |    CAST(SUM(sxx) AS BIGINT) AS sxx_all,
        |    CAST(SUM(CASE WHEN grp = 'narrow' THEN n_g END) AS BIGINT) AS na,
        |    CAST(SUM(CASE WHEN grp = 'mid' THEN n_g END) AS BIGINT) AS nb,
        |    CAST(SUM(CASE WHEN grp = 'wide' THEN n_g END) AS BIGINT) AS nc,
        |    CAST(SUM(CASE WHEN grp = 'narrow' THEN sx END) AS BIGINT) AS sa,
        |    CAST(SUM(CASE WHEN grp = 'mid' THEN sx END) AS BIGINT) AS sb,
        |    CAST(SUM(CASE WHEN grp = 'wide' THEN sx END) AS BIGINT) AS sc
        |  FROM g),
        |  st AS (SELECT na, nb, nc, n, CAST(n AS DOUBLE) AS nd,
        |    CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE) / CAST(na AS DOUBLE) +
        |    CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE) +
        |    CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE) / CAST(nc AS DOUBLE)
        |      AS gsum,
        |    sx_all, sxx_all
        |  FROM agg),
        |  ss AS (SELECT na, nb, nc, n, nd,
        |    gsum - CAST(sx_all AS DOUBLE) * CAST(sx_all AS DOUBLE) / nd
        |      AS ssb,
        |    CAST(sxx_all AS DOUBLE) - gsum AS ssw
        |  FROM st)
        |SELECT na, nb, nc, n, ssb, ssw,
        |  ssb / 2.0 / (ssw / (nd - 3.0)) AS f_stat,
        |  ssb / 2.0 / (ssw / (nd - 3.0)) > 2.9957 AS reject_95
        |FROM ss""".stripMargin,

    "q141_kendall_tau" ->
      """WITH items AS (SELECT l_orderkey, COUNT(1) AS n_items,
        |    CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
        |      AS BIGINT) AS rev
        |  FROM lineitem GROUP BY 1),
        |  pts AS (SELECT n.n_name AS nation, i.rev // 100 AS x,
        |    LEAST(i.n_items, 7) AS y
        |  FROM orders o
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN nation n ON c.c_nationkey = n.n_nationkey
        |  JOIN items i ON o.o_orderkey = i.l_orderkey),
        |  cells AS (SELECT nation, x,
        |    CAST(SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
        |    CAST(SUM(CASE WHEN y = 2 THEN 1 ELSE 0 END) AS BIGINT) AS c2,
        |    CAST(SUM(CASE WHEN y = 3 THEN 1 ELSE 0 END) AS BIGINT) AS c3,
        |    CAST(SUM(CASE WHEN y = 4 THEN 1 ELSE 0 END) AS BIGINT) AS c4,
        |    CAST(SUM(CASE WHEN y = 5 THEN 1 ELSE 0 END) AS BIGINT) AS c5,
        |    CAST(SUM(CASE WHEN y = 6 THEN 1 ELSE 0 END) AS BIGINT) AS c6,
        |    CAST(SUM(CASE WHEN y = 7 THEN 1 ELSE 0 END) AS BIGINT) AS c7,
        |    CAST(COUNT(1) AS BIGINT) AS tx
        |  FROM pts GROUP BY 1, 2),
        |  wb AS (SELECT nation, c1, c2, c3, c4, c5, c6, c7, tx,
        |    COALESCE(CAST(SUM(c1) OVER wdom AS BIGINT), 0) AS b1,
        |    COALESCE(CAST(SUM(c2) OVER wdom AS BIGINT), 0) AS b2,
        |    COALESCE(CAST(SUM(c3) OVER wdom AS BIGINT), 0) AS b3,
        |    COALESCE(CAST(SUM(c4) OVER wdom AS BIGINT), 0) AS b4,
        |    COALESCE(CAST(SUM(c5) OVER wdom AS BIGINT), 0) AS b5,
        |    COALESCE(CAST(SUM(c6) OVER wdom AS BIGINT), 0) AS b6,
        |    COALESCE(CAST(SUM(c7) OVER wdom AS BIGINT), 0) AS b7
        |  FROM cells
        |  WINDOW wdom AS (PARTITION BY nation ORDER BY x
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |  contrib AS (SELECT nation, tx,
        |    c2 * b1 + c3 * (b1 + b2) + c4 * (b1 + b2 + b3) +
        |    c5 * (b1 + b2 + b3 + b4) + c6 * (b1 + b2 + b3 + b4 + b5) +
        |    c7 * (b1 + b2 + b3 + b4 + b5 + b6) AS conc,
        |    c1 * (b2 + b3 + b4 + b5 + b6 + b7) +
        |    c2 * (b3 + b4 + b5 + b6 + b7) + c3 * (b4 + b5 + b6 + b7) +
        |    c4 * (b5 + b6 + b7) + c5 * (b6 + b7) + c6 * b7 AS disc,
        |    c1, c2, c3, c4, c5, c6, c7
        |  FROM wb),
        |  agg AS (SELECT nation,
        |    CAST(SUM(tx) AS BIGINT) AS n,
        |    CAST(SUM(conc) AS BIGINT) AS c_pairs,
        |    CAST(SUM(disc) AS BIGINT) AS d_pairs,
        |    CAST(SUM(tx * (tx - 1)) AS BIGINT) AS tiex2,
        |    CAST(SUM(c1) AS BIGINT) AS ny1, CAST(SUM(c2) AS BIGINT) AS ny2,
        |    CAST(SUM(c3) AS BIGINT) AS ny3, CAST(SUM(c4) AS BIGINT) AS ny4,
        |    CAST(SUM(c5) AS BIGINT) AS ny5, CAST(SUM(c6) AS BIGINT) AS ny6,
        |    CAST(SUM(c7) AS BIGINT) AS ny7
        |  FROM contrib GROUP BY 1),
        |  st AS (SELECT nation, n, c_pairs, d_pairs,
        |    n * (n - 1) AS n0x2, tiex2,
        |    ny1 * (ny1 - 1) + ny2 * (ny2 - 1) + ny3 * (ny3 - 1) +
        |    ny4 * (ny4 - 1) + ny5 * (ny5 - 1) + ny6 * (ny6 - 1) +
        |    ny7 * (ny7 - 1) AS tiey2
        |  FROM agg)
        |SELECT nation, n, c_pairs, d_pairs,
        |  tiex2 // 2 AS ties_x, tiey2 // 2 AS ties_y,
        |  CAST(c_pairs - d_pairs AS DOUBLE) /
        |    sqrt((CAST(n0x2 - tiex2 AS DOUBLE) / 2.0) *
        |      (CAST(n0x2 - tiey2 AS DOUBLE) / 2.0)) AS tau_b
        |FROM st
        |ORDER BY nation""".stripMargin,

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

    "q142_wilson_ranking" ->
      """WITH bb AS (SELECT p_brand, CAST(COUNT(1) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS k
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |  GROUP BY 1),
        |  st AS (SELECT p_brand, n, k,
        |    CAST(n AS DOUBLE) AS nd,
        |    CAST(k AS DOUBLE) / CAST(n AS DOUBLE) AS rate
        |  FROM bb),
        |  w AS (SELECT p_brand, n, k, rate,
        |    (rate + 3.8416 / (2.0 * nd)) / (1.0 + 3.8416 / nd) AS center,
        |    1.96 * sqrt(rate * (1.0 - rate) / nd +
        |      3.8416 / (4.0 * nd * nd)) / (1.0 + 3.8416 / nd) AS half
        |  FROM st),
        |  rk AS (SELECT p_brand, n, k, rate,
        |    center - half AS wilson_lb, center + half AS wilson_ub,
        |    CAST(ROW_NUMBER() OVER (ORDER BY rate DESC, p_brand)
        |      AS BIGINT) AS rank_raw,
        |    CAST(ROW_NUMBER() OVER (ORDER BY center - half DESC, p_brand)
        |      AS BIGINT) AS rank_lb
        |  FROM w)
        |SELECT p_brand, n, k, rate, wilson_lb, wilson_ub,
        |  rank_raw, rank_lb, rank_raw <> rank_lb AS moved
        |FROM rk
        |ORDER BY rank_lb""".stripMargin,

    "q143_simpson_reversal" ->
      """WITH t AS (SELECT CAST(month(l_shipdate) AS BIGINT) AS ship_month,
        |    l_discount >= 0.05 AS hi, l_returnflag = 'R' AS ret
        |  FROM lineitem),
        |  seg AS (SELECT ship_month,
        |    CAST(SUM(CASE WHEN hi AND ret THEN 1 ELSE 0 END)
        |      AS BIGINT) AS k1,
        |    CAST(SUM(CASE WHEN hi THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(SUM(CASE WHEN NOT hi AND ret THEN 1 ELSE 0 END)
        |      AS BIGINT) AS k0,
        |    CAST(SUM(CASE WHEN NOT hi THEN 1 ELSE 0 END) AS BIGINT) AS n0
        |  FROM t GROUP BY 1),
        |  dd AS (SELECT ship_month, k1, n1, k0, n0,
        |    k1 * n0 - k0 * n1 AS dseg,
        |    CAST(SUM(k1) OVER () AS BIGINT) * CAST(SUM(n0) OVER ()
        |      AS BIGINT) -
        |    CAST(SUM(k0) OVER () AS BIGINT) * CAST(SUM(n1) OVER ()
        |      AS BIGINT) AS dagg
        |  FROM seg),
        |  sg AS (SELECT ship_month, k1, n1, k0, n0,
        |    CAST(k1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS rate_hi,
        |    CAST(k0 AS DOUBLE) / CAST(n0 AS DOUBLE) AS rate_lo,
        |    CASE WHEN dseg > 0 THEN 1 WHEN dseg < 0 THEN -1
        |      ELSE 0 END AS dir_seg,
        |    CASE WHEN dagg > 0 THEN 1 WHEN dagg < 0 THEN -1
        |      ELSE 0 END AS dir_agg
        |  FROM dd)
        |SELECT ship_month, k1, n1, k0, n0, rate_hi, rate_lo,
        |  dir_seg, dir_agg,
        |  dir_seg <> 0 AND dir_seg <> dir_agg AS reversed
        |FROM sg
        |ORDER BY ship_month""".stripMargin,

    "q144_cohens_kappa" ->
      s"""WITH w AS (SELECT doc_id, string_split(TRIM(text), ' ')
        |    AS words FROM documents),
        |  ra AS (SELECT doc_id,
        |    (LEN(words) >= 10 AND
        |     CAST(LEN(list_distinct(words)) AS DOUBLE) / LEN(words)
        |       >= 0.5 AND
        |     CAST(LEN(list_filter(words, x -> x IN
        |       ('the', 'and', 'of', 'to', 'a', 'in', 'is'))) AS DOUBLE)
        |       / LEN(words) <= 0.4) AS a
        |  FROM w),
        |  ${Extended14.repetitionSql},
        |  rb AS (SELECT w.doc_id, COALESCE(dup.n_dup, 0) = 0 AS b
        |  FROM w LEFT JOIN dup USING (doc_id)),
        |  ${Extended14.agreementCellsSql("ra JOIN rb USING (doc_id)")},
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

    "q145_quantile_coverage" ->
      """WITH wk AS (SELECT
        |    CAST(datediff('day', DATE '1992-01-01',
        |      CAST(o_orderdate AS DATE)) AS BIGINT) // 7 AS wk,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |  grid AS (SELECT wk, cents, CAST(COUNT(1) AS BIGINT) AS cnt
        |    FROM wk GROUP BY 1, 2),
        |  pri AS (SELECT wk + off AS twk, cents, cnt
        |    FROM grid, UNNEST(generate_series(1, 8)) AS t(off)),
        |  pg AS (SELECT twk, cents, CAST(SUM(cnt) AS BIGINT) AS pcnt
        |    FROM pri GROUP BY 1, 2),
        |  cm AS (SELECT twk, cents, pcnt,
        |    CAST(SUM(pcnt) OVER (PARTITION BY twk ORDER BY cents
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cum,
        |    CAST(SUM(pcnt) OVER (PARTITION BY twk) AS BIGINT) AS tot
        |  FROM pg),
        |  bounds AS (SELECT twk, MAX(tot) AS n_prior,
        |    MIN(CASE WHEN 10 * cum >= tot THEN cents END) AS p10,
        |    MIN(CASE WHEN 10 * cum >= 9 * tot THEN cents END) AS p90
        |  FROM cm GROUP BY 1),
        |  cov AS (SELECT g.wk, b.n_prior, b.p10, b.p90,
        |    CAST(SUM(g.cnt) AS BIGINT) AS n_cur,
        |    CAST(SUM(CASE WHEN g.cents >= b.p10 AND g.cents <= b.p90
        |      THEN g.cnt ELSE 0 END) AS BIGINT) AS n_inside
        |  FROM grid g JOIN bounds b ON g.wk = b.twk
        |  GROUP BY 1, 2, 3, 4)
        |SELECT wk, n_prior, p10, p90, n_cur, n_inside,
        |  CAST(n_inside AS DOUBLE) / CAST(n_cur AS DOUBLE) AS coverage
        |FROM cov
        |ORDER BY wk""".stripMargin,

    "q146_cmh_test" ->
      s"""WITH items AS (SELECT l_orderkey, COUNT(1) AS n_items,
        |    CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
        |      AS BIGINT) AS cents
        |  FROM lineitem GROUP BY 1),
        |  per AS (SELECT n.n_name AS nation, i.cents, i.n_items
        |  FROM orders o
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN nation n ON c.c_nationkey = n.n_nationkey
        |  JOIN items i ON o.o_orderkey = i.l_orderkey),
        |  grid AS (SELECT cents, CAST(COUNT(1) AS BIGINT) AS c
        |    FROM per GROUP BY 1),
        |  cm AS (SELECT cents,
        |    CAST(SUM(c) OVER (ORDER BY cents
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cum,
        |    CAST(SUM(c) OVER () AS BIGINT) AS n
        |  FROM grid),
        |  med AS (SELECT MIN(CASE WHEN 2 * cum >= n THEN cents END)
        |    AS med FROM cm),
        |  cells AS (SELECT nation,
        |    CAST(SUM(CASE WHEN cents > med AND n_items >= 4
        |      THEN 1 ELSE 0 END) AS BIGINT) AS a,
        |    CAST(SUM(CASE WHEN cents > med AND n_items < 4
        |      THEN 1 ELSE 0 END) AS BIGINT) AS b,
        |    CAST(SUM(CASE WHEN cents <= med AND n_items >= 4
        |      THEN 1 ELSE 0 END) AS BIGINT) AS cc,
        |    CAST(SUM(CASE WHEN cents <= med AND n_items < 4
        |      THEN 1 ELSE 0 END) AS BIGINT) AS dd
        |  FROM per, med GROUP BY 1),
        |  st AS (SELECT nation, a, b, cc, dd,
        |    CAST(a + b + cc + dd AS DOUBLE) AS nd
        |  FROM cells),
        |  terms AS (SELECT a,
        |    CAST((a + b) * (a + cc) AS DOUBLE) / nd AS e,
        |    CAST(a + b AS DOUBLE) * CAST(cc + dd AS DOUBLE) *
        |      CAST(a + cc AS DOUBLE) * CAST(b + dd AS DOUBLE) /
        |      (nd * nd * (nd - 1.0)) AS v,
        |    CAST(a * dd AS DOUBLE) / nd AS mh_num,
        |    CAST(b * cc AS DOUBLE) / nd AS mh_den
        |  FROM st),
        |  agg AS (SELECT CAST(COUNT(1) AS BIGINT) AS n_strata,
        |    CAST(SUM(a) AS BIGINT) AS sum_a,
        |    ${graft.Parity.dsumSql("e")} AS sum_e,
        |    ${graft.Parity.dsumSql("v")} AS sum_v,
        |    ${graft.Parity.dsumSql("mh_num")} AS mh_num,
        |    ${graft.Parity.dsumSql("mh_den")} AS mh_den
        |  FROM terms),
        |  tt AS (SELECT n_strata, sum_a, sum_e, sum_v, mh_num, mh_den,
        |    GREATEST(abs(CAST(sum_a AS DOUBLE) - sum_e) - 0.5, 0.0) AS t
        |  FROM agg)
        |SELECT n_strata, sum_a, sum_e, sum_v,
        |  t * t / sum_v AS cmh_stat,
        |  mh_num / mh_den AS or_mh,
        |  t * t / sum_v > 3.841 AS reject_95
        |FROM tt""".stripMargin,

    "q147_jonckheere_trend" ->
      s"""WITH ${OrderRevenue.bucketCountsSql},
        |  grid AS (SELECT ca, cb, cc, t,
        |    COALESCE(CAST(SUM(ca) OVER wb AS BIGINT), 0) AS ba,
        |    COALESCE(CAST(SUM(cb) OVER wb AS BIGINT), 0) AS bb,
        |    COALESCE(CAST(SUM(cc) OVER wb AS BIGINT), 0) AS bc
        |  FROM g
        |  WINDOW wb AS (ORDER BY value
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |  agg AS (SELECT CAST(SUM(ca) AS BIGINT) AS na,
        |    CAST(SUM(cb) AS BIGINT) AS nb,
        |    CAST(SUM(cc) AS BIGINT) AS nc,
        |    CAST(SUM(cb * (2 * ba + ca) + cc * (2 * ba + ca) +
        |      cc * (2 * bb + cb)) AS BIGINT) AS jt2,
        |    CAST(SUM(t * (t - 1)) AS BIGINT) AS t2,
        |    CAST(SUM(t * (t - 1) * (t - 2)) AS BIGINT) AS t3,
        |    CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS t25
        |  FROM grid),
        |  st AS (SELECT na, nb, nc, na + nb + nc AS n, jt2, t2, t3, t25,
        |    na * (na - 1) + nb * (nb - 1) + nc * (nc - 1) AS g2,
        |    na * (na - 1) * (na - 2) + nb * (nb - 1) * (nb - 2) +
        |      nc * (nc - 1) * (nc - 2) AS g3,
        |    na * (na - 1) * (2 * na + 5) + nb * (nb - 1) * (2 * nb + 5) +
        |      nc * (nc - 1) * (2 * nc + 5) AS g25,
        |    CAST(na + nb + nc AS DOUBLE) AS nd
        |  FROM agg),
        |  fin AS (SELECT na, nb, nc, n,
        |    CAST(jt2 AS DOUBLE) / 2.0 AS jt,
        |    CAST(n * n - na * na - nb * nb - nc * nc AS DOUBLE) / 4.0
        |      AS mu,
        |    CAST(n * (n - 1) * (2 * n + 5) - g25 - t25 AS DOUBLE) / 72.0
        |      + CAST(g3 AS DOUBLE) * CAST(t3 AS DOUBLE) /
        |        (36.0 * nd * (nd - 1.0) * (nd - 2.0))
        |      + CAST(g2 AS DOUBLE) * CAST(t2 AS DOUBLE) /
        |        (8.0 * nd * (nd - 1.0)) AS sig2
        |  FROM st)
        |SELECT na, nb, nc, n, jt, mu,
        |  (jt - mu) / sqrt(sig2) AS z,
        |  (jt - mu) / sqrt(sig2) > 1.645 AS reject_95_ordered
        |FROM fin""".stripMargin,

    "t39_bpe_encode" -> {
      def round(i: Int): String =
        s"""r${i}p AS (SELECT UNNEST(CASE WHEN len(t) >= 2
           |    THEN list_transform(generate_series(1, len(t) - 1),
           |      i -> '[' || t[i] || '][' || t[i + 1] || ']')
           |    ELSE CAST([] AS VARCHAR[]) END) AS pair, wcnt
           |  FROM (SELECT string_split(substring(sym, 2,
           |      length(sym) - 2), '][') AS t, wcnt FROM s${i - 1})),
           |r${i}t AS (SELECT pair, CAST(SUM(wcnt) AS BIGINT) AS cnt,
           |    replace(pair, '][', '') AS merged
           |  FROM r${i}p GROUP BY 1 ORDER BY cnt DESC, pair LIMIT 1),
           |s$i AS (SELECT replace(sym, t.pair, t.merged) AS sym, wcnt
           |  FROM s${i - 1} CROSS JOIN r${i}t t)""".stripMargin
      s"""WITH w AS (SELECT UNNEST(list_filter(string_split(trim(text),
         |    ' '), x -> x <> '')) AS w FROM documents),
         |  wc AS (SELECT w, COUNT(1) AS wcnt FROM w GROUP BY 1),
         |  s0 AS (SELECT '[' || array_to_string(string_split(w, ''),
         |      '][') || ']' AS sym, wcnt FROM wc),
         |  ${(1 to 5).map(round).mkString(",\n")},
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
         |FROM agg""".stripMargin
    },

    "q148_friedman_concordance" ->
      s"""WITH ${OrderRevenue.blockRankSumsSql},
        |  st AS (SELECT n_blocks, r_narrow, r_mid, r_wide,
        |    r_narrow * r_narrow + r_mid * r_mid + r_wide * r_wide
        |      AS sr2,
        |    CAST(n_blocks AS DOUBLE) AS nd
        |  FROM agg),
        |  fin AS (SELECT n_blocks, r_narrow, r_mid, r_wide, nd,
        |    12.0 * CAST(sr2 AS DOUBLE) / (nd * 3.0 * 4.0) -
        |      3.0 * nd * 4.0 AS chi2_f
        |  FROM st)
        |SELECT n_blocks, r_narrow, r_mid, r_wide, chi2_f,
        |  chi2_f / (nd * 2.0) AS kendall_w,
        |  chi2_f > 5.991 AS reject_95
        |FROM fin""".stripMargin,

    "q149_raking_weights" -> {
      // MATERIALIZED per round: inlined CTEs would replicate the
      // 4-table base scan ~4^5 times (DuckDB exhausts file handles)
      def round(i: Int): String =
        s"""r${i}r AS MATERIALIZED (SELECT nation AS rn,
           |    ${graft.Parity.dsumSql("w * CAST(cnt AS DOUBLE)")} AS rm
           |  FROM w${i - 1} GROUP BY 1),
           |w${i}a AS MATERIALIZED (SELECT nation, grp, cnt,
           |    w * row_target / rm AS w, row_target, col_target
           |  FROM w${i - 1} JOIN r${i}r ON nation = rn),
           |r${i}c AS MATERIALIZED (SELECT grp AS cg,
           |    ${graft.Parity.dsumSql("w * CAST(cnt AS DOUBLE)")} AS cm
           |  FROM w${i}a GROUP BY 1),
           |w$i AS MATERIALIZED (SELECT nation, grp, cnt,
           |    w * col_target / cm AS w, row_target, col_target
           |  FROM w${i}a JOIN r${i}c ON grp = cg)""".stripMargin
      s"""WITH per AS (SELECT l_orderkey, COUNT(1) AS n_items
         |  FROM lineitem GROUP BY 1),
         |  j AS (SELECT n.n_name AS nation,
         |    CASE WHEN p.n_items <= 2 THEN 'narrow'
         |         WHEN p.n_items <= 5 THEN 'mid'
         |         ELSE 'wide' END AS grp
         |  FROM per p
         |  JOIN orders o ON p.l_orderkey = o.o_orderkey
         |  JOIN customer c ON o.o_custkey = c.c_custkey
         |  JOIN nation n ON c.c_nationkey = n.n_nationkey),
         |  grid AS MATERIALIZED (SELECT nation, grp,
         |    CAST(COUNT(1) AS BIGINT) AS cnt
         |    FROM j GROUP BY 1, 2),
         |  tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_all,
         |    CAST(COUNT(DISTINCT nation) AS BIGINT) AS n_nations
         |  FROM grid),
         |  w0 AS MATERIALIZED (SELECT nation, grp, cnt, 1.0 AS w,
         |    CAST(n_all AS DOUBLE) / CAST(n_nations AS DOUBLE)
         |      AS row_target,
         |    CAST(n_all AS DOUBLE) / 3.0 AS col_target
         |  FROM grid CROSS JOIN tot),
         |  ${(1 to 5).map(round).mkString(",\n")},
         |  rer AS (SELECT MAX(abs(rm - rt) / rt) AS e FROM (
         |    SELECT nation,
         |      ${graft.Parity.dsumSql("w * CAST(cnt AS DOUBLE)")} AS rm,
         |      MAX(row_target) AS rt
         |    FROM w5 GROUP BY 1)),
         |  cer AS (SELECT MAX(abs(cm - ct) / ct) AS e FROM (
         |    SELECT grp,
         |      ${graft.Parity.dsumSql("w * CAST(cnt AS DOUBLE)")} AS cm,
         |      MAX(col_target) AS ct
         |    FROM w5 GROUP BY 1)),
         |  me AS (SELECT MAX(e) AS me FROM (
         |    SELECT e FROM rer UNION ALL SELECT e FROM cer))
         |SELECT nation, grp, cnt, w,
         |  w * CAST(cnt AS DOUBLE) AS weighted_cnt,
         |  me AS max_margin_err
         |FROM w5 CROSS JOIN me
         |ORDER BY nation, grp""".stripMargin
    },

    "q150_moment_profile" ->
      """WITH per AS (SELECT l_orderkey,
        |    CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
        |      AS BIGINT) AS rev
        |  FROM lineitem GROUP BY 1),
        |  pts AS (SELECT n.n_name AS nation,
        |    CAST(p.rev // 100 AS HUGEINT) AS x
        |  FROM per p
        |  JOIN orders o ON p.l_orderkey = o.o_orderkey
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN nation n ON c.c_nationkey = n.n_nationkey),
        |  agg AS (SELECT nation, CAST(COUNT(1) AS BIGINT) AS n,
        |    SUM(x) AS s1, SUM(x * x) AS s2,
        |    SUM(x * x * x) AS s3, SUM(x * x * x * x) AS s4
        |  FROM pts GROUP BY 1),
        |  st AS (SELECT nation, n, CAST(n AS DOUBLE) AS nd,
        |    -- HUGEINT -> DOUBLE goes through VARCHAR: DuckDB's direct
        |    -- int128 cast double-rounds through the 64-bit halves (1
        |    -- ulp off on hard cases); the string parse is correctly
        |    -- rounded, matching Spark's Decimal.toDouble
        |    CAST(CAST(s1 AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE)
        |      AS mean,
        |    CAST(CAST(s2 AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE)
        |      AS r2,
        |    CAST(CAST(s3 AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE)
        |      AS r3,
        |    CAST(CAST(s4 AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE)
        |      AS r4
        |  FROM agg),
        |  cm AS (SELECT nation, n, mean,
        |    r2 - mean * mean AS m2c,
        |    r3 - 3.0 * mean * r2 + 2.0 * mean * mean * mean AS m3c,
        |    r4 - 4.0 * mean * r3 + 6.0 * mean * mean * r2 -
        |      3.0 * mean * mean * mean * mean AS m4c
        |  FROM st)
        |SELECT nation, n, mean, m2c AS variance,
        |  m3c / (sqrt(m2c) * m2c) AS skewness,
        |  m4c / (m2c * m2c) - 3.0 AS kurtosis_excess
        |FROM cm
        |ORDER BY nation""".stripMargin,

    "q151_median_ci" ->
      s"""WITH ${OrderRevenue.nationValueGridSql},
        |  cm AS (SELECT nation, v, c,
        |    CAST(SUM(c) OVER (PARTITION BY nation ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cum,
        |    CAST(SUM(c) OVER (PARTITION BY nation) AS BIGINT) AS n
        |  FROM grid),
        |  rk AS (SELECT nation, v, cum, n,
        |    CAST(floor((CAST(n AS DOUBLE) - 1.96 * sqrt(CAST(n AS
        |      DOUBLE))) / 2.0) AS BIGINT) AS k_lo,
        |    CAST(ceil(1.0 + (CAST(n AS DOUBLE) + 1.96 * sqrt(CAST(n AS
        |      DOUBLE))) / 2.0) AS BIGINT) AS k_hi
        |  FROM cm)
        |SELECT nation, MAX(n) AS n,
        |  MAX(k_lo) AS k_lo, MAX(k_hi) AS k_hi,
        |  MIN(CASE WHEN 2 * cum >= n THEN v END) AS median,
        |  MIN(CASE WHEN cum >= k_lo THEN v END) AS ci_lo,
        |  MIN(CASE WHEN cum >= k_hi THEN v END) AS ci_hi
        |FROM rk GROUP BY 1
        |ORDER BY nation""".stripMargin,

    "q152_sign_test" ->
      s"""WITH ${OrderRevenue.nationValueGridSql},
        |  wm AS (SELECT nation, v, c,
        |    CAST(SUM(c) OVER (PARTITION BY nation) AS BIGINT) AS n,
        |    CAST(SUM(v * c) OVER (PARTITION BY nation) AS BIGINT) AS s1
        |  FROM grid),
        |  agg AS (SELECT nation, MAX(n) AS n,
        |    CAST(SUM(CASE WHEN v * n < s1 THEN c ELSE 0 END)
        |      AS BIGINT) AS k_below,
        |    CAST(SUM(CASE WHEN v * n > s1 THEN c ELSE 0 END)
        |      AS BIGINT) AS k_above,
        |    CAST(SUM(CASE WHEN v * n = s1 THEN c ELSE 0 END)
        |      AS BIGINT) AS k_eq
        |  FROM wm GROUP BY 1),
        |  st AS (SELECT nation, n, k_below, k_above, k_eq,
        |    k_below + k_above AS m
        |  FROM agg)
        |SELECT nation, n, k_below, k_above, k_eq,
        |  (2.0 * CAST(k_below AS DOUBLE) - CAST(m AS DOUBLE) - 1.0) /
        |    sqrt(CAST(m AS DOUBLE)) AS z,
        |  (2.0 * CAST(k_below AS DOUBLE) - CAST(m AS DOUBLE) - 1.0) /
        |    sqrt(CAST(m AS DOUBLE)) > 1.96 AS reject_95
        |FROM st
        |ORDER BY nation""".stripMargin,

    "q153_bowley_skew" ->
      s"""WITH ${OrderRevenue.nationValueGridSql},
        |  cm AS (SELECT nation, v,
        |    CAST(SUM(c) OVER (PARTITION BY nation ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cum,
        |    CAST(SUM(c) OVER (PARTITION BY nation) AS BIGINT) AS n
        |  FROM grid)
        |SELECT nation, MAX(n) AS n,
        |  MIN(CASE WHEN 4 * cum >= n THEN v END) AS q1,
        |  MIN(CASE WHEN 4 * cum >= 2 * n THEN v END) AS median,
        |  MIN(CASE WHEN 4 * cum >= 3 * n THEN v END) AS q3,
        |  CAST(MIN(CASE WHEN 4 * cum >= 3 * n THEN v END) +
        |    MIN(CASE WHEN 4 * cum >= n THEN v END) -
        |    2 * MIN(CASE WHEN 4 * cum >= 2 * n THEN v END)
        |    AS DOUBLE) /
        |  CAST(MIN(CASE WHEN 4 * cum >= 3 * n THEN v END) -
        |    MIN(CASE WHEN 4 * cum >= n THEN v END) AS DOUBLE)
        |    AS bowley_skew
        |FROM cm GROUP BY 1
        |ORDER BY nation""".stripMargin)
}
