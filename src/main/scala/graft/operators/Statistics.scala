package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.{Parity, Tables}

/** Hypothesis tests and robust statistics: contingency and proportion
  * tests, rank tests (two-sample, k-sample, blocked and ordered
  * alternatives), rank correlation, robust location and scale, moment
  * and quantile shape, bootstrap intervals and survival analysis
  * (Kaplan–Meier, log-rank, Nelson–Aalen). Most read the order-revenue
  * frames in [[OrderRevenue]]. Integer or decimal carriers stay exact
  * until the final double projection, with the identical operation
  * sequence on both engines. Each query carries its DuckDB oracle twin.
  */
object Statistics extends OperatorFamily {

  /** The censored time-to-event carrier shared by q133 (Kaplan–Meier)
    * and q174 log-rank / q175 Nelson–Aalen: per user, the
    * minutes from first event to the first qualifying purchase
    * (value > 150), censored at the last observed event. user_id rides
    * along so callers can derive group splits. Materialized once — the
    * frame feeds the event-time grid, the at-risk tail, and the
    * factor-list collect (ScanAudit: 4 scans -> 1). */
  private[graft] def survivalDurations(
      s: SparkSession, d: String): DataFrame =
    Materialize.LocalCheckpoint(Tables.events(s, d)
      .groupBy(col("user_id"))
      .agg(min(col("ts")).as("ft"),
        min(when(col("event_type") === "purchase" &&
          col("value") > 150, col("ts"))).as("ev"),
        max(col("ts")).as("lt"))
      .select(col("user_id"), col("ev").isNotNull.as("is_event"),
        when(col("ev").isNotNull,
          expr("(unix_micros(CAST(ev AS TIMESTAMP)) - " +
            "unix_micros(CAST(ft AS TIMESTAMP))) div 60000000"))
          .otherwise(
            expr("(unix_micros(CAST(lt AS TIMESTAMP)) - " +
              "unix_micros(CAST(ft AS TIMESTAMP))) div 60000000"))
          .as("dur")))

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

  /** The survival-carrier oracle CTEs shared by q133/q174/q175 (mirrors
    * [[survivalDurations]]). */
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

  /** [[survCte]] plus the Kaplan–Meier / Nelson–Aalen risk sets (q133,
    * q175; twin of [[eventsAtRisk]]): `evts` (t, d events at each
    * event time) and `ar` (dur, n_risk at risk), over `dc` (dur,
    * c_all). */
  private val riskCtes = survCte +
    """,
      |  evts AS (SELECT dur AS t, COUNT(1) AS d FROM durs
      |    WHERE is_event GROUP BY 1),
      |  dc AS (SELECT dur, COUNT(1) AS c_all FROM durs GROUP BY 1),
      |  ar AS (SELECT dur, CAST(SUM(c_all) OVER (ORDER BY dur DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      AS BIGINT) AS n_risk
      |    FROM dc)""".stripMargin

  /** The event counts (t, d) and at-risk sets (dur, n_risk) of a
    * [[survivalDurations]] carrier (q133, q175). */
  private def eventsAtRisk(per: DataFrame): (DataFrame, DataFrame) = {
    val evts = per.filter(col("is_event"))
      .groupBy(col("dur").as("t")).agg(count(lit(1)).as("d"))
    val wDesc = Window.orderBy(col("dur").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val atRisk = per.groupBy(col("dur")).agg(count(lit(1)).as("c_all"))
      .withColumn("n_risk", sum(col("c_all")).over(wDesc))
      .select(col("dur"), col("n_risk"))
    (evts, atRisk)
  }

  /** Adds the distribution-free median CI order-statistic ranks
    * k_lo = ⌊(n − 1.96√n)/2⌋ and k_hi = ⌈1 + (n + 1.96√n)/2⌉ (and
    * nd = n as double) to a frame with count column n (q151, q170). */
  private def withMedianCiRanks(df: DataFrame): DataFrame =
    df.withColumn("nd", col("n").cast("double"))
      .withColumn("k_lo",
        floor((col("nd") - lit(1.96) * sqrt(col("nd"))) / lit(2.0))
          .cast("long"))
      .withColumn("k_hi",
        ceil(lit(1.0) + (col("nd") + lit(1.96) * sqrt(col("nd"))) /
          lit(2.0)).cast("long"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Exact WEIGHTED median — q50's percentile family extended with a
    // weight column (price weighted by quantity: "the median dollar,
    // not the median line item"). All integer arithmetic: cents-scaled
    // values, integral quantities, cumulative weights as longs; the
    // median is the smallest value whose cumulative weight reaches
    // half the total (2*cw >= tw avoids any division). Scale shape:
    // pre-collapse to (group, value) bounds the window frame by
    // distinct values; one group-keyed exchange serves both the
    // cumulative and total window sums.
    "q73_weighted_median" -> ((s, d) => {
      val g = Tables.lineitem(s, d)
        .select(col("l_returnflag"),
          Parity.cents2(col("l_extendedprice")).as("vc"),
          col("l_quantity").cast("long").as("w"))
        .groupBy(col("l_returnflag"), col("vc"))
        .agg(sum(col("w")).as("w"))
      val wcum = Window.partitionBy(col("l_returnflag")).orderBy(col("vc"))
      val wtot = Window.partitionBy(col("l_returnflag"))
      g.withColumn("cw", sum(col("w")).over(wcum))
        .withColumn("tw", sum(col("w")).over(wtot))
        .filter(col("cw") * 2 >= col("tw"))
        .groupBy(col("l_returnflag"))
        .agg(min(col("vc")).as("med_cents"), min(col("tw")).as("total_w"))
        .select(col("l_returnflag"),
          (col("med_cents").cast("double") / 100.0).as("weighted_median"),
          col("total_w"))
        .orderBy(col("l_returnflag"))
    }),

    // Deterministic grouped MODE — the most frequent value per group
    // with a total tie order (count desc, then value asc), which the
    // built-in `mode()` does not guarantee across partitionings: a
    // nondeterministic aggregate can pass one run and hash-mismatch
    // the next, so the deterministic form is the only oracle-safe one.
    // Scale shape: (group, value) partial-aggregated count, then a
    // per-group window pick — both exchanges key-only.
    "q74_grouped_mode" -> ((s, d) => {
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("cnt").desc, col("k"))
      Tables.events(s, d)
        .select(col("event_type"),
          pmod(col("user_id"), lit(25)).as("k"))
        .groupBy(col("event_type"), col("k"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .select(col("event_type"), col("k").as("mode_k"),
          col("cnt").as("n_occurrences"))
        .orderBy(col("event_type"))
    }),

    // ROBUST anomaly detection: per event type, exact median and MAD
    // (median absolute deviation), then count values outside the
    // standard 3-sigma-equivalent fence 3 x 1.4826 x MAD. Median/MAD
    // resist the very outliers they hunt (mean/stddev do not), which
    // is why monitoring pipelines prefer them. Shape: two grouped
    // exact-percentile aggregates over a 5-group key plus one
    // broadcast join of the 5-row median frame back onto events — the
    // only full-data exchange is the groupBy(event_type) itself, and
    // partial aggregation collapses it map-side. percentile() here is
    // exact (the group count is bounded per type at any scale by
    // the type cardinality, not corpus size... the per-group sort is
    // the cost; for unbounded groups swap in the q52 KMV quantile
    // sketch — same query shape, mergeable state).
    "q85_robust_anomaly" -> ((s, d) => {
      val e = Tables.events(s, d).select(col("event_type"), col("value"))
      val med = e.groupBy(col("event_type"))
        .agg(expr("percentile(value, 0.5)").as("med"))
      val dev = e.join(broadcast(med), "event_type")
        .withColumn("ad", abs(col("value") - col("med")))
      val mad = dev.groupBy(col("event_type"))
        .agg(expr("percentile(ad, 0.5)").as("mad"))
      dev.join(broadcast(mad), "event_type")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          first(col("med")).as("med"),
          first(col("mad")).as("mad"),
          sum(when(col("ad") > lit(3d) * lit(1.4826) * col("mad"), 1L)
            .otherwise(0L)).as("n_anom"))
        .orderBy(col("event_type"))
    }),

    // CHI-SQUARE association screen: the contingency table of customer
    // market segment x order priority with each cell's observed count,
    // expected count under independence, and chi-square contribution —
    // the data-profiling test behind "does segment drive priority mix?"
    // One row PER CELL (the q99 Benford rule): the chi-square scalar
    // would sum doubles in engine-dependent order, but each cell's term
    // is a pure function of four exact integers (obs, row/col/grand
    // totals), so both engines compute bit-identical doubles. Scale
    // shape: orders exchanges once on o_custkey against customer
    // (co-partitioned join), partial-aggregates map-side to
    // |segments| x |priorities| cells; every window below runs over
    // that tiny frame. Total products ride decimals so the math
    // survives row counts past 3e9 (long x long would wrap).
    "q103_chisq_association" -> ((s, d) => {
      val dec = DecimalType(38, 0)
      val cells = Tables.orders(s, d)
        .select(col("o_custkey"), col("o_orderpriority"))
        .join(Tables.customer(s, d)
          .select(col("c_custkey"), col("c_mktsegment")),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment").as("segment"),
          col("o_orderpriority").as("priority"))
        .agg(count(lit(1)).as("n_obs"))
      val wr = Window.partitionBy(col("segment"))
      val wc = Window.partitionBy(col("priority"))
      val wg = Window.partitionBy()
      cells
        .withColumn("row_tot", sum(col("n_obs")).over(wr))
        .withColumn("col_tot", sum(col("n_obs")).over(wc))
        .withColumn("grand", sum(col("n_obs")).over(wg))
        .withColumn("expected",
          (col("row_tot").cast(dec) * col("col_tot").cast(dec))
            .cast("double") / col("grand").cast("double"))
        .select(col("segment"), col("priority"), col("n_obs"),
          col("expected"),
          ((col("n_obs").cast("double") - col("expected"))
            * (col("n_obs").cast("double") - col("expected"))
            / col("expected")).as("chi2_term"))
        .orderBy(col("segment"), col("priority"))
    }),

    // CORRELATION screen over order-shape variables: Pearson r between
    // line count, total quantity, and ship-date span per order — the
    // data-profiling pass that finds which dimensions move together
    // (here: baskets with more lines carry more quantity, r ≈ 0.86).
    // All three variables are small exact integers, and r is computed
    // from the six raw moments (n, Σa, Σb, Σab, Σa², Σb²) gathered in
    // ONE aggregation pass — never avg/corr of per-row doubles, which
    // would be merge-order-dependent. Moment products ride
    // DECIMAL(38,0); through sf0.1 every product also stays below 2⁵³,
    // so the oracle's HUGEINT→DOUBLE conversion is exact and the final
    // divisions match bit-for-bit (at warehouse scale the Spark side
    // stays exact decimal; only the DuckDB twin would round). Scale
    // shape: one exchange on l_orderkey (partial-agg first) to build
    // the per-order frame, then a 1-row total aggregate; the stack to
    // pair rows is driver-free and row-local.
    "q111_order_shape_corr" -> ((s, d) => {
      val dec = DecimalType(38, 0)
      val per = Tables.lineitem(s, d)
        .select(col("l_orderkey"),
          round(col("l_quantity")).cast("long").as("q"),
          col("l_shipdate").cast("date").as("sd"))
        .groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("a"), sum(col("q")).as("b"),
          datediff(max(col("sd")), min(col("sd"))).cast("long").as("c"))
      def m2(x: String, y: String) =
        sum((col(x).cast(dec) * col(y)).cast(dec)).as(s"s_$x$y")
      val m = per.agg(
        count(lit(1)).as("n"),
        sum(col("a")).as("s_a"), sum(col("b")).as("s_b"),
        sum(col("c")).as("s_c"),
        m2("a", "a"), m2("b", "b"), m2("c", "c"),
        m2("a", "b"), m2("a", "c"), m2("b", "c"))
      def corr2(sa: String, sb: String, sab: String,
                saa: String, sbb: String) =
        ((col("n").cast(dec) * col(sab) -
            (col(sa).cast(dec) * col(sb)).cast(dec)).cast("double") /
          (sqrt((col("n").cast(dec) * col(saa) -
              (col(sa).cast(dec) * col(sa)).cast(dec)).cast("double")) *
            sqrt((col("n").cast(dec) * col(sbb) -
              (col(sb).cast(dec) * col(sb)).cast(dec)).cast("double"))))
      m.select(col("n"), array(
          struct(lit("lines").as("var_a"), lit("quantity").as("var_b"),
            corr2("s_a", "s_b", "s_ab", "s_aa", "s_bb").as("r")),
          struct(lit("lines").as("var_a"), lit("ship_span").as("var_b"),
            corr2("s_a", "s_c", "s_ac", "s_aa", "s_cc").as("r")),
          struct(lit("quantity").as("var_a"),
            lit("ship_span").as("var_b"),
            corr2("s_b", "s_c", "s_bc", "s_bb", "s_cc").as("r")))
          .as("pairs"))
        .select(col("n"), explode(col("pairs")).as("p"))
        .select(col("p.var_a").as("var_a"), col("p.var_b").as("var_b"),
          col("n"), col("p.r").as("r"))
        .orderBy(col("var_a"), col("var_b"))
    }),

    // RETURN-RATE outlier screen — the per-entity proportion test
    // (q103 tests a whole contingency table; this scores each
    // supplier against the corpus): one-sample two-sided z on each
    // supplier's return share vs the global share,
    // z = (k·N − K·n)/√(n·K·(N−K)), which is the textbook
    // (p̂−p₀)/√(p₀(1−p₀)/n) cleared of divisions — four exact
    // integers under one √. The |z| > 2 flag is decided in EXACT
    // decimal arithmetic ((kN−Kn)² > 4·n·K·(N−K), the q108 rule), so
    // no float boundary picks outliers; the reported z is the
    // shared-structure double. Scale shape: one partial-agg keyed on
    // l_suppkey (map-side combine collapses the fact table); the
    // global (N, K) ride a window over the supplier dimension frame.
    "q118_return_rate_outliers" -> ((s, d) => {
      val dec = DecimalType(38, 0)
      val per = Tables.lineitem(s, d)
        .groupBy(col("l_suppkey").as("suppkey"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("l_returnflag") === "R", 1L).otherwise(0L))
            .as("k"))
      // corpus totals as a 1-row broadcast (q76 pattern) — an empty-
      // partition window here would serialize the |suppliers| frame
      // through one task
      val tot = per.agg(sum(col("n")).as("nn"), sum(col("k")).as("kk"))
      per
        .join(broadcast(tot), lit(true))
        .withColumn("num",
          col("k").cast(dec) * col("nn") - col("kk").cast(dec) * col("n"))
        .withColumn("den2",
          (col("n").cast(dec) * col("kk")).cast(dec)
            * (col("nn") - col("kk")))
        .select(col("suppkey"), col("n"), col("k"),
          (col("kk").cast("double") / col("nn").cast("double"))
            .as("global_rate"),
          (col("k").cast("double") / col("n").cast("double"))
            .as("rate"),
          (col("num").cast("double") / sqrt(col("den2").cast("double")))
            .as("z"),
          ((col("num").cast(dec) * col("num")).cast(dec) >
            col("den2") * 4).as("is_outlier"))
        .orderBy(col("suppkey"))
    }),

    // KAPLAN-MEIER SURVIVAL CURVE — censored time-to-event analysis,
    // the family q81/q97 (completed-funnel timings) cannot express:
    // "how long until a user's first high-value purchase", where users
    // who never get there are CENSORED at their last observed event
    // (83 of 150 users on this corpus — dropping them would bias the
    // curve optimistic-early, K-M's whole reason to exist). Per event
    // time t (minutes since the user's first event): d_t events among
    // n_t at-risk (duration ≥ t, events and censored alike), and
    // S(t) = Π_{u ≤ t} (n_u − d_u)/n_u. The product is the classic
    // cross-engine hazard — no cumulative-product window exists and
    // float multiplication is non-associative, so BOTH engines compute
    // the identical LEFT FOLD: the per-curve factor list is collected
    // once (sorted, |event times| entries — bounded by the time grid,
    // not the user count), broadcast back, and each row folds its
    // rank-prefix slice(1, rn) with init 1.0 — plain IEEE multiplies
    // in an identical sequence, no libm (the q127 re-express-the-scan
    // stance applied to products). Scale shape: the only fact exchange
    // is the per-user groupBy; everything after runs on per-duration
    // counts; the at-risk tail sum is a window over distinct durations
    // (calendar-bounded, the t28/q115 stance).
    "q133_survival_km" -> ((s, d) => {
      val (evts, atRisk) = eventsAtRisk(survivalDurations(s, d))
      val km = evts.join(atRisk, col("t") === col("dur"))
        .select(col("t"), col("d"), col("n_risk"))
        .withColumn("factor",
          (col("n_risk") - col("d")).cast("double") /
            col("n_risk").cast("double"))
        .withColumn("rn", row_number().over(Window.orderBy(col("t"))))
      val lst = km.agg(sort_array(collect_list(
        struct(col("t"), col("factor")))).as("lst"))
      km.join(broadcast(lst), lit(true))
        .withColumn("survival", expr(
          "aggregate(transform(slice(lst, 1, rn), s -> s.factor), " +
            "CAST(1.0 AS DOUBLE), (a, x) -> a * x)"))
        .select(col("t").as("t_min"), col("n_risk"),
          col("d").as("n_events"), col("survival"))
        .orderBy(col("t_min"))
    }),

    // MANN-WHITNEY U (Wilcoxon rank-sum) — the nonparametric two-sample
    // location test beside t36's KS (distribution shape), q103's
    // chi-square (categorical association) and q118's proportion test:
    // does per-order revenue run higher for wide orders (≥6 items)
    // than narrow ones (≤2)? (A pair chosen because it genuinely
    // separates on this corpus — the q108 attainability rule; event
    // values are identical across types here by construction and
    // would never reject.) Ranks are computed WITHOUT a per-row
    // global sort: group by distinct whole-dollar revenue → (ca, cb)
    // counts, then one cumulative window over the pooled
    // DISTINCT-value grid (t36's pooled-jump-point stance — the
    // window frame is the value grid, bounded by the price range,
    // not the order stream). Tie-aware midranks stay exact integers
    // by carrying 2·midrank = 2·count_below + ties + 1; the rank sum,
    // U, and the tie-corrected variance all assemble from exact
    // longs, with doubles only in the final identical-sequence
    // divisions and ONE sqrt (IEEE-exact, not libm). Scale shape: the
    // only fact exchange is the per-order rollup; everything after
    // runs on the value grid.
    "q134_mannwhitney_u" -> ((s, d) => {
      val ev = OrderRevenue.widthCounts(s, d)
      val wBelow = Window.orderBy(col("value"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val grid = ev
        .withColumn("below", coalesce(sum(col("t")).over(wBelow), lit(0L)))
        .withColumn("r2", lit(2L) * col("below") + col("t") + 1L)
      grid.agg(
          sum(col("ca")).as("n1"), sum(col("cb")).as("n2"),
          sum(col("ca") * col("r2")).as("ra2"),
          sum(col("t") * col("t") * col("t") - col("t")).as("tie3"))
        .withColumn("n", col("n1") + col("n2"))
        .withColumn("u_stat",
          (col("ra2") - col("n1") * (col("n1") + 1L)).cast("double") /
            lit(2.0))
        .withColumn("mu",
          col("n1").cast("double") * col("n2").cast("double") / lit(2.0))
        .withColumn("sigma", sqrt(
          col("n1").cast("double") * col("n2").cast("double") / lit(12.0) *
            ((col("n") + 1L).cast("double") -
              col("tie3").cast("double") /
                (col("n").cast("double") * (col("n") - 1L).cast("double")))))
        .withColumn("z", (col("u_stat") - col("mu")) / col("sigma"))
        .select(col("n1"), col("n2"), col("u_stat"), col("mu"),
          col("sigma"), col("z"),
          (abs(col("z")) > 1.96).as("reject_95"))
    }),

    // SPEARMAN RANK CORRELATION per nation — the robust companion to
    // q111's Pearson moment correlations: monotone association between
    // an order's lineitem revenue and its item count (strongly
    // positive on this corpus, so the statistic demonstrably fires;
    // the tie-heavy item-count side exercises the midrank machinery),
    // immune to the heavy price tail that inflates a raw-moment r. Midranks
    // are exact integers scaled by 2 (2·rank_min + ties − 1, the q134
    // carrier), computed with PARTITIONED windows per nation (rank +
    // tie count — no global stage); the correlation assembles from
    // exact long moments of the 2-ranks, combined in doubles with an
    // identical operation sequence and one IEEE sqrt. Scale shape: the
    // lineitem rollup and the per-nation windows are the only
    // exchanges, all keyed; moments partial-aggregate map-side to one
    // row per nation. Long-range note: 2-rank moments hold exactly in
    // longs to ~5e5 orders per nation; the final n·Sxy products run in
    // doubles (correctly rounded, cross-engine identical) at any n.
    "q135_spearman_corr" -> ((s, d) => {
      val orders = OrderRevenue.perOrderNation(s, d)
        .select(col("nation"), col("cents").as("x"), col("n_items").as("y"))
      def rank2(c: String): Column = {
        val wLess = Window.partitionBy(col("nation")).orderBy(col(c))
        val wTie = Window.partitionBy(col("nation"), col(c))
        lit(2L) * (rank().over(wLess).cast("long") - 1L) +
          count(lit(1)).over(wTie) - 1L + 2L
      }
      orders
        .withColumn("rx", rank2("x"))
        .withColumn("ry", rank2("y"))
        .groupBy(col("nation"))
        .agg(count(lit(1)).as("n"),
          sum(col("rx")).as("sx"), sum(col("ry")).as("sy"),
          sum(col("rx") * col("ry")).as("sxy"),
          sum(col("rx") * col("rx")).as("sxx"),
          sum(col("ry") * col("ry")).as("syy"))
        .select(col("nation"), col("n"),
          ((col("n").cast("double") * col("sxy").cast("double") -
            col("sx").cast("double") * col("sy").cast("double")) /
            sqrt((col("n").cast("double") * col("sxx").cast("double") -
              col("sx").cast("double") * col("sx").cast("double")) *
              (col("n").cast("double") * col("syy").cast("double") -
                col("sy").cast("double") * col("sy").cast("double"))))
            .as("spearman_rho"))
        .orderBy(col("nation"))
    }),

    // TRIMMED + WINSORIZED MEAN per order priority — the robust
    // location aggregates beside q85's median/MAD fences and q73's
    // weighted median: drop (trim) or clamp (winsorize) the 5% tails
    // before averaging, so a fat right tail stops dragging the mean.
    // Both are computed EXACTLY with no row-level sort window: the
    // per-(priority, cents) count grid carries cumulative counts (the
    // q73/q134 value-grid stance), and each value's kept multiplicity
    // is an integer interval intersection
    // max(0, min(cum, n−g) − max(cum−cnt, g)) with g = ⌈n/20⌉ — ties
    // at the boundary drop exactly as many copies as trimming
    // requires, with the same sum no matter which copies a sort would
    // have picked. Winsorized sum adds g copies of each kept extreme
    // back. All integer cents until three final identical-sequence
    // divisions. Scale shape: the only fact exchange is the
    // (priority, cents) rollup; cumulative windows run per priority
    // over the bounded price grid, never the order stream.
    "q137_trimmed_mean" -> ((s, d) => {
      val grid = Tables.orders(s, d)
        .groupBy(col("o_orderpriority").as("p"),
          Parity.cents2(col("o_totalprice")).as("cents"))
        .agg(count(lit(1)).as("cnt"))
      val wCum = Window.partitionBy(col("p")).orderBy(col("cents"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy(col("p"))
      val marked = grid
        .withColumn("cum", sum(col("cnt")).over(wCum))
        .withColumn("n", sum(col("cnt")).over(wAll))
        .withColumn("g", expr("(n + 19) div 20"))
        .withColumn("kept", greatest(lit(0L),
          least(col("cum"), col("n") - col("g")) -
            greatest(col("cum") - col("cnt"), col("g"))))
      marked.groupBy(col("p"))
        .agg(max(col("n")).as("n_orders"), max(col("g")).as("g"),
          sum(col("cents") * col("cnt")).as("sum_all"),
          sum(col("cents") * col("kept")).as("sum_kept"),
          min(when(col("kept") > 0, col("cents"))).as("lo"),
          max(when(col("kept") > 0, col("cents"))).as("hi"))
        .select(col("p"), col("n_orders"),
          (col("sum_all").cast("double") /
            col("n_orders").cast("double") / lit(100.0))
            .as("mean_dollars"),
          (col("sum_kept").cast("double") /
            (col("n_orders") - lit(2L) * col("g")).cast("double") /
            lit(100.0)).as("trimmed_mean_dollars"),
          ((col("sum_kept") + col("g") * col("lo") +
            col("g") * col("hi")).cast("double") /
            col("n_orders").cast("double") / lit(100.0))
            .as("winsor_mean_dollars"))
        .orderBy(col("p"))
    }),

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
      withMedianCiRanks(OrderRevenue.nationValueCum(s, d))
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
    }),

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
      withMedianCiRanks(win)
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
      val per = survivalDurations(s, d)
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
      val (evts, atRisk) = eventsAtRisk(survivalDurations(s, d))
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
    }))

  def oracleSql: Map[String, String] = Map(

    "q73_weighted_median" ->
      """WITH g AS (SELECT l_returnflag,
             CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS vc,
             CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
           FROM lineitem GROUP BY 1, 2),
         c AS (SELECT l_returnflag, vc, w,
             CAST(SUM(w) OVER (PARTITION BY l_returnflag ORDER BY vc)
               AS BIGINT) AS cw,
             CAST(SUM(w) OVER (PARTITION BY l_returnflag) AS BIGINT) AS tw
           FROM g)
         SELECT l_returnflag,
           CAST(MIN(vc) AS DOUBLE) / 100.0 AS weighted_median,
           CAST(MIN(tw) AS BIGINT) AS total_w
         FROM c WHERE cw * 2 >= tw
         GROUP BY l_returnflag ORDER BY l_returnflag""",

    "q74_grouped_mode" ->
      """WITH c AS (SELECT event_type, user_id % 25 AS k, COUNT(1) AS cnt
                    FROM events GROUP BY 1, 2)
         SELECT event_type, k AS mode_k, cnt AS n_occurrences FROM (
           SELECT event_type, k, cnt,
                  ROW_NUMBER() OVER (PARTITION BY event_type
                    ORDER BY cnt DESC, k) AS rk
           FROM c) t
         WHERE rk = 1 ORDER BY event_type""",

    "q85_robust_anomaly" ->
      """WITH med AS (SELECT event_type, quantile_cont(value, 0.5) AS med
                      FROM events GROUP BY 1),
         dev AS (SELECT e.event_type, e.value, med.med,
                        abs(e.value - med.med) AS ad
                 FROM events e JOIN med USING (event_type)),
         mad AS (SELECT event_type, quantile_cont(ad, 0.5) AS mad
                 FROM dev GROUP BY 1)
         SELECT d.event_type, COUNT(*) AS n,
                any_value(d.med) AS med, any_value(mad.mad) AS mad,
                CAST(SUM(CASE WHEN d.ad > 3 * 1.4826 * mad.mad
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_anom
         FROM dev d JOIN mad USING (event_type)
         GROUP BY 1 ORDER BY 1""",

    "q103_chisq_association" ->
      """WITH cells AS (SELECT c_mktsegment AS segment,
             o_orderpriority AS priority, COUNT(1) AS n_obs
           FROM orders JOIN customer ON o_custkey = c_custkey
           GROUP BY 1, 2),
         t AS (SELECT segment, priority, n_obs,
             CAST(SUM(n_obs) OVER (PARTITION BY segment) AS BIGINT)
               AS row_tot,
             CAST(SUM(n_obs) OVER (PARTITION BY priority) AS BIGINT)
               AS col_tot,
             CAST(SUM(n_obs) OVER () AS BIGINT) AS grand
           FROM cells)
         SELECT segment, priority, n_obs,
           CAST(CAST(row_tot AS HUGEINT) * col_tot AS DOUBLE)
             / CAST(grand AS DOUBLE) AS expected,
           (CAST(n_obs AS DOUBLE)
              - CAST(CAST(row_tot AS HUGEINT) * col_tot AS DOUBLE)
                / CAST(grand AS DOUBLE))
           * (CAST(n_obs AS DOUBLE)
              - CAST(CAST(row_tot AS HUGEINT) * col_tot AS DOUBLE)
                / CAST(grand AS DOUBLE))
           / (CAST(CAST(row_tot AS HUGEINT) * col_tot AS DOUBLE)
              / CAST(grand AS DOUBLE)) AS chi2_term
         FROM t ORDER BY segment, priority""",

    "q111_order_shape_corr" -> {
      def corr2(sa: String, sb: String, sab: String,
                saa: String, sbb: String) =
        s"""CAST(n * $sab - $sa * $sb AS DOUBLE)
            / (sqrt(CAST(n * $saa - $sa * $sa AS DOUBLE))
               * sqrt(CAST(n * $sbb - $sb * $sb AS DOUBLE)))"""
      s"""WITH per AS (SELECT l_orderkey, COUNT(1) AS a,
             CAST(SUM(CAST(round(l_quantity) AS BIGINT)) AS BIGINT)
               AS b,
             CAST(datediff('day', MIN(CAST(l_shipdate AS DATE)),
               MAX(CAST(l_shipdate AS DATE))) AS BIGINT) AS c
           FROM lineitem GROUP BY 1),
         m AS (SELECT CAST(COUNT(1) AS HUGEINT) AS n,
             CAST(SUM(a) AS HUGEINT) AS s_a,
             CAST(SUM(b) AS HUGEINT) AS s_b,
             CAST(SUM(c) AS HUGEINT) AS s_c,
             CAST(SUM(CAST(a AS HUGEINT) * a) AS HUGEINT) AS s_aa,
             CAST(SUM(CAST(b AS HUGEINT) * b) AS HUGEINT) AS s_bb,
             CAST(SUM(CAST(c AS HUGEINT) * c) AS HUGEINT) AS s_cc,
             CAST(SUM(CAST(a AS HUGEINT) * b) AS HUGEINT) AS s_ab,
             CAST(SUM(CAST(a AS HUGEINT) * c) AS HUGEINT) AS s_ac,
             CAST(SUM(CAST(b AS HUGEINT) * c) AS HUGEINT) AS s_bc
           FROM per)
         SELECT var_a, var_b, CAST(n AS BIGINT) AS n, r FROM (
           SELECT 'lines' AS var_a, 'quantity' AS var_b, n,
             ${corr2("s_a", "s_b", "s_ab", "s_aa", "s_bb")} AS r FROM m
           UNION ALL
           SELECT 'lines', 'ship_span', n,
             ${corr2("s_a", "s_c", "s_ac", "s_aa", "s_cc")} FROM m
           UNION ALL
           SELECT 'quantity', 'ship_span', n,
             ${corr2("s_b", "s_c", "s_bc", "s_bb", "s_cc")} FROM m) t
         ORDER BY var_a, var_b"""
    },

    "q118_return_rate_outliers" ->
      """WITH per AS (SELECT l_suppkey AS suppkey, COUNT(1) AS n,
             CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
               AS BIGINT) AS k
           FROM lineitem GROUP BY 1),
         tot AS (SELECT suppkey, n, k,
             CAST(SUM(n) OVER () AS BIGINT) AS nn,
             CAST(SUM(k) OVER () AS BIGINT) AS kk
           FROM per),
         sc AS (SELECT suppkey, n, k, nn, kk,
             CAST(k AS HUGEINT) * nn - CAST(kk AS HUGEINT) * n AS num,
             CAST(n AS HUGEINT) * kk * (nn - kk) AS den2
           FROM tot)
         SELECT suppkey, n, k,
           CAST(kk AS DOUBLE) / CAST(nn AS DOUBLE) AS global_rate,
           CAST(k AS DOUBLE) / CAST(n AS DOUBLE) AS rate,
           CAST(num AS DOUBLE) / sqrt(CAST(den2 AS DOUBLE)) AS z,
           num * num > den2 * 4 AS is_outlier
         FROM sc ORDER BY suppkey""",

    "q133_survival_km" ->
      s"""WITH $riskCtes,
        |  km AS (SELECT t, d, n_risk,
        |      CAST(n_risk - d AS DOUBLE) / CAST(n_risk AS DOUBLE)
        |        AS factor,
        |      ROW_NUMBER() OVER (ORDER BY t) AS rn
        |    FROM evts JOIN ar ON t = ar.dur),
        |  lst AS (SELECT list(struct_pack(t := t, factor := factor)
        |      ORDER BY t) AS l FROM km)
        |SELECT km.t AS t_min, km.n_risk, km.d AS n_events,
        |  list_reduce(list_prepend(CAST(1.0 AS DOUBLE),
        |    list_transform(list_slice(l.l, 1, rn), s -> s.factor)),
        |    (a, x) -> a * x) AS survival
        |FROM km CROSS JOIN lst l
        |ORDER BY t_min""".stripMargin,

    "q134_mannwhitney_u" ->
      s"""WITH ${OrderRevenue.perOrderSql},
        |  s AS (SELECT cents // 100 AS value, n_items >= 6 AS wide
        |    FROM per WHERE n_items <= 2 OR n_items >= 6),
        |  ev AS (SELECT value,
        |    CAST(SUM(CASE WHEN wide THEN 1 ELSE 0
        |      END) AS BIGINT) AS ca,
        |    CAST(SUM(CASE WHEN NOT wide THEN 1 ELSE 0
        |      END) AS BIGINT) AS cb
        |  FROM s
        |  GROUP BY 1),
        |  g AS (SELECT value, ca, cb, ca + cb AS t FROM ev),
        |  grid AS (SELECT ca, cb, t,
        |    COALESCE(CAST(SUM(t) OVER (ORDER BY value
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS BIGINT), 0) AS below
        |  FROM g),
        |  r AS (SELECT ca, cb, t, 2 * below + t + 1 AS r2 FROM grid),
        |  agg AS (SELECT CAST(SUM(ca) AS BIGINT) AS n1,
        |    CAST(SUM(cb) AS BIGINT) AS n2,
        |    CAST(SUM(ca * r2) AS BIGINT) AS ra2,
        |    CAST(SUM(t * t * t - t) AS BIGINT) AS tie3 FROM r),
        |  st AS (SELECT n1, n2, n1 + n2 AS n,
        |    CAST(ra2 - n1 * (n1 + 1) AS DOUBLE) / 2.0 AS u_stat,
        |    CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 2.0 AS mu,
        |    sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 12.0 *
        |      (CAST(n1 + n2 + 1 AS DOUBLE) - CAST(tie3 AS DOUBLE) /
        |        (CAST(n1 + n2 AS DOUBLE)
        |          * CAST(n1 + n2 - 1 AS DOUBLE)))) AS sigma
        |  FROM agg)
        |SELECT n1, n2, u_stat, mu, sigma,
        |  (u_stat - mu) / sigma AS z,
        |  abs((u_stat - mu) / sigma) > 1.96 AS reject_95
        |FROM st""".stripMargin,

    "q135_spearman_corr" ->
      """WITH items AS (SELECT l_orderkey, COUNT(1) AS n_items,
        |      CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
        |        AS BIGINT) AS rev
        |    FROM lineitem GROUP BY 1),
        |  o AS (SELECT n_name AS nation, rev AS x, n_items AS y
        |    FROM orders JOIN customer ON o_custkey = c_custkey
        |      JOIN nation ON c_nationkey = n_nationkey
        |      JOIN items ON o_orderkey = l_orderkey),
        |  r AS (SELECT nation,
        |      2 * (RANK() OVER (PARTITION BY nation ORDER BY x) - 1)
        |        + COUNT(1) OVER (PARTITION BY nation, x) - 1 + 2 AS rx,
        |      2 * (RANK() OVER (PARTITION BY nation ORDER BY y) - 1)
        |        + COUNT(1) OVER (PARTITION BY nation, y) - 1 + 2 AS ry
        |    FROM o),
        |  m AS (SELECT nation, COUNT(1) AS n,
        |      CAST(SUM(rx) AS BIGINT) AS sx,
        |      CAST(SUM(ry) AS BIGINT) AS sy,
        |      CAST(SUM(rx * ry) AS BIGINT) AS sxy,
        |      CAST(SUM(rx * rx) AS BIGINT) AS sxx,
        |      CAST(SUM(ry * ry) AS BIGINT) AS syy
        |    FROM r GROUP BY 1)
        |SELECT nation, n,
        |  (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
        |    sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
        |      (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
        |        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
        |    AS spearman_rho
        |FROM m ORDER BY nation""".stripMargin,

    "q137_trimmed_mean" ->
      """WITH grid AS (SELECT o_orderpriority AS p,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
        |    COUNT(1) AS cnt
        |  FROM orders GROUP BY 1, 2),
        |  marked AS (SELECT p, cents, cnt,
        |    CAST(SUM(cnt) OVER (PARTITION BY p ORDER BY cents
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cum,
        |    CAST(SUM(cnt) OVER (PARTITION BY p) AS BIGINT) AS n
        |  FROM grid),
        |  kept AS (SELECT p, cents, cnt, cum, n, (n + 19) // 20 AS g,
        |    GREATEST(CAST(0 AS BIGINT),
        |      LEAST(cum, n - (n + 19) // 20) -
        |        GREATEST(cum - cnt, (n + 19) // 20)) AS kept
        |  FROM marked),
        |  agg AS (SELECT p, MAX(n) AS n_orders, MAX(g) AS g,
        |    CAST(SUM(cents * cnt) AS BIGINT) AS sum_all,
        |    CAST(SUM(cents * kept) AS BIGINT) AS sum_kept,
        |    MIN(CASE WHEN kept > 0 THEN cents END) AS lo,
        |    MAX(CASE WHEN kept > 0 THEN cents END) AS hi
        |  FROM kept GROUP BY 1)
        |SELECT p, n_orders,
        |  CAST(sum_all AS DOUBLE) / CAST(n_orders AS DOUBLE) / 100.0
        |    AS mean_dollars,
        |  CAST(sum_kept AS DOUBLE) / CAST(n_orders - 2 * g AS DOUBLE)
        |    / 100.0 AS trimmed_mean_dollars,
        |  CAST(sum_kept + g * lo + g * hi AS DOUBLE)
        |    / CAST(n_orders AS DOUBLE) / 100.0 AS winsor_mean_dollars
        |FROM agg ORDER BY p""".stripMargin,

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
      s"""WITH ${OrderRevenue.nationValueCumSql},
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
      s"""WITH ${OrderRevenue.nationValueCumSql}
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
        |ORDER BY nation""".stripMargin,

    "q154_mad_profile" ->
      s"""WITH ${OrderRevenue.nationValueCumSql},
        |  md AS (SELECT nation, v, c, n,
        |    MIN(CASE WHEN 2 * cum >= n THEN v END)
        |      OVER (PARTITION BY nation) AS med
        |  FROM cm),
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
      (s"""WITH $riskCtes,
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
        |FROM fin""".stripMargin)
}
