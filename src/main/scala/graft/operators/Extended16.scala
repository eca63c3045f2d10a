package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables

/** Sixteenth analytics batch: regression DIAGNOSTICS — the checks a
  * user runs after fitting the q58/q183/q188 OLS family. q192 asks
  * whether one line even fits the whole series (Chow structural-break
  * F at the series midpoint), q193 whether the residuals are
  * independent (Durbin–Watson; the regression-residual twin of q156's
  * ACF — and it agrees: weekly revenue oscillates, DW > 2), q194
  * whether a headline correlation survives controlling a confounder
  * (partial correlation on the q111 order-shape carrier), and q195
  * which observations the fit actually hinges on (leverage + Cook's
  * distance, the per-row influence audit). Same contract as
  * Extended5–15: exact integer/decimal moment carriers (the q183
  * DECIMAL(38,0)/HUGEINT pattern, surfaced to doubles through
  * identically-sequenced operations; DuckDB HUGEINTs take the q150
  * VARCHAR→DOUBLE route), calendar-bounded frames, one scale note per
  * entry. The reference delegates all analytics to user code behind
  * its event processor (`/root/reference/README.md:246-293`).
  */
object Extended16 {

  private val dec = DecimalType(38, 0)

  /** q197's scoring engine over ANY undirected edge list `(pa, pb)`
    * (deduplicated, pa < pb): every NON-adjacent pair sharing ≥ 1
    * neighbor, scored by common-neighbor count, neighborhood Jaccard,
    * and the fixed-point Resource-Allocation index Σ (10¹² div deg_z)
    * — exact longs, so the per-pair sums are order-insensitive and
    * map-side combinable. The edge frame is materialized once;
    * adjacency, the wedge equi-join, and the existence anti-join all
    * reuse the cut. Property-checked against brute force on random
    * graphs (Round8OpsSpec). At 100 TB, bound wedge fan-out upstream
    * (support floor or degree cap on `edgesIn`).
    */
  def linkPredictionScores(edgesIn: DataFrame,
      materialize: Materialize = Materialize.LocalCheckpoint): DataFrame = {
    val e = materialize(edgesIn.select(col("pa"), col("pb")))
    val esym = e.unionByName(
      e.select(col("pb").as("pa"), col("pa").as("pb")))
    val deg = esym.groupBy(col("pa")).agg(count(lit(1)).as("deg"))
    val wedges = esym.as("l").join(esym.as("r"),
        col("l.pb") === col("r.pb") && col("l.pa") < col("r.pa"))
      .select(col("l.pa").as("a"), col("r.pa").as("b"),
        col("l.pb").as("z"))
    linkPredictionFromWedges(wedges, e, deg)
  }

  /** Scoring half of [[linkPredictionScores]], shared with the
    * streaming twin ([[StreamingOps.wedgeFold]] maintains the wedge
    * set incrementally; this scores it). `wedges` = (a, b, z) rows
    * with a < b, adjacent pairs allowed (anti-joined out here);
    * `e` = the undirected edge list (pa < pb); `deg` = (pa, deg).
    */
  def linkPredictionFromWedges(wedges: DataFrame, e: DataFrame,
      deg: DataFrame): DataFrame = {
    val degz = deg.withColumnRenamed("pa", "z")
      .withColumnRenamed("deg", "deg_z")
    wedges
      .join(e.select(col("pa").as("a"), col("pb").as("b")),
        Seq("a", "b"), "left_anti")
      .join(degz, "z")
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("cn"),
        sum(expr("CAST(1000000000000 AS BIGINT) div deg_z")).as("ra_fp"))
      .join(deg.select(col("pa").as("a"), col("deg").as("deg_a")), "a")
      .join(deg.select(col("pa").as("b"), col("deg").as("deg_b")), "b")
      .withColumn("jaccard",
        col("cn").cast("double") /
          (col("deg_a") + col("deg_b") - col("cn")).cast("double"))
      .withColumn("ra", col("ra_fp").cast("double") / lit(1.0e12))
  }

  /** q196's scoring engine over ANY binary user×item matrix
    * `(c, brand)` (deduplicated here, keyed on c — callers pass raw
    * ownership rows): item-item fixed-point squared-cosine
    * affinities sim_fp(i,j) = (co²·10⁹) div (nᵢ·nⱼ), then per-user
    * candidate scores = exact long sums of sim_fp over owned items,
    * for users matching `targetFilter` and candidates the user does
    * NOT own. Returns (c, cand, score_fp, n_terms). The item
    * vocabulary must be BOUNDED (the affinity matrix broadcasts).
    * `brand` must be non-null: the dedup's `collect_set` silently
    * drops NULL items, so a NULL brand would vanish from the matrix
    * rather than count as an item.
    * Property-checked against brute force on random matrices
    * (Round8OpsSpec). Long-range note: co²·10⁹ needs the
    * DECIMAL(38,0) carrier past ~2e17 (see q196). The matrix is
    * materialized once — it feeds the item counts, both sides of the
    * co-occurrence self-join, the target scan, and the ownership
    * anti-join (5 consumers).
    */
  def itemCfScores(rMatIn: DataFrame, targetFilter: Column,
      materialize: Materialize = Materialize.LocalCheckpoint)
      : DataFrame = {
    // The matrix is deduplicated HERE, keyed on c (round 13): one
    // c-keyed exchange (collect_set dedups inside the aggregate, then
    // explode restores rows — partitioning-preserving) replaces the
    // caller's (c, brand)-keyed distinct. The cut frame does NOT come
    // out hash-partitioned on c: with AQE on, the checkpointed plan
    // reports UnknownPartitioning(0), so the co-occurrence self-join
    // below still exchanges the matrix on both sides. Measured at
    // sf0.1: matrix build 2.6 s → 1.0 s, co join 1.37 s → 0.57 s. The in-row collect_set pair
    // fan-out (the q84/q197 basket shape) was tried first and measured
    // SLOWER (1.5–2.5 s): the O(k²) fan-out runs as an interpreted HOF
    // lambda over string structs, while the co-partitioned self-join
    // stays whole-stage codegen — guide §1.2 step 2 feeding back into
    // step 1. Pair multiset is unchanged either way.
    val rMat = materialize(
      rMatIn.select(col("c"), col("brand"))
        .groupBy(col("c"))
        .agg(sort_array(collect_set(col("brand"))).as("bs"))
        .select(col("c"), explode(col("bs")).as("brand")))
    val nPer = rMat.groupBy(col("brand")).agg(count(lit(1)).as("n"))
    val co = rMat.as("x").join(rMat.as("y"),
        col("x.c") === col("y.c") && col("x.brand") < col("y.brand"))
      .groupBy(col("x.brand").as("bi"), col("y.brand").as("bj"))
      .agg(count(lit(1)).as("co"))
    itemCfScoresFromCounts(rMat, nPer, co, targetFilter)
  }

  /** Scoring half of [[itemCfScores]], shared with the streaming twin
    * ([[StreamingOps.cfFold]] maintains `nPer`/`co` incrementally; this
    * scores them). `rMat` = the distinct (c, brand) matrix; `nPer` =
    * (brand, n) item counts; `co` = (bi, bj, co) with bi < bj.
    */
  def itemCfScoresFromCounts(rMat: DataFrame, nPer: DataFrame,
      co: DataFrame, targetFilter: Column): DataFrame = {
    // NOT cut (round-13 measurement): `simBoth` consumes sim twice
    // (both union branches) and the formatted plan textually repeats
    // the co/nPer subtree — but at runtime ReusedExchange dedups the
    // identical exchanges, so the repeat is FREE; an eager cut here
    // re-ran the subtree in its own job where nothing is reusable
    // (measured: 2.37 s / 10.8 shuffle-MB without the cut vs 2.76 s /
    // 21.8 MB with it). Corollary to the d21 Materialize lesson: a
    // multi-consumer subtree whose consumers sit in ONE plan and end
    // at identical exchanges needs no cut.
    val sim = co
      .join(nPer.withColumnRenamed("brand", "bi")
        .withColumnRenamed("n", "ni"), "bi")
      .join(nPer.withColumnRenamed("brand", "bj")
        .withColumnRenamed("n", "nj"), "bj")
      .withColumn("sim_fp",
        expr("(co * co * CAST(1000000000 AS BIGINT)) div (ni * nj)"))
      .select(col("bi"), col("bj"), col("sim_fp"))
    val simBoth = sim.unionByName(
      sim.select(col("bj").as("bi"), col("bi").as("bj"), col("sim_fp")))
    rMat.filter(targetFilter)
      .join(broadcast(simBoth), col("brand") === col("bi"))
      .select(col("c"), col("bj").as("cand"), col("sim_fp"))
      .join(rMat.withColumnRenamed("brand", "cand"),
        Seq("c", "cand"), "left_anti")
      .groupBy(col("c"), col("cand"))
      .agg(sum(col("sim_fp")).as("score_fp"),
        count(lit(1)).as("n_terms"))
  }

  /** RSS of the least-squares line from n-scaled centered moments:
    * a = n·Syy − Sy², b = n·Sxy − Sx·Sy, c = n·Sxx − Sx² (exact
    * decimals) → Σe² = (a − b²/c)/n, assembled in doubles with one
    * fixed operation sequence (mirrored verbatim in the oracle SQL). */
  private def rssCol(n: Column, a: Column, b: Column, c: Column): Column =
    when(c === lit(0).cast(dec), lit(null).cast("double"))
      .otherwise((a.cast("double") -
        b.cast("double") * b.cast("double") / c.cast("double")) /
        n.cast("double"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // CHOW STRUCTURAL-BREAK TEST — does ONE revenue trend line fit the
    // whole ~7-year weekly series, or do the two halves want different
    // lines? Fit y~w pooled and per half (split at the series midpoint
    // week, data-derived), F = ((RSS_p − RSS₁ − RSS₂)/2) /
    // ((RSS₁+RSS₂)/(n−4)); decision via the asymptotic 2F ~ χ²₂ 95%
    // literal (5.991464547107979 — parses to the identical double in
    // both engines). SCALE-DEPENDENT finding (the q187 class): the
    // break is invisible in the thinned series (F = 0.37/0.18 at
    // sf0.001/0.01) and rejects at sf0.1 (F = 3.63) — the two halves
    // of the dense series really do carry different slopes, which is
    // also why q193's residual autocorrelation appears only there.
    // All six moment sets come from ONE pass with conditional sums;
    // every centered combo is exact DECIMAL(38,0)/HUGEINT (n·Syy ≈
    // 6e18 at sf0.1 — past long range, the q187 lesson pre-applied).
    // Base moments accumulate in DECIMAL, with the y² product itself
    // computed decimal-first (y.cast(dec) * y): the long Σy² would
    // overflow near sf1 and per-row y² near sf50; neither bound
    // exists now (DuckDB's SUM(BIGINT)→HUGEINT twin was always exact).
    // Scale shape: fact rows collapse to the calendar-bounded week
    // grid first; the midpoint min/max window and the 19-sum
    // aggregate both run over ~350 rows at ANY scale.
    "q192_chow_test" -> ((s, d) => {
      val wAll = Window.partitionBy(lit(1))
      val seg = OrderRevenue.weeklyRevenue(s, d)
        .withColumn("wmin", min(col("w")).over(wAll))
        .withColumn("wmax", max(col("w")).over(wAll))
        .withColumn("mid", expr("(wmin + wmax + 1) div 2"))
      def mm(p: Column, sfx: String) = Seq(
        sum(when(p, 1L).otherwise(0L)).cast(dec).as("n" + sfx),
        sum(when(p, col("w")).otherwise(0L)).cast(dec).as("sx" + sfx),
        sum(when(p, col("y")).otherwise(0L)).cast(dec).as("sy" + sfx),
        sum(when(p, col("w") * col("w")).otherwise(0L).cast(dec))
          .as("sxx" + sfx),
        sum(when(p, col("w") * col("y")).otherwise(0L).cast(dec))
          .as("sxy" + sfx),
        sum(when(p, col("y").cast(dec) * col("y")).otherwise(0L).cast(dec))
          .as("syy" + sfx))
      val sums = mm(lit(true), "p") ++ mm(col("w") < col("mid"), "1") ++
        mm(col("w") >= col("mid"), "2") :+ max(col("mid")).as("mid")
      val m = seg.agg(sums.head, sums.tail: _*)
      def combos(sfx: String) = Seq(
        (col("n" + sfx) * col("syy" + sfx) -
          col("sy" + sfx) * col("sy" + sfx)).as("a" + sfx),
        (col("n" + sfx) * col("sxy" + sfx) -
          col("sx" + sfx) * col("sy" + sfx)).as("b" + sfx),
        (col("n" + sfx) * col("sxx" + sfx) -
          col("sx" + sfx) * col("sx" + sfx)).as("c" + sfx))
      m.select(Seq(col("np"), col("n1"), col("n2"), col("mid")) ++
          combos("p") ++ combos("1") ++ combos("2"): _*)
        .withColumn("rss_pooled",
          rssCol(col("np"), col("ap"), col("bp"), col("cp")))
        .withColumn("rss_1", rssCol(col("n1"), col("a1"), col("b1"), col("c1")))
        .withColumn("rss_2", rssCol(col("n2"), col("a2"), col("b2"), col("c2")))
        .withColumn("rss_split", col("rss_1") + col("rss_2"))
        .withColumn("f_stat",
          ((col("rss_pooled") - col("rss_1") - col("rss_2")) / lit(2.0)) /
            (col("rss_split") /
              (col("np").cast("double") - lit(4.0))))
        .select(col("np").cast("long").as("n_weeks"),
          col("mid").as("split_week"),
          col("rss_pooled"), col("rss_split"), col("f_stat"),
          (lit(2.0) * col("f_stat") > lit(5.991464547107979))
            .as("reject_95"))
    }),

    // DURBIN–WATSON — are the OLS residuals of the weekly trend fit
    // independent? DW = Σ(Δe)²/Σe² computed WITHOUT materializing a
    // single residual: Δe = Δy − β·Δw expands to exact long sums
    // (ΣΔy², Σ(Δy·Δw), ΣΔw² — gap weeks enter through Δw, so sf0.001's
    // 7 calendar gaps need no contiguity guard, unlike q156's ACF),
    // and Σe² = (a − b²/c)/n from the same centered-moment carrier as
    // q192. Measured: DW ≈ 2.01/2.03 at sf0.001/0.01 (independent) but
    // 1.56 at sf0.1 (ρ ≈ +0.22) — POSITIVE residual autocorrelation in
    // the dense series, the classic signature of a misspecified mean
    // (same-sign residual stretches on either side of the break q192
    // detects at exactly and only that SF). Scale shape: one fact
    // rollup to the week grid, one single-partition lag window over
    // ~350 rows, one 9-sum aggregate row.
    "q193_durbin_watson" -> ((s, d) => {
      val wSeq = Window.orderBy(col("w"))
      val b0 = OrderRevenue.weeklyRevenue(s, d)
        .withColumn("dy", col("y") - lag(col("y"), 1).over(wSeq))
        .withColumn("dx", col("w") - lag(col("w"), 1).over(wSeq))
      b0.agg(
          count(lit(1)).cast(dec).as("n"),
          sum(col("w")).cast(dec).as("sx"),
          sum(col("y")).cast(dec).as("sy"),
          sum((col("w") * col("w")).cast(dec)).as("sxx"),
          sum((col("w") * col("y")).cast(dec)).as("sxy"),
          sum(col("y").cast(dec) * col("y")).as("syy"),
          sum(col("dy").cast(dec) * col("dy")).as("sdd"),
          sum((col("dy") * col("dx")).cast(dec)).as("sdx"),
          sum((col("dx") * col("dx")).cast(dec)).as("sxx2"))
        .withColumn("slope",
          (col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
            (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"))
        .withColumn("rss", rssCol(col("n"),
          col("n") * col("syy") - col("sy") * col("sy"),
          col("n") * col("sxy") - col("sx") * col("sy"),
          col("n") * col("sxx") - col("sx") * col("sx")))
        .withColumn("dw",
          (col("sdd").cast("double") -
            lit(2.0) * col("slope") * col("sdx").cast("double") +
            col("slope") * col("slope") * col("sxx2").cast("double")) /
            col("rss"))
        .withColumn("rho_approx", lit(1.0) - col("dw") / lit(2.0))
        .select(col("n").cast("long").as("n_weeks"), col("slope"),
          col("dw"), col("rho_approx"))
    }),

    // PARTIAL CORRELATION — which order-shape correlations survive
    // controlling the third variable? On the q111 per-order carrier
    // (a = line count, b = total quantity, r = revenue dollars):
    // r_xy.z = (r_xy − r_xz·r_yz)/√((1−r_xz²)(1−r_yz²)) from the three
    // pairwise Pearson r's, each assembled from exact centered
    // DECIMAL(38,0) moments in one pass. The finding mirrors q183's
    // partial-effect decomposition from the correlation side:
    // quantity~revenue (raw r = 0.74) collapses to ≈ 0 given line
    // count — total quantity predicts revenue ONLY through how many
    // lines an order has — while lines~revenue keeps r ≈ 0.65 given
    // quantity (each line contributes price mass beyond its units).
    // Scale shape: one per-order
    // rollup exchange, ten moments map-side-combined to a single row,
    // a 3-row unpivot out.
    "q194_partial_corr" -> ((s, d) => {
      val per = Tables.lineitem(s, d)
        .groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("a"),
          sum(expr("CAST(round(l_quantity) AS BIGINT)")).as("b"),
          expr("sum(CAST(round(l_extendedprice * 100) AS BIGINT)) div 100")
            .as("r"))
      val m = per.agg(
        count(lit(1)).cast(dec).as("n"),
        sum(col("a")).cast(dec).as("sa"),
        sum(col("b")).cast(dec).as("sb"),
        sum(col("r")).cast(dec).as("sr"),
        sum(col("a") * col("a")).cast(dec).as("saa"),
        sum(col("b") * col("b")).cast(dec).as("sbb"),
        sum(col("r") * col("r")).cast(dec).as("srr"),
        sum(col("a") * col("b")).cast(dec).as("sab"),
        sum(col("a") * col("r")).cast(dec).as("sar"),
        sum(col("b") * col("r")).cast(dec).as("sbr"))
      def cv(x: String, y: String) =
        (col("n") * col(s"s$x$y") - col(s"s$x") * col(s"s$y")).cast("double")
      def vv(x: String) =
        (col("n") * col(s"s$x$x") - col(s"s$x") * col(s"s$x")).cast("double")
      def rr(x: String, y: String) = {
        val (lo, hi) = if (x <= y) (x, y) else (y, x)
        cv(lo, hi) / (sqrt(vv(x)) * sqrt(vv(y)))
      }
      def partial(x: String, y: String, z: String) =
        (rr(x, y) - rr(x, z) * rr(y, z)) /
          sqrt((lit(1.0) - rr(x, z) * rr(x, z)) *
            (lit(1.0) - rr(y, z) * rr(y, z)))
      m.select(col("n").cast("long").as("n_orders"), explode(array(
          struct(lit("lines").as("var_a"), lit("quantity").as("var_b"),
            lit("revenue").as("control"), rr("a", "b").as("r_raw"),
            partial("a", "b", "r").as("r_partial")),
          struct(lit("lines").as("var_a"), lit("revenue").as("var_b"),
            lit("quantity").as("control"), rr("a", "r").as("r_raw"),
            partial("a", "r", "b").as("r_partial")),
          struct(lit("quantity").as("var_a"), lit("revenue").as("var_b"),
            lit("lines").as("control"), rr("b", "r").as("r_raw"),
            partial("b", "r", "a").as("r_partial")))).as("p"))
        .select(col("n_orders"), col("p.var_a").as("var_a"),
          col("p.var_b").as("var_b"), col("p.control").as("control"),
          col("p.r_raw").as("r_raw"), col("p.r_partial").as("r_partial"))
        .orderBy(col("var_a"), col("var_b"))
    }),

    // LEVERAGE + COOK'S DISTANCE — which weeks does the trend fit
    // hinge on? Per week t: leverage h_t = 1/n + (n·w_t − Sx)²/(n·c)
    // and Cook's D_t = e_t²·h_t/(2·s²(1−h_t)²), with n·e_t =
    // (n·y_t − Sy) − β·(n·w_t − Sx) — every ingredient an exact long
    // (row-side) or exact decimal combo (moment-side), β and s² =
    // RSS/(n−2) the only doubles, assembled in one fixed sequence.
    // Emits the top-10 most influential weeks (deterministic: doubles
    // are bit-identical cross-engine, ties broken by week). Influence
    // concentrates where revenue spikes sit at the series edges — the
    // weeks an analyst should eyeball before trusting q58's slope.
    // Scale shape: moments via single-partition window sums over the
    // ~350-row calendar grid (q159's allowlisted class), top-10 via
    // TakeOrdered, never a full sort.
    "q195_influence" -> ((s, d) => {
      val st = OrderRevenue.weeklyOlsMoments(s, d)
        .withColumn("rss",
          (col("aa").cast("double") -
            col("bb").cast("double") * col("bb").cast("double") /
              col("cc").cast("double")) / col("n").cast("double"))
        .withColumn("s2",
          col("rss") / (col("n") - lit(2L)).cast("double"))
        .withColumn("v", col("n") * col("w") - col("sx"))
        .withColumn("u", col("n") * col("y") - col("sy"))
        .withColumn("resid",
          (col("u").cast("double") - col("beta") * col("v").cast("double")) /
            col("n").cast("double"))
        .withColumn("leverage",
          lit(1.0) / col("n").cast("double") +
            (col("v") * col("v")).cast("double") /
              (col("n") * col("cc")).cast("double"))
        .withColumn("cook_d",
          (col("resid") * col("resid") * col("leverage")) /
            (lit(2.0) * col("s2") * (lit(1.0) - col("leverage")) *
              (lit(1.0) - col("leverage"))))
      st.select(col("w"), col("y"), col("resid"), col("leverage"),
          col("cook_d"))
        .orderBy(col("cook_d").desc, col("w"))
        .limit(10)
    }),

    // ITEM-BASED COLLABORATIVE FILTERING — recommend unpurchased
    // brands: item-item affinity over the binary customer×brand
    // purchase matrix, scored per (customer, candidate) as the SUM of
    // FIXED-POINT SQUARED-COSINE affinities sim_fp(i,j) =
    // (co²·10⁹) div (nᵢ·nⱼ) — a pure-integer contract, so the
    // per-customer score is an exact long sum (order-insensitive,
    // map-side combinable) instead of a float sum whose value depends
    // on merge order. Long-range note: co²·10⁹ ≤ 2.3e17 at sf0.1;
    // past ~10× that, move the product onto the DECIMAL(38,0)/HUGEINT
    // carrier (integer div semantics preserved — NOT decimal `/` +
    // floor, whose HALF_UP rounding can cross an integer).
    // Emits top-3 candidates for every 10th customer
    // (ties broken by brand). Scale shape: the item vocabulary is
    // BOUNDED (25 brands) — the affinity matrix is ≤ |brands|² rows
    // built from one self-join on customer and BROADCAST back; the
    // per-customer pair fan-out is C(k≤25, 2); candidate exclusion is
    // an anti-join on the same purchase matrix. Everything keys on
    // customer or brand — no global structure.
    "q196_item_cf_recommend" -> ((s, d) => {
      val rMat = Tables.orders(s, d)
        .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
        .join(Tables.part(s, d), col("l_partkey") === col("p_partkey"))
        .select(col("o_custkey").as("c"), col("p_brand").as("brand"))
      val scored = itemCfScores(rMat, col("c") % 10 === 0)
      val wTop = Window.partitionBy(col("c"))
        .orderBy(col("score_fp").desc, col("cand"))
      scored.withColumn("rank", row_number().over(wTop))
        .filter(col("rank") <= 3)
        .select(col("c").as("custkey"), col("rank"),
          col("cand").as("brand"), col("score_fp"), col("n_terms"),
          (col("score_fp").cast("double") / lit(1.0e9)).as("score"))
        .orderBy(col("custkey"), col("rank"))
    }),

    // NEWEY–WEST (HAC) STANDARD ERRORS — q193 measured positive
    // residual autocorrelation at sf0.1 (ρ ≈ +0.22); this prices it:
    // the trend slope's OLS, HC0 (White), and HAC (Bartlett kernel,
    // L = 4) standard errors side by side. With v = n(x−x̄) and
    // n·ê = u − βv from exact longs, Var_HC0(β) = Σv²ê²/C² and
    // Var_HAC adds 2(1−l/5)·Σ q_t q_{t−l} lag terms over the
    // score series q = v·ê (lags over the OBSERVED sequence, the
    // q193 gap contract). Score products are intrinsically-float
    // (no libm) and sum through DECIMAL(38,6) — order-free, and
    // scale 6 keeps Σ|q²| ≈ 2e25 far inside precision 38 where a
    // (38,15) cast would overflow. Measured: the robust/OLS SE ratio
    // grows with scale exactly as q192/q193's structure does —
    // 1.00/1.04/1.39 at the three gate SFs — and at sf0.1 the
    // inflation is almost all HC0 (5433 vs 5469 HAC of a 3925 OLS
    // SE): the break-induced residual-variance structure, not the
    // ρ ≈ 0.22 lag correlation, is what the naive SE misprices.
    // Scale shape: the q195 window-moment frame over the ~350-row
    // grid, 4 lag columns, one aggregate row.
    "q199_hac_se" -> ((s, d) => {
      val dec6 = org.apache.spark.sql.types.DecimalType(38, 6)
      val wOrd = Window.orderBy(col("w"))
      val st = OrderRevenue.weeklyOlsMoments(s, d)
        .withColumn("v", col("n") * col("w") - col("sx"))
        .withColumn("u", col("n") * col("y") - col("sy"))
        .withColumn("eh",
          (col("u").cast("double") - col("beta") * col("v").cast("double")) /
            col("n").cast("double"))
        .withColumn("q", col("v").cast("double") * col("eh"))
      val lagged = (1 to 4).foldLeft(st)((df, l) =>
        df.withColumn(s"q$l", lag(col("q"), l).over(wOrd)))
      val m = lagged.agg(
        max(col("n")).as("n"),
        max(col("cc")).as("cc"),
        max(col("bb")).as("bb"),
        max(col("aa")).as("aa"),
        sum((col("q") * col("q")).cast(dec6)).cast("double").as("s0"),
        sum((col("q") * col("q1")).cast(dec6)).cast("double").as("s1"),
        sum((col("q") * col("q2")).cast(dec6)).cast("double").as("s2"),
        sum((col("q") * col("q3")).cast(dec6)).cast("double").as("s3"),
        sum((col("q") * col("q4")).cast(dec6)).cast("double").as("s4"))
      m.withColumn("beta",
          col("bb").cast("double") / col("cc").cast("double"))
        .withColumn("rss",
          (col("aa").cast("double") -
            col("bb").cast("double") * col("bb").cast("double") /
              col("cc").cast("double")) / col("n").cast("double"))
        .withColumn("se_ols",
          sqrt((col("rss") / (col("n") - lit(2L)).cast("double")) *
            col("n").cast("double") / col("cc").cast("double")))
        .withColumn("se_hc0",
          sqrt(col("s0") /
            (col("cc").cast("double") * col("cc").cast("double"))))
        .withColumn("se_hac",
          sqrt((col("s0") +
            lit(2.0) * lit(0.8) * col("s1") +
            lit(2.0) * lit(0.6) * col("s2") +
            lit(2.0) * lit(0.4) * col("s3") +
            lit(2.0) * lit(0.2) * col("s4")) /
            (col("cc").cast("double") * col("cc").cast("double"))))
        .select(col("n").cast("long").as("n_weeks"), col("beta"),
          col("se_ols"), col("se_hc0"), col("se_hac"),
          (col("beta") / col("se_ols")).as("t_ols"),
          (col("beta") / col("se_hac")).as("t_hac"))
    }),

    // SUP-F (QUANDT) BREAK LOCALIZATION — q192 assumes the break sits
    // at the series midpoint; this finds it: the Chow F computed at
    // EVERY candidate split week (15%–85% trimming) from ONE
    // cumulative-moment window pass — prefix sums give segment 1's
    // moments, totals-minus-prefix give segment 2's, so all ~240
    // candidate fits cost one window sort, not 240 scans. Decision
    // literal 5.86 = the QLR 5% critical value for q = 2 restrictions
    // at 15% trimming (F form). sup-F ≥ the midpoint F by
    // construction; ties on the max break at the earliest week.
    // Measured: sup-F = 2.37/5.27/5.42 across the gate SFs, never
    // clearing 5.86 — the proper search-penalized test does NOT
    // confirm the break q192's fixed-midpoint χ² flags at sf0.1
    // (F = 3.63 there), and the argmax week is unstable across SFs
    // (423/403/207): a marginal, poorly-localized break — exactly
    // the distinction sup-F exists to draw. Same exact
    // DECIMAL(38,0)/HUGEINT carrier discipline as q192. Scale shape:
    // everything after the fact rollup runs over the ~350-row
    // calendar grid (two single-partition windows + one aggregate).
    "q198_supf_break" -> ((s, d) => {
      val wOrd = Window.orderBy(col("w"))
      val wSeq = wOrd.rowsBetween(Window.unboundedPreceding,
        Window.currentRow)
      val wAll = Window.partitionBy(lit(1))
      val st = OrderRevenue.weeklyRevenue(s, d)
        .withColumn("t", row_number().over(wOrd).cast("long"))
        .withColumn("csx", sum(col("w")).over(wSeq))
        .withColumn("csy", sum(col("y")).over(wSeq))
        .withColumn("csxx", sum(col("w") * col("w")).over(wSeq))
        .withColumn("csxy", sum((col("w") * col("y")).cast(dec)).over(wSeq))
        .withColumn("csyy", sum(col("y").cast(dec) * col("y")).over(wSeq))
        .withColumn("n", count(lit(1)).over(wAll))
        .withColumn("tsx", sum(col("w")).over(wAll))
        .withColumn("tsy", sum(col("y")).over(wAll))
        .withColumn("tsxx", sum(col("w") * col("w")).over(wAll))
        .withColumn("tsxy", sum((col("w") * col("y")).cast(dec)).over(wAll))
        .withColumn("tsyy", sum(col("y").cast(dec) * col("y")).over(wAll))
      def seg(nc: Column, sx: Column, sy: Column, sxx: Column,
          sxy: Column, syy: Column) = (
        (nc.cast(dec) * syy - sy.cast(dec) * sy.cast(dec)),
        (nc.cast(dec) * sxy.cast(dec) - sx.cast(dec) * sy.cast(dec)),
        (nc.cast(dec) * sxx.cast(dec) - sx.cast(dec) * sx.cast(dec)))
      val withF = {
        val (a1, b1, c1) = seg(col("t"), col("csx"), col("csy"),
          col("csxx"), col("csxy"), col("csyy"))
        val (a2, b2, c2) = seg(col("n") - col("t"),
          col("tsx") - col("csx"), col("tsy") - col("csy"),
          col("tsxx") - col("csxx"), col("tsxy") - col("csxy"),
          col("tsyy") - col("csyy"))
        val (ap, bp, cp) = seg(col("n"), col("tsx"), col("tsy"),
          col("tsxx"), col("tsxy"), col("tsyy"))
        val rss1 = rssCol(col("t"), a1, b1, c1)
        val rss2 = rssCol(col("n") - col("t"), a2, b2, c2)
        val rssP = rssCol(col("n"), ap, bp, cp)
        st.withColumn("f",
          when(lit(100L) * col("t") >= lit(15L) * col("n") &&
               lit(100L) * col("t") <= lit(85L) * col("n"),
            ((rssP - rss1 - rss2) / lit(2.0)) /
              ((rss1 + rss2) / (col("n").cast("double") - lit(4.0)))))
          .withColumn("sup_f", max(col("f")).over(wAll))
      }
      withF
        .groupBy(col("sup_f"))
        .agg(max(col("n")).as("n_weeks"),
          sum(when(col("f").isNotNull, 1L).otherwise(0L))
            .as("n_candidates"),
          min(when(col("f") === col("sup_f"), col("w")))
            .as("break_week"))
        .select(col("n_weeks"), col("n_candidates"), col("break_week"),
          col("sup_f"),
          (col("sup_f") > lit(5.86)).as("reject_95"))
    }),

    // LINK PREDICTION — which part pairs SHOULD co-sell but don't
    // yet? On the support-≥2 co-purchase graph (edge = two parts
    // bought together in ≥ 2 distinct orders — the support floor
    // makes the graph scale-free-ish: ~2.5k/3.6k/3.9k edges at the
    // three gate SFs), score every non-adjacent pair sharing a
    // neighbor by common-neighbor count, Jaccard of neighborhoods,
    // and the Resource-Allocation index Σ_z 1/deg(z) — carried as the
    // exact fixed-point Σ (10¹² div deg_z) so the sum is an
    // order-insensitive long (same contract as q196). Top-20 by RA.
    // Scale shape: candidates come from the wedge equi-join
    // E(a,z) ⋈ E(b,z) — bounded by Σ_z C(deg_z, 2), never all-pairs;
    // at 100 TB the support floor rises (or a degree cap clips hubs)
    // to bound the wedge fan-out, and existence filtering is an
    // anti-join on the edge key.
    "q197_link_prediction" -> ((s, d) => {
      // the expensive fact self-join collapses to the support-filtered
      // edge list ONCE inside linkPredictionScores; adjacency, wedges,
      // and the existence anti-join all reuse the cut
      // in-row basket pairs (one instance per co-containing order), so
      // count(1) == the old countDistinct(orderkey) support
      val support = Extended10.copurchasePairs(s, d)
        .filter(col("u") < col("v"))
        .groupBy(col("u").as("pa"), col("v").as("pb"))
        .agg(count(lit(1)).as("support"))
        .filter(col("support") >= 2)
        .select(col("pa"), col("pb"))
      linkPredictionScores(support)
        .select(col("a").as("part_a"), col("b").as("part_b"), col("cn"),
          col("deg_a"), col("deg_b"), col("jaccard"), col("ra_fp"),
          col("ra"))
        .orderBy(col("ra_fp").desc, col("part_a"), col("part_b"))
        .limit(20)
    }))

  def oracleSql: Map[String, String] = {
    // q150 rule: HUGEINT combos surface to DOUBLE through VARCHAR so
    // the cast rounds once (DuckDB's HUGEINT→DOUBLE double-rounds
    // through its 64-bit halves)
    def vd(x: String) = s"CAST(CAST($x AS VARCHAR) AS DOUBLE)"
    def rss(n: String, a: String, b: String, c: String) =
      s"""CASE WHEN $c = 0 THEN NULL ELSE
         (${vd(a)} - ${vd(b)} * ${vd(b)} / ${vd(c)}) / ${vd(n)} END"""
    Map(
      "q192_chow_test" -> {
        def mm(pred: String, sfx: String) =
          s"""CAST(SUM(CASE WHEN $pred THEN 1 ELSE 0 END) AS HUGEINT)
             AS n$sfx,
             CAST(SUM(CASE WHEN $pred THEN w ELSE 0 END) AS HUGEINT)
             AS sx$sfx,
             CAST(SUM(CASE WHEN $pred THEN y ELSE 0 END) AS HUGEINT)
             AS sy$sfx,
             CAST(SUM(CASE WHEN $pred THEN w * w ELSE 0 END) AS HUGEINT)
             AS sxx$sfx,
             CAST(SUM(CASE WHEN $pred THEN w * y ELSE 0 END) AS HUGEINT)
             AS sxy$sfx,
             CAST(SUM(CASE WHEN $pred THEN y * y ELSE 0 END) AS HUGEINT)
             AS syy$sfx"""
        def combos(sfx: String) =
          s"""n$sfx * syy$sfx - sy$sfx * sy$sfx AS a$sfx,
             n$sfx * sxy$sfx - sx$sfx * sy$sfx AS b$sfx,
             n$sfx * sxx$sfx - sx$sfx * sx$sfx AS c$sfx"""
        s"""WITH ${OrderRevenue.weeklyRevenueSql},
           sg AS (SELECT w, y,
             (MIN(w) OVER () + MAX(w) OVER () + 1) // 2 AS mid FROM wk),
           m AS (SELECT MAX(mid) AS mid,
             ${mm("TRUE", "p")}, ${mm("w < mid", "1")},
             ${mm("w >= mid", "2")} FROM sg),
           cm AS (SELECT np, n1, n2, mid,
             ${combos("p")}, ${combos("1")}, ${combos("2")} FROM m),
           rs AS (SELECT np, mid,
             ${rss("np", "ap", "bp", "cp")} AS rss_pooled,
             ${rss("n1", "a1", "b1", "c1")} AS rss_1,
             ${rss("n2", "a2", "b2", "c2")} AS rss_2 FROM cm),
           fin AS (SELECT CAST(np AS BIGINT) AS n_weeks, mid AS split_week,
             rss_pooled, rss_1 + rss_2 AS rss_split,
             ((rss_pooled - rss_1 - rss_2) / CAST(2 AS DOUBLE)) /
               ((rss_1 + rss_2) / (${vd("np")} - CAST(4 AS DOUBLE)))
               AS f_stat
           FROM rs)
           SELECT n_weeks, split_week, rss_pooled, rss_split, f_stat,
             CAST(2 AS DOUBLE) * f_stat >
               CAST(5.991464547107979 AS DOUBLE) AS reject_95
           FROM fin"""
      },

      "q193_durbin_watson" ->
        s"""WITH ${OrderRevenue.weeklyRevenueSql},
           lg AS (SELECT w, y,
             y - LAG(y, 1) OVER (ORDER BY w) AS dy,
             w - LAG(w, 1) OVER (ORDER BY w) AS dx FROM wk),
           m AS (SELECT CAST(COUNT(1) AS HUGEINT) AS n,
             CAST(SUM(w) AS HUGEINT) AS sx, CAST(SUM(y) AS HUGEINT) AS sy,
             CAST(SUM(w * w) AS HUGEINT) AS sxx,
             CAST(SUM(w * y) AS HUGEINT) AS sxy,
             CAST(SUM(y * y) AS HUGEINT) AS syy,
             CAST(SUM(dy * dy) AS HUGEINT) AS sdd,
             CAST(SUM(dy * dx) AS HUGEINT) AS sdx,
             CAST(SUM(dx * dx) AS HUGEINT) AS sxx2 FROM lg),
           bt AS (SELECT n, sdd, sdx, sxx2,
             ${vd("n * sxy - sx * sy")} / ${vd("n * sxx - sx * sx")}
               AS slope,
             ${rss("n", "n * syy - sy * sy", "n * sxy - sx * sy",
                "n * sxx - sx * sx")} AS rss FROM m),
           fin AS (SELECT CAST(n AS BIGINT) AS n_weeks, slope,
             (${vd("sdd")} - CAST(2 AS DOUBLE) * slope * ${vd("sdx")} +
               slope * slope * ${vd("sxx2")}) / rss AS dw FROM bt)
           SELECT n_weeks, slope, dw,
             CAST(1 AS DOUBLE) - dw / CAST(2 AS DOUBLE) AS rho_approx
           FROM fin""",

      "q194_partial_corr" -> {
        def cv(x: String, y: String) = vd(s"n * s$x$y - s$x * s$y")
        def vv(x: String) = vd(s"n * s$x$x - s$x * s$x")
        def rr(x: String, y: String) = {
          val (lo, hi) = if (x <= y) (x, y) else (y, x)
          s"${cv(lo, hi)} / (sqrt(${vv(x)}) * sqrt(${vv(y)}))"
        }
        // the pairwise r's are staged (MATERIALIZED) and the partials
        // reference the aliases: inlining the rr subtrees into each
        // partial let DuckDB's rewriter drift 1 ulp off the naive
        // left-to-right sequence Spark codegen executes
        def partial(xy: String, xz: String, yz: String) =
          s"""($xy - $xz * $yz) /
             sqrt((CAST(1 AS DOUBLE) - $xz * $xz) *
               (CAST(1 AS DOUBLE) - $yz * $yz))"""
        s"""WITH per AS (SELECT l_orderkey,
             CAST(COUNT(1) AS HUGEINT) AS a,
             CAST(SUM(CAST(round(l_quantity) AS BIGINT)) AS HUGEINT) AS b,
             CAST(CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
               AS BIGINT) // 100 AS HUGEINT) AS r
           FROM lineitem GROUP BY 1),
           m AS (SELECT CAST(COUNT(1) AS HUGEINT) AS n,
             SUM(a) AS sa, SUM(b) AS sb, SUM(r) AS sr,
             SUM(a * a) AS saa, SUM(b * b) AS sbb, SUM(r * r) AS srr,
             SUM(a * b) AS sab, SUM(a * r) AS sar, SUM(b * r) AS sbr
           FROM per),
           rs AS MATERIALIZED (SELECT CAST(n AS BIGINT) AS n_orders,
             ${rr("a", "b")} AS rab, ${rr("a", "r")} AS rar,
             ${rr("b", "r")} AS rbr FROM m),
           rows3 AS (
             SELECT n_orders, 'lines' AS var_a, 'quantity' AS var_b,
               'revenue' AS control, rab AS r_raw,
               ${partial("rab", "rar", "rbr")} AS r_partial FROM rs
             UNION ALL
             SELECT n_orders, 'lines', 'revenue', 'quantity', rar,
               ${partial("rar", "rab", "rbr")} FROM rs
             UNION ALL
             SELECT n_orders, 'quantity', 'revenue', 'lines', rbr,
               ${partial("rbr", "rab", "rar")} FROM rs)
           SELECT n_orders, var_a, var_b, control, r_raw, r_partial
           FROM rows3 ORDER BY var_a, var_b"""
      },

      "q199_hac_se" ->
        s"""WITH ${OrderRevenue.weeklyRevenueSql},
           st AS (SELECT w, y,
             CAST(COUNT(1) OVER () AS BIGINT) AS n,
             CAST(SUM(w) OVER () AS HUGEINT) AS sx,
             CAST(SUM(y) OVER () AS HUGEINT) AS sy,
             CAST(SUM(w * w) OVER () AS HUGEINT) AS sxx,
             CAST(SUM(w * y) OVER () AS HUGEINT) AS sxy,
             CAST(SUM(y * y) OVER () AS HUGEINT) AS syy FROM wk),
           cm AS (SELECT w, y, n,
             n * sxx - sx * sx AS cc,
             n * sxy - sx * sy AS bb,
             n * syy - sy * sy AS aa,
             n * w - sx AS v, n * y - sy AS u FROM st),
           bt AS (SELECT w, n, cc, bb, aa, v, u,
             ${vd("bb")} / ${vd("cc")} AS beta FROM cm),
           qs AS (SELECT w, n, cc, bb, aa,
             ${vd("v")} * ((${vd("u")} - beta * ${vd("v")}) / ${vd("n")})
               AS q FROM bt),
           lg AS (SELECT n, cc, bb, aa, q,
             LAG(q, 1) OVER (ORDER BY w) AS q1,
             LAG(q, 2) OVER (ORDER BY w) AS q2,
             LAG(q, 3) OVER (ORDER BY w) AS q3,
             LAG(q, 4) OVER (ORDER BY w) AS q4 FROM qs),
           m AS (SELECT MAX(n) AS n, MAX(cc) AS cc, MAX(bb) AS bb,
             MAX(aa) AS aa,
             ${vd("SUM(CAST(q * q AS DECIMAL(38, 6)))")} AS s0,
             ${vd("SUM(CAST(q * q1 AS DECIMAL(38, 6)))")} AS s1,
             ${vd("SUM(CAST(q * q2 AS DECIMAL(38, 6)))")} AS s2,
             ${vd("SUM(CAST(q * q3 AS DECIMAL(38, 6)))")} AS s3,
             ${vd("SUM(CAST(q * q4 AS DECIMAL(38, 6)))")} AS s4
           FROM lg),
           fin AS (SELECT CAST(n AS BIGINT) AS n_weeks,
             ${vd("bb")} / ${vd("cc")} AS beta,
             (${vd("aa")} - ${vd("bb")} * ${vd("bb")} / ${vd("cc")}) /
               ${vd("n")} AS rss,
             s0, s1, s2, s3, s4, cc, n FROM m),
           se AS (SELECT n_weeks, beta,
             sqrt((rss / CAST(CAST(n - 2 AS BIGINT) AS DOUBLE)) *
               ${vd("n")} / ${vd("cc")}) AS se_ols,
             sqrt(s0 / (${vd("cc")} * ${vd("cc")})) AS se_hc0,
             sqrt((s0 +
               CAST(2 AS DOUBLE) * CAST(0.8 AS DOUBLE) * s1 +
               CAST(2 AS DOUBLE) * CAST(0.6 AS DOUBLE) * s2 +
               CAST(2 AS DOUBLE) * CAST(0.4 AS DOUBLE) * s3 +
               CAST(2 AS DOUBLE) * CAST(0.2 AS DOUBLE) * s4) /
               (${vd("cc")} * ${vd("cc")})) AS se_hac
           FROM fin)
           SELECT n_weeks, beta, se_ols, se_hc0, se_hac,
             beta / se_ols AS t_ols, beta / se_hac AS t_hac
           FROM se""",

      "q198_supf_break" -> {
        def combos(nc: String, sx: String, sy: String, sxx: String,
            sxy: String, syy: String, sfx: String) =
          s"""$nc * $syy - $sy * $sy AS a$sfx,
             $nc * $sxy - $sx * $sy AS b$sfx,
             $nc * $sxx - $sx * $sx AS c$sfx"""
        s"""WITH ${OrderRevenue.weeklyRevenueSql},
           st AS (SELECT w, y,
             CAST(ROW_NUMBER() OVER (ORDER BY w) AS BIGINT) AS t,
             CAST(SUM(w) OVER seq AS HUGEINT) AS csx,
             CAST(SUM(y) OVER seq AS HUGEINT) AS csy,
             CAST(SUM(w * w) OVER seq AS HUGEINT) AS csxx,
             CAST(SUM(w * y) OVER seq AS HUGEINT) AS csxy,
             CAST(SUM(y * y) OVER seq AS HUGEINT) AS csyy,
             CAST(COUNT(1) OVER () AS BIGINT) AS n,
             CAST(SUM(w) OVER () AS HUGEINT) AS tsx,
             CAST(SUM(y) OVER () AS HUGEINT) AS tsy,
             CAST(SUM(w * w) OVER () AS HUGEINT) AS tsxx,
             CAST(SUM(w * y) OVER () AS HUGEINT) AS tsxy,
             CAST(SUM(y * y) OVER () AS HUGEINT) AS tsyy
           FROM wk WINDOW seq AS (ORDER BY w
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
           cm AS (SELECT w, t, n,
             ${combos("CAST(t AS HUGEINT)", "csx", "csy", "csxx",
                "csxy", "csyy", "1")},
             ${combos("CAST(n - t AS HUGEINT)", "(tsx - csx)",
                "(tsy - csy)", "(tsxx - csxx)", "(tsxy - csxy)",
                "(tsyy - csyy)", "2")},
             ${combos("CAST(n AS HUGEINT)", "tsx", "tsy", "tsxx",
                "tsxy", "tsyy", "p")}
           FROM st),
           rs AS MATERIALIZED (SELECT w, t, n,
             ${rss("t", "a1", "b1", "c1")} AS rss_1,
             ${rss("(n - t)", "a2", "b2", "c2")} AS rss_2,
             ${rss("n", "ap", "bp", "cp")} AS rss_p
           FROM cm),
           fx AS (SELECT w, t, n,
             CASE WHEN 100 * t >= 15 * n AND 100 * t <= 85 * n THEN
               ((rss_p - rss_1 - rss_2) / CAST(2 AS DOUBLE)) /
               ((rss_1 + rss_2) /
                 (CAST(n AS DOUBLE) - CAST(4 AS DOUBLE)))
             END AS f
           FROM rs),
           mx AS (SELECT *, MAX(f) OVER () AS sup_f FROM fx)
           SELECT CAST(MAX(n) AS BIGINT) AS n_weeks,
             CAST(SUM(CASE WHEN f IS NOT NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n_candidates,
             MIN(CASE WHEN f = sup_f THEN w END) AS break_week,
             sup_f, sup_f > 5.86 AS reject_95
           FROM mx GROUP BY sup_f"""
      },

      "q196_item_cf_recommend" ->
        """WITH rmat AS (SELECT DISTINCT o.o_custkey AS c,
          |    p.p_brand AS brand
          |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
          |  JOIN part p ON l.l_partkey = p.p_partkey),
          |  np AS (SELECT brand, CAST(COUNT(1) AS BIGINT) AS n
          |    FROM rmat GROUP BY 1),
          |  co AS (SELECT x.brand AS bi, y.brand AS bj,
          |      CAST(COUNT(1) AS BIGINT) AS co
          |    FROM rmat x JOIN rmat y
          |      ON x.c = y.c AND x.brand < y.brand GROUP BY 1, 2),
          |  sim AS (SELECT bi, bj,
          |      (co * co * CAST(1000000000 AS BIGINT)) //
          |        (ni.n * nj.n) AS sim_fp
          |    FROM co JOIN np ni ON co.bi = ni.brand
          |    JOIN np nj ON co.bj = nj.brand),
          |  simboth AS (SELECT bi, bj, sim_fp FROM sim
          |    UNION ALL SELECT bj, bi, sim_fp FROM sim),
          |  scored AS (SELECT r.c, s.bj AS cand,
          |      CAST(SUM(s.sim_fp) AS BIGINT) AS score_fp,
          |      CAST(COUNT(1) AS BIGINT) AS n_terms
          |    FROM rmat r JOIN simboth s ON r.brand = s.bi
          |    WHERE r.c % 10 = 0 AND NOT EXISTS (SELECT 1 FROM rmat r2
          |      WHERE r2.c = r.c AND r2.brand = s.bj)
          |    GROUP BY 1, 2),
          |  rk AS (SELECT c, cand, score_fp, n_terms,
          |      ROW_NUMBER() OVER (PARTITION BY c
          |        ORDER BY score_fp DESC, cand) AS rank
          |    FROM scored)
          |SELECT c AS custkey, rank, cand AS brand, score_fp, n_terms,
          |  CAST(score_fp AS DOUBLE) / 1e9 AS score
          |FROM rk WHERE rank <= 3 ORDER BY custkey, rank""".stripMargin,

      "q197_link_prediction" ->
        """WITH e AS (SELECT x.l_partkey AS pa, y.l_partkey AS pb
          |  FROM lineitem x JOIN lineitem y
          |    ON x.l_orderkey = y.l_orderkey
          |   AND x.l_partkey < y.l_partkey
          |  GROUP BY 1, 2 HAVING COUNT(DISTINCT x.l_orderkey) >= 2),
          |  esym AS (SELECT pa, pb FROM e
          |    UNION ALL SELECT pb, pa FROM e),
          |  deg AS (SELECT pa, CAST(COUNT(1) AS BIGINT) AS deg
          |    FROM esym GROUP BY 1),
          |  wedges AS (SELECT l.pa AS a, r.pa AS b, l.pb AS z
          |    FROM esym l JOIN esym r
          |      ON l.pb = r.pb AND l.pa < r.pa
          |    WHERE NOT EXISTS (SELECT 1 FROM e
          |      WHERE e.pa = l.pa AND e.pb = r.pa)),
          |  sc AS (SELECT a, b, CAST(COUNT(1) AS BIGINT) AS cn,
          |      CAST(SUM(CAST(1000000000000 AS BIGINT) // dz.deg)
          |        AS BIGINT) AS ra_fp
          |    FROM wedges w JOIN deg dz ON w.z = dz.pa GROUP BY 1, 2),
          |  fin AS (SELECT a AS part_a, b AS part_b, cn,
          |      da.deg AS deg_a, db.deg AS deg_b,
          |      CAST(cn AS DOUBLE) /
          |        CAST(da.deg + db.deg - cn AS DOUBLE) AS jaccard,
          |      ra_fp, CAST(ra_fp AS DOUBLE) / 1e12 AS ra
          |    FROM sc JOIN deg da ON sc.a = da.pa
          |    JOIN deg db ON sc.b = db.pa)
          |SELECT part_a, part_b, cn, deg_a, deg_b, jaccard, ra_fp, ra
          |FROM fin ORDER BY ra_fp DESC, part_a, part_b LIMIT 20"""
          .stripMargin,

      "q195_influence" ->
        s"""WITH ${OrderRevenue.weeklyRevenueSql},
           st AS (SELECT w, y,
             CAST(COUNT(1) OVER () AS HUGEINT) AS n,
             CAST(SUM(w) OVER () AS HUGEINT) AS sx,
             CAST(SUM(y) OVER () AS HUGEINT) AS sy,
             CAST(SUM(w * w) OVER () AS HUGEINT) AS sxx,
             CAST(SUM(w * y) OVER () AS HUGEINT) AS sxy,
             CAST(SUM(y * y) OVER () AS HUGEINT) AS syy FROM wk),
           cm AS (SELECT w, y, n, sx, sy,
             n * sxx - sx * sx AS cc,
             n * sxy - sx * sy AS bb,
             n * syy - sy * sy AS aa FROM st),
           bt AS (SELECT w, y, n, sx, sy, cc,
             ${vd("bb")} / ${vd("cc")} AS beta,
             (${vd("aa")} - ${vd("bb")} * ${vd("bb")} / ${vd("cc")}) /
               ${vd("n")} AS rss FROM cm),
           rowd AS (SELECT w, y, n, cc, beta,
             rss / CAST(CAST(n - 2 AS BIGINT) AS DOUBLE) AS s2,
             n * w - sx AS v, n * y - sy AS u FROM bt),
           ind AS (SELECT w, y,
             (${vd("u")} - beta * ${vd("v")}) / ${vd("n")} AS resid,
             CAST(1 AS DOUBLE) / ${vd("n")} +
               ${vd("v * v")} / ${vd("n * cc")} AS leverage,
             s2 FROM rowd),
           fin AS (SELECT w, y, resid, leverage,
             (resid * resid * leverage) /
               (CAST(2 AS DOUBLE) * s2 * (CAST(1 AS DOUBLE) - leverage) *
                 (CAST(1 AS DOUBLE) - leverage)) AS cook_d FROM ind)
           SELECT w, y, resid, leverage, cook_d FROM fin
           ORDER BY cook_d DESC, w LIMIT 10""")
  }
}
