package graft

import org.apache.spark.sql.functions._

/** Invariants of the k-sample tests (Statistics): Kruskal–Wallis H and
  * one-way ANOVA F vs driver-side models computed bit-for-bit with the same
  * exact-integer carriers, plus the cross-test agreement a
  * practitioner would check (both tests reject on the order-size
  * contrast, and H stays within its algebraic bounds). Value-level
  * equality vs the DuckDB oracle runs via graft.Verify +
  * tools/compare.py.
  */
class Round7eOpsSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"
  private def q(name: String) = SparkEntry.queries(name)(spark, dir)

  /** (group, whole-dollar value) pairs of the shared q139/q140 input. */
  private lazy val tagged: Array[(String, Long)] =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n"),
        sum(Parity.cents2(col("l_extendedprice"))).as("cents"))
      .collect()
      .map { r =>
        val n = r.getLong(1)
        val grp = if (n <= 2) "narrow" else if (n <= 5) "mid" else "wide"
        (grp, r.getLong(2) / 100)
      }

  test("q139: Kruskal-Wallis H equals a driver-side 2x-midrank model " +
      "bit-for-bit, respects its algebraic bounds, and rejects on the " +
      "order-size contrast") {
    val grid = tagged.groupBy(_._2).view.mapValues { g =>
      (g.count(_._1 == "narrow").toLong, g.count(_._1 == "mid").toLong,
        g.count(_._1 == "wide").toLong)
    }.toSeq.sortBy(_._1)
    var below = 0L; var ra2 = 0L; var rb2 = 0L; var rc2 = 0L; var tie3 = 0L
    grid.foreach { case (_, (ca, cb, cc)) =>
      val t = ca + cb + cc
      val r2 = 2 * below + t + 1
      ra2 += ca * r2; rb2 += cb * r2; rc2 += cc * r2
      tie3 += t * t * t - t
      below += t
    }
    val na = tagged.count(_._1 == "narrow").toLong
    val nb = tagged.count(_._1 == "mid").toLong
    val nc = tagged.count(_._1 == "wide").toLong
    val n = na + nb + nc; val nd = n.toDouble
    val hsum = ra2.toDouble * ra2.toDouble / na.toDouble +
      rb2.toDouble * rb2.toDouble / nb.toDouble +
      rc2.toDouble * rc2.toDouble / nc.toDouble
    val hRaw = 3.0 * hsum / nd / (nd + 1.0) - 3.0 * (nd + 1.0)
    val tieCorr = 1.0 - tie3.toDouble / (nd * nd * nd - nd)
    val h = hRaw / tieCorr
    val r = q("q139_kruskal_wallis").collect()(0)
    assert(r.getAs[Long]("na") == na && r.getAs[Long]("nb") == nb &&
      r.getAs[Long]("nc") == nc && r.getAs[Long]("n") == n)
    assert(r.getAs[Double]("h_raw") == hRaw)
    assert(r.getAs[Double]("tie_corr") == tieCorr)
    assert(r.getAs[Double]("h_stat") == h)
    // algebraic bounds: 0 <= H <= N - 1 (rank variance is bounded);
    // the tie correction is a fraction of mass, in (0, 1]
    assert(h >= 0.0 && h <= nd - 1.0, s"h=$h n=$n")
    assert(tieCorr > 0.0 && tieCorr <= 1.0)
    // attainability: order size separates revenue on this corpus
    assert(r.getAs[Boolean]("reject_95"), s"h=$h must exceed chi2(.95,2)")
  }

  test("q140: one-way ANOVA F equals a driver-side exact-moment model " +
      "bit-for-bit, SSB/SSW partition the total sum of squares, and F " +
      "agrees with q139's rejection") {
    val na = tagged.count(_._1 == "narrow").toLong
    val nb = tagged.count(_._1 == "mid").toLong
    val nc = tagged.count(_._1 == "wide").toLong
    val n = na + nb + nc; val nd = n.toDouble
    def sx(g: String) = tagged.filter(_._1 == g).map(_._2).sum
    val (sa, sb, sc) = (sx("narrow"), sx("mid"), sx("wide"))
    val sxAll = sa + sb + sc
    val sxxAll = tagged.map(p => p._2 * p._2).sum
    val gsum = sa.toDouble * sa.toDouble / na.toDouble +
      sb.toDouble * sb.toDouble / nb.toDouble +
      sc.toDouble * sc.toDouble / nc.toDouble
    val ssb = gsum - sxAll.toDouble * sxAll.toDouble / nd
    val ssw = sxxAll.toDouble - gsum
    val f = ssb / 2.0 / (ssw / (nd - 3.0))
    val r = q("q140_anova_oneway").collect()(0)
    assert(r.getAs[Long]("na") == na && r.getAs[Long]("nb") == nb &&
      r.getAs[Long]("nc") == nc && r.getAs[Long]("n") == n)
    assert(r.getAs[Double]("ssb") == ssb)
    assert(r.getAs[Double]("ssw") == ssw)
    assert(r.getAs[Double]("f_stat") == f)
    // the decomposition: SSB + SSW == SST computed independently
    val mean = sxAll.toDouble / nd
    val sst = sxxAll.toDouble - nd * mean * mean
    assert(math.abs(ssb + ssw - sst) <= 1e-6 * sst, s"$ssb + $ssw != $sst")
    assert(ssb >= 0.0 && ssw > 0.0)
    // the two tests agree on this contrast (rank view == moment view)
    assert(r.getAs[Boolean]("reject_95"))
  }

  test("q141: Kendall tau-b from the dominance-grid plan equals a " +
      "brute-force O(n^2) pair count per nation, and agrees in sign " +
      "with q135's Spearman rho") {
    val pts = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n"),
        sum(Parity.cents2(col("l_extendedprice"))).as("rev"))
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .join(Tables.nation(spark, dir), col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name"), expr("rev div 100"), least(col("n"), lit(7L)))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1)
    val rho = SparkEntry.queries("q135_spearman_corr")(spark, dir)
      .collect().map(r => r.getAs[String]("nation") ->
        r.getAs[Double]("spearman_rho")).toMap
    val rows = q("q141_kendall_tau").collect()
    assert(rows.map(_.getAs[String]("nation")).toSet == pts.keySet)
    rows.foreach { r =>
      val g = pts(r.getAs[String]("nation")).map(p => (p._2, p._3))
      var conc = 0L; var disc = 0L; var tx = 0L; var ty = 0L
      for (i <- g.indices; j <- (i + 1) until g.length) {
        val ((x1, y1), (x2, y2)) = (g(i), g(j))
        val sgn = java.lang.Long.signum(x1 - x2) *
          java.lang.Long.signum(y1 - y2)
        if (sgn > 0) conc += 1 else if (sgn < 0) disc += 1
        if (x1 == x2) tx += 1
        if (y1 == y2) ty += 1
      }
      val n = g.length.toLong
      val n0x2 = n * (n - 1)
      val tau = (conc - disc).toDouble / math.sqrt(
        ((n0x2 - 2 * tx).toDouble / 2.0) * ((n0x2 - 2 * ty).toDouble / 2.0))
      assert(r.getAs[Long]("n") == n)
      assert(r.getAs[Long]("c_pairs") == conc, r.toString)
      assert(r.getAs[Long]("d_pairs") == disc, r.toString)
      assert(r.getAs[Long]("ties_x") == tx && r.getAs[Long]("ties_y") == ty)
      assert(r.getAs[Double]("tau_b") == tau, r.toString)
      // tau and rho measure the same monotone association: same sign,
      // and |tau| <= |rho| does NOT hold in general, but both must be
      // strongly positive on this corpus (revenue grows with items)
      assert(tau > 0.3 && rho(r.getAs[String]("nation")) > tau,
        s"tau=$tau rho=${rho(r.getAs[String]("nation"))}")
    }
  }

  test("t38: Good-Turing smoothing equals a driver-side count-of-counts " +
      "model bit-for-bit; the smoothed masses and the missing mass " +
      "behave like probabilities") {
    val freqs = Tables.documents(spark, dir)
      .select(split(trim(col("text")), " ").as("l"))
      .collect().map(_.getSeq[String](0))
      .filter(_.length >= 2)
      .flatMap(ws => ws.sliding(2).map(p => p.head + " " + p(1)))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val cc = freqs.values.groupBy(identity).view
      .mapValues(_.size.toLong).toMap
    val nTokens = freqs.values.sum
    val n1 = cc.getOrElse(1L, 0L)
    val rows = q("t38_good_turing").collect()
    assert(rows.nonEmpty && rows.length <= 20)
    rows.foreach { row =>
      val r = row.getAs[Long]("r")
      assert(r <= 20L)
      val nr = cc(r)
      val nr1 = cc.getOrElse(r + 1, 0L)
      val rStar = ((r + 1) * nr1).toDouble / nr.toDouble
      assert(row.getAs[Long]("n_r") == nr)
      assert(row.getAs[Long]("n_r1") == nr1)
      assert(row.getAs[Double]("r_star") == rStar, row.toString)
      assert(row.getAs[Double]("p_gt") ==
        rStar / nTokens.toDouble, row.toString)
      assert(row.getAs[Double]("missing_mass") ==
        n1.toDouble / nTokens.toDouble)
    }
    // the estimator must actually fire on this corpus: hapaxes exist,
    // so unseen mass is a real probability, and the smoothed hapax
    // count is discounted below its raw count (the G-T signature)
    val mm = rows.head.getAs[Double]("missing_mass")
    assert(mm > 0.0 && mm < 1.0)
    val hapax = rows.find(_.getAs[Long]("r") == 1L)
    hapax.foreach(h => assert(h.getAs[Double]("r_star") <
      2.0 * h.getAs[Long]("n_r"), "smoothing must not inflate hapaxes"))
  }

  test("q142: Wilson intervals equal a driver-side model bit-for-bit, " +
      "bracket the raw rate, and the lower-bound ranking genuinely " +
      "re-orders the naive rate ranking") {
    val counts = Tables.lineitem(spark, dir)
      .join(Tables.part(spark, dir), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("k"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    val rows = q("q142_wilson_ranking").collect()
    assert(rows.length == counts.size)
    rows.foreach { r =>
      val (n, k) = counts(r.getAs[String]("p_brand"))
      val nd = n.toDouble
      val rate = k.toDouble / nd
      val den = 1.0 + 3.8416 / nd
      val center = (rate + 3.8416 / (2.0 * nd)) / den
      val half = 1.96 * math.sqrt(rate * (1.0 - rate) / nd +
        3.8416 / (4.0 * nd * nd)) / den
      assert(r.getAs[Long]("n") == n && r.getAs[Long]("k") == k)
      assert(r.getAs[Double]("rate") == rate)
      assert(r.getAs[Double]("wilson_lb") == center - half, r.toString)
      assert(r.getAs[Double]("wilson_ub") == center + half, r.toString)
      // the interval brackets the point estimate
      assert(center - half < rate && rate < center + half)
      assert(center - half > 0.0 && center + half < 1.0)
    }
    // both rankings are permutations of 1..n, and they disagree
    // somewhere (small-sample shrinkage must actually bite)
    val raws = rows.map(_.getAs[Long]("rank_raw")).sorted
    val lbs = rows.map(_.getAs[Long]("rank_lb")).sorted
    assert(raws.toSeq == (1L to counts.size).toSeq)
    assert(lbs.toSeq == (1L to counts.size).toSeq)
    assert(rows.count(_.getAs[Boolean]("moved")) > 0,
      "the Wilson ranking must re-order at least one brand")
  }

  test("q143: the Simpson detector's directions equal a driver-side " +
      "integer cross-multiplication model, segment counts partition the " +
      "fact table, and at least one month reverses the pooled direction") {
    val raw = Tables.lineitem(spark, dir)
      .select(month(col("l_shipdate")).cast("long"),
        (col("l_discount") >= 0.05), (col("l_returnflag") === "R"))
      .collect().map(r => (r.getLong(0), r.getBoolean(1), r.getBoolean(2)))
    val bySeg = raw.groupBy(_._1).view.mapValues { g =>
      (g.count(p => p._2 && p._3).toLong, g.count(_._2).toLong,
        g.count(p => !p._2 && p._3).toLong, g.count(!_._2).toLong)
    }.toMap
    val (ak1, an1, ak0, an0) = bySeg.values
      .foldLeft((0L, 0L, 0L, 0L)) { case ((a, b, c, e), (k1, n1, k0, n0)) =>
        (a + k1, b + n1, c + k0, e + n0)
      }
    val dagg = ak1 * an0 - ak0 * an1
    def sgn(v: Long): Int = java.lang.Long.signum(v)
    val rows = q("q143_simpson_reversal").collect()
    assert(rows.length == bySeg.size)
    rows.foreach { r =>
      val (k1, n1, k0, n0) = bySeg(r.getAs[Long]("ship_month"))
      assert(r.getAs[Long]("k1") == k1 && r.getAs[Long]("n1") == n1 &&
        r.getAs[Long]("k0") == k0 && r.getAs[Long]("n0") == n0)
      assert(r.getAs[Int]("dir_seg") == sgn(k1 * n0 - k0 * n1))
      assert(r.getAs[Int]("dir_agg") == sgn(dagg))
      assert(r.getAs[Boolean]("reversed") ==
        (sgn(k1 * n0 - k0 * n1) != 0 && sgn(k1 * n0 - k0 * n1) != sgn(dagg)))
      assert(r.getAs[Double]("rate_hi") == k1.toDouble / n1.toDouble)
    }
    // counts partition the fact table exactly
    assert((an1 + an0) == raw.length.toLong)
    // the trap must be observable on this corpus
    assert(rows.count(_.getAs[Boolean]("reversed")) > 0,
      "at least one month must run against the pooled direction")
  }

  test("q144: Cohen's kappa equals a driver-side confusion model " +
      "bit-for-bit, every cell is populated, and kappa unmasks the " +
      "chance-level agreement behind the raw overlap") {
    val aSet = SparkEntry.queries("t02_quality_score")(spark, dir)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("quality") == "ok")).toMap
    val bSet = operators.TextOps
      .repetitionStats(Tables.documents(spark, dir))
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Int]("n_dup_pos") == 0)).toMap
    assert(aSet.keySet == bSet.keySet)
    var n11 = 0L; var n10 = 0L; var n01 = 0L; var n00 = 0L
    aSet.foreach { case (id, a) =>
      (a, bSet(id)) match {
        case (true, true)   => n11 += 1
        case (true, false)  => n10 += 1
        case (false, true)  => n01 += 1
        case (false, false) => n00 += 1
      }
    }
    val n = n11 + n10 + n01 + n00
    val expsum = (n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00)
    val kappa = (n * (n11 + n00) - expsum).toDouble /
      (n * n - expsum).toDouble
    val r = q("q144_cohens_kappa").collect()(0)
    assert(r.getAs[Long]("n11") == n11 && r.getAs[Long]("n10") == n10 &&
      r.getAs[Long]("n01") == n01 && r.getAs[Long]("n00") == n00)
    assert(r.getAs[Long]("n") == n)
    assert(r.getAs[Double]("p_observed") ==
      (n11 + n00).toDouble / n.toDouble)
    assert(r.getAs[Double]("p_expected") ==
      expsum.toDouble / n.toDouble / n.toDouble)
    assert(r.getAs[Double]("kappa") == kappa, r.toString)
    // the comparison is non-degenerate: both raters vary, all cells hit
    assert(n11 > 0 && n10 > 0 && n01 > 0 && n00 > 0,
      s"cells ($n11, $n10, $n01, $n00)")
    // the unmasking: raw agreement looks material, kappa says chance
    assert(r.getAs[Double]("p_observed") > 0.3)
    assert(kappa != 0.0 && math.abs(kappa) < 0.2,
      s"kappa=$kappa should expose near-chance agreement here")
    assert(kappa > -1.0 && kappa < 1.0)
  }

  test("q145: the rolling quantile-coverage backtest equals a " +
      "driver-side trailing-window model bit-for-bit, never sees the " +
      "judged week, and covers near the nominal 80%") {
    val pts = Tables.orders(spark, dir)
      .select(expr("CAST(datediff(o_orderdate, DATE '1992-01-01') " +
        "AS BIGINT) div 7"), Parity.cents2(col("o_totalprice")))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val byWeek = pts.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    def discretePct(vs: Seq[Long], k: Long): Long = {
      val sorted = vs.sorted
      val tot = sorted.length.toLong
      sorted.zipWithIndex
        .find { case (_, i) => 10L * (i + 1) >= k * tot }.get._1
    }
    val rows = q("q145_quantile_coverage").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val w = r.getAs[Long]("wk")
      val prior = ((w - 8) until w).flatMap(pw =>
        byWeek.getOrElse(pw, Array.empty[Long]))
      assert(prior.nonEmpty, s"week $w emitted without prior history")
      val p10 = discretePct(prior, 1L)
      val p90 = discretePct(prior, 9L)
      val cur = byWeek(w)
      assert(r.getAs[Long]("n_prior") == prior.length.toLong)
      assert(r.getAs[Long]("p10") == p10, s"week $w")
      assert(r.getAs[Long]("p90") == p90, s"week $w")
      assert(r.getAs[Long]("n_cur") == cur.length.toLong)
      val inside = cur.count(v => v >= p10 && v <= p90).toLong
      assert(r.getAs[Long]("n_inside") == inside)
      assert(r.getAs[Double]("coverage") ==
        inside.toDouble / cur.length.toDouble)
      assert(p10 <= p90)
    }
    // weeks with zero prior history must be absent (warm-up drop)
    val emitted = rows.map(_.getAs[Long]("wk")).toSet
    byWeek.keys.filter(w => ((w - 8) until w)
      .forall(pw => !byWeek.contains(pw)))
      .foreach(w => assert(!emitted.contains(w), s"warm-up week $w"))
    // calibration: the mean out-of-sample coverage of a 10-90 interval
    // sits near 0.8 on a stationary series
    val mean = rows.map(_.getAs[Double]("coverage")).sum / rows.length
    assert(mean > 0.6 && mean < 0.95, s"mean coverage $mean")
  }

  test("q146: the CMH statistic equals a driver-side stratified model " +
      "(decimal term sums mirroring dsum), and the common odds ratio " +
      "confirms the within-stratum association q143's pooled view " +
      "cannot adjudicate") {
    val pts = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey")).agg(count(lit(1)).as("n"),
        sum(Parity.cents2(col("l_extendedprice"))).as("cents"))
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .join(Tables.nation(spark, dir), col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name"), col("cents"), col("n"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val sortedCents = pts.map(_._2).sorted
    val nAll = sortedCents.length
    val med = sortedCents.zipWithIndex
      .find { case (_, i) => 2L * (i + 1) >= nAll.toLong }.get._1
    def dec6(x: Double): BigDecimal =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    var sumA = 0L
    var se = BigDecimal(0); var sv = BigDecimal(0)
    var rn = BigDecimal(0); var rd = BigDecimal(0)
    val strata = pts.groupBy(_._1)
    strata.foreach { case (_, g) =>
      val a = g.count(p => p._2 > med && p._3 >= 4).toLong
      val b = g.count(p => p._2 > med && p._3 < 4).toLong
      val c = g.count(p => p._2 <= med && p._3 >= 4).toLong
      val dd = g.count(p => p._2 <= med && p._3 < 4).toLong
      val nd = (a + b + c + dd).toDouble
      sumA += a
      se += dec6(((a + b) * (a + c)).toDouble / nd)
      sv += dec6((a + b).toDouble * (c + dd).toDouble * (a + c).toDouble *
        (b + dd).toDouble / (nd * nd * (nd - 1.0)))
      rn += dec6((a * dd).toDouble / nd)
      rd += dec6((b * c).toDouble / nd)
    }
    val t = math.max(math.abs(sumA.toDouble - se.toDouble) - 0.5, 0.0)
    val cmh = t * t / sv.toDouble
    val orMh = rn.toDouble / rd.toDouble
    val r = q("q146_cmh_test").collect()(0)
    assert(r.getAs[Long]("n_strata") == strata.size.toLong)
    assert(r.getAs[Long]("sum_a") == sumA)
    assert(r.getAs[Double]("sum_e") == se.toDouble, r.toString)
    assert(r.getAs[Double]("sum_v") == sv.toDouble, r.toString)
    assert(r.getAs[Double]("cmh_stat") == cmh)
    assert(r.getAs[Double]("or_mh") == orMh)
    // the contrast genuinely fires: big orders are wide orders in
    // every stratum, so the adjusted common association is strong
    assert(orMh > 2.0, s"or_mh=$orMh")
    assert(r.getAs[Boolean]("reject_95"), s"cmh=$cmh")
  }

  test("q147: Jonckheere-Terpstra equals a brute-force ordered pairwise " +
      "U model bit-for-bit and detects the monotone size-revenue trend " +
      "one-sided") {
    val groups = Seq("narrow", "mid", "wide")
      .map(g => tagged.filter(_._1 == g).map(_._2))
    // brute-force 2xJT: for each ordered group pair, 2*(#less) + ties
    var jt2 = 0L
    for (i <- groups.indices; j <- (i + 1) until groups.length;
         x <- groups(i); y <- groups(j)) {
      if (x < y) jt2 += 2 else if (x == y) jt2 += 1
    }
    val ns = groups.map(_.length.toLong)
    val n = ns.sum
    val pooled = tagged.map(_._2)
    val tieGroups = pooled.groupBy(identity).values.map(_.length.toLong)
    val t2 = tieGroups.map(t => t * (t - 1)).sum
    val t3 = tieGroups.map(t => t * (t - 1) * (t - 2)).sum
    val t25 = tieGroups.map(t => t * (t - 1) * (2 * t + 5)).sum
    val g2 = ns.map(v => v * (v - 1)).sum
    val g3 = ns.map(v => v * (v - 1) * (v - 2)).sum
    val g25 = ns.map(v => v * (v - 1) * (2 * v + 5)).sum
    val nd = n.toDouble
    val jt = jt2.toDouble / 2.0
    val mu = (n * n - ns.map(v => v * v).sum).toDouble / 4.0
    val sig2 = (n * (n - 1) * (2 * n + 5) - g25 - t25).toDouble / 72.0 +
      g3.toDouble * t3.toDouble / (36.0 * nd * (nd - 1.0) * (nd - 2.0)) +
      g2.toDouble * t2.toDouble / (8.0 * nd * (nd - 1.0))
    val z = (jt - mu) / math.sqrt(sig2)
    val r = q("q147_jonckheere_trend").collect()(0)
    assert(r.getAs[Long]("na") == ns(0) && r.getAs[Long]("nb") == ns(1) &&
      r.getAs[Long]("nc") == ns(2) && r.getAs[Long]("n") == n)
    assert(r.getAs[Double]("jt") == jt, r.toString)
    assert(r.getAs[Double]("mu") == mu)
    assert(r.getAs[Double]("z") == z, r.toString)
    // the ordered alternative holds: revenue increases with size order
    assert(z > 1.645 && r.getAs[Boolean]("reject_95_ordered"), s"z=$z")
    assert(jt > mu)
  }

  test("t39: the BPE encode audit equals a driver-side replay of the " +
      "5-merge trainer, characters are conserved through merges, and " +
      "the learned merges genuinely compress") {
    val wordCounts = Tables.documents(spark, dir)
      .select(explode(expr(
        "filter(split(trim(text), ' '), x -> x <> '')")).as("w"))
      .collect().map(_.getString(0))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    // driver replay: bracketed symbols, 5 deterministic argmax merges
    var syms: Map[String, Long] = wordCounts.map { case (w, c) =>
      w.toCharArray.map(ch => s"[$ch]").mkString -> c
    }
    (1 to 5).foreach { _ =>
      val pairCounts = scala.collection.mutable.Map[String, Long]()
      syms.foreach { case (sym, c) =>
        val toks = sym.substring(1, sym.length - 1).split("\\]\\[")
        toks.sliding(2).filter(_.length == 2).foreach { p =>
          val pair = s"[${p(0)}][${p(1)}]"
          pairCounts(pair) = pairCounts.getOrElse(pair, 0L) + c
        }
      }
      val top = pairCounts.toSeq.minBy { case (p, c) => (-c, p) }._1
      val merged = top.replace("][", "")
      syms = syms.groupBy { case (sym, _) => sym.replace(top, merged) }
        .map { case (k, vs) => k -> vs.values.sum }
    }
    val nWords = syms.size.toLong
    val nOcc = syms.values.sum
    val nChar = syms.map { case (sym, c) =>
      c * sym.replace("[", "").replace("]", "").length }.sum
    val nBpe = syms.map { case (sym, c) =>
      c * sym.substring(1, sym.length - 1).split("\\]\\[").length }.sum
    val r = q("t39_bpe_encode").collect()(0)
    assert(r.getAs[Long]("n_words") == nWords, r.toString)
    assert(r.getAs[Long]("n_occurrences") == nOcc)
    assert(r.getAs[Long]("n_char_tokens") == nChar, r.toString)
    assert(r.getAs[Long]("n_bpe_tokens") == nBpe, r.toString)
    assert(r.getAs[Double]("chars_per_token") ==
      nChar.toDouble / nBpe.toDouble)
    assert(r.getAs[Double]("token_reduction") ==
      1.0 - nBpe.toDouble / nChar.toDouble)
    // conservation: merges never create or destroy characters
    val rawChars = wordCounts.map { case (w, c) => c * w.length }.sum
    assert(nChar == rawChars)
    // the merges must actually compress (5 merges on this corpus)
    assert(nBpe < nChar && r.getAs[Double]("token_reduction") > 0.0)
    assert(r.getAs[Double]("chars_per_token") > 1.0)
  }

  test("q148: Friedman/Kendall-W equals a driver-side blocked-rank " +
      "model, and the size-revenue ordering is perfectly concordant " +
      "across every nation on this corpus") {
    val obs = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n"),
        sum(Parity.cents2(col("l_extendedprice"))).as("cents"))
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .join(Tables.nation(spark, dir), col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name"), col("n"), col("cents"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val ranks = obs.groupBy(_._1).map { case (nation, g) =>
      val byGrp = g.groupBy(p =>
        if (p._2 <= 2) "narrow" else if (p._2 <= 5) "mid" else "wide")
      val means = byGrp.map { case (grp, rs) =>
        grp -> rs.map(_._3).sum.toDouble / rs.size.toDouble }
      nation -> means.toSeq.sortBy { case (grp, m) => (m, grp) }
        .zipWithIndex.map { case ((grp, _), i) => grp -> (i + 1).toLong }
        .toMap
    }
    val nBlocks = ranks.size.toLong
    def rSum(grp: String): Long = ranks.values.map(_(grp)).sum
    val (rn, rm, rw) = (rSum("narrow"), rSum("mid"), rSum("wide"))
    val nd = nBlocks.toDouble
    val sr2 = rn * rn + rm * rm + rw * rw
    val chi2 = 12.0 * sr2.toDouble / (nd * 3.0 * 4.0) - 3.0 * nd * 4.0
    val r = q("q148_friedman_concordance").collect()(0)
    assert(r.getAs[Long]("n_blocks") == nBlocks)
    assert(r.getAs[Long]("r_narrow") == rn && r.getAs[Long]("r_mid") == rm
      && r.getAs[Long]("r_wide") == rw, r.toString)
    assert(r.getAs[Double]("chi2_f") == chi2)
    assert(r.getAs[Double]("kendall_w") == chi2 / (nd * 2.0))
    // perfect concordance IS the corpus truth: every block ranks
    // narrow < mid < wide, so W = 1 exactly and the rank sums are the
    // closed forms n, 2n, 3n
    assert(rn == nBlocks && rm == 2 * nBlocks && rw == 3 * nBlocks)
    assert(r.getAs[Double]("kendall_w") == 1.0)
    assert(r.getAs[Boolean]("reject_95"))
  }

  test("q149: the raking weights equal a driver-side IPF replay with " +
      "decimal margin sums, margins converge to the uniform targets, " +
      "and the error improves monotonically across rounds") {
    val cells = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey")).agg(count(lit(1)).as("n"))
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .join(Tables.nation(spark, dir), col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name"), col("n"))
      .collect().map(r => (r.getString(0),
        if (r.getLong(1) <= 2) "narrow"
        else if (r.getLong(1) <= 5) "mid" else "wide"))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val nAll = cells.values.sum
    val nations = cells.keys.map(_._1).toSeq.distinct
    val rowT = nAll.toDouble / nations.length.toDouble
    val colT = nAll.toDouble / 3.0
    def dec6(x: Double): BigDecimal =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    var wts: Map[(String, String), Double] =
      cells.keys.map(_ -> 1.0).toMap
    def rowErrOf(m: Map[(String, String), Double]): Double =
      nations.map { nat =>
        val rm = cells.collect { case (k, c) if k._1 == nat =>
          dec6(m(k) * c.toDouble) }.sum.toDouble
        math.abs(rm - rowT) / rowT
      }.max
    var roundErrs = Seq.empty[Double]
    (1 to 5).foreach { _ =>
      roundErrs :+= rowErrOf(wts)
      val rowM = nations.map { nat => nat ->
        cells.collect { case (k, c) if k._1 == nat =>
          dec6(wts(k) * c.toDouble) }.sum.toDouble }.toMap
      wts = wts.map { case (k, w) => k -> w * rowT / rowM(k._1) }
      val colM = Seq("narrow", "mid", "wide").map { g => g ->
        cells.collect { case (k, c) if k._2 == g =>
          dec6(wts(k) * c.toDouble) }.sum.toDouble }.toMap
      wts = wts.map { case (k, w) => k -> w * colT / colM(k._2) }
    }
    val rows = q("q149_raking_weights").collect()
    assert(rows.length == cells.size)
    rows.foreach { r =>
      val k = (r.getAs[String]("nation"), r.getAs[String]("grp"))
      assert(r.getAs[Long]("cnt") == cells(k))
      assert(r.getAs[Double]("w") == wts(k), s"$k: $r")
      assert(r.getAs[Double]("weighted_cnt") == wts(k) * cells(k).toDouble)
    }
    // converged: margins sit on the uniform targets after 5 rounds
    val err = rows.head.getAs[Double]("max_margin_err")
    assert(err >= 0.0 && err < 1e-3, s"max margin err $err")
    // and round-1's row error was materially worse (IPF is converging,
    // not starting converged)
    assert(roundErrs.head > 10 * math.max(err, 1e-12),
      s"round errors $roundErrs vs final $err")
  }

  test("q150: exact-moment skewness/kurtosis equal a driver-side BigInt " +
      "raw-moment model bit-for-bit and agree with Spark's built-in " +
      "running-float aggregates to float tolerance") {
    val pts = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey"))
      .agg(sum(Parity.cents2(col("l_extendedprice"))).as("rev"))
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .join(Tables.nation(spark, dir), col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name"), expr("rev div 100"))
      .collect().map(r => (r.getString(0), BigInt(r.getLong(1))))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val builtins = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey"))
      .agg(sum(Parity.cents2(col("l_extendedprice"))).as("rev"))
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .join(Tables.nation(spark, dir), col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name").as("nation"),
        expr("CAST((rev div 100) AS DOUBLE)").as("xd"))
      .groupBy(col("nation"))
      .agg(skewness(col("xd")).as("sk"), kurtosis(col("xd")).as("ku"))
      .collect().map(r => r.getString(0) ->
        (r.getDouble(1), r.getDouble(2))).toMap
    val rows = q("q150_moment_profile").collect()
    assert(rows.length == pts.size)
    rows.foreach { r =>
      val nation = r.getAs[String]("nation")
      val vs = pts(nation)
      val n = vs.length.toLong; val nd = n.toDouble
      val mean = vs.sum.toDouble / nd
      val r2 = vs.map(v => v * v).sum.toDouble / nd
      val r3 = vs.map(v => v * v * v).sum.toDouble / nd
      val r4 = vs.map(v => v * v * v * v).sum.toDouble / nd
      val m2c = r2 - mean * mean
      val m3c = r3 - 3.0 * mean * r2 + 2.0 * mean * mean * mean
      val m4c = r4 - 4.0 * mean * r3 + 6.0 * mean * mean * r2 -
        3.0 * mean * mean * mean * mean
      assert(r.getAs[Long]("n") == n)
      assert(r.getAs[Double]("mean") == mean, nation)
      assert(r.getAs[Double]("variance") == m2c, nation)
      assert(r.getAs[Double]("skewness") ==
        m3c / (math.sqrt(m2c) * m2c), nation)
      assert(r.getAs[Double]("kurtosis_excess") ==
        m4c / (m2c * m2c) - 3.0, nation)
      assert(m2c > 0.0)
      // the built-in running-float aggregates land within float noise
      // of the exact-moment values (they could never hash-match, which
      // is exactly why this operator exists)
      val (sk, ku) = builtins(nation)
      assert(math.abs(sk - r.getAs[Double]("skewness")) < 1e-6, nation)
      assert(math.abs(ku - r.getAs[Double]("kurtosis_excess")) < 1e-6,
        nation)
    }
  }

  test("q151: the median CI equals a driver-side order-statistic model, " +
      "brackets the median, and narrows with sample size") {
    val pts = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey"))
      .agg(sum(Parity.cents2(col("l_extendedprice"))).as("rev"))
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .join(Tables.nation(spark, dir), col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name"), expr("rev div 100"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    val rows = q("q151_median_ci").collect()
    assert(rows.length == pts.size)
    rows.foreach { r =>
      val vs = pts(r.getAs[String]("nation"))
      val n = vs.length.toLong; val nd = n.toDouble
      val kLo = math.floor((nd - 1.96 * math.sqrt(nd)) / 2.0).toLong
      val kHi = math.ceil(1.0 + (nd + 1.96 * math.sqrt(nd)) / 2.0).toLong
      def atRank(k: Long): Long = vs((k - 1).toInt.max(0))
      val med = vs(((n + 1) / 2 - 1).toInt)
      assert(r.getAs[Long]("n") == n)
      assert(r.getAs[Long]("k_lo") == kLo && r.getAs[Long]("k_hi") == kHi)
      assert(r.getAs[Long]("median") == med, r.toString)
      assert(r.getAs[Long]("ci_lo") == atRank(kLo), r.toString)
      assert(r.getAs[Long]("ci_hi") == atRank(kHi), r.toString)
      // the interval brackets the median and is non-degenerate
      assert(r.getAs[Long]("ci_lo") <= med && med <= r.getAs[Long]("ci_hi"))
      assert(r.getAs[Long]("ci_lo") < r.getAs[Long]("ci_hi"))
      // the relative half-width shrinks like 1/sqrt(n): sanity-bound it
      val width = (r.getAs[Long]("ci_hi") - r.getAs[Long]("ci_lo")).toDouble
      assert(width / med.toDouble < 3.0 / math.sqrt(nd) * 10.0,
        s"width $width vs n=$n")
    }
  }

  test("q152/q153: the sign test and Bowley skewness equal driver-side " +
      "models, and both confirm q150's right skew nonparametrically in " +
      "aggregate (every nation at sf0.01; majority at this tiny SF)") {
    val pts = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey"))
      .agg(sum(Parity.cents2(col("l_extendedprice"))).as("rev"))
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .join(Tables.nation(spark, dir), col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name"), expr("rev div 100"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val sign = q("q152_sign_test").collect()
    sign.foreach { r =>
      val vs = pts(r.getAs[String]("nation"))
      val n = vs.length.toLong
      val s1 = vs.map(BigInt(_)).sum
      val below = vs.count(v => BigInt(v) * n < s1).toLong
      val above = vs.count(v => BigInt(v) * n > s1).toLong
      val m = below + above
      val z = (2.0 * below.toDouble - m.toDouble - 1.0) /
        math.sqrt(m.toDouble)
      assert(r.getAs[Long]("n") == n)
      assert(r.getAs[Long]("k_below") == below, r.toString)
      assert(r.getAs[Long]("k_above") == above)
      assert(r.getAs[Double]("z") == z)
    }
    // right skew => more mass below the mean: at this spec's tiny SF
    // (~40 orders per nation) individual nations are noisy, so the
    // direction is asserted in aggregate (pooled counts + a clear
    // majority of nations; at sf0.01 all 25 nations reject)
    val totBelow = sign.map(_.getAs[Long]("k_below")).sum
    val totAbove = sign.map(_.getAs[Long]("k_above")).sum
    assert(totBelow > totAbove, s"$totBelow vs $totAbove")
    val belowMajor = sign.count(r =>
      r.getAs[Long]("k_below") > r.getAs[Long]("k_above"))
    assert(belowMajor * 10 >= sign.length * 6,
      s"$belowMajor of ${sign.length} nations lean below")
    val bowley = q("q153_bowley_skew").collect()
    bowley.foreach { r =>
      val vs = pts(r.getAs[String]("nation")).sorted
      val n = vs.length.toLong
      def qk(k: Long): Long = {
        // smallest value whose 4*cum >= k*n on the sorted grid
        val idx = vs.indices.find(i => 4L * (i + 1) >= k * n).get
        vs(idx)
      }
      val (q1, med, q3) = (qk(1), qk(2), qk(3))
      assert(r.getAs[Long]("q1") == q1 && r.getAs[Long]("median") == med
        && r.getAs[Long]("q3") == q3, r.toString)
      val b = (q3 + q1 - 2 * med).toDouble / (q3 - q1).toDouble
      assert(r.getAs[Double]("bowley_skew") == b)
      assert(b > -1.0 && b < 1.0, s"${r.getAs[String]("nation")}: $b")
    }
    // direction on the POOLED corpus (per-nation quartiles are pure
    // noise at ~40 orders; 24/25 nations are positive at sf0.01,
    // pre-verified): global Bowley is ~0.08 even at this tiny SF
    val all = pts.values.flatten.toSeq.sorted
    val nAll = all.length.toLong
    def gq(k: Long): Long =
      all(all.indices.find(i => 4L * (i + 1) >= k * nAll).get)
    val gBowley = (gq(3) + gq(1) - 2 * gq(2)).toDouble /
      (gq(3) - gq(1)).toDouble
    assert(gBowley > 0.0, s"pooled bowley $gBowley")
    assert(sign.length == pts.size && bowley.length == pts.size)
  }
}
