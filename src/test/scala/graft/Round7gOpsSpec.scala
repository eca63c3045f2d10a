package graft

import org.apache.spark.sql.functions._

/** Invariants of the robust statistics and series diagnostics
  * (Statistics, Forecasting): each query is checked against a driver-side model
  * computed with the same exact carriers, plus the statistical
  * properties a practitioner relies on (MAD ≤ spread bounds, the
  * Theil–Sen/OLS agreement in sign, ACF bounds, the Benford rejection
  * this synthetic corpus must produce, JSD symmetry-by-construction
  * and its [0, 1] bit range). Value-level equality vs the DuckDB
  * oracle runs via graft.Verify + tools/compare.py.
  */
class Round7gOpsSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"
  private def q(name: String) = SparkEntry.queries(name)(spark, dir)

  /** (nation, per-order dollars) — the q154 input frame, collected. */
  private lazy val pts: Map[String, Array[Long]] =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey"))
      .agg(sum(Parity.cents2(col("l_extendedprice"))).as("rev"))
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .join(Tables.nation(spark, dir), col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name"), expr("rev div 100"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap

  /** Grid-rule median over longs: smallest v with 2·cum ≥ n. */
  private def gridMedian(vs: Array[Long]): Long = {
    val sorted = vs.sorted
    val n = sorted.length.toLong
    sorted(sorted.indices.find(i => 2L * (i + 1) >= n).get)
  }

  test("q154: median/MAD/outlier counts equal a driver-side grid-rule " +
      "model, MAD is positive and bounded by the half-range, and the " +
      "robust-z cut matches the exact 44478-cross-multiplication") {
    val rows = q("q154_mad_profile").collect()
    assert(rows.length == pts.size)
    rows.foreach { r =>
      val nation = r.getAs[String]("nation")
      val vs = pts(nation)
      val med = gridMedian(vs)
      val devs = vs.map(v => math.abs(v - med))
      val mad = gridMedian(devs)
      val nOut = devs.count(d => d * 10000L > 44478L * mad).toLong
      assert(r.getAs[Long]("n") == vs.length.toLong)
      assert(r.getAs[Long]("median") == med, s"$nation median")
      assert(r.getAs[Long]("mad") == mad, s"$nation mad")
      assert(r.getAs[Long]("n_out") == nOut, s"$nation n_out")
      assert(r.getAs[Double]("out_rate") ==
        nOut.toDouble / vs.length.toDouble)
      assert(mad > 0L && mad <= (vs.max - vs.min + 1) / 2,
        s"$nation mad=$mad range=${vs.max - vs.min}")
    }
  }

  test("q155: Theil-Sen slope equals a driver-side pairwise-median " +
      "model and n_pairs is exactly C(n_weeks over populated pairs)") {
    val weekly = Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .join(Tables.nation(spark, dir), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"),
        expr("CAST(datediff(o_orderdate, DATE '1992-01-01') AS BIGINT) div 7"))
      .agg(expr("sum(CAST(round(l_extendedprice * 100) AS BIGINT)) div 100"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).sortBy(_._1)).toMap
    val rows = q("q155_theil_sen").collect()
    assert(rows.length == weekly.size)
    rows.foreach { r =>
      val nation = r.getAs[String]("nation")
      val wks = weekly(nation)
      val slopes = for {
        i <- wks.indices; j <- (i + 1) until wks.length
      } yield (wks(j)._2 - wks(i)._2).toDouble / (wks(j)._1 - wks(i)._1).toDouble
      val sorted = slopes.sorted
      val np = sorted.length.toLong
      val ts = sorted(sorted.indices.find(i => 2L * (i + 1) >= np).get)
      assert(r.getAs[Long]("n_weeks") == wks.length.toLong)
      assert(r.getAs[Long]("n_pairs") ==
        wks.length.toLong * (wks.length - 1) / 2)
      assert(r.getAs[Double]("ts_slope") == ts, s"$nation slope")
    }
  }

  test("q156: the contiguity guard fires on this SF's gapped weekly " +
      "series (7 missing weeks), and at sf0.01 — contiguous — the ACF " +
      "equals a driver-side exact-moment model with Ljung-Box rising " +
      "in lag") {
    val err = intercept[Exception] { q("q156_acf_ljung_box").collect() }
    assert(err.getMessage != null &&
      err.getMessage.contains("week index not contiguous"),
      s"guard message: ${err.getMessage}")

    val d01 = "/root/testdata/sf0.01"
    val wk = Tables.lineitem(spark, d01)
      .join(Tables.orders(spark, d01), col("l_orderkey") === col("o_orderkey"))
      .groupBy(expr(
        "CAST(datediff(o_orderdate, DATE '1992-01-01') AS BIGINT) div 7"))
      .agg(expr("sum(CAST(round(l_extendedprice * 100) AS BIGINT)) div 100"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val xs = wk.map(t => BigInt(t._2))
    val n = xs.length
    assert(wk.last._1 - wk.head._1 + 1 == n.toLong, "sf0.01 contiguous")
    val s1 = xs.sum
    def num(k: Int): BigInt =
      BigInt(n) * BigInt(n) * (0 until n - k).map(t => xs(t) * xs(t + k)).sum -
        BigInt(n) * s1 * (0 until n - k).map(t => xs(t) + xs(t + k)).sum +
        BigInt(n - k) * s1 * s1
    val den = BigInt(n) * BigInt(n) * xs.map(x => x * x).sum -
      BigInt(n) * s1 * s1
    val rows = SparkEntry.queries("q156_acf_ljung_box")(spark, d01)
      .collect().sortBy(_.getAs[Int]("lag"))
    assert(rows.length == 6)
    var lb = 0.0
    rows.foreach { r =>
      val k = r.getAs[Int]("lag")
      val expected = BigDecimal(num(k)).toDouble / BigDecimal(den).toDouble
      assert(r.getAs[Long]("n") == n.toLong)
      assert(r.getAs[Double]("acf") == expected, s"lag $k acf")
      val acf = r.getAs[Double]("acf")
      assert(acf > -1.0 && acf < 1.0, s"lag $k in range")
      lb = lb + acf * acf / (n.toDouble - k.toDouble)
      assert(r.getAs[Double]("lb_q") ==
        n.toDouble * (n.toDouble + 2.0) * lb, s"lag $k lb_q")
    }
    // lb_q is a cumulative sum of non-negative terms: non-decreasing
    val qs = rows.map(_.getAs[Double]("lb_q"))
    assert(qs.zip(qs.tail).forall { case (a, b) => b >= a })
  }

  test("q157: the Benford screen equals a driver-side model and " +
      "REJECTS this synthetic corpus (uniform price generator), with " +
      "all nine digits present and probabilities summing to ~1") {
    val cents = Tables.lineitem(spark, dir)
      .select(Parity.cents2(col("l_extendedprice")))
      .collect().map(_.getLong(0))
    val obs = cents.groupBy(_.toString.head.asDigit).view
      .mapValues(_.length.toLong).toMap
    val n = cents.length.toLong
    val benford = Array(0.3010299956639812, 0.17609125905568124,
      0.12493873660829992, 0.09691001300805642, 0.07918124604762482,
      0.06694678963061322, 0.05799194697768673, 0.05115252244738129,
      0.04575749056067514)
    assert(math.abs(benford.sum - 1.0) < 1e-12)
    val rows = q("q157_benford_screen").collect()
    assert(rows.length == 9)
    rows.foreach { r =>
      val d = r.getAs[Int]("digit")
      assert(r.getAs[Long]("obs") == obs(d), s"digit $d obs")
      assert(r.getAs[Double]("benford_p") == benford(d - 1))
      val exp = n.toDouble * benford(d - 1)
      assert(r.getAs[Double]("expected") == exp)
      val od = obs(d).toDouble
      assert(r.getAs[Double]("chi_part") == (od - exp) * (od - exp) / exp)
      assert(r.getAs[Boolean]("reject_95"), "synthetic prices must reject")
    }
    val chi2 = rows.map(_.getAs[Double]("chi2")).distinct
    assert(chi2.length == 1 && chi2.head > 15.5073)
  }

  test("q158: JSD is within [0, 1] bits on all 10 region pairs, " +
      "matches a driver-side model to decimal-rounding precision, and " +
      "is symmetric by construction (pair output covers each unordered " +
      "pair exactly once)") {
    val bx = Tables.lineitem(spark, dir)
      .join(Tables.part(spark, dir), col("l_partkey") === col("p_partkey"))
      .join(Tables.supplier(spark, dir), col("l_suppkey") === col("s_suppkey"))
      .join(Tables.nation(spark, dir), col("s_nationkey") === col("n_nationkey"))
      .join(Tables.region(spark, dir), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("p_brand"))
      .agg(count(lit(1)).as("c"))
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(2)))
      .toMap
    val regions = bx.keys.map(_._1).toSeq.distinct.sorted
    val brands = bx.keys.map(_._2).toSeq.distinct.sorted
    val tot = regions.map(rg =>
      rg -> brands.map(b => bx.getOrElse((rg, b), 0L)).sum).toMap
    def p(rg: String, b: String): Double =
      bx.getOrElse((rg, b), 0L).toDouble / tot(rg).toDouble
    val rows = q("q158_jsd_brand_mix").collect()
    assert(rows.length == regions.combinations(2).size) // 10 pairs
    rows.foreach { r =>
      val (ra, rb) = (r.getAs[String]("region_a"), r.getAs[String]("region_b"))
      assert(ra < rb, "each unordered pair exactly once, ordered")
      val jsd = brands.map { b =>
        val (pp, qq) = (p(ra, b), p(rb, b))
        val m = (pp + qq) / 2.0
        (if (pp > 0) pp * math.log(pp / m) / 2.0 else 0.0) +
          (if (qq > 0) qq * math.log(qq / m) / 2.0 else 0.0)
      }.sum
      val got = r.getAs[Double]("jsd_nats")
      // engine sums per-term DECIMAL(38,15) roundings; the driver
      // model sums raw doubles — equal to ~25 half-ulps at 1e-15
      assert(math.abs(got - jsd) < 1e-12, s"$ra/$rb jsd $got vs $jsd")
      assert(got >= 0.0 && r.getAs[Double]("jsd_bits") <= 1.0)
      assert(r.getAs[Double]("jsd_bits") == got / 0.6931471805599453)
      assert(r.getAs[Long]("n_brands") == brands.length.toLong)
    }
  }

  /** Global weekly revenue dollars in week order at this SF. */
  private def weeklySeries(d: String): Array[(Long, Long)] =
    Tables.lineitem(spark, d)
      .join(Tables.orders(spark, d), col("l_orderkey") === col("o_orderkey"))
      .groupBy(expr(
        "CAST(datediff(o_orderdate, DATE '1992-01-01') AS BIGINT) div 7"))
      .agg(expr("sum(CAST(round(l_extendedprice * 100) AS BIGINT)) div 100"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)

  test("q159: Pettitt K, changepoint week and log-p term equal a " +
      "driver-side exact 2x-midrank model, and this stationary corpus " +
      "does not reject") {
    val wk = weeklySeries(dir)
    val ys = wk.map(_._2)
    val n = ys.length
    val below = ys.map(y => ys.count(_ < y).toLong)
    val ties = ys.map(y => ys.count(_ == y).toLong)
    val r2 = ys.indices.map(i => 2L * below(i) + ties(i) + 1L)
    var s2 = 0L; var k = 0L; var cpIdx = -1
    for (t <- 1 until n) { // U_t over t < n
      s2 += r2(t - 1)
      val u = math.abs(s2 - t.toLong * (n + 1L))
      if (u > k) { k = u; cpIdx = t - 1 }
    }
    val logP = -6.0 * k.toDouble * k.toDouble /
      (n.toLong * n * n + n.toLong * n).toDouble
    val r = q("q159_pettitt_changepoint").collect()
    assert(r.length == 1)
    assert(r.head.getAs[Long]("n") == n.toLong)
    assert(r.head.getAs[Long]("k_stat") == k)
    assert(r.head.getAs[Long]("cp_week") == wk(cpIdx)._1)
    assert(r.head.getAs[Double]("log_p_term") == logP)
    assert(!r.head.getAs[Boolean]("reject_95"),
      "stationary TPC-H weekly revenue must not reject")
    assert(r.head.getAs[Double]("p_approx") ==
      math.min(1.0, BigDecimal(2.0 * math.exp(logP))
        .setScale(12, BigDecimal.RoundingMode.HALF_UP).toDouble))
  }

  test("q160: runs count, expectation and z equal a driver-side model " +
      "with median-ties excluded, and at sf0.01 the test REJECTS toward " +
      "oscillation — agreeing in sign with q156's negative lag-1 ACF") {
    def model(d: String): (Long, Long, Long, Double) = {
      val wk = weeklySeries(d)
      val ys = wk.map(_._2).sorted
      val n = ys.length.toLong
      val med = ys(ys.indices.find(i => 2L * (i + 1) >= n).get)
      val signs = wk.filter(_._2 != med).map(_._2 > med)
      val runs = 1L + signs.zip(signs.tail).count { case (a, b) => a != b }
      val m = signs.count(identity).toLong
      val kk = signs.length - m
      val (md, kd) = (m.toDouble, kk.toDouble)
      val e = 1.0 + 2.0 * md * kd / (md + kd)
      val v = 2.0 * md * kd * (2.0 * md * kd - md - kd) /
        ((md + kd) * (md + kd) * (md + kd - 1.0))
      (m, kk, runs, (runs.toDouble - e) / math.sqrt(v))
    }
    val r = q("q160_runs_test").collect()
    assert(r.length == 1)
    val (m, k, runs, z) = model(dir)
    assert(r.head.getAs[Long]("n_above") == m)
    assert(r.head.getAs[Long]("n_below") == k)
    assert(r.head.getAs[Long]("runs") == runs)
    assert(r.head.getAs[Double]("z") == z)

    val d01 = "/root/testdata/sf0.01"
    val r01 = SparkEntry.queries("q160_runs_test")(spark, d01).collect().head
    assert(r01.getAs[Boolean]("reject_95") && r01.getAs[Double]("z") > 1.96,
      "sf0.01 weekly revenue oscillates (more runs than chance)")
    val acf1 = SparkEntry.queries("q156_acf_ljung_box")(spark, d01)
      .collect().minBy(_.getAs[Int]("lag")).getAs[Double]("acf")
    assert(acf1 < 0.0, s"lag-1 ACF $acf1 should agree in sign " +
      "(anti-persistence) with the excess-runs rejection")
  }

  test("q161: the sketch error profile equals a driver-side replay of " +
      "the 128-sample KMV quantile sketch against exact grid " +
      "percentiles, errors are non-negative, and estimates stay inside " +
      "the per-flag value range") {
    val cents = Tables.lineitem(spark, dir)
      .select(col("l_returnflag"),
        round(col("l_extendedprice") * 100, 0).cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    def md5h(v: Long): Long =
      java.security.MessageDigest.getInstance("MD5")
        .digest(v.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15)
        .foldLeft(0L)((a, c) => a * 16 + Character.digit(c, 16))
    val rows = q("q161_sketch_error_profile").collect()
    assert(rows.length == cents.size)
    rows.foreach { r =>
      val flag = r.getAs[String]("l_returnflag")
      val vs = cents(flag)
      // sketch replay: bottom-128 DISTINCT values by (md5 hash, v)
      val kept = vs.distinct.map(v => (md5h(v), v)).sorted
        .take(128).map(_._2).sorted
      def est(p: Double): Double = {
        val rr = p * (kept.length - 1)
        val (lo, hi) = (kept(rr.toInt), kept(math.ceil(rr).toInt))
        (lo.toDouble + (rr - math.floor(rr)) * (hi - lo).toDouble) / 100.0
      }
      // exact grid rule
      val sorted = vs.sorted
      val n = sorted.length.toLong
      val ex50 = sorted(sorted.indices
        .find(i => 2L * (i + 1) >= n).get).toDouble / 100.0
      val ex90 = sorted(sorted.indices
        .find(i => 10L * (i + 1) >= 9L * n).get).toDouble / 100.0
      assert(r.getAs[Long]("n") == n)
      assert(r.getAs[Double]("est_p50") == est(0.5), s"$flag p50")
      assert(r.getAs[Double]("est_p90") == est(0.9), s"$flag p90")
      assert(r.getAs[Double]("exact_p50") == ex50)
      assert(r.getAs[Double]("exact_p90") == ex90)
      assert(r.getAs[Double]("abs_err_p50") >= 0.0 &&
        r.getAs[Double]("rel_err_p90") >= 0.0)
      assert(r.getAs[Double]("est_p50") >= sorted.head / 100.0 &&
        r.getAs[Double]("est_p90") <= sorted.last / 100.0)
    }
  }

  test("q162: Mann-Kendall S, tie-corrected variance and z equal a " +
      "driver-side pairwise model, and the stationary weekly series " +
      "does not reject in any nation — consistent with q155's " +
      "near-zero Theil-Sen slopes") {
    val weekly = Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .join(Tables.nation(spark, dir), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"),
        expr("CAST(datediff(o_orderdate, DATE '1992-01-01') AS BIGINT) div 7"))
      .agg(expr("sum(CAST(round(l_extendedprice * 100) AS BIGINT)) div 100"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).sortBy(_._1)).toMap
    val rows = q("q162_mann_kendall").collect()
    assert(rows.length == weekly.size)
    rows.foreach { r =>
      val nation = r.getAs[String]("nation")
      val wks = weekly(nation)
      val n = wks.length.toLong
      var s = 0L
      for (i <- wks.indices; j <- (i + 1) until wks.length)
        s += java.lang.Long.signum(wks(j)._2 - wks(i)._2).toLong
      val tie = wks.groupBy(_._2).values.map(_.length.toLong)
        .map(c => c * (c - 1) * (2 * c + 5)).sum
      val varS = (n * (n - 1) * (2 * n + 5) - tie).toDouble / 18.0
      val z = if (s > 0) (s - 1).toDouble / math.sqrt(varS)
        else if (s < 0) (s + 1).toDouble / math.sqrt(varS) else 0.0
      assert(r.getAs[Long]("n_weeks") == n)
      assert(r.getAs[Long]("s_stat") == s, s"$nation S")
      assert(r.getAs[Double]("var_s") == varS)
      assert(r.getAs[Double]("z") == z)
    }
    // a 5% test over 25 nations falsely rejects ~1.25 by chance
    // (1 of 25 at sf0.01 and sf0.1, pre-verified) — assert the
    // rejection rate stays at chance level, not literal zero
    val rejects = rows.count(_.getAs[Boolean]("reject_95"))
    assert(rejects <= 4,
      s"stationary weekly revenue: $rejects/25 nations reject — " +
        "above chance level for a 5% test")
  }

  test("t40: PPS systematic hits equal a driver-side model, per-lang " +
      "hit totals are exactly k=20, and selection probability is " +
      "proportional to size (heaviest sampled doc >= lightest of its " +
      "lang when hits differ)") {
    val docs = Tables.documents(spark, dir)
      .select(col("lang"), col("doc_id"),
        size(split(trim(col("text")), " ")).cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).sortBy(_._1)).toMap
    val rows = q("t40_pps_sample").collect()
    val byLang = rows.groupBy(_.getAs[String]("lang"))
    assert(byLang.keySet == docs.keySet)
    byLang.foreach { case (lang, rs) =>
      val ds = docs(lang)
      val tot = ds.map(_._2).sum
      var cum = 0L
      val model = ds.flatMap { case (id, w) =>
        val prev = cum; cum += w
        val hits = (cum * 20L) / tot - (prev * 20L) / tot
        if (hits >= 1) Some(id -> (w, hits)) else None
      }.toMap
      assert(rs.length == model.size, s"$lang row count")
      rs.foreach { r =>
        val (w, hits) = model(r.getAs[Long]("doc_id"))
        assert(r.getAs[Long]("w") == w)
        assert(r.getAs[Long]("n_hits") == hits)
      }
      assert(rs.map(_.getAs[Long]("n_hits")).sum == 20L,
        s"$lang hit total must be exactly k")
    }
  }

  test("q163: Dunn's pairwise z equals a driver-side pooled-midrank " +
      "model, every pair separates on the order-size contrast at " +
      "Bonferroni level, and mean ranks are monotone narrow < mid < " +
      "wide") {
    val pts = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("ni"),
        sum(Parity.cents2(col("l_extendedprice"))).as("cents"))
      .collect().map { r =>
        val g = if (r.getLong(1) <= 2) "narrow"
          else if (r.getLong(1) <= 5) "mid" else "wide"
        (g, r.getLong(2) / 100)
      }
    val all = pts.map(_._2)
    val n = all.length.toLong
    // pooled 2x midranks per value
    def r2(v: Long): Long =
      2L * all.count(_ < v) + all.count(_ == v) + 1L
    val groups = pts.groupBy(_._1).view
      .mapValues(vs => (vs.length.toLong, vs.map(p => r2(p._2)).sum)).toMap
    val tie3 = all.groupBy(identity).values
      .map(g => { val t = g.length.toLong; t * t * t - t }).sum
    val rows = q("q163_dunn_posthoc").collect()
    assert(rows.length == 3)
    rows.foreach { r =>
      val (gi, gj) = (r.getAs[String]("grp_i"), r.getAs[String]("grp_j"))
      val (niG, r2i) = groups(gi)
      val (njG, r2j) = groups(gj)
      val mi = r2i.toDouble / (2.0 * niG.toDouble)
      val mj = r2j.toDouble / (2.0 * njG.toDouble)
      val se = math.sqrt(
        (n.toDouble * (n.toDouble + 1.0) / 12.0 -
          tie3.toDouble / (12.0 * (n.toDouble - 1.0))) *
          (1.0 / niG.toDouble + 1.0 / njG.toDouble))
      assert(r.getAs[Long]("n_i") == niG && r.getAs[Long]("n_j") == njG)
      assert(r.getAs[Double]("mean_rank_i") == mi, s"$gi mean rank")
      assert(r.getAs[Double]("mean_rank_j") == mj)
      assert(r.getAs[Double]("z") == (mi - mj) / se, s"$gi/$gj z")
      assert(r.getAs[Boolean]("reject_bonf"),
        s"$gi vs $gj must separate on the order-size contrast")
    }
    val means = groups.view.mapValues { case (ng, rr) =>
      rr.toDouble / (2.0 * ng.toDouble) }.toMap
    assert(means("narrow") < means("mid") && means("mid") < means("wide"))
  }

  test("q164: the Poisson bootstrap equals a driver-side replay of the " +
      "hash-derived weights, the exact mean falls inside the 90% CI, " +
      "and boot_rmse agrees with the analytic standard error sd/sqrt(n) " +
      "to within replicate noise") {
    val per = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey"))
      .agg(sum(Parity.cents2(col("l_extendedprice"))).as("rev"))
      .select(col("l_orderkey"), expr("rev div 100"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val cdf = Array(0.36787944117144233, 0.7357588823428847,
      0.9196986029286058, 0.9810118431238463, 0.9963401531726563,
      0.9994058151824183, 0.999916758850712, 0.9999897508033253,
      0.999998874797402)
    def md5h(s: String): Long =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15)
        .foldLeft(0L)((a, c) => a * 16 + Character.digit(c, 16))
    val meansB = (1 to 32).map { b =>
      var (nEff, swv) = (0L, 0L)
      per.foreach { case (id, v) =>
        val u = md5h(s"$id:$b").toDouble / 1152921504606846976.0
        val w = cdf.indexWhere(u < _) match {
          case -1 => 9L; case k => k.toLong
        }
        nEff += w; swv += w * v
      }
      swv.toDouble / nEff.toDouble
    }.sorted
    val n = per.length.toLong
    val meanExact = per.map(_._2).sum.toDouble / n.toDouble
    def gq(mult: Long, target: Long): Double =
      meansB(meansB.indices.find(i => 20L * (i + 1) >= target).get)
    val r = q("q164_poisson_bootstrap").collect()
    assert(r.length == 1)
    assert(r.head.getAs[Long]("n") == n)
    assert(r.head.getAs[Double]("mean_exact") == meanExact)
    assert(r.head.getAs[Long]("b_reps") == 32L)
    assert(r.head.getAs[Double]("ci_lo_90") == gq(20, 32))
    assert(r.head.getAs[Double]("ci_hi_90") == gq(20, 608))
    val rmse = math.sqrt(
      meansB.map(m => (m - meanExact) * (m - meanExact)).sum / 32.0)
    assert(math.abs(r.head.getAs[Double]("boot_rmse") - rmse) < 1e-6)
    // statistical sanity: point estimate inside its own CI, and the
    // bootstrap spread agrees with the analytic SE sd/sqrt(n)
    assert(r.head.getAs[Double]("ci_lo_90") <= meanExact &&
      meanExact <= r.head.getAs[Double]("ci_hi_90"))
    val varExact = per.map(_._2.toDouble).map(v =>
      (v - meanExact) * (v - meanExact)).sum / (n.toDouble - 1.0)
    val seAnalytic = math.sqrt(varExact / n.toDouble)
    val ratio = r.head.getAs[Double]("boot_rmse") / seAnalytic
    assert(ratio > 0.6 && ratio < 1.6,
      s"boot_rmse/analytic_se = $ratio — bootstrap calibration broken")
  }

  test("q165: Brown-Forsythe F equals a driver-side model on exact " +
      "|value - group median| deviations, and REJECTS variance " +
      "equality across order-size buckets — the measured reason the " +
      "k-sample family leans on rank tests") {
    val pts = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("ni"),
        sum(Parity.cents2(col("l_extendedprice"))).as("cents"))
      .collect().map { r =>
        val g = if (r.getLong(1) <= 2) "narrow"
          else if (r.getLong(1) <= 5) "mid" else "wide"
        (g, r.getLong(2) / 100)
      }.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val meds = pts.view.mapValues(gridMedian).toMap
    val devs = pts.map { case (g, vs) =>
      g -> vs.map(v => math.abs(v - meds(g)))
    }
    val moments = devs.map { case (g, zs) =>
      g -> (zs.length.toLong, zs.sum, zs.map(z => z * z).sum)
    }
    val n = moments.values.map(_._1).sum
    val gsum = Seq("narrow", "mid", "wide").map { g =>
      val (ng, sx, _) = moments(g)
      sx.toDouble * sx.toDouble / ng.toDouble
    }.sum
    val sxAll = moments.values.map(_._2).sum
    val sxxAll = moments.values.map(_._3).sum
    val ssb = gsum - sxAll.toDouble * sxAll.toDouble / n.toDouble
    val ssw = sxxAll.toDouble - gsum
    val f = ssb / 2.0 / (ssw / (n.toDouble - 3.0))
    val r = q("q165_brown_forsythe").collect()
    assert(r.length == 1)
    assert(r.head.getAs[Long]("n") == n)
    assert(r.head.getAs[Long]("med_a") == meds("narrow"))
    assert(r.head.getAs[Long]("med_b") == meds("mid"))
    assert(r.head.getAs[Long]("med_c") == meds("wide"))
    assert(r.head.getAs[Double]("ssb") == ssb)
    assert(r.head.getAs[Double]("ssw") == ssw)
    assert(r.head.getAs[Double]("f_stat") == f)
    assert(r.head.getAs[Boolean]("reject_95"),
      "revenue spread grows with basket size — BF must reject here")
  }

  test("q166: Welch's F and Satterthwaite df2 equal a driver-side " +
      "model from exact moments, df2 is large enough for the df2->inf " +
      "critical, and the robust omnibus agrees with the rank test's " +
      "rejection") {
    val pts = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("ni"),
        sum(Parity.cents2(col("l_extendedprice"))).as("cents"))
      .collect().map { r =>
        val g = if (r.getLong(1) <= 2) "narrow"
          else if (r.getLong(1) <= 5) "mid" else "wide"
        (g, r.getLong(2) / 100)
      }.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val gs = Seq("narrow", "mid", "wide").map { g =>
      val vs = pts(g)
      val (n, sx, sxx) =
        (vs.length.toLong, vs.sum, vs.map(v => v * v).sum)
      val nd = n.toDouble
      val mean = sx.toDouble / nd
      val vr = (sxx.toDouble - sx.toDouble * sx.toDouble / nd) / (nd - 1.0)
      (nd, mean, nd / vr)
    }
    val wsum = gs.map(_._3).sum
    val xw = gs.map(g => g._3 * g._2).sum / wsum
    val num = gs.map(g => g._3 * (g._2 - xw) * (g._2 - xw)).sum / 2.0
    val lam = gs.map(g =>
      (1.0 - g._3 / wsum) * (1.0 - g._3 / wsum) / (g._1 - 1.0)).sum
    val f = num / (1.0 + 0.25 * lam)
    val df2 = 8.0 / (3.0 * lam)
    val r = q("q166_welch_anova").collect()
    assert(r.length == 1)
    assert(r.head.getAs[Long]("n") == pts.values.map(_.length).sum.toLong)
    assert(r.head.getAs[Double]("f_welch") == f)
    assert(r.head.getAs[Double]("df2") == df2)
    // F(2, 100) crit = 3.09 vs the hardcoded 2.9957 — the df2->inf
    // approximation is sound whenever df2 >> 100 AND F is far from
    // the critical band, both true at every SF (df2 697 at sf0.001,
    // ~7000 at sf0.01; F in the thousands)
    assert(df2 > 100.0 && f > 3.1,
      s"df2 $df2, F $f — the 2.9957 critical approximation band")
    assert(r.head.getAs[Boolean]("reject_95"),
      "the location shift is real under heteroscedasticity too")
  }

  test("q167: BH-FDR p-values, ranks and thresholds equal a driver-" +
      "side model (Zelen-Severo polynomial + 12dp rounding), and FDR " +
      "control suppresses the battery's chance-level naive rejections " +
      "to zero discoveries") {
    // driver MK z per nation (same model as the q162 test)
    val weekly = Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .join(Tables.nation(spark, dir), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"),
        expr("CAST(datediff(o_orderdate, DATE '1992-01-01') AS BIGINT) div 7"))
      .agg(expr("sum(CAST(round(l_extendedprice * 100) AS BIGINT)) div 100"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).sortBy(_._1)).toMap
    def mkZ(wks: Array[(Long, Long)]): Double = {
      val n = wks.length.toLong
      var s = 0L
      for (i <- wks.indices; j <- (i + 1) until wks.length)
        s += java.lang.Long.signum(wks(j)._2 - wks(i)._2).toLong
      val tie = wks.groupBy(_._2).values.map(_.length.toLong)
        .map(c => c * (c - 1) * (2 * c + 5)).sum
      val varS = (n * (n - 1) * (2 * n + 5) - tie).toDouble / 18.0
      if (s > 0) (s - 1).toDouble / math.sqrt(varS)
      else if (s < 0) (s + 1).toDouble / math.sqrt(varS) else 0.0
    }
    def pOf(z: Double): Double = {
      val x = math.abs(z)
      val t = 1.0 / (1.0 + 0.2316419 * x)
      val phi = 0.3989422804014327 * math.exp(-0.5 * x * x)
      val poly = ((((1.330274429 * t - 1.821255978) * t +
        1.781477937) * t - 0.356563782) * t + 0.319381530) * t
      BigDecimal(math.min(1.0, 2.0 * phi * poly))
        .setScale(12, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val model = weekly.view.mapValues(mkZ).toMap
    val ps = model.toSeq.map { case (nat, z) => (nat, z, pOf(z)) }
      .sortBy(t => (t._3, t._1))
    val m = ps.length
    val rows = q("q167_bh_fdr").collect()
    assert(rows.length == m)
    rows.foreach { r =>
      val rank = r.getAs[Long]("rank").toInt
      val (nat, z, p) = ps(rank - 1)
      assert(r.getAs[String]("nation") == nat, s"rank $rank order")
      assert(r.getAs[Double]("z") == z)
      assert(r.getAs[Double]("p") == p, s"$nat p")
      assert(r.getAs[Double]("bh_threshold") ==
        rank.toDouble * 0.10 / m.toDouble)
    }
    // sanity vs the polynomial's accuracy: p(1.96) ~ 0.05
    assert(math.abs(pOf(1.959964) - 0.05) < 1e-5)
    // the battery has chance-level naive rejections but FDR control
    // yields zero discoveries on the stationary corpus
    assert(rows.count(_.getAs[Boolean]("naive_reject_95")) >= 1,
      "pre-verified: at least one nation rejects naively at 5%")
    assert(!rows.exists(_.getAs[Boolean]("reject_fdr10")),
      "BH must suppress chance rejections to zero discoveries")
  }

  test("q168: Page's L equals a driver-side blocked-rank model, and " +
      "under this corpus's perfect concordance takes its closed-form " +
      "maximum 14b with z = sqrt(2b)") {
    val grid = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("ni"),
        sum(Parity.cents2(col("l_extendedprice"))).as("cents"))
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .join(Tables.nation(spark, dir), col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name"), col("ni"), col("cents"))
      .collect().map { r =>
        val g = if (r.getLong(1) <= 2) "narrow"
          else if (r.getLong(1) <= 5) "mid" else "wide"
        ((r.getString(0), g), r.getLong(2))
      }.groupBy(_._1).view
      .mapValues(vs => vs.map(_._2).sum.toDouble / vs.length).toMap
    val nations = grid.keys.map(_._1).toSeq.distinct
    val rankSums = scala.collection.mutable.Map(
      "narrow" -> 0L, "mid" -> 0L, "wide" -> 0L)
    nations.foreach { nat =>
      val ranked = Seq("narrow", "mid", "wide")
        .map(g => g -> grid((nat, g))).sortBy(t => (t._2, t._1))
      ranked.zipWithIndex.foreach { case ((g, _), i) =>
        rankSums(g) += (i + 1).toLong
      }
    }
    val b = nations.length.toLong
    val l = rankSums("narrow") + 2 * rankSums("mid") + 3 * rankSums("wide")
    val z = (l.toDouble - 12.0 * b.toDouble) /
      math.sqrt(2.0 * b.toDouble)
    val r = q("q168_page_trend").collect()
    assert(r.length == 1)
    assert(r.head.getAs[Long]("n_blocks") == b)
    assert(r.head.getAs[Long]("r_narrow") == rankSums("narrow"))
    assert(r.head.getAs[Long]("r_mid") == rankSums("mid"))
    assert(r.head.getAs[Long]("r_wide") == rankSums("wide"))
    assert(r.head.getAs[Long]("page_l") == l)
    assert(r.head.getAs[Double]("z") == z)
    // perfect concordance (q148's W = 1.0 at every SF): ranks are
    // exactly (b, 2b, 3b), L = 14b, z = sqrt(2b)
    assert(l == 14 * b, "perfect concordance maximum")
    // 2b/sqrt(2b) vs sqrt(2b): same value, 1-ulp different path
    assert(math.abs(z - math.sqrt(2.0 * b.toDouble)) < 1e-12)
    assert(r.head.getAs[Boolean]("reject_95"))
  }

  test("q169: Chapman capture-recapture counts equal a driver-side " +
      "model, the estimator is within a few percent of the exact " +
      "census, and the census falls inside the 95% CI") {
    val byCust = Tables.orders(spark, dir)
      .select(col("o_custkey"), year(col("o_orderdate")))
      .collect().map(r => (r.getLong(0), r.getInt(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val n1 = byCust.values.count(_.contains(1995)).toLong
    val n2 = byCust.values.count(_.contains(2000)).toLong
    val m = byCust.values.count(y => y.contains(1995) && y.contains(2000))
      .toLong
    val census = byCust.size.toLong
    val nHat = (n1 + 1).toDouble * (n2 + 1).toDouble /
      (m + 1).toDouble - 1.0
    val se = math.sqrt((n1 + 1).toDouble * (n2 + 1).toDouble *
      (n1 - m).toDouble * (n2 - m).toDouble /
      ((m + 1).toDouble * (m + 1).toDouble * (m + 2).toDouble))
    val r = q("q169_capture_recapture").collect()
    assert(r.length == 1)
    assert(r.head.getAs[Long]("n1") == n1)
    assert(r.head.getAs[Long]("n2") == n2)
    assert(r.head.getAs[Long]("m") == m)
    assert(r.head.getAs[Long]("census") == census)
    assert(r.head.getAs[Double]("n_hat") == nHat)
    assert(r.head.getAs[Double]("se") == se)
    assert(math.abs(nHat - census.toDouble) / census.toDouble < 0.10,
      s"estimator $nHat vs census $census — capture model broken")
    assert(r.head.getAs[Boolean]("census_in_ci") ==
      (census.toDouble >= nHat - 1.96 * se &&
        census.toDouble <= nHat + 1.96 * se))
  }

  test("q170: bootstrap and order-statistic median CIs equal driver-" +
      "side models on the same hash-derived weights, both contain the " +
      "exact median, and the two independent methods agree (CIs " +
      "overlap substantially)") {
    val per = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey"))
      .agg(sum(Parity.cents2(col("l_extendedprice"))).as("rev"))
      .select(col("l_orderkey"), expr("rev div 100"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val cdf = Array(0.36787944117144233, 0.7357588823428847,
      0.9196986029286058, 0.9810118431238463, 0.9963401531726563,
      0.9994058151824183, 0.999916758850712, 0.9999897508033253,
      0.999998874797402)
    def md5h(s: String): Long =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15)
        .foldLeft(0L)((a, c) => a * 16 + Character.digit(c, 16))
    def wMedian(wv: Seq[(Long, Long)]): Long = { // (v, w) pairs
      val grid = wv.groupBy(_._1).view.mapValues(_.map(_._2).sum)
        .toSeq.sortBy(_._1)
      val tot = grid.map(_._2).sum
      var cum = 0L
      grid.find { case (_, c) => cum += c; 2L * cum >= tot }.get._1
    }
    val medsB = (1 to 32).map { b =>
      wMedian(per.map { case (id, v) =>
        val u = md5h(s"$id:$b").toDouble / 1152921504606846976.0
        (v, cdf.indexWhere(u < _) match { case -1 => 9L; case k => k.toLong })
      })
    }.sorted
    def bq(target: Long): Long =
      medsB(medsB.indices.find(i => 20L * (i + 1) >= target).get)
    val sorted = per.map(_._2).sorted
    val n = sorted.length.toLong
    val med = sorted(sorted.indices.find(i => 2L * (i + 1) >= n).get)
    val nd = n.toDouble
    val kLo = math.floor((nd - 1.96 * math.sqrt(nd)) / 2.0).toLong
    val kHi = math.ceil(1.0 + (nd + 1.96 * math.sqrt(nd)) / 2.0).toLong
    val loOs = sorted(sorted.indices.find(i => (i + 1).toLong >= kLo).get)
    val hiOs = sorted(sorted.indices.find(i => (i + 1).toLong >= kHi).get)
    val r = q("q170_bootstrap_median_ci").collect()
    assert(r.length == 1)
    assert(r.head.getAs[Long]("n") == n)
    assert(r.head.getAs[Long]("median") == med)
    assert(r.head.getAs[Long]("ci_lo_os") == loOs)
    assert(r.head.getAs[Long]("ci_hi_os") == hiOs)
    assert(r.head.getAs[Long]("ci_lo_boot") == bq(32))
    assert(r.head.getAs[Long]("ci_hi_boot") == bq(608))
    // both intervals contain the point estimate, and the two
    // independent methods overlap
    assert(loOs <= med && med <= hiOs)
    assert(bq(32) <= med && med <= bq(608))
    assert(bq(32) <= hiOs && loOs <= bq(608), "methods must overlap")
  }
}
