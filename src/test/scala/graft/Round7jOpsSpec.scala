package graft

import org.apache.spark.sql.functions._

/** Forecast evaluation + Siegel robust slope (Forecasting):
  * brute-force cross-checks at sf0.001 against plain-Scala
  * recomputation from the collected weekly series, the documented
  * model ordering (mean4 beats naive beats drift on the oscillating
  * corpus — the q160 finding made operational), agreement between the
  * mean-based DM test and its rank-based Wilcoxon twin, and a
  * monotone fixture where Siegel's slope is exactly the planted
  * constant.
  */
class Round7jOpsSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def q(name: String) = SparkEntry.queries(name)(spark, sf)

  /** The weekly global revenue series recomputed independently:
    * (week, whole dollars), ordered. */
  private lazy val weekly: Seq[(Long, Long)] = {
    val li = Tables.lineitem(spark, sf)
      .join(Tables.orders(spark, sf),
        col("l_orderkey") === col("o_orderkey"))
      .select(expr(
        "CAST(datediff(o_orderdate, DATE '1992-01-01') AS BIGINT) div 7"),
        expr("CAST(round(l_extendedprice * 100) AS BIGINT)"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    li.groupBy(_._1).map { case (w, rows) =>
      (w, Math.floorDiv(rows.map(_._2).sum, 100L))
    }.toSeq.sortBy(_._1)
  }

  /** (y, naive, mean4, drift) rows where all forecasts are defined —
    * lags over the observed sequence, the declared contract. */
  private lazy val backtest: Seq[(Long, Long, Long, Long)] = {
    val ys = weekly.map(_._2)
    (4 until ys.size).map { i =>
      val (y1, y2, y3, y4) = (ys(i - 1), ys(i - 2), ys(i - 3), ys(i - 4))
      (ys(i), y1, Math.floorDiv(y1 + y2 + y3 + y4, 4L), 2 * y1 - y2)
    }
  }

  test("q176 MAE/MASE match brute force and the oscillating series " +
      "ranks mean4 < naive < drift") {
    val rows = q("q176_forecast_backtest").collect()
      .map(r => r.getAs[String]("model") ->
        (r.getAs[Long]("n_eval"), r.getAs[Long]("abs_err_sum"),
          r.getAs[Double]("mase"))).toMap
    val sNaive = backtest.map(b => math.abs(b._1 - b._2)).sum
    val sMean = backtest.map(b => math.abs(b._1 - b._3)).sum
    val sDrift = backtest.map(b => math.abs(b._1 - b._4)).sum
    assert(rows("naive")._1 === backtest.size.toLong)
    assert(rows("naive")._2 === sNaive)
    assert(rows("mean4")._2 === sMean)
    assert(rows("drift")._2 === sDrift)
    assert(rows("naive")._3 === 1.0)
    assert(rows("mean4")._3 < 0.9, s"mean4 mase ${rows("mean4")._3}")
    assert(rows("drift")._3 > 1.2, s"drift mase ${rows("drift")._3}")
  }

  test("q177 DM moments match brute force and the mean's advantage " +
      "rejects equal predictive accuracy") {
    val row = q("q177_diebold_mariano").collect()(0)
    val ds = backtest.map(b =>
      math.abs(b._1 - b._2) - math.abs(b._1 - b._3))
    val n = ds.size.toLong
    val s1 = ds.sum
    val s2 = ds.map(x => x * x).sum
    assert(row.getAs[Long]("n_eval") === n)
    assert(row.getAs[Long]("s1") === s1)
    val varD = (n * s2 - s1 * s1).toDouble / (n * (n - 1)).toDouble
    assert(math.abs(row.getAs[Double]("var_d") - varD) < 1e-6 * varD)
    assert(row.getAs[Double]("dm_stat") > 2.0) // naive loses, hard
    assert(row.getAs[Boolean]("reject_95"))
  }

  test("q178 signed-rank statistic matches brute-force midranks and " +
      "agrees in direction with the DM test") {
    val row = q("q178_wilcoxon_signed_rank").collect()(0)
    val ds = backtest.map(b =>
      math.abs(b._1 - b._2) - math.abs(b._1 - b._3)).filter(_ != 0)
    val byAbs = ds.groupBy(d => math.abs(d)).toSeq.sortBy(_._1)
    var below = 0L
    var t2 = 0L
    var tie3 = 0L
    byAbs.foreach { case (_, grp) =>
      val t = grp.size.toLong
      val r2 = 2 * below + t + 1
      val cpos = grp.count(_ > 0).toLong
      val cneg = t - cpos
      t2 += (cpos - cneg) * r2
      tie3 += t * t * t - t
      below += t
    }
    val n = ds.size.toLong
    val var2 = (2 * n * (n + 1) * (2 * n + 1)) / 3 - tie3 / 3
    assert(row.getAs[Long]("n_nonzero") === n)
    assert(row.getAs[Long]("t2_stat") === t2)
    assert(row.getAs[Long]("var2") === var2)
    assert(math.abs(row.getAs[Double]("z") -
      t2.toDouble / math.sqrt(var2.toDouble)) < 1e-12)
    assert(row.getAs[Boolean]("reject_95"))
    assert(row.getAs[Double]("z") > 0) // same direction as DM
  }

  test("q183 two-predictor OLS matches a BigInt normal-equations " +
      "reference and finds the basket-size-dominant decomposition") {
    val per = Tables.lineitem(spark, sf)
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("x1"),
        sum(expr("CAST(round(l_discount * 100) AS BIGINT)")).as("x2"),
        expr("sum(CAST(round(l_extendedprice * 100) AS BIGINT)) " +
          "div 100").as("y"))
      .collect().map(r => (BigInt(r.getLong(1)), BigInt(r.getLong(2)),
        BigInt(r.getLong(3))))
    val n = BigInt(per.length)
    def s(f: ((BigInt, BigInt, BigInt)) => BigInt) = per.map(f).sum
    val (s1, s2, sy) = (s(_._1), s(_._2), s(_._3))
    val m11 = n * s(t => t._1 * t._1) - s1 * s1
    val m22 = n * s(t => t._2 * t._2) - s2 * s2
    val m12 = n * s(t => t._1 * t._2) - s1 * s2
    val b1v = n * s(t => t._1 * t._3) - s1 * sy
    val b2v = n * s(t => t._2 * t._3) - s2 * sy
    val syyC = n * s(t => t._3 * t._3) - sy * sy
    val det = m11 * m22 - m12 * m12
    val beta1 = (m22 * b1v - m12 * b2v).toDouble / det.toDouble
    val beta2 = (m11 * b2v - m12 * b1v).toDouble / det.toDouble
    val row = q("q183_multiple_regression").collect()(0)
    assert(row.getAs[Long]("n_orders") === per.length.toLong)
    assert(math.abs(row.getAs[Double]("beta1") - beta1) <
      1e-9 * math.abs(beta1))
    assert(math.abs(row.getAs[Double]("beta2") - beta2) <
      1e-9 * (math.abs(beta2) + 1))
    assert(row.getAs[Double]("r2") > 0.7) // basket size carries it
    assert(math.abs(row.getAs[Double]("beta1")) >
      100 * math.abs(row.getAs[Double]("beta2")))
  }

  /** The q134/q184/q185/q186 carrier recomputed independently:
    * (whole-dollar order revenue, wide?) for orders with ≤2 or ≥6
    * items. */
  private lazy val widthValues: Seq[(Long, Boolean)] =
    Tables.lineitem(spark, sf)
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("k"),
        expr("sum(CAST(round(l_extendedprice * 100) AS BIGINT))")
          .as("cents"))
      .filter(col("k") <= 2 || col("k") >= 6)
      .collect().toIndexedSeq
      .map(r => (Math.floorDiv(r.getLong(2), 100L), r.getLong(1) >= 6))

  test("q184 Brunner-Munzel matches the brute-force pair probability " +
      "and rank-variance assembly") {
    val xs = widthValues.filter(_._2).map(_._1) // wide
    val ys = widthValues.filterNot(_._2).map(_._1) // narrow
    val pooled = (xs ++ ys).sorted
    def midrank(vs: Seq[Long]): Map[Long, Double] =
      vs.sorted.zipWithIndex.groupBy(_._1).map { case (v, g) =>
        v -> (g.map(_._2 + 1).sum.toDouble / g.size)
      }
    val mrPooled = midrank(pooled)
    val mrX = midrank(xs)
    val mrY = midrank(ys)
    val (nx, ny) = (xs.size, ys.size)
    def s2(vs: Seq[Long], mrOwn: Map[Long, Double]): Double = {
      val ds = vs.map(v => mrPooled(v) - mrOwn(v))
      val mean = ds.sum / ds.size
      ds.map(x => (x - mean) * (x - mean)).sum / (ds.size - 1)
    }
    val (s2x, s2y) = (s2(xs, mrX), s2(ys, mrY))
    val rbarX = xs.map(mrPooled).sum / nx
    val rbarY = ys.map(mrPooled).sum / ny
    val w = nx.toDouble * ny * (rbarX - rbarY) /
      ((nx + ny) * math.sqrt(nx * s2x + ny * s2y))
    val pBrute = (for (x <- xs; y <- ys) yield
      if (x > y) 1.0 else if (x == y) 0.5 else 0.0).sum / (nx.toDouble * ny)
    val row = q("q184_brunner_munzel").collect()(0)
    assert(row.getAs[Long]("n_wide") === nx.toLong)
    assert(math.abs(row.getAs[Double]("p_hat") - pBrute) < 1e-10)
    assert(math.abs(row.getAs[Double]("s2_wide") - s2x) < 1e-6 * s2x)
    assert(math.abs(row.getAs[Double]("s2_narrow") - s2y) < 1e-6 * s2y)
    assert(math.abs(row.getAs[Double]("w_stat") - w) < 1e-6 * w)
    assert(row.getAs[Boolean]("reject_95"))
  }

  test("q185 Cramer-von Mises matches the brute-force pooled-ECDF " +
      "integral") {
    val xs = widthValues.filter(_._2).map(_._1)
    val ys = widthValues.filterNot(_._2).map(_._1)
    val (nx, ny) = (xs.size, ys.size)
    val n = nx + ny
    val t = (xs ++ ys).map { v =>
      val f1 = xs.count(_ <= v).toDouble / nx
      val f2 = ys.count(_ <= v).toDouble / ny
      (f1 - f2) * (f1 - f2)
    }.sum * nx * ny / (n.toDouble * n)
    val row = q("q185_cramer_von_mises").collect()(0)
    assert(math.abs(row.getAs[Double]("t_stat") - t) < 1e-9 * t)
    assert(row.getAs[Boolean]("reject_95"))
  }

  test("q186 effect sizes match brute-force moments and order " +
      "sensibly (|g| < |d| < glass when the control is tighter)") {
    val xs = widthValues.filter(_._2).map(_._1.toDouble)
    val ys = widthValues.filterNot(_._2).map(_._1.toDouble)
    def meanVar(vs: Seq[Double]): (Double, Double) = {
      val m = vs.sum / vs.size
      (m, vs.map(v => (v - m) * (v - m)).sum / (vs.size - 1))
    }
    val ((mx, vx), (my, vy)) = (meanVar(xs), meanVar(ys))
    val sp = math.sqrt(((xs.size - 1) * vx + (ys.size - 1) * vy) /
      (xs.size + ys.size - 2))
    val d = (mx - my) / sp
    val row = q("q186_effect_sizes").collect()(0)
    assert(math.abs(row.getAs[Double]("mean_wide") - mx) < 1e-6)
    assert(math.abs(row.getAs[Double]("cohens_d") - d) < 1e-9 * d)
    assert(math.abs(row.getAs[Double]("glass_delta") -
      (mx - my) / math.sqrt(vy)) < 1e-9 * row.getAs[Double]("glass_delta"))
    assert(math.abs(row.getAs[Double]("hedges_g")) <
      math.abs(row.getAs[Double]("cohens_d")))
    assert(math.abs(row.getAs[Double]("glass_delta")) >
      math.abs(row.getAs[Double]("cohens_d")))
  }

  test("q187 dispersion statistic matches brute force and sf0.001 " +
      "sits below the chi-square line (thinned counts look Poisson)") {
    val counts = Tables.orders(spark, sf)
      .groupBy(expr(
        "CAST(datediff(o_orderdate, DATE '1992-01-01') AS BIGINT)" +
          " div 7"))
      .agg(count(lit(1)).as("c"))
      .collect().map(_.getLong(1))
    val n = counts.length.toLong
    val s1 = counts.sum
    val s2 = counts.map(c => c * c).sum
    val row = q("q187_overdispersion").collect()(0)
    assert(row.getAs[Long]("n_weeks") === n)
    val d = (n * s2 - s1 * s1).toDouble / s1
    assert(math.abs(row.getAs[Double]("d_stat") - d) < 1e-9)
    // Poisson thinning at sf0.001 hides the week-level rate
    // variation the larger SFs expose (ratio 0.92 -> 2.36)
    assert(!row.getAs[Boolean]("reject_95"))
    assert(row.getAs[Double]("dispersion_ratio") < 1.0)
  }

  test("q188 walk-forward OLS predictions match the brute-force " +
      "expanding fit and never see their own week") {
    val rows = q("q188_walkforward_ols").collect()
      .sortBy(_.getAs[Long]("w"))
    val series = weekly // (w, y) ordered
    val byW = rows.map(r => r.getAs[Long]("w") -> r).toMap
    series.indices.filter(i => i >= 8).foreach { i =>
      val (w, y) = series(i)
      val prior = series.take(i) // strictly before: leakage-safe
      val n = prior.size.toLong
      val sx = prior.map(_._1).sum
      val sy = prior.map(_._2).sum
      val sxx = prior.map(p => p._1 * p._1).sum
      val sxy = prior.map(p => p._1 * p._2).sum
      val beta = (n * sxy - sx * sy).toDouble / (n * sxx - sx * sx)
      val alpha = (sy.toDouble - beta * sx.toDouble) / n
      val yhat = alpha + beta * w
      val r = byW(w)
      assert(math.abs(r.getAs[Double]("yhat") - yhat) < 1e-6,
        s"week $w")
      assert(math.abs(r.getAs[Double]("abs_err") -
        math.abs(y.toDouble - yhat)) < 1e-6)
    }
    assert(rows.length === series.size - 8)
  }

  test("t42 Yule's K and Simpson's D match brute force per language") {
    val docs = Tables.documents(spark, sf)
      .select(col("lang"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val rows = q("t42_yule_k").collect()
      .map(r => r.getAs[String]("lang") -> r).toMap
    docs.groupBy(_._1).foreach { case (lang, ds) =>
      val freq = ds.toSeq.flatMap(_._2.trim.split(" ", -1))
        .groupBy(identity).map(_._2.size.toLong)
      val n = freq.sum
      val s2 = freq.map(f => f * f).sum
      val r = rows(lang)
      assert(r.getAs[Long]("n_tokens") === n)
      assert(r.getAs[Long]("n_types") === freq.size.toLong)
      assert(r.getAs[Long]("s2") === s2)
      assert(math.abs(r.getAs[Double]("yule_k") -
        10000.0 * (s2 - n) / (n.toDouble * n)) < 1e-9)
      assert(math.abs(r.getAs[Double]("simpson_d") -
        (s2 - n).toDouble / (n.toDouble * (n - 1))) < 1e-12)
    }
  }

  test("q179 Siegel repeated median matches brute force per nation") {
    val rows = q("q179_siegel_slope").collect()
      .map(r => r.getAs[String]("nation") ->
        r.getAs[Double]("siegel_slope")).toMap
    // the carrier keys on nk (round 13) — resolve names for the
    // comparison against q179's nation-string output
    val names = graft.operators.OrderRevenue.nationNames(spark, sf)
      .collect()
      .map(r => r.getAs[Number](0).longValue -> r.getString(1)).toMap
    val wk = graft.operators.OrderRevenue
      .nationWeeklyRevenue(spark, sf).collect()
      .map(r => (names(r.getAs[Number](0).longValue),
        r.getLong(1), r.getLong(2)))
    // the q155/q179 positional median rule: smallest value at
    // position ceil(n/2) under (value, tiebreak) ordering
    def medByRule(xs: Seq[Double]): Double = {
      val sorted = xs.sorted
      sorted((xs.size + 1) / 2 - 1)
    }
    wk.groupBy(_._1).foreach { case (nation, pts) =>
      val meds = pts.sortBy(_._2).map { case (_, wi, yi) =>
        medByRule(pts.filter(_._2 != wi).toSeq.map { case (_, wj, yj) =>
          (yj - yi).toDouble / (wj - wi).toDouble
        })
      }
      assert(math.abs(rows(nation) - medByRule(meds.toSeq)) < 1e-12,
        s"nation $nation")
    }
  }

  test("q179 recovers the exact planted slope on a strictly monotone " +
      "weekly fixture") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-siegel").toString
    val weekly = (0 until 40).map(w => (w.toLong, 1000L + 250L * w))
    weekly.map { case (w, dollars) =>
      (w, dollars.toDouble) // one lineitem per order, price = dollars
    }.toDF("l_orderkey", "l_extendedprice")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    weekly.map { case (w, _) =>
      (w, 1L, java.sql.Date.valueOf(
        java.time.LocalDate.of(1992, 1, 1).plusDays(7L * w)))
    }.toDF("o_orderkey", "o_custkey", "o_orderdate")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    Seq((1L, 1L)).toDF("c_custkey", "c_nationkey")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    Seq((1L, "SIEGELLAND")).toDF("n_nationkey", "n_name")
      .write.mode("overwrite").parquet(s"$dir/nation.parquet")
    val row = SparkEntry.queries("q179_siegel_slope")(spark, dir)
      .collect()(0)
    assert(row.getAs[String]("nation") === "SIEGELLAND")
    assert(row.getAs[Double]("siegel_slope") === 250.0)
  }
}
