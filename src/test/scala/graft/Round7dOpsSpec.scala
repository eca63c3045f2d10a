package graft

import org.apache.spark.sql.functions._

/** Invariants of the sketch, graph and robust-trend queries (CustomAgg,
  * Graph, Statistics, Forecasting): the Count-Min matrix algebra
  * (partition independence, one-sided error), Bellman–Ford vs a
  * driver-side relaxation model, Theil–Sen vs a driver-side median of
  * pairwise slopes, and the KMV intersection estimator's internal
  * consistency (value-level equality vs the DuckDB oracle runs via
  * graft.Verify + tools/compare.py).
  */
class Round7dOpsSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"
  private def q(name: String) = SparkEntry.queries(name)(spark, dir)

  test("q129 / cms_sketch_agg: the counter matrix is bit-identical to a " +
      "driver-side fold, independent of partitioning; merge is " +
      "element-wise add; estimate >= exact on every row (the one-sided " +
      "CMS guarantee)") {
    graft.functions.GraftFunctions.register(spark)
    val base = Tables.events(spark, dir)
      .select(conv(substring(md5(encode(col("user_id").cast("string"),
        "UTF-8")), 1, 15), 16, 10).cast("long").as("h"))
    val hs = base.collect().map(_.getLong(0))
    val model = new Array[Long](256)
    hs.foreach(h => graft.functions.CmsSketchAggregate.observe(model, h, 4, 6))
    for (nPart <- Seq(1, 7, 32)) {
      val got = base.repartition(nPart)
        .agg(expr("cms_sketch_agg(h, 4, 64)").as("m"))
        .collect()(0).getSeq[Long](0)
      assert(got == model.toSeq, s"parts=$nPart")
    }
    // matrix row sums: every observation lands once per row
    (0 until 4).foreach { i =>
      assert(model.slice(i * 64, i * 64 + 64).sum == hs.length.toLong)
    }
    // the declared guarantee, on the query surface
    val rows = q("q129_cms_frequency").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("overcount") >= 0L, r.toString)
      val est = graft.functions.CmsSketchAggregate.estimate(
        model, hashOf(r.getAs[Long]("user_id")), 4, 6)
      assert(est == r.getAs[Long]("cms_est"), r.toString)
    }
    assert(rows.map(_.getAs[Long]("n_exact")).sum == hs.length.toLong)
  }

  /** Driver-side twin of the portable 60-bit hash. */
  private def hashOf(v: Long): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(v.toString.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.substring(0, 15), 16)
  }

  test("q130: the DataFrame Bellman-Ford equals a driver-side 3-round " +
      "relaxation model, seeds sit at cost 0, and costs are positive " +
      "off the seed set") {
    val op = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val byOrder = op.groupBy(_._1).values.map(_.map(_._2).distinct)
    val coCount = collection.mutable.Map.empty[(Long, Long), Long]
    byOrder.foreach { parts =>
      for (u <- parts; v <- parts if u != v)
        coCount((u, v)) = coCount.getOrElse((u, v), 0L) + 1L
    }
    val edges = coCount.map { case ((u, v), n) => (u, v, 1000000L / n) }
    var dist = edges.map(_._1).filter(_ % 200 == 0).map(_ -> 0L).toMap
    for (_ <- 1 to 3) {
      val next = collection.mutable.Map.empty[Long, Long] ++= dist
      edges.foreach { case (u, v, w) =>
        dist.get(u).foreach { c =>
          if (!next.get(v).exists(_ <= c + w)) next(v) = c + w
        }
      }
      dist = next.toMap
    }
    val expected = dist.toSeq.map { case (pk, c) => (c, pk) }
      .sorted.take(50).map { case (c, pk) => (pk, c) }
    val got = q("q130_copurchase_distance").collect()
      .map(r => (r.getAs[Long]("pk"), r.getAs[Long]("cost_micro"))).toSeq
    assert(got == expected)
    got.foreach { case (pk, c) =>
      assert(if (pk % 200 == 0) c == 0L else c > 0L, s"pk=$pk cost=$c")
    }
  }

  test("q131: the Theil-Sen slope equals the driver-side median of " +
      "pairwise slopes, lies inside [min, max] slope, and n_pairs is " +
      "m-choose-2 of n_months") {
    val monthly = Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .join(Tables.nation(spark, dir), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"),
        ((year(col("o_orderdate")) - 1995) * 12 +
          month(col("o_orderdate")) - 1).as("mon"))
      .agg(sum(Parity.cents2(col("o_totalprice"))).as("cents"))
      .collect()
      .map(r => (r.getAs[String]("nation"), r.getAs[Int]("mon"),
        r.getAs[Long]("cents")))
      .groupBy(_._1)
    val rows = q("q131_theil_sen_trend").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val nation = r.getAs[String]("nation")
      val series = monthly(nation).map(t => (t._2, t._3)).sortBy(_._1)
      val slopes = (for {
        i <- series.indices; j <- (i + 1) until series.length
      } yield (series(j)._2 - series(i)._2).toDouble /
        (series(j)._1 - series(i)._1).toDouble).sorted
      val n = slopes.length
      val med = if (n % 2 == 1) slopes(n / 2)
        else (slopes(n / 2 - 1) + slopes(n / 2)) / 2
      assert(r.getAs[Long]("n_pairs") == n.toLong)
      val m = r.getAs[Long]("n_months")
      assert(n.toLong == m * (m - 1) / 2)
      assert(r.getAs[Double]("ts_slope_cents") == med, nation)
      assert(med >= slopes.head && med <= slopes.last)
    }
  }

  test("q133: the K-M curve equals a driver-side survival model " +
      "(identical left-fold product), survival is non-increasing in " +
      "(0, 1], and at-risk counts shrink with t") {
    val per = Tables.events(spark, dir).groupBy(col("user_id"))
      .agg(min(col("ts")).as("ft"),
        min(when(col("event_type") === "purchase" && col("value") > 150,
          col("ts"))).as("ev"),
        max(col("ts")).as("lt"))
      .select(col("ev").isNotNull.as("is_event"),
        when(col("ev").isNotNull,
          expr("(unix_micros(CAST(ev AS TIMESTAMP)) - " +
            "unix_micros(CAST(ft AS TIMESTAMP))) div 60000000"))
          .otherwise(expr("(unix_micros(CAST(lt AS TIMESTAMP)) - " +
            "unix_micros(CAST(ft AS TIMESTAMP))) div 60000000"))
          .as("dur"))
      .collect().map(r => (r.getBoolean(0), r.getLong(1)))
    assert(per.exists(!_._1), "corpus must have censored users")
    assert(per.exists(_._1), "corpus must have events")
    val eventTimes = per.filter(_._1).map(_._2).distinct.sorted
    var surv = 1.0
    val model = eventTimes.map { t =>
      val nRisk = per.count(_._2 >= t).toLong
      val d = per.count(p => p._1 && p._2 == t).toLong
      surv = surv * ((nRisk - d).toDouble / nRisk.toDouble)
      (t, nRisk, d, surv)
    }
    val got = q("q133_survival_km").collect()
      .map(r => (r.getAs[Long]("t_min"), r.getAs[Long]("n_risk"),
        r.getAs[Long]("n_events"), r.getAs[Double]("survival"))).toSeq
    assert(got == model.toSeq)
    got.sliding(2).foreach {
      case Seq(a, b) =>
        assert(b._4 <= a._4 && b._2 <= a._2, s"$a -> $b")
      case _ =>
    }
    got.foreach(r => assert(r._4 > 0.0 && r._4 <= 1.0, r.toString))
  }

  test("q134: Mann-Whitney U equals a driver-side midrank model " +
      "bit-for-bit, and wide orders reject the null upward") {
    val per = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n"), sum(Parity.cents2(col("l_extendedprice")))
        .as("cents"))
      .collect().map(r => (r.getLong(1), r.getLong(2) / 100))
      .filter(p => p._1 <= 2 || p._1 >= 6)
      .map(p => (p._1 >= 6, p._2))
    val grid = per.groupBy(_._2).view.mapValues { g =>
      (g.count(_._1).toLong, g.count(!_._1).toLong)
    }.toSeq.sortBy(_._1)
    var below = 0L; var ra2 = 0L; var tie3 = 0L
    grid.foreach { case (_, (ca, cb)) =>
      val t = ca + cb
      ra2 += ca * (2 * below + t + 1)
      tie3 += t * t * t - t
      below += t
    }
    val n1 = per.count(_._1).toLong; val n2 = per.count(!_._1).toLong
    val n = n1 + n2
    val u = (ra2 - n1 * (n1 + 1)).toDouble / 2.0
    val mu = n1.toDouble * n2.toDouble / 2.0
    val sigma = math.sqrt(n1.toDouble * n2.toDouble / 12.0 *
      ((n + 1).toDouble - tie3.toDouble / (n.toDouble * (n - 1).toDouble)))
    val r = q("q134_mannwhitney_u").collect()(0)
    assert(r.getAs[Long]("n1") == n1 && r.getAs[Long]("n2") == n2)
    assert(r.getAs[Double]("u_stat") == u)
    assert(r.getAs[Double]("mu") == mu)
    assert(r.getAs[Double]("sigma") == sigma)
    assert(r.getAs[Double]("z") == (u - mu) / sigma)
    assert(r.getAs[Double]("z") > 0 && r.getAs[Boolean]("reject_95"),
      s"wide orders must out-earn narrow ones: z=${(u - mu) / sigma}")
  }

  test("q135: Spearman rho equals a driver-side midrank model " +
      "bit-for-bit and is strongly positive for revenue vs item count") {
    val rows = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n"),
        sum(Parity.cents2(col("l_extendedprice"))).as("rev"))
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .join(Tables.nation(spark, dir), col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name"), col("rev"), col("n"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1)
    def ranks2(vs: Seq[Long]): Map[Long, Long] = {
      val sorted = vs.sorted
      vs.distinct.map { v =>
        val belowC = sorted.count(_ < v).toLong
        val t = sorted.count(_ == v).toLong
        v -> (2 * belowC + t + 1)
      }.toMap
    }
    q("q135_spearman_corr").collect().foreach { r =>
      val nation = r.getAs[String]("nation")
      val g = rows(nation)
      val rx = ranks2(g.map(_._2)); val ry = ranks2(g.map(_._3))
      val pairs = g.map(p => (rx(p._2), ry(p._3)))
      val n = pairs.length.toLong
      val sx = pairs.map(_._1).sum; val sy = pairs.map(_._2).sum
      val sxy = pairs.map(p => p._1 * p._2).sum
      val sxx = pairs.map(p => p._1 * p._1).sum
      val syy = pairs.map(p => p._2 * p._2).sum
      val rho = (n.toDouble * sxy.toDouble - sx.toDouble * sy.toDouble) /
        math.sqrt((n.toDouble * sxx.toDouble - sx.toDouble * sx.toDouble) *
          (n.toDouble * syy.toDouble - sy.toDouble * sy.toDouble))
      assert(r.getAs[Long]("n") == n, nation)
      assert(r.getAs[Double]("spearman_rho") == rho, nation)
      assert(rho > 0.5, s"$nation rho=$rho")
    }
  }

  test("q136 / bitmap_agg: exact cardinality equals countDistinct, " +
      "independent of partitioning; intersections match the relational " +
      "truth; out-of-range keys throw with the HLL pointer") {
    graft.functions.GraftFunctions.register(spark)
    val base = Tables.orders(spark, dir)
      .select(col("o_orderpriority").as("p"), col("o_custkey").as("k"))
    val exact = base.distinct().groupBy(col("p"))
      .agg(count(lit(1)).as("nd"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    for (nPart <- Seq(1, 7)) {
      val got = base.repartition(nPart).groupBy(col("p"))
        .agg(expr("bitmap_count(bitmap_agg(k))").as("nd"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got == exact, s"parts=$nPart")
    }
    val rows = q("q136_bitmap_distinct").collect()
    assert(rows.length > 0)
    val truth = base.distinct().collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    rows.foreach { r =>
      val (p1, p2) = (r.getAs[String]("p1"), r.getAs[String]("p2"))
      assert(r.getAs[Long]("nd1") == truth(p1).size.toLong)
      assert(r.getAs[Long]("inter") ==
        (truth(p1) & truth(p2)).size.toLong, s"$p1 x $p2")
    }
    // guard: a 60-bit hash fed by mistake fails loudly, not slowly
    val err = intercept[Exception] {
      base.select(expr("bitmap_agg(9223372036854775807)")).collect()
    }
    assert(err.getMessage != null)
  }

  test("q137: the value-grid interval trimming equals the sort-and-drop " +
      "model bit-for-bit (trim and winsorize)") {
    val byP = Tables.orders(spark, dir)
      .select(col("o_orderpriority"), Parity.cents2(col("o_totalprice")))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1)
    q("q137_trimmed_mean").collect().foreach { r =>
      val p = r.getAs[String]("p")
      val sorted = byP(p).map(_._2).sorted
      val n = sorted.length
      val g = (n + 19) / 20
      val kept = sorted.slice(g, n - g)
      val mean = sorted.sum.toDouble / n.toDouble / 100.0
      val trimmed = kept.sum.toDouble / (n - 2 * g).toDouble / 100.0
      val winsor = (kept.sum + g.toLong * kept.head +
        g.toLong * kept.last).toDouble / n.toDouble / 100.0
      assert(r.getAs[Long]("n_orders") == n.toLong, p)
      assert(r.getAs[Double]("mean_dollars") == mean, p)
      assert(r.getAs[Double]("trimmed_mean_dollars") == trimmed, p)
      assert(r.getAs[Double]("winsor_mean_dollars") == winsor, p)
    }
  }

  test("q138: the value-grid rank-sum Gini equals the sorted-rank " +
      "model bit-for-bit; top-decile share matches; Gini lies in " +
      "[0, 1)") {
    val byN = Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(sum(Parity.cents2(col("o_totalprice"))).as("cents"))
      .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .join(Tables.nation(spark, dir), col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name"), col("cents"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1)
    q("q138_gini_lorenz").collect().foreach { r =>
      val nation = r.getAs[String]("nation")
      val sorted = byN(nation).map(_._2).sorted
      val n = sorted.length
      val total = sorted.sum
      val rs = sorted.zipWithIndex.map { case (x, i) =>
        BigInt(i + 1) * x }.sum
      val gini = 2.0 * rs.toDouble / (n.toDouble * total.toDouble) -
        (n + 1).toDouble / n.toDouble
      val g = (n + 9) / 10
      val topShare = sorted.takeRight(g).sum.toDouble / total.toDouble
      assert(r.getAs[Long]("n_customers") == n.toLong, nation)
      assert(r.getAs[Double]("gini") == gini, nation)
      assert(r.getAs[Double]("top_decile_share") == topShare, nation)
      assert(gini >= 0.0 && gini < 1.0, s"$nation gini=$gini")
    }
  }

  test("t37: the 5 BPE merges equal a driver-side tokenizer-training " +
      "model (greedy-left application, (count desc, pair) tie-break), " +
      "and merge counts are non-increasing") {
    var syms: Map[List[String], Long] = Tables.documents(spark, dir)
      .select(explode(expr(
        "filter(split(trim(text), ' '), x -> x <> '')")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .collect().map(r => r.getString(0).map(_.toString).toList ->
        r.getLong(1)).toMap
    def applyMerge(ts: List[String], a: String, b: String): List[String] =
      ts match {
        case x :: y :: rest if x == a && y == b =>
          (a + b) :: applyMerge(rest, a, b)
        case x :: rest => x :: applyMerge(rest, a, b)
        case Nil => Nil
      }
    val model = (1 to 5).map { _ =>
      val pc = syms.toSeq.flatMap { case (ts, c) =>
        ts.zip(ts.drop(1)).map(p => (s"[${p._1}][${p._2}]", p) -> c)
      }.groupBy(_._1).view.mapValues(_.map(_._2).sum).toSeq
      val ((pairStr, (a, b)), cnt) =
        pc.minBy { case ((ps, _), c) => (-c, ps) }
      syms = syms.toSeq.map { case (ts, c) =>
        (applyMerge(ts, a, b), c)
      }.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      (pairStr, cnt)
    }
    val got = q("t37_bpe_merges").collect()
      .sortBy(_.getAs[Int]("round"))
      .map(r => (r.getAs[String]("merge_pair"), r.getAs[Long]("n_weighted")))
    assert(got.toSeq == model)
    got.map(_._2).sliding(2).foreach {
      case Array(a, b) => assert(b <= a, s"counts must not increase: $a -> $b")
      case _ =>
    }
  }

  test("q132: KMV intersection matches a driver-side sketch model and " +
      "its estimates are internally consistent") {
    val r = q("q132_kmv_intersection").collect()(0)
    def parts(lo: String, hi: String): Set[Long] =
      Tables.lineitem(spark, dir)
        .filter(col("l_shipdate") >= lit(lo).cast("date") &&
          col("l_shipdate") < lit(hi).cast("date"))
        .select(col("l_partkey")).distinct()
        .collect().map(_.getLong(0)).toSet
    val a = parts("1996-01-01", "1996-04-01")
    val b = parts("1996-04-01", "1996-07-01")
    assert(r.getAs[Long]("n_a_exact") == a.size.toLong)
    assert(r.getAs[Long]("n_b_exact") == b.size.toLong)
    assert(r.getAs[Long]("inter_exact") == (a & b).size.toLong)
    val skA = a.map(hashOf).toSeq.sorted.take(64).toSet
    val skB = b.map(hashOf).toSeq.sorted.take(64).toSet
    val uni = (skA ++ skB).toSeq.sorted.take(64)
    assert(r.getAs[Long]("union_sketch_size") == uni.length.toLong)
    val nBoth = uni.count(h => skA(h) && skB(h))
    assert(r.getAs[Double]("jaccard_est") ==
      nBoth.toDouble / uni.length.toDouble)
    val estU = r.getAs[Double]("ndv_union_est")
    if (uni.length < 64) assert(estU == uni.length.toDouble)
    else assert(estU == 63.0 * 1.152921504606846976e18 / uni.max)
    assert(r.getAs[Double]("inter_est") ==
      r.getAs[Double]("jaccard_est") * estU)
    val j = r.getAs[Double]("jaccard_est")
    assert(j >= 0.0 && j <= 1.0)
  }
}
