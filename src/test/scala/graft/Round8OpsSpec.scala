package graft

import org.apache.spark.sql.functions._

/** Regression diagnostics (Forecasting, Graph): brute-force
  * cross-checks at sf0.001 against plain-Scala recomputation from the collected weekly
  * series / per-order triples, plus the structural identities each
  * statistic must satisfy (leverages sum to the model dimension, the
  * naive-sequence partial-correlation formula, DW ≈ 2(1−ρ)).
  */
class Round8OpsSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def q(name: String) = SparkEntry.queries(name)(spark, sf)

  /** The weekly global revenue series recomputed independently:
    * (week, whole dollars), ordered by week. */
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

  /** Exact centered moments over (x, y) pairs: (n, a, b, c) with
    * a = nΣy²−(Σy)², b = nΣxy−ΣxΣy, c = nΣx²−(Σx)² — all in BigInt. */
  private def moments(pts: Seq[(Long, Long)]): (Long, BigInt, BigInt, BigInt) = {
    val n = BigInt(pts.size)
    val sx = pts.map(p => BigInt(p._1)).sum
    val sy = pts.map(p => BigInt(p._2)).sum
    val sxx = pts.map(p => BigInt(p._1) * p._1).sum
    val sxy = pts.map(p => BigInt(p._1) * p._2).sum
    val syy = pts.map(p => BigInt(p._2) * p._2).sum
    (pts.size.toLong, n * syy - sy * sy, n * sxy - sx * sy,
      n * sxx - sx * sx)
  }

  private def rss(n: Long, a: BigInt, b: BigInt, c: BigInt): Double =
    (a.toDouble - b.toDouble * b.toDouble / c.toDouble) / n.toDouble

  test("q192 Chow F matches the brute-force two-segment fit and does " +
      "not reject on the thinned sf0.001 series") {
    val row = q("q192_chow_test").collect().head
    val mid = Math.floorDiv(weekly.map(_._1).min + weekly.map(_._1).max + 1, 2L)
    assert(row.getAs[Long]("split_week") === mid)
    assert(row.getAs[Long]("n_weeks") === weekly.size.toLong)
    val (np, ap, bp, cp) = moments(weekly)
    val (n1, a1, b1, c1) = moments(weekly.filter(_._1 < mid))
    val (n2, a2, b2, c2) = moments(weekly.filter(_._1 >= mid))
    val (rp, r1, r2) = (rss(np, ap, bp, cp), rss(n1, a1, b1, c1),
      rss(n2, a2, b2, c2))
    val f = ((rp - r1 - r2) / 2.0) / ((r1 + r2) / (np - 4.0))
    assert(math.abs(row.getAs[Double]("f_stat") - f) / f.abs < 1e-12,
      s"f ${row.getAs[Double]("f_stat")} vs brute $f")
    assert(math.abs(row.getAs[Double]("rss_pooled") - rp) / rp < 1e-12)
    assert(!row.getAs[Boolean]("reject_95"),
      "sf0.001 series should not reject (measured F = 0.37)")
  }

  test("q193 Durbin-Watson matches brute-force residual recomputation " +
      "and the rho identity") {
    val row = q("q193_durbin_watson").collect().head
    assert(row.getAs[Long]("n_weeks") === weekly.size.toLong)
    val (n, a, b, c) = moments(weekly)
    val slope = b.toDouble / c.toDouble
    // brute force: actual residuals from the fitted line, summed in
    // series order (a DIFFERENT summation order than the exact-moment
    // identity the operator uses — agreement to 1e-9 is the check)
    val sx = weekly.map(_._1).sum
    val sy = weekly.map(_._2).sum
    val e = weekly.map { case (w, y) =>
      ((n * y - sy).toDouble - slope * (n * w - sx).toDouble) / n.toDouble
    }
    val dwBrute = e.sliding(2).map(p => (p(1) - p(0)) * (p(1) - p(0))).sum /
      e.map(x => x * x).sum
    val dw = row.getAs[Double]("dw")
    assert(math.abs(dw - dwBrute) / dwBrute < 1e-9, s"dw $dw vs $dwBrute")
    assert(row.getAs[Double]("rho_approx") === 1.0 - dw / 2.0)
    assert(math.abs(row.getAs[Double]("slope") - slope) < 1e-9 * slope.abs)
  }

  test("q194 partial correlations match brute force and quantity's " +
      "revenue correlation collapses given line count") {
    val per = Tables.lineitem(spark, sf)
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("a"),
        sum(expr("CAST(round(l_quantity) AS BIGINT)")).as("b"),
        expr("sum(CAST(round(l_extendedprice * 100) AS BIGINT)) div 100")
          .as("r"))
      .collect().map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"),
        r.getAs[Long]("r")))
    def corr(xs: Seq[Long], ys: Seq[Long]): Double = {
      val n = BigInt(xs.size)
      val (sx, sy) = (xs.map(BigInt(_)).sum, ys.map(BigInt(_)).sum)
      val sxy = xs.zip(ys).map(p => BigInt(p._1) * p._2).sum
      val sxx = xs.map(x => BigInt(x) * x).sum
      val syy = ys.map(y => BigInt(y) * y).sum
      (n * sxy - sx * sy).toDouble /
        (math.sqrt((n * sxx - sx * sx).toDouble) *
          math.sqrt((n * syy - sy * sy).toDouble))
    }
    val (as, bs, rs) = (per.map(_._1), per.map(_._2), per.map(_._3))
    val (rab, rar, rbr) = (corr(as, bs), corr(as, rs), corr(bs, rs))
    def partial(rxy: Double, rxz: Double, ryz: Double) =
      (rxy - rxz * ryz) /
        math.sqrt((1.0 - rxz * rxz) * (1.0 - ryz * ryz))
    val rows = q("q194_partial_corr").collect()
      .map(r => (r.getAs[String]("var_a"), r.getAs[String]("var_b")) ->
        (r.getAs[Double]("r_raw"), r.getAs[Double]("r_partial"))).toMap
    val lq = rows(("lines", "quantity"))
    val lr = rows(("lines", "revenue"))
    val qr = rows(("quantity", "revenue"))
    assert(math.abs(lq._1 - rab) < 1e-12 && math.abs(lr._1 - rar) < 1e-12
      && math.abs(qr._1 - rbr) < 1e-12)
    assert(math.abs(lq._2 - partial(rab, rar, rbr)) < 1e-12)
    assert(math.abs(lr._2 - partial(rar, rab, rbr)) < 1e-12)
    assert(math.abs(qr._2 - partial(rbr, rab, rar)) < 1e-12)
    // the measured finding: raw 0.74 collapses to |r| < 0.1 given lines
    assert(qr._1 > 0.6 && math.abs(qr._2) < 0.1,
      s"quantity~revenue raw ${qr._1} partial ${qr._2}")
    assert(lr._2 > 0.5, s"lines~revenue partial ${lr._2} should survive")
  }

  test("q198 sup-F matches the brute-force per-split Chow scan, bounds " +
      "the midpoint F, and respects the trimming window") {
    val (n, ap, bp, cp) = moments(weekly)
    val rp = rss(n, ap, bp, cp)
    val fs = (1 to weekly.size).flatMap { t =>
      if (100L * t >= 15L * n && 100L * t <= 85L * n) {
        val (n1, a1, b1, c1) = moments(weekly.take(t))
        val (n2, a2, b2, c2) = moments(weekly.drop(t))
        val (r1, r2) = (rss(n1, a1, b1, c1), rss(n2, a2, b2, c2))
        Some((weekly(t - 1)._1, ((rp - r1 - r2) / 2.0) /
          ((r1 + r2) / (n - 4.0))))
      } else None
    }
    val supF = fs.map(_._2).max
    val breakWeek = fs.filter(_._2 == supF).map(_._1).min
    val row = q("q198_supf_break").collect().head
    assert(row.getAs[Long]("n_weeks") === n)
    assert(row.getAs[Long]("n_candidates") === fs.size.toLong)
    assert(math.abs(row.getAs[Double]("sup_f") - supF) / supF < 1e-12,
      s"sup_f ${row.getAs[Double]("sup_f")} vs brute $supF")
    assert(row.getAs[Long]("break_week") === breakWeek)
    // sup over all trimmed splits dominates q192's single midpoint
    // split WHEN that split lies inside the trimming window (true on
    // the near-dense gate series; guarded so a gap-skewed series
    // can't fail two individually-correct queries)
    val mid = Math.floorDiv(
      weekly.map(_._1).min + weekly.map(_._1).max + 1, 2L)
    val tMid = weekly.count(_._1 < mid).toLong
    if (100L * tMid >= 15L * n && 100L * tMid <= 85L * n) {
      val fMid = q("q192_chow_test").collect().head.getAs[Double]("f_stat")
      assert(row.getAs[Double]("sup_f") >= fMid)
    }
  }

  test("q199 OLS/HC0/HAC standard errors match brute force and obey " +
      "the sandwich-estimator identities") {
    val (n, a, b, c) = moments(weekly)
    val beta = b.toDouble / c.toDouble
    val sx = weekly.map(_._1).sum
    val sy = weekly.map(_._2).sum
    val scores = weekly.map { case (w, y) =>
      val v = n * w - sx
      v.toDouble * (((n * y - sy).toDouble - beta * v.toDouble) /
        n.toDouble)
    }
    val s0 = scores.map(x => x * x).sum
    def sl(l: Int) =
      scores.drop(l).zip(scores).map(p => p._1 * p._2).sum
    val cd = c.toDouble
    val seOls = math.sqrt((rss(n, a, b, c) / (n - 2).toDouble) *
      n.toDouble / cd)
    val seHc0 = math.sqrt(s0 / (cd * cd))
    val seHac = math.sqrt((s0 + 2.0 * 0.8 * sl(1) + 2.0 * 0.6 * sl(2) +
      2.0 * 0.4 * sl(3) + 2.0 * 0.2 * sl(4)) / (cd * cd))
    val row = q("q199_hac_se").collect().head
    assert(row.getAs[Long]("n_weeks") === n)
    assert(math.abs(row.getAs[Double]("beta") - beta) < 1e-9 * beta.abs)
    // decimal-quantized sums vs naive double sums: agree to ~1e-9 rel
    assert(math.abs(row.getAs[Double]("se_ols") - seOls) < 1e-6 * seOls)
    assert(math.abs(row.getAs[Double]("se_hc0") - seHc0) < 1e-6 * seHc0)
    assert(math.abs(row.getAs[Double]("se_hac") - seHac) < 1e-6 * seHac)
    // sandwich identities: all SEs positive; t-ratios consistent
    assert(row.getAs[Double]("se_ols") > 0 &&
      row.getAs[Double]("se_hc0") > 0 && row.getAs[Double]("se_hac") > 0)
    assert(row.getAs[Double]("t_ols") ===
      row.getAs[Double]("beta") / row.getAs[Double]("se_ols"))
    assert(row.getAs[Double]("t_hac") ===
      row.getAs[Double]("beta") / row.getAs[Double]("se_hac"))
  }

  test("t45 Chao1 matches the brute-force count-of-counts model and " +
      "the bias-corrected form agrees in the n2 > 0 regime") {
    val counts = Tables.documents(spark, sf)
      .select(col("lang"), col("text")).collect()
      .flatMap { r =>
        val ws = r.getString(1).trim.split(" ").filter(_.nonEmpty)
        if (ws.length < 2) Seq.empty[(String, String)]
        else ws.zip(ws.tail).toSeq
          .map(b => (r.getString(0), b._1 + " " + b._2))
      }
      .groupBy(x => x).view.mapValues(_.length.toLong).toMap
    val expected = counts.keys.map(_._1).toSeq.distinct.map { lang =>
      val cs = counts.collect { case ((l, _), c) if l == lang => c }.toSeq
      val (s, n1, n2) = (cs.size.toLong, cs.count(_ == 1L).toLong,
        cs.count(_ == 2L).toLong)
      lang -> (s, n1, n2,
        if (n2 > 0) Some(s.toDouble +
          (n1 * n1).toDouble / (2 * n2).toDouble) else None,
        s.toDouble + (n1 * (n1 - 1)).toDouble / (2 * (n2 + 1)).toDouble)
    }.toMap
    val got = q("t45_chao1_vocab").collect()
      .map(r => r.getAs[String]("lang") ->
        (r.getAs[Long]("s_obs"), r.getAs[Long]("n1"), r.getAs[Long]("n2"),
          Option(r.getAs[java.lang.Double]("chao1")).map(_.doubleValue),
          r.getAs[Double]("chao1_bc"))).toMap
    assert(got.keySet === expected.keySet)
    expected.foreach { case (lang, e) =>
      val g = got(lang)
      assert(g._1 === e._1 && g._2 === e._2 && g._3 === e._3,
        s"$lang counts $g vs $e")
      assert(g._4 === e._4, s"$lang chao1")
      assert(g._5 === e._5, s"$lang chao1_bc")
      // the estimate can never fall below the observed richness
      assert(g._5 >= g._1.toDouble)
      g._4.foreach(v => assert(v >= g._1.toDouble))
    }
  }

  test("q196 recommendations match the brute-force CF model and never " +
      "recommend a purchased brand") {
    val rmat = Tables.orders(spark, sf)
      .join(Tables.lineitem(spark, sf), col("o_orderkey") === col("l_orderkey"))
      .join(Tables.part(spark, sf), col("l_partkey") === col("p_partkey"))
      .select(col("o_custkey"), col("p_brand")).distinct()
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val byCust = rmat.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val nPer = rmat.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val co = rmat.toSeq.groupBy(_._1).values.flatMap { rows =>
      val bs = rows.map(_._2).toSeq.sorted
      for (i <- bs.indices; j <- i + 1 until bs.size) yield (bs(i), bs(j))
    }.groupBy(identity).view.mapValues(_.size.toLong).toMap
    def simFp(i: String, j: String): Option[Long] = {
      val (lo, hi) = if (i < j) (i, j) else (j, i)
      co.get((lo, hi)).map(c =>
        Math.floorDiv(c * c * 1000000000L, nPer(i) * nPer(j)))
    }
    val expected = byCust.filter(_._1 % 10 == 0).flatMap { case (c, owned) =>
      val cands = nPer.keySet -- owned
      val scores = cands.toSeq.flatMap { cand =>
        val terms = owned.toSeq.flatMap(i => simFp(i, cand))
        if (terms.isEmpty) None
        else Some((cand, terms.sum, terms.size.toLong))
      }
      scores.sortBy(t => (-t._2, t._1)).take(3).zipWithIndex
        .map { case ((cand, score, nt), idx) =>
          (c, idx + 1, cand) -> (score, nt)
        }
    }
    val got = q("q196_item_cf_recommend").collect()
      .map(r => (r.getAs[Long]("custkey"), r.getAs[Int]("rank"),
        r.getAs[String]("brand")) ->
        (r.getAs[Long]("score_fp"), r.getAs[Long]("n_terms"))).toMap
    assert(got === expected.toMap)
    got.keys.foreach { case (c, _, brand) =>
      assert(!byCust(c).contains(brand),
        s"customer $c already bought recommended $brand")
    }
  }

  test("q197 top-20 predicted links match the brute-force CN/Jaccard/RA " +
      "model and exclude existing edges") {
    val li = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_partkey"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val edges = li.groupBy(_._1).values.flatMap { rows =>
      val ps = rows.map(_._2).distinct.sorted
      for (i <- ps.indices; j <- i + 1 until ps.size) yield (ps(i), ps(j))
    }.groupBy(identity).view.mapValues(_.size).filter(_._2 >= 2)
      .keySet.toSet
    val adj = (edges.toSeq ++ edges.toSeq.map(e => (e._2, e._1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val deg = adj.view.mapValues(_.size.toLong).toMap
    val cand = adj.keys.toSeq.sorted.flatMap { z =>
      val ns = adj(z).toSeq.sorted
      for (i <- ns.indices; j <- i + 1 until ns.size
           if !edges.contains((ns(i), ns(j)))) yield (ns(i), ns(j), z)
    }
    val expected = cand.groupBy(t => (t._1, t._2)).map { case ((a, b), ws) =>
      val cn = ws.size.toLong
      val raFp = ws.map(w => Math.floorDiv(1000000000000L, deg(w._3))).sum
      (a, b, cn, deg(a), deg(b), raFp)
    }.toSeq.sortBy(t => (-t._6, t._1, t._2)).take(20)
    val got = q("q197_link_prediction").collect()
      .map(r => (r.getAs[Long]("part_a"), r.getAs[Long]("part_b"),
        r.getAs[Long]("cn"), r.getAs[Long]("deg_a"),
        r.getAs[Long]("deg_b"), r.getAs[Long]("ra_fp")))
    assert(got.toSeq === expected)
    got.foreach { case (a, b, cn, da, db, _) =>
      assert(!edges.contains((a, b)), s"($a,$b) already an edge")
      assert(cn >= 1 && cn <= math.min(da, db))
    }
  }

  test("m18 bucket assignment matches the exact-rational argmin and " +
      "the batch arithmetic is consistent") {
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .filter(_._2.getBytes("UTF-8").length >= 7)
    val buckets = Seq(("square", 1, 1), ("landscape_4_3", 4, 3),
      ("portrait_3_4", 3, 4), ("wide_16_9", 16, 9), ("tall_9_16", 9, 16))
    val assigned = docs.map { case (_, text) =>
      val p = text.getBytes("UTF-8")
      val w = ((p(0) & 0xff) << 8) | (p(1) & 0xff)
      val h = ((p(2) & 0xff) << 8) | (p(3) & 0xff)
      val pick = buckets.map { case (nm, bw, bh) =>
        (math.abs(w.toLong * bh - h.toLong * bw) * (144 / bh), nm)
      }.min
      (pick._2, w.toLong, h.toLong)
    }
    val expected = assigned.groupBy(_._1).map { case (bkt, rows) =>
      val n = rows.length.toLong
      val nb = (n + 15) / 16
      bkt -> (n, nb, n - (nb - 1) * 16,
        rows.map(_._2).sum.toDouble / n, rows.map(_._3).sum.toDouble / n)
    }
    val got = q("m18_aspect_bucket_pack").collect()
      .map(r => r.getAs[String]("bucket") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("n_batches"),
          r.getAs[Long]("tail_fill"), r.getAs[Double]("avg_width"),
          r.getAs[Double]("avg_height"))).toMap
    assert(got.keySet === expected.keySet)
    expected.foreach { case (bkt, (n, nb, tail, aw, ah)) =>
      val g = got(bkt)
      assert(g._1 === n && g._2 === nb && g._3 === tail,
        s"$bkt counts $g vs ($n, $nb, $tail)")
      assert(math.abs(g._4 - aw) < 1e-9 && math.abs(g._5 - ah) < 1e-9)
      assert(g._3 >= 1 && g._3 <= 16)
    }
  }

  test("t44 cross-entropy matches the brute-force bigram LM and the " +
      "model never sees eval documents") {
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("lang"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    def bigrams(text: String): Seq[(String, String)] = {
      val ws = text.trim.split(" ").filter(_.nonEmpty)
      if (ws.length < 2) Nil else ws.zip(ws.tail).toSeq
    }
    val train = docs.filter(_._1 % 10 != 7)
    val ev = docs.filter(_._1 % 10 == 7)
    val c2 = train.flatMap(d => bigrams(d._3).map((d._2, _)))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val c1 = train.flatMap(d => bigrams(d._3).map(b => (d._2, b._1)))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val vsz = train.flatMap(d => bigrams(d._3).map(b => (d._2, b._2)))
      .distinct.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val expected = ev.flatMap(d => bigrams(d._3).map((d._2, _)))
      .groupBy(_._1).map { case (lang, grams) =>
        val terms = grams.map { case (_, g) =>
          val c2n = c2.getOrElse((lang, g), 0L)
          val c1n = c1.getOrElse((lang, g._1), 0L)
          val lp = math.log((c2n + 1).toDouble / (c1n + vsz(lang)).toDouble)
          (BigDecimal(-lp).setScale(9, BigDecimal.RoundingMode.HALF_UP),
            c2n == 0L)
        }
        lang -> (grams.size.toLong, terms.count(_._2).toLong,
          terms.map(_._1).sum.toDouble)
      }
    val got = q("t44_bigram_cross_entropy").collect()
      .map(r => r.getAs[String]("lang") ->
        (r.getAs[Long]("n_eval_bigrams"), r.getAs[Long]("n_unseen"),
          r.getAs[Double]("nll_sum"), r.getAs[Double]("cross_entropy_nats")))
      .toMap
    assert(got.keySet === expected.keySet)
    expected.foreach { case (lang, (n, unseen, nll)) =>
      val g = got(lang)
      assert(g._1 === n && g._2 === unseen, s"$lang counts $g")
      assert(math.abs(g._3 - nll) < 1e-6, s"$lang nll ${g._3} vs $nll")
      assert(g._4 === g._3 / n.toDouble)
      assert(g._4 > 3.0 && g._4 < 4.0, s"$lang ce ${g._4} out of band")
    }
  }

  test("e30 JL audit matches brute force: mean distortion near 1, " +
      "recall collapses at k=16 on this corpus") {
    def md5hex(x: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val signs = (0 until 16).map(j => (0 until 64).map(i =>
      if (md5hex(s"jl-$j-$i").charAt(0) < '8') 1.0 else -1.0).toArray)
    val vs = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    def dotp(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    val base = vs.map { case (id, v) =>
      val p = signs.map(sv => dotp(v, sv)).toArray
      (id, v, dotp(v, v), p, dotp(p, p))
    }
    // query side = the operator's deterministic md5 hash-sample at
    // rate min(1/16, 64/n); at the test SF (n <= 1024) the threshold
    // is exactly 2^20 of 2^24 buckets == first hex char '0'
    val per = base.filter(t => md5hex(s"e30|${t._1}").charAt(0) == '0')
      .map { case (id, v, n2, p, p2) =>
      val others = base.filter(_._1 != id).map { case (oid, ov, on2, op, op2) =>
        (oid, n2 + on2 - 2.0 * dotp(v, ov), p2 + op2 - 2.0 * dotp(p, op))
      }
      val nbO = others.minBy(t => (t._2, t._1))
      val nbP = others.minBy(t => (t._3, t._1))
      (id, nbO._1, nbP._1, nbO._2, nbO._3)
    }
    val nMatch = per.count(t => t._2 == t._3).toLong
    val ratios = per.filter(_._4 > 0).map(t => t._5 / (16.0 * t._4))
    val row = q("e30_jl_projection_audit").collect().head
    assert(row.getAs[Long]("n_queries") === per.length.toLong)
    assert(row.getAs[Long]("n_match") === nMatch)
    assert(math.abs(row.getAs[Double]("mean_ratio") -
      ratios.sum / ratios.length) < 1e-9)
    assert(row.getAs[Double]("min_ratio") === ratios.min)
    assert(row.getAs[Double]("max_ratio") === ratios.max)
    // the measured finding: average JL promise holds, top-1 does not
    assert(math.abs(row.getAs[Double]("mean_ratio") - 1.0) < 0.1)
    assert(row.getAs[Double]("recall_at1") < 0.2)
  }

  test("linkPredictionScores equals brute force on random graphs " +
      "(wedge completeness + exact fixed-point RA)") {
    import spark.implicits._
    (1 to 5).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val n = 20 + rnd.nextInt(10)
      val edges = (for (i <- 0L until n; j <- (i + 1) until n
        if rnd.nextDouble() < 0.22) yield (i, j)).toSeq
      val got = operators.Graph.linkPredictionScores(
          edges.toDF("pa", "pb")).collect()
        .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b")) ->
          (r.getAs[Long]("cn"), r.getAs[Long]("deg_a"),
            r.getAs[Long]("deg_b"), r.getAs[Long]("ra_fp"))).toMap
      val eSet = edges.toSet
      val adj = (edges ++ edges.map(_.swap)).groupBy(_._1)
        .view.mapValues(_.map(_._2).toSet).toMap
      val deg = adj.view.mapValues(_.size.toLong).toMap
      val expected = adj.keys.toSeq.flatMap { z =>
        val ns = adj(z).toSeq.sorted
        for (i <- ns.indices; j <- i + 1 until ns.size
             if !eSet.contains((ns(i), ns(j)))) yield ((ns(i), ns(j)), z)
      }.groupBy(_._1).map { case ((a, b), ws) =>
        (a, b) -> (ws.size.toLong, deg(a), deg(b),
          ws.map(w => Math.floorDiv(1000000000000L, deg(w._2))).sum)
      }
      assert(got === expected, s"seed=$seed: |got|=${got.size} " +
        s"|expected|=${expected.size}")
    }
  }

  test("itemCfScores equals brute force on random purchase matrices " +
      "(exact fixed-point sums, owned items excluded)") {
    import spark.implicits._
    (1 to 5).foreach { seed =>
      val rnd = new scala.util.Random(100 + seed)
      val items = ('a' to 'h').map(_.toString)
      val rows = (for (c <- 0L until 18L; it <- items
        if rnd.nextDouble() < 0.4) yield (c, it)).toSeq
      val got = operators.Graph.itemCfScores(
          rows.toDF("c", "brand"),
          org.apache.spark.sql.functions.lit(true)).collect()
        .map(r => (r.getAs[Long]("c"), r.getAs[String]("cand")) ->
          (r.getAs[Long]("score_fp"), r.getAs[Long]("n_terms"))).toMap
      val byC = rows.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val nPer = rows.groupBy(_._2).view.mapValues(_.size.toLong).toMap
      val co = rows.groupBy(_._1).values.flatMap { rs =>
        val bs = rs.map(_._2).sorted
        for (i <- bs.indices; j <- i + 1 until bs.size)
          yield (bs(i), bs(j))
      }.groupBy(identity).view.mapValues(_.size.toLong).toMap
      def simFp(i: String, j: String): Option[Long] = {
        val (lo, hi) = if (i < j) (i, j) else (j, i)
        co.get((lo, hi)).map(cv =>
          Math.floorDiv(cv * cv * 1000000000L, nPer(i) * nPer(j)))
      }
      val expected = byC.toSeq.flatMap { case (c, owned) =>
        (nPer.keySet -- owned).toSeq.flatMap { cand =>
          val terms = owned.toSeq.flatMap(i => simFp(i, cand))
          if (terms.isEmpty) None
          else Some((c, cand) -> (terms.sum, terms.size.toLong))
        }
      }.toMap
      assert(got === expected, s"seed=$seed")
    }
  }

  test("t46 temperature mixture matches brute force, shares sum to 1, " +
      "and lower alpha flattens the dominant language") {
    val counts = Tables.documents(spark, sf)
      .select(col("lang"), col("text")).collect()
      .map(r => (r.getString(0),
        r.getString(1).trim.split(" ").count(_.nonEmpty).toLong))
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val langs = counts.keys.toSeq.sorted
    val ntot = counts.values.sum
    def wOf(n: Long, a: String): Double = a match {
      case "1.0"  => n.toDouble
      case "0.5"  => math.sqrt(n.toDouble)
      case "0.25" => math.sqrt(math.sqrt(n.toDouble))
    }
    val got = q("t46_temperature_mixture").collect()
      .map(r => (r.getAs[String]("alpha"), r.getAs[String]("lang")) ->
        (r.getAs[Long]("n_tokens"), r.getAs[Double]("share"),
          r.getAs[Double]("repetition_factor"))).toMap
    Seq("1.0", "0.5", "0.25").foreach { a =>
      val tot = langs.foldLeft(0.0)((acc, l) => acc + wOf(counts(l), a))
      langs.foreach { l =>
        val g = got((a, l))
        assert(g._1 === counts(l))
        assert(g._2 === wOf(counts(l), a) / tot, s"share $a/$l")
        assert(g._3 === g._2 * ntot.toDouble / counts(l).toDouble)
      }
      val shareSum = langs.map(l => got((a, l))._2).sum
      assert(math.abs(shareSum - 1.0) < 1e-12)
    }
    // alpha=1 is natural sampling (repetition factor 1); lower alpha
    // flattens: the dominant language's share strictly decreases
    langs.foreach(l =>
      assert(math.abs(got(("1.0", l))._3 - 1.0) < 1e-12))
    val dom = langs.maxBy(counts)
    assert(got(("1.0", dom))._2 > got(("0.5", dom))._2)
    assert(got(("0.5", dom))._2 > got(("0.25", dom))._2)
  }

  test("q195 top-10 influence rows match the brute-force ranking and " +
      "leverages satisfy the hat-matrix identities") {
    val (n, a, b, c) = moments(weekly)
    val slope = b.toDouble / c.toDouble
    val sx = weekly.map(_._1).sum
    val sy = weekly.map(_._2).sum
    val rssV = rss(n, a, b, c)
    val s2 = rssV / (n - 2).toDouble
    val all = weekly.map { case (w, y) =>
      val v = n * w - sx
      val e = ((n * y - sy).toDouble - slope * v.toDouble) / n.toDouble
      val h = 1.0 / n.toDouble +
        (v * v).toDouble / (n * c).toDouble
      val cook = (e * e * h) / (2.0 * s2 * (1.0 - h) * (1.0 - h))
      (w, y, e, h, cook)
    }
    // hat-matrix identities: 1/n <= h < 1, sum(h) = p = 2
    assert(all.forall(r => r._4 >= 1.0 / n && r._4 < 1.0))
    assert(math.abs(all.map(_._4).sum - 2.0) < 1e-9)
    val expected = all.sortBy(r => (-r._5, r._1)).take(10)
    val got = q("q195_influence").collect()
      .map(r => (r.getAs[Long]("w"), r.getAs[Long]("y"),
        r.getAs[Double]("resid"), r.getAs[Double]("leverage"),
        r.getAs[Double]("cook_d")))
    assert(got.map(_._1).toSeq === expected.map(_._1),
      s"week ranking ${got.map(_._1).toSeq} vs ${expected.map(_._1)}")
    got.zip(expected).foreach { case (g, e) =>
      assert(g._2 === e._2)
      assert(math.abs(g._3 - e._3) < 1e-6 * (1.0 + e._3.abs))
      assert(math.abs(g._4 - e._4) < 1e-12)
      assert(math.abs(g._5 - e._5) < 1e-9 * (1.0 + e._5.abs))
    }
  }
}
