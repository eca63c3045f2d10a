package graft

import org.apache.spark.sql.functions._

/** Classifier evaluation + survival comparison (TextOps, Statistics):
  * brute-force cross-checks at sf0.001 for the rank-sum AUC, the
  * paired-screen tests, and the Nelson–Aalen fold, plus a planted
  * differential-hazard fixture for the log-rank test — the gate
  * corpus's parity split is a negative control (hazards identical by
  * construction), so the rejection branch only exercises on synthetic
  * data, the Round7hEdgeSpec stance.
  */
class Round7iOpsSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def q(name: String) = SparkEntry.queries(name)(spark, sf)

  /** Per-doc (score, screens a/b/c_len) recomputed independently with
    * plain Scala over collected docs — the brute-force rater. */
  private lazy val rated: Seq[(Double, Boolean, Boolean, Boolean)] = {
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
    val stop = Set("the", "and", "of", "to", "a", "in", "is")
    docs.toIndexedSeq.map { r =>
      val words = r.getString(1).trim.split(" ", -1).toIndexedSeq
      val n = words.size
      val s = words.distinct.size.toDouble / n
      val stopRatio = words.count(stop).toDouble / n
      val a = n >= 10 && s >= 0.5 && stopRatio <= 0.4
      val grams = words.sliding(3).filter(_.size == 3).toSeq
      val b = grams.groupBy(identity).values.forall(_.size == 1)
      val cLen = n >= 30 && n <= 120
      (s, b, a, cLen)
    }
  }

  test("q171 rank-sum AUC equals the brute-force pair probability " +
      "P(score_pos > score_neg) + half-ties") {
    val row = q("q171_roc_auc").collect()(0)
    val pos = rated.filter(_._2).map(_._1)
    val neg = rated.filterNot(_._2).map(_._1)
    val gt = (for (p <- pos; m <- neg) yield
      if (p > m) 1.0 else if (p == m) 0.5 else 0.0).sum
    val expected = gt / (pos.size.toDouble * neg.size.toDouble)
    assert(row.getAs[Long]("n_pos") === pos.size)
    assert(row.getAs[Long]("n_neg") === neg.size)
    assert(math.abs(row.getAs[Double]("auc") - expected) < 1e-12)
    assert(math.abs(row.getAs[Double]("rank_biserial") -
      (2 * expected - 1)) < 1e-12)
    // the score genuinely ranks clean docs above repetitive ones
    assert(row.getAs[Double]("auc") > 0.7)
  }

  test("q172 McNemar cells match the brute-force confusion table and " +
      "the asymmetric disagreement rejects") {
    val row = q("q172_mcnemar_screens").collect()(0)
    val n10 = rated.count(r => r._3 && !r._2).toLong
    val n01 = rated.count(r => !r._3 && r._2).toLong
    assert(row.getAs[Long]("n10") === n10)
    assert(row.getAs[Long]("n01") === n01)
    val cc = math.abs(n10 - n01) - 1
    assert(math.abs(row.getAs[Double]("chi2_cc") -
      cc.toDouble * cc / (n10 + n01)) < 1e-12)
    assert(row.getAs[Boolean]("reject_95"))
  }

  test("q173 Cochran's Q matches brute force over the three screens " +
      "and rejects homogeneity") {
    val row = q("q173_cochran_q").collect()(0)
    val ca = rated.count(_._3).toLong
    val cb = rated.count(_._2).toLong
    val cc = rated.count(_._4).toLong
    val ri = rated.map(r =>
      (if (r._3) 1L else 0L) + (if (r._2) 1L else 0L) +
        (if (r._4) 1L else 0L))
    val t = ri.sum
    val r2 = ri.map(x => x * x).sum
    val expected =
      (2L * (3L * (ca * ca + cb * cb + cc * cc) - t * t)).toDouble /
        (3L * t - r2).toDouble
    assert(row.getAs[Long]("c_quality") === ca)
    assert(row.getAs[Long]("c_norep") === cb)
    assert(row.getAs[Long]("c_length") === cc)
    assert(math.abs(row.getAs[Double]("q_stat") - expected) < 1e-9)
    assert(row.getAs[Boolean]("reject_95"))
  }

  test("t41 sweep matches brute-force confusion counts at every " +
      "threshold, and recall is non-increasing in the threshold") {
    val rows = q("t41_pr_threshold_sweep").collect()
    assert(rows.length === 9)
    rows.foreach { r =>
      val thr = r.getAs[Double]("thr")
      val tp = rated.count(x => x._2 && x._1 >= thr).toLong
      val fp = rated.count(x => !x._2 && x._1 >= thr).toLong
      val fn = rated.count(x => x._2 && x._1 < thr).toLong
      assert(r.getAs[Long]("tp") === tp, s"tp at $thr")
      assert(r.getAs[Long]("fp") === fp, s"fp at $thr")
      assert(r.getAs[Long]("fn") === fn, s"fn at $thr")
      if (tp > 0) {
        assert(math.abs(r.getAs[Double]("precision") -
          tp.toDouble / (tp + fp)) < 1e-12)
        assert(math.abs(r.getAs[Double]("recall") -
          tp.toDouble / (tp + fn)) < 1e-12)
      }
    }
    val recalls = rows.sortBy(_.getAs[Double]("thr"))
      .map(_.getAs[Double]("recall"))
    assert(recalls.zip(recalls.tail).forall { case (a, b) => b <= a })
  }

  test("q174 log-rank: the parity split is a negative control on the " +
      "uniform generator — no rejection at sf0.001") {
    val row = q("q174_logrank").collect()(0)
    assert(!row.getAs[Boolean]("reject_95"),
      s"negative control rejected: z = ${row.getAs[Double]("z")}")
    // O and E genuinely computed (not degenerate)
    assert(row.getAs[Long]("d_total") > 0)
    assert(row.getAs[Double]("v_sum") > 0.0)
  }

  test("q174 log-rank rejects on a planted differential-hazard " +
      "fixture (even users convert fast, odd users censored)") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-logrank").toString
    val events = (0 until 40).flatMap { u =>
      val even = 2L * u // group 1: early qualifying purchase
      val odd = 2L * u + 1 // group 0: censored, never qualifies
      Seq(
        (even, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"),
          "signup", 0.0),
        (even, java.sql.Timestamp.valueOf(
          s"2024-01-01 00:${10 + u % 40}:00"), "purchase", 200.0),
        (odd, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"),
          "signup", 0.0),
        (odd, java.sql.Timestamp.valueOf(
          s"2024-01-01 ${10 + u % 10}:00:00"), "view", 0.0))
    }
    events.toDF("user_id", "ts", "event_type", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val row = SparkEntry.queries("q174_logrank")(spark, dir).collect()(0)
    assert(row.getAs[Long]("o1") === 40L) // every event is group 1's
    assert(row.getAs[Boolean]("reject_95"),
      s"planted hazard difference not detected: z = ${
        row.getAs[Double]("z")}")
    assert(row.getAs[Double]("z") > 2.0)
  }

  test("q180 calibration bins match brute-force per-bin rates on the " +
      "parity split, and the split is exhaustive and disjoint") {
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
    val byBin = docs.toIndexedSeq.map { r =>
      val words = r.getString(1).trim.split(" ", -1).toIndexedSeq
      val grams = words.sliding(3).filter(_.size == 3).toSeq
      val rep = grams.groupBy(identity).values.exists(_.size > 1)
      (math.min(words.size / 20, 5).toLong, r.getLong(0) % 2 == 0, rep)
    }.groupBy(_._1)
    val rows = q("q180_calibration_oos").collect()
    assert(rows.map(_.getAs[Long]("bin")).toSet === byBin.keySet)
    var total = 0L
    rows.foreach { r =>
      val grp = byBin(r.getAs[Long]("bin"))
      assert(r.getAs[Long]("n_train") === grp.count(_._2).toLong)
      assert(r.getAs[Long]("c_train") ===
        grp.count(g => g._2 && g._3).toLong)
      assert(r.getAs[Long]("n_eval") === grp.count(!_._2).toLong)
      assert(r.getAs[Long]("c_eval") ===
        grp.count(g => !g._2 && g._3).toLong)
      total += r.getAs[Long]("n_train") + r.getAs[Long]("n_eval")
    }
    assert(total === docs.length.toLong) // exhaustive + disjoint
  }

  test("q181 isotonic fit matches a reference PAV implementation, is " +
      "monotone, and preserves the weighted mean") {
    val rows = q("q181_isotonic_calibration").collect()
      .sortBy(_.getAs[Long]("bin"))
    val ns = rows.map(_.getAs[Long]("n"))
    val cs = rows.map(_.getAs[Long]("c"))
    // classic stack-based pool-adjacent-violators
    case class Block(n: Long, c: Long) {
      def rate: Double = c.toDouble / n.toDouble
    }
    val pav = ns.indices.foldLeft(List.empty[Block]) { (st, i) =>
      var stack = Block(ns(i), cs(i)) :: st
      while (stack.size > 1 && stack(1).rate >= stack.head.rate) {
        val (a :: b :: rest) = stack: @unchecked
        stack = Block(a.n + b.n, a.c + b.c) :: rest
      }
      stack
    }.reverse
    // expand block rates back to per-bin fitted values
    val expanded = {
      val out = scala.collection.mutable.ArrayBuffer.empty[Double]
      var i = 0
      pav.foreach { b =>
        var left = b.n
        while (left > 0 && i < ns.length) {
          out += b.c.toDouble / b.n.toDouble
          left -= ns(i); i += 1
        }
      }
      out.toSeq
    }
    val got = rows.map(_.getAs[Double]("p_isotonic")).toSeq
    assert(got.size === expanded.size)
    got.zip(expanded).zipWithIndex.foreach { case ((g, e), i) =>
      assert(math.abs(g - e) < 1e-12, s"bin $i: $g vs $e")
    }
    // monotone nondecreasing
    assert(got.zip(got.tail).forall { case (a, b) => b >= a })
    // pooling preserves the weighted mean exactly (in rationals)
    val lhs = got.zip(ns).map { case (p, n) => p * n }.sum
    assert(math.abs(lhs - cs.sum.toDouble) < 1e-9)
  }

  test("q182 Hosmer-Lemeshow matches brute force from the reference " +
      "PAV fit and drops the sf0.001 degenerate (rate-0) bin") {
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
    val binned = docs.toIndexedSeq.map { r =>
      val words = r.getString(1).trim.split(" ", -1).toIndexedSeq
      val grams = words.sliding(3).filter(_.size == 3).toSeq
      val rep = grams.groupBy(identity).values.exists(_.size > 1)
      (math.min(words.size / 20, 5), r.getLong(0) % 2 == 0, rep)
    }
    val bins = binned.groupBy(_._1).toSeq.sortBy(_._1).map {
      case (b, g) =>
        (b, g.count(_._2).toLong, g.count(x => x._2 && x._3).toLong,
          g.count(!_._2).toLong, g.count(x => !x._2 && x._3).toLong)
    }
    // minimax PAV over the train side
    def rate(j: Int, k: Int): Double = {
      val seg = bins.slice(j, k + 1)
      seg.map(_._3).sum.toDouble / seg.map(_._2).sum.toDouble
    }
    val terms = bins.indices.flatMap { i =>
      val p = (0 to i).map(j =>
        (i until bins.size).map(k => rate(j, k)).min).max
      val (_, _, _, nEv, cEv) = bins(i)
      if (p > 0.0 && p < 1.0 && nEv > 0)
        Some((cEv - nEv * p) * (cEv - nEv * p) / (nEv * p * (1 - p)))
      else None
    }
    val expected = terms.foldLeft(0.0)(_ + _)
    val row = q("q182_hosmer_lemeshow").collect()(0)
    assert(row.getAs[Long]("n_bins") === terms.size.toLong)
    assert(terms.size < bins.size, // the degenerate bin really drops
      s"expected a dropped bin at sf0.001, got ${terms.size}")
    assert(row.getAs[Long]("df") === terms.size.toLong - 2)
    assert(math.abs(row.getAs[Double]("hl_stat") - expected) < 1e-9)
  }

  test("q175 Nelson-Aalen cumulative hazard and variance match the " +
      "brute-force fold over collected durations") {
    val rows = q("q175_nelson_aalen").collect()
      .sortBy(_.getAs[Long]("t_min"))
    val per = graft.operators.Statistics.survivalDurations(spark, sf)
      .select(col("is_event"), col("dur")).collect()
      .map(r => (r.getBoolean(0), r.getLong(1)))
    val times = per.filter(_._1).map(_._2).distinct.sorted
    var h = 0.0
    var v = 0.0
    val expected = times.map { t =>
      val d = per.count(p => p._1 && p._2 == t)
      val n = per.count(_._2 >= t)
      h += d.toDouble / n
      v += d.toDouble / (n.toDouble * n)
      (t, n.toLong, d.toLong, h, v)
    }
    assert(rows.length === expected.length)
    rows.zip(expected).foreach { case (r, (t, n, d, eh, ev)) =>
      assert(r.getAs[Long]("t_min") === t)
      assert(r.getAs[Long]("n_risk") === n)
      assert(r.getAs[Long]("n_events") === d)
      assert(math.abs(r.getAs[Double]("cum_hazard") - eh) < 1e-12)
      assert(math.abs(r.getAs[Double]("cum_var") - ev) < 1e-12)
    }
    // H(t) dominates -ln S(t)'s first-order term: both increase
    assert(rows.last.getAs[Double]("cum_hazard") >
      rows.head.getAs[Double]("cum_hazard"))
  }
}
