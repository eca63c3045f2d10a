package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property checks for the Statistics grid algebra on ARBITRARY data —
  * the corpus specs (Round7eOpsSpec) pin the statistics on one
  * dataset; these pin the value-grid carriers (2× midranks, dominance
  * counters, tie cubics) against brute-force models under random group
  * sizes, heavy ties, and degenerate shapes, on in-memory frames.
  */
class Round7fPropertySpec extends SparkSpec {

  private def forAllSeeded[A](gen: Gen[A], n: Int)(f: A => Unit): Unit =
    (0 until n).foreach { i =>
      gen.apply(Gen.Parameters.default, Seed(1234L + i)).foreach(f)
    }

  test("kruskalWallisH equals the brute-force midrank model on random " +
      "grouped data with heavy ties, for 2..4 groups") {
    import spark.implicits._
    val caseGen = for {
      k <- Gen.chooseNum(2, 4)
      groups = (0 until k).map(i => s"g$i")
      rows <- Gen.nonEmptyListOf(Gen.zip(
        Gen.oneOf(groups), Gen.chooseNum(0L, 8L)))
      // every group must be non-empty (H is undefined otherwise)
      if groups.forall(g => rows.exists(_._1 == g))
    } yield (groups, rows)
    forAllSeeded(caseGen, 25) { case (groups, rows) =>
      val df = rows.toDF("grp", "value")
      val r = operators.Statistics
        .kruskalWallisH(df, groups).collect()(0)
      // brute-force: pooled midranks (2x carrier), rank sums per group
      val pooled = rows.map(_._2).sorted
      def r2(v: Long): Long =
        2L * pooled.count(_ < v) + pooled.count(_ == v) + 1L
      val n = rows.length.toLong
      val nd = n.toDouble
      val hsum = groups.map { g =>
        val vs = rows.filter(_._1 == g).map(_._2)
        val sr2 = vs.map(r2).sum
        sr2.toDouble * sr2.toDouble / vs.length.toDouble
      }.sum
      val hRaw = 3.0 * hsum / nd / (nd + 1.0) - 3.0 * (nd + 1.0)
      val tie3 = pooled.groupBy(identity).values
        .map(g => { val t = g.size.toLong; t * t * t - t }).sum
      groups.zipWithIndex.foreach { case (g, i) =>
        val x = ('a' + i).toChar
        assert(r.getAs[Long](s"n_$x") ==
          rows.count(_._1 == g).toLong, s"n_$x")
      }
      assert(r.getAs[Long]("n") == n)
      // identical double sequence => exact equality (addend order in
      // the model matches the helper's left-assoc group order)
      assert(math.abs(r.getAs[Double]("h_raw") - hRaw) < 1e-9,
        s"h_raw ${r.getAs[Double]("h_raw")} vs $hRaw")
      if (n > 1 && tie3 < n * n * n - n) {
        val tieCorr = 1.0 - tie3.toDouble / (nd * nd * nd - nd)
        assert(math.abs(r.getAs[Double]("tie_corr") - tieCorr) < 1e-12)
        // H >= 0 up to fp noise, and bounded by n - 1
        assert(r.getAs[Double]("h_stat") > -1e-9)
        assert(r.getAs[Double]("h_stat") <= nd - 1.0 + 1e-9)
      }
    }
  }

  test("kendallTauB equals the brute-force O(n^2) pair count on random " +
      "keyed data, for 2..5 y classes") {
    import spark.implicits._
    val caseGen = for {
      yk <- Gen.chooseNum(2, 5)
      rows <- Gen.nonEmptyListOf(Gen.zip(
        Gen.oneOf("k1", "k2"), Gen.chooseNum(0L, 6L),
        Gen.chooseNum(1L, yk.toLong)))
    } yield (yk, rows)
    forAllSeeded(caseGen, 25) { case (yk, rows) =>
      val df = rows.toDF("nation", "x", "y")
      val got = operators.Statistics.kendallTauB(df, yk)
        .collect().map(r => r.getAs[String]("nation") ->
          (r.getAs[Long]("n"), r.getAs[Long]("c_pairs"),
            r.getAs[Long]("d_pairs"), r.getAs[Long]("ties_x"),
            r.getAs[Long]("ties_y"))).toMap
      rows.groupBy(_._1).foreach { case (key, g) =>
        var conc = 0L; var disc = 0L; var tx = 0L; var ty = 0L
        for (i <- g.indices; j <- (i + 1) until g.length) {
          val sgn = java.lang.Long.signum(g(i)._2 - g(j)._2) *
            java.lang.Long.signum(g(i)._3 - g(j)._3)
          if (sgn > 0) conc += 1 else if (sgn < 0) disc += 1
          if (g(i)._2 == g(j)._2) tx += 1
          if (g(i)._3 == g(j)._3) ty += 1
        }
        assert(got(key) == ((g.length.toLong, conc, disc, tx, ty)),
          s"$key: ${got(key)} vs ${(g.length, conc, disc, tx, ty)}")
      }
    }
  }
}
