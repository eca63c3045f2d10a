package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.GraftTestBridge
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.optimizer.BuildLeft
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, HashJoin}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.apache.spark.sql.util.QueryExecutionListener

import graft.operators.{Graph, Multimodal}

/** The one-long-key rule for broadcast hash joins. Spark builds a
  * `LongHashedRelation`, sized to its rows, only when the build keys
  * reduce to one long (`HashJoin.rewriteKeyExpr`); any other key builds
  * an `UnsafeHashedRelation`, whose map pins one whole
  * `spark.buffer.pageSize` page (32 MiB on a 3 GB heap) on every
  * executor for as long as the broadcast lives. The guard runs the
  * benchmark's `analytics_mix` queries; the equivalence tests pin the
  * re-keyed operators to their former formulations.
  */
class BroadcastKeySpec extends SparkSpec {
  private val sfDir = s"${sys.props("user.home")}/testdata/sf0.01"

  private object Plans extends AdaptiveSparkPlanHelper

  /** Every broadcast hash join of `plan` (AQE stages and subqueries
    * included), with whether its build keys reduce to one long. */
  private def broadcastJoins(plan: SparkPlan): Seq[(String, Boolean)] =
    Plans.collectWithSubqueries(plan) { case j: BroadcastHashJoinExec =>
      val keys = if (j.buildSide == BuildLeft) j.leftKeys else j.rightKeys
      val packed = HashJoin.rewriteKeyExpr(keys)
      s"${j.joinType} (${keys.map(_.dataType.simpleString).mkString(", ")})" ->
        (packed.size == 1 && packed.head.dataType == LongType)
    }

  /** Runs `df`'s final action under a QueryExecutionListener and returns
    * the executed plans the listener saw: the final AQE plans. Jobs run
    * while `df` was built (the cuts and counts) finish before the
    * listener is registered, so they are not seen. */
  private def finalPlans(df: DataFrame): Seq[SparkPlan] = {
    val sc = spark.sparkContext
    val seen = new ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit = seen.add(qe)
      def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    GraftTestBridge.drainListenerBus(sc)
    spark.listenerManager.register(listener)
    try {
      df.collect()
      GraftTestBridge.drainListenerBus(sc)
    } finally spark.listenerManager.unregister(listener)
    val plans = seen.asScala.toSeq.map(_.executedPlan)
    assert(plans.nonEmpty, "the listener saw no action")
    plans
  }

  /** The benchmark's `analytics_mix` query list, read from its runner so
    * the guard follows the mix. */
  private lazy val analyticsMix: Seq[String] = {
    val src = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("perfbench/run.py")), "UTF-8")
    val list = src.substring(src.indexOf("ANALYTICS_MIX = ["))
    val names = "\"([a-z0-9_]+)\"".r.findAllMatchIn(
      list.substring(0, list.indexOf("]"))).map(_.group(1)).toSeq
    assert(names.size == 8, s"ANALYTICS_MIX not parsed: $names")
    names
  }

  test("the analytics mix's final plans build every broadcast hash " +
      "relation on one long key") {
    val joins = analyticsMix.map { n =>
      n -> finalPlans(SparkEntry.queries(n)(spark, sfDir))
        .flatMap(broadcastJoins)
    }
    val wide = for ((n, js) <- joins; (k, oneLong) <- js if !oneLong)
      yield s"$n: $k"
    assert(wide.isEmpty, "broadcast joins that build an " +
      s"UnsafeHashedRelation:\n${wide.mkString("\n")}")
    // not vacuous: the re-keyed queries still broadcast
    val counts = joins.toMap.view.mapValues(_.size).toMap
    Seq("q196_item_cf_recommend", "m07_multimodal_phash_neardup",
      "m11_phash_recall").foreach(n =>
      assert(counts(n) > 0, s"$n planned no broadcast hash join"))
  }

  test("the guard flags a string-keyed broadcast join and passes a " +
      "long-keyed one") {
    val big = spark.range(200).select(col("id"),
      col("id").cast("string").as("s"))
    val small = spark.range(10).select(col("id"),
      col("id").cast("string").as("s"))
    val byString = finalPlans(big.join(broadcast(small), "s"))
      .flatMap(broadcastJoins)
    val byLong = finalPlans(big.join(broadcast(small), "id"))
      .flatMap(broadcastJoins)
    assert(byString.map(_._2) === Seq(false))
    assert(byLong.map(_._2) === Seq(true))
  }

  /** Clusters of near-duplicate 60-bit fingerprints (doc_id, ahash):
    * each random base with variants up to 14 flipped bits away, so the
    * pairs span every hamming bucket, with band hits and band misses. */
  private def fingerprints(seed: Int): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    (0 until 40).flatMap { k =>
      val base = rnd.nextLong() & ((1L << 60) - 1)
      (0 until 6).map { v =>
        var h = base
        (0 until (if (v == 0) 0 else rnd.nextInt(15)))
          .foreach(_ => h ^= 1L << rnd.nextInt(60))
        (k * 6L + v) -> h
      }
    }
  }

  /** The banded pair search as the former bigint-keyed `bh` defined it:
    * a < b, hamming <= 12, and at least one of `nb` bands of `w` bits
    * equal. */
  private def bandedPairs(fps: Seq[(Long, Long)], nb: Int,
      w: Int): Set[(Long, Long, Int)] = {
    val mask = (1L << w) - 1
    (for {
      (a, ha) <- fps; (b, hb) <- fps if a < b
      ham = java.lang.Long.bitCount(ha ^ hb) if ham <= 12
      if (0 until nb).exists(k =>
        ((ha >> (k * w)) & mask) == ((hb >> (k * w)) & mask))
    } yield (a, b, ham)).toSet
  }

  test("phashPairsFrom with an INT band hash returns the former " +
      "bigint-keyed pairs on both sides of BandKnee") {
    import spark.implicits._
    val fps = fingerprints(7)
    val fp = fps.toDF("doc_id", "ahash")
    Seq((fps.size.toLong, 4, 15), (Multimodal.BandKnee + 1, 3, 20))
      .foreach { case (nMedia, nb, w) =>
        val df = Multimodal.phashPairsFrom(spark, fp, nMedia)
        val got = df.collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
        val expected = bandedPairs(fps, nb, w)
        assert(expected.nonEmpty)
        assert(got === expected, s"${nb}x$w banding")
        // below the knee the band join broadcasts, on one long
        if (nMedia <= Multimodal.BandKnee) {
          val joins = broadcastJoins(df.queryExecution.executedPlan)
          assert(joins.nonEmpty && joins.forall(_._2), joins)
        }
      }
  }

  test("m11's per-bucket counts over the truth/found union match the " +
      "truth LEFT JOIN found formulation") {
    import spark.implicits._
    Seq(7, 8).foreach { seed =>
      val fp = fingerprints(seed).toDF("doc_id", "ahash")
      val a = fp.select(col("doc_id").as("doc_a"), col("ahash").as("ha"))
      val b = fp.select(col("doc_id").as("doc_b"), col("ahash").as("hb"))
      val truth = a.join(b, col("doc_a") < col("doc_b"))
        .select(col("doc_a"), col("doc_b"),
          expr("CAST(bit_count(ha ^ hb) AS INT)").as("hamming"))
        .filter(col("hamming") <= 12)
      val found = Multimodal.phashPairsFrom(spark, fp, fp.count())
        .select(col("doc_a"), col("doc_b"), lit(1L).as("hit"))
      val expected = truth.join(found, Seq("doc_a", "doc_b"), "left")
        .groupBy(when(col("hamming") <= 4, "d00_04")
          .when(col("hamming") <= 8, "d05_08")
          .otherwise("d09_12").as("bucket"))
        .agg(count(lit(1)).as("n_true"),
          sum(coalesce(col("hit"), lit(0L))).as("n_found"))
        .withColumn("recall",
          col("n_found").cast("double") / col("n_true"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getDouble(3))).toSet
      val got = Multimodal.phashRecall(spark, fp).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getDouble(3))).toSet
      assert(expected.map(_._1) === Set("d00_04", "d05_08", "d09_12"))
      assert(expected.exists(r => r._3 < r._2), "no pair missed")
      assert(got === expected, s"seed=$seed")
    }
  }

  /** itemCfScores as it was keyed before: string brands through the
    * item counts, co-occurrence and affinity joins, and a (c, cand)
    * anti-join for the owned candidates. */
  private def stringKeyedScores(rows: DataFrame,
      target: Column): DataFrame = {
    val rMat = rows.select(col("c"), col("brand")).distinct()
    val nPer = rMat.groupBy(col("brand")).agg(count(lit(1)).as("n"))
    val co = rMat.as("x").join(rMat.as("y"),
        col("x.c") === col("y.c") && col("x.brand") < col("y.brand"))
      .groupBy(col("x.brand").as("bi"), col("y.brand").as("bj"))
      .agg(count(lit(1)).as("co"))
    val sim = co
      .join(nPer.select(col("brand").as("bi"), col("n").as("ni")), "bi")
      .join(nPer.select(col("brand").as("bj"), col("n").as("nj")), "bj")
      .select(col("bi"), col("bj"),
        expr("(co * co * CAST(1000000000 AS BIGINT)) div (ni * nj)")
          .as("sim_fp"))
    val simBoth = sim.unionByName(
      sim.select(col("bj").as("bi"), col("bi").as("bj"), col("sim_fp")))
    rMat.filter(target)
      .join(simBoth, col("brand") === col("bi"))
      .select(col("c"), col("bj").as("cand"), col("sim_fp"))
      .join(rMat.withColumnRenamed("brand", "cand"),
        Seq("c", "cand"), "left_anti")
      .groupBy(col("c"), col("cand"))
      .agg(sum(col("sim_fp")).as("score_fp"), count(lit(1)).as("n_terms"))
  }

  test("itemCfScores on long brand ids matches the string-keyed " +
      "formulation, with ties broken by brand name") {
    import spark.implicits._
    // customer 0 owns zeta, whose four candidates tie exactly
    // (co = 2 and n = 3 each), so q196's top 3 keep them by name:
    // "Mid" < "alpha" < "beta" < "omega" in binary order. Customer 3
    // owns every brand; customer 5 bought zeta twice.
    val rows = Seq(0L -> "zeta",
      1L -> "zeta", 1L -> "alpha", 2L -> "zeta", 2L -> "Mid",
      3L -> "zeta", 3L -> "alpha", 3L -> "Mid", 3L -> "omega",
      3L -> "beta", 4L -> "alpha", 4L -> "omega", 4L -> "Mid",
      4L -> "beta", 5L -> "omega", 5L -> "zeta", 5L -> "zeta",
      6L -> "zeta", 6L -> "beta").toDF("c", "brand")
    val top3 = Window.partitionBy(col("c"))
      .orderBy(col("score_fp").desc, col("cand"))
    def rows4(df: DataFrame) = df.collect().map(r =>
      (r.getAs[Long]("c"), r.getAs[String]("cand"),
        r.getAs[Long]("score_fp"), r.getAs[Long]("n_terms"))).toSet
    def ranked(df: DataFrame) = df
      .withColumn("rank", row_number().over(top3))
      .filter(col("rank") <= 3)
      .select(col("c"), col("rank"), col("cand")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    Seq(lit(true), col("c") % 2 === 0).foreach { target =>
      val got = Graph.itemCfScores(rows, target)
      val expected = stringKeyedScores(rows, target)
      assert(rows4(got) === rows4(expected))
      assert(ranked(got) === ranked(expected))
      assert(!rows4(got).exists(_._1 == 3L), "customer 3 owns every brand")
    }
    val c0 = ranked(Graph.itemCfScores(rows, col("c") === 0L))
    assert(c0 === Set((0L, 1, "Mid"), (0L, 2, "alpha"), (0L, 3, "beta")))
  }
}
