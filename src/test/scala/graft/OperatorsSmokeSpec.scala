package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.GraftTestBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SQLExecution

/** Smoke: every registered query executes at sf0.001 and the flagship
  * returns rows (the driver's t1 gate). Full value-level verification
  * runs against the DuckDB oracle via graft.Verify + tools/compare.py.
  *
  * Each query is BUILT separately from executing it, and the Spark jobs
  * its construction launches are counted: building a DataFrame runs no
  * Spark job unless the query is declared in [[eagerBuild]]. Counted are
  * the jobs that execute a query plan (they carry a SQL execution id):
  * eager cuts, counts, collects. File-source schema inference, which
  * every `spark.read.parquet` runs outside any SQL execution, is table
  * access rather than operator work and is not counted.
  */
class OperatorsSmokeSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  /** Queries whose construction runs Spark jobs — eager Materialize cuts
    * and the counts that pick a plan (e.g. the media pair search's
    * band/broadcast choice). A query in this set must launch at least
    * one job while it is built; any other query must launch none. */
  private val eagerBuild: Set[String] = Set(
    "d03_ngram_jaccard_pairs", "d04_minhash_lsh_dedup",
    "d07_neardup_components", "d13_canonical_keep_longest",
    "d14_containment_pairs", "d16_cluster_size_histogram",
    "d17_dup_source_matrix", "d18_minhash_band_tuning", "d21_winnow_pairs",
    "d22_method_agreement", "d23_minhash_error_profile",
    "d24_pipeline_funnel", "d27_source_minhash_jaccard",
    "d29_shingle_width_profile", "d30_threshold_sensitivity", "e03_ann_ivf",
    "e06_ann_ivf_nprobe", "e07_ann_recall", "e08_ann_recall_sweep",
    "e09_ann_ivf_sq8", "e10_semantic_dedup", "e12_semantic_dedup_against",
    "e13_ann_ivf_pq", "e14_pq_recall", "e15_kmeans_refine",
    "e16_embedding_drift", "e17_cell_silhouette", "e19_pq_distortion",
    "e20_nn_distance_profile", "e22_range_search", "e24_ivf_k_sweep",
    "e29_probe_cost", "e33_matryoshka_recall", "e34_ann_binary_sign",
    "m07_multimodal_phash_neardup", "m08_media_shard_manifest",
    "m10_media_neardup_components", "m11_phash_recall", "m16_shard_balance",
    "m17_dedup_savings", "m19_band_tuning", "q105_copurchase_pagerank",
    "q107_triangle_count", "q121_abc_migration", "q125_khop_reachability",
    "q130_copurchase_distance", "q131_theil_sen_trend",
    "q132_kmv_intersection", "q133_survival_km", "q146_cmh_test",
    "q149_raking_weights", "q155_theil_sen", "q158_jsd_brand_mix",
    "q162_mann_kendall", "q167_bh_fdr", "q170_bootstrap_median_ci",
    "q174_logrank", "q175_nelson_aalen", "q179_siegel_slope",
    "q181_isotonic_calibration", "q182_hosmer_lemeshow",
    "q196_item_cf_recommend", "q197_link_prediction",
    "q55_bucketed_colocated_join", "q57_dpp_partitioned_join",
    "q72_rfm_segmentation", "q84_market_basket", "q86_decile_gain",
    "q89_abc_pareto", "t07_sequence_packing", "t17_boilerplate_chunks",
    "t36_ks_drift", "t37_bpe_merges", "t39_bpe_encode",
    "t43_stratified_split"
  )

  /** Plan-executing jobs started per job group, recorded by a listener
    * on the shared session. */
  private lazy val jobsByGroup: ConcurrentHashMap[String, Integer] = {
    val m = new ConcurrentHashMap[String, Integer]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties)
          .filter(_.getProperty(SQLExecution.EXECUTION_ID_KEY) != null)
          .flatMap(p => Option(p.getProperty(GraftTestBridge.JobGroupKey)))
          .foreach(g => m.merge(g, 1, (a, b) => a + b))
    })
    m
  }

  /** Builds `name`'s DataFrame under its own job group and returns it
    * with the number of Spark jobs the build launched. */
  private def build(name: String,
      fn: (SparkSession, String) => DataFrame): (DataFrame, Int) = {
    val sc = spark.sparkContext
    val group = s"build:$name"
    jobsByGroup
    sc.setJobGroup(group, s"build $name")
    val df = try fn(spark, dir) finally sc.clearJobGroup()
    GraftTestBridge.drainListenerBus(sc)
    (df, Option(jobsByGroup.get(group)).fold(0)(_.intValue))
  }

  test("flagship entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query/oracle key pair is consistent") {
    val qs = SparkEntry.queries.keySet
    val orphans = SparkEntry.oracleSql.keySet.diff(qs)
    assert(orphans.isEmpty, s"oracleSql without queries entry: $orphans")
  }

  test("eagerBuild declares only registered queries") {
    val unknown = eagerBuild.diff(SparkEntry.queries.keySet)
    assert(unknown.isEmpty, s"eagerBuild names unknown queries: $unknown")
  }

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"$name executes at sf0.001") {
      val (df, jobs) = build(name, fn)
      if (eagerBuild(name))
        assert(jobs > 0, s"$name is declared in eagerBuild, but building " +
          "it ran no Spark job — remove it from the set")
      else
        assert(jobs == 0, s"building $name ran $jobs Spark job(s); " +
          "declare it in eagerBuild or defer the work to execution")
      val n = df.count()
      assert(n >= 0)
    }
  }
}
