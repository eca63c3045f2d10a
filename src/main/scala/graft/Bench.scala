package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Driver-run benchmark: headline analytical queries at the given scale
  * factor plus the streaming-ingest reliability replay (BASELINE.md):
  *
  *  - each headline query is forced end-to-end through the noop sink
  *    (count() would let Catalyst drop sorts/projections)
  *  - `ingest_replay_5m`: 5,000,000 sequential records through the
  *    graft-kinesis DSv2 source across 8 shards with per-micro-batch
  *    contiguity assertions (the reference's pit-stop, zero loss / zero
  *    duplication — it/SimpleKinesisConsumer.scala:99-121,168-205)
  *  - `rate_ingest_5m_eps`: resulting events/sec (BASELINE target:
  *    >= 20,000 sustained, >= 1,000 per shard)
  *
  * Gates each entry's task CPU and critical-path CPU against
  * CPU_BUDGET.json and its shuffle against SHUFFLE_BUDGET.json; wall
  * time is reported, not gated. Prints the per-entry detail line, then
  * ONE short summary line (totals and gate verdicts) last.
  */
object Bench {

  private[graft] val headline = Seq(
    "q01_pricing_summary", "q03_join_broadcast_agg", "q04_topk_revenue",
    "q09_count_distinct", "q13_window_topk_per_group", "q26_asof_join",
    "q40_tumbling_window", "q42_session_window", "q43_dedup_keep_first",
    "q44_stateful_sessionization", "q45_contiguous_ack_watermark",
    "q37_higher_order_fns", "q47_interval_join", "q48_set_ops_all",
    "q50_exact_percentiles", "q52_quantile_sketch", "q53_variant_shred",
    "q55_bucketed_colocated_join", "q56_time_range_window",
    "q57_dpp_partitioned_join",
    "d01_dedup_exact", "d03_ngram_jaccard_pairs", "d04_minhash_lsh_dedup",
    "d08_decontamination", "d09_neardup_against", "t10_source_filter",
    "d06_embedding_neardup", "e01_cosine_pairs", "e03_ann_ivf",
    "e04_ann_topk_partial", "e05_lsh_cosine_pairs", "e06_ann_ivf_nprobe",
    "t02_quality_score", "t05_char_ngram_profile", "t07_sequence_packing",
    "t09_fuzzy_blocked_pairs", "t11_repetition_filter", "t12_doc_chunking",
    "t13_vocab_coverage", "t15_leakage_safe_split", "t16_unigram_quality",
    "t17_boilerplate_chunks",
    "q60_gapfill_locf", "q61_funnel_steps", "q62_cdc_compact",
    "q64_incremental_agg", "q65_cohort_retention",
    "m01_multimodal_decode", "m05_multimodal_header",
    "m07_multimodal_phash_neardup", "m08_media_shard_manifest",
    "m09_repeated_frames", "t18_token_budget",
    "e09_ann_ivf_sq8",
    "d11_boilerplate_strip", "q66_trailing_distinct_users",
    "e10_semantic_dedup", "q67_bloom_semi_join",
    "q68_time_weighted_avg", "q69_histogram",
    "t19_source_novelty", "q70_cooccurrence_pairs",
    "q71_transition_matrix", "e11_knn_label_accuracy",
    "m10_media_neardup_components", "q72_rfm_segmentation",
    "t20_source_overlap", "e12_semantic_dedup_against",
    "q73_weighted_median", "q74_grouped_mode", "e13_ann_ivf_pq",
    "e14_pq_recall", "q75_growth_accounting",
    "d12_passage_dedup_keep_first", "d13_canonical_keep_longest",
    "e15_kmeans_refine", "q76_key_skew_profile", "q77_zorder_layout",
    "q78_snapshot_diff", "q79_scd2_history", "q80_column_profile",
    "e16_embedding_drift", "q81_funnel_timing", "q82_top_paths",
    "t21_bigram_quality", "d14_containment_pairs",
    "q83_point_in_time_state",
    "q84_market_basket", "q85_robust_anomaly", "q86_decile_gain",
    "q87_last_touch_attribution", "d15_repeated_spans",
    "t22_zipf_slope", "e17_cell_silhouette",
    "m11_phash_recall", "q88_wow_trend", "t23_term_entropy",
    "q89_abc_pareto", "q90_order_aging", "q91_interpurchase",
    "t24_corpus_shards", "t25_lexical_diversity", "e18_cell_balance",
    "d16_cluster_size_histogram", "e19_pq_distortion",
    "q92_dow_seasonality", "q93_trade_matrix", "t26_length_histogram",
    "d17_dup_source_matrix", "q94_order_size_histogram",
    "m12_codec_size_profile", "e20_nn_distance_profile",
    "e21_lsh_recall", "q95_activity_heatmap",
    "t27_bigram_lift", "t28_term_burstiness", "e22_range_search",
    "m13_resolution_profile", "q96_fk_integrity_audit",
    "q97_fulfillment_lag", "d18_minhash_band_tuning",
    "d19_shingle_df_profile", "t29_coverage_curve",
    "t30_pii_profile", "t31_pii_redaction", "d20_winnow_profile",
    "d21_winnow_pairs", "q98_cohort_ltv", "q99_benford_profile",
    "q100_hhi_concentration", "m14_scene_cuts", "e23_mmr_rerank",
    "q101_debounce_compress", "d22_method_agreement",
    "t32_langid_confusion", "e24_ivf_k_sweep",
    "d23_minhash_error_profile", "d24_pipeline_funnel",
    "t33_mixture_resample", "q102_discount_effectiveness",
    "q103_chisq_association", "q104_ewma_revenue",
    "q105_copurchase_pagerank", "d25_contamination_score",
    "d26_dup_inflation", "e25_cell_medoid", "q106_error_bursts",
    "d27_source_minhash_jaccard", "q107_triangle_count",
    "q108_seasonal_anomaly", "q109_revenue_share", "t34_readability",
    "e26_filtered_ann", "q110_distribution_windows",
    "q111_order_shape_corr", "q112_price_volume_mix",
    "q113_supplier_skyline", "d28_simhash_radius_sweep",
    "q114_hll_distinct", "q115_order_backlog_curve",
    "q116_linear_attribution", "q117_lag_percentile_trend",
    "q118_return_rate_outliers", "e27_dim_profile", "m15_clip_reuse",
    "e28_ood_screen", "q119_fd_profile", "q120_linear_interpolation",
    "t35_dedup_mixture_shift", "q121_abc_migration", "m16_shard_balance",
    "d29_shingle_width_profile", "e29_probe_cost", "q123_native_asof",
    "q124_hll_weekly_union", "q122_time_decay_attribution",
    "q125_khop_reachability", "q126_hll_agg", "q127_cusum_drift",
    "t36_ks_drift", "q128_sequence_pattern", "q129_cms_frequency",
    "q130_copurchase_distance", "q131_theil_sen_trend",
    "q132_kmv_intersection", "q133_survival_km", "q134_mannwhitney_u",
    "q135_spearman_corr", "q136_bitmap_distinct", "q137_trimmed_mean",
    "q138_gini_lorenz", "t37_bpe_merges",
    "q139_kruskal_wallis", "q140_anova_oneway",
    "q141_kendall_tau", "t38_good_turing",
    "q142_wilson_ranking", "q143_simpson_reversal",
    "q144_cohens_kappa", "q145_quantile_coverage",
    "q146_cmh_test", "q147_jonckheere_trend", "t39_bpe_encode",
    "q148_friedman_concordance", "q149_raking_weights", "q150_moment_profile", "q151_median_ci",
    "q152_sign_test", "q153_bowley_skew", "q154_mad_profile", "q155_theil_sen",
    "q156_acf_ljung_box", "q157_benford_screen", "q158_jsd_brand_mix",
    "q159_pettitt_changepoint", "q160_runs_test", "q161_sketch_error_profile",
    "q162_mann_kendall", "t40_pps_sample", "q163_dunn_posthoc",
    "q164_poisson_bootstrap", "q165_brown_forsythe", "q166_welch_anova",
    "q167_bh_fdr", "q168_page_trend", "q169_capture_recapture",
    "q170_bootstrap_median_ci",
    "q171_roc_auc", "q172_mcnemar_screens", "q173_cochran_q",
    "q174_logrank", "q175_nelson_aalen", "t41_pr_threshold_sweep",
    "q176_forecast_backtest", "q177_diebold_mariano",
    "q178_wilcoxon_signed_rank", "q179_siegel_slope",
    "q180_calibration_oos", "t42_yule_k", "q181_isotonic_calibration",
    "q182_hosmer_lemeshow", "q183_multiple_regression",
    "q184_brunner_munzel", "q185_cramer_von_mises",
    "q186_effect_sizes", "q187_overdispersion",
    "q188_walkforward_ols",
    "t43_stratified_split", "m17_dedup_savings", "q189_holt_winters",
    "q190_croston", "q191_seasonal_strength", "d30_threshold_sensitivity",
    "q192_chow_test", "q193_durbin_watson", "q194_partial_corr",
    "q195_influence", "q196_item_cf_recommend", "q197_link_prediction",
    "m18_aspect_bucket_pack", "t44_bigram_cross_entropy",
    "e30_jl_projection_audit", "q198_supf_break", "t45_chao1_vocab",
    "t46_temperature_mixture", "q199_hac_se",
    "t47_packing_sweep", "m19_band_tuning", "t48_vocab_sweep",
    "q200_granger_causality", "t49_kneser_ney_bigram",
    "q201_engle_granger", "e31_pq_codebook_refine",
    "m20_sampler_coverage", "q202_page_hinkley", "t50_entropy_rate",
    "e32_residual_quantization", "e33_matryoshka_recall",
    "e34_ann_binary_sign", "m21_voice_activity_segments")

  /** Per-task counters of one measured run: shuffle/spill bytes (the
    * scale evidence — a plan that shuffles the fact table or spills
    * would show here) and the scheduler/CPU columns of the detail file.
    * Task CPU is thread CPU time, which host contention barely moves
    * (a descheduled thread accrues none), so the regression gate reads
    * it instead of wall time. The critical path — each stage's largest
    * task CPU, summed over stages — keeps lost parallelism visible: a
    * fan-out collapsed into one task leaves total CPU flat but grows
    * its longest task. */
  private[graft] final class MetricsListener extends SparkListener {
    val shuffleRead = new AtomicLong
    val shuffleWrite = new AtomicLong
    val spilled = new AtomicLong
    val jobs = new AtomicLong
    val tasks = new AtomicLong
    val taskRunMs = new AtomicLong
    val taskCpuNs = new AtomicLong
    private val stageMaxCpuNs = scala.collection.mutable.Map.empty[Int, Long]
    override def onJobStart(j: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet(); ()
    }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val m = t.taskMetrics
      if (m != null) {
        shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spilled.addAndGet(m.diskBytesSpilled)
        tasks.incrementAndGet()
        taskRunMs.addAndGet(m.executorRunTime)
        taskCpuNs.addAndGet(m.executorCpuTime)
        stageMaxCpuNs.synchronized {
          stageMaxCpuNs(t.stageId) =
            math.max(stageMaxCpuNs.getOrElse(t.stageId, 0L), m.executorCpuTime)
        }
        ()
      }
    }
    private def stages: Int = stageMaxCpuNs.synchronized(stageMaxCpuNs.size)
    private def criticalCpuNs: Long = stageMaxCpuNs.synchronized(stageMaxCpuNs.values.sum)
    def reset(): Unit = {
      Seq(shuffleRead, shuffleWrite, spilled, jobs, tasks, taskRunMs, taskCpuNs)
        .foreach(_.set(0))
      stageMaxCpuNs.synchronized(stageMaxCpuNs.clear())
    }
    /** The detail file's layer columns for the run since [[reset]]. */
    def layer(buildS: Double, execS: Double, cores: Int): Layer =
      Layer(buildS, execS, jobs.get, stages, tasks.get, taskRunMs.get / 1e3,
        taskCpuNs.get / 1e9, criticalCpuNs / 1e9, cores)
  }

  /** One entry's measured run, split by layer: DataFrame construction
    * (eager cuts run jobs here), the write, and the scheduler counters
    * of both. Idle is the run's wall minus the task time the cores
    * could have overlapped — launch, planning and driver-side work. */
  private[graft] final case class Layer(buildS: Double, execS: Double,
      jobs: Long, stages: Long, tasks: Long, taskRunS: Double,
      taskCpuS: Double, criticalCpuS: Double, cores: Int) {
    def idleS: Double = buildS + execS - taskRunS / cores
    def columns: Seq[(String, Double)] = Seq("build_s" -> buildS,
      "exec_s" -> execS, "jobs" -> jobs.toDouble, "stages" -> stages.toDouble,
      "tasks" -> tasks.toDouble, "task_run_s" -> taskRunS,
      "task_cpu_s" -> taskCpuS, "critical_cpu_s" -> criticalCpuS,
      "idle_s" -> idleS)
  }

  /** Gate predicate, factored out so TimeBudgetGateSpec can prove the
    * calibration catches real slowdowns (>= 2x on a >= 2 s entry) while
    * tolerating sub-second jitter on small entries. Returns the
    * entries whose measured value exceeds budget. */
  private[graft] def overBudget(results: scala.collection.Map[String, Double],
      budget: Map[String, Double]): scala.collection.Map[String, Double] =
    results.collect {
      case (q, sec) if budget.get(q).exists(sec > _) => q -> sec
    }

  /** The budget formula (shared with tools/budgets.py): additive floor
    * for noise-dominated small entries, ratio bound for real ones. */
  private[graft] def budgetFor(promotedSec: Double): Double =
    math.max(1.5 * promotedSec, promotedSec + 0.5)

  /** The gated counters of each entry, keyed as in CPU_BUDGET.json:
    * task CPU, critical-path CPU, and the job count, which catches work
    * moved to the driver as extra jobs (an eager collect per group). */
  private[graft] def cpuCounters(
      layers: scala.collection.Map[String, Layer]): Map[String, Double] =
    layers.iterator.flatMap { case (q, l) =>
      Seq(s"$q.task_cpu_s" -> l.taskCpuS, s"$q.critical_cpu_s" -> l.criticalCpuS,
        s"$q.jobs" -> l.jobs.toDouble)
    }.toMap

  /** The CPU gate: counters over budget, plus `_cpus` when the run's
    * cores differ from the budget's — the core count sets the partition
    * count, so counters of unlike runs are not compared. */
  private[graft] def cpuViolations(layers: scala.collection.Map[String, Layer],
      budget: Map[String, Double], cpus: Int): Map[String, Double] =
    overBudget(cpuCounters(layers), budget).toMap ++
      budget.get("_cpus").filter(_ != cpus.toDouble).map(_ => "_cpus" -> cpus.toDouble)

  /** A flat {"name": number, ...} budget file (no JSON library on the
    * classpath); a missing or unreadable file gates nothing. */
  private def readBudget(path: String): Map[String, Double] =
    try {
      val p = Paths.get(path)
      if (!Files.exists(p)) Map.empty
      else """"([^"]+)"\s*:\s*([0-9.eE+-]+)""".r
        .findAllMatchIn(new String(Files.readAllBytes(p), UTF_8))
        .map(m => m.group(1) -> m.group(2).toDouble).toMap
    } catch { case e: Exception =>
      System.err.println(s"[bench] $path read: $e"); Map.empty }

  /** One stderr line listing the entries over `budget`, if any. */
  private def report(label: String, over: scala.collection.Map[String, Double],
      budget: Map[String, Double]): Unit =
    if (over.nonEmpty) System.err.println(s"[bench] $label: " +
      over.toSeq.sortBy(_._1).map { case (k, v) =>
        f"$k=$v%.2f(budget ${budget(k)}%.2f)" }.mkString(", "))

  private def jmap(m: Iterable[(String, Double)], decimals: Int): String =
    m.map { case (k, v) =>
      val num = String.format(java.util.Locale.ROOT, s"%.${decimals}f",
        Double.box(v)) // locale-proof: decimal POINT regardless of LANG
      s""""$k":$num"""
    }.mkString("{", ",", "}")

  private def j3(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  /** Wall seconds only (rate/flag pseudo-entries excluded). */
  private def wallTotal(results: scala.collection.Map[String, Double]): Double =
    results.collect {
      case (k, v) if !k.startsWith("rate_") && !k.startsWith("ingest_integrity") => v
    }.sum

  /** The LAST stdout line: totals and gate verdicts only, so a reader
    * that keeps just the last ~2 KB of stdout can parse it whatever the
    * roster size. The per-entry maps live in the detail line and file. */
  private[graft] def summaryLine(results: scala.collection.Map[String, Double],
      layers: scala.collection.Map[String, Layer], shuffleMbTotal: Double,
      spillMbTotal: Double, shuffleOk: Boolean, cpuOk: Boolean,
      sfDir: String): String =
    s"""{"metric":"total","value":${j3(wallTotal(results))},"unit":"sec",""" +
      s""""entries":${layers.size},""" +
      s""""task_cpu_s_total":${j3(layers.values.map(_.taskCpuS).sum)},""" +
      s""""critical_cpu_s_total":${j3(layers.values.map(_.criticalCpuS).sum)},""" +
      s""""shuffle_mb_total":${j3(shuffleMbTotal)},""" +
      s""""spill_mb_total":${j3(spillMbTotal)},""" +
      s""""shuffle_budget_ok":${if (shuffleOk) 1 else 0},""" +
      s""""cpu_budget_ok":${if (cpuOk) 1 else 0},""" +
      s""""ingest_integrity_ok":${j3(results.collect {
        case (k, v) if k.startsWith("ingest_integrity") => v }.minOption.getOrElse(1.0))},""" +
      s""""sf":"$sfDir"}"""

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-bench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // session warmup so the first measured query doesn't pay JVM/codegen init
    spark.range(1000000).selectExpr("sum(id)").collect()
    Tables.lineitem(spark, sfDir).limit(1).collect()

    def time[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }

    val results = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val shuffleMb = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val spillMb = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val layers = scala.collection.mutable.LinkedHashMap.empty[String, Layer]
    val listener = new MetricsListener
    spark.sparkContext.addSparkListener(listener)
    // Materialize cuts leave localCheckpoint blocks in the BlockManager
    // until their RDD object is GC'd — with a 128 GiB heap GC is rare,
    // so across 180 queries × 3 runs the blocks accumulate into
    // storage-memory pressure that inflates LATE queries several-fold
    // (measured: e10 2.5 s fresh vs 17.4 s at position ~170 of a run
    // without this release). Deterministic release between runs keeps
    // every query's storage state identical to a fresh session.
    // The explicit GC matters as much as the unpersist: ContextCleaner
    // frees BROADCAST blocks and shuffle metadata via GC'd weak refs
    // (periodicGC defaults to 30 min), and a 128 GiB heap may never GC
    // across a 180-query bench — hundreds of broadcast-join blocks
    // accumulate in storage memory and late queries degrade 2-4x.
    def release(): Unit = {
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      System.gc()
    }
    // the listener bus is asynchronous: let the previous run's task-end
    // events drain before a reset, and this run's before a read
    def settle(): Unit = Thread.sleep(100)
    // SPARK_GRAFT_BENCH_ONLY=q01,q02 restricts to a prefix-matched subset
    // (iteration aid); the driver's full run leaves it unset.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    val selected = only match {
      case Some(pre) => headline.filter(h => pre.exists(h.startsWith))
      case None => headline
    }
    selected.filter(SparkEntry.queries.contains).foreach { name =>
      val fn = SparkEntry.queries(name)
      def run(): Unit =
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      run() // warm run (IO cache, codegen)
      release()
      // wall is the min of two measured runs: JIT/GC noise can inflate a
      // single sample several-fold (64-agg minhash); the counters are
      // run 2's
      val (_, t1) = time(run())
      release()
      settle()
      listener.reset()
      val (df, build) = time(fn(spark, sfDir))
      val (_, exec) = time(df.write.format("noop").mode("overwrite").save())
      results(name) = math.min(t1, build + exec)
      settle()
      shuffleMb(name) =
        (listener.shuffleRead.get + listener.shuffleWrite.get) / 1048576.0
      spillMb(name) = listener.spilled.get / 1048576.0
      layers(name) = listener.layer(build, exec, cpus.toInt)
      release()
    }
    // replays: counters keyed by the wall entry; setup outside the
    // replay's own timer (seeding) counts as build
    def replay(entries: => Seq[(String, Double)]): Unit = {
      settle()
      listener.reset()
      val (es, wall) = time(entries)
      settle()
      results ++= es
      layers(es.head._1) = listener.layer(wall - es.head._2, es.head._2, cpus.toInt)
    }
    replay(ingestReplay(spark))
    replay(wireIngestReplay(spark))
    replay(eventsReplay(spark, sfDir))
    replay(harnessReplay(spark))

    // Shuffle-budget gate (100×-scale guard): per-query run-2 shuffle
    // compared against the committed budget; >budget means a plan
    // regression the sf0.1 wall clock may not show.
    val budget = readBudget(sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_BUDGET",
      "SHUFFLE_BUDGET.json"))
    val shuffleViolations = overBudget(shuffleMb, budget)
    report("SHUFFLE BUDGET EXCEEDED (MB)", shuffleViolations, budget)

    // CPU regression gate: every headline entry and replay, task CPU,
    // critical-path CPU and jobs against budgetFor(base) as cut by
    // tools/budgets.py
    val cpuBudget = readBudget(sys.env.getOrElse("SPARK_GRAFT_CPU_BUDGET",
      "CPU_BUDGET.json"))
    val cpuOver = cpuViolations(layers, cpuBudget, cpus.toInt)
    report("CPU BUDGET EXCEEDED", cpuOver, cpuBudget)

    // Wall time is reported against TIME_BUDGET.json but never gates:
    // it moves with host contention, which the CPU counters do not.
    val timeBudget = readBudget("TIME_BUDGET.json")
    val wallOver = overBudget(results, timeBudget)
    report("wall time over TIME_BUDGET.json (s; reported, not gated)",
      wallOver, timeBudget)

    // Full per-entry detail: separate stdout line + per-run timestamped
    // file; the summary line follows it. BENCH_DETAIL.json is only
    // written when explicitly promoting (SPARK_GRAFT_BENCH_PROMOTE=1).
    val host = try java.net.InetAddress.getLocalHost.getHostName
      catch { case _: Exception => "unknown" }
    val detail = s"""{"metric":"total","value":${j3(wallTotal(results))},"unit":"sec",""" +
      s""""queries":${jmap(results, 6)},""" +
      s""""shuffle_mb":${jmap(shuffleMb, 6)},"spill_mb":${jmap(spillMb, 6)},""" +
      s""""layers":${layers.map { case (q, l) =>
        s""""$q":${jmap(l.columns, 6)}"""
      }.mkString("{", ",", "}")},""" +
      s""""shuffle_budget_violations":${jmap(shuffleViolations, 3)},""" +
      s""""cpu_budget_violations":${jmap(cpuOver, 3)},""" +
      s""""wall_over_time_budget":${jmap(wallOver, 3)},""" +
      s""""cpus":$cpus,"host":"$host",""" +
      s""""note":"queries are the min of 2 measured runs; layers, shuffle and spill are from the 2nd",""" +
      s""""sf":"$sfDir"}"""
    println(detail)
    val runId = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNID",
      java.time.format.DateTimeFormatter.ofPattern("yyyyMMdd-HHmmss")
        .withZone(java.time.ZoneOffset.UTC)
        .format(java.time.Instant.now()) + "-" + ProcessHandle.current().pid())
    try {
      val bytes = (detail + "\n").getBytes(UTF_8)
      Files.write(Files.createDirectories(Paths.get("bench_runs"))
        .resolve(s"BENCH_DETAIL.$runId.json"), bytes)
      if (sys.env.get("SPARK_GRAFT_BENCH_PROMOTE").contains("1"))
        Files.write(Paths.get("BENCH_DETAIL.json"), bytes)
    } catch { case e: Exception =>
      System.err.println(s"[bench] detail write: $e") }
    println(summaryLine(results, layers, shuffleMb.values.sum,
      spillMb.values.sum, shuffleViolations.isEmpty, cpuOver.isEmpty, sfDir))
    spark.stop()
  }

  /** Drains `stream` through `onBatch` until no input is left;
    * returns the wall seconds. */
  private def drain(stream: org.apache.spark.sql.DataFrame)(
      onBatch: org.apache.spark.sql.DataFrame => Unit): Double = {
    val tmp = Files.createTempDirectory("graft-bench").toString
    val t0 = System.nanoTime()
    val q = stream.writeStream
      .option("checkpointLocation", s"$tmp/chk")
      .foreachBatch((df: org.apache.spark.sql.DataFrame, _: Long) => onBatch(df))
      .start()
    q.processAllAvailable()
    q.stop()
    (System.nanoTime() - t0) / 1e9
  }

  /** Zero-loss/zero-dup replay of `nShards` x `perShard` generated
    * records through the graft-kinesis source configured by `opts`,
    * with the reference's per-batch pit-stop: each shard's batch must
    * continue exactly where its previous batch stopped. Returns the
    * wall/rate/integrity entries named `names`. */
  private def contiguousReplay(spark: SparkSession, nShards: Int,
      perShard: Long, opts: Map[String, String],
      names: Seq[String]): Seq[(String, Double)] = {
    val lastSeq = scala.collection.mutable.Map.empty[String, Long]
    var total = 0L
    var violations = 0L
    val sec = drain(spark.readStream.format("graft-kinesis").options(opts)
      .load().selectExpr("shardId", "CAST(seqNo AS LONG) AS seq")) { df =>
      // per-shard min/max/count of this batch: tiny aggregate, the
      // contiguity math runs on the driver over shard summaries only
      df.groupBy("shardId").agg(count(lit(1)), min("seq"), max("seq"))
        .collect().foreach { r =>
          val (shard, n, lo, hi) =
            (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))
          // contiguous iff batch covers exactly (prev, hi] with no holes
          if (lo != lastSeq.getOrElse(shard, 0L) + 1 || hi - lo + 1 != n)
            violations += 1
          lastSeq(shard) = hi
          total += n
        }
    }
    val expected = nShards * perShard
    val ok = total == expected && violations == 0 &&
      lastSeq.values.forall(_ == perShard)
    if (!ok) System.err.println(
      s"[bench] ${names.head} INTEGRITY FAILURE: total=$total " +
        s"expected=$expected violations=$violations lastSeq=$lastSeq")
    // BASELINE.md floor: >= 1,000 events/s per shard worker
    names.zip(Seq(sec, expected / sec, expected / sec / nShards,
      if (ok) 1.0 else 0.0))
  }

  /** 5M records through the DSv2 source from the in-memory service. */
  private def ingestReplay(spark: SparkSession): Seq[(String, Double)] = {
    import graft.sources.{GeneratorShardService, ShardServiceRegistry}
    val svcId = ShardServiceRegistry.register(
      new GeneratorShardService("bench", 8, 625000L))
    contiguousReplay(spark, 8, 625000L,
      Map("service.id" -> svcId, "max-records-per-shard" -> "100000"),
      Seq("ingest_replay_5m", "rate_ingest_5m_eps",
        "rate_ingest_per_shard_eps", "ingest_integrity_ok"))
  }

  /** The same zero-loss/zero-dup replay through the DEPLOYMENT-shaped
    * path (round-9 verdict item 7): `.option("endpoint", ...)` against
    * the in-process Kinesis-shaped HTTP stub, so every record pays the
    * real JSON + base64 + socket serialization tax plus SigV4-less
    * header handling — the wire overhead the in-memory `service.id`
    * replay skips. 1M records (vs the in-memory 5M): the number of
    * interest is the per-record wire tax, not a longer soak of it.
    *
    * NO per-trigger cap: over the wire, a record cap makes the driver
    * pre-read each shard's batch through GetRecords just to compute the
    * end offset (positionAfter has no data-free form in the Kinesis
    * protocol) — executors would then read the same range again.
    * Uncapped, the end offset is one LATEST iterator call and executors
    * do the only data pass; the per-GetRecords page stays bounded at
    * 10000 wire records regardless.
    */
  private def wireIngestReplay(spark: SparkSession): Seq[(String, Double)] = {
    import graft.sources.GeneratorShardService
    import graft.transport.KinesisWireStub
    // request logging off: the log would pin every 10k-record page's
    // parsed JSON in heap for the whole replay
    val stub = new KinesisWireStub(
      new GeneratorShardService("wirebench", 8, 125000L), logRequests = false)
    try contiguousReplay(spark, 8, 125000L,
      Map("endpoint" -> stub.endpoint, "stream-name" -> "wirebench"),
      Seq("ingest_wire_replay_1m", "rate_wire_ingest_eps",
        "rate_wire_ingest_per_shard_eps", "ingest_integrity_wire_ok"))
    finally stub.stop()
  }

  /** BASELINE.md reliability replay on real data: the `events` table
    * sharded by user across 8 shards, streamed through the DSv2 source
    * end-to-end (envelope rows, JSON payloads). */
  private def eventsReplay(spark: SparkSession,
      sfDir: String): Seq[(String, Double)] = {
    import graft.sources.{InMemoryShardService, RawShardRecord, ShardServiceRegistry}
    val nShards = 8
    val svc = new InMemoryShardService("events-replay",
      (0 until nShards).map(i => s"shard-$i"))
    // driver-side seed of the replay stream (bounded: |events| rows)
    val rows = Tables.events(spark, sfDir)
      .selectExpr("event_id", "user_id", "props", "unix_micros(CAST(ts AS TIMESTAMP)) AS us")
      .collect()
    rows.sortBy(_.getLong(0)).foreach { r =>
      svc.append(s"shard-${(r.getLong(1) % nShards).toInt}",
        RawShardRecord.single(r.getLong(1).toString, BigInt(r.getLong(0)),
          r.getLong(3), r.getString(2).getBytes(UTF_8)))
    }
    val svcId = ShardServiceRegistry.register(svc)
    var seen = 0L
    val sec = drain(spark.readStream.format("graft-kinesis")
      .option("service.id", svcId)
      .option("max-records-per-shard", "10000")
      .load()
      .selectExpr("shardId", "CAST(data AS STRING) AS payload"))(seen += _.count())
    if (seen != rows.length) System.err.println(
      s"[bench] EVENTS REPLAY MISMATCH: seen=$seen expected=${rows.length}")
    Seq("ingest_events_replay" -> sec, "rate_events_replay_eps" -> seen / sec)
  }

  /** Commit-harness overhead at scale: 1M records through
    * processBatch (per-record attempt tracking + localCheckpoint +
    * tolerance accounting — the reference's ConsumerWorker semantics). */
  private def harnessReplay(spark: SparkSession): Seq[(String, Double)] = {
    import graft.config.ConsumerConf
    import graft.streaming.CommitHarness
    import spark.implicits._
    val n = 1000000L
    val batch = spark.range(n).map(i => s"payload-$i")
    val conf = ConsumerConf("bench", "bench", failedMessageRetries = 1,
      failureTolerancePercentage = 0.25)
    val t0 = System.nanoTime()
    val (_, stats) = CommitHarness.processBatch[String](
      batch, s => s.nonEmpty, conf)
    val sec = (System.nanoTime() - t0) / 1e9
    if (stats.succeeded != n) System.err.println(
      s"[bench] HARNESS MISMATCH: ${stats.succeeded} != $n")
    Seq("harness_replay_1m" -> sec, "rate_harness_1m_eps" -> n / sec)
  }
}
