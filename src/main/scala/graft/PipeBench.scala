package graft

/** Pipeline-operator benchmark: times registry queries (default: the
  * training-pipeline set) on SPARK_GRAFT_SF_DIR through the noop sink,
  * one JSON line out — the non-TPC-H counterpart of [[Bench]], used to
  * keep BENCH_SF1.md's pipeline table reproducible. One untimed warmup
  * per op absorbs JIT/codegen; the timed figure is a single steady-state
  * run (these ops run seconds-to-minutes at SF1, where run-to-run noise
  * is proportionally small — unlike the sub-second TPC-H medians).
  *
  * `SPARK_GRAFT_PIPE_ITERS=N` (default 1) times N samples per op after
  * the warmup and records the per-op MINIMUM — the capability estimate
  * under one-sided interference (a shared host steals cycles in bursts;
  * a burst can only inflate a sample, never deflate it). Recordings made
  * with N>1 say so alongside their loadavg bookends in BENCH_SF1.md.
  *
  * Before the timed loop, the ops named in `SPARK_GRAFT_PIPE_BURNIN`
  * (space-separated; default `corpus_stats`) run once untimed: the first
  * minutes of a fresh JVM execute while C2 is still compiling the Spark
  * stack, and without a burn-in whichever op happens to run first
  * absorbs that cost into its own cells (measured: the same op reads
  * 3–8× slower as op #1 than mid-list on an idle box). Set it empty to
  * reproduce the pre-round-15 protocol exactly. */
object PipeBench {
  private val DefaultOps = Seq(
    "text_decontaminate", "mix_temperature", "mm_frame_sample",
    "text_bpe_merges", "text_bpe_encode", "agg_approx_topk",
    "join_bucketed", "write_zorder",
    "tfidf_top_terms", "dedup_substring", "sim_quantized_topk",
    "event_rfm", "shuffle_epoch", "split_holdout", "corpus_stats",
    "graph_pagerank", "graph_bfs_depth", "graph_triangles", "text_entropy",
    "text_collocations", "event_outliers", "event_resample",
    "stat_chi_square", "event_winsorize", "bin_quantile", "sim_ann_ivf",
    "dedup_keep_canonical", "event_attribution", "sample_balanced",
    "shard_pack", "stat_ks_test", "stat_mann_whitney", "stat_psi",
    "stat_js_divergence", "stat_welch_t", "event_anomaly_mad",
    "event_rolling_corr", "event_seasonal", "event_cusum",
    "stat_gini", "vocab_coverage", "event_lag_features",
    "join_asof_nearest", "text_bigram_logprob", "text_readability",
    "text_ngram_novelty", "event_interarrival", "event_survival",
    "emb_outliers", "stat_spearman",
    "dedup_incremental", "join_interval_overlap", "event_ab_test",
    "text_gopher_rules", "text_containment", "corpus_zipf",
    "emb_silhouette", "stat_benford",
    "stat_mutual_info", "stat_cramers_v", "stat_kendall_tau",
    "stat_cohens_d", "stat_levene", "text_pii_redact", "emb_centroid_drift",
    "table_diff", "stat_bh_fdr", "emb_random_projection",
    "stat_anova", "stat_auc", "stat_theil_sen", "stat_bootstrap_ci",
    "curriculum_stages", "stat_ols2", "split_kfold", "event_peak_detect",
    "emb_triplet_mining", "stat_mcnemar",
    "graph_components", "emb_kmeans", "mix_importance_resample",
    "stat_calibration", "stat_partial_corr", "stat_qq",
    "event_user_entropy", "emb_covariance", "text_hapax",
    "emb_power_iteration", "audit_key_skew", "audit_shuffle_balance",
    "sample_reservoir", "text_winnow", "emb_ann_recall",
    "join_asof_forward", "event_sequence_ngrams", "emb_pq",
    "dedup_semantic", "text_classifier_score", "corpus_source_overlap",
    "stat_proportion_ci", "emb_pca_top2", "emb_matryoshka_recall",
    "text_distinctive_terms", "graph_label_prop", "emb_ood_mahalanobis",
    "privacy_k_anonymity", "event_forecast_ses", "privacy_dp_counts",
    "event_dau_mau", "text_burstiness", "stat_tukey_hsd",
    "event_funnel_time", "stat_ljung_box", "join_salted_skew", "event_bots_detect", "mm_chunk_manifest",
    "graph_jaccard_neighbors", "event_anomaly_esd", "event_concentration",
    "emb_intrinsic_dim", "stat_runs_test",
    "dedup_cdc_chunks", "privacy_l_diversity", "event_changepoint",
    "stat_jarque_bera", "scan_orc_roundtrip", "text_rake_keywords",
    "stat_hurst", "privacy_t_closeness", "stat_kruskal_wallis",
    "graph_clustering_coeff", "stat_dickey_fuller", "emb_isotropy",
    "text_mattr", "stat_friedman", "stat_cohens_kappa",
    "event_forecast_holt", "graph_degree_assortativity",
    "stat_cronbach_alpha", "event_entropy_rate", "text_heaps_fit",
    "stat_durbin_watson", "stat_breusch_pagan", "graph_modularity",
    "stat_wilcoxon_signed_rank", "event_poisson_dispersion",
    "stat_bartlett", "stat_granger_causality", "emb_ivf_recall")

  /** `SPARK_GRAFT_CPUS` cores (default 32), 32 shuffle partitions, AQE on. */
  def settings(env: Map[String, String]): GraftSession.Local =
    GraftSession.Local(GraftSession.cpus(env, 32), 32, aqe = true)

  def main(args: Array[String]): Unit = {
    val loadBefore = Bench.loadAvg()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local(settings(sys.env))
    val ops = if (args.nonEmpty) args.toSeq else DefaultOps
    def run(name: String): Double = {
      val t0 = System.nanoTime()
      // NonFatal only: a fatal error (OOM, stack overflow) must crash the
      // run rather than be recorded as a -1.0 cell (round-14 advice, the
      // same narrowing Bench carries).
      try SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[pipebench] $name failed: ${e.getMessage}")
        return -1.0
      }
      (System.nanoTime() - t0) / 1e9
    }
    val iters = sys.env.getOrElse("SPARK_GRAFT_PIPE_ITERS", "1").toInt
    sys.env.getOrElse("SPARK_GRAFT_PIPE_BURNIN", "corpus_stats")
      .split("\\s+").filter(_.nonEmpty).foreach(run)
    val timed = ops.map { n =>
      run(n) // untimed warmup
      val samples = Seq.fill(iters)(run(n))
      // min over samples unless any sample failed (-1.0 must surface)
      n -> (if (samples.contains(-1.0)) -1.0 else samples.min)
    }
    val qs = timed.map { case (k, s) => "\"" + k + "\":" + f"$s%.2f" }
      .mkString("{", ",", "}")
    val load = s"""{"before":$loadBefore,"after":${Bench.loadAvg()}}"""
    println(s"""{"metric":"pipeline","unit":"sec","queries":$qs,"load":$load,"sf":"$sfDir"}""")
    spark.stop()
  }
}
