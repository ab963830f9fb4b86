package graft

import org.apache.spark.sql.SparkSession

/** Prints formatted physical plans for representative queries so the
  * partitioning/pushdown/broadcast story can be audited by eye:
  * `sbt "runMain graft.PlanAudit [sfDir] [query ...]"`. Kept as a main
  * because it is the documented command behind README §Plan audit.
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.tail.toSeq
      else Seq("s1_scan_project", "p5_member_filter", "j3_join_chain",
        "o4_topk", "a4_keyed_sum", "n1_ann_brute", "d3_minhash_lsh",
        "e2_sessionize", "g2_induced_subgraph", "e10_range_join",
        "w2_analytics_window", "a12_quantiles", "d5_embedding_pairs",
        "d6_decontaminate", "t9_quality_gopher",
        // round-8 additions: derived-partsupp joins, seed-bounded wedge
        // join, sketch set-ops, exact-quantile shuffles, composed build
        "q9_product_profit", "q11_important_stock", "g11_link_prediction",
        "a20_theta_ops", "e21_mad_outliers", "p15_corpus_build",
        // round-8 third-session additions: prefix-filtered set-sim join,
        // broadcast sketch probe, walk frontier loop, builtin sessions
        "d16_jaccard_prefix", "a21_cms", "a21b_cms_portable",
        "g15_random_walks", "e23_session_window",
        // round-10/11 additions: biased walk + skip-gram emission (the
        // node2vec corpus pair), decoded-audio perceptual dedup, and the
        // skip-gram negative-sampling table
        "g16_biased_walks", "g17_walk_skipgrams", "m8_phash_audio",
        "g18_negative_sampling",
        // round-11 snapshot additions: NB language ID, CCNet perplexity
        // terciles, DSIR importance resampling, cross-doc boilerplate,
        // video-frame perceptual dedup
        "t20_nb_langid", "t21_ccnet_buckets", "p16_dsir_resample",
        "d17_ngram_boilerplate", "m9_phash_video_frames",
        // round-12 additions: PPMI matrix, leakage-safe split, SemDeDup,
        // span-dedup apply
        "g19_walk_pmi", "p17_leakage_safe_split", "d18b_semdedup_portable",
        "d19_span_dedup_apply", "d20_threshold_sweep", "g20_modularity",
        "t22_classifier_train", "t23_classifier_score", "g21_conductance",
        "n14_probe_sweep", "d21_lsh_band_sweep", "t24_classifier_calibration",
        "p18_temperature_sweep", "t25_ridge_sweep", "p19_classifier_release",
        "d22_minhash_estimate",
        // round-13 additions: release-gate threshold table, the composed
        // five-stage curation release, the span-length design table
        "t26_classifier_threshold", "p20_release_pipeline",
        "d23_span_length_sweep", "p21_release_funnel",
        "d24_simhash_radius_sweep")
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n=============== $n ===============")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
