package graftbench

/** Each registered query tagged with the one module that does its work.
  * These names are the batch layers the traced run reports.
  */
object Layers {
  val table: Map[String, String] = Seq(
    "ext.TextDedup" -> Seq(
      "chunk_cdc", "corpus_dup_profile", "corpus_overlap_matrix",
      "dedup_cluster", "dedup_containment", "dedup_editdist", "dedup_exact",
      "dedup_incremental", "dedup_incremental_fixed", "dedup_jaccard",
      "dedup_minhash_err", "dedup_minhash_lsh", "dedup_recall",
      "dedup_segments", "dedup_simhash", "dedup_substring",
      "dedup_substring_admit", "dedup_substring_runs", "dedup_survivors",
      "dedup_threshold_sweep", "dedup_winnow", "pipeline_curate",
      "pipeline_filter", "text_simhash"),
    "ext.Similarity" -> Seq(
      "ann_binary_topk", "ann_compression_recall", "ann_cosine_topk",
      "ann_external_binary", "ann_external_ivf", "ann_external_matryoshka",
      "ann_external_recall", "ann_external_topk", "ann_int8_topk",
      "ann_ivf_indexed", "ann_ivf_stats", "ann_ivf_topk", "ann_lsh_topk",
      "ann_matryoshka_topk", "ann_mrr", "ann_nprobe_sweep", "ann_recall",
      "cluster_semantic", "dedup_embedding", "dedup_embedding_lsh",
      "dedup_semantic", "emb_class_sep", "emb_norm_stats", "emb_project",
      "emb_quantize", "hybrid_rerank", "knn_graph", "mine_bitext",
      "mine_bitext_ivf", "mine_hard_negatives", "mine_hard_negatives_ivf",
      "sample_cluster_balanced", "semantic_threshold_sweep"),
    "ext.Pq" -> Seq(
      "ann_external_ivfpq", "ann_external_pq", "ann_ivfpq_topk",
      "ann_pq_indexed", "ann_pq_topk", "emb_pq_stats"),
    "ext.Rung" -> Seq(
      "ann_binary_indexed", "ann_cascade_sweep", "ann_cascade_topk",
      "ann_external_binary_indexed", "ann_external_cascade",
      "ann_external_int8_indexed", "ann_external_matryoshka_indexed",
      "ann_int8_indexed", "ann_matryoshka_indexed", "index_coverage",
      "rung_consistency"),
    "ext.TextAnalysis" -> Seq(
      "chunk_windows", "corpus_heaps", "corpus_stats", "corpus_zipf",
      "index_postings", "langid_confusion", "pipeline_quality",
      "quality_threshold_sweep", "source_scorecard", "text_bigram_lm",
      "text_clean", "text_collocations", "text_fingerprint",
      "text_gopher_rules", "text_keywords", "text_langid",
      "text_lm_buckets", "text_lm_buckets_approx", "text_quality",
      "text_relevance", "text_repetition", "text_repetition_mass",
      "text_unigram_lm", "text_unk_mask", "text_unk_mask_bigvocab",
      "text_vocab", "tokenizer_bpe_encode", "tokenizer_bpe_merges",
      "tokenizer_bpe_vocab", "tokenizer_merge_curve",
      "tokenizer_pair_counts"),
    "ext.Curation" -> Seq(
      "clean_boilerplate", "decontam_eval_report", "decontam_ngram",
      "decontam_semantic", "dsir_weights", "filter_agreement",
      "mixture_epochs", "mixture_temperature", "mixture_weights",
      "pack_greedy", "pii_redact", "pipeline_funnel", "pipeline_pretrain",
      "quota_cap", "quota_tokens", "sample_importance", "sample_priority",
      "sample_stratified", "snapshot_diff", "split_assign", "split_leakage"),
    "ext.Layout" -> Seq(
      "layout_curriculum", "layout_interleave", "layout_shuffle",
      "layout_zorder"),
    "ext.Forget" -> Seq(
      "ann_forget_exact", "ann_forget_topk", "dedup_forget_pairs",
      "forget_audit", "forget_docs_audit", "forget_sla",
      "gold_forget_flagship", "serve_forget_page"),
    "ext.Classifier" -> Seq(
      "text_clf_eval", "text_clf_pr_sweep", "text_clf_score",
      "text_clf_train"),
    "ext.Multimodal" -> Seq(
      "mm_features", "mm_frames", "mm_meta", "mm_phash", "mm_phash_pairs",
      "mm_resize"),
    "ops.Aggregate" -> Seq(
      "agg_groups", "agg_salted", "upsert_fold", "upsert_fold_alltime"),
    "ops.Analytics" -> Seq(
      "anomaly_daily", "clean_clip_drift", "clean_winsorize",
      "retention_cohorts"),
    "ops.AsOf" -> Seq(
      "join_asof", "join_asof_fwd", "join_asof_tol"),
    "ops.RangeJoin" -> Seq(
      "join_interval_overlap", "join_interval_overlap_capped",
      "join_overlap_auto", "join_range", "join_range_auto"),
    "ops.SkewJoin" -> Seq(
      "join_bloom_prune", "join_skew_salted"),
    "ops.Dedup" -> Seq(
      "antijoin_dedup", "gold_flagship", "latest_per_key"),
    "ops.Serve" -> Seq(
      "serve_analytics", "serve_analytics_keyset", "serve_health",
      "serve_keyset", "serve_page", "serve_topk"),
    "SparkEntry.sql" -> Seq(
      "agg_approx_distinct", "agg_approx_percentile", "agg_count_distinct",
      "agg_cube", "agg_grouping_sets", "agg_percentile_rollup",
      "agg_percentiles", "agg_pivot", "agg_rollup", "agg_session_window",
      "agg_sketch_rollup", "agg_sliding", "agg_tumbling", "audit_events",
      "count_rows", "distinct_buckets", "filter_notin", "filter_sqlexpr",
      "funnel_steps", "set_ops_buckets", "silver_projection", "tpch_q1",
      "tpch_q10", "tpch_q11", "tpch_q12", "tpch_q13", "tpch_q14",
      "tpch_q15", "tpch_q16", "tpch_q17", "tpch_q18", "tpch_q19", "tpch_q2",
      "tpch_q20", "tpch_q21", "tpch_q22", "tpch_q3", "tpch_q4", "tpch_q5",
      "tpch_q6", "tpch_q7", "tpch_q8", "tpch_q9", "window_dist",
      "window_rank", "window_sessionize")
  ).flatMap { case (l, qs) => qs.map(_ -> l) }.toMap

  val names: Seq[String] = table.values.toSeq.distinct.sorted

  def of(name: String): String = table.getOrElse(name,
    throw new NoSuchElementException(s"query '$name' has no layer tag"))
}
