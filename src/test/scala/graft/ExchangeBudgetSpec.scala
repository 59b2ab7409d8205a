package graft

import org.scalatest.funsuite.AnyFunSuite

/** Shuffle-count regression net across the whole declared surface: every
  * query's physical plan is budgeted to its current number of shuffle
  * exchanges and broadcast exchanges (counted at sf0.001 planning time via
  * [[SurfacePlans]]). A refactor that silently ADDS an exchange to any of
  * the 169 declared queries fails here by name — the per-query version of
  * the "minimize shuffles" doctrine the per-round scale audits check by
  * hand.
  *
  * The assertion is `<=`, not `==`: in a full-suite JVM, caches left by
  * other suites (and main's own deterministic persist sites) can only
  * REMOVE exchanges below a cached subtree, so equality would be
  * order-dependent while an upper bound is stable. When a plan genuinely
  * improves, tighten its budget here so the win is pinned too.
  *
  * Budgets regenerate mechanically: count `\bExchange\b` (shuffles;
  * `BroadcastExchange`/`ReusedExchange` are separate tokens that do not
  * match) and `\bBroadcastExchange\b` per plan in [[SurfacePlans.plans]].
  */
class ExchangeBudgetSpec extends AnyFunSuite {

  /** name -> (max shuffle exchanges, max broadcast exchanges). */
  private val budgets: Map[String, (Int, Int)] = Map(
    "ann_embeddings" -> (5, 1),
    "anomalies_events" -> (3, 0),
    "asof_orders_events" -> (2, 0),
    "benford_lineitem" -> (6, 1),
    "best_survivors_documents" -> (3, 2),
    "bigram_scores_documents" -> (3, 1),
    "blocklist_documents" -> (2, 0),
    "bm25_documents" -> (8, 2),
    "boilerplate_documents" -> (2, 0),
    "bucketed_join_orders" -> (2, 1),
    "cdc_snapshot_orders" -> (2, 0),
    "checks_orders" -> (3, 1),
    "chunks_documents" -> (2, 0),
    "cluster_sizes_documents" -> (3, 1),
    "cohorts_events" -> (5, 0),
    "composite_keys_lineitem" -> (12, 4),
    "consistency_orders" -> (3, 1),
    "contamination_bloom_documents" -> (4, 2),
    "contamination_capped_documents" -> (4, 5),
    "contamination_documents" -> (2, 3),
    "copurchase_lineitem" -> (2, 0),
    "corr_lineitem" -> (2, 0),
    "cosine_dups_embeddings" -> (4, 1),
    "cross_source_dups_documents" -> (6, 4),
    "csv_roundtrip_documents" -> (1, 0),
    "cube_documents" -> (3, 0),
    "cumulative_users_events" -> (3, 0),
    "curated_documents" -> (1, 3),
    "datasheet_documents" -> (14, 0),
    "deciles_customer" -> (3, 0),
    "decontaminated_documents" -> (6, 7),
    "dedup_clusters_documents" -> (1, 1),
    "dedup_exact_documents" -> (3, 0),
    "diff_documents" -> (3, 0),
    "dim_stats_embeddings" -> (4, 0),
    "drift_documents" -> (0, 0),
    "dsir_top_documents" -> (2, 1),
    "dsir_weights_documents" -> (3, 1),
    "dupgrams_documents" -> (4, 0),
    "dv_ddl_customer" -> (1, 0),
    "dv_hub_customer" -> (2, 0),
    "dv_link_lineitem" -> (2, 0),
    "dv_link_order_customer" -> (2, 0),
    "dv_pit_orders" -> (2, 1),
    "dv_sat_customer" -> (1, 0),
    "editdist_pairs_documents" -> (6, 2),
    "encoding_advice_customer" -> (3, 0),
    "ewma_events" -> (3, 1),
    "fd_candidates_orders" -> (19, 0),
    "fingerprint_documents" -> (2, 0),
    "fk_candidates" -> (1, 0),
    "freshness_events" -> (4, 1),
    "funnel_events" -> (1, 0),
    "gapfill_events" -> (4, 2),
    "gopher_quality_documents" -> (2, 0),
    "group_quantiles_lineitem" -> (1, 0),
    "hist_lineitem_price" -> (2, 0),
    "holdout_documents" -> (2, 0),
    "incremental_pairs_documents" -> (5, 1),
    "interarrival_events" -> (1, 0),
    "ivf_assign_embeddings" -> (2, 0),
    "ivf_centroids_embeddings" -> (1, 0),
    "ivf_recall_embeddings" -> (10, 2),
    "ivf_topk_embeddings" -> (4, 1),
    "ivfpq_topk_embeddings" -> (7, 3),
    "jaccard_capped_documents" -> (10, 2),
    "jaccard_pairs_documents" -> (10, 2),
    "join_size_lineitem" -> (6, 5),
    "jsonl_roundtrip_documents" -> (1, 0),
    "knn_embeddings" -> (4, 1),
    "kwic_documents" -> (2, 0),
    "lang_pivot_documents" -> (4, 0),
    "langid_documents" -> (2, 0),
    "length_ranks_documents" -> (1, 0),
    "lshbuckets_embeddings" -> (2, 0),
    "mad_lineitem" -> (1, 0),
    "masked_customer" -> (2, 0),
    "media_decode" -> (1, 0),
    "media_features_documents" -> (2, 0),
    "media_quarantine" -> (2, 0),
    "merged_stats_documents" -> (1, 0),
    "mg_vocab_documents" -> (1, 0),
    "minhash_pairs_documents" -> (4, 0),
    "minhash_recall_documents" -> (14, 2),
    "mix_plan_documents" -> (6, 2),
    "mixture_documents" -> (3, 0),
    "mixture_rollup_documents" -> (3, 0),
    "novelty_documents" -> (6, 2),
    "numstats_lineitem" -> (2, 0),
    "numstats_orders" -> (2, 0),
    "orc_roundtrip_documents" -> (1, 0),
    "outliers_embeddings" -> (1, 0),
    "packing_documents" -> (1, 0),
    "padding_documents" -> (3, 0),
    "pagerank_events" -> (1, 0),
    "pagerank_users" -> (30, 7),
    "partitioned_roundtrip_documents" -> (1, 0),
    "pq_codebooks_embeddings" -> (1, 0),
    "pq_codes_embeddings" -> (2, 0),
    "pq_topk_embeddings" -> (4, 1),
    "profile_customer" -> (1, 0),
    "profile_documents" -> (1, 0),
    "profile_embeddings" -> (1, 0),
    "profile_events" -> (1, 0),
    "profile_lineitem" -> (1, 0),
    "profile_nation" -> (1, 0),
    "profile_orders" -> (1, 0),
    "profile_part" -> (1, 0),
    "profile_region" -> (1, 0),
    "profile_supplier" -> (1, 0),
    "props_stats_events" -> (3, 0),
    "quality_documents" -> (2, 0),
    "quality_rank_documents" -> (3, 0),
    "quantiles_lineitem" -> (1, 0),
    "quota_documents" -> (3, 0),
    "range_bands_lineitem" -> (3, 1),
    "redacted_documents" -> (2, 0),
    "repetition_documents" -> (2, 0),
    "retention_events" -> (4, 0),
    "revenue_nation" -> (2, 1),
    "revenue_share_nation" -> (2, 1),
    "rolling_events" -> (4, 0),
    "rrf_hybrid_documents" -> (14, 3),
    "salt_overlap_documents" -> (2, 1),
    "sample_documents" -> (1, 0),
    "scd2_orders" -> (2, 0),
    "schema_merge_documents" -> (1, 0),
    "semantic_clusters_embeddings" -> (2, 1),
    "semantic_dups_embeddings" -> (3, 1),
    "semantic_survivors_embeddings" -> (3, 1),
    "sessions_events" -> (2, 0),
    "simhash_documents" -> (2, 0),
    "simhash_pairs_documents" -> (5, 0),
    "sketch_quantiles_lineitem" -> (1, 0),
    "skew_events" -> (3, 1),
    "skyline_part" -> (5, 1),
    "source_kl_documents" -> (4, 0),
    "spandedup_documents" -> (2, 2),
    "splits_documents" -> (3, 0),
    "stats_customer" -> (1, 0),
    "stats_lineitem" -> (1, 0),
    "stratified_sample_documents" -> (1, 0),
    "stream_anomalies_events" -> (1, 0),
    "stream_attribution_events" -> (1, 0),
    "stream_cdc_orders" -> (1, 0),
    "stream_events_hourly" -> (1, 0),
    "summary_customer" -> (1, 0),
    "summary_events" -> (1, 0),
    "summary_lineitem" -> (1, 0),
    "summary_pii_customer" -> (1, 0),
    "summary_pii_lineitem" -> (0, 0),
    "textstats_documents" -> (3, 0),
    "tfidf_keywords_documents" -> (9, 2),
    "theilsen_events" -> (4, 1),
    "tokencount_documents" -> (2, 0),
    "top_customers" -> (1, 0),
    "top_customers_nation" -> (3, 1),
    "topbigrams_documents" -> (2, 0),
    "toptokens_documents" -> (2, 0),
    "transitions_events" -> (3, 0),
    "trend_events" -> (3, 0),
    "triangles_lineitem" -> (1, 2),
    "trigrams_events" -> (2, 0),
    "unigram_scores_documents" -> (9, 3),
    "unpivot_lineitem" -> (2, 0),
    "vocab_coverage_documents" -> (1, 0),
    "vocab_overlap_documents" -> (7, 1),
    "winsorized_lineitem" -> (2, 0),
    "zorder_lineitem" -> (3, 0),
  )

  test("budget map covers exactly the declared surface") {
    val declared = SparkEntry.queries.keySet
    val missing = (declared -- budgets.keySet).toSeq.sorted
    val stale   = (budgets.keySet -- declared).toSeq.sorted
    assert(missing.isEmpty, s"queries without an exchange budget: ${missing.mkString(", ")}")
    assert(stale.isEmpty, s"budgets for undeclared queries: ${stale.mkString(", ")}")
  }

  test("no declared query plans more exchanges than its budget") {
    val shuffle   = "\\bExchange\\b".r
    val broadcast = "\\bBroadcastExchange\\b".r
    val offenders = for {
      (name, p) <- SurfacePlans.plans.toSeq.sortBy(_._1)
      (maxS, maxB) = budgets(name)
      s = shuffle.findAllIn(p).size
      b = broadcast.findAllIn(p).size
      if s > maxS || b > maxB
    } yield s"$name: shuffles $s (budget $maxS), broadcasts $b (budget $maxB)"
    assert(offenders.isEmpty,
      "exchange budget exceeded — a new shuffle crept in:\n" + offenders.mkString("\n"))
  }
}
