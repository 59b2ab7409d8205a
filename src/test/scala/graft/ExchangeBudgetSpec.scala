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
  * Every sf0.001 input fits one task ([[Tables.fitsOneTask]]), so a query
  * whose input goes through [[Tables.widen]] is budgeted on its
  * single-partition plan. The spread path of a larger input plans more
  * exchanges, so each `documents` and `embeddings` query whose exchange
  * counts differ there is also planned over [[PlacementSpec.padded]],
  * where those two tables are past the threshold, and held to its
  * [[spreadBudgets]] entry.
  *
  * Budgets regenerate mechanically ([[BudgetRegen]]): count
  * `\bExchange\b` (shuffles; `BroadcastExchange`/`ReusedExchange` are
  * separate tokens that do not match) and `\bBroadcastExchange\b` per plan
  * in [[SurfacePlans.plans]], and per padded plan for [[spreadBudgets]].
  */
class ExchangeBudgetSpec extends AnyFunSuite {

  /** name -> (max shuffle exchanges, max broadcast exchanges). */
  private val budgets: Map[String, (Int, Int)] = Map(
    "ann_embeddings" -> (0, 1),
    "anomalies_events" -> (3, 0),
    "asof_orders_events" -> (2, 0),
    "benford_lineitem" -> (0, 1),
    "best_survivors_documents" -> (0, 2),
    "bigram_scores_documents" -> (0, 1),
    "blocklist_documents" -> (0, 0),
    "bm25_documents" -> (0, 2),
    "boilerplate_documents" -> (0, 0),
    "bucketed_join_orders" -> (2, 1),
    "cdc_snapshot_orders" -> (2, 0),
    "checks_orders" -> (0, 1),
    "chunks_documents" -> (0, 0),
    "cluster_sizes_documents" -> (0, 1),
    "cohorts_events" -> (5, 0),
    "composite_keys_lineitem" -> (12, 4),
    "consistency_orders" -> (1, 1),
    "contamination_bloom_documents" -> (2, 2),
    "contamination_capped_documents" -> (4, 5),
    "contamination_documents" -> (2, 3),
    "copurchase_lineitem" -> (2, 0),
    "corr_lineitem" -> (0, 0),
    "cosine_dups_embeddings" -> (0, 1),
    "cross_source_dups_documents" -> (4, 4),
    "csv_roundtrip_documents" -> (1, 0),
    "cube_documents" -> (2, 0),
    "cumulative_users_events" -> (3, 0),
    "curated_documents" -> (0, 2),
    "datasheet_documents" -> (2, 0),
    "deciles_customer" -> (0, 0),
    "decontaminated_documents" -> (3, 6),
    "dedup_clusters_documents" -> (0, 1),
    "dedup_exact_documents" -> (0, 0),
    "diff_documents" -> (3, 0),
    "dim_stats_embeddings" -> (0, 0),
    "drift_documents" -> (0, 0),
    "dsir_top_documents" -> (0, 1),
    "dsir_weights_documents" -> (0, 1),
    "dupgrams_documents" -> (2, 0),
    "dv_ddl_customer" -> (1, 0),
    "dv_hub_customer" -> (2, 0),
    "dv_link_lineitem" -> (2, 0),
    "dv_link_order_customer" -> (2, 0),
    "dv_pit_orders" -> (2, 1),
    "dv_sat_customer" -> (1, 0),
    "editdist_pairs_documents" -> (0, 2),
    "encoding_advice_customer" -> (2, 0),
    "ewma_events" -> (3, 1),
    "fd_candidates_orders" -> (19, 0),
    "fingerprint_documents" -> (0, 0),
    "fk_candidates" -> (1, 0),
    "freshness_events" -> (4, 1),
    "funnel_events" -> (1, 0),
    "gapfill_events" -> (4, 2),
    "gopher_quality_documents" -> (0, 0),
    "group_quantiles_lineitem" -> (1, 0),
    "hist_lineitem_price" -> (2, 0),
    "holdout_documents" -> (2, 0),
    "incremental_pairs_documents" -> (0, 1),
    "interarrival_events" -> (1, 0),
    "ivf_assign_embeddings" -> (0, 0),
    "ivf_centroids_embeddings" -> (0, 0),
    "ivf_recall_embeddings" -> (4, 2),
    "ivf_topk_embeddings" -> (0, 1),
    "ivfpq_topk_embeddings" -> (0, 3),
    "jaccard_capped_documents" -> (4, 2),
    "jaccard_pairs_documents" -> (4, 2),
    "join_size_lineitem" -> (6, 5),
    "jsonl_roundtrip_documents" -> (1, 0),
    "knn_embeddings" -> (0, 1),
    "kwic_documents" -> (0, 0),
    "lang_pivot_documents" -> (0, 0),
    "langid_documents" -> (0, 0),
    "length_ranks_documents" -> (1, 0),
    "lshbuckets_embeddings" -> (0, 0),
    "mad_lineitem" -> (1, 0),
    "masked_customer" -> (0, 0),
    "media_decode" -> (1, 0),
    "media_features_documents" -> (0, 0),
    "media_quarantine" -> (2, 0),
    "merged_stats_documents" -> (1, 0),
    "mg_vocab_documents" -> (1, 0),
    "minhash_pairs_documents" -> (0, 0),
    "minhash_recall_documents" -> (6, 2),
    "mix_plan_documents" -> (0, 2),
    "mixture_documents" -> (0, 0),
    "mixture_rollup_documents" -> (2, 0),
    "novelty_documents" -> (0, 2),
    "numstats_lineitem" -> (0, 0),
    "numstats_orders" -> (0, 0),
    "orc_roundtrip_documents" -> (1, 0),
    "outliers_embeddings" -> (0, 0),
    "packing_documents" -> (1, 0),
    "padding_documents" -> (0, 0),
    "pagerank_events" -> (1, 0),
    "pagerank_users" -> (30, 7),
    "partitioned_roundtrip_documents" -> (1, 0),
    "pq_codebooks_embeddings" -> (0, 0),
    "pq_codes_embeddings" -> (0, 0),
    "pq_topk_embeddings" -> (0, 1),
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
    "props_stats_events" -> (0, 0),
    "quality_documents" -> (0, 0),
    "quality_rank_documents" -> (0, 0),
    "quantiles_lineitem" -> (1, 0),
    "quota_documents" -> (0, 0),
    "range_bands_lineitem" -> (0, 1),
    "redacted_documents" -> (0, 0),
    "repetition_documents" -> (0, 0),
    "retention_events" -> (4, 0),
    "revenue_nation" -> (2, 1),
    "revenue_share_nation" -> (2, 1),
    "rolling_events" -> (4, 0),
    "rrf_hybrid_documents" -> (3, 3),
    "salt_overlap_documents" -> (2, 1),
    "sample_documents" -> (1, 0),
    "scd2_orders" -> (2, 0),
    "schema_merge_documents" -> (1, 0),
    "semantic_clusters_embeddings" -> (0, 1),
    "semantic_dups_embeddings" -> (0, 1),
    "semantic_survivors_embeddings" -> (0, 1),
    "sessions_events" -> (2, 0),
    "simhash_documents" -> (0, 0),
    "simhash_pairs_documents" -> (0, 0),
    "sketch_quantiles_lineitem" -> (1, 0),
    "skew_events" -> (3, 1),
    "skyline_part" -> (0, 1),
    "source_kl_documents" -> (0, 0),
    "spandedup_documents" -> (0, 1),
    "splits_documents" -> (0, 0),
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
    "textstats_documents" -> (0, 0),
    "tfidf_keywords_documents" -> (0, 2),
    "theilsen_events" -> (4, 1),
    "tokencount_documents" -> (0, 0),
    "top_customers" -> (1, 0),
    "top_customers_nation" -> (3, 1),
    "topbigrams_documents" -> (0, 0),
    "toptokens_documents" -> (0, 0),
    "transitions_events" -> (3, 0),
    "trend_events" -> (3, 0),
    "triangles_lineitem" -> (1, 2),
    "trigrams_events" -> (2, 0),
    "unigram_scores_documents" -> (0, 3),
    "unpivot_lineitem" -> (2, 0),
    "vocab_coverage_documents" -> (1, 0),
    "vocab_overlap_documents" -> (0, 1),
    "winsorized_lineitem" -> (0, 0),
    "zorder_lineitem" -> (0, 0),
  )

  /** name -> budget of the plan over [[PlacementSpec.padded]], for each
    * `documents` or `embeddings` query whose exchange counts there differ
    * from its sf0.001 plan's. A few joins that broadcast at sf0.001 shuffle
    * at that size (`incremental_pairs`, `unigram_scores`). Span dedup tags
    * its spans in one window partitioned by span string, one shuffle of the
    * span rows, where a keeper aggregate was broadcast back to a second
    * copy of them: at scale that keeper outgrows a broadcast, and the join
    * then shuffles the span stream twice.
    */
  private val spreadBudgets: Map[String, (Int, Int)] = Map(
    "ann_embeddings" -> (5, 1),
    "best_survivors_documents" -> (3, 2),
    "bigram_scores_documents" -> (3, 1),
    "blocklist_documents" -> (2, 0),
    "bm25_documents" -> (8, 2),
    "boilerplate_documents" -> (2, 0),
    "chunks_documents" -> (2, 0),
    "cluster_sizes_documents" -> (3, 1),
    "contamination_bloom_documents" -> (4, 2),
    "cosine_dups_embeddings" -> (4, 1),
    "cross_source_dups_documents" -> (6, 4),
    "cube_documents" -> (3, 0),
    "curated_documents" -> (1, 2),
    "datasheet_documents" -> (14, 0),
    "decontaminated_documents" -> (5, 6),
    "dedup_clusters_documents" -> (1, 1),
    "dedup_exact_documents" -> (3, 0),
    "dim_stats_embeddings" -> (4, 0),
    "dsir_top_documents" -> (2, 1),
    "dsir_weights_documents" -> (3, 1),
    "dupgrams_documents" -> (4, 0),
    "editdist_pairs_documents" -> (6, 2),
    "fingerprint_documents" -> (2, 0),
    "gopher_quality_documents" -> (2, 0),
    "incremental_pairs_documents" -> (7, 0),
    "ivf_assign_embeddings" -> (2, 0),
    "ivf_recall_embeddings" -> (10, 2),
    "ivf_topk_embeddings" -> (4, 1),
    "ivfpq_topk_embeddings" -> (7, 3),
    "jaccard_capped_documents" -> (10, 2),
    "jaccard_pairs_documents" -> (10, 2),
    "knn_embeddings" -> (4, 1),
    "kwic_documents" -> (2, 0),
    "lang_pivot_documents" -> (4, 0),
    "langid_documents" -> (2, 0),
    "lshbuckets_embeddings" -> (2, 0),
    "media_features_documents" -> (2, 0),
    "minhash_pairs_documents" -> (4, 0),
    "minhash_recall_documents" -> (14, 2),
    "mix_plan_documents" -> (6, 2),
    "mixture_documents" -> (3, 0),
    "mixture_rollup_documents" -> (3, 0),
    "novelty_documents" -> (6, 2),
    "outliers_embeddings" -> (1, 0),
    "padding_documents" -> (3, 0),
    "pq_codes_embeddings" -> (2, 0),
    "pq_topk_embeddings" -> (4, 1),
    "quality_documents" -> (2, 0),
    "quality_rank_documents" -> (3, 0),
    "quota_documents" -> (3, 0),
    "redacted_documents" -> (2, 0),
    "repetition_documents" -> (2, 0),
    "rrf_hybrid_documents" -> (14, 3),
    "semantic_clusters_embeddings" -> (2, 1),
    "semantic_dups_embeddings" -> (3, 1),
    "semantic_survivors_embeddings" -> (3, 1),
    "simhash_documents" -> (2, 0),
    "simhash_pairs_documents" -> (5, 0),
    "source_kl_documents" -> (2, 0),
    "spandedup_documents" -> (3, 1),
    "splits_documents" -> (3, 0),
    "textstats_documents" -> (3, 0),
    "tfidf_keywords_documents" -> (9, 2),
    "tokencount_documents" -> (2, 0),
    "topbigrams_documents" -> (2, 0),
    "toptokens_documents" -> (2, 0),
    "unigram_scores_documents" -> (10, 2),
    "vocab_overlap_documents" -> (7, 1),
  )

  private def overBudget(plans: Seq[(String, String)], budget: String => (Int, Int)): Seq[String] = {
    val shuffle   = "\\bExchange\\b".r
    val broadcast = "\\bBroadcastExchange\\b".r
    for {
      (name, p) <- plans
      (maxS, maxB) = budget(name)
      s = shuffle.findAllIn(p).size
      b = broadcast.findAllIn(p).size
      if s > maxS || b > maxB
    } yield s"$name: shuffles $s (budget $maxS), broadcasts $b (budget $maxB)"
  }

  test("budget map covers exactly the declared surface") {
    val declared = SparkEntry.queries.keySet
    val missing = (declared -- budgets.keySet).toSeq.sorted
    val stale   = (budgets.keySet -- declared).toSeq.sorted
    assert(missing.isEmpty, s"queries without an exchange budget: ${missing.mkString(", ")}")
    assert(stale.isEmpty, s"budgets for undeclared queries: ${stale.mkString(", ")}")
  }

  test("no declared query plans more exchanges than its budget") {
    val offenders = overBudget(SurfacePlans.plans.toSeq.sortBy(_._1), budgets)
    assert(offenders.isEmpty,
      "exchange budget exceeded — a new shuffle crept in:\n" + offenders.mkString("\n"))
  }

  test("on the spread path no documents or embeddings query plans more exchanges than its budget") {
    val spark = SparkTestBase.spark
    val plans = spreadBudgets.keys.toSeq.sorted.map { n =>
      val p = SparkEntry.queries(n)(spark, PlacementSpec.padded).queryExecution.executedPlan.toString
      assert(!p.contains("Coalesce 1"), s"$n reads an input that fits one task on the padded dir")
      n -> p
    }
    val offenders = overBudget(plans, spreadBudgets)
    assert(offenders.isEmpty,
      "spread-path exchange budget exceeded — a new shuffle crept in:\n" + offenders.mkString("\n"))
  }
}
