package graft

import org.scalatest.funsuite.AnyFunSuite

/** Scan-budget regression net across the whole declared surface: every
  * query's physical plan is budgeted to its current number of file scans
  * and its current TOTAL of read-schema fields across those scans (parsed
  * depth-aware by [[ScanBudget.readFields]] from the shared [[SurfacePlans]]
  * pass). The two failure modes this catches by name:
  *
  *   - a refactor that re-scans a table it used to read once (scan count
  *     grows), and
  *   - a dropped projection that turns a pruned scan into a read-everything
  *     scan (field total grows) — "a scan that reads all columns for a
  *     2-column projection is wrong".
  *
  * `<=` semantics for the same reason as [[ExchangeBudgetSpec]]: cached
  * subtrees from other suites can only replace scans, never add them, so an
  * upper bound is order-stable. Tighten a query's budget when its plan
  * genuinely improves.
  */
class ScanBudgetSpec extends AnyFunSuite {

  /** name -> (max file scans, max total read-schema fields). */
  private val budgets: Map[String, (Int, Int)] = Map(
    "ann_embeddings" -> (2, 4),
    "anomalies_events" -> (1, 2),
    "asof_orders_events" -> (2, 7),
    "benford_lineitem" -> (2, 2),
    "best_survivors_documents" -> (1, 2),
    "bigram_scores_documents" -> (0, 0),
    "blocklist_documents" -> (1, 2),
    "bm25_documents" -> (3, 5),
    "boilerplate_documents" -> (1, 1),
    "bucketed_join_orders" -> (2, 5),
    "cdc_snapshot_orders" -> (1, 5),
    "checks_orders" -> (2, 15),
    "chunks_documents" -> (1, 2),
    "cluster_sizes_documents" -> (0, 0),
    "cohorts_events" -> (1, 2),
    "composite_keys_lineitem" -> (8, 11),
    "consistency_orders" -> (2, 6),
    "contamination_bloom_documents" -> (2, 3),
    "contamination_capped_documents" -> (2, 2),
    "contamination_documents" -> (2, 2),
    "copurchase_lineitem" -> (1, 2),
    "corr_lineitem" -> (1, 4),
    "cosine_dups_embeddings" -> (2, 4),
    "cross_source_dups_documents" -> (2, 4),
    "csv_roundtrip_documents" -> (1, 5),
    "cube_documents" -> (1, 3),
    "cumulative_users_events" -> (1, 2),
    "curated_documents" -> (0, 0),
    "datasheet_documents" -> (5, 8),
    "deciles_customer" -> (1, 1),
    "decontaminated_documents" -> (5, 8),
    "dedup_clusters_documents" -> (0, 0),
    "dedup_exact_documents" -> (1, 2),
    "diff_documents" -> (3, 15),
    "dim_stats_embeddings" -> (1, 1),
    "drift_documents" -> (0, 0),
    "dsir_top_documents" -> (0, 0),
    "dsir_weights_documents" -> (0, 0),
    "dupgrams_documents" -> (1, 2),
    "dv_ddl_customer" -> (0, 0),
    "dv_hub_customer" -> (1, 1),
    "dv_link_lineitem" -> (1, 3),
    "dv_link_order_customer" -> (1, 2),
    "dv_pit_orders" -> (1, 4),
    "dv_sat_customer" -> (1, 5),
    "editdist_pairs_documents" -> (3, 6),
    "encoding_advice_customer" -> (1, 5),
    "ewma_events" -> (2, 4),
    "fd_candidates_orders" -> (6, 50),
    "fingerprint_documents" -> (1, 2),
    "fk_candidates" -> (0, 0),
    "freshness_events" -> (2, 4),
    "funnel_events" -> (0, 0),
    "gapfill_events" -> (3, 5),
    "gopher_quality_documents" -> (1, 2),
    "group_quantiles_lineitem" -> (0, 0),
    "hist_lineitem_price" -> (1, 1),
    "holdout_documents" -> (1, 5),
    "incremental_pairs_documents" -> (3, 6),
    "interarrival_events" -> (0, 0),
    "ivf_assign_embeddings" -> (1, 2),
    "ivf_centroids_embeddings" -> (0, 0),
    "ivf_recall_embeddings" -> (4, 8),
    "ivf_topk_embeddings" -> (2, 4),
    "ivfpq_topk_embeddings" -> (4, 8),
    "jaccard_capped_documents" -> (3, 6),
    "jaccard_pairs_documents" -> (3, 6),
    "join_size_lineitem" -> (6, 4),
    "jsonl_roundtrip_documents" -> (1, 5),
    "knn_embeddings" -> (2, 4),
    "kwic_documents" -> (1, 2),
    "lang_pivot_documents" -> (1, 2),
    "langid_documents" -> (1, 3),
    "length_ranks_documents" -> (0, 0),
    "lshbuckets_embeddings" -> (1, 2),
    "mad_lineitem" -> (0, 0),
    "masked_customer" -> (1, 5),
    "media_decode" -> (1, 3),
    "media_features_documents" -> (1, 2),
    "media_quarantine" -> (1, 2),
    "merged_stats_documents" -> (0, 0),
    "mg_vocab_documents" -> (1, 1),
    "minhash_pairs_documents" -> (1, 2),
    "minhash_recall_documents" -> (4, 8),
    "mix_plan_documents" -> (2, 4),
    "mixture_documents" -> (1, 3),
    "mixture_rollup_documents" -> (1, 3),
    "novelty_documents" -> (3, 5),
    "numstats_lineitem" -> (1, 6),
    "numstats_orders" -> (1, 3),
    "orc_roundtrip_documents" -> (1, 5),
    "outliers_embeddings" -> (1, 2),
    "packing_documents" -> (1, 2),
    "padding_documents" -> (1, 1),
    "pagerank_events" -> (0, 0),
    "pagerank_users" -> (14, 48),
    "partitioned_roundtrip_documents" -> (1, 4),
    "pq_codebooks_embeddings" -> (0, 0),
    "pq_codes_embeddings" -> (1, 2),
    "pq_topk_embeddings" -> (2, 4),
    "profile_customer" -> (0, 0),
    "profile_documents" -> (0, 0),
    "profile_embeddings" -> (0, 0),
    "profile_events" -> (0, 0),
    "profile_lineitem" -> (0, 0),
    "profile_nation" -> (0, 0),
    "profile_orders" -> (0, 0),
    "profile_part" -> (0, 0),
    "profile_region" -> (0, 0),
    "profile_supplier" -> (0, 0),
    "props_stats_events" -> (1, 2),
    "quality_documents" -> (1, 2),
    "quality_rank_documents" -> (1, 3),
    "quantiles_lineitem" -> (0, 0),
    "quota_documents" -> (1, 5),
    "range_bands_lineitem" -> (1, 1),
    "redacted_documents" -> (1, 5),
    "repetition_documents" -> (1, 2),
    "retention_events" -> (1, 2),
    "revenue_nation" -> (1, 2),
    "revenue_share_nation" -> (1, 2),
    "rolling_events" -> (1, 3),
    "rrf_hybrid_documents" -> (5, 9),
    "salt_overlap_documents" -> (2, 10),
    "sample_documents" -> (1, 5),
    "scd2_orders" -> (1, 4),
    "schema_merge_documents" -> (1, 6),
    "semantic_clusters_embeddings" -> (1, 1),
    "semantic_dups_embeddings" -> (2, 4),
    "semantic_survivors_embeddings" -> (1, 1),
    "sessions_events" -> (1, 3),
    "simhash_documents" -> (1, 2),
    "simhash_pairs_documents" -> (1, 2),
    "sketch_quantiles_lineitem" -> (0, 0),
    "skew_events" -> (2, 2),
    "skyline_part" -> (2, 5),
    "source_kl_documents" -> (0, 0),
    "spandedup_documents" -> (0, 0),
    "splits_documents" -> (1, 3),
    "stats_customer" -> (0, 0),
    "stats_lineitem" -> (0, 0),
    "stratified_sample_documents" -> (1, 5),
    "stream_anomalies_events" -> (0, 0),
    "stream_attribution_events" -> (0, 0),
    "stream_cdc_orders" -> (0, 0),
    "stream_events_hourly" -> (0, 0),
    "summary_customer" -> (0, 0),
    "summary_events" -> (0, 0),
    "summary_lineitem" -> (0, 0),
    "summary_pii_customer" -> (0, 0),
    "summary_pii_lineitem" -> (0, 0),
    "textstats_documents" -> (1, 3),
    "tfidf_keywords_documents" -> (3, 4),
    "theilsen_events" -> (2, 4),
    "tokencount_documents" -> (1, 2),
    "top_customers" -> (0, 0),
    "top_customers_nation" -> (1, 2),
    "topbigrams_documents" -> (1, 1),
    "toptokens_documents" -> (1, 1),
    "transitions_events" -> (1, 4),
    "trend_events" -> (1, 2),
    "triangles_lineitem" -> (0, 0),
    "trigrams_events" -> (1, 4),
    "unigram_scores_documents" -> (4, 5),
    "unpivot_lineitem" -> (1, 5),
    "vocab_coverage_documents" -> (0, 0),
    "vocab_overlap_documents" -> (2, 4),
    "winsorized_lineitem" -> (1, 2),
    "zorder_lineitem" -> (1, 2),
  )

  test("scan budget map covers exactly the declared surface") {
    val declared = SparkEntry.queries.keySet
    val missing = (declared -- budgets.keySet).toSeq.sorted
    val stale   = (budgets.keySet -- declared).toSeq.sorted
    assert(missing.isEmpty, s"queries without a scan budget: ${missing.mkString(", ")}")
    assert(stale.isEmpty, s"scan budgets for undeclared queries: ${stale.mkString(", ")}")
  }

  test("no declared query scans more files or columns than its budget") {
    val scanToken = "\\bFileScan\\b".r
    val offenders = for {
      (name, p) <- SurfacePlans.plans.toSeq.sortBy(_._1)
      (maxScans, maxFields) = budgets(name)
      scans  = scanToken.findAllIn(p).size
      fields = ScanBudget.readFields(p)
      if scans > maxScans || fields > maxFields
    } yield s"$name: scans $scans (budget $maxScans), read fields $fields (budget $maxFields)"
    assert(offenders.isEmpty,
      "scan budget exceeded — an extra scan or a dropped projection:\n" + offenders.mkString("\n"))
  }
}
