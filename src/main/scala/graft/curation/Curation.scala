package graft.curation

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.dedup.{DedupClusters, DedupOps}
import graft.text.TextOps

/** The end-to-end corpus-curation pass — the composition a training-data
  * pipeline actually ships: KEEP a document iff it
  *
  *  1. clears the quality gate ([[TextOps.quality]] class ≠ 'poor'),
  *  2. has an identifiable language ([[TextOps.langId]] ≠ 'und'), and
  *  3. is its near-dup cluster's canonical survivor
  *     ([[DedupClusters.dedupClusters]] cluster_id = doc_id).
  *
  * Each stage is one of the declared operators; the composition is itself a
  * declared query (`curated_documents`) whose DuckDB oracle composes the
  * stage oracles as CTEs — so the integration (joins, filter order,
  * survivor rule) is hash-checked end-to-end, not just the parts.
  *
  * Plan shape: three independent single-scan pipelines over the documents
  * table joined on doc_id — at 100 TB each stage is the operator's own
  * scalable plan (per-row quality/langid projections, bucketed pair
  * generation + bounded label propagation), and the final join keys on the
  * (already hash-distributed) doc_id. Filters are conjunctive so stage
  * ORDER is a pure cost choice; the declared form cuts the labels to the
  * survivors (cluster_id = doc_id) before the join, so the join has the
  * one key doc_id — a docs side already partitioned by doc_id (the shared
  * documents artifact in `SparkEntry`) then needs no exchange — and
  * filters the per-doc classes after it.
  */
object Curation {

  def curatedDocuments(docs: DataFrame): DataFrame =
    curatedDocuments(docs, DedupClusters.dedupClusters(docs))

  /** Variant taking precomputed cluster labels (schema: doc_id, cluster_id) —
    * the CC fixpoint is the expensive stage, and a pipeline that has already
    * run `dedup_clusters` should reuse those labels rather than re-running
    * the loop (SparkEntry shares them across declared queries this way).
    */
  def curatedDocuments(docs: DataFrame, clusters: DataFrame): DataFrame = {
    val q = TextOps.quality(docs).select(col("doc_id"), col("n_tokens"), col("quality_class"))
    val l = TextOps.langId(docs)
      .select(col("doc_id").as("l_doc_id"), col("lang"), col("pred_lang"))
    val survivors = clusters
      .where(col("cluster_id") === col("doc_id"))
      .select(col("doc_id").as("c_doc_id"))
    q.join(l, q("doc_id") === l("l_doc_id"))
      .join(survivors, q("doc_id") === survivors("c_doc_id"))
      .where(col("quality_class") =!= "poor" && col("pred_lang") =!= "und")
      .select(col("doc_id"), col("lang"), col("pred_lang"), col("quality_class"), col("n_tokens"))
      .orderBy("doc_id")
  }

  /** The full training-side cut a pipeline ships: the curated set MINUS the
    * benchmark slice itself (eval docs are not training candidates) MINUS
    * every training doc the contamination screen caught leaking a benchmark
    * doc ([[graft.dedup.Contamination]]). Reuses precomputed cluster labels
    * like [[curatedDocuments]]; the contamination pass shares its postings
    * checkpoint internally, or — when the session has already materialized
    * the distinct shingle postings for its other contamination screens —
    * reuses that frame via `distinctShingles` (one exchange for the whole
    * contamination family, the declared-surface configuration).
    */
  def decontaminatedDocuments(
      docs: DataFrame,
      clusters: DataFrame,
      benchIds: DataFrame,
      minShared: Long = 5L,
      distinctShingles: Option[DataFrame] = None
  ): DataFrame = {
    val leaking = graft.dedup.Contamination
      .contaminatedPairs(docs, benchIds, minShared,
        distinctShingles = distinctShingles)
      .select(col("doc_id"))
      .distinct()
    curatedDocuments(docs, clusters)
      .join(benchIds.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .join(leaking, Seq("doc_id"), "left_anti")
      .orderBy("doc_id")
  }

  /** DuckDB twin of [[decontaminatedDocuments]] — the curated CTEs plus the
    * md5-gated bench slice and the shingle-co-occurrence leak set (the
    * cluster CTE chain already defines the `sh` postings relation the leak
    * join reuses).
    */
  def oracleDecontaminatedDocuments(
      minShared: Long = 5L,
      benchFraction: Double = 0.05,
      benchSalt: String = "bench"
  ): String = {
    val q = TextOps.oracleQuality.replace("ORDER BY doc_id", "")
    val l = TextOps.oracleLangId.replace("ORDER BY doc_id", "")
    val thr = math.floor(benchFraction * graft.sampling.Sampling.HashSpace).toLong
    s"""WITH RECURSIVE ${DedupOps.oracleClusterCtes},
       |q AS ($q),
       |l AS ($l),
       |bench AS (
       |  SELECT doc_id FROM documents
       |  WHERE CAST('0x' || substr(md5(doc_id || ':$benchSalt'), 1, 8) AS BIGINT) < $thr),
       |leak AS (
       |  SELECT c.doc_id FROM sh c JOIN sh b ON c.s = b.s JOIN bench ON b.doc_id = bench.doc_id
       |  WHERE c.doc_id NOT IN (SELECT doc_id FROM bench)
       |  GROUP BY c.doc_id, b.doc_id HAVING count(*) >= $minShared)
       |SELECT q.doc_id, l.lang, l.pred_lang, q.quality_class, q.n_tokens
       |FROM q JOIN l ON l.doc_id = q.doc_id JOIN cl ON cl.doc_id = q.doc_id
       |WHERE q.quality_class <> 'poor' AND l.pred_lang <> 'und' AND cl.cluster_id = q.doc_id
       |  AND q.doc_id NOT IN (SELECT doc_id FROM bench)
       |  AND q.doc_id NOT IN (SELECT doc_id FROM leak)
       |ORDER BY q.doc_id""".stripMargin
  }

  def oracleCuratedDocuments: String = {
    val q = TextOps.oracleQuality.replace("ORDER BY doc_id", "")
    val l = TextOps.oracleLangId.replace("ORDER BY doc_id", "")
    s"""WITH RECURSIVE ${DedupOps.oracleClusterCtes},
       |q AS ($q),
       |l AS ($l)
       |SELECT q.doc_id, l.lang, l.pred_lang, q.quality_class, q.n_tokens
       |FROM q JOIN l ON l.doc_id = q.doc_id JOIN cl ON cl.doc_id = q.doc_id
       |WHERE q.quality_class <> 'poor' AND l.pred_lang <> 'und' AND cl.cluster_id = q.doc_id
       |ORDER BY q.doc_id""".stripMargin
  }

  // --- quality-argmax survivor selection -------------------------------------

  /** Quality-aware survivor per near-dup cluster — the production rule a
    * curation pass actually wants instead of "keep the lowest doc_id": within
    * each cluster keep the best document by (quality class good < fair < poor,
    * then more tokens, then lowest doc_id as the unique tie-break).
    *
    * Plan shape: NOT a window. The argmax is a `min` over a comparison struct
    * `(quality_rank, -n_tokens, doc_id, …)` — structs compare
    * lexicographically in both engines' ordering semantics, and Spark's
    * `min(struct)` is a map-side-combinable hash aggregate, so hot clusters
    * partially reduce before the exchange. A `row_number` window would shuffle
    * every member row to its cluster's partition and sort it there; the
    * aggregate ships one candidate per cluster per map partition. At 100 TB
    * (where a boilerplate cluster can hold millions of members) that is the
    * difference between a bounded exchange and a skew hotspot.
    *
    * Payload columns ride INSIDE the struct (positions after the unique
    * doc_id never influence the comparison), so no re-join is needed to
    * recover them — one scan of the cluster labels + one of the quality
    * projection, one aggregate exchange.
    */
  def bestSurvivors(docs: DataFrame, clusters: DataFrame): DataFrame = {
    val q = TextOps.quality(docs).select(col("doc_id"), col("n_tokens"), col("quality_class"))
    val qualityRank = when(col("quality_class") === "good", 0L)
      .when(col("quality_class") === "fair", 1L)
      .otherwise(2L)
    clusters
      .join(q, "doc_id")
      .select(
        col("cluster_id"),
        struct(
          qualityRank.as("qr"),
          (-col("n_tokens")).as("neg_tokens"),
          col("doc_id").as("doc_id"),
          col("quality_class").as("quality_class"),
          col("n_tokens").as("n_tokens")
        ).as("cand")
      )
      .groupBy(col("cluster_id"))
      .agg(min(col("cand")).as("best"))
      .select(
        col("cluster_id"),
        col("best.doc_id").as("doc_id"),
        col("best.quality_class").as("quality_class"),
        col("best.n_tokens").as("n_tokens")
      )
      .orderBy("cluster_id")
  }

  /** DuckDB twin of [[bestSurvivors]]: the same total order spelled as a
    * `row_number` pick (the oracle side is allowed the window — correctness
    * twin, not the scale plan). Deterministic because doc_id breaks all ties.
    */
  def oracleBestSurvivors: String = {
    val q = TextOps.oracleQuality.replace("ORDER BY doc_id", "")
    s"""WITH RECURSIVE ${DedupOps.oracleClusterCtes},
       |q AS ($q),
       |ranked AS (
       |  SELECT cl.cluster_id, q.doc_id, q.quality_class, q.n_tokens,
       |    row_number() OVER (PARTITION BY cl.cluster_id ORDER BY
       |      (CASE q.quality_class WHEN 'good' THEN 0 WHEN 'fair' THEN 1 ELSE 2 END),
       |      q.n_tokens DESC, q.doc_id) AS rn
       |  FROM cl JOIN q ON cl.doc_id = q.doc_id)
       |SELECT cluster_id, doc_id, quality_class, n_tokens
       |FROM ranked WHERE rn = 1 ORDER BY cluster_id""".stripMargin
  }
}
