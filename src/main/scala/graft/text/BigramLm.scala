package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Bigram language-model scoring — per-document sum of conditional log
  * probabilities Σ log10(c(w₁w₂)/c(w₁·)) under the corpus's own bigram
  * counts, the KenLM-shaped fluency filter one step up from
  * [[TextOps.unigramScores]]: the unigram score ranks docs by how COMMON
  * their words are, this ranks them by how well their word ORDER matches
  * corpus statistics — the signal that separates shuffled-token spam from
  * real text even when the bag of words is identical. The context count
  * c(w₁·) derives from the bigram relation itself (Σ over bigrams starting
  * with w₁), so probabilities condition on exactly the events being scored
  * and every ratio is ≤ 1 and finite — no smoothing needed for self-scoring.
  *
  * Cross-engine exactness: the [[TextOps.unigramScores]] doctrine — each
  * per-(doc, bigram) term is `log10(CAST(c_bg AS DOUBLE) / c_ctx)` cast to
  * DECIMAL(18,6), the per-doc sum is exact decimal (order-free), and the
  * declared column is the decimal's string, never a re-rounded float. The
  * one log10 per distinct bigram carries the accepted ≤1-ulp risk.
  *
  * Scale shape: bigrams are a per-row `explode_outer` generator (no
  * shuffle) that yields one null row for a document with fewer than 2
  * tokens, so every document stays in the one scoring stream. Corpus bigram
  * counts are one map-side-combinable aggregate; the context count c(w₁·)
  * is a window partitioned by w₁ over those ≤|bigram vocab| aggregated
  * rows, never over the raw stream. The log-prob table left-joins back onto
  * the stream, and one groupBy(doc_id) with count(bg) yields one row per
  * document (doc_id is the table's key). No join recovers token-less
  * documents: they score 0 over 0 bigrams from their null row.
  */
object BigramLm {

  /** (doc_id, n_bigrams, sum_logprob_str) per document, doc_id order. */
  def bigramScores(docs0: DataFrame): DataFrame = {
    val bigrams = graft.Tables.widen(docs0)
      .select(col("doc_id"), split(TextOps.lowerSimple(col("text")), " ").as("ts"))
      .select(
        col("doc_id"),
        explode_outer(expr(
          "IF(size(ts) >= 2, transform(sequence(0, size(ts) - 2), " +
            "i -> struct(ts[i] AS w1, concat(ts[i], ' ', ts[i + 1]) AS bg)), NULL)"
        )).as("x"))
      .select(col("doc_id"), col("x.w1").as("w1"), col("x.bg").as("bg"))
    val byW1 = org.apache.spark.sql.expressions.Window.partitionBy(col("w1"))
    val logProbs = bigrams
      .where(col("bg").isNotNull)
      .groupBy(col("bg"), col("w1"))
      .agg(count(lit(1)).as("c_bg"))
      .select(col("bg"), col("w1"), col("c_bg"), sum(col("c_bg")).over(byW1).as("c_ctx"))
      .select(col("bg"), col("w1"),
        expr("CAST(log10(CAST(c_bg AS DOUBLE) / c_ctx) AS DECIMAL(18,6))").as("lp"))
    bigrams
      .join(logProbs, Seq("bg", "w1"), "left")
      .groupBy(col("doc_id"))
      .agg(count(col("bg")).as("n_bigrams"), sum(col("lp")).as("sum_lp"))
      .select(
        col("doc_id"),
        col("n_bigrams"),
        coalesce(col("sum_lp"), lit(0).cast("decimal(18,6)"))
          .cast("decimal(28,6)").cast("string").as("sum_logprob_str"))
      .orderBy("doc_id")
  }

  /** DuckDB twin of [[bigramScores]] — identical bigram generator, counts,
    * and decimal term.
    */
  def oracleBigramScores: String =
    s"""WITH toks AS (
       |  SELECT doc_id, string_split(lower(text), ' ') AS ts FROM documents),
       |bg AS (
       |  SELECT doc_id, x.w1, x.bg FROM (
       |    SELECT doc_id,
       |      unnest(list_transform(range(0, len(ts) - 1),
       |        i -> {'w1': ts[i + 1], 'bg': concat(ts[i + 1], ' ', ts[i + 2])})) AS x
       |    FROM toks WHERE len(ts) >= 2)),
       |bc AS (SELECT bg, w1, count(*) AS c_bg FROM bg GROUP BY 1, 2),
       |cc AS (SELECT w1, sum(c_bg) AS c_ctx FROM bc GROUP BY w1),
       |terms AS (
       |  SELECT bg.doc_id, CAST(log10(CAST(bc.c_bg AS DOUBLE) / cc.c_ctx) AS DECIMAL(18,6)) AS lp
       |  FROM bg JOIN bc ON bg.bg = bc.bg AND bg.w1 = bc.w1 JOIN cc ON bg.w1 = cc.w1),
       |perdoc AS (SELECT doc_id, count(*) AS n_bigrams, sum(lp) AS sum_lp FROM terms GROUP BY doc_id)
       |SELECT d.doc_id, CAST(coalesce(p.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       |  CAST(CAST(coalesce(p.sum_lp, 0) AS DECIMAL(28,6)) AS VARCHAR) AS sum_logprob_str
       |FROM documents d LEFT JOIN perdoc p ON d.doc_id = p.doc_id
       |ORDER BY d.doc_id""".stripMargin
}
