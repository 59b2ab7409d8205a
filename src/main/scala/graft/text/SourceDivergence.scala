package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Per-source KL divergence from the corpus token mixture —
  * KL(p_source ‖ p_corpus) = Σ_t p_s(t) · log10(p_s(t)/p_c(t)) over the
  * source's observed vocabulary. The distribution-level companion to the
  * per-document DSIR weights: DSIR scores documents against a target, this
  * scores each SOURCE's whole unigram distribution against the blend —
  * "which feed is dragging the mixture" read before re-weighting. Every
  * source token exists in the corpus by construction (the corpus is the
  * union), so no smoothing term is needed and every ratio is finite.
  *
  * Cross-engine exactness follows the [[TextOps.unigramScores]] doctrine:
  * each per-(source, token) term is computed in DOUBLE with an identical
  * operation order on both engines —
  * `c_s/n_s * log10((c_s · n_tot)/(n_s · c_tot))` — then cast to
  * DECIMAL(18,6), so the per-source SUM is exact and summation order cannot
  * move it; the one log10 carries the accepted ≤1-ulp-then-round risk. The
  * divergence is published as the exact decimal's string next to the
  * counts, not as a re-rounded float.
  *
  * Scale shape: ONE token explode feeds ONE map-side-combinable (source,
  * token) aggregate, and the sibling counts are windows over its rows: the
  * corpus total n_tot with no partition, the corpus count c_tot
  * partitioned by token, then n_s/n_types partitioned by source. So no
  * driver-side count runs before the plan. Catalyst plans the
  * partition-less window first; on a spread input its one exchange brings
  * the |source × token| rows into one partition, which then satisfies the
  * other windows and the final per-source sum (a single-partition input
  * needs no exchange at all). That one task sorts at most |sources| ×
  * |vocab| rows, where the count it replaces re-tokenized the corpus. The
  * plan is one chain of exchanges: no window sees the raw token stream,
  * nothing is joined back, and no two exchanges race (AQE numbers the
  * codegen stages it creates after a race in the order the racing stages
  * finish, so the generated source would change from run to run and miss
  * Spark's codegen cache). The final aggregate is |sources| rows.
  */
object SourceDivergence {

  private def termExpr: String =
    "CAST(CAST(c_s AS DOUBLE) / n_s * log10((CAST(c_s AS DOUBLE) * n_tot) / " +
      "(CAST(n_s AS DOUBLE) * c_tot)) AS DECIMAL(18,6))"

  /** (source, n_tokens, n_types, kl_str) per source, source order. */
  def sourceKl(docs0: DataFrame): DataFrame = {
    val toks = graft.Tables.widen(docs0).select(
      col("source"),
      explode(expr(s"regexp_extract_all(${TextOps.LowerTextSql}, '${TextOps.TokenRe}', 0)")).as("token"))
    val bySource = Window.partitionBy(col("source"))
    // bounded-global-window: n_tot, the corpus token count, is a
    // partition-less sum over the ALREADY-AGGREGATED |source × token| rows,
    // not a count of the token stream or a total joined back onto it
    toks
      .groupBy(col("source"), col("token"))
      .agg(count(lit(1)).as("c_s"))
      .select(col("source"), col("c_s"), sum(col("c_s")).over(Window.partitionBy(col("token"))).as("c_tot"),
        sum(col("c_s")).over().as("n_tot"))
      .select(col("source"), col("c_s"), col("c_tot"), col("n_tot"),
        sum(col("c_s")).over(bySource).as("n_s"), count(lit(1)).over(bySource).as("n_types"))
      .select(col("source"), col("n_s"), col("n_types"), expr(termExpr).as("term"))
      .groupBy(col("source"))
      .agg(
        first(col("n_s")).as("n_tokens"),
        first(col("n_types")).as("n_types"),
        sum(col("term")).cast("decimal(28,6)").cast("string").as("kl_str"))
      .orderBy("source")
  }

  /** DuckDB twin of [[sourceKl]] — the identical term expression and exact
    * decimal accumulation.
    */
  def oracleSourceKl: String =
    s"""WITH toks AS (
       |  SELECT source, unnest(regexp_extract_all(lower(text), '${TextOps.TokenRe}')) AS token
       |  FROM documents),
       |st AS (SELECT source, token, count(*) AS c_s FROM toks GROUP BY 1, 2),
       |ct AS (SELECT token, sum(c_s) AS c_tot FROM st GROUP BY token),
       |cs AS (SELECT source, sum(c_s) AS n_s, count(*) AS n_types FROM st GROUP BY source),
       |tot AS (SELECT sum(c_tot) AS n_tot FROM ct),
       |terms AS (
       |  SELECT st.source, cs.n_s, cs.n_types, $termExpr AS term
       |  FROM st JOIN ct ON st.token = ct.token
       |  JOIN cs ON st.source IS NOT DISTINCT FROM cs.source CROSS JOIN tot)
       |SELECT source, CAST(min(n_s) AS BIGINT) AS n_tokens,
       |  CAST(min(n_types) AS BIGINT) AS n_types,
       |  CAST(CAST(sum(term) AS DECIMAL(28,6)) AS VARCHAR) AS kl_str
       |FROM terms GROUP BY source ORDER BY source NULLS FIRST""".stripMargin
}
