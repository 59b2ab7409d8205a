package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Exact duplicated-span removal with document reconstruction — the
  * ExactSubstr dedup recipe (Lee et al. 2022, "Deduplicating Training Data
  * Makes Language Models Better"): any k-token span that occurs more than
  * once in the corpus keeps exactly its FIRST occurrence (smallest
  * (doc_id, pos)); every other occurrence's token positions are cut, and
  * each document is re-stitched from its surviving tokens. Unlike the
  * shingle-density report ([[graft.dedup.DedupOps.dupShingleStats]] — a
  * per-doc diagnostic) this produces the actual deduplicated corpus: the
  * text a training run would consume after span-level cleaning.
  *
  * Semantics (removal-dominant, like the paper's cut-then-stitch): a token
  * survives iff NO non-first duplicated span covers it. Overlapping cuts
  * union; a span duplicated within one document keeps only its earliest
  * start. Documents whose every token is covered come out empty (n_kept=0,
  * text_kept='') — they stay in the output so the caller sees the cut, not
  * a vanished row.
  *
  * Scale shape: one projection builds the token arrays; spans are a per-row
  * generator (transform over sequence — no shuffle); the ONLY corpus-sized
  * exchanges are the span groupBy (map-side combinable min/count) and the
  * join of span occurrences back to their keeper, both hash-partitioned on
  * the span string. The cut span starts of each document are grouped once
  * (bounded by |removals|) and left-joined onto its token-array row, where
  * the kept positions are `array_except(sequence(0, n-1), cut)` — linear
  * in the document's tokens plus cuts, never a tokens × cuts scan — and
  * `text_kept` is rebuilt from the array in-row. No token-level explode, no
  * anti-join and no regroup of surviving tokens; nothing is ever |docs|²
  * and no window scans the raw token stream.
  *
  * Determinism: the keeper is a pure min over the (doc_id, pos) struct,
  * exact for every bigint id; kept positions follow `sequence` order, so
  * the rebuilt string is a pure function of the corpus.
  */
object SpanDedup {

  /** (doc_id, n_tokens, n_kept, text_kept) per document, doc_id order. */
  def spanDedup(docs0: DataFrame, k: Int = 8): DataFrame = {
    require(k >= 2, "span dedup needs k >= 2")
    val toks = graft.Tables.widen(docs0)
      .select(col("doc_id"), split(TextOps.lowerSimple(col("text")), " ").as("ts"))

    // per-row span generator: start positions 0..len-k, k tokens re-joined
    val spans = toks
      .where(size(col("ts")) >= k)
      .select(
        col("doc_id"),
        explode(expr(
          s"transform(sequence(0, size(ts) - $k), i -> struct(i AS pos, array_join(slice(ts, i + 1, $k), ' ') AS s))"
        )).as("x"))
      .select(col("doc_id"), col("x.pos").as("pos"), col("x.s").as("s"))

    // global first occurrence per span string — map-side-combinable min
    val keeper = spans
      .groupBy(col("s"))
      .agg(min(struct(col("doc_id"), col("pos"))).as("keep"), count(lit(1)).as("occ"))

    // non-first occurrences of duplicated spans: each document's cut starts
    val cuts = spans
      .join(keeper.where(col("occ") > 1), Seq("s"))
      .where(struct(col("doc_id"), col("pos")) =!= col("keep"))
      .groupBy(col("doc_id"))
      .agg(collect_list(col("pos")).as("starts"))

    // kept positions in token order; NULL for a NULL text (no tokens)
    val kept = expr(
      "CASE WHEN ts IS NULL THEN NULL WHEN starts IS NULL THEN sequence(0, size(ts) - 1) " +
        "ELSE array_except(sequence(0, size(ts) - 1), " +
        s"flatten(transform(starts, p -> sequence(p, p + ${k - 1})))) END")
    toks
      .join(cuts, Seq("doc_id"), "left")
      .select(col("doc_id"), col("ts"), kept.as("kept"))
      .select(
        col("doc_id"),
        size(col("ts")).cast("long").as("n_tokens"),
        expr("IF(kept IS NULL, 0L, CAST(size(kept) AS BIGINT))").as("n_kept"),
        expr("IF(kept IS NULL, '', array_join(transform(kept, i -> ts[i]), ' '))").as("text_kept"))
      .orderBy("doc_id")
  }

  /** DuckDB twin of [[spanDedup]]: the identical (doc_id, pos) struct
    * keeper, the identical covered-position union, string_agg ordered by
    * pos for the stitch.
    */
  def oracleSpanDedup(k: Int = 8): String =
    s"""WITH toks AS (
       |  SELECT doc_id, string_split(lower(text), ' ') AS ts FROM documents),
       |tok AS (
       |  SELECT doc_id, x.pos, x.token FROM (
       |    SELECT doc_id,
       |      unnest(list_transform(range(0, len(ts)), i -> {'pos': i, 'token': ts[i + 1]})) AS x
       |    FROM toks)),
       |sp AS (
       |  SELECT doc_id, x.pos, x.s FROM (
       |    SELECT doc_id,
       |      unnest(list_transform(range(0, len(ts) - $k + 1),
       |        i -> {'pos': i, 's': array_to_string(list_slice(ts, i + 1, i + $k), ' ')})) AS x
       |    FROM toks WHERE len(ts) >= $k)),
       |keep AS (
       |  SELECT s, min({'doc_id': doc_id, 'pos': pos}) AS keep, count(*) AS occ
       |  FROM sp GROUP BY s),
       |cov AS (
       |  SELECT DISTINCT sp.doc_id, unnest(range(sp.pos, sp.pos + $k)) AS cpos
       |  FROM sp JOIN keep ON sp.s = keep.s
       |  WHERE keep.occ > 1 AND {'doc_id': sp.doc_id, 'pos': sp.pos} <> keep.keep),
       |kept AS (
       |  SELECT t.doc_id, t.pos, t.token FROM tok t
       |  LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.pos = c.cpos
       |  WHERE c.doc_id IS NULL),
       |g AS (
       |  SELECT doc_id, count(*) AS n_kept, string_agg(token, ' ' ORDER BY pos) AS text_kept
       |  FROM kept GROUP BY doc_id)
       |SELECT toks.doc_id, CAST(len(toks.ts) AS BIGINT) AS n_tokens,
       |  CAST(coalesce(g.n_kept, 0) AS BIGINT) AS n_kept,
       |  coalesce(g.text_kept, '') AS text_kept
       |FROM toks LEFT JOIN g ON toks.doc_id = g.doc_id
       |ORDER BY toks.doc_id""".stripMargin
}
