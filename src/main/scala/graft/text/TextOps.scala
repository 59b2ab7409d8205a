package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators over a document table (`doc_id, text, lang,
  * source, n_chars` — TESTDATA.md `documents`). North-star extension family
  * (SURVEY.md §7.4): the measurements a large-scale training-data pipeline
  * runs over raw text before filtering/dedup.
  *
  * Every operator is pure DataFrame API over codegen'd builtins (regexp,
  * higher-order array functions) — no UDFs, no shuffles except the declared
  * groupBy aggregations, so each op is a single scan that scales linearly
  * with partition count. Each op ships a DuckDB oracle (`oracle*`) computing
  * the identical result; cross-engine agreement rules: integer counts
  * everywhere, ratios only as CAST(int AS DOUBLE)/int, regexes in the
  * Java∩RE2 common dialect, explicit identical ORDER BY.
  */
object TextOps {

  /** Non-space runs — robust token count (independent of leading/trailing/
    * repeated whitespace, unlike split-on-space length). Shared with
    * [[Packing]] so packed token budgets mean the same thing as the declared
    * tokencount query.
    */
  private[graft] val TokenRe = "[^ ]+"

  /** BPE-ish pre-tokenization: letter runs | digit runs | single other
    * non-space symbol (the classic GPT-2-style regex family reduced to the
    * Java∩RE2 common dialect).
    */
  private val BpeRe = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"

  private val PunctRe = "[^A-Za-z0-9 ]"

  /** Language-marker stopword sets for the n-gram/stopword language-ID
    * heuristic. Deliberately tiny and deterministic; tie-break order is
    * [[langPriority]]. (A real pipeline would swap in fastText — the operator
    * shape, a per-token set-membership scan + argmax, is what scales.)
    */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "es" -> Seq("el", "las", "los", "y", "es"),
    "fr" -> Seq("le", "la", "les", "et", "est"),
    "zh" -> Seq("的", "是", "了", "在", "和")
  )
  val langPriority: Seq[String] = langMarkers.map(_._1)

  /** Lowercase via the Unicode SIMPLE case mapping on both engines. Java's
    * `toLowerCase` applies SpecialCasing — dotted capital İ (U+0130) becomes
    * `i` + combining dot (U+0069 U+0307), and word-final Σ (U+03A3) becomes
    * final sigma ς (U+03C2) under the conditional Final_Sigma rule — where
    * DuckDB's utf8proc applies the simple mapping (İ → plain `i`, Σ → σ
    * everywhere), silently desynchronizing every token, fingerprint and
    * signature downstream (r11 adversarial sweep: one İ flipped 11 declared
    * queries; the Greek probe caught Σ the same way). İ is the only
    * UNCONDITIONAL lowercase entry in SpecialCasing.txt and Final_Sigma the
    * only CONDITIONAL one a ROOT-locale toLowerCase applies, so pre-folding
    * exactly these two makes Spark's lower() the simple mapping everywhere.
    */
  private[graft] def lowerSimple(c: Column): Column = lower(translate(c, "İΣ", "iσ"))

  /** [[lowerSimple]] for Spark-side SQL-string expressions over `text`. */
  private[graft] val LowerTextSql: String = "lower(translate(text, 'İΣ', 'iσ'))"

  /** [[lowerSimple]] for JVM-side literals (blocklist phrases, marker
    * tokens) that get compared against simple-folded column text: the same
    * two pre-folds, then ROOT toLowerCase (which is then purely simple).
    */
  private[graft] def lowerSimpleJvm(s: String): String =
    s.replace('İ', 'i').replace('Σ', 'σ').toLowerCase(java.util.Locale.ROOT)

  private def tokens(c: Column): Column = split(lowerSimple(c), " ")

  private def markerHits(c: Column, markers: Seq[String]): Column =
    size(filter(tokens(c), t => t.isInCollection(markers)))

  // --- token counting -------------------------------------------------------

  /** Per-document token/char counts: whitespace tokens, BPE-ish pre-tokens,
    * punctuation symbols, measured char length.
    */
  def tokenCounts(docs: DataFrame): DataFrame =
    graft.Tables.widen(docs)
      .select(
        col("doc_id"),
        size(regexp_extract_all(col("text"), lit(TokenRe), lit(0))).cast("long").as("ws_tokens"),
        size(regexp_extract_all(col("text"), lit(BpeRe), lit(0))).cast("long").as("bpe_tokens"),
        size(regexp_extract_all(col("text"), lit(PunctRe), lit(0))).cast("long").as("punct_count"),
        length(col("text")).cast("long").as("n_chars_measured")
      )
      .orderBy("doc_id")

  def oracleTokenCounts: String =
    s"""SELECT doc_id,
       |  CAST(len(regexp_extract_all(text, '$TokenRe')) AS BIGINT) AS ws_tokens,
       |  CAST(len(regexp_extract_all(text, '$BpeRe')) AS BIGINT) AS bpe_tokens,
       |  CAST(len(regexp_extract_all(text, '$PunctRe')) AS BIGINT) AS punct_count,
       |  CAST(length(text) AS BIGINT) AS n_chars_measured
       |FROM documents ORDER BY doc_id""".stripMargin

  /** Data-mixture composition: per (lang, source) doc and token counts plus
    * each stratum's share of the corpus — the report a training run's data
    * card starts from, and the input to mixture-weight decisions (upsample
    * low-resource languages, cap a crawl source). One scan, partial-agg
    * shuffle on a low-cardinality key; the share window moves only the
    * |strata| aggregated rows. Shares are quotients of exact longs rounded
    * to 6 (the repo float convention).
    */
  def mixture(docs: DataFrame): DataFrame = {
    val toks = size(regexp_extract_all(col("text"), lit(TokenRe), lit(0))).cast("long")
    // bounded-global-window: the share denominator is one corpus total over
    // the ALREADY-AGGREGATED |strata| rows (lang × source — hundreds at
    // most), so WindowExec's single-partition WARN is expected and harmless
    // here; the alternative (1-row totals aggregate broadcast back on)
    // re-plans the strata aggregate as a second scan unless exchange reuse
    // fires, making the window strictly the better plan.
    val all = org.apache.spark.sql.expressions.Window.partitionBy()
    graft.Tables.widen(docs)
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(toks).as("n_tokens"))
      .withColumn("doc_share", round(col("n_docs").cast("double") / sum(col("n_docs")).over(all), 6))
      .withColumn("token_share", round(col("n_tokens").cast("double") / sum(col("n_tokens")).over(all), 6))
      .orderBy("lang", "source")
  }

  def oracleMixture: String =
    s"""SELECT lang, source, n_docs, n_tokens,
       |  round(CAST(n_docs AS DOUBLE) / sum(n_docs) OVER (), 6) AS doc_share,
       |  round(CAST(n_tokens AS DOUBLE) / sum(n_tokens) OVER (), 6) AS token_share
       |FROM (
       |  SELECT lang, source, count(*) AS n_docs,
       |    CAST(sum(CAST(len(regexp_extract_all(text, '$TokenRe')) AS BIGINT)) AS BIGINT) AS n_tokens
       |  FROM documents GROUP BY lang, source
       |) ORDER BY lang, source""".stripMargin

  /** The [[mixture]] report with ROLLUP subtotals — per (lang, source), per
    * lang, and grand-total rows in ONE aggregation pass (grouping sets:
    * Spark's rollup = the SQL-standard ROLLUP Expand, partial-aggregated
    * map-side like any groupBy). `gid` is the SQL-standard GROUPING bitmask
    * (GROUPING(lang)·2 + GROUPING(source) — identical in both engines), so
    * subtotal rows are distinguishable from a real NULL stratum.
    */
  def mixtureRollup(docs: DataFrame): DataFrame = {
    val toks = size(regexp_extract_all(col("text"), lit(TokenRe), lit(0))).cast("long")
    graft.Tables.widen(docs)
      .rollup(col("lang"), col("source"))
      .agg(
        grouping_id().as("gid"),
        count(lit(1)).as("n_docs"),
        sum(toks).as("n_tokens"))
      .select(col("lang"), col("source"), col("gid").cast("long").as("gid"), col("n_docs"), col("n_tokens"))
      .orderBy("gid", "lang", "source")
  }

  def oracleMixtureRollup: String =
    s"""SELECT lang, source,
       |  CAST(GROUPING(lang) * 2 + GROUPING(source) AS BIGINT) AS gid,
       |  count(*) AS n_docs,
       |  CAST(sum(CAST(len(regexp_extract_all(text, '$TokenRe')) AS BIGINT)) AS BIGINT) AS n_tokens
       |FROM documents GROUP BY ROLLUP (lang, source)
       |ORDER BY gid, lang NULLS FIRST, source NULLS FIRST""".stripMargin

  /** The [[mixture]] report with CUBE totals — ROLLUP's hierarchy PLUS the
    * per-source marginal (gid=2) the rollup can't express: every subset of
    * {lang, source} aggregated in the ONE Expand pass. Same GROUPING
    * bitmask discipline as [[mixtureRollup]]; the gid=2 slice answers "how
    * big is each source across languages" without a second query.
    */
  def mixtureCube(docs: DataFrame): DataFrame = {
    val toks = size(regexp_extract_all(col("text"), lit(TokenRe), lit(0))).cast("long")
    graft.Tables.widen(docs)
      .cube(col("lang"), col("source"))
      .agg(
        grouping_id().as("gid"),
        count(lit(1)).as("n_docs"),
        sum(toks).as("n_tokens"))
      .select(col("lang"), col("source"), col("gid").cast("long").as("gid"), col("n_docs"), col("n_tokens"))
      .orderBy("gid", "lang", "source")
  }

  def oracleMixtureCube: String =
    s"""SELECT lang, source,
       |  CAST(GROUPING(lang) * 2 + GROUPING(source) AS BIGINT) AS gid,
       |  count(*) AS n_docs,
       |  CAST(sum(CAST(len(regexp_extract_all(text, '$TokenRe')) AS BIGINT)) AS BIGINT) AS n_tokens
       |FROM documents GROUP BY CUBE (lang, source)
       |ORDER BY gid, lang NULLS FIRST, source NULLS FIRST""".stripMargin

  /** The mixture report PIVOTED wide: one row per source, one count column
    * per language — the spreadsheet-shaped data card. The language list is
    * explicit (pivot over an enumerated domain — never a schema inferred
    * from a scan, which would be nondeterministic at 100 TB and costs an
    * extra pass); missing (source, lang) cells are 0, not null.
    */
  def langPivot(docs: DataFrame, langs: Seq[String]): DataFrame = {
    require(langs.nonEmpty, "langPivot needs an explicit language list")
    val counted = graft.Tables.widen(docs)
      .groupBy(col("source"))
      .pivot("lang", langs)
      .count()
    langs.foldLeft(counted)((df, l) => df.withColumn(l, coalesce(col(s"`$l`"), lit(0L))))
      .select(col("source") +: langs.map(l => col(s"`$l`").as(s"n_$l")): _*)
      .orderBy("source")
  }

  def oracleLangPivot(langs: Seq[String]): String = {
    val cols = langs
      .map(l => s"CAST(sum(CASE WHEN lang = '$l' THEN 1 ELSE 0 END) AS BIGINT) AS n_$l")
      .mkString(",\n  ")
    s"""SELECT source,
       |  $cols
       |FROM documents GROUP BY source ORDER BY source""".stripMargin
  }

  /** BM25 relevance of every document against a fixed query-token set — the
    * retrieval scorer a curation pipeline uses to mine topic-relevant or
    * quality-like documents out of a crawl (Robertson/Spärck Jones BM25 with
    * the Lucene idf variant `ln((N − df + 0.5)/(df + 0.5) + 1)` and the
    * standard k1/b defaults). Top-k by score, doc_id tie-break.
    *
    * Cross-engine exactness follows [[unigramScores]]: per-(doc, token)
    * scores go through DECIMAL(18,6) so the per-doc sum is EXACT (float
    * summation order is engine-dependent); the one `ln` per query token is
    * the same ≤1-ulp-then-round risk the unigram log10 already carries.
    *
    * Plan: ONE scan projects each doc's length (a per-row regexp count — no
    * explode) and its per-query-token tf; document frequency derives from
    * the tf relation (df(t) = #rows with that token — no second explode);
    * the ≤|query| df rows and the 1-row corpus stats broadcast back →
    * decimal-exact per-doc sum → global top-k (TakeOrdered-sized). The
    * token stream is exploded exactly once, and only the query-token subset
    * of it ever shuffles.
    */
  def bm25(
      docs: DataFrame,
      queryTokens: Seq[String],
      k: Int = 20,
      k1: Double = 1.2,
      b: Double = 0.75
  ): DataFrame = {
    require(queryTokens.nonEmpty, "bm25 needs query tokens")
    val base = graft.Tables.widen(docs)
    // per-row: total token count (scalar regexp count) — the explode-free dl
    val withDl = base.select(
      col("doc_id"),
      col("text"),
      size(expr(s"regexp_extract_all($LowerTextSql, '$TokenRe', 0)")).cast("long").as("dl")
    )
    val stats = withDl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
    val qt = withDl.select(
      col("doc_id"),
      col("dl"),
      explode(expr(s"regexp_extract_all($LowerTextSql, '$TokenRe', 0)")).as("token")
    ).where(col("token").isInCollection(queryTokens))
    // dl is functionally determined by doc_id; first() carries it through
    val tf = qt.groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"), first(col("dl")).as("dl"))
    val dfreq = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val avgdl = col("sum_dl").cast("double") / col("n_docs")
    val idf = log((col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0))
    val tfn = col("tf") * (lit(k1) + 1.0) /
      (col("tf") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl") / avgdl))
    tf
      .join(broadcast(dfreq), Seq("token"))
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), (idf * tfn).cast("decimal(18,6)").as("s"))
      .groupBy(col("doc_id"))
      .agg(sum(col("s")).as("score_dec"))
      .select(col("doc_id"), round(col("score_dec").cast("double"), 6).as("score_r"))
      .orderBy(col("score_r").desc, col("doc_id"))
      .limit(k)
  }

  def oracleBm25(
      queryTokens: Seq[String],
      k: Int = 20,
      k1: Double = 1.2,
      b: Double = 0.75
  ): String = {
    val qlist = queryTokens.map(t => s"'${t.replace("'", "''")}'").mkString(", ")
    // decimal literals parse as DECIMAL in DuckDB but the Spark side uses
    // double lits — force DOUBLE so both engines run the same IEEE arithmetic
    val k1d = s"CAST($k1 AS DOUBLE)"
    val bd  = s"CAST($b AS DOUBLE)"
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '$TokenRe')) AS token FROM documents),
       |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
       |stats AS (
       |  SELECT (SELECT count(*) FROM documents) AS n_docs, (SELECT sum(dl) FROM dl) AS sum_dl),
       |qt AS (SELECT doc_id, token FROM toks WHERE token IN ($qlist)),
       |tf AS (SELECT doc_id, token, count(*) AS tf FROM qt GROUP BY doc_id, token),
       |dfreq AS (SELECT token, count(DISTINCT doc_id) AS df FROM qt GROUP BY token),
       |scored AS (
       |  SELECT tf.doc_id,
       |    CAST(
       |      ln((s.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1.0) *
       |      (tf.tf * ($k1d + 1.0) /
       |        (tf.tf + $k1d * (1.0 - $bd + $bd * dl.dl / (CAST(s.sum_dl AS DOUBLE) / s.n_docs))))
       |      AS DECIMAL(18,6)) AS s
       |  FROM tf JOIN dfreq ON tf.token = dfreq.token
       |  JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats s)
       |SELECT doc_id, round(CAST(sum(s) AS DOUBLE), 6) AS score_r
       |FROM scored GROUP BY doc_id
       |ORDER BY score_r DESC, doc_id LIMIT $k""".stripMargin
  }

  /** DSIR-style importance log-weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling" — the published recipe:
    * score every raw document by how target-like its features are, then
    * resample by weight). Features here are the unigram bag; the weight is
    *
    *   log w(doc) = Σ_tokens [ log p̂_target(t) − log p̂_source(t) ]
    *
    * with add-α smoothed token probabilities (α/(N + αV) for unseen
    * tokens), target = the `targetLang` slice of the same corpus, source =
    * the whole corpus. High-weight docs look like the target distribution —
    * the resampling pool for a language-balanced or domain-focused subset.
    *
    * Cross-engine exactness: identical to [[unigramScores]] — per-token
    * log-ratios pass through DECIMAL(18,6), per-doc sums are exact, the two
    * log10 calls carry the same ≤1-ulp-then-round risk already accepted
    * there.
    *
    * Scale shape: one `explode_outer` of the token arrays is the scoring
    * stream — a token-less document contributes one null-token row, so
    * every document stays in it and no join recovers the missing ones. The
    * per-token counts are one map-side-combinable aggregate; the corpus
    * totals ns/nt/v are partition-less windows over its ≤|vocab| aggregated
    * rows (never over the raw stream), so no 1-row total is aggregated and
    * cross-joined separately. The ratio table broadcasts back onto the
    * stream (left join), and one groupBy(doc_id) with count(token) yields
    * every document's row (doc_id is the table's key).
    */
  /** The (doc_id, n_tokens, logweight_r) relation [[dsirWeights]] and
    * [[dsirTop]] share — every doc present, token-less docs at weight 0.
    */
  private def dsirPerDoc(docs: DataFrame, targetLang: String, alpha: Double): DataFrame = {
    val toks = graft.Tables.widen(docs).select(
      col("doc_id"),
      col("lang"),
      explode_outer(expr(s"regexp_extract_all($LowerTextSql, '$TokenRe', 0)")).as("token")
    )
    // bounded-global-window: the corpus totals run over the ALREADY-
    // AGGREGATED per-token rows (|vocab|, sublinear in corpus size), never
    // over the token stream; one window pass replaces the 1-row totals
    // aggregate and its cross join
    val all = org.apache.spark.sql.expressions.Window.partitionBy()
    val a   = lit(alpha)
    val lr = log10((col("ct") + a) / (col("nt") + a * col("v"))) -
      log10((col("cs") + a) / (col("ns") + a * col("v")))
    val ratios = toks
      .where(col("token").isNotNull)
      .groupBy(col("token"))
      .agg(
        count(lit(1)).as("cs"),
        sum(when(col("lang") === targetLang, 1L).otherwise(0L)).as("ct")
      )
      .select(col("token"), col("cs"), col("ct"),
        sum(col("cs")).over(all).as("ns"), sum(col("ct")).over(all).as("nt"),
        count(lit(1)).over(all).as("v"))
      .select(col("token"), lr.cast("decimal(18,6)").as("lr"))
    toks
      .join(broadcast(ratios), Seq("token"), "left")
      .groupBy(col("doc_id"))
      .agg(count(col("token")).as("n_tokens"), sum(col("lr")).as("sum_lr"))
      .select(
        col("doc_id"),
        col("n_tokens"),
        round(coalesce(col("sum_lr").cast("double"), lit(0.0)), 6).as("logweight_r")
      )
  }

  def dsirWeights(docs: DataFrame, targetLang: String = "en", alpha: Double = 0.5): DataFrame =
    dsirPerDoc(docs, targetLang, alpha).orderBy("doc_id")

  /** The selection step DSIR scores exist for: the importance-ranked top-`n`
    * cut of the corpus (highest target/source log-weight first, doc_id
    * tie-break — a total order, so the cut is deterministic on every engine).
    * Plan: TakeOrderedAndProject — per-partition top-n then a driver-side
    * merge of P·n rows, never a full global sort of the corpus
    * (plan-shape-asserted).
    */
  def dsirTop(docs: DataFrame, n: Int, targetLang: String = "en", alpha: Double = 0.5): DataFrame = {
    require(n > 0, s"n must be positive (got $n)")
    dsirPerDoc(docs, targetLang, alpha)
      .orderBy(col("logweight_r").desc, col("doc_id"))
      .limit(n)
  }

  def oracleDsirWeights(targetLang: String = "en", alpha: Double = 0.5): String = {
    val a = s"CAST($alpha AS DOUBLE)"
    s"""WITH toks AS (
       |  SELECT doc_id, lang, unnest(regexp_extract_all(lower(text), '$TokenRe')) AS token
       |  FROM documents),
       |counts AS (
       |  SELECT token, count(*) AS cs,
       |    sum(CASE WHEN lang = '$targetLang' THEN 1 ELSE 0 END) AS ct
       |  FROM toks GROUP BY token),
       |totals AS (SELECT sum(cs) AS ns, sum(ct) AS nt, count(*) AS v FROM counts),
       |ratios AS (
       |  SELECT c.token,
       |    CAST(log10((c.ct + $a) / (t.nt + $a * t.v)) -
       |         log10((c.cs + $a) / (t.ns + $a * t.v)) AS DECIMAL(18,6)) AS lr
       |  FROM counts c CROSS JOIN totals t),
       |perdoc AS (
       |  SELECT tk.doc_id, count(*) AS n_tokens, sum(r.lr) AS sum_lr
       |  FROM toks tk JOIN ratios r ON tk.token = r.token GROUP BY tk.doc_id)
       |SELECT d.doc_id,
       |  coalesce(p.n_tokens, 0) AS n_tokens,
       |  round(coalesce(CAST(p.sum_lr AS DOUBLE), 0.0), 6) AS logweight_r
       |FROM documents d LEFT JOIN perdoc p ON d.doc_id = p.doc_id
       |ORDER BY d.doc_id""".stripMargin
  }

  /** DuckDB twin of [[dsirTop]]: the [[oracleDsirWeights]] relation under the
    * identical (logweight_r DESC, doc_id) total order, cut at `n`. The rank
    * key is the ROUNDED weight on both sides, so rounding can never reorder
    * one engine against the other.
    */
  def oracleDsirTop(n: Int, targetLang: String = "en", alpha: Double = 0.5): String = {
    val weights = oracleDsirWeights(targetLang, alpha)
    val body    = weights.substring(0, weights.lastIndexOf("ORDER BY"))
    s"""${body}ORDER BY logweight_r DESC, d.doc_id LIMIT $n""".stripMargin
  }

  /** Vocabulary coverage curve — the data-card statistic behind tokenizer
    * budget decisions: what share of all token OCCURRENCES the top-k
    * vocabulary covers, for each k in `ks`. Total order (count desc, token
    * asc) makes the curve deterministic under count ties.
    *
    * Scale shape: token counts are one map-side-combinable aggregate; only
    * the top max(k) rows ever leave the cluster (TakeOrdered — a bounded
    * driver merge, never a |vocab|-row window or sort), and the cumulative
    * sum is driver arithmetic over that bounded set. Exact long counts; the
    * share is the one rounded long/long quotient.
    */
  def vocabCoverage(docs: DataFrame, ks: Seq[Int] = Seq(5, 10, 20)): DataFrame = {
    require(ks.nonEmpty && ks.forall(_ > 0), s"ks must be positive (got $ks)")
    val spark = docs.sparkSession
    import spark.implicits._
    // two actions (grand total + top-k) over one aggregate: persist so the
    // explode+groupBy corpus scan runs once, not twice
    val counts = graft.Tables.widen(docs)
      .select(explode(expr(s"regexp_extract_all($LowerTextSql, '$TokenRe', 0)")).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n"))
      .persist()
    try {
      // coalesce: sum over an empty aggregate is NULL, and the share below
      // guards total = 0 (an empty corpus reports NULL shares on both
      // engines, not a crash)
      val total = counts.agg(coalesce(sum(col("n")), lit(0L))).first().getLong(0)
      val top = counts
        .orderBy(col("n").desc, col("token"))
        .limit(ks.max)
        .select(col("n"))
        .collect()
        .map(_.getLong(0))
      val cum = top.scanLeft(0L)(_ + _) // cum(i) = occurrences covered by top-i
      val rows = ks.sorted.map(k => (k, cum(math.min(k, top.length)), total))
      rows.toDF("k", "covered", "total")
        .selectExpr(
          "k", "covered", "nullif(total, 0) AS total",
          "CASE WHEN total > 0 THEN round(CAST(covered AS DOUBLE) / total, 6) END AS share_r")
        .orderBy("k")
    } finally counts.unpersist(false)
  }

  def oracleVocabCoverage(ks: Seq[Int] = Seq(5, 10, 20)): String = {
    val selects = ks.sorted.map { k =>
      s"""SELECT $k AS k,
         |  CAST(coalesce(sum(CASE WHEN rk <= $k THEN n END), 0) AS BIGINT) AS covered,
         |  CAST(sum(n) AS BIGINT) AS total,
         |  round(CAST(coalesce(sum(CASE WHEN rk <= $k THEN n END), 0) AS DOUBLE) / sum(n), 6) AS share_r
         |FROM ranked""".stripMargin
    }
    s"""WITH toks AS (
       |  SELECT unnest(regexp_extract_all(lower(text), '$TokenRe')) AS token FROM documents),
       |counts AS (SELECT token, count(*) AS n FROM toks GROUP BY token),
       |ranked AS (SELECT n, row_number() OVER (ORDER BY n DESC, token) AS rk FROM counts)
       |${selects.mkString("\nUNION ALL\n")}
       |ORDER BY k""".stripMargin
  }

  /** Sliding-window document chunking — the RAG/pretokenization splitter:
    * windows of `window` tokens advancing by `stride` (overlap = window −
    * stride), the last chunk clamped to the document end. Chunk count is
    * pure integer arithmetic (1 + ⌈max(0, n − W) / S⌉), so both engines cut
    * identical chunks; the chunk text itself is declared, putting the
    * tokenizer + join round-trip under the hash.
    *
    * Scale shape: a per-row generator (split → sequence → posexplode) — no
    * shuffle beyond the declared output order; expansion factor ≈ n/S rows
    * per doc, each carrying one window.
    */
  def chunks(docs: DataFrame, window: Int = 32, stride: Int = 24): DataFrame = {
    require(window > 0 && stride > 0 && stride <= window,
      s"need 0 < stride <= window (got window=$window stride=$stride)")
    graft.Tables.widen(docs)
      .select(col("doc_id"), expr(s"regexp_extract_all(text, '$TokenRe', 0)").as("ts"))
      .withColumn("n", size(col("ts")))
      .where(col("n") > 0)
      .withColumn("nc",
        (lit(1) + when(col("n") > window, expr(s"(n - $window + ${stride - 1}) div $stride")).otherwise(0L)).cast("int"))
      .select(col("doc_id"), col("ts"), col("n"),
        posexplode(expr(s"transform(sequence(0, nc - 1), i -> struct(i AS ci, array_join(slice(ts, i * $stride + 1, $window), ' ') AS ctext))")).as(Seq("pos", "c")))
      .select(
        col("doc_id"),
        col("c.ci").cast("long").as("chunk_idx"),
        (col("c.ci") * stride + 1).cast("long").as("start_tok"),
        least(col("n") - col("c.ci") * stride, lit(window)).cast("long").as("n_tok"),
        col("c.ctext").as("chunk_text")
      )
      .orderBy("doc_id", "chunk_idx")
  }

  def oracleChunks(window: Int = 32, stride: Int = 24): String =
    s"""WITH toks AS (
       |  SELECT doc_id, regexp_extract_all(text, '$TokenRe') AS ts FROM documents),
       |base AS (SELECT doc_id, ts, len(ts) AS n FROM toks WHERE len(ts) > 0),
       |k AS (SELECT doc_id, ts, n,
       |  1 + CASE WHEN n > $window THEN (n - $window + ${stride - 1}) // $stride ELSE 0 END AS nc
       |FROM base)
       |SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
       |  CAST(i * $stride + 1 AS BIGINT) AS start_tok,
       |  CAST(least(n - i * $stride, $window) AS BIGINT) AS n_tok,
       |  array_to_string(list_slice(ts, i * $stride + 1, i * $stride + $window), ' ') AS chunk_text
       |FROM k, unnest(range(nc)) AS t(i)
       |ORDER BY doc_id, chunk_idx""".stripMargin

  // --- corpus statistics ----------------------------------------------------

  /** Corpus statistics grouped by the labeled language: doc counts, token
    * sums, char ranges, averages rounded to 6 decimals (the repo-wide float
    * canonicalization convention — identical IEEE quotients can still render
    * differently across engines). One scan + one partial-agg shuffle on a
    * low-cardinality key.
    */
  def textStats(docs: DataFrame): DataFrame = {
    val toks = size(regexp_extract_all(col("text"), lit(TokenRe), lit(0))).cast("long")
    graft.Tables.widen(docs)
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(toks).as("total_tokens"),
        sum(length(col("text")).cast("long")).as("total_chars"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars")
      )
      .withColumn("avg_tokens", round(col("total_tokens").cast("double") / col("n_docs"), 6))
      .orderBy("lang")
  }

  def oracleTextStats: String =
    s"""SELECT lang, n_docs,
       |  CAST(total_tokens AS BIGINT) AS total_tokens,
       |  CAST(total_chars AS BIGINT) AS total_chars,
       |  min_chars, max_chars,
       |  round(CAST(total_tokens AS DOUBLE) / n_docs, 6) AS avg_tokens
       |FROM (
       |  SELECT lang,
       |    count(*) AS n_docs,
       |    sum(CAST(len(regexp_extract_all(text, '$TokenRe')) AS BIGINT)) AS total_tokens,
       |    sum(CAST(length(text) AS BIGINT)) AS total_chars,
       |    min(n_chars) AS min_chars,
       |    max(n_chars) AS max_chars
       |  FROM documents GROUP BY lang
       |) ORDER BY lang""".stripMargin

  // --- language identification ----------------------------------------------

  /** Stopword-scored language ID per document: score = marker-token hits per
    * language, argmax with [[langPriority]] tie-break, 'und' when no marker
    * hits at all. Pure per-row computation — no shuffle.
    */
  def langId(docs: DataFrame): DataFrame = {
    val scores = langMarkers.map { case (l, ms) => l -> markerHits(col("text"), ms) }
    val maxScore = scores.map(_._2).reduce((a, b) => greatest(a, b))
    // first language (in priority order) whose score equals the max
    val pred = scores.reverse.foldLeft(lit("und")) { case (acc, (l, s)) =>
      when(s === maxScore && maxScore > 0, lit(l)).otherwise(acc)
    }
    graft.Tables.widen(docs)
      .select(
        col("doc_id"),
        col("lang"),
        pred.as("pred_lang"),
        maxScore.cast("long").as("marker_hits")
      )
      .orderBy("doc_id")
  }

  def oracleLangId: String = {
    def hitExpr(ms: Seq[String]): String = {
      val set = ms.map(m => s"'${m}'").mkString(", ")
      s"len(list_filter(string_split(lower(text), ' '), t -> t IN ($set)))"
    }
    val scoreCols = langMarkers.map { case (l, ms) => s"${hitExpr(ms)} AS s_$l" }.mkString(", ")
    val scoreNames = langPriority.map(l => s"s_$l").mkString(", ")
    val maxExpr = langPriority.map(l => s"s_$l").mkString("greatest(", ", ", ")")
    val branches = langPriority
      .map(l => s"WHEN s_$l = mx AND mx > 0 THEN '$l'")
      .mkString(" ")
    s"""SELECT doc_id, lang,
       |  CASE $branches ELSE 'und' END AS pred_lang,
       |  CAST(mx AS BIGINT) AS marker_hits
       |FROM (
       |  SELECT doc_id, lang, $scoreNames, $maxExpr AS mx FROM (
       |    SELECT doc_id, lang, $scoreCols FROM documents
       |  )
       |) ORDER BY doc_id""".stripMargin
  }

  // --- quality scoring ------------------------------------------------------

  /** Per-document quality signals + a thresholded class. All signals are
    * integer counts or exact int/int divisions, so the class boundaries are
    * bit-deterministic across engines.
    */
  def quality(docs: DataFrame): DataFrame = {
    val toks  = size(regexp_extract_all(col("text"), lit(TokenRe), lit(0))).cast("long")
    val punct = size(regexp_extract_all(col("text"), lit(PunctRe), lit(0))).cast("long")
    val stops = markerHits(col("text"), langMarkers.head._2).cast("long") // en markers
    val len   = length(col("text")).cast("long")
    val base = graft.Tables.widen(docs).select(
      col("doc_id"),
      toks.as("n_tokens"),
      punct.as("punct_count"),
      stops.as("stop_hits"),
      len.as("n_chars_measured")
    )
    base
      .withColumn(
        "stop_ratio",
        when(col("n_tokens") > 0, col("stop_hits").cast("double") / col("n_tokens")).otherwise(0.0)
      )
      .withColumn(
        "punct_ratio",
        when(col("n_chars_measured") > 0, col("punct_count").cast("double") / col("n_chars_measured"))
          .otherwise(0.0)
      )
      .withColumn(
        "quality_class",
        when(col("n_tokens") >= 20 && col("stop_hits") >= 1 && col("punct_ratio") < 0.1, "good")
          .when(col("n_tokens") >= 5, "fair")
          .otherwise("poor")
      )
      .orderBy("doc_id")
  }

  def oracleQuality: String = {
    val enSet = langMarkers.head._2.map(m => s"'$m'").mkString(", ")
    s"""SELECT doc_id, n_tokens, punct_count, stop_hits, n_chars_measured,
       |  (CASE WHEN n_tokens > 0 THEN CAST(stop_hits AS DOUBLE) / n_tokens ELSE 0.0 END) AS stop_ratio,
       |  (CASE WHEN n_chars_measured > 0 THEN CAST(punct_count AS DOUBLE) / n_chars_measured ELSE 0.0 END) AS punct_ratio,
       |  (CASE WHEN n_tokens >= 20 AND stop_hits >= 1
       |        AND (CASE WHEN n_chars_measured > 0 THEN CAST(punct_count AS DOUBLE) / n_chars_measured ELSE 0.0 END) < 0.1
       |        THEN 'good'
       |        WHEN n_tokens >= 5 THEN 'fair' ELSE 'poor' END) AS quality_class
       |FROM (
       |  SELECT doc_id,
       |    CAST(len(regexp_extract_all(text, '$TokenRe')) AS BIGINT) AS n_tokens,
       |    CAST(len(regexp_extract_all(text, '$PunctRe')) AS BIGINT) AS punct_count,
       |    CAST(len(list_filter(string_split(lower(text), ' '), t -> t IN ($enSet))) AS BIGINT) AS stop_hits,
       |    CAST(length(text) AS BIGINT) AS n_chars_measured
       |  FROM documents
       |) ORDER BY doc_id""".stripMargin
  }

  // --- Gopher-style rule gate -----------------------------------------------

  /** Gopher-style quality-rule gate (Rae et al., "Scaling Language Models"
    * §A1.1 — the published heuristic family, thresholds re-sited where this
    * corpus makes every rule BITE in both directions): per-document signals +
    * one boolean per rule + the conjunctive gate. The reference pipeline has
    * no document gate at all; this is the filter a 100 TB curation run
    * applies before any expensive dedup/LM scoring.
    *
    * Cross-engine exactness: every signal is an integer count or an exact
    * int/int IEEE quotient, and every rule compares the RAW quotient (not the
    * rounded rendering) — identical compares in both engines, no libm
    * anywhere. Rounded renderings are published alongside for humans. Pure
    * per-row projection: no shuffle, no explode.
    */
  def gopherQuality(docs: DataFrame): DataFrame = {
    val ts    = tokens(col("text"))
    val nToks = size(regexp_extract_all(col("text"), lit(TokenRe), lit(0))).cast("long")
    // Σ token lengths = count of non-space chars (tokens are non-space runs)
    val tokChars = length(translate(col("text"), " ", "")).cast("long")
    val meanLen  = when(nToks > 0, tokChars.cast("double") / nToks).otherwise(lit(0.0))
    val nDist    = size(array_distinct(ts)).cast("long")
    val distFrac = when(size(ts) > 0, nDist.cast("double") / size(ts)).otherwise(lit(0.0))
    val stopDistinct = langMarkers.head._2
      .map(m => when(array_contains(ts, m), 1L).otherwise(0L))
      .reduce(_ + _)
    val passWc   = nToks >= GopherMinTokens && nToks <= GopherMaxTokens
    val passMwl  = meanLen >= GopherMinMeanLen && meanLen <= GopherMaxMeanLen
    val passDist = distFrac >= GopherMinDistinct
    val passStop = stopDistinct >= GopherMinStopwords
    graft.Tables.widen(docs)
      .select(
        col("doc_id"),
        nToks.as("n_tokens"),
        round(meanLen, 6).as("mean_token_len_r"),
        round(distFrac, 6).as("distinct_ratio_r"),
        stopDistinct.as("stop_distinct"),
        passWc.as("pass_wordcount"),
        passMwl.as("pass_meanlen"),
        passDist.as("pass_distinct"),
        passStop.as("pass_stopwords"),
        (passWc && passMwl && passDist && passStop).as("pass_gopher")
      )
      .orderBy("doc_id")
  }

  /** Rule thresholds, sited where the sf0.01 distributions (tokens 10-99,
    * mean run length 3.7-5.3, distinct fraction 0.28-1.0) fire every rule in
    * both directions — each boundary is hash-checked, not decorative.
    */
  val GopherMinTokens: Long      = 20L
  val GopherMaxTokens: Long      = 90L
  val GopherMinMeanLen: Double   = 4.0
  val GopherMaxMeanLen: Double   = 5.0
  val GopherMinDistinct: Double  = 0.35
  val GopherMinStopwords: Long   = 2L

  def oracleGopherQuality: String = {
    val stopSum = langMarkers.head._2
      .map(m => s"(CASE WHEN list_contains(ts, '$m') THEN 1 ELSE 0 END)")
      .mkString(" + ")
    s"""SELECT doc_id, n_tokens,
       |  round(mean_len, 6) AS mean_token_len_r,
       |  round(dist_frac, 6) AS distinct_ratio_r,
       |  stop_distinct,
       |  pass_wordcount, pass_meanlen, pass_distinct, pass_stopwords,
       |  (pass_wordcount AND pass_meanlen AND pass_distinct AND pass_stopwords) AS pass_gopher
       |FROM (
       |  SELECT doc_id, n_tokens, mean_len, dist_frac, stop_distinct,
       |    (n_tokens >= $GopherMinTokens AND n_tokens <= $GopherMaxTokens) AS pass_wordcount,
       |    (mean_len >= $GopherMinMeanLen AND mean_len <= $GopherMaxMeanLen) AS pass_meanlen,
       |    (dist_frac >= $GopherMinDistinct) AS pass_distinct,
       |    (stop_distinct >= $GopherMinStopwords) AS pass_stopwords
       |  FROM (
       |    SELECT doc_id,
       |      CAST(len(regexp_extract_all(text, '$TokenRe')) AS BIGINT) AS n_tokens,
       |      (CASE WHEN len(regexp_extract_all(text, '$TokenRe')) > 0
       |            THEN CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(regexp_extract_all(text, '$TokenRe'))
       |            ELSE 0.0 END) AS mean_len,
       |      (CASE WHEN len(ts) > 0
       |            THEN CAST(len(list_distinct(ts)) AS DOUBLE) / len(ts) ELSE 0.0 END) AS dist_frac,
       |      CAST($stopSum AS BIGINT) AS stop_distinct
       |    FROM (SELECT doc_id, text, string_split(lower(text), ' ') AS ts FROM documents)
       |  )
       |) ORDER BY doc_id""".stripMargin
  }

  // --- TF-IDF keyword extraction --------------------------------------------

  /** Top-k TF-IDF terms per document — the keyword/topic-tag extraction pass
    * (classic tf·idf with idf = ln(N/df)). Per-group top-k via row_number
    * over the ROUNDED score (score_r DESC, token ASC) so the rank ordering
    * is cross-engine deterministic; the one `ln` per (doc, token) carries
    * the repo's accepted ≤1-ulp-then-round risk (cf. [[bm25]]).
    *
    * Plan: one explode → (doc, token) tf (map-side combinable) → df derived
    * from the tf relation (no second explode) → broadcast of the 1-row count
    * → per-doc window on the tf rows only (narrow rows cross the doc
    * exchange). At 100 TB the tf relation is the big side and everything it
    * shuffles through is (doc_id, token, counts) — never raw text.
    */
  def tfidfKeywords(docs: DataFrame, k: Int = 3): DataFrame = {
    val base = graft.Tables.widen(docs)
    val toks = base.select(
      col("doc_id"),
      explode(expr(s"regexp_extract_all($LowerTextSql, '$TokenRe', 0)")).as("token")
    )
    val tf     = toks.groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
    val dfreq  = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val nDocs  = base.agg(count(lit(1)).as("n_docs"))
    val scoreR = round(col("tf") * log(col("n_docs").cast("double") / col("df")), 6)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("score_r").desc, col("token"))
    tf.join(dfreq, Seq("token"))
      .crossJoin(broadcast(nDocs))
      .withColumn("score_r", scoreR)
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("doc_id"), col("rank").cast("long").as("rank"), col("token"), col("tf"), col("df"), col("score_r"))
      .orderBy("doc_id", "rank")
  }

  def oracleTfidfKeywords(k: Int = 3): String =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '$TokenRe')) AS token FROM documents),
       |tf AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY doc_id, token),
       |dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
       |n AS (SELECT count(*) AS n_docs FROM documents),
       |scored AS (
       |  SELECT tf.doc_id, tf.token, tf.tf, dfreq.df,
       |    round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / dfreq.df), 6) AS score_r
       |  FROM tf JOIN dfreq ON tf.token = dfreq.token CROSS JOIN n),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score_r DESC, token) AS rnk
       |  FROM scored)
       |SELECT doc_id, CAST(rnk AS BIGINT) AS rank, token, tf, df, score_r
       |FROM ranked WHERE rnk <= $k ORDER BY doc_id, rnk""".stripMargin

  // --- n-gram novelty / boilerplate discovery -------------------------------

  /** Per-document n-gram novelty: the fraction of a document's DISTINCT
    * 3-gram shingles first seen in THIS document (first-seen = min doc_id
    * over the corpus — the ingest-order convention the incremental-dedup
    * tier already uses). Low novelty marks near-copies and template spam
    * even when no single pair crosses a dedup threshold; it is the
    * "how much of this is new content" signal an incremental crawl keeps.
    *
    * Shingles are the SAME 3-gram construction the dedup tier hashes
    * ([[graft.dedup.DedupOps.shingleArray]]), deduplicated per row BEFORE
    * the explode, so the shuffled stream is distinct (doc, shingle) rows.
    * Plan: shingle-key aggregate (map-side combinable min) → join back on
    * shingle → doc-key aggregate; everything that crosses an exchange is a
    * narrow (id, shingle) row.
    */
  def novelty(docs: DataFrame): DataFrame = {
    val base = graft.Tables.widen(docs)
    val sh   = graft.dedup.DedupOps.shingleArray(tokens(col("text")))
    val pairs = base.select(col("doc_id"), explode(array_distinct(sh)).as("shingle"))
    val first = pairs.groupBy(col("shingle")).agg(min(col("doc_id")).as("first_doc"))
    val per = pairs
      .join(first, Seq("shingle"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_shingles"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_novel")
      )
    base
      .select(col("doc_id"))
      .join(per, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        when(coalesce(col("n_shingles"), lit(0L)) > 0,
          round(col("n_novel").cast("double") / col("n_shingles"), 6)).otherwise(lit(0.0)).as("novelty_r")
      )
      .orderBy("doc_id")
  }

  def oracleNovelty: String =
    s"""WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS ts FROM documents),
       |sh AS (
       |  SELECT doc_id, unnest(list_distinct(
       |    list_transform(range(1, len(ts)-1), i -> concat(ts[i], ' ', ts[i+1], ' ', ts[i+2])))) AS shingle
       |  FROM d),
       |fs AS (SELECT shingle, min(doc_id) AS first_doc FROM sh GROUP BY shingle),
       |per AS (
       |  SELECT s.doc_id, count(*) AS n_shingles,
       |    sum(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END) AS n_novel
       |  FROM sh s JOIN fs f ON s.shingle = f.shingle GROUP BY s.doc_id)
       |SELECT d.doc_id,
       |  coalesce(p.n_shingles, 0) AS n_shingles,
       |  CAST(coalesce(p.n_novel, 0) AS BIGINT) AS n_novel,
       |  (CASE WHEN coalesce(p.n_shingles, 0) > 0
       |        THEN round(CAST(p.n_novel AS DOUBLE) / p.n_shingles, 6) ELSE 0.0 END) AS novelty_r
       |FROM d LEFT JOIN per p ON d.doc_id = p.doc_id
       |ORDER BY d.doc_id""".stripMargin

  /** Corpus boilerplate discovery: the top-K 3-gram shingles by DOCUMENT
    * frequency (distinct docs containing the shingle, not occurrences — the
    * df signal that separates template boilerplate from one document
    * repeating itself). Deterministic (df DESC, shingle) cut; minDf guards
    * the long tail so the TakeOrdered input is the df≥minDf head only.
    */
  def boilerplateShingles(docs: DataFrame, minDf: Long = 3L, k: Int = 40): DataFrame = {
    val sh = graft.dedup.DedupOps.shingleArray(tokens(col("text")))
    graft.Tables.widen(docs)
      .select(col("doc_id"), explode(array_distinct(sh)).as("shingle"))
      .groupBy(col("shingle"))
      .agg(count(lit(1)).as("df"))
      .where(col("df") >= minDf)
      .orderBy(col("df").desc, col("shingle"))
      .limit(k)
  }

  def oracleBoilerplateShingles(minDf: Long = 3L, k: Int = 40): String =
    s"""WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS ts FROM documents),
       |sh AS (
       |  SELECT doc_id, unnest(list_distinct(
       |    list_transform(range(1, len(ts)-1), i -> concat(ts[i], ' ', ts[i+1], ' ', ts[i+2])))) AS shingle
       |  FROM d)
       |SELECT shingle, count(*) AS df FROM sh GROUP BY shingle
       |HAVING count(*) >= $minDf
       |ORDER BY df DESC, shingle LIMIT $k""".stripMargin

  // --- vocabulary histogram -------------------------------------------------

  /** Corpus-wide top-K token histogram: the classic vocabulary/stopword
    * discovery pass. Explode → count (map-side combinable) → global top-K
    * with a deterministic (count desc, token) tie-break. At scale the
    * aggregate state is |vocabulary|, not |tokens|, and the final top-K is a
    * TakeOrdered — no global sort materialization.
    */
  def topTokens(docs: DataFrame, k: Int = 50): DataFrame =
    graft.Tables.widen(docs)
      .select(explode(split(lowerSimple(col("text")), " ")).as("token"))
      .where(col("token") =!= "")
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token"))
      .limit(k)

  def oracleTopTokens(k: Int = 50): String =
    s"""SELECT token, count(*) AS n FROM (
       |  SELECT unnest(list_filter(string_split(lower(text), ' '), t -> t != '')) AS token
       |  FROM documents
       |) GROUP BY token ORDER BY n DESC, token LIMIT $k""".stripMargin

  /** 2-token window builder — only the compiled shingle loop of
    * [[graft.dedup.TextHashKernel]] is used (the hash coefficients are
    * inert placeholders for this instance).
    */
  private val bigramKernel = new graft.dedup.TextHashKernel(Array(1L), Array(0L), 3L, 2)

  /** Corpus-wide top-K bigram histogram over non-empty lowercased tokens —
    * the collocation/phrase-discovery pass next to [[topTokens]]. Same plan
    * shape: per-row compiled window construction (no interpreted lambda),
    * explode → map-side-combinable count → TakeOrdered.
    */
  def topBigrams(docs: DataFrame, k: Int = 50): DataFrame = {
    val toks = expr(s"filter(split($LowerTextSql, ' '), t -> t != '')")
    val bigrams = org.apache.spark.sql.GraftColumnBridge.column(
      graft.dedup.ShingleArray(
        org.apache.spark.sql.GraftColumnBridge.expression(toks),
        bigramKernel
      )
    )
    graft.Tables.widen(docs)
      .select(explode(bigrams).as("bigram"))
      .groupBy(col("bigram"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram"))
      .limit(k)
  }

  def oracleTopBigrams(k: Int = 50): String =
    s"""SELECT bigram, count(*) AS n FROM (
       |  SELECT unnest(list_transform(range(1, len(ts)), i -> concat(ts[i], ' ', ts[i+1]))) AS bigram
       |  FROM (SELECT list_filter(string_split(lower(text), ' '), t -> t != '') AS ts FROM documents)
       |) GROUP BY bigram ORDER BY n DESC, bigram LIMIT $k""".stripMargin

  // --- fingerprinting -------------------------------------------------------

  /** Rolling-hash base/modulus (Karp-Rabin over per-token 32-bit hashes):
    * acc < P ≤ 2³¹ and B ≈ 10⁶ keep acc·B + x under 2⁵², exact in signed-64
    * arithmetic in both engines.
    */
  val RollBase  = 1000003L
  val RollPrime = 2147483647L

  /** Whitespace-normalized content fingerprint: md5 hex + a 60-bit numeric
    * signature (first 15 md5 hex digits — fits a signed BIGINT identically in
    * both engines) + a Karp-Rabin rolling hash over the token stream
    * (order-SENSITIVE, unlike the set-based shingle hashes: permuted token
    * order changes fp_roll but not a bag-of-shingles minhash). The numeric
    * forms are join/bucket keys for exact dedup at scale.
    */
  def fingerprints(docs: DataFrame): DataFrame = {
    val norm = lowerSimple(regexp_replace(col("text"), "\\s+", " "))
    val fp   = md5(norm.cast("binary"))
    // per-token 32-bit hashes of the normalized token stream
    val ths =
      "transform(filter(split(lower(translate(regexp_replace(text, '\\\\s+', ' '), 'İΣ', 'iσ')), ' '), t -> t != ''), " +
        "t -> CAST(conv(substring(md5(CAST(t AS BINARY)), 1, 8), 16, 10) AS BIGINT))"
    val roll = expr(
      s"CASE WHEN size($ths) = 0 THEN 0L ELSE " +
        s"aggregate(slice($ths, 2, greatest(size($ths) - 1, 0)), element_at($ths, 1), " +
        s"(acc, x) -> (acc * $RollBase + x) % $RollPrime) END"
    )
    graft.Tables.widen(docs)
      .select(
        col("doc_id"),
        fp.as("fp_md5"),
        conv(substring(fp, 1, 15), 16, 10).cast("long").as("fp_sig"),
        roll.as("fp_roll")
      )
      .orderBy("doc_id")
  }

  // --- repetition (Gopher-style within-doc duplication signals) -------------

  /** Within-document repetition ratios — the classic quality gate against
    * looping/boilerplate text (a document that repeats its own 3-grams is a
    * generation artifact or template, not prose; cf. the repetition filters
    * of Rae et al., "Scaling Language Models" §A1.1 — public paper, public
    * heuristic). Per doc over the SAME lowercased whitespace tokenization
    * the dedup tier shingles on: token and 3-gram-shingle duplicate
    * fractions, `1 − distinct/total` rounded to 6. Pure per-row array math
    * on the compiled shingle kernel — no shuffle, no explode; docs too short
    * for a shingle report 0.0 (nothing is repeated).
    */
  def repetition(docs: DataFrame): DataFrame = {
    val ts = split(lowerSimple(col("text")), " ")
    val sh = graft.dedup.DedupOps.shingleArray(ts)
    def ratio(total: Column, distinct: Column): Column =
      when(total > 0, round(lit(1.0) - distinct.cast("double") / total, 6)).otherwise(lit(0.0))
    graft.Tables.widen(docs)
      .select(
        col("doc_id"),
        size(ts).cast("long").as("n_tokens"),
        size(array_distinct(ts)).cast("long").as("n_distinct_tokens"),
        size(sh).cast("long").as("n_shingles"),
        size(array_distinct(sh)).cast("long").as("n_distinct_shingles")
      )
      .select(
        col("doc_id"), col("n_tokens"), col("n_distinct_tokens"),
        col("n_shingles"), col("n_distinct_shingles"),
        ratio(col("n_tokens"), col("n_distinct_tokens")).as("token_rep_ratio"),
        ratio(col("n_shingles"), col("n_distinct_shingles")).as("shingle_rep_ratio")
      )
      .orderBy("doc_id")
  }

  def oracleRepetition: String =
    s"""SELECT doc_id, n_tokens, n_distinct_tokens, n_shingles, n_distinct_shingles,
       |  (CASE WHEN n_tokens > 0
       |    THEN round(1.0 - CAST(n_distinct_tokens AS DOUBLE) / n_tokens, 6) ELSE 0.0 END) AS token_rep_ratio,
       |  (CASE WHEN n_shingles > 0
       |    THEN round(1.0 - CAST(n_distinct_shingles AS DOUBLE) / n_shingles, 6) ELSE 0.0 END) AS shingle_rep_ratio
       |FROM (
       |  SELECT doc_id,
       |    CAST(len(ts) AS BIGINT) AS n_tokens,
       |    CAST(len(list_distinct(ts)) AS BIGINT) AS n_distinct_tokens,
       |    CAST(len(sh) AS BIGINT) AS n_shingles,
       |    CAST(len(list_distinct(sh)) AS BIGINT) AS n_distinct_shingles
       |  FROM (
       |    SELECT doc_id, ts,
       |      list_transform(range(1, len(ts)-1), i -> concat(ts[i], ' ', ts[i+1], ' ', ts[i+2])) AS sh
       |    FROM (SELECT doc_id, string_split(lower(text), ' ') AS ts FROM documents)))
       |ORDER BY doc_id""".stripMargin

  // --- unigram LM quality scoring -------------------------------------------

  /** Corpus-unigram log-probability score per document — the language-model
    * quality signal every curation pipeline runs next to the heuristic
    * classes (cf. CCNet's LM-perplexity filtering; this is its exact
    * zero-dependency unigram tier): avg over tokens of
    * log10(corpus_count(token) / corpus_tokens). Low scores flag rare-token
    * noise (lorem-gibberish, encoding damage); high scores flag stopword
    * soup — both filterable tails.
    *
    * Cross-engine exactness: per-token log-probs are CAST to DECIMAL(18,6)
    * BEFORE the per-doc sum, so the aggregate is an exact decimal sum (the
    * repo-wide dodge for float-sum order dependence); only the final
    * sum/count division is float, rounded to 6.
    *
    * Plan: explode → vocab count (map-side combinable) → token-key shuffle
    * join back → per-doc decimal-sum aggregate. At 100 TB the exact vocab
    * join is the expensive-but-honest tier; the bounded-memory variant
    * broadcasts [[ApproxVocab]]'s Misra-Gries top-K with a rare-token floor
    * probability — same operator shape, sketch-backed counts.
    */
  def unigramScores(docs: DataFrame): DataFrame = {
    val base = graft.Tables.widen(docs)
    val toks = base.select(
      col("doc_id"),
      explode(expr(s"regexp_extract_all($LowerTextSql, '$TokenRe', 0)")).as("token")
    )
    val vocab = toks.groupBy(col("token")).agg(count(lit(1)).as("cnt"))
    val total = vocab.agg(sum(col("cnt")).as("n_total"))
    val perDoc = toks
      .join(vocab, Seq("token"))
      .crossJoin(broadcast(total))
      .select(
        col("doc_id"),
        expr("CAST(log10(CAST(cnt AS DOUBLE) / n_total) AS DECIMAL(18,6))").as("lp")
      )
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("lp")).as("sum_lp"))
    // the sum is published as the EXACT decimal's fixed-scale string, next
    // to the count — NOT as a rounded float average: sum_lp has scale 6, so
    // sum/n lands on exact 5-at-the-7th-decimal boundaries by construction
    // for some counts, where Spark's round (HALF_UP over the shortest
    // decimal rendering) and DuckDB's (binary multiply-round) disagree —
    // observed at sf0.001 (-1.4781995 → -1.478199 vs -1.4782). The average
    // stays derivable; the declared columns are exact.
    base
      .select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("sum_lp"), lit(0).cast("decimal(18,6)"))
          .cast("decimal(28,6)").cast("string").as("sum_logprob_str")
      )
      .orderBy("doc_id")
  }

  def oracleUnigramScores: String =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '$TokenRe')) AS token FROM documents),
       |vocab AS (SELECT token, count(*) AS cnt FROM toks GROUP BY token),
       |tot AS (SELECT sum(cnt) AS n_total FROM vocab),
       |scored AS (
       |  SELECT t.doc_id, CAST(log10(CAST(v.cnt AS DOUBLE) / tot.n_total) AS DECIMAL(18,6)) AS lp
       |  FROM toks t JOIN vocab v ON t.token = v.token CROSS JOIN tot),
       |perdoc AS (SELECT doc_id, count(*) AS n_tokens, sum(lp) AS sum_lp FROM scored GROUP BY doc_id)
       |SELECT d.doc_id,
       |  coalesce(p.n_tokens, 0) AS n_tokens,
       |  CAST(CAST(coalesce(p.sum_lp, 0) AS DECIMAL(28,6)) AS VARCHAR) AS sum_logprob_str
       |FROM documents d LEFT JOIN perdoc p ON d.doc_id = p.doc_id
       |ORDER BY d.doc_id""".stripMargin

  def oracleFingerprints: String =
    s"""SELECT doc_id, fp_md5, CAST('0x' || substr(fp_md5, 1, 15) AS BIGINT) AS fp_sig,
      |  (CASE WHEN len(ths) = 0 THEN 0
      |        ELSE list_reduce(ths, (acc, x) -> (acc * $RollBase + x) % $RollPrime) END) AS fp_roll
      |FROM (
      |  SELECT doc_id, md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS fp_md5,
      |    list_transform(
      |      list_filter(string_split(lower(regexp_replace(text, '\\s+', ' ', 'g')), ' '), t -> t != ''),
      |      t -> CAST('0x' || substr(md5(t), 1, 8) AS BIGINT)) AS ths
      |  FROM documents
      |) ORDER BY doc_id""".stripMargin

  // --- per-language quality percentile rank ---------------------------------

  /** Per-language percentile rank of documents by token count — the
    * "keep the top X% per language" curation knob in report form: rank,
    * percent_rank and a `buckets`-ile per doc within its language, under
    * the total order (n_tokens desc, doc_id) so every rank is
    * deterministic. percent_rank is (rank−1)/(rows−1) in both engines —
    * one IEEE division of exact integers, bit-portable.
    *
    * Scale shape: the window partitions by language, so per-task work is
    * bounded by the largest language's slice — the honest cost of an exact
    * within-language ranking. At 100 TB the same report would run the
    * two-pass rank-select (`NumericStats.groupQuantiles`) for the cut
    * POINTS and a broadcast threshold filter for the cut itself; this
    * operator is the exact per-doc assignment tier below that.
    */
  def qualityRank(docs: DataFrame, buckets: Int = 10): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("n_tokens").desc, col("doc_id"))
    graft.Tables.widen(docs)
      .select(
        col("doc_id"), col("lang"),
        size(regexp_extract_all(col("text"), lit(TokenRe), lit(0))).cast("long").as("n_tokens"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .withColumn("pctile", percent_rank().over(w))
      .withColumn("qbucket", ntile(buckets).over(w).cast("long"))
      .orderBy("lang", "rnk")
  }

  /** DuckDB twin of [[qualityRank]]. */
  def oracleQualityRank(buckets: Int = 10): String =
    s"""WITH toks AS (
       |  SELECT doc_id, lang,
       |    CAST(len(regexp_extract_all(text, '$TokenRe')) AS BIGINT) AS n_tokens
       |  FROM documents)
       |SELECT doc_id, lang, n_tokens,
       |  CAST(row_number() OVER w AS BIGINT) AS rnk,
       |  percent_rank() OVER w AS pctile,
       |  CAST(ntile($buckets) OVER w AS BIGINT) AS qbucket
       |FROM toks WINDOW w AS (PARTITION BY lang ORDER BY n_tokens DESC, doc_id)
       |ORDER BY lang, rnk""".stripMargin

  // --- cross-source vocabulary overlap --------------------------------------

  /** Pairwise top-`k` vocabulary overlap between sources — the corpus-mixture
    * diagnostic that says which slices speak the same language before a
    * mixture is weighted: for every source pair, how many of their top-`k`
    * tokens coincide, and the Jaccard over the two top-`k` sets.
    *
    * Scale shape: one map-side-combinable (source, token) count over the
    * exploded corpus; the per-source top-`k` is a window over |vocab_s| rows
    * per source under a total order (n desc, token); everything pairwise
    * happens on |sources|·k rows — the join input is the shortlist, never
    * the vocabulary. The Jaccard denominator is 2k − shared when both
    * shortlists are full (asserted by construction at these k).
    */
  def vocabOverlap(docs: DataFrame, k: Int = 100): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("n").desc, col("token"))
    val top = graft.Tables.widen(docs)
      .select(col("source"), explode(split(lowerSimple(col("text")), " ")).as("token"))
      .where(col("token") =!= "")
      .groupBy("source", "token")
      .agg(count(lit(1)).as("n"))
      .withColumn("r", row_number().over(w))
      .where(col("r") <= k)
      .select(col("source"), col("token"))
    val a = top.select(col("source").as("source_a"), col("token"))
    val b = top.select(col("source").as("source_b"), col("token"))
    a.join(b, "token")
      .where(col("source_a") < col("source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_shared"))
      .withColumn(
        "jaccard",
        col("n_shared").cast("double") / (lit(2L * k) - col("n_shared")).cast("double"))
      .orderBy("source_a", "source_b")
  }

  // --- length percentile ranks ----------------------------------------------

  /** Exact corpus-wide length-percentile rank per document — the curation
    * signal behind "drop the bottom 5% by length" cuts: every doc's token
    * count, its global rank under the deterministic (n_tokens, doc_id)
    * order, and its exact per-mille percentile. Runs through
    * [[graft.stats.NumericStats.globalRanks]] — a distributed range sort +
    * offset pass, never `row_number()` over an empty window (one-partition
    * sort of the corpus).
    */
  def lengthRanks(docs: DataFrame): DataFrame = {
    val nTokens = size(filter(tokens(col("text")), t => t =!= ""))
    val scored = graft.Tables.widen(docs)
      .select(col("doc_id"), nTokens.cast("long").as("n_tokens"))
    graft.stats.NumericStats.globalRanks(scored, "doc_id", "n_tokens")
  }

  /** DuckDB twin of [[lengthRanks]] — `row_number` over the same
    * deterministic order, exact integer per-mille.
    */
  def oracleLengthRanks: String =
    s"""WITH s AS (
       |  SELECT doc_id,
       |    CAST(len(list_filter(string_split(lower(text), ' '), t -> t != '')) AS BIGINT)
       |      AS n_tokens
       |  FROM documents),
       |s2 AS (SELECT * FROM s WHERE n_tokens IS NOT NULL),
       |r AS (
       |  SELECT doc_id, n_tokens,
       |    CAST(row_number() OVER (ORDER BY n_tokens, doc_id) AS BIGINT) AS pos_rank
       |  FROM s2),
       |t AS (SELECT count(*) AS n FROM s2)
       |SELECT doc_id, n_tokens, pos_rank,
       |  CAST(1000 * pos_rank AS BIGINT) // n AS pct_millis
       |FROM r CROSS JOIN t ORDER BY doc_id""".stripMargin

  // --- keyword-in-context (concordance) -------------------------------------

  /** KWIC / concordance search: for every document containing `term`, the
    * token position of its FIRST occurrence and a ±`window`-token context
    * snippet — the "show me how the corpus uses this word" query a corpus
    * linguist (or a contamination analyst chasing a leaked benchmark
    * phrase) runs.
    *
    * Scale shape: pure per-row array expressions (split → filter →
    * array_position → slice → array_join) inside whole-stage codegen — no
    * shuffle except the declared output ordering; the filter on position
    * drops non-matching docs before the sort. At 100 TB the same operator
    * composes with a pushed-down substring prefilter
    * (`text LIKE '%term%'`) so the tokenizer only runs on candidate rows —
    * included here as the `contains` guard, which Catalyst evaluates first.
    */
  def kwic(docs: DataFrame, term: String, window: Int = 3): DataFrame = {
    require(term.nonEmpty && !term.exists(_.isWhitespace), "term must be a single token")
    val tokens = filter(split(lowerSimple(col("text")), " "), t => t =!= "")
    val kw = graft.Tables.widen(docs)
      .where(lowerSimple(col("text")).contains(term))
      .select(col("doc_id"), tokens.as("tokens"))
      .select(col("doc_id"), col("tokens"), array_position(col("tokens"), term).as("pos"))
      .where(col("pos") > 0)
    kw.select(
        col("doc_id"),
        col("pos"),
        array_join(
          slice(
            col("tokens"),
            greatest(lit(1L), col("pos") - window).cast("int"),
            (least(size(col("tokens")).cast("long"), col("pos") + window)
              - greatest(lit(1L), col("pos") - window) + 1).cast("int")
          ),
          " "
        ).as("context")
      )
      .orderBy("doc_id")
  }

  /** DuckDB twin of [[kwic]] (list slicing is 1-based inclusive in both
    * formulations; Spark's `slice` takes (start, length) — same bounds).
    */
  def oracleKwic(term: String, window: Int = 3): String =
    s"""WITH toks AS (
       |  SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> t != '') AS tokens
       |  FROM documents),
       |p AS (SELECT doc_id, tokens, list_position(tokens, '$term') AS pos FROM toks)
       |SELECT doc_id, CAST(pos AS BIGINT) AS pos,
       |  array_to_string(
       |    tokens[greatest(1, pos - $window):least(len(tokens), pos + $window)], ' ') AS context
       |FROM p WHERE pos IS NOT NULL AND pos > 0 ORDER BY doc_id""".stripMargin

  /** DuckDB twin of [[vocabOverlap]]. */
  def oracleVocabOverlap(k: Int = 100): String =
    s"""WITH counts AS (
       |  SELECT source, token, count(*) AS n FROM (
       |    SELECT source, unnest(list_filter(string_split(lower(text), ' '), t -> t != '')) AS token
       |    FROM documents)
       |  GROUP BY source, token),
       |top AS (
       |  SELECT source, token FROM (
       |    SELECT source, token, row_number() OVER (PARTITION BY source ORDER BY n DESC, token) AS r
       |    FROM counts)
       |  WHERE r <= $k)
       |SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_shared,
       |  CAST(count(*) AS DOUBLE) / CAST(${2L * k} - count(*) AS DOUBLE) AS jaccard
       |FROM top a JOIN top b ON a.token = b.token AND a.source < b.source
       |GROUP BY source_a, source_b
       |ORDER BY source_a, source_b""".stripMargin
}
