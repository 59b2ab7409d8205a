package graft

import org.apache.spark.sql.{DataFrame, Dataset, GraftPersist, SparkSession}

import graft.engine.{OracleGen, ProfilerEngine}
import graft.model.ColumnProfile

import scala.collection.concurrent.TrieMap

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` maps operator names to (spark, sfDir) => DataFrame; `oracleSql`
  * carries the equivalent DuckDB SQL over the same parquet tables. Column
  * names and row ordering match on both sides (the driver sorts columns by
  * name before hashing, rows are ordered identically by explicit ORDER BY /
  * orderBy on both sides).
  */
object SparkEntry {

  private val engine = new ProfilerEngine()

  /** One no-AQE session clone per application, shared by the eager
    * driver-orchestrated kernels whose jobs are FIXED-SHAPE bounded
    * aggregates (the profiler's batched stat passes, the trainers' Lloyd
    * rounds): their only exchanges carry aggregate buffers or a fixed-width
    * repartition, so AQE's runtime re-optimization (partition coalescing,
    * skew joins) has nothing to adapt at ANY scale — while its per-stage
    * job materialization costs a driver scheduling round per stage
    * (measured r20: trainers 12/15 jobs → 6/8; a profile pass 17 → 5 for
    * identical results — OPTIMIZATION_r20.md batches 1–2). Cloned so the
    * caller's session keeps its own planning config (the StreamSession
    * isolation rationale); results returned to callers are plain driver
    * data, never clone-bound frames.
    *
    * Scope is DELIBERATELY limited to the trainers and the profiler. The
    * r20 session-2 attempt to extend it to the declared bounded-aggregate
    * stats family (NumericStats envelope/kernel queries, Benford, corr,
    * unpivot, merged slice stats) HALVED their job ledgers (QueryJobProbe:
    * mad 29 → 17 jobs, benford 8 → 3) but measured flat-to-SLOWER on wall
    * in a same-window full-bench A/B and an interleaved ScaleBench A/B
    * (benford +0.2–0.6 s, mad/numstats/group_quantiles +0.1–0.5 s; only
    * pagerank_events' driver loop survived the A/B): for 1–2-exchange
    * queries, AQE's coalescing of the tiny post-aggregate finals to one
    * task is worth more than the job round-trips it costs — the trainers
    * and profiler win because their cuts are 3–4× on MULTI-pass kernels.
    * Reverted; evidence in OPTIMIZATION_r20.md batch 6 / BASELINE.md.
    */
  private val noAqeCache = TrieMap.empty[String, SparkSession]

  private def noAqeSession(spark: SparkSession): SparkSession =
    noAqeCache.getOrElseUpdate(spark.sparkContext.applicationId, {
      val sess = graft.streaming.StreamSession.cloned(spark,
        spark.conf.get("spark.sql.shuffle.partitions", "32").toInt)
      sess.conf.set("spark.sql.adaptive.enabled", "false")
      sess
    })

  /** The shared artifacts of the declared queries: intermediate results that
    * several queries (and the trained-model oracles) read, built by the
    * first consumer and reused by the rest.
    *
    * Key: (artifact name, `applicationId`, dir), stamped with the
    * [[Tables.inputVersion]] of each input table the artifact reads. A
    * lookup whose inputs now list differently builds the artifact again
    * and releases the older value, so a rewritten table never serves
    * results of its old files, and a frame is never handed to another
    * application's context.
    *
    * Release, on replacement and in [[clear]]: a frame whose plan is a
    * `LogicalRDD` leaf ([[org.apache.spark.sql.GraftPersist]] or
    * `localCheckpoint`) has that RDD unpersisted, any other frame is
    * `Dataset.unpersist`ed, and driver data needs nothing. A released local
    * checkpoint cannot be recomputed, so a frame built before a release
    * must not run after it.
    */
  private object artifacts {
    private final case class Key(name: String, app: String, dir: String)
    /** One artifact's inputs and, once built, its (input versions, value). */
    private final class Slot(val inputs: Seq[String]) {
      @volatile var built: Option[(Seq[String], Any)] = None
    }
    private val slots = TrieMap.empty[Key, Slot]

    private def versions(spark: SparkSession, dir: String, inputs: Seq[String]): Seq[String] =
      // an unlistable input is left to its loader to report
      inputs.map(t => scala.util.Try(Tables.inputVersion(spark, s"$dir/$t.parquet")).getOrElse(""))

    def get[T](spark: SparkSession, name: String, dir: String, inputs: String*)(build: => T): T = {
      val version = versions(spark, dir, inputs)
      val slot = slots.getOrElseUpdate(Key(name, spark.sparkContext.applicationId, dir), new Slot(inputs))
      slot.synchronized {
        slot.built match {
          case Some((v, value)) if v == version => value.asInstanceOf[T]
          case old =>
            slot.built = None
            old.foreach { case (_, value) => release(value) }
            val value = build
            slot.built = Some((version, value))
            value
        }
      }
    }

    /** The value of `name` built in this application from the current
      * version of its inputs: for `dir`, or with no dir for the only dir
      * that has one. Builds nothing.
      */
    def current[T](spark: SparkSession, name: String, dir: Option[String]): Option[T] = {
      val app = spark.sparkContext.applicationId
      val built = slots.toSeq.flatMap { case (k, slot) =>
        slot.built.filter(_ => k.name == name && k.app == app && dir.forall(_ == k.dir)).map((k.dir, slot.inputs, _))
      }
      built match {
        case Seq((d, inputs, (v, value))) if v == versions(spark, d, inputs) => Some(value.asInstanceOf[T])
        case _ => None
      }
    }

    def clear(): Unit =
      for (slot <- slots.values) slot.synchronized {
        slot.built.foreach { case (_, value) => release(value) }
        slot.built = None
      }

    private def release(value: Any): Unit = value match {
      case df: Dataset[_] => GraftPersist.unpersist(df)
      case _              =>
    }
  }

  /** A full profile of `table`: profile_*, summary_* and summary_pii_* all
    * derive from it, and stats_* reuses its counts — the table is scanned
    * once, not once per declared query (VERDICT r1 killer 4).
    */
  private def profiles(spark: SparkSession, dir: String, table: String): Seq[ColumnProfile] =
    artifacts.get(spark, s"profile_$table", dir, table)(
      engine.analyzeDataFrame(Tables.load(noAqeSession(spark), dir, table)).columnProfiles)

  /** The placed `documents` relation shared by the curation pass —
    * `bigram_scores`, `dsir_weights`, `dsir_top`, `source_kl`, `spandedup`,
    * `curated` and [[clusterLabels]] — so the scan is read and placed once
    * per pass instead of once per scorer. It follows [[Tables.widen]]'s
    * size rule:
    *  - a table that [[Tables.fitsOneTask]] is kept in one partition. The
    *    artifact's leaf reports `SinglePartition`, which satisfies every
    *    consumer's `groupBy`, window and `doc_id` join, so the scorers, the
    *    CC fixpoint and `curated` plan no exchange over it. Bytes are not
    *    work: [[Tables.widen]] says when a consumer spreads its own rows.
    *  - a larger narrow table is spread by hash of `doc_id`, the table's
    *    key, rather than `widen`'s round robin: as even for a key, and
    *    every consumer that groups or joins on `doc_id` skips that exchange.
    *  - a table that already has `defaultParallelism` partitions is the
    *    plain scan: a corpus is never copied to share a scan.
    *
    * The rows are kept by [[org.apache.spark.sql.GraftPersist]], a
    * `persist` with lineage (lost blocks recompute after an executor loss)
    * behind a plan leaf, so each consumer's inspected plan and its
    * exchange/scan budgets stop at the shared rows.
    */
  private def widenedDocuments(spark: SparkSession, dir: String): DataFrame =
    artifacts.get(spark, "documents", dir, "documents") {
      val raw = Tables.load(spark, dir, "documents")
      if (Tables.fitsOneTask(raw)) GraftPersist(raw.coalesce(1))
      else if (Tables.widen(raw) eq raw) raw
      else GraftPersist(
        raw.repartition(spark.sparkContext.defaultParallelism, org.apache.spark.sql.functions.col("doc_id")))
    }

  /** Near-dup cluster labels, one CC fixpoint built from
    * [[widenedDocuments]]: `dedup_clusters_documents`, `curated_documents`
    * and their kin share the label table (the loop's output is
    * localCheckpointed, so reuse costs nothing) — the fixpoint is the
    * expensive stage and was executed twice in r3.
    */
  private def clusterLabels(spark: SparkSession, dir: String): DataFrame =
    artifacts.get(spark, "dedup_clusters", dir, "documents")(
      graft.dedup.DedupClusters.dedupClusters(widenedDocuments(spark, dir)))

  /** The shingle-postings exchange, persisted and shared by the capped and
    * uncapped declared Jaccard twins (VERDICT r5 ask #3): the shingle
    * scan+aggregate is the dominant cost of the Jaccard tier, and
    * everything configuration-specific (df-cap, pair explosion, scoring) is
    * downstream of it.
    */
  private def shinglePostings(spark: SparkSession, dir: String): DataFrame =
    artifacts.get(spark, "shingle_postings", dir, "documents")(
      graft.dedup.DedupOps.shinglePostings(Tables.load(spark, dir, "documents")).persist())

  /** The DISTINCT (doc_id, shingle) exchange shared by the contamination
    * family — the plain screen, the df-capped screen, and the
    * decontaminated training cut (VERDICT r15 #5): the
    * tokenize+explode+distinct subtree is the dominant stage of all three,
    * and everything configuration-specific (df-cap, minShared, the curation
    * anti-joins) is downstream of it. Before it each query paid its own
    * `localCheckpoint` of the same frame — three identical materializations
    * per pass; the trio-context scale row in BASELINE.md measures the
    * difference. An EAGER `localCheckpoint` (not `persist`) keeps each
    * consumer's inspected plan truncated at the materialized frame, so the
    * exchange/scan budgets stay per-consumer instead of triple-counting the
    * shared subtree.
    */
  private def distinctShingles(spark: SparkSession, dir: String): DataFrame =
    artifacts.get(spark, "distinct_shingles", dir, "documents")(
      graft.dedup.DedupOps.shingleDF(Tables.load(spark, dir, "documents")).distinct().localCheckpoint())

  /** ONE per-customer revenue rollup shared by the four declared OLAP
    * reporting queries (`revenue_nation`, `revenue_share_nation`,
    * `top_customers`, `top_customers_nation`): each previously planned its
    * own lineitem⋈orders⋈customer fact-join tree over identical inputs —
    * four copies of the one genuinely large join in the family (guide §2.4;
    * everything configuration-specific (nation grouping, top-N, share
    * arithmetic) is downstream of the rollup, which is additionally
    * pre-aggregated per order before its first shuffle, guide §2.2/§2.3).
    * An EAGER `localCheckpoint` keeps each consumer's inspected plan
    * truncated at the materialized ≤|customer|-row frame, so exchange/scan
    * budgets stay per-consumer ([[distinctShingles]] rationale).
    * Attribution: the first consumer in bench order (`revenue_nation`) pays
    * the rollup materialization inside its timed run.
    */
  private def custRevenue(spark: SparkSession, dir: String): DataFrame =
    artifacts.get(spark, "customer_revenue", dir, "lineitem", "orders", "customer")(
      graft.olap.Reporting.customerRevenue(
        Tables.load(spark, dir, "lineitem"),
        Tables.load(spark, dir, "orders"),
        Tables.load(spark, dir, "customer")).localCheckpoint())

  /** ONE checkpointed (vec_id, v) training projection shared by the IVF
    * k-means and PQ codebook trainers (VERDICT r19 #1: they scan the same
    * embeddings) — whichever trainer runs first pays the widen + checkpoint
    * materialization inside its seeding job ([[ProducerFirst]] books it on
    * `ivf_centroids_embeddings` in bench order).
    */
  private def vecTrainingBase(spark: SparkSession, dir: String): DataFrame =
    artifacts.get(spark, "vector_base", dir, "embeddings")(
      // trainers run on the shared no-AQE clone ([[noAqeSession]]): the
      // Lloyd loop's only exchange carries k×dim aggregate buffers, and AQE
      // on measured 12/15 jobs per trainer vs 6/8 off, bit-identical output
      // (OPTIMIZATION_r20.md batch 1, TrainerProbe)
      graft.similarity.KMeans.trainingBase(
        Tables.load(noAqeSession(spark), dir, "embeddings")))

  /** Trained IVF centroids, one k-means run shared by the declared
    * `ivf_*`/`semantic_*`/`outliers` queries AND their oracles: training is
    * deterministic, and the centroids are canonicalized through decimal
    * strings so the oracle can inline bit-identical literals
    * ([[graft.similarity.SimilarityOps.canonicalizeCentroids]]). The oracle
    * entries read the centroids built by the query run (Verify runs every
    * query before dumping oracle SQL); if no run trained them for the
    * current embeddings the entries are omitted → the driver records a
    * weaker rows-only check instead of a false mismatch.
    */
  private def trainedCentroids(spark: SparkSession, dir: String): Array[Array[Double]] =
    artifacts.get(spark, "centroids", dir, "embeddings")(
      graft.similarity.SimilarityOps.canonicalizeCentroids(
        graft.similarity.KMeans.trainCentroidsOn(vecTrainingBase(spark, dir))))

  /** Semantic-cluster labels, one CC fixpoint shared by the declared
    * clusters query and the survivors cut — [[clusterLabels]] on the
    * embedding side.
    */
  private def semanticLabels(spark: SparkSession, dir: String): DataFrame =
    artifacts.get(spark, "semantic_clusters", dir, "embeddings")(
      graft.similarity.SimilarityOps.semanticClusters(
        Tables.load(spark, dir, "embeddings"), trainedCentroids(spark, dir)))

  /** Trained PQ codebooks (M per-subspace L2 k-means runs) shared by the
    * declared `pq_*` queries and their oracles — [[trainedCentroids]]'
    * contract: deterministic training + canonicalized doubles ⇒ the oracle
    * inlines bit-identical literals.
    */
  private def trainedCodebooks(spark: SparkSession, dir: String): Array[Array[Array[Double]]] =
    artifacts.get(spark, "codebooks", dir, "embeddings")(
      graft.similarity.Pq.trainCodebooksOn(vecTrainingBase(spark, dir)))

  /** Training-producer queries that must run BEFORE their cache consumers
    * when timing (train → assign, the order a real pipeline uses): the ONE
    * shared ordering for [[Bench]] and [[ScaleBench]], so the two harnesses
    * cannot drift on which consumer times training cost (ADVICE r10).
    *
    * `pq_codebooks_embeddings` joined in r19: it IS the declared PQ-training
    * query, but alphabetical order ran `ivfpq_topk_embeddings` first, so the
    * search query carried the one-time [[trainedCodebooks]] build (~half its
    * booked time — the r19 ScaleAttr attribution measured search-only ~2.0 s
    * of a 4.6 s booking) while the training query booked a cache hit. Same
    * attribution honesty as ivf_centroids carrying k-means (VERDICT r12 #3);
    * total is unchanged, the cost just books on the query that computes it.
    */
  private[graft] val ProducerFirst: Set[String] =
    Set("ivf_centroids_embeddings", "pq_codebooks_embeddings")

  /** Queries whose FIRST execution per JVM materializes a reusable storage
    * artifact (the bucketed tables in `scale/Bucketing.ensureBucketedTables`
    * — "pay the shuffle once at write time"): [[Bench]] runs these once as a
    * timed producer step BEFORE the repetition passes and records the write
    * cost under `produce_once` in the full JSON, so every timed pass books
    * the steady-state READ and the per-query contention ratio stops flagging
    * the one-time write as ~10× "contention" on every run (VERDICT r15 #3).
    */
  private[graft] val ProduceOnce: Set[String] = Set("bucketed_join_orders")

  /** Drop and release every cross-query cache: each shared artifact (see
    * [[artifacts]]), PageRank's persisted graphs and the inferred parquet
    * schemas. Bench calls this between repetition passes so each pass
    * re-executes the shared stages, schema inference included, instead of
    * timing cache hits. A frame built before this call must not run after
    * it: its local checkpoints are gone.
    */
  private[graft] def clearCaches(): Unit = {
    artifacts.clear()
    graft.analytics.PageRank.clearCache()
    graft.io.Sources.schemaCacheClear()
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0:
    * full pattern-profile of the largest table.
    */
  def entry(spark: SparkSession): DataFrame =
    ProfilerEngine.profilesToDF(spark, profiles(spark, "/root/testdata/sf0.001", "lineitem"))

  // --- query builders -------------------------------------------------------

  private def profileQuery(table: String)(spark: SparkSession, dir: String): DataFrame =
    ProfilerEngine.profilesToDF(spark, profiles(spark, dir, table))

  private def summaryQuery(table: String)(spark: SparkSession, dir: String): DataFrame =
    ProfilerEngine.summaryFromProfiles(spark, profiles(spark, dir, table))

  private def piiSummaryQuery(table: String)(spark: SparkSession, dir: String): DataFrame =
    ProfilerEngine.piiSummaryFromProfiles(spark, profiles(spark, dir, table))

  /** S1 raw statistics — a counts-only pass (no regex work), NOT a projection
    * that triggers a full classification (VERDICT r1 killer 4). If a full
    * profile of the table is already cached in this run, its measurements are
    * reused (identical counts) without touching the data again.
    */
  private def statsQuery(table: String)(spark: SparkSession, dir: String): DataFrame =
    artifacts.current[Seq[ColumnProfile]](spark, s"profile_$table", Some(dir)) match {
      case Some(ps) =>
        import spark.implicits._
        val rows = ps.map(p => (p.originalName, p.totalRows, p.nullCount, p.uniqueCount, p.nullRatio, p.uniqueRatio))
        spark.createDataset(rows)
          .toDF("column_name", "total_rows", "null_count", "unique_count", "null_ratio", "unique_ratio")
          .orderBy("column_name")
      case None =>
        ProfilerEngine.statsToDF(spark, engine.basicStats(Tables.load(spark, dir, table)))
    }

  /** One entry per implemented operator from SURVEY.md §2 + the north-star
    * extension families (§7.4).
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] = {
    val profiles = Tables.oracleProfiled.map { t =>
      s"profile_$t" -> (profileQuery(t) _)
    }
    val summaries = Seq("lineitem", "customer", "events").map { t =>
      s"summary_$t" -> (summaryQuery(t) _)
    }
    val piiSummaries = Seq("lineitem", "customer").map { t =>
      s"summary_pii_$t" -> (piiSummaryQuery(t) _)
    }
    val stats = Seq("lineitem", "customer").map { t =>
      s"stats_$t" -> (statsQuery(t) _)
    }
    val docs = (spark: SparkSession, dir: String) => Tables.load(spark, dir, "documents")
    val text: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
      "tokencount_documents" -> ((s: SparkSession, d: String) => graft.text.TextOps.tokenCounts(docs(s, d))),
      "textstats_documents" -> ((s: SparkSession, d: String) => graft.text.TextOps.textStats(docs(s, d))),
      "langid_documents" -> ((s: SparkSession, d: String) => graft.text.TextOps.langId(docs(s, d))),
      "quality_documents" -> ((s: SparkSession, d: String) => graft.text.TextOps.quality(docs(s, d))),
      "fingerprint_documents" -> ((s: SparkSession, d: String) => graft.text.TextOps.fingerprints(docs(s, d))),
      "toptokens_documents" -> ((s: SparkSession, d: String) => graft.text.TextOps.topTokens(docs(s, d))),
      "topbigrams_documents" -> ((s: SparkSession, d: String) => graft.text.TextOps.topBigrams(docs(s, d))),
      // document-level PII scrubbing (r3)
      "redacted_documents" -> ((s: SparkSession, d: String) => graft.text.Redaction.redact(docs(s, d))),
      // within-doc repetition + unigram-LM quality signals (r4)
      "repetition_documents" -> ((s: SparkSession, d: String) => graft.text.TextOps.repetition(docs(s, d))),
      "unigram_scores_documents" -> ((s: SparkSession, d: String) => graft.text.TextOps.unigramScores(docs(s, d))),
      // bigram-LM conditional logprob — word-ORDER fluency, the KenLM-shaped
      // filter one step up from the unigram bag score (r11i)
      "bigram_scores_documents" -> ((s: SparkSession, d: String) =>
        graft.text.BigramLm.bigramScores(widenedDocuments(s, d))),
      // blocklist phrase tagging via the replace-length identity — exact
      // integer hit counts, no regex dialect surface (r11i)
      "blocklist_documents" -> ((s: SparkSession, d: String) =>
        graft.text.Blocklist.blocklistHits(docs(s, d), SparkEntry.blocklistPhrases)),
      // per-source KL divergence from the corpus token mixture — the
      // distribution-level "which feed drags the blend" read (r11i)
      "source_kl_documents" -> ((s: SparkSession, d: String) =>
        graft.text.SourceDivergence.sourceKl(widenedDocuments(s, d))),
      // deterministic declared twins of the partition-parallel library ops
      // (r5 verdict asks #6/#8): global-order greedy packing + pinned
      // exact-by-construction Misra-Gries, both under the hash gate
      "packing_documents" -> ((s: SparkSession, d: String) =>
        graft.text.Packing.packDeterministic(docs(s, d), maxTokens = SparkEntry.packBudget)),
      "mg_vocab_documents" -> ((s: SparkSession, d: String) =>
        graft.text.ApproxVocab.mgTopTokensPinned(docs(s, d))),
      // per-(lang, source) doc/token counts + corpus shares — the data-card
      // mixture report a training run starts from (r7)
      "mixture_documents" -> ((s: SparkSession, d: String) => graft.text.TextOps.mixture(docs(s, d))),
      // the same report with ROLLUP subtotals — grouping sets in one pass,
      // GROUPING bitmask distinguishing subtotal rows from null strata (r9)
      "mixture_rollup_documents" -> ((s: SparkSession, d: String) =>
        graft.text.TextOps.mixtureRollup(docs(s, d))),
      // ...and pivoted wide over an explicit language domain (r9)
      "lang_pivot_documents" -> ((s: SparkSession, d: String) =>
        graft.text.TextOps.langPivot(docs(s, d), SparkEntry.pivotLangs)),
      // BM25 retrieval against a fixed query — the scorer a curation pass
      // uses to mine topic-relevant documents; query mixes hot tokens with
      // the one rare corpus token so the idf term is exercised (r7)
      "bm25_documents" -> ((s: SparkSession, d: String) =>
        graft.text.TextOps.bm25(docs(s, d), SparkEntry.bm25Query)),
      // DSIR-style importance log-weights against the 'en' slice — the
      // published importance-resampling scorer for domain/language-focused
      // subset selection (r7)
      "dsir_weights_documents" -> ((s: SparkSession, d: String) =>
        graft.text.TextOps.dsirWeights(widenedDocuments(s, d))),
      // the selection step those weights exist for: importance-ranked top-N
      // cut (TakeOrdered, never a full corpus sort) (r9)
      "dsir_top_documents" -> ((s: SparkSession, d: String) =>
        graft.text.TextOps.dsirTop(widenedDocuments(s, d), SparkEntry.dsirTopN)),
      // Gopher-style conjunctive rule gate — thresholds sited where every
      // rule fires in both directions at sf0.01, so each boundary is
      // hash-checked (r7b)
      "gopher_quality_documents" -> ((s: SparkSession, d: String) =>
        graft.text.TextOps.gopherQuality(docs(s, d))),
      // per-doc top-3 TF-IDF keywords (r7b)
      "tfidf_keywords_documents" -> ((s: SparkSession, d: String) =>
        graft.text.TextOps.tfidfKeywords(docs(s, d))),
      // distinct-3-gram novelty vs ingest order + corpus boilerplate df
      // discovery — same shingle construction the dedup tier hashes (r7b)
      "novelty_documents" -> ((s: SparkSession, d: String) =>
        graft.text.TextOps.novelty(docs(s, d))),
      "boilerplate_documents" -> ((s: SparkSession, d: String) =>
        graft.text.TextOps.boilerplateShingles(docs(s, d))),
      // top-k vocabulary coverage curve — ks sited inside the 31-token
      // sf0.01 vocabulary so every rank boundary bites (r9)
      "vocab_coverage_documents" -> ((s: SparkSession, d: String) =>
        graft.text.TextOps.vocabCoverage(docs(s, d))),
      // sliding-window chunking (RAG/pretokenization splitter); window 32 /
      // stride 24 over 10-99-token docs → 1-4 chunks per doc, short-tail
      // clamp exercised (r9)
      "chunks_documents" -> ((s: SparkSession, d: String) =>
        graft.text.TextOps.chunks(docs(s, d)))
    )
    val dedup: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
      "dedup_exact_documents" -> ((s: SparkSession, d: String) => graft.dedup.DedupOps.exactDuplicates(docs(s, d))),
      "minhash_pairs_documents" -> ((s: SparkSession, d: String) => graft.dedup.DedupOps.minhashCandidatePairs(docs(s, d))),
      "simhash_documents" -> ((s: SparkSession, d: String) => graft.dedup.DedupOps.simhash(docs(s, d))),
      // both Jaccard twins derive from ONE persisted shingle-postings
      // exchange per (session, dir) — the dominant stage is paid once
      "jaccard_pairs_documents" -> ((s: SparkSession, d: String) =>
        graft.dedup.DedupOps.jaccardPairsFromPostings(shinglePostings(s, d))),
      // the 100 TB hot-shingle configuration of the same operator, declared
      // with a cap the sf0.01 df distribution makes BITE (23 rows vs 25
      // uncapped) so the guard itself is hash-checked (r4 verdict ask #3)
      "jaccard_capped_documents" -> ((s: SparkSession, d: String) =>
        graft.dedup.DedupOps.jaccardPairsFromPostings(
          shinglePostings(s, d), maxShingleDf = Some(SparkEntry.jaccardCap))),
      "simhash_pairs_documents" -> ((s: SparkSession, d: String) => graft.dedup.DedupOps.simhashPairs(docs(s, d))),
      // pairwise evidence → transitive KEEP/DROP decisions (r3); the label
      // table is cached per (session, dir) and shared with curated_documents
      "dedup_clusters_documents" -> ((s: SparkSession, d: String) => clusterLabels(s, d)),
      // benchmark-leak screening against a hash-gated eval slice (r3)
      "contamination_documents" -> ((s: SparkSession, d: String) => {
        val dd = docs(s, d)
        val bench = graft.sampling.Sampling.sampleByHash(dd, "doc_id", 0.05, salt = "bench").select("doc_id")
        graft.dedup.Contamination.contaminatedPairs(dd, bench,
          distinctShingles = Some(distinctShingles(s, d)))
      }),
      // the 100 TB-relevant capped configuration, hash-checked itself (r3
      // verdict ask #6): hot shingles dropped by document frequency before
      // the co-occurrence join
      // the 100 TB shuffle-volume configuration: a broadcast Bloom filter
      // over the bench shingle set prunes corpus shingles map-side before
      // the distinct's exchange. No false negatives + exact join after ⇒
      // IDENTICAL answer — the oracle SQL is shared verbatim with the
      // uncapped query, so the equivalence itself is hash-checked
      "contamination_bloom_documents" -> ((s: SparkSession, d: String) => {
        val dd = docs(s, d)
        val bench = graft.sampling.Sampling.sampleByHash(dd, "doc_id", 0.05, salt = "bench").select("doc_id")
        graft.dedup.Contamination.contaminatedPairsBloom(dd, bench)
      }),
      "contamination_capped_documents" -> ((s: SparkSession, d: String) => {
        val dd = docs(s, d)
        val bench = graft.sampling.Sampling.sampleByHash(dd, "doc_id", 0.05, salt = "bench").select("doc_id")
        graft.dedup.Contamination.contaminatedPairs(
          dd, bench, minShared = SparkEntry.contaminationCappedMinShared,
          maxShingleDf = Some(SparkEntry.contaminationCap),
          distinctShingles = Some(distinctShingles(s, d)))
      }),
      // the daily-ingest shape: new slice deduped against stored signatures
      "incremental_pairs_documents" -> ((s: SparkSession, d: String) => {
        import org.apache.spark.sql.functions.col
        val dd = docs(s, d)
        graft.dedup.DedupOps.incrementalMinhashPairs(
          graft.dedup.DedupOps.minhashSignatures(dd.where(col("doc_id") < SparkEntry.incrementalSplit)),
          graft.dedup.DedupOps.minhashSignatures(dd.where(col("doc_id") >= SparkEntry.incrementalSplit))
        )
      }),
      // per-doc duplicated-shingle density — the exact-substring-dedup
      // signal, a third consumer of the one persisted postings exchange (r9)
      "dupgrams_documents" -> ((s: SparkSession, d: String) =>
        graft.dedup.DedupOps.dupShingleStats(shinglePostings(s, d))),
      // banding quality: precision/recall of the LSH candidates against the
      // exact-Jaccard truth — the text-side twin of ivf_recall (r10); the
      // truth tier shares the one persisted shingle-postings exchange with
      // the Jaccard twins (r19 — same VERDICT r5 #3 rationale)
      "minhash_recall_documents" -> ((s: SparkSession, d: String) =>
        graft.dedup.DedupOps.minhashRecall(docs(s, d), postings = Some(shinglePostings(s, d)))),
      // ExactSubstr span dedup: duplicated k-token spans keep only their
      // first corpus occurrence; documents re-stitched from survivors (r11h)
      "spandedup_documents" -> ((s: SparkSession, d: String) =>
        graft.text.SpanDedup.spanDedup(widenedDocuments(s, d)))
    )
    val sampling: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
      "sample_documents" -> ((s: SparkSession, d: String) =>
        graft.sampling.Sampling.sampleByHash(docs(s, d), "doc_id", 0.25).orderBy("doc_id")),
      "stratified_sample_documents" -> ((s: SparkSession, d: String) =>
        graft.sampling.Sampling.stratifiedSampleByHash(
          docs(s, d), "doc_id", "lang", SparkEntry.stratifiedFractions, defaultFraction = 0.05
        ).orderBy("doc_id")),
      // per-source quota capping — the domain-balancing primitive (keep at
      // most N docs per source, hash-ordered so the kept set is stable
      // across reruns and engines); cap sited below the uniform 25-per-source
      // sf0.01 distribution so the rank filter bites on every stratum (r9)
      "quota_documents" -> ((s: SparkSession, d: String) =>
        graft.sampling.Sampling.quotaByHash(
          docs(s, d), "doc_id", "source", SparkEntry.quotaCap).orderBy("doc_id")),
      // relational set ops under the hash gate: the train-minus-bench
      // holdout (EXCEPT) and the cross-salt leakage set (INTERSECT) (r9)
      "holdout_documents" -> ((s: SparkSession, d: String) =>
        graft.sampling.Sampling.holdout(docs(s, d), "doc_id", 0.25, 0.05)),
      "salt_overlap_documents" -> ((s: SparkSession, d: String) =>
        graft.sampling.Sampling.saltOverlap(docs(s, d), "doc_id", 0.5)),
      // train/val/test split report — one gate banded 80/10/10, so the
      // three-way split is a partition by construction and raising the train
      // share only ever MOVES rows train-ward (r10)
      "splits_documents" -> ((s: SparkSession, d: String) =>
        graft.sampling.Sampling.splitReport(docs(s, d)))
    )
    val emb = (spark: SparkSession, dir: String) => Tables.load(spark, dir, "embeddings")
    val sim: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
      "knn_embeddings" -> ((s: SparkSession, d: String) => graft.similarity.SimilarityOps.cosineTopK(emb(s, d))),
      // per-dimension embedding health (dead/collapsed dims, scale drift) —
      // counts + bit-exact min/max only, no float sums by design (r9)
      "dim_stats_embeddings" -> ((s: SparkSession, d: String) =>
        graft.similarity.SimilarityOps.dimStats(emb(s, d))),
      // reciprocal-rank fusion of the BM25 and cosine top-k lists — hybrid
      // lexical+dense retrieval with exact integer fusion terms (r11h)
      "rrf_hybrid_documents" -> ((s: SparkSession, d: String) =>
        graft.similarity.HybridSearch.rrfHybrid(
          docs(s, d), emb(s, d), SparkEntry.bm25Query)),
      "lshbuckets_embeddings" -> ((s: SparkSession, d: String) => graft.similarity.SimilarityOps.lshBuckets(emb(s, d))),
      // declared dedup-by-embedding route since r3: banded-LSH candidates +
      // exact rerank at a threshold the corpus actually answers (the r2
      // all-pairs query at 0.9 was a vacuous 0-row oracle); the exact
      // quadratic tier stays as the spec-tested verifier
      "cosine_dups_embeddings" -> ((s: SparkSession, d: String) => graft.similarity.SimilarityOps.cosineDupPairsBanded(emb(s, d))),
      // IVF declared against TRAINED centroids since r4 (r3 verdict missing
      // #3: the first-K "centroids" ignored the trainer one file over).
      // Training is its own oracled entry since r5 — Bench runs it first so
      // ivf_assign/ivf_topk measure cache-fed assignment/search only.
      "ivf_centroids_embeddings" -> ((s: SparkSession, d: String) =>
        graft.similarity.SimilarityOps.ivfCentroidsDF(emb(s, d), trainedCentroids(s, d))),
      "ivf_assign_embeddings" -> ((s: SparkSession, d: String) =>
        graft.similarity.SimilarityOps.ivfAssignTrained(emb(s, d), trainedCentroids(s, d))),
      // the ANN search paths users actually run (r2 verdict "missing" #1)
      "ann_embeddings" -> ((s: SparkSession, d: String) => graft.similarity.SimilarityOps.annTopK(emb(s, d))),
      "ivf_topk_embeddings" -> ((s: SparkSession, d: String) =>
        graft.similarity.SimilarityOps.ivfTopKTrained(emb(s, d), trainedCentroids(s, d))),
      // recall@k of the IVF search vs exact brute force — the nprobe-tuning
      // evaluation loop, both sides' tie-breaks deterministic (r8)
      "ivf_recall_embeddings" -> ((s: SparkSession, d: String) =>
        graft.similarity.SimilarityOps.ivfRecall(emb(s, d), trainedCentroids(s, d))),
      // SemDeDup-style semantic dedup: within-trained-cell cosine pairs (r7)
      "semantic_dups_embeddings" -> ((s: SparkSession, d: String) =>
        graft.similarity.SimilarityOps.semanticDupPairs(emb(s, d), trainedCentroids(s, d))),
      // farthest-from-centroid data-pruning candidates (r7b)
      "outliers_embeddings" -> ((s: SparkSession, d: String) =>
        graft.similarity.SimilarityOps.embeddingOutliers(emb(s, d), trainedCentroids(s, d))),
      // product quantization (r8): trained per-subspace codebooks as their
      // own oracled entry, the 64×-compressed code relation, and ADC top-k
      // search over the codes — the memory-bound ANN deployment path
      "pq_codebooks_embeddings" -> ((s: SparkSession, d: String) =>
        graft.similarity.Pq.codebooksDF(emb(s, d), trainedCodebooks(s, d))),
      "pq_codes_embeddings" -> ((s: SparkSession, d: String) =>
        graft.similarity.Pq.codesDF(emb(s, d), trainedCodebooks(s, d))),
      "pq_topk_embeddings" -> ((s: SparkSession, d: String) =>
        graft.similarity.Pq.adcTopK(emb(s, d), trainedCodebooks(s, d))),
      // the full production composition (r8): IVF nprobe cell pruning bounds
      // what is looked at, PQ/ADC bounds the bytes per look, exact cosine
      // reranks only the ADC shortlist — both trained models in one plan
      "ivfpq_topk_embeddings" -> ((s: SparkSession, d: String) =>
        graft.similarity.Pq.ivfPqTopK(
          emb(s, d), trainedCentroids(s, d), trainedCodebooks(s, d))),
      // SemDeDup completed: CC labels over the semantic-pair graph, via the
      // same O(log n) star loop as the text-dedup clusters; the label table
      // is cached per (session, dir) and shared with the survivors cut (r9)
      "semantic_clusters_embeddings" -> ((s: SparkSession, d: String) => semanticLabels(s, d)),
      // ... and the cut itself: one survivor per cluster + cluster size (r9)
      "semantic_survivors_embeddings" -> ((s: SparkSession, d: String) =>
        graft.similarity.SimilarityOps.semanticSurvivors(semanticLabels(s, d)))
    )
    val vault: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
      "dv_hub_customer" -> ((s: SparkSession, d: String) =>
        graft.vault.DataVault.hub(Tables.load(s, d, "customer"), "customer", Seq("c_custkey"))),
      "dv_sat_customer" -> ((s: SparkSession, d: String) =>
        graft.vault.DataVault.satellite(
          Tables.load(s, d, "customer"), "customer", Seq("c_custkey"),
          Seq("c_name", "c_nationkey", "c_acctbal", "c_mktsegment"))),
      "dv_link_order_customer" -> ((s: SparkSession, d: String) =>
        graft.vault.DataVault.link(
          Tables.load(s, d, "orders"), "order_customer", "order", "o_orderkey", "customer", "o_custkey")),
      "dv_link_lineitem" -> ((s: SparkSession, d: String) =>
        graft.vault.DataVault.linkN(
          Tables.load(s, d, "lineitem"), "lineitem",
          Seq("order" -> "l_orderkey", "part" -> "l_partkey", "supplier" -> "l_suppkey"))),
      "fk_candidates" -> ((s: SparkSession, d: String) => graft.vault.DataVault.fkCandidates(s, d)),
      // unary functional-dependency mining over orders — the schema pass
      // profilers run next to inclusion dependencies; o_orderkey→* holds,
      // every other determinant violates somewhere, so both branches of the
      // `holds` boolean are hash-checked (r9)
      "fd_candidates_orders" -> ((s: SparkSession, d: String) =>
        graft.vault.DataVault.fdCandidates(Tables.load(s, d, "orders"), Tables.columns("orders"))),
      // composite candidate keys: the declared sets climb from two columns
      // (45832 of 60000 distinct) to the one true 4-column key, so both
      // sides of is_key are hash-checked (r9)
      "composite_keys_lineitem" -> ((s: SparkSession, d: String) =>
        graft.vault.DataVault.compositeKeys(Tables.load(s, d, "lineitem"), SparkEntry.lineitemKeySets)),
      // masking decisions come from the engine's LIVE cached profile; the
      // oracle recomputes pii_level independently inside SQL — a true
      // end-to-end check of the profile→governance integration
      "masked_customer" -> ((s: SparkSession, d: String) =>
        graft.governance.Masking.maskedDF(Tables.load(s, d, "customer"), SparkEntry.profiles(s, d, "customer"))),
      // Data Vault DDL generation (the reference README's headline unbuilt
      // capability): NOT NULL derived from the measured null_count, the
      // masked-view cells from the profiled pii_level — the oracle reassembles
      // the identical strings with both terms recomputed by DuckDB's own
      // profile cascade (r8)
      "dv_ddl_customer" -> ((s: SparkSession, d: String) =>
        graft.vault.DdlGen.vaultDdl(
          s,
          Tables.load(s, d, "customer"), SparkEntry.profiles(s, d, "customer"), "customer",
          keyCols = Seq("c_custkey"),
          attrCols = Seq("c_name", "c_nationkey", "c_acctbal", "c_mktsegment"),
          linkDf = Tables.load(s, d, "orders"),
          linkProfiles = SparkEntry.profiles(s, d, "orders"),
          linkName = "order_customer",
          linkMembers = Seq("order" -> "o_orderkey", "customer" -> "o_custkey")))
    )
    val extra: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
      "stream_events_hourly" -> ((s: SparkSession, d: String) =>
        graft.streaming.StreamingProfiler.eventWindowCounts(s, d)),
      // the monitor's sealed-day output, declared (r8): AvailableNow over the
      // events table, oracled by the batch anomaly SQL restricted to sealed
      // days — the sealing discipline itself is under the hash
      "stream_anomalies_events" -> ((s: SparkSession, d: String) =>
        graft.streaming.StreamingMonitor.streamingAnomalyScores(s, d)),
      "media_features_documents" -> ((s: SparkSession, d: String) =>
        graft.multimodal.MediaOps.mediaFeatures(docs(s, d))),
      // REAL javax.imageio decode of committed PNG/BMP payloads; the oracle
      // reads ground-truth stats recorded at encode time (r10)
      "media_decode" -> ((s: SparkSession, _: String) =>
        graft.multimodal.MediaOps.mediaDecode(s)),
      // per-kind decoded/quarantined counts vs encode-time decodable truth —
      // the decode's drop path under the hash gate (r11)
      "media_quarantine" -> ((s: SparkSession, _: String) =>
        graft.multimodal.MediaOps.mediaQuarantine(s)),
      // Pareto skyline (min price, max size): distributed sort-filter —
      // distinct pairs, partition-local running-max prune, tiny global
      // pass — vs the oracle's quadratic NOT EXISTS (r11)
      "skyline_part" -> ((s: SparkSession, d: String) =>
        graft.olap.Skyline.skyline(
          Tables.load(s, d, "part"), "p_retailprice", "p_size", Seq("p_partkey"))),
      // market-basket co-occurrence: per-order sorted sets + in-row pair
      // expression — the plan that never self-joins the fact table (r11)
      "copurchase_lineitem" -> ((s: SparkSession, d: String) =>
        graft.olap.Basket.copurchaseTopK(Tables.load(s, d, "lineitem"))),
      // degree-oriented triangle count over the thresholded co-purchase
      // graph — out-degree bounded O(√E) so the wedge join survives hubs
      // (r11)
      "triangles_lineitem" -> ((s: SparkSession, d: String) =>
        graft.olap.Basket.triangleCount(Tables.load(s, d, "lineitem"))),
      // in-session event-type trigrams — sequential-pattern mining on the
      // gap-and-island session definition; one shuffle feeds both windows
      // (r11)
      "trigrams_events" -> ((s: SparkSession, d: String) =>
        graft.analytics.EventOps.sessionTrigrams(Tables.load(s, d, "events"))),
      // α=1/2 EWMA of daily volume — power-of-two weights make the smoother
      // exact integer algebra; the join input is the rollup, never the fact
      // (r11)
      "ewma_events" -> ((s: SparkSession, d: String) =>
        graft.analytics.EventOps.ewmaDailyVolume(Tables.load(s, d, "events"))),
      // co-located bucketed join: both facts written bucketed+sorted on the
      // order key, report joins with zero exchange — pay the shuffle once at
      // write time; oracled against the plain parquet join (r11)
      "bucketed_join_orders" -> ((s: SparkSession, d: String) =>
        graft.scale.Bucketing.bucketedJoinRevenue(s, d)),
      // per-language percentile rank: the "top X% per language" curation
      // knob as an exact per-doc assignment (r11b)
      "quality_rank_documents" -> ((s: SparkSession, d: String) =>
        graft.text.TextOps.qualityRank(docs(s, d))),
      // pairwise top-k vocabulary overlap between sources — everything
      // pairwise runs on the |sources|·k shortlist, never the vocab (r11b)
      "vocab_overlap_documents" -> ((s: SparkSession, d: String) =>
        graft.text.TextOps.vocabOverlap(docs(s, d))),
      // cross-source duplication matrix in closed form off the cached CC
      // labels — per-(cluster, source) counts, never enumerated pairs (r11b)
      "cross_source_dups_documents" -> ((s: SparkSession, d: String) =>
        graft.dedup.DedupOps.crossSourceDups(clusterLabels(s, d), docs(s, d))),
      // keyword-in-context concordance: per-row array algebra behind a
      // pushdown-friendly contains prefilter (r11c)
      "kwic_documents" -> ((s: SparkSession, d: String) =>
        graft.text.TextOps.kwic(docs(s, d), SparkEntry.kwicTerm)),
      // CSV write→read round-trip with declared schema — the quoting
      // contract under the identity hash (r11c)
      "csv_roundtrip_documents" -> ((s: SparkSession, d: String) =>
        graft.io.Sources.csvRoundTrip(
          docs(s, d),
          s"/tmp/graft_csv/${s.sparkContext.applicationId}/${d.replaceAll("[^a-zA-Z0-9]", "_")}/documents",
          "doc_id")),
      // exact global length-percentile rank per doc: range-sort +
      // zipWithIndex offsets, never row_number over an empty window (r11f)
      "length_ranks_documents" -> ((s: SparkSession, d: String) =>
        graft.text.TextOps.lengthRanks(docs(s, d))),
      // parquet schema evolution: by-name mergeSchema reconciliation with
      // NULL backfill of the batch written before the column existed (r11f)
      "schema_merge_documents" -> ((s: SparkSession, d: String) =>
        graft.io.Sources.mergeSchemaRoundTrip(
          docs(s, d),
          s"/tmp/graft_merge/${s.sparkContext.applicationId}/${d.replaceAll("[^a-zA-Z0-9]", "_")}/documents",
          "source", "doc_id")),
      "sessions_events" -> ((s: SparkSession, d: String) =>
        graft.streaming.Sessionize.batchSessions(Tables.load(s, d, "events"))),
      // stream-stream interval join run AS A STREAM (two watermarked file
      // sources, append-mode inner join with an event-time range predicate,
      // AvailableNow) — completes the streaming operator families and is
      // hash-checked against the batch interval-join oracle (r8)
      "stream_attribution_events" -> ((s: SparkSession, d: String) =>
        graft.streaming.StreamJoin.streamingAttribution(s, d)),
      // numeric envelope + fixed-width histogram (r3)
      "numstats_lineitem" -> ((s: SparkSession, d: String) =>
        graft.stats.NumericStats.numericStats(Tables.load(s, d, "lineitem"), SparkEntry.lineitemNumericCols)),
      "numstats_orders" -> ((s: SparkSession, d: String) =>
        graft.stats.NumericStats.numericStats(Tables.load(s, d, "orders"), Seq("o_orderkey", "o_custkey", "o_totalprice"))),
      "hist_lineitem_price" -> ((s: SparkSession, d: String) =>
        graft.stats.NumericStats.histogram(Tables.load(s, d, "lineitem"), "l_extendedprice", 5000.0)),
      // the end-to-end curation composition (quality ∧ langid ∧ survivor);
      // reuses the cached cluster labels instead of re-running the CC loop
      "curated_documents" -> ((s: SparkSession, d: String) =>
        graft.curation.Curation.curatedDocuments(widenedDocuments(s, d), clusterLabels(s, d))),
      // quality-argmax survivor per cluster: map-side-combinable min(struct),
      // not a window — hot clusters partially reduce before the exchange (r8)
      "best_survivors_documents" -> ((s: SparkSession, d: String) =>
        graft.curation.Curation.bestSurvivors(docs(s, d), clusterLabels(s, d))),
      // token-budget mixture planner: exact-integer targets + the rate the
      // stratified sampler consumes (r8)
      "mix_plan_documents" -> ((s: SparkSession, d: String) =>
        graft.sampling.Sampling.mixPlan(docs(s, d))),
      // the dataset datasheet: corpus size/breadth/duplication/quality/
      // lang-ID coverage as one (metric, value) relation — a union of the
      // operator families' own 1-row aggregates, integration under one hash (r8)
      "datasheet_documents" -> ((s: SparkSession, d: String) =>
        graft.report.Datasheet.datasheet(docs(s, d))),
      // Levenshtein verification of the LSH candidate pairs on a bounded
      // prefix — constant per-pair cost, banded candidate volume (r8)
      "editdist_pairs_documents" -> ((s: SparkSession, d: String) =>
        graft.dedup.DedupOps.editDistancePairs(docs(s, d))),
      // DV2.0 point-in-time table over the SCD2 episodes: broadcast literal
      // snapshots against the validity ranges (r8)
      "dv_pit_orders" -> ((s: SparkSession, d: String) =>
        graft.vault.Scd2.pitOrders(Tables.load(s, d, "orders"))),
      // the full shippable training cut: curated ∧ not-bench ∧ not-leaking —
      // curation and decontamination composed end-to-end under one hash (r7)
      "decontaminated_documents" -> ((s: SparkSession, d: String) => {
        val dd = docs(s, d)
        val bench = graft.sampling.Sampling.sampleByHash(dd, "doc_id", 0.05, salt = "bench").select("doc_id")
        graft.curation.Curation.decontaminatedDocuments(dd, clusterLabels(s, d), bench,
          distinctShingles = Some(distinctShingles(s, d)))
      }),
      // exact interpolated quantiles (profiling tier)
      "quantiles_lineitem" -> ((s: SparkSession, d: String) =>
        graft.stats.NumericStats.quantiles(
          Tables.load(s, d, "lineitem"), Seq("l_quantity", "l_extendedprice"), Seq(0.25, 0.5, 0.75, 0.95))),
      // product-analytics layer over events
      "funnel_events" -> ((s: SparkSession, d: String) =>
        graft.analytics.EventOps.funnel(Tables.load(s, d, "events"), SparkEntry.funnelSteps)),
      // as-of enrichment: each event joined to the user's most recent
      // at-or-before order — the time-series operator Spark lacks natively,
      // via the union+window shape (one key shuffle, no range join) (r7)
      "asof_orders_events" -> ((s: SparkSession, d: String) =>
        graft.analytics.AsOfJoin.ordersAsOf(Tables.load(s, d, "events"), Tables.load(s, d, "orders"))),
      // bucketized range join against OVERLAPPING price bands — equi-join on
      // a quantized cell + exact recheck, never a nested-loop theta join (r7)
      "range_bands_lineitem" -> ((s: SparkSession, d: String) =>
        graft.analytics.RangeJoin.priceBandStats(Tables.load(s, d, "lineitem"))),
      "retention_events" -> ((s: SparkSession, d: String) =>
        graft.analytics.EventOps.retention(Tables.load(s, d, "events"))),
      // per-user Markov transition counts — the path-mining twin of the
      // funnel (lag window per user, |types|² rollup) (r9)
      "transitions_events" -> ((s: SparkSession, d: String) =>
        graft.analytics.EventOps.transitions(Tables.load(s, d, "events"))),
      // damped PageRank over the transition graph — exact 10^12-scaled
      // integer ranks, 3 fixed iterations, bounded-|V| collect (r11h)
      "pagerank_events" -> ((s: SparkSession, d: String) =>
        graft.analytics.PageRank.pageRank(s, Tables.load(s, d, "events"))),
      // distributed PageRank over the per-user session graph — ranks stay a
      // DataFrame (corpus-scale |V|: nodes are (user_id, event_type)) (r10)
      "pagerank_users" -> ((s: SparkSession, d: String) =>
        graft.analytics.PageRank.pageRankUsers(s, Tables.load(s, d, "events"))),
      // JSON payload profiling: get_json_object over the props column (r9)
      "props_stats_events" -> ((s: SparkSession, d: String) =>
        graft.analytics.EventOps.propsStats(Tables.load(s, d, "events"))),
      // pairwise correlation envelope as EXACT decimal sums (r9)
      "corr_lineitem" -> ((s: SparkSession, d: String) =>
        graft.stats.NumericStats.corrEnvelope(Tables.load(s, d, "lineitem"), SparkEntry.corrPairs)),
      // robust (winsorized) envelope: clip at exact p05/p95, exact clipped sum (r9)
      "winsorized_lineitem" -> ((s: SparkSession, d: String) =>
        graft.stats.NumericStats.winsorizedStats(
          Tables.load(s, d, "lineitem"), Seq("l_quantity", "l_extendedprice"))),
      // median/MAD robust-outlier gate: two rank-select passes + one
      // counting scan, threshold from the declared round-6 values (r11d)
      "mad_lineitem" -> ((s: SparkSession, d: String) =>
        graft.stats.NumericStats.madStats(
          Tables.load(s, d, "lineitem"), SparkEntry.madCols)),
      // Benford first-digit audit: digit from integer rendering, exact
      // per-mille share, round-6 expectation (r11d)
      "benford_lineitem" -> ((s: SparkSession, d: String) =>
        graft.stats.NumericStats.benford(Tables.load(s, d, "lineitem"), "l_extendedprice")),
      // Theil–Sen robust daily-volume slope — pairwise-median over the
      // calendar-bounded rollup, the outage-tolerant twin of trend_events (r11d)
      "theilsen_events" -> ((s: SparkSession, d: String) =>
        graft.analytics.EventOps.theilSen(Tables.load(s, d, "events"))),
      // running distinct audience WITHOUT a running distinct: first-seen
      // rollup + |days|-row prefix sum (r11e)
      "cumulative_users_events" -> ((s: SparkSession, d: String) =>
        graft.analytics.EventOps.cumulativeUsers(Tables.load(s, d, "events"))),
      // per-type staleness monitor: last-seen lag behind the corpus max (r11e)
      "freshness_events" -> ((s: SparkSession, d: String) =>
        graft.analytics.EventOps.freshness(Tables.load(s, d, "events"))),
      // per-type inter-arrival cadence quantiles over the grouped
      // rank-select pass — turns freshness lag into a judgment (r11e)
      "interarrival_events" -> ((s: SparkSession, d: String) =>
        graft.analytics.EventOps.interArrival(Tables.load(s, d, "events"))),
      // trailing-7-day rolling event volumes per type (r7b)
      "rolling_events" -> ((s: SparkSession, d: String) =>
        graft.analytics.EventOps.rollingDaily(Tables.load(s, d, "events"))),
      // SCD2 validity episodes of order priority per customer (r7b)
      "scd2_orders" -> ((s: SparkSession, d: String) =>
        graft.vault.Scd2.orderPriorityEpisodes(Tables.load(s, d, "orders"))),
      // Deequ-style declarative constraint suite: the whole rule set is ONE
      // aggregate pass (conditional sums + a single count-distinct) over a
      // broadcast-joined referential arm; the 100k price-cap rule genuinely
      // fails, exercising the passed=false path (r10b)
      "checks_orders" -> ((s: SparkSession, d: String) =>
        graft.quality.Checks.orderChecks(Tables.load(s, d, "orders"), Tables.load(s, d, "customer"))),
      // CDC changelog compaction — latest-wins upsert/tombstone apply, the
      // MERGE INTO per-commit primitive as a batch operator; rank-1 window
      // rides the same map-side WindowGroupLimit as quota_documents (r10b)
      "cdc_snapshot_orders" -> ((s: SparkSession, d: String) =>
        graft.cdc.ChangeCapture.cdcSnapshotOrders(Tables.load(s, d, "orders"))),
      // wide->long melt (native unpivot, one Expand) + grouped envelope —
      // the inverse of lang_pivot; exact decimal sums as strings (r10b)
      "unpivot_lineitem" -> ((s: SparkSession, d: String) =>
        graft.report.Reshape.unpivotStats(
          Tables.load(s, d, "lineitem"), "l_returnflag", SparkEntry.meltMeasures)),
      // padding-waste planner: power-of-two length buckets, the quantified
      // argument for sequence packing (r10b)
      "padding_documents" -> ((s: SparkSession, d: String) =>
        graft.text.Packing.paddingReport(docs(s, d))),
      // classic star-join OLAP: TPC-H Q5/Q10 shapes — fact⋈fact shuffles on
      // their keys, the fixed nation dim broadcast, money in exact decimals
      // rendered as strings (r10b)
      // all four reporting queries derive from the ONE shared per-customer
      // revenue rollup (custRevenue — guide §2.4 shared fact-join, §2.2
      // pre-aggregated before its first shuffle; r20)
      "revenue_nation" -> ((s: SparkSession, d: String) =>
        graft.olap.Reporting.revenueByNationOn(
          custRevenue(s, d), Tables.load(s, d, "nation"))),
      "top_customers" -> ((s: SparkSession, d: String) =>
        graft.olap.Reporting.topCustomersOn(custRevenue(s, d))),
      // per-group leaderboard: rank-limit plans as two-phase WindowGroupLimit
      // — each input partition forwards ≤ n rows per nation (r11g)
      "top_customers_nation" -> ((s: SparkSession, d: String) =>
        graft.olap.Reporting.topCustomersByNationOn(
          custRevenue(s, d), Tables.load(s, d, "nation"))),
      // ratio-to-report in pure integer algebra: exact e4 revenue + exact
      // per-mille share, decimal(38,0) partials vs DuckDB HUGEINT (r11g)
      "revenue_share_nation" -> ((s: SparkSession, d: String) =>
        graft.olap.Reporting.revenueShareByNationOn(
          custRevenue(s, d), Tables.load(s, d, "nation"))),
      // monthly cohort retention matrix: distinct (user, month) activity +
      // first-seen cohort, exact integer per-mille retention (r11g)
      "cohorts_events" -> ((s: SparkSession, d: String) =>
        graft.analytics.EventOps.cohorts(Tables.load(s, d, "events"))),
      // calendar-spine gap fill: explicit zero rows for silent hours — the
      // spine derives from the aggregate's bounds, raw events never meet it
      // (r10b)
      "gapfill_events" -> ((s: SparkSession, d: String) =>
        graft.analytics.EventOps.gapFilledHourly(Tables.load(s, d, "events"))),
      // equi-depth deciles WITHOUT the single-partition NTILE window: rank-
      // select boundaries + a per-row CASE over broadcast scalars (r10b)
      "deciles_customer" -> ((s: SparkSession, d: String) =>
        graft.stats.NumericStats.percentileBuckets(Tables.load(s, d, "customer"), "c_acctbal")),
      // release-gate reconciliation: documents vs its deterministic "next
      // release" (redacted text, gated drops/adds) — added/removed/identical
      // and per-column changed counts off one full-outer join (r10c)
      "diff_documents" -> ((s: SparkSession, d: String) =>
        graft.quality.Diff.diffDocuments(docs(s, d))),
      // partitioned write + partition-PRUNED read under the identity oracle:
      // the lang=en read opens only that partition's files (r10c)
      "partitioned_roundtrip_documents" -> ((s: SparkSession, d: String) =>
        graft.io.Sources.partitionedRoundTrip(
          docs(s, d),
          s"/tmp/graft_partitioned/${s.sparkContext.applicationId}/${d.replaceAll("[^a-zA-Z0-9]", "_")}/documents",
          "lang", "en", "doc_id")),
      // the CDC apply as a STREAMING materialized view — latest-wins
      // max_by state per key, declared against the same oracle as the batch
      // twin (stream≡batch, like stream_events_hourly) (r10c)
      "stream_cdc_orders" -> ((s: SparkSession, d: String) =>
        graft.streaming.StreamCdc.streamingCdcSnapshot(s, d)),
      // join-size estimation from key histograms — the AQE-skew planner
      // datum (r10d); since r9 the materialized-join validation arm runs on
      // a declared md5-gated 1/16 key subset, so the query's cost no longer
      // scales as the join it predicts (full-join validation is spec-only)
      "join_size_lineitem" -> ((s: SparkSession, d: String) => {
        val li = Tables.load(s, d, "lineitem")
        graft.scale.Partitioning.joinSizeProfileGated(li, li, "l_partkey", "l_partkey")
      }),
      // per-column dictionary-vs-plain storage advisory from NDV ratios
      // (r10d)
      "encoding_advice_customer" -> ((s: SparkSession, d: String) =>
        graft.scale.Partitioning.encodingAdvice(
          Tables.load(s, d, "customer"), Tables.columns("customer"))),
      // CUBE totals over the mixture report — every subset of {lang,source}
      // in one Expand pass, incl. the per-source marginal ROLLUP lacks
      // (r10d)
      "cube_documents" -> ((s: SparkSession, d: String) =>
        graft.text.TextOps.mixtureCube(docs(s, d))),
      // dedup cluster-size histogram off the cached CC labels — the dup-
      // pressure report, two tiny nested aggregates, no fixpoint rerun
      // (r10e)
      "cluster_sizes_documents" -> ((s: SparkSession, d: String) =>
        graft.dedup.DedupOps.clusterSizes(clusterLabels(s, d))),
      // bottom-k-by-hash quantile sketch — the mergeable approximate tier
      // (TakeOrdered IS the sketch merge); estimates hash-check cross-engine
      // because the sample is deterministic (r10e)
      "sketch_quantiles_lineitem" -> ((s: SparkSession, d: String) =>
        graft.stats.BottomKSketch.sketchQuantiles(
          Tables.load(s, d, "lineitem"), Seq("l_orderkey", "l_linenumber"),
          Seq("l_extendedprice", "l_quantity"), Seq(0.25, 0.5, 0.75, 0.95))),
      // z-order cell stats: Morton-interleaved (partkey, suppkey) cells with
      // per-cell min/max of BOTH keys — the data-skipping footer stats a
      // z-ordered layout publishes; pure integer bit arithmetic (r10e)
      "zorder_lineitem" -> ((s: SparkSession, d: String) =>
        graft.scale.ZOrder.zCellStats(
          Tables.load(s, d, "lineitem"), "l_partkey", "l_suppkey")),
      // cross-table audit: header total vs the item charge formula — the
      // warehouse reconciliation that exposes this corpus's independent
      // totalprice (and its 257 item-less orphan orders at sf0.01) (r10f)
      "consistency_orders" -> ((s: SparkSession, d: String) =>
        graft.quality.Checks.orderItemsConsistency(
          Tables.load(s, d, "orders"), Tables.load(s, d, "lineitem"))),
      // per-type daily-volume trend as exact least-squares aggregates —
      // slope numerator/denominator in DECIMAL(38,0), never a float
      // quotient, never int64 products (the z-test lesson) (r10f)
      "trend_events" -> ((s: SparkSession, d: String) =>
        graft.analytics.EventOps.volumeTrend(Tables.load(s, d, "events"))),
      // the incremental-pipeline invariant, hash-checked: per-lang slice
      // profiles merged ≡ one full scan (exact count monoids; r4)
      "merged_stats_documents" -> ((s: SparkSession, d: String) =>
        graft.stats.MergeableStats.mergedStatsDF(docs(s, d), "lang")),
      // JSONL write→read round-trip, oracled as identity over the source
      // parquet (puts the I/O layer under the hash check)
      // scratch path carries the applicationId: two concurrent JVMs verifying
      // the same sfDir would otherwise race on one fixed path (ADVICE r4)
      "jsonl_roundtrip_documents" -> ((s: SparkSession, d: String) =>
        graft.io.Sources.jsonlRoundTrip(
          docs(s, d),
          s"/tmp/graft_jsonl/${s.sparkContext.applicationId}/${d.replaceAll("[^a-zA-Z0-9]", "_")}/documents",
          "doc_id")),
      // ORC write→read round-trip under the same identity oracle — the
      // Hive-era columnar format a lakehouse migration hands this engine (r9)
      "orc_roundtrip_documents" -> ((s: SparkSession, d: String) =>
        graft.io.Sources.orcRoundTrip(
          docs(s, d),
          s"/tmp/graft_orc/${s.sparkContext.applicationId}/${d.replaceAll("[^a-zA-Z0-9]", "_")}/documents",
          "doc_id")),
      // per-segment exact quantiles — the grouped twin of quantiles_lineitem,
      // same distributed rank-select plan keyed by (group, column) (r9)
      "group_quantiles_lineitem" -> ((s: SparkSession, d: String) =>
        graft.stats.NumericStats.groupQuantiles(
          Tables.load(s, d, "lineitem"), "l_returnflag",
          Seq("l_quantity", "l_extendedprice"), Seq(0.25, 0.5, 0.75, 0.95))),
      // trailing-baseline volume anomalies in exact integer algebra — the
      // monitoring rule that pages when a day's event volume breaks ±3σ (r9)
      "anomalies_events" -> ((s: SparkSession, d: String) =>
        graft.analytics.EventOps.dailyAnomalies(Tables.load(s, d, "events"))),
      // key-skew diagnostics on the natural shuffle key — the measurement
      // that decides between hash partitioning, salting, and AQE skew
      // handling before a key becomes the straggler (r10)
      "skew_events" -> ((s: SparkSession, d: String) =>
        graft.scale.Partitioning.keySkew(Tables.load(s, d, "events"), "user_id")),
      // profile drift between two slices of the corpus — the monitoring
      // layer under the hash gate: "yesterday" (doc_id < split) vs "today"
      // (doc_id >= split, `source` column dropped), so both the schema-diff
      // rules and the ratio-tolerance gate are exercised (r7)
      "drift_documents" -> ((s: SparkSession, d: String) => {
        import org.apache.spark.sql.functions.col
        val dd = docs(s, d)
        val before = engine.analyzeDataFrame(dd.where(col("doc_id") < SparkEntry.driftSplit)).columnProfiles
        val after = engine.analyzeDataFrame(
          dd.where(col("doc_id") >= SparkEntry.driftSplit).drop("source")).columnProfiles
        graft.stats.ProfileDrift.driftPortableDF(s, before, after, SparkEntry.driftTolerance)
      })
    )
    (profiles ++ summaries ++ piiSummaries ++ stats ++ text ++ dedup ++ sampling ++ sim ++ vault ++ extra).toMap
  }

  /** Language-rebalancing fractions for the declared stratified-sample query
    * (keep all of the low-resource languages, halve the dominant one).
    */
  val stratifiedFractions: Map[String, Double] =
    Map("en" -> 0.5, "de" -> 1.0, "es" -> 1.0, "fr" -> 1.0, "zh" -> 0.25)

  /** The numeric lineitem columns the declared numstats query measures. */
  val lineitemNumericCols: Seq[String] = Seq(
    "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
    "l_quantity", "l_extendedprice", "l_discount", "l_tax"
  )

  /** The measures the declared MAD gate profiles — the monetary/quantity
    * columns where contamination-resistant outlier detection matters (the
    * key columns are uniform, their MAD gate is vacuous).
    */
  val madCols: Seq[String] = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")

  /** The lineitem measures the declared melt (`unpivot_lineitem`) reshapes
    * into long form — the per-row quantities, not the key columns.
    */
  val meltMeasures: Seq[String] = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")

  /** The declared conversion funnel (signup → view → purchase, 7 days). */
  val funnelSteps: Seq[String] = Seq("signup", "view", "purchase")

  /** History/new-slice split for the declared incremental-dedup query. */
  val incrementalSplit: Long = 400L

  /** Hot-shingle document-frequency cap + threshold for the declared capped
    * contamination query (the configuration a 100 TB run uses — there the
    * cap is thousands; here it is set where the sf0.01 corpus df
    * distribution makes it BITE, so the filter itself is hash-checked:
    * 11 rows survive vs 14 uncapped at minShared=3).
    */
  val contaminationCap: Int          = 5
  val contaminationCappedMinShared: Long = 3L

  /** Query tokens for the declared BM25 query: two corpus-hot tokens (df ≈
    * every doc → idf near 0) plus the one RARE token (`dup`, df 26 at
    * sf0.01) so the idf contrast, not just tf normalization, decides the
    * ranking.
    */
  val bm25Query: Seq[String] = Seq("hash", "join", "dup")

  /** Declared blocklist: one hot single token, one multi-word phrase, one
    * substring that also matches inside longer tokens — exercising all three
    * semantics of the replace-length kernel.
    */
  val blocklistPhrases: Seq[String] = Seq("dup", "vector hash", "agg")

  /** Concordance term for the declared KWIC query — mid-frequency in the
    * fixture corpus (present in ~77% of docs at sf0.001) so both the match
    * and the no-match paths are exercised.
    */
  val kwicTerm: String = "spark"

  /** "Yesterday vs today" slice split + ratio tolerance for the declared
    * drift query. The tolerance sits where the sf0.01 halves make it BITE in
    * both directions: n_chars unique_ratio shifts 0.776 → 0.808 (> 0.02,
    * fires) while every other field's delta is exactly 0 (silent) — so one
    * ratio-drift row, one removed-column row, and six silently-agreeing
    * columns are all hash-checked.
    */
  val driftSplit: Long      = 250L
  val driftTolerance: Double = 0.02

  /** Token budget for the declared deterministic packing query — sized where
    * the sf0.01 doc-length distribution (10-99 ws-tokens) makes BOTH greedy
    * branches fire: multi-doc packs AND over-budget singletons (10 docs
    * exceed 96 tokens), so the singleton rule itself is hash-checked.
    */
  val packBudget: Long = 96L

  /** Candidate key sets for the declared composite-key query (this corpus's
    * lineitem is NOT keyed by (orderkey, linenumber) — the declared ladder
    * surfaces that and finds the real 4-column key).
    */
  val lineitemKeySets: Seq[Seq[String]] = Seq(
    Seq("l_orderkey", "l_linenumber"),
    Seq("l_orderkey", "l_partkey"),
    Seq("l_orderkey", "l_linenumber", "l_partkey"),
    Seq("l_orderkey", "l_linenumber", "l_suppkey", "l_partkey")
  )

  /** Explicit language domain for the declared pivot (the testdata's five
    * languages — pivot domains are always enumerated, never scanned).
    */
  val pivotLangs: Seq[String] = Seq("de", "en", "es", "fr", "zh")

  /** Column pairs for the declared correlation envelope: the four lineitem
    * measures, all six unordered pairs (price = f(quantity) is strongly
    * positive, discount/tax are independent draws — both regimes covered).
    */
  val corrPairs: Seq[(String, String)] = {
    val ms = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    for { (a, i) <- ms.zipWithIndex; b <- ms.drop(i + 1) } yield (a, b)
  }

  /** Cut size for the declared DSIR top-N selection — a fifth of the sf0.01
    * corpus, so the cut excludes most docs (the rank boundary is
    * hash-checked, not just the scoring).
    */
  val dsirTopN: Int = 100

  /** Per-source quota for the declared quota-capping query. The sf0.01
    * corpus has exactly 25 docs in every source, so a cap of 18 makes the
    * rank filter bite on all 20 strata (360 of 500 docs survive) — the
    * window's tie-break and the hash ordering are both hash-checked.
    */
  val quotaCap: Int = 18

  /** Hot-shingle document-frequency cap for the declared capped Jaccard twin
    * (same rationale as [[contaminationCap]]: at 100 TB the cap is thousands;
    * here it sits where the sf0.01 shingle-df distribution — max df 7, 4542
    * shingles at df 2 — makes the filter change the answer: 23 rows vs 25).
    */
  val jaccardCap: Int = 2

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on the
    * same parquet tables. Omitted for non-SQL-expressible ops (driver records
    * a weaker rows-only check). The trained-model entries inline the
    * centroids and codebooks of the shared [[artifacts]]; with no dir to
    * key on, they are included only when one dir has them (ADVICE r4:
    * `values.headOption` could inline an arbitrary entry's centroids when
    * several dirs train in one JVM) — [[oracleSqlFor]] is the dir-keyed
    * form Verify uses.
    */
  def oracleSql: Map[String, String] = oracleSqlFor(None)

  def oracleSqlFor(dir: Option[String]): Map[String, String] = {
    val profiles = Tables.oracleProfiled.map { t =>
      s"profile_$t" -> OracleGen.profileSql(t, Tables.columns(t), Tables.mapColumns(t))
    }
    val summaries = Seq("lineitem", "customer", "events").map { t =>
      s"summary_$t" -> OracleGen.summarySql(t, Tables.columns(t), Tables.mapColumns(t))
    }
    val piiSummaries = Seq("lineitem", "customer").map { t =>
      s"summary_pii_$t" -> OracleGen.piiSummarySql(t, Tables.columns(t), Tables.mapColumns(t))
    }
    val stats = Seq("lineitem", "customer").map { t =>
      s"stats_$t" -> OracleGen.statsSql(t, Tables.columns(t), Tables.mapColumns(t))
    }
    val text = Seq(
      "tokencount_documents"  -> graft.text.TextOps.oracleTokenCounts,
      "textstats_documents"   -> graft.text.TextOps.oracleTextStats,
      "langid_documents"      -> graft.text.TextOps.oracleLangId,
      "quality_documents"     -> graft.text.TextOps.oracleQuality,
      "fingerprint_documents" -> graft.text.TextOps.oracleFingerprints,
      "toptokens_documents"   -> graft.text.TextOps.oracleTopTokens(),
      "topbigrams_documents"  -> graft.text.TextOps.oracleTopBigrams(),
      "redacted_documents"    -> graft.text.Redaction.oracleRedact,
      "repetition_documents"  -> graft.text.TextOps.oracleRepetition,
      "unigram_scores_documents" -> graft.text.TextOps.oracleUnigramScores,
      "bigram_scores_documents" -> graft.text.BigramLm.oracleBigramScores,
      "blocklist_documents" -> graft.text.Blocklist.oracleBlocklistHits(blocklistPhrases),
      "source_kl_documents" -> graft.text.SourceDivergence.oracleSourceKl,
      "packing_documents" -> graft.text.Packing.oraclePackDeterministic("documents", packBudget),
      // the pinned-MG ground truth IS the exact top-K (that's the claim)
      "mg_vocab_documents" -> graft.text.TextOps.oracleTopTokens(),
      "mixture_documents" -> graft.text.TextOps.oracleMixture,
      "mixture_rollup_documents" -> graft.text.TextOps.oracleMixtureRollup,
      "lang_pivot_documents" -> graft.text.TextOps.oracleLangPivot(pivotLangs),
      "bm25_documents" -> graft.text.TextOps.oracleBm25(bm25Query),
      "dsir_weights_documents" -> graft.text.TextOps.oracleDsirWeights(),
      "dsir_top_documents" -> graft.text.TextOps.oracleDsirTop(dsirTopN),
      "gopher_quality_documents" -> graft.text.TextOps.oracleGopherQuality,
      "tfidf_keywords_documents" -> graft.text.TextOps.oracleTfidfKeywords(),
      "novelty_documents" -> graft.text.TextOps.oracleNovelty,
      "boilerplate_documents" -> graft.text.TextOps.oracleBoilerplateShingles(),
      "vocab_coverage_documents" -> graft.text.TextOps.oracleVocabCoverage(),
      "chunks_documents" -> graft.text.TextOps.oracleChunks()
    )
    val dedup = Seq(
      "dedup_exact_documents"   -> graft.dedup.DedupOps.oracleExactDuplicates,
      "minhash_pairs_documents" -> graft.dedup.DedupOps.oracleMinhashCandidatePairs,
      "simhash_documents"       -> graft.dedup.DedupOps.oracleSimhash,
      "jaccard_pairs_documents" -> graft.dedup.DedupOps.oracleJaccardPairs(),
      "jaccard_capped_documents" -> graft.dedup.DedupOps.oracleJaccardPairsCapped(maxShingleDf = jaccardCap),
      "simhash_pairs_documents" -> graft.dedup.DedupOps.oracleSimhashPairs(),
      "dedup_clusters_documents" -> graft.dedup.DedupOps.oracleDedupClusters,
      "contamination_documents"  -> graft.dedup.Contamination.oracleContaminatedPairs(),
      // the Bloom-pruned twin computes the SAME answer (no false negatives,
      // exact join downstream) — sharing the oracle hash-checks that claim
      "contamination_bloom_documents" -> graft.dedup.Contamination.oracleContaminatedPairs(),
      "contamination_capped_documents" -> graft.dedup.Contamination.oracleContaminatedPairsCapped(
        minShared = contaminationCappedMinShared, maxShingleDf = contaminationCap),
      "incremental_pairs_documents" -> graft.dedup.DedupOps.oracleIncrementalMinhashPairs(incrementalSplit),
      "dupgrams_documents" -> graft.dedup.DedupOps.oracleDupShingleStats,
      "minhash_recall_documents" -> graft.dedup.DedupOps.oracleMinhashRecall(),
      "spandedup_documents" -> graft.text.SpanDedup.oracleSpanDedup()
    )
    val docCols = Tables.columns("documents")
    val sampling = Seq(
      "sample_documents" -> graft.sampling.Sampling.oracleSampleByHash(
        "documents", "doc_id", docCols, 0.25),
      "stratified_sample_documents" -> graft.sampling.Sampling.oracleStratifiedSampleByHash(
        "documents", "doc_id", "lang", docCols, stratifiedFractions, defaultFraction = 0.05),
      "quota_documents" -> graft.sampling.Sampling.oracleQuotaByHash(
        "documents", "doc_id", "source", docCols, quotaCap),
      "holdout_documents" -> graft.sampling.Sampling.oracleHoldout(
        "documents", "doc_id", docCols, 0.25, 0.05),
      "salt_overlap_documents" -> graft.sampling.Sampling.oracleSaltOverlap(
        "documents", "doc_id", docCols, 0.5),
      "splits_documents" -> graft.sampling.Sampling.oracleSplitReport()
    )
    val sim = Seq(
      "knn_embeddings"        -> graft.similarity.SimilarityOps.oracleCosineTopK(),
      "dim_stats_embeddings"  -> graft.similarity.SimilarityOps.oracleDimStats,
      "rrf_hybrid_documents"  -> graft.similarity.HybridSearch.oracleRrfHybrid(
        graft.text.TextOps.oracleBm25(bm25Query),
        graft.similarity.SimilarityOps.oracleCosineTopK(Seq(0L), 20)),
      "lshbuckets_embeddings" -> graft.similarity.SimilarityOps.oracleLshBuckets,
      "cosine_dups_embeddings" -> graft.similarity.SimilarityOps.oracleCosineDupPairsBanded(),
      "ann_embeddings"        -> graft.similarity.SimilarityOps.oracleAnnTopK()
    ) ++ {
      // trained-model oracles inline the literals the query run built for
      // the dir's current embeddings (see trainedCentroids): keyed by the
      // dir being dumped when the caller names one, else only an
      // unambiguous single-dir entry is trusted. Absent/ambiguous/stale →
      // omitted (rows-only check), loudly: a silently weakened check was
      // ADVICE r4's parting complaint.
      def trained[T](name: String, what: String): Option[T] = {
        val found = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
          .flatMap(s => artifacts.current[T](s, name, dir))
        if (found.isEmpty)
          System.err.println(s"[SparkEntry] trained-$what oracle entries OMITTED (dir=$dir, " +
            s"no $name trained on its current embeddings) — driver will record rows-only checks")
        found
      }
      val cents = trained[Array[Array[Double]]]("centroids", "IVF")
      val cbs   = trained[Array[Array[Array[Double]]]]("codebooks", "PQ")
      cents.toSeq.flatMap { c =>
        Seq(
          "ivf_centroids_embeddings" -> graft.similarity.SimilarityOps.oracleIvfCentroids(c),
          "ivf_assign_embeddings"    -> graft.similarity.SimilarityOps.oracleIvfAssignTrained(c),
          "ivf_topk_embeddings"      -> graft.similarity.SimilarityOps.oracleIvfTopKTrained(c),
          "ivf_recall_embeddings"    -> graft.similarity.SimilarityOps.oracleIvfRecall(c),
          "semantic_dups_embeddings" -> graft.similarity.SimilarityOps.oracleSemanticDupPairs(c),
          "semantic_clusters_embeddings" -> graft.similarity.SimilarityOps.oracleSemanticClusters(c),
          "semantic_survivors_embeddings" -> graft.similarity.SimilarityOps.oracleSemanticSurvivors(c),
          "outliers_embeddings"      -> graft.similarity.SimilarityOps.oracleEmbeddingOutliers(c)
        ) ++ cbs.toSeq.map { cb =>
          // needs BOTH trained models
          "ivfpq_topk_embeddings" -> graft.similarity.Pq.oracleIvfPqTopK(c, cb)
        }
      } ++ cbs.toSeq.flatMap { c =>
        Seq(
          "pq_codebooks_embeddings" -> graft.similarity.Pq.oracleCodebooks(c),
          "pq_codes_embeddings"     -> graft.similarity.Pq.oracleCodes(c),
          "pq_topk_embeddings"      -> graft.similarity.Pq.oracleAdcTopK(c)
        )
      }
    }
    val vault = Seq(
      "dv_hub_customer" -> graft.vault.DataVault.oracleHub("customer", "customer", Seq("c_custkey")),
      "dv_sat_customer" -> graft.vault.DataVault.oracleSatellite(
        "customer", "customer", Seq("c_custkey"),
        Seq("c_name", "c_nationkey", "c_acctbal", "c_mktsegment"), doubleCols = Set("c_acctbal")),
      "dv_link_order_customer" -> graft.vault.DataVault.oracleLink(
        "orders", "order_customer", "order", "o_orderkey", "customer", "o_custkey"),
      "dv_link_lineitem" -> graft.vault.DataVault.oracleLinkN(
        "lineitem", "lineitem",
        Seq("order" -> "l_orderkey", "part" -> "l_partkey", "supplier" -> "l_suppkey")),
      "fk_candidates" -> graft.vault.DataVault.oracleFkCandidates,
      "fd_candidates_orders" -> graft.vault.DataVault.oracleFdCandidates("orders", Tables.columns("orders")),
      "composite_keys_lineitem" -> graft.vault.DataVault.oracleCompositeKeys("lineitem", lineitemKeySets),
      "masked_customer" -> OracleGen.maskedSql(
        "customer", Tables.columns("customer"), doubleCols = Set("c_acctbal")),
      "dv_ddl_customer" -> graft.vault.DdlGen.oracleVaultDdl(
        "customer",
        Map("c_custkey" -> "BIGINT", "c_name" -> "VARCHAR", "c_nationkey" -> "INTEGER",
          "c_acctbal" -> "DOUBLE", "c_mktsegment" -> "VARCHAR"),
        "customer", Seq("c_custkey"), Seq("c_name", "c_nationkey", "c_acctbal", "c_mktsegment"),
        "orders", Map("o_orderkey" -> "BIGINT", "o_custkey" -> "BIGINT"),
        "order_customer", Seq("order" -> "o_orderkey", "customer" -> "o_custkey"),
        doubleCols = Set("c_acctbal"))
    )
    val extra = Seq(
      "stream_events_hourly"     -> graft.streaming.StreamingProfiler.oracleEventWindowCounts,
      "media_features_documents" -> graft.multimodal.MediaOps.oracleMediaFeatures,
      "media_decode" -> graft.multimodal.MediaOps.oracleMediaDecode(),
      "media_quarantine" -> graft.multimodal.MediaOps.oracleMediaQuarantine(),
      "sessions_events"          -> graft.streaming.Sessionize.oracleBatchSessions(),
      "stream_attribution_events" -> graft.streaming.StreamJoin.oracleAttribution(),
      "numstats_lineitem" -> graft.stats.NumericStats.oracleNumericStats("lineitem", lineitemNumericCols),
      "numstats_orders" -> graft.stats.NumericStats.oracleNumericStats(
        "orders", Seq("o_orderkey", "o_custkey", "o_totalprice")),
      "hist_lineitem_price" -> graft.stats.NumericStats.oracleHistogram("lineitem", "l_extendedprice", 5000.0),
      "curated_documents"   -> graft.curation.Curation.oracleCuratedDocuments,
      "best_survivors_documents" -> graft.curation.Curation.oracleBestSurvivors,
      "mix_plan_documents"  -> graft.sampling.Sampling.oracleMixPlan,
      "datasheet_documents" -> graft.report.Datasheet.oracleDatasheet,
      "editdist_pairs_documents" -> graft.dedup.DedupOps.oracleEditDistancePairs(),
      "dv_pit_orders"       -> graft.vault.Scd2.oraclePitOrders(),
      "decontaminated_documents" -> graft.curation.Curation.oracleDecontaminatedDocuments(),
      "quantiles_lineitem" -> graft.stats.NumericStats.oracleQuantiles(
        "lineitem", Seq("l_quantity", "l_extendedprice"), Seq(0.25, 0.5, 0.75, 0.95)),
      "funnel_events"    -> graft.analytics.EventOps.oracleFunnel(funnelSteps),
      "asof_orders_events" -> graft.analytics.AsOfJoin.oracleOrdersAsOf,
      "range_bands_lineitem" -> graft.analytics.RangeJoin.oraclePriceBandStats,
      "retention_events" -> graft.analytics.EventOps.oracleRetention,
      "transitions_events" -> graft.analytics.EventOps.oracleTransitions,
      "pagerank_events" -> graft.analytics.PageRank.oraclePageRank(),
      "pagerank_users" -> graft.analytics.PageRank.oraclePageRankUsers(),
      "props_stats_events" -> graft.analytics.EventOps.oraclePropsStats,
      "corr_lineitem" -> graft.stats.NumericStats.oracleCorrEnvelope("lineitem", corrPairs),
      "winsorized_lineitem" -> graft.stats.NumericStats.oracleWinsorizedStats(
        "lineitem", Seq("l_quantity", "l_extendedprice")),
      "mad_lineitem" -> graft.stats.NumericStats.oracleMadStats("lineitem", madCols),
      "benford_lineitem" -> graft.stats.NumericStats.oracleBenford("lineitem", "l_extendedprice"),
      "theilsen_events" -> graft.analytics.EventOps.oracleTheilSen,
      "cumulative_users_events" -> graft.analytics.EventOps.oracleCumulativeUsers,
      "freshness_events" -> graft.analytics.EventOps.oracleFreshness,
      "interarrival_events" -> graft.analytics.EventOps.oracleInterArrival(),
      "rolling_events" -> graft.analytics.EventOps.oracleRollingDaily(),
      "scd2_orders" -> graft.vault.Scd2.oracleOrderPriorityEpisodes,
      "checks_orders" -> graft.quality.Checks.oracleOrderChecks,
      "revenue_nation" -> graft.olap.Reporting.oracleRevenueByNation,
      "top_customers" -> graft.olap.Reporting.oracleTopCustomers(),
      "top_customers_nation" -> graft.olap.Reporting.oracleTopCustomersByNation(),
      "revenue_share_nation" -> graft.olap.Reporting.oracleRevenueShareByNation,
      "cohorts_events" -> graft.analytics.EventOps.oracleCohorts,
      "gapfill_events" -> graft.analytics.EventOps.oracleGapFilledHourly,
      "deciles_customer" -> graft.stats.NumericStats.oraclePercentileBuckets("customer", "c_acctbal"),
      "diff_documents" -> graft.quality.Diff.oracleDiffDocuments,
      "partitioned_roundtrip_documents" ->
        s"SELECT ${Tables.columns("documents").mkString(", ")} FROM documents WHERE lang = 'en' ORDER BY doc_id",
      "stream_cdc_orders" -> graft.cdc.ChangeCapture.oracleCdcSnapshotOrders,
      "join_size_lineitem" -> graft.scale.Partitioning.oracleJoinSizeSelfGated("lineitem", "l_partkey"),
      "encoding_advice_customer" -> graft.scale.Partitioning.oracleEncodingAdvice(
        "customer", Tables.columns("customer")),
      "cube_documents" -> graft.text.TextOps.oracleMixtureCube,
      "cluster_sizes_documents" -> graft.dedup.DedupOps.oracleClusterSizes,
      "sketch_quantiles_lineitem" -> graft.stats.BottomKSketch.oracleSketchQuantiles(
        "lineitem", Seq("l_orderkey", "l_linenumber"),
        Seq("l_extendedprice", "l_quantity"), Seq(0.25, 0.5, 0.75, 0.95)),
      "zorder_lineitem" -> graft.scale.ZOrder.oracleZCellStats("lineitem", "l_partkey", "l_suppkey"),
      "consistency_orders" -> graft.quality.Checks.oracleOrderItemsConsistency,
      "trend_events" -> graft.analytics.EventOps.oracleVolumeTrend,
      "skyline_part" -> graft.olap.Skyline.oracleSkylinePart,
      "copurchase_lineitem" -> graft.olap.Basket.oracleCopurchaseTopK(),
      "triangles_lineitem" -> graft.olap.Basket.oracleTriangleCount(),
      "trigrams_events" -> graft.analytics.EventOps.oracleSessionTrigrams(),
      "ewma_events" -> graft.analytics.EventOps.oracleEwmaDailyVolume(),
      "bucketed_join_orders" -> graft.scale.Bucketing.oracleBucketedJoinRevenue,
      "quality_rank_documents" -> graft.text.TextOps.oracleQualityRank(),
      "vocab_overlap_documents" -> graft.text.TextOps.oracleVocabOverlap(),
      "cross_source_dups_documents" -> graft.dedup.DedupOps.oracleCrossSourceDups,
      "kwic_documents" -> graft.text.TextOps.oracleKwic(kwicTerm),
      "length_ranks_documents" -> graft.text.TextOps.oracleLengthRanks,
      "schema_merge_documents" ->
        """SELECT doc_id, text, lang, CAST(NULL AS VARCHAR) AS source, n_chars,
          |  CAST(1 AS BIGINT) AS batch FROM documents
          |UNION ALL
          |SELECT doc_id, text, lang, source, n_chars, CAST(2 AS BIGINT) AS batch
          |FROM documents ORDER BY doc_id, batch""".stripMargin,
      "csv_roundtrip_documents" ->
        s"SELECT ${Tables.columns("documents").mkString(", ")} FROM documents ORDER BY doc_id",
      "cdc_snapshot_orders" -> graft.cdc.ChangeCapture.oracleCdcSnapshotOrders,
      "unpivot_lineitem" -> graft.report.Reshape.oracleUnpivotStats(
        "lineitem", "l_returnflag", meltMeasures),
      "padding_documents" -> graft.text.Packing.oraclePaddingReport,
      "merged_stats_documents" -> graft.stats.MergeableStats.oracleMergedStats(
        "documents", Tables.columns("documents").filterNot(_ == "lang")),
      "jsonl_roundtrip_documents" ->
        s"SELECT ${Tables.columns("documents").mkString(", ")} FROM documents ORDER BY doc_id",
      "orc_roundtrip_documents" ->
        s"SELECT ${Tables.columns("documents").mkString(", ")} FROM documents ORDER BY doc_id",
      "group_quantiles_lineitem" -> graft.stats.NumericStats.oracleGroupQuantiles(
        "lineitem", "l_returnflag", Seq("l_quantity", "l_extendedprice"), Seq(0.25, 0.5, 0.75, 0.95)),
      "anomalies_events" -> graft.analytics.EventOps.oracleDailyAnomalies(),
      "skew_events" -> graft.scale.Partitioning.oracleKeySkew("events", "user_id"),
      "stream_anomalies_events" -> graft.analytics.EventOps.oracleDailyAnomalies(
        sealedDelayMs = Some(1000L)),
      "drift_documents" -> OracleGen.driftSql(
        s"(SELECT * FROM documents WHERE doc_id < $driftSplit)",
        Tables.columns("documents"),
        s"(SELECT * FROM documents WHERE doc_id >= $driftSplit)",
        Tables.columns("documents").filterNot(_ == "source"),
        driftTolerance)
    )
    (profiles ++ summaries ++ piiSummaries ++ stats ++ text ++ dedup ++ sampling ++ sim ++ vault ++ extra).toMap
  }
}
