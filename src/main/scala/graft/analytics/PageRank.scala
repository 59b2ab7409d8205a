package graft.analytics

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Damped PageRank over behavioral transition graphs — the classic "which
  * state actually matters" centrality a funnel report can't answer:
  * retention tells you where users go next, PageRank tells you where the
  * steady-state attention mass sits.
  *
  * Two entry points, same arithmetic, different scale contracts:
  *
  *   - [[pageRank]] — the BOUNDED-|V| variant over the event-TYPE graph
  *     (nodes are event types, |V| ≈ tens). The two distributed passes
  *     (edge aggregation, node set) land in bounded collects, then the
  *     iteration loop runs over driver-built local relations. A hard
  *     `require(|V| ≤ MaxBoundedVertices)` — counted BEFORE anything is
  *     collected — makes the scope self-enforcing instead of scaladoc-only.
  *   - [[pageRankGraph]] — the DISTRIBUTED variant for graphs whose vertex
  *     set is itself corpus-sized: ranks stay a DataFrame end to end, each
  *     iteration joins the rank relation onto the (persisted, src-hashed)
  *     edge relation, aggregates contributions map-side per dst, and
  *     rebuilds the rank relation — no driver materialization anywhere, so
  *     it survives |V| at 100 TB scale. [[pageRankUsers]] declares it on
  *     the per-user session graph (nodes = (user_id, event_type) pairs,
  *     |V| grows linearly with the user corpus).
  *
  * EXACT integer arithmetic end to end, so the hash gate holds cross-engine:
  * ranks live at scale 10¹² (`rank_e12`), the per-edge routed mass is
  * floor(r·w / out_w) computed by the long-safe split identity
  * `(r div out_w)·w + ((r mod out_w)·w) div out_w` (exact: r = q·out_w + s ⇒
  * floor(r·w/out_w) = q·w + floor(s·w/out_w)); the damping update is
  * `teleport + (85·Σ) div 100` with teleport = (15·10¹²) div (100·N). No
  * float appears anywhere — iteration order, partition order, and summation
  * order cannot move the result. The long bound is out_w·w < 9·10¹⁸
  * (out-weights here top out ~10⁵); past that the accumulators widen to
  * DECIMAL(38,0) unchanged in value. Dangling mass (nodes never followed)
  * drains per the strict-damping variant — documented, matched by the twin.
  */
object PageRank {

  private val Scale = 1000000000000L // 10^12

  /** Ceiling for the driver-materialized variant; above it the caller gets a
    * loud error pointing at the distributed loop instead of an OOM.
    */
  val MaxBoundedVertices = 4096L

  /** Edge ceiling for the same variant: a dense graph AT the vertex cap is
    * |V|² ≈ 16.8M edges — driver-fatal even when the node collect passes —
    * so the edge collect carries its own gate (ADVICE r10). 256k (String,
    * String, Long) rows is ~tens of MB driver-side; behavioral type graphs
    * run in the hundreds.
    */
  val MaxBoundedEdges = 262144L

  /** (event_type, rank_e12) after `iters` damped iterations, heaviest first —
    * the bounded-|V| variant (see object doc). |V| is counted distributively
    * and gated by [[MaxBoundedVertices]] BEFORE any row reaches the driver.
    */
  def pageRank(spark: SparkSession, events: DataFrame, iters: Int = 3): DataFrame = {
    require(iters >= 1 && iters <= 10, "pageRank wants 1..10 fixed iterations")
    import spark.implicits._
    // one job gates AND fetches: collecting cap+1 rows bounds the driver at
    // 4097 strings while proving |V| ≤ cap, with no separate counting scan.
    // A NULL event_type is not a node (it would NPE the driver-side string
    // sort, and the oracle's v CTE excludes it identically)
    // no widen() (r19): pruned two-column scan straight into the distinct
    // exchange — nothing per-row to parallelize before it
    val nodeRows = events.select(col("event_type"), col("ts"))
      .where(col("event_type").isNotNull && col("ts").isNotNull)
      .select(col("event_type")).distinct()
      .limit(MaxBoundedVertices.toInt + 1).as[String].collect().toSeq.sorted
    val n = nodeRows.length.toLong
    require(n > 0, "pageRank needs a non-empty graph")
    require(n <= MaxBoundedVertices,
      s"|V| ≥ $n exceeds MaxBoundedVertices=$MaxBoundedVertices; " +
        "use pageRankGraph/pageRankUsers — the distributed loop keeps ranks as a DataFrame")
    // the edge collect gets the same limit-gating treatment: cap+1 rows bound
    // the driver while proving |E| ≤ cap (a dense graph at the vertex cap
    // would otherwise collect |V|² rows through a passed node gate)
    val edgeRows = EventOps.transitions(events)
      // a NULL next_type is not a node (see nodeRows): dropping the edge
      // HERE keeps out-weights consistent with the oracle's e CTE, which
      // never counts mass routed to an excluded endpoint
      .where(col("next_type").isNotNull)
      .select(col("prev_type").as("src"), col("next_type").as("dst"), col("n").as("w"))
      .limit(MaxBoundedEdges.toInt + 1).as[(String, String, Long)].collect().toSeq
    require(edgeRows.length <= MaxBoundedEdges,
      s"|E| ≥ ${edgeRows.length} exceeds MaxBoundedEdges=$MaxBoundedEdges; " +
        "use pageRankGraph/pageRankUsers — the distributed loop keeps edges as a DataFrame")
    // Both relations are DRIVER data past the gates (≤4096 nodes, ≤256k
    // edges) — the iteration runs as a driver loop over them instead of
    // re-submitting ~5 Spark jobs per round over broadcast local relations
    // (r20 session 2, QueryJobProbe: 20 jobs → the 2 gated collects; the
    // DedupClusters union-find precedent). Arithmetic is the IDENTICAL
    // exact-integer algebra the DataFrame loop ran — nonneg longs, Scala
    // `/`/`%` ≡ SQL `div`/`%` on nonneg operands — so the result is
    // bit-identical by construction (pinned against the distributed loop in
    // R11hOpsSpec and against the sequential reference in GraphFuzzSpec).
    val ranks = boundedLoop(nodeRows, edgeRows, n, iters)
    ranks.toSeq
      .toDF("event_type", "rank_e12")
      .orderBy(col("rank_e12").desc, col("event_type"))
  }

  /** The bounded variant's damped-update loop over driver-resident node and
    * edge seqs — the exact-integer replica of [[pageRankGraph]]'s per-round
    * algebra: out-weights over all collected edges, per-edge routed mass by
    * the long-safe split identity, inner-join semantics on the rank lookup
    * (an edge whose src has no rank row contributes nothing), left-join
    * semantics on the rebuild (a node with no in-mass keeps the teleport
    * floor). Exposed for the fuzz pin ([[graft.GraphFuzzSpec]]).
    */
  private[graft] def boundedLoop(
      nodeRows: Seq[String],
      edgeRows: Seq[(String, String, Long)],
      n: Long,
      iters: Int): Map[String, Long] = {
    val teleport = (15L * Scale) / (100L * n)
    val outW: Map[String, Long] =
      edgeRows.groupBy(_._1).map { case (s, es) => s -> es.map(_._3).sum }
    var ranks: Map[String, Long] = nodeRows.map(_ -> Scale / n).toMap
    for (_ <- 1 to iters) {
      val cin = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
      for ((s, d, w) <- edgeRows; r <- ranks.get(s)) {
        val ow = outW(s)
        cin(d) += (r / ow) * w + ((r % ow) * w) / ow
      }
      ranks = nodeRows.map(nd => nd -> (teleport + (85L * cin(nd)) / 100L)).toMap
    }
    ranks
  }

  /** Distributed PageRank over an arbitrary weighted graph: `edges` is
    * (src: string, dst: string, w: long), `nodes` is (node: string) — both
    * stay DataFrames throughout; the only driver-side values are two scalar
    * aggregates (|V| for the teleport constant, and nothing else).
    *
    * Scale shape: the edge relation is joined with its out-weight aggregate
    * once, hash-partitioned by `src`, and persisted — so each of the `iters`
    * rounds shuffles ONLY the |V|-row rank relation to the edges (sort-merge
    * or AQE-chosen broadcast when ranks are small), aggregates contributions
    * map-side per dst, and rebuilds ranks by a left join on the node set
    * (hash-partitioned by its single column from the `distinct`, so that
    * exchange is reused every round too). `iters` is fixed and small — the
    * lineage chain stays shallow, no checkpointing needed.
    */
  /** Persisted (edges⋈out-weights, node set) per (application, input plans) —
    * repeat calls (bench passes, recall-style harnesses) reuse instead of
    * re-persisting anonymously, and [[clearCache]] (wired into
    * `SparkEntry.clearCaches`) releases executor memory; without this a
    * long-lived session would leak one cached relation pair per call.
    * Keys are the canonicalized plans THEMSELVES (structural case-class
    * equality), not their string renderings: a `LocalRelation`'s toString
    * elides its data rows, so two DIFFERENT in-memory graphs with the same
    * schema would collide on a string key and the second caller would get
    * the first graph's cached relations — wrong results, found by the r11
    * eviction spec. Plan equality includes the literal data, and is also
    * stronger than the 32-bit hash a collision-tolerant cache could use
    * (the cached value is result-bearing data). Per application and
    * released by `SparkEntry.clearCaches`, but unlike SparkEntry's shared
    * artifacts it carries no input version: files rewritten in place
    * mid-application need a clear.
    */
  // var (package-private) ONLY so the eviction spec can exercise the bound
  // without 64 persisted graphs; production never writes it
  private[graft] var GraphCacheMax = 64
  // LinkedHashMap (always accessed under `synchronized`) so eviction can drop
  // the single LEAST-RECENTLY-USED entry: a full flush at the bound
  // unpersisted entries concurrently in use — safe but a recompute cliff
  // (ADVICE r10) — and insertion-order (FIFO) eviction would still evict a
  // hot graph once it became insertion-oldest under churn, so a hit
  // refreshes the entry to youngest (remove+put) before returning it
  private type GraphKey =
    (String, org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
  private val graphCache =
    scala.collection.mutable.LinkedHashMap.empty[GraphKey, (DataFrame, DataFrame)]

  private[graft] def cacheKeys: Set[Any] =
    graphCache.synchronized(graphCache.keySet.toSet)

  def clearCache(): Unit = graphCache.synchronized {
    graphCache.values.foreach { case (e, nd) =>
      e.unpersist(blocking = false); nd.unpersist(blocking = false)
    }
    graphCache.clear()
  }

  def pageRankGraph(spark: SparkSession, edgesIn: DataFrame, nodesIn: DataFrame,
                    iters: Int = 3): DataFrame = {
    require(iters >= 1 && iters <= 10, "pageRankGraph wants 1..10 fixed iterations")
    val key = (spark.sparkContext.applicationId,
      edgesIn.queryExecution.analyzed.canonicalized,
      nodesIn.queryExecution.analyzed.canonicalized)
    // synchronized: a lock-free getOrElseUpdate may run the thunk twice under
    // concurrency, and a discarded second persist would be unreleasable
    val (edges, nodes) = graphCache.synchronized {
      graphCache.remove(key) match {
        case Some(hit) =>
          graphCache.put(key, hit) // refresh to youngest: LRU, not FIFO
          hit
        case None =>
          if (graphCache.size >= GraphCacheMax) { // bound memory: evict LRU
            val (oldKey, (oldE, oldNd)) = graphCache.head
            oldE.unpersist(blocking = false); oldNd.unpersist(blocking = false)
            graphCache.remove(oldKey)
          }
          // NULL node labels are not graph elements: a NULL-keyed rank row
          // can never receive or route mass (joins on NULL match nothing),
          // so excluding them here keeps both variants and the oracles on
          // one definition instead of carrying an inert NULL row whose sort
          // position differs across engines
          val nd = nodesIn.select(col("node")).where(col("node").isNotNull).distinct()
            .persist(StorageLevel.MEMORY_AND_DISK)
          val e = edgesIn.select(col("src"), col("dst"), col("w"))
            .where(col("src").isNotNull && col("dst").isNotNull)
            .join(edgesIn.groupBy(col("src")).agg(sum(col("w")).as("out_w")), Seq("src"))
            .repartition(col("src"))
            .persist(StorageLevel.MEMORY_AND_DISK)
          graphCache.put(key, (e, nd))
          (e, nd)
      }
    }
    val n = nodes.count()
    require(n > 0, "pageRankGraph needs a non-empty graph")
    val teleport = (15L * Scale) / (100L * n)

    var ranks = nodes.select(col("node"), lit(Scale / n).as("r"))
    for (_ <- 1 to iters) {
      val contrib = edges
        .join(ranks.withColumnRenamed("node", "src"), Seq("src"))
        .select(
          col("dst").as("node"),
          expr("(r div out_w) * w + ((r % out_w) * w) div out_w").as("c"))
        .groupBy(col("node"))
        .agg(sum(col("c")).as("cin"))
      ranks = nodes
        .join(contrib, Seq("node"), "left")
        .select(col("node"), expr(s"$teleport + (85 * coalesce(cin, 0)) div 100").as("r"))
    }
    ranks
      .select(col("node"), col("r").as("rank_e12"))
      .orderBy(col("rank_e12").desc, col("node"))
  }

  /** Node key of the per-user session graph: `u<user_id>:<event_type>`. */
  private def userNode(userId: Column, eventType: Column): Column =
    concat(lit("u"), userId.cast("string"), lit(":"), eventType)

  /** The per-user session graph: each user's consecutive event-type
    * transitions as edges between that user's `(user_id, event_type)` nodes
    * — a disjoint union of per-user Markov chains whose vertex set grows
    * linearly with the user corpus (THIS is the graph where the bounded
    * variant would OOM the driver, and the reason [[pageRankGraph]] exists).
    */
  private[graft] def userGraph(events: DataFrame): (DataFrame, DataFrame) = {
    val wnd = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"))
      .orderBy(col("t"), col("event_id"))
    // timed-event doctrine (EventOps.timed): an untimed event cannot
    // transition and is not graph evidence; NULL window-order placement
    // also differs across engines
    // no widen() (r19): both branches lead with an exchange (user-key lag
    // window / node distinct) over cheap projections. The former shared RR
    // exchange did get AQE-reused across the two branches, but re-scanning
    // the pruned parquet twice is cheaper than round-robin-shuffling every
    // row once (both branches' A/B in OPTIMIZATION_r19.md batch 5).
    val widened = events.where(col("ts").isNotNull)
    val edges = widened
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("unix_micros(ts)").as("t"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(wnd))
      .where(col("prev_type").isNotNull)
      .select(
        userNode(col("user_id"), col("prev_type")).as("src"),
        userNode(col("user_id"), col("event_type")).as("dst"))
      .groupBy(col("src"), col("dst"))
      .agg(count(lit(1)).as("w"))
    val nodes = widened
      .select(userNode(col("user_id"), col("event_type")).as("node"))
      .distinct()
    (edges, nodes)
  }

  /** (node, rank_e12) over the per-user session graph, heaviest first —
    * the declared corpus-scale entry point for [[pageRankGraph]].
    */
  def pageRankUsers(spark: SparkSession, events: DataFrame, iters: Int = 3): DataFrame = {
    val (edges, nodes) = userGraph(events)
    pageRankGraph(spark, edges, nodes, iters)
  }

  /** The damped-update CTE chain shared by both oracles: unrolls `iters`
    * exact-integer steps over relations `e(src,dst,w)` / `v(node)` already
    * defined by `base`; `(r*w)//out_w` in BIGINT equals the Spark split form
    * exactly (the identity in the object doc), and `//` floors like `div` on
    * positive operands.
    */
  private def oracleSteps(base: String, iters: Int, finalSelect: String): String = {
    val prologue =
      s"""$base,
         |ow AS (SELECT src, sum(w) AS out_w FROM e GROUP BY src),
         |nn AS (SELECT count(*) AS n FROM v),
         |r0 AS (SELECT node, (SELECT $Scale // n FROM nn) AS r FROM v)""".stripMargin
    val steps = (1 to iters).map { i =>
      val prev = s"r${i - 1}"
      s"""c$i AS (
         |  SELECT e.dst AS node, sum(($prev.r * e.w) // ow.out_w) AS cin
         |  FROM e JOIN ow ON e.src = ow.src JOIN $prev ON $prev.node = e.src
         |  GROUP BY 1),
         |r$i AS (
         |  SELECT v.node,
         |    (SELECT (15 * $Scale) // (100 * n) FROM nn) + (85 * coalesce(c$i.cin, 0)) // 100 AS r
         |  FROM v LEFT JOIN c$i ON v.node = c$i.node)""".stripMargin
    }
    (Seq(prologue) ++ steps).mkString(",\n") + s"\n$finalSelect r$iters"
  }

  /** DuckDB twin of [[pageRank]] (the bounded event-type graph). */
  def oraclePageRank(iters: Int = 3): String =
    oracleSteps(
      s"""WITH seq AS (
         |  SELECT user_id, event_type,
         |    lag(event_type) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev_type
         |  FROM events WHERE ts IS NOT NULL),
         |e AS (
         |  SELECT prev_type AS src, event_type AS dst, count(*) AS w
         |  FROM seq WHERE prev_type IS NOT NULL AND event_type IS NOT NULL GROUP BY 1, 2),
         |v AS (SELECT DISTINCT event_type AS node FROM events
         |      WHERE event_type IS NOT NULL AND ts IS NOT NULL)""".stripMargin,
      iters,
      """SELECT node AS event_type, CAST(r AS BIGINT) AS rank_e12
        |FROM""".stripMargin) + " ORDER BY rank_e12 DESC, event_type"

  /** DuckDB twin of [[pageRankUsers]] (the per-user session graph). */
  def oraclePageRankUsers(iters: Int = 3): String =
    oracleSteps(
      s"""WITH seq AS (
         |  SELECT user_id, event_type,
         |    lag(event_type) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev_type
         |  FROM events WHERE ts IS NOT NULL),
         |e AS (
         |  SELECT 'u' || CAST(user_id AS VARCHAR) || ':' || prev_type AS src,
         |         'u' || CAST(user_id AS VARCHAR) || ':' || event_type AS dst,
         |         count(*) AS w
         |  FROM seq
         |  WHERE prev_type IS NOT NULL AND event_type IS NOT NULL AND user_id IS NOT NULL
         |  GROUP BY 1, 2),
         |v AS (SELECT DISTINCT 'u' || CAST(user_id AS VARCHAR) || ':' || event_type AS node
         |      FROM events
         |      WHERE user_id IS NOT NULL AND event_type IS NOT NULL AND ts IS NOT NULL)""".stripMargin,
      iters,
      """SELECT node, CAST(r AS BIGINT) AS rank_e12
        |FROM""".stripMargin) + " ORDER BY rank_e12 DESC, node"
}
