package graft.similarity

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding table (`vec_id, embedding:
  * array<float>, label` — TESTDATA.md `embeddings`). North-star family
  * (SURVEY.md §7.4).
  *
  * Two tiers:
  *
  *  1. '''Exact brute-force cosine top-k''' ([[cosineTopK]]) — the baseline
  *     and the rerank stage: broadcast the (small) query set against the
  *     vector table; per-row norms are computed once and reused. Exact top-k
  *     over the full table is inherently a scan — at the 100 TB design point
  *     this op is the final rerank over LSH/IVF candidates, not the primary
  *     search path.
  *  2. '''Random-hyperplane LSH''' ([[lshBuckets]], [[annTopK]]) — 16
  *     sign-random ±1 hyperplanes → 16-bit bucket per vector; search joins
  *     queries to vectors by bucket (with hamming-≤1 multiprobe) and reranks
  *     the candidates exactly. Candidate work scales with bucket occupancy,
  *     never |vectors|·|queries|.
  *
  * Engine-portable numerics: cosine is computed as sequential double folds
  * (the native [[DotProduct]] expression — same summation order as an
  * `aggregate` fold but a compiled loop instead of Spark's INTERPRETED
  * higher-order-function evaluation; verified ≤1 ulp from DuckDB's
  * `list_cosine_similarity` on the full corpus) and
  * DECLARED only rounded to 6 decimals, with ranking tie-broken by vec_id.
  * Bucket signatures avoid float order-sensitivity entirely: components are
  * quantized to integers (×1000, round) before the ±1 dot, so the bucket is
  * exact integer math in both engines.
  */
object SimilarityOps {

  val Dim       = 64
  val NumPlanes = 16
  val Quant     = 1000

  /** ±1 hyperplane components, LCG-derived (bit 16 of the LCG state — low
    * LCG bits are not pseudorandom).
    */
  val hyperplanes: Array[Array[Int]] = Array.tabulate(NumPlanes, Dim) { (k, d) =>
    val lcg = (1103515245L * (k * Dim + d + 1) + 12345L) % 2147483648L
    if (((lcg >> 16) & 1L) == 0L) 1 else -1
  }

  private[similarity] val dv    = expr("transform(embedding, x -> CAST(x AS DOUBLE))")
  private[similarity] def norm2(v: Column): Column = DotProduct(v, v)

  /** (vec_id, v, n2) over vectors that HAVE a direction: NULL embeddings and
    * all-zero vectors are excluded — cosine against them is 0/0, which ANSI
    * Spark raises as DIVIDE_BY_ZERO mid-job (r11 adversarial sweep). Every
    * cosine-dividing operator and its oracle share this exclusion
    * ([[zeroNormOracleFilter]]), so the two engines drop the same rows
    * instead of one crashing and the other emitting NaN.
    */
  private[similarity] def baseVectors(emb: DataFrame): DataFrame =
    graft.Tables.widen(emb)
      .select(col("vec_id"), dv.as("v"))
      .withColumn("n2", norm2(col("v")))
      .where(col("n2") > 0)

  /** The oracle-side twin of [[baseVectors]]'s exclusion (NULL list_sum
    * filters NULL embeddings; 0 filters zero vectors).
    */
  private[similarity] val zeroNormOracleFilter: String =
    "list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x)) > 0"

  // --- exact brute-force top-k ---------------------------------------------

  /** Exact cosine top-k for a literal query-id set: one broadcast join, one
    * per-group rank. Output: (qid, rank, vec_id, sim_r) with sim rounded to
    * 6 decimals; ordering on the RAW similarity (cross-engine identical to
    * 1 ulp; adjacent top-k gaps are ≥1e-4 on this corpus), vec_id tie-break.
    */
  def cosineTopK(emb: DataFrame, queryIds: Seq[Long] = Seq(0L, 1L, 2L), k: Int = 10): DataFrame = {
    val base = baseVectors(emb)
    val q = base
      .where(col("vec_id").isInCollection(queryIds))
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("n2").as("qn2"))
    val dot = DotProduct(col("v"), col("qv"))
    val sim = dot / (sqrt(col("qn2")) * sqrt(col("n2")))
    val w   = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("vec_id"))
    base
      .crossJoin(broadcast(q))
      .withColumn("sim", sim)
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("qid"), col("rank"), col("vec_id"), round(col("sim"), 6).as("sim_r"))
      .orderBy("qid", "rank")
  }

  def oracleCosineTopK(queryIds: Seq[Long] = Seq(0L, 1L, 2L), k: Int = 10): String = {
    val ids = queryIds.mkString(", ")
    s"""WITH base AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       |  WHERE $zeroNormOracleFilter),
       |q AS (SELECT vec_id AS qid, v AS qv FROM base WHERE vec_id IN ($ids)),
       |s AS (
       |  SELECT q.qid, e.vec_id, list_cosine_similarity(q.qv, e.v) AS sim
       |  FROM q, base e),
       |r AS (
       |  SELECT qid, vec_id, sim,
       |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rank
       |  FROM s)
       |SELECT qid, CAST(rank AS BIGINT) AS rank, vec_id, round(sim, 6) AS sim_r
       |FROM r WHERE rank <= $k ORDER BY qid, rank""".stripMargin
  }

  // --- LSH bucketing --------------------------------------------------------

  /** Quantized embedding: per-component round(x·1000) as BIGINT — makes every
    * downstream dot an exact integer sum (order-free in both engines).
    * Components clamp to ±9·10¹⁵ BEFORE the cast: a pathological 1e30-scale
    * component would overflow the BIGINT cast (ANSI CAST_OVERFLOW on Spark,
    * Conversion Error on DuckDB — r11 adversarial sweep), and the clamp
    * bound keeps the worst-case plane dot (64 components × 9·10¹⁵) inside
    * long range while preserving every sane embedding bit-exactly
    * (9·10¹⁵ < 2⁵³, exactly representable).
    */
  private val qvec =
    expr(s"transform(embedding, x -> CAST(round(greatest(least(CAST(x AS DOUBLE) * $Quant, 9.0e15D), -9.0e15D), 0) AS BIGINT))")

  /** DuckDB rendering of [[qvec]] — identical clamp, round, cast. */
  private val oracleQvec =
    s"list_transform(CAST(embedding AS DOUBLE[]), x -> CAST(round(greatest(least(x * $Quant, 9e15), -9e15)) AS BIGINT))"

  private def bucketExpr(vcol: String): Column = {
    val planeDots = hyperplanes.zipWithIndex.map { case (h, j) =>
      val signs = h.mkString("array(", "L, ", "L)")
      val dot   = s"aggregate(zip_with($vcol, $signs, (a, b) -> a * b), 0L, (acc, x) -> acc + x)"
      s"IF($dot > 0, ${1L << j}L, 0L)"
    }
    expr(planeDots.mkString("", " + ", ""))
  }

  /** 16-bit random-hyperplane bucket per vector. Pure per-row integer math —
    * no shuffle, embarrassingly parallel.
    */
  def lshBuckets(emb: DataFrame): DataFrame =
    graft.Tables.widen(emb)
      .select(col("vec_id"), qvec.as("qv"))
      .withColumn("bucket", bucketExpr("qv"))
      .select(col("vec_id"), col("bucket"))
      .orderBy("vec_id")

  def oracleLshBuckets: String = {
    val planeDots = hyperplanes.zipWithIndex.map { case (h, j) =>
      val signs = h.mkString("[", ", ", "]")
      val dot =
        s"list_sum(list_transform(list_zip(qv, $signs), p -> p[1] * p[2]))"
      s"(CASE WHEN $dot > 0 THEN ${1L << j} ELSE 0 END)"
    }
    val bucket = planeDots.mkString(" + ")
    s"""SELECT vec_id, CAST($bucket AS BIGINT) AS bucket FROM (
       |  SELECT vec_id, $oracleQvec AS qv
       |  FROM embeddings
       |) ORDER BY vec_id""".stripMargin
  }

  // --- IVF (inverted-file) partitioning -------------------------------------

  /** Number of IVF centroids; centroids are the first K vectors by vec_id —
    * deterministic without a training loop (a production build would k-means
    * these; the partitioning/probing machinery is identical).
    */
  val IvfCentroids = 16

  /** IVF cell assignment: each vector goes to its max-cosine centroid
    * (tie-break lowest centroid id). One broadcast of K centroid vectors —
    * the assignment itself is a map-side pass, no shuffle; at scale you
    * write the table partitioned by `centroid_id` and a query probes only
    * its closest cells.
    */
  def ivfAssign(emb: DataFrame): DataFrame = {
    val base = baseVectors(emb)
    val cents = base
      .where(col("vec_id") < IvfCentroids)
      .select(col("vec_id").as("centroid_id"), col("v").as("cv"), col("n2").as("cn2"))
    val dot = DotProduct(col("v"), col("cv"))
    val w = Window.partitionBy(col("vec_id")).orderBy(col("sim").desc, col("centroid_id"))
    base
      .crossJoin(broadcast(cents))
      .withColumn("sim", dot / (sqrt(col("n2")) * sqrt(col("cn2"))))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("vec_id"), col("centroid_id"), round(col("sim"), 6).as("sim_r"))
      .orderBy("vec_id")
  }

  def oracleIvfAssign: String =
    s"""WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       |  WHERE $zeroNormOracleFilter),
       |cents AS (SELECT vec_id AS centroid_id, v AS cv FROM base WHERE vec_id < $IvfCentroids),
       |sims AS (
       |  SELECT b.vec_id, c.centroid_id, list_cosine_similarity(b.v, c.cv) AS sim,
       |    row_number() OVER (PARTITION BY b.vec_id ORDER BY list_cosine_similarity(b.v, c.cv) DESC, c.centroid_id) AS rn
       |  FROM base b, cents c)
       |SELECT vec_id, centroid_id, round(sim, 6) AS sim_r
       |FROM sims WHERE rn = 1 ORDER BY vec_id""".stripMargin

  // --- IVF against TRAINED centroids (the declared route since r4) ---------

  /** Canonicalize trained centroids for cross-engine declaration: every
    * component becomes the nearest double of its 9-decimal rendering. BOTH
    * engines then parse the SAME decimal strings ([[centroidSqlLiterals]]
    * emits them, the Spark side uses the parsed doubles), so the centroid
    * bits are identical on the two sides — the oracle can inline the trained
    * centroids as literals (they are deterministic: farthest-point seeding +
    * fixed Lloyd's rounds).
    */
  def canonicalizeCentroids(centroids: Array[Array[Double]]): Array[Array[Double]] =
    centroids.map(_.map(x =>
      BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toString.toDouble))

  /** The 9-decimal renderings of canonicalized centroids — the shared source
    * both engines parse. Rendering a canonicalized component always
    * round-trips (it IS the nearest double of this string).
    */
  def centroidStrings(centroids: Array[Array[Double]]): Array[Array[String]] =
    centroids.map(_.map(x => BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toString))

  /** Literal centroid relation (centroid_id, cv, cn2) for the Spark side. */
  private[similarity] def centroidDF(emb: DataFrame, centroids: Array[Array[Double]]): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    centroids.zipWithIndex
      .map { case (c, i) => (i.toLong, c.toSeq) }
      .toSeq
      .toDF("centroid_id", "cv")
      .withColumn("cn2", DotProduct(col("cv"), col("cv")))
  }

  /** DuckDB VALUES relation for the same centroids: every component is
    * CAST('decimal-string' AS DOUBLE), bit-identical to the Spark literals.
    */
  def centroidSqlCte(centroids: Array[Array[Double]]): String = {
    val rows = centroidStrings(centroids).zipWithIndex.map { case (c, i) =>
      s"($i, [${c.map(s => s"CAST('$s' AS DOUBLE)").mkString(", ")}])"
    }
    s"cents AS (SELECT * FROM (VALUES ${rows.mkString(",\n    ")}) AS t(centroid_id, cv))"
  }

  /** Trained centroids as a (centroid_id, pos, component) relation — the
    * declared `ivf_centroids_embeddings` query (r5): training becomes its own
    * oracled entry (a VALUES-literal comparison, possible because training is
    * deterministic and canonicalized), so `ivf_assign`'s bench time measures
    * assignment only instead of silently including the one-time k-means run.
    */
  def ivfCentroidsDF(spark: SparkSession, centroids: Array[Array[Double]]): DataFrame = {
    import spark.implicits._
    val rows = for {
      (c, i) <- centroids.zipWithIndex.toSeq
      (x, p) <- c.zipWithIndex
    } yield (i.toLong, p.toLong, x)
    // k×dim rows always fit one task: sorting them in one partition plans
    // no range exchange
    spark.createDataset(rows).toDF("centroid_id", "pos", "component")
      .coalesce(1).orderBy("centroid_id", "pos")
  }

  /** DuckDB twin of [[ivfCentroidsDF]]: the same canonical decimal strings,
    * inlined as a VALUES relation — bit-identical doubles on both sides.
    */
  def oracleIvfCentroids(centroids: Array[Array[Double]]): String = {
    val rows = centroidStrings(centroids).zipWithIndex.flatMap { case (c, i) =>
      c.zipWithIndex.map { case (s, p) => s"($i, $p, CAST('$s' AS DOUBLE))" }
    }
    s"""SELECT CAST(centroid_id AS BIGINT) AS centroid_id, CAST(pos AS BIGINT) AS pos, component
       |FROM (VALUES ${rows.mkString(",\n  ")}) AS t(centroid_id, pos, component)
       |ORDER BY centroid_id, pos""".stripMargin
  }

  /** Scala-side sequential dot product — the SAME fold order as
    * [[DotProduct]]'s kernel (index 0 → n-1, one running double), so a
    * centroid norm precomputed here is bit-identical to the double
    * `DotProduct(cv, cv)` produces in-plan.
    */
  private def seqDot(a: Array[Double], b: Array[Double]): Double = {
    var acc = 0.0
    var i   = 0
    while (i < a.length) { acc += a(i) * b(i); i += 1 }
    acc
  }

  /** The per-centroid `struct(sim, -centroid_id)` score columns for one
    * vector row — the IN-ROW form of the former crossJoin(broadcast(cents))
    * expansion (r19 optimization): the centroids are compile-time literals
    * (constant-folded to one ArrayData each), their norms are precomputed
    * with the identical sequential fold, and each sim performs the identical
    * IEEE sequence `graft_dot(v, cv) / (sqrt(n2) * sqrt(cn2))` as the joined
    * form — so every downstream argmax/top-nprobe sees bit-identical structs
    * while the ×k row expansion, its hash aggregate, and that aggregate's
    * exchange disappear from the plan entirely (guide §2.4/§4: one
    * whole-stage-codegen projection instead of join + aggregate).
    */
  private[similarity] def cellScoreStructs(
      v: Column, n2: Column, centroids: Array[Array[Double]]): Seq[Column] =
    centroids.zipWithIndex.toSeq.map { case (c, i) =>
      val cv = array(c.toIndexedSeq.map(lit): _*)
      val cn = math.sqrt(seqDot(c, c))
      struct((DotProduct(v, cv) / (sqrt(n2) * lit(cn))).as("s"), lit(-i.toLong).as("negc"))
    }

  /** In-row argmax over [[cellScoreStructs]] — `greatest` compares structs
    * with the same (s, negc) ordering the former `max(struct)` aggregate
    * used (highest sim, lowest centroid_id on ties).
    */
  private[similarity] def bestCell(
      v: Column, n2: Column, centroids: Array[Array[Double]]): Column = {
    val ss = cellScoreStructs(v, n2, centroids)
    if (ss.size == 1) ss.head else greatest(ss: _*)
  }

  /** [[ivfAssign]] against explicit (trained) centroids. Since r19 the
    * argmax is a single in-row `greatest` over literal-centroid score
    * structs ([[bestCell]]) — one narrow projection, NO exchange — where the
    * former shape expanded ×k through a broadcast join and collapsed in a
    * map-side aggregate (itself the r4 fix of a window-exchange shape; this
    * removes the aggregate's exchange too). Value-identical: the per-pair
    * IEEE sequence and the (sim, -centroid_id) argmax ordering are unchanged.
    */
  def ivfAssignTrained(emb: DataFrame, centroids: Array[Array[Double]]): DataFrame =
    baseVectors(emb)
      .select(col("vec_id"), bestCell(col("v"), col("n2"), centroids).as("best"))
      .select(col("vec_id"), (-col("best.negc")).as("centroid_id"), round(col("best.s"), 6).as("sim_r"))
      .orderBy("vec_id")

  def oracleIvfAssignTrained(centroids: Array[Array[Double]]): String =
    s"""WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       |  WHERE $zeroNormOracleFilter),
       |${centroidSqlCte(centroids)},
       |sims AS (
       |  SELECT b.vec_id, c.centroid_id, list_cosine_similarity(b.v, c.cv) AS sim,
       |    row_number() OVER (PARTITION BY b.vec_id ORDER BY list_cosine_similarity(b.v, c.cv) DESC, c.centroid_id) AS rn
       |  FROM base b, cents c)
       |SELECT vec_id, CAST(centroid_id AS BIGINT) AS centroid_id, round(sim, 6) AS sim_r
       |FROM sims WHERE rn = 1 ORDER BY vec_id""".stripMargin

  /** Embedding outlier mining: the k vectors FARTHEST from their assigned
    * trained centroid (lowest cosine to the argmax cell — the SemDeDup /
    * SSL-prototype data-pruning signal: cluster outliers are the candidates
    * for either dropping as noise or upweighting as rare coverage). Reuses
    * the [[ivfAssignTrained]] map-side argmax shape unchanged; the added
    * cost is one TakeOrdered over the (vec_id, cell, sim) rows — ordered by
    * the ROUNDED similarity (vec_id tie-break) so the cut is cross-engine
    * deterministic.
    */
  def embeddingOutliers(emb: DataFrame, centroids: Array[Array[Double]], k: Int = 20): DataFrame =
    ivfAssignTrained(emb, centroids)
      .orderBy(col("sim_r").asc, col("vec_id"))
      .limit(k)

  def oracleEmbeddingOutliers(centroids: Array[Array[Double]], k: Int = 20): String =
    s"""WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       |  WHERE $zeroNormOracleFilter),
       |${centroidSqlCte(centroids)},
       |sims AS (
       |  SELECT b.vec_id, c.centroid_id, list_cosine_similarity(b.v, c.cv) AS sim,
       |    row_number() OVER (PARTITION BY b.vec_id ORDER BY list_cosine_similarity(b.v, c.cv) DESC, c.centroid_id) AS rn
       |  FROM base b, cents c)
       |SELECT vec_id, CAST(centroid_id AS BIGINT) AS centroid_id, round(sim, 6) AS sim_r
       |FROM sims WHERE rn = 1 ORDER BY sim_r, vec_id LIMIT $k""".stripMargin

  /** [[ivfTopK]] against explicit (trained) centroids — assignment and
    * probing both run on literal centroids. Since r19 both are IN-ROW
    * expressions ([[bestCell]] / sorted [[cellScoreStructs]]) instead of the
    * broadcast-join + aggregate shape: cells is one narrow projection (NO
    * exchange), probes sorts the k per-query score structs inside the row
    * (`sort_array(…, asc = false)` — the identical struct comparator the
    * former `sort_array(collect_list(…))` applied). The probe relation is
    * explicitly broadcast (it is |queries|·nprobe rows; the former plan left
    * the choice to size estimates), so candidate generation is a map-side
    * join and the only exchange left in the whole query feeds the final
    * top-k window on NARROW (qid, vec_id, sim) rows. The former `.distinct()`
    * before that window is dropped as a no-op: each vector lives in exactly
    * one cell and a query's nprobe probe cells are distinct, so (qid,
    * vec_id) candidate rows are unique by construction — the oracle's
    * `SELECT DISTINCT` is equally vacuous on the same multiplicity-1 set,
    * and removing it removes one more exchange (guide §2.4).
    */
  def ivfTopKTrained(
      emb: DataFrame,
      centroids: Array[Array[Double]],
      queryIds: Seq[Long] = Seq(0L, 1L, 2L),
      k: Int = 10,
      nprobe: Int = 4
  ): DataFrame = {
    val base = baseVectors(emb)
    val cells = base.select(
      col("vec_id"), col("v"), col("n2"),
      (-bestCell(col("v"), col("n2"), centroids).getField("negc")).as("centroid_id"))
    val probes = base
      .where(col("vec_id").isInCollection(queryIds))
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("n2").as("qn2"),
        explode(slice(
          sort_array(array(cellScoreStructs(col("v"), col("n2"), centroids): _*), asc = false),
          1, nprobe)).as("sc"))
      .select(col("qid"), col("qv"), col("qn2"), (-col("sc.negc")).as("centroid_id"))
    val qdot = DotProduct(col("v"), col("qv"))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("vec_id"))
    cells
      .join(broadcast(probes), Seq("centroid_id"))
      .withColumn("sim", qdot / (sqrt(col("qn2")) * sqrt(col("n2"))))
      .select(col("qid"), col("vec_id"), col("sim"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("qid"), col("rank"), col("vec_id"), round(col("sim"), 6).as("sim_r"))
      .orderBy("qid", "rank")
  }

  def oracleIvfTopKTrained(
      centroids: Array[Array[Double]],
      queryIds: Seq[Long] = Seq(0L, 1L, 2L),
      k: Int = 10,
      nprobe: Int = 4
  ): String = {
    val ids = queryIds.mkString(", ")
    s"""WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       |  WHERE $zeroNormOracleFilter),
       |${centroidSqlCte(centroids)},
       |assigned AS (
       |  SELECT b.vec_id, b.v, c.centroid_id,
       |    row_number() OVER (PARTITION BY b.vec_id
       |      ORDER BY list_cosine_similarity(b.v, c.cv) DESC, c.centroid_id) AS rn
       |  FROM base b, cents c),
       |cells AS (SELECT vec_id, v, centroid_id FROM assigned WHERE rn = 1),
       |probes AS (
       |  SELECT vec_id AS qid, v AS qv, centroid_id
       |  FROM assigned WHERE vec_id IN ($ids) AND rn <= $nprobe),
       |cand AS (
       |  SELECT DISTINCT p.qid, m.vec_id, list_cosine_similarity(m.v, p.qv) AS sim
       |  FROM cells m JOIN probes p ON m.centroid_id = p.centroid_id),
       |r AS (
       |  SELECT qid, vec_id, sim,
       |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rank
       |  FROM cand)
       |SELECT qid, CAST(rank AS BIGINT) AS rank, vec_id, round(sim, 6) AS sim_r
       |FROM r WHERE rank <= $k ORDER BY qid, rank""".stripMargin
  }

  /** Recall@k of the trained-IVF search against exact brute-force cosine —
    * the evaluation loop every ANN deployment runs before trusting an index
    * (tune nprobe until recall clears the bar). Output per query: hit count
    * (|IVF top-k ∩ exact top-k|, an exact long) and recall = hits/k.
    *
    * Determinism: both top-k sets rank by (sim DESC, vec_id) with the unique
    * vec_id tie-break, so set membership — and therefore the intersection
    * count — is a pure function of the data; this adds no float sensitivity
    * beyond what the two underlying (already hash-green) top-k queries carry.
    *
    * Plan shape: the two searches' own scalable plans, then a join on
    * (qid, vec_id) over k·|queries| rows each side — evaluation cost is
    * index-search cost, the comparison itself is negligible at any scale.
    */
  def ivfRecall(
      emb: DataFrame,
      centroids: Array[Array[Double]],
      queryIds: Seq[Long] = Seq(0L, 1L, 2L),
      k: Int = 10,
      nprobe: Int = 4
  ): DataFrame = {
    val exact = cosineTopK(emb, queryIds, k).select(col("qid"), col("vec_id"))
    val ivf = ivfTopKTrained(emb, centroids, queryIds, k, nprobe)
      .select(col("qid").as("iqid"), col("vec_id").as("ivec"))
    exact
      .join(ivf, exact("qid") === ivf("iqid") && exact("vec_id") === ivf("ivec"), "left")
      .groupBy(col("qid"))
      .agg(count(col("ivec")).as("hits"))
      .withColumn("k", lit(k.toLong))
      .withColumn("recall", col("hits").cast("double") / col("k"))
      .orderBy("qid")
  }

  /** DuckDB twin of [[ivfRecall]]: the two top-k oracles as CTEs, joined and
    * counted the same way.
    */
  def oracleIvfRecall(
      centroids: Array[Array[Double]],
      queryIds: Seq[Long] = Seq(0L, 1L, 2L),
      k: Int = 10,
      nprobe: Int = 4
  ): String =
    s"""WITH exact AS (${oracleCosineTopK(queryIds, k)}),
       |ivf AS (${oracleIvfTopKTrained(centroids, queryIds, k, nprobe)})
       |SELECT e.qid, CAST(count(i.vec_id) AS BIGINT) AS hits, CAST($k AS BIGINT) AS k,
       |  CAST(count(i.vec_id) AS DOUBLE) / $k AS recall
       |FROM exact e LEFT JOIN ivf i ON i.qid = e.qid AND i.vec_id = e.vec_id
       |GROUP BY e.qid ORDER BY e.qid""".stripMargin

  /** IVF probing search: exact cosine over only the vectors in the query's
    * `nprobe` closest cells, reranked. Candidate volume ≈ nprobe/K of the
    * corpus instead of all of it.
    */
  def ivfTopK(
      emb: DataFrame,
      queryIds: Seq[Long] = Seq(0L, 1L, 2L),
      k: Int = 10,
      nprobe: Int = 4
  ): DataFrame = {
    val base = baseVectors(emb)
    val cents = base
      .where(col("vec_id") < IvfCentroids)
      .select(col("vec_id").as("centroid_id"), col("v").as("cv"), col("n2").as("cn2"))
    val cdot = DotProduct(col("v"), col("cv"))
    val aw = Window.partitionBy(col("vec_id")).orderBy(col("csim").desc, col("centroid_id"))
    val assigned = base
      .crossJoin(broadcast(cents))
      .withColumn("csim", cdot / (sqrt(col("n2")) * sqrt(col("cn2"))))
      .withColumn("rn", row_number().over(aw))
    val cells = assigned.where(col("rn") === 1).select(col("vec_id"), col("v"), col("n2"), col("centroid_id"))
    val probes = assigned
      .where(col("vec_id").isInCollection(queryIds) && col("rn") <= nprobe)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("n2").as("qn2"), col("centroid_id"))
    val qdot = DotProduct(col("v"), col("qv"))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("vec_id"))
    cells
      .join(probes, Seq("centroid_id"))
      .withColumn("sim", qdot / (sqrt(col("qn2")) * sqrt(col("n2"))))
      .select(col("qid"), col("vec_id"), col("sim"))
      .distinct()
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("qid"), col("rank"), col("vec_id"), round(col("sim"), 6).as("sim_r"))
      .orderBy("qid", "rank")
  }

  /** DuckDB twin of [[ivfTopK]]: assignment CTE (max-cosine centroid per
    * vector), probe cells = the query's `nprobe` closest centroids, exact
    * rerank over only those cells' members.
    */
  def oracleIvfTopK(
      queryIds: Seq[Long] = Seq(0L, 1L, 2L),
      k: Int = 10,
      nprobe: Int = 4
  ): String = {
    val ids = queryIds.mkString(", ")
    s"""WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       |  WHERE $zeroNormOracleFilter),
       |cents AS (SELECT vec_id AS centroid_id, v AS cv FROM base WHERE vec_id < $IvfCentroids),
       |assigned AS (
       |  SELECT b.vec_id, b.v, c.centroid_id,
       |    row_number() OVER (PARTITION BY b.vec_id
       |      ORDER BY list_cosine_similarity(b.v, c.cv) DESC, c.centroid_id) AS rn
       |  FROM base b, cents c),
       |cells AS (SELECT vec_id, v, centroid_id FROM assigned WHERE rn = 1),
       |probes AS (
       |  SELECT vec_id AS qid, v AS qv, centroid_id
       |  FROM assigned WHERE vec_id IN ($ids) AND rn <= $nprobe),
       |cand AS (
       |  SELECT DISTINCT p.qid, m.vec_id, list_cosine_similarity(m.v, p.qv) AS sim
       |  FROM cells m JOIN probes p ON m.centroid_id = p.centroid_id),
       |r AS (
       |  SELECT qid, vec_id, sim,
       |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rank
       |  FROM cand)
       |SELECT qid, CAST(rank AS BIGINT) AS rank, vec_id, round(sim, 6) AS sim_r
       |FROM r WHERE rank <= $k ORDER BY qid, rank""".stripMargin
  }

  // --- embedding-cosine near-dup --------------------------------------------

  /** Exact embedding near-duplicate pairs: all ordered pairs with cosine ≥
    * threshold. This is the EXACT tier — deliberately quadratic, the
    * verifier/rerank stage; at scale, generate candidates from
    * [[lshBuckets]] (hamming-probe the sketch) and rerank with this exact
    * cosine, exactly as [[annTopK]] does for search. Declared with an
    * all-pairs oracle because its semantics are exact (an LSH-filtered
    * variant would not match an exact oracle on corpora with borderline
    * pairs).
    */
  def cosineDupPairs(emb: DataFrame, threshold: Double = 0.9): DataFrame = {
    val base = baseVectors(emb)
    val b = base.select(col("vec_id").as("vec_b"), col("v").as("vb"), col("n2").as("nb"))
    val dot = DotProduct(col("v"), col("vb"))
    base
      .crossJoin(b)
      .where(col("vec_id") < col("vec_b"))
      .withColumn("sim", dot / (sqrt(col("n2")) * sqrt(col("nb"))))
      .where(col("sim") >= threshold)
      .select(col("vec_id").as("vec_a"), col("vec_b"), round(col("sim"), 6).as("sim_r"))
      .orderBy("vec_a", "vec_b")
  }

  def oracleCosineDupPairs(threshold: Double = 0.9): String =
    s"""WITH base AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       |  WHERE $zeroNormOracleFilter)
       |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |  round(list_cosine_similarity(a.v, b.v), 6) AS sim_r
       |FROM base a, base b
       |WHERE a.vec_id < b.vec_id
       |  AND list_cosine_similarity(a.v, b.v) >= $threshold
       |ORDER BY vec_a, vec_b""".stripMargin

  // --- bucketed ANN ---------------------------------------------------------

  /** All XOR masks flipping at most `maxHamming` of the 16 sketch bits —
    * the complete multiprobe set for that radius (the r2 construction only
    * ever emitted single-bit masks, silently degrading any radius ≥ 2 to 1).
    * Probe count is Σ C(16,h), so the radius is capped where multiprobing
    * stops making sense (beyond ~3, partition the corpus by band instead —
    * the [[cosineDupPairsBanded]] shape).
    */
  def annProbeOffsets(maxHamming: Int): Seq[Long] = {
    require(maxHamming >= 0 && maxHamming <= 3, s"multiprobe radius must be in [0, 3] (got $maxHamming)")
    (0 to maxHamming).flatMap(h =>
      (0 until NumPlanes).combinations(h).map(_.foldLeft(0L)((m, j) => m | (1L << j))).toSeq
    )
  }

  /** Approximate top-k: candidates = vectors whose bucket is within hamming
    * distance `maxHamming` of the query's bucket (multiprobe by exploding the
    * probe set), reranked exactly. The join key is the bucket — at scale this
    * is a co-partitioned equi-join against a bucket-partitioned vector table.
    */
  def annTopK(
      emb: DataFrame,
      queryIds: Seq[Long] = Seq(0L, 1L, 2L),
      k: Int = 10,
      maxHamming: Int = 1
  ): DataFrame = {
    val base = graft.Tables.widen(emb)
      .select(col("vec_id"), dv.as("v"), qvec.as("qv"))
      .withColumn("bucket", bucketExpr("qv"))
      .withColumn("n2", norm2(col("v")))
      .where(col("n2") > 0) // the baseVectors exclusion — rerank divides by √n2
      .drop("qv")
    val probeOffsets: Seq[Long] = annProbeOffsets(maxHamming)
    val q = base
      .where(col("vec_id").isInCollection(queryIds))
      .select(col("vec_id").as("qid"), col("v").as("qvd"), col("n2").as("qn2"), col("bucket").as("qbucket"))
      .withColumn("probe", explode(array(probeOffsets.map(o => lit(o)): _*)))
      // XOR with each single-bit mask (and 0) = all buckets within hamming 1
      .withColumn("pbucket", expr("qbucket ^ probe"))
      .drop("probe", "qbucket")
    val dot = DotProduct(col("v"), col("qvd"))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("vec_id"))
    base
      .join(q, col("bucket") === col("pbucket"))
      .withColumn("sim", dot / (sqrt(col("qn2")) * sqrt(col("n2"))))
      .select(col("qid"), col("vec_id"), col("sim"))
      .distinct() // a vector can be reached via multiple probes
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("qid"), col("rank"), col("vec_id"), round(col("sim"), 6).as("sim_r"))
      .orderBy("qid", "rank")
  }

  /** DuckDB twin of [[annTopK]]: the quantized-bucket CTE, the hamming-≤1
    * probe set (bucket XOR each single-bit mask, plus 0), bucket equi-join,
    * exact rerank. Note the top-k is over the CANDIDATES — an approximate
    * answer by design, identical approximation on both engines.
    */
  def oracleAnnTopK(
      queryIds: Seq[Long] = Seq(0L, 1L, 2L),
      k: Int = 10,
      maxHamming: Int = 1
  ): String = {
    val ids = queryIds.mkString(", ")
    val probeOffsets: Seq[Long] = annProbeOffsets(maxHamming)
    val planeDots = hyperplanes.zipWithIndex.map { case (h, j) =>
      val signs = h.mkString("[", ", ", "]")
      val dotE  = s"list_sum(list_transform(list_zip(qv, $signs), p -> p[1] * p[2]))"
      s"(CASE WHEN $dotE > 0 THEN ${1L << j} ELSE 0 END)"
    }
    val bucket = planeDots.mkString(" + ")
    s"""WITH base AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, $oracleQvec AS qv
       |  FROM embeddings
       |  WHERE $zeroNormOracleFilter),
       |bk AS (SELECT vec_id, v, CAST($bucket AS BIGINT) AS bucket FROM base),
       |q AS (
       |  SELECT vec_id AS qid, v AS qvd, xor(bucket, probe) AS pbucket
       |  FROM bk CROSS JOIN (SELECT unnest([${probeOffsets.mkString(", ")}]) AS probe)
       |  WHERE vec_id IN ($ids)),
       |cand AS (
       |  SELECT DISTINCT q.qid, m.vec_id, list_cosine_similarity(m.v, q.qvd) AS sim
       |  FROM bk m JOIN q ON m.bucket = q.pbucket),
       |r AS (
       |  SELECT qid, vec_id, sim,
       |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rank
       |  FROM cand)
       |SELECT qid, CAST(rank AS BIGINT) AS rank, vec_id, round(sim, 6) AS sim_r
       |FROM r WHERE rank <= $k ORDER BY qid, rank""".stripMargin
  }

  // --- banded LSH near-dup pairs (the declared dedup-by-embedding route) ----

  /** Number of bands the 16-bit sketch splits into for near-dup candidate
    * generation (4 bands × 4 bits). Collision probability per pair at
    * per-bit agreement p is 1-(1-p⁴)⁴ — an S-curve that passes real
    * candidates while suppressing random ones; widen bands (more bits) for
    * tighter thresholds at scale.
    */
  val DupBands = 4

  /** Embedding near-dup pairs via the SCALE-SAFE route: band the 16-bit
    * hyperplane sketch, bucket-join per (band, band-value) — work scales
    * with bucket occupancy, never |V|² — then EXACT cosine rerank against
    * the threshold. Approximate recall (a qualifying pair missed by all
    * bands is lost — the LSH trade), exact precision (every emitted sim is
    * a real dot product ≥ threshold). The all-pairs [[cosineDupPairs]]
    * remains the spec-tested exact verifier tier; THIS is the operator a
    * 100 TB pipeline actually runs, and the declared query since round 3
    * (the r2 declared surface was the quadratic exact tier, with a
    * threshold the corpus never reached — a vacuous 0-row oracle).
    */
  def cosineDupPairsBanded(emb: DataFrame, threshold: Double = 0.45): DataFrame = {
    val bandBits = NumPlanes / DupBands
    val mask     = (1L << bandBits) - 1
    val base = graft.Tables.widen(emb)
      .select(col("vec_id"), dv.as("v"), qvec.as("qv"))
      .withColumn("bucket", bucketExpr("qv"))
      .withColumn("n2", norm2(col("v")))
      .where(col("n2") > 0) // the baseVectors exclusion — rerank divides by √n2
      .drop("qv")
    val bandArgs = (0 until DupBands)
      .map(kb => s"$kb, (bucket >> ${kb * bandBits}) & $mask")
      .mkString(", ")
    val banded = base.selectExpr("vec_id", "v", "n2", s"stack($DupBands, $bandArgs) AS (band, bval)")
    val a = banded.select(col("band"), col("bval"), col("vec_id").as("vec_a"), col("v").as("va"), col("n2").as("na"))
    val b = banded.select(col("band"), col("bval"), col("vec_id").as("vec_b"), col("v").as("vb"), col("n2").as("nb"))
    val sim = DotProduct(col("va"), col("vb")) / (sqrt(col("na")) * sqrt(col("nb")))
    a.join(b, Seq("band", "bval"))
      .where(col("vec_a") < col("vec_b"))
      .withColumn("sim", sim)
      .where(col("sim") >= threshold)
      .select(col("vec_a"), col("vec_b"), round(col("sim"), 6).as("sim_r"))
      .distinct() // a pair can collide in several bands
      .orderBy("vec_a", "vec_b")
  }

  /** DuckDB twin of [[cosineDupPairsBanded]] — same bucket CTE, band split,
    * band equi-join, exact rerank, distinct.
    */
  def oracleCosineDupPairsBanded(threshold: Double = 0.45): String = {
    val bandBits = NumPlanes / DupBands
    val mask     = (1L << bandBits) - 1
    val planeDots = hyperplanes.zipWithIndex.map { case (h, j) =>
      val signs = h.mkString("[", ", ", "]")
      val dotE  = s"list_sum(list_transform(list_zip(qv, $signs), p -> p[1] * p[2]))"
      s"(CASE WHEN $dotE > 0 THEN ${1L << j} ELSE 0 END)"
    }
    val bucket = planeDots.mkString(" + ")
    val bands = (0 until DupBands)
      .map(kb => s"SELECT vec_id, v, $kb AS band, (bucket >> ${kb * bandBits}) & $mask AS bval FROM bk")
      .mkString("\nUNION ALL\n")
    s"""WITH base AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, $oracleQvec AS qv
       |  FROM embeddings
       |  WHERE $zeroNormOracleFilter),
       |bk AS (SELECT vec_id, v, CAST($bucket AS BIGINT) AS bucket FROM base),
       |bands AS ($bands)
       |SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |  round(list_cosine_similarity(a.v, b.v), 6) AS sim_r
       |FROM bands a JOIN bands b ON a.band = b.band AND a.bval = b.bval AND a.vec_id < b.vec_id
       |WHERE list_cosine_similarity(a.v, b.v) >= $threshold
       |ORDER BY vec_a, vec_b""".stripMargin
  }

  /** SemDeDup-style semantic dedup pairs (Abbas et al. 2023, "SemDeDup: Data-
    * efficient learning at web-scale through semantic deduplication" — the
    * published k-means-then-within-cluster-cosine recipe): assign every
    * embedding to its nearest TRAINED centroid with the same map-side argmax
    * aggregate as the declared IVF queries, then compare pairs only WITHIN a
    * cell — candidate work scales with cell occupancy squared, never |V|²,
    * and cells shrink as k grows with the corpus. Approximate recall by
    * construction (a dup pair straddling a cell boundary is missed — the
    * SemDeDup trade, same honesty note as the banded-LSH route); exact
    * precision (every emitted sim is a real dot product ≥ threshold).
    * Complements [[cosineDupPairsBanded]]: LSH bands catch near-identical
    * vectors, k-means cells catch semantic neighborhoods at lower
    * thresholds.
    */
  def semanticDupPairs(
      emb: DataFrame,
      centroids: Array[Array[Double]],
      threshold: Double = 0.45
  ): DataFrame = {
    // (vec_id, cell, v, n2): the in-row [[bestCell]] argmax (r19) — one
    // projection, no ×k expansion, no aggregate exchange; the self-join's
    // two centroid_id exchanges below now hash IDENTICAL map-side subtrees,
    // so ReuseExchange collapses them to one
    val cells = baseVectors(emb)
      .select(col("vec_id"), col("v"), col("n2"),
        (-bestCell(col("v"), col("n2"), centroids).getField("negc")).as("centroid_id"))
    val a = cells.select(col("centroid_id"), col("vec_id").as("vec_a"), col("v").as("va"), col("n2").as("na"))
    val b = cells.select(col("centroid_id"), col("vec_id").as("vec_b"), col("v").as("vb"), col("n2").as("nb"))
    val sim = DotProduct(col("va"), col("vb")) / (sqrt(col("na")) * sqrt(col("nb")))
    a.join(b, Seq("centroid_id"))
      .where(col("vec_a") < col("vec_b"))
      .withColumn("sim", sim)
      .where(col("sim") >= threshold)
      .select(col("centroid_id"), col("vec_a"), col("vec_b"), round(col("sim"), 6).as("sim_r"))
      .orderBy("centroid_id", "vec_a", "vec_b")
  }

  /** The [[oracleSemanticDupPairs]] statement without its final ORDER BY —
    * embeddable as a CTE body (the clusters oracle nests it).
    */
  private def semanticDupPairsSql(
      centroids: Array[Array[Double]],
      threshold: Double
  ): String =
    s"""WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       |  WHERE $zeroNormOracleFilter),
       |${centroidSqlCte(centroids)},
       |sims AS (
       |  SELECT b.vec_id, c.centroid_id,
       |    row_number() OVER (PARTITION BY b.vec_id ORDER BY list_cosine_similarity(b.v, c.cv) DESC, c.centroid_id) AS rn
       |  FROM base b, cents c),
       |cells AS (
       |  SELECT s.vec_id, CAST(s.centroid_id AS BIGINT) AS centroid_id, b.v
       |  FROM sims s JOIN base b ON b.vec_id = s.vec_id WHERE s.rn = 1)
       |SELECT a.centroid_id AS centroid_id, a.vec_id AS vec_a, b.vec_id AS vec_b,
       |  round(list_cosine_similarity(a.v, b.v), 6) AS sim_r
       |FROM cells a JOIN cells b ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
       |WHERE list_cosine_similarity(a.v, b.v) >= $threshold""".stripMargin

  /** DuckDB twin of [[semanticDupPairs]]: same inlined centroid literals as
    * the IVF oracles, row_number argmin assignment, within-cell pair join,
    * exact threshold.
    */
  def oracleSemanticDupPairs(
      centroids: Array[Array[Double]],
      threshold: Double = 0.45
  ): String =
    s"""${semanticDupPairsSql(centroids, threshold)}
       |ORDER BY a.centroid_id, vec_a, vec_b""".stripMargin

  /** SemDeDup completed: connected components over the semantic-dup pair
    * graph, labeling every vector with its semantic-cluster survivor group
    * (a downstream cut keeps `min(vec_id)` per cluster, exactly like the
    * text-dedup route keeps one doc per cluster). Reuses the O(log n)-round
    * large-star/small-star loop — cells bound the pair graph, the star loop
    * bounds the rounds, so neither dense near-dup blobs nor chained drift
    * across cell borders (A≈B in one cell, B≈C in another) breaks the
    * labeling at 100 TB.
    */
  def semanticClusters(
      emb: DataFrame,
      centroids: Array[Array[Double]],
      threshold: Double = 0.45
  ): DataFrame = {
    val nodes = graft.Tables.widen(emb).select(col("vec_id").as("id"))
    val edges = semanticDupPairs(emb, centroids, threshold)
      .select(col("vec_a").as("src"), col("vec_b").as("dst"))
    graft.dedup.DedupClusters.connectedComponentsStar(nodes, edges)
      .select(col("id").as("vec_id"), col("label").as("cluster_id"))
      .orderBy("vec_id")
  }

  /** Per-DIMENSION embedding health stats — the QA pass an embedding corpus
    * gets before anything trains on it: for each vector dimension, the
    * population count, zero count (dead dims), distinct-value count
    * (collapsed/quantized dims), and bit-exact min/max (scale drift). No
    * float arithmetic is performed — counts are longs and min/max are input
    * values — so every declared column is cross-engine exact without the
    * decimal machinery (float SUMS of arbitrary-precision embeddings cannot
    * be declared exactly; they stay out by design).
    *
    * Plan: one posexplode (×dim narrow rows) into a map-side-combinable
    * groupBy on the dimension index — |dims| result rows.
    */
  def dimStats(emb: DataFrame): DataFrame = {
    val dv = expr("transform(embedding, x -> CAST(x AS DOUBLE))")
    graft.Tables.widen(emb)
      .select(posexplode(dv).as(Seq("dim", "v")))
      .groupBy(col("dim").cast("long").as("dim"))
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("v") === 0.0, 1L).otherwise(0L)).as("n_zero"),
        count_distinct(col("v")).as("n_distinct"),
        min(col("v")).as("min_v"),
        max(col("v")).as("max_v"))
      .orderBy("dim")
  }

  def oracleDimStats: String =
    s"""WITH base AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |expl AS (
       |  SELECT CAST(t.i - 1 AS BIGINT) AS dim, v[t.i] AS x
       |  FROM base, unnest(generate_series(1, len(v))) AS t(i))
       |SELECT dim, count(*) AS n,
       |  CAST(sum(CASE WHEN x = 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
       |  count(DISTINCT x) AS n_distinct,
       |  min(x) AS min_v, max(x) AS max_v
       |FROM expl GROUP BY dim ORDER BY dim""".stripMargin

  /** The recursive min-label CTE stack [[oracleSemanticClusters]] and
    * [[oracleSemanticSurvivors]] share: `cl` = (vec_id, cluster_id).
    */
  private def semanticClusterCtes(
      centroids: Array[Array[Double]],
      threshold: Double
  ): String =
    s"""WITH RECURSIVE pairs AS (
       |${semanticDupPairsSql(centroids, threshold)}),
       |edges AS (
       |  SELECT vec_a AS src, vec_b AS dst FROM pairs
       |  UNION ALL
       |  SELECT vec_b AS src, vec_a AS dst FROM pairs),
       |reach(id, lab) AS (
       |  SELECT vec_id, vec_id FROM embeddings
       |  UNION
       |  SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.id),
       |cl AS (SELECT id AS vec_id, min(lab) AS cluster_id FROM reach GROUP BY id)""".stripMargin

  /** DuckDB twin of [[semanticClusters]]: the pairs statement nested as a
    * CTE, then the same recursive min-label reachability the text-dedup
    * clusters oracle uses (`DedupOps.oracleClusterCtes`). Every vector
    * appears; singletons label themselves.
    */
  def oracleSemanticClusters(
      centroids: Array[Array[Double]],
      threshold: Double = 0.45
  ): String =
    s"""${semanticClusterCtes(centroids, threshold)}
       |SELECT vec_id, cluster_id FROM cl ORDER BY vec_id""".stripMargin

  /** The SemDeDup CUT itself: one survivor (min vec_id) per semantic
    * cluster, with the cluster size — the relation a training run semi-joins
    * to drop semantic duplicates. A |clusters|-row rollup of the label
    * table; the callers share one labels frame per (session, dir), so the CC
    * loop never reruns for the cut.
    */
  def semanticSurvivors(labels: DataFrame): DataFrame =
    labels
      .groupBy(col("cluster_id"))
      .agg(min(col("vec_id")).as("keep_vec_id"), count(lit(1)).as("cluster_size"))
      .orderBy("cluster_id")

  def oracleSemanticSurvivors(
      centroids: Array[Array[Double]],
      threshold: Double = 0.45
  ): String =
    s"""${semanticClusterCtes(centroids, threshold)}
       |SELECT cluster_id, min(vec_id) AS keep_vec_id, count(*) AS cluster_size
       |FROM cl GROUP BY cluster_id ORDER BY cluster_id""".stripMargin
}
