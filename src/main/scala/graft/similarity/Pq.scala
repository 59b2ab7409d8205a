package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Product quantization (PQ) for the ANN tier — the memory-compression path
  * a billion-vector corpus actually deploys: each vector is cut into
  * [[SubspacesM]] contiguous subvectors, each subvector is quantized to its
  * nearest centroid in a per-subspace codebook ([[CodebookK]] entries,
  * trained by deterministic L2 Lloyd's), and search runs over the 4-byte
  * codes via asymmetric distance computation (ADC): the query stays exact,
  * each corpus vector's distance is approximated as the sum of per-subspace
  * lookup-table entries. At 64 float dims → 4 codes the in-memory footprint
  * drops 64×; the IVF tier ([[SimilarityOps.ivfTopKTrained]]) bounds how
  * many codes are scanned, PQ bounds the bytes per code.
  *
  * Scale shape: training is per-subspace distributed Lloyd's over a
  * checkpointed narrow projection (per round: one scan + a k×subdim
  * aggregate to the driver — the [[KMeans]] discipline, L2 instead of
  * cosine, distances through the native [[L2Sq]] kernel). Encoding is an
  * IN-ROW argmin over the literal codebooks (r19 — one whole-stage-codegen
  * projection per vector; the former broadcast-join ×(M·K) expansion and
  * its collapsing aggregate, with that aggregate's exchange, are gone). ADC
  * search looks the M per-subspace terms up from a per-query nested-array
  * table carried on the broadcast probe rows and folds them in fixed
  * m-order — the float sum is ORDERED, so the declared queries hash-match
  * the DuckDB twin (same IEEE ops in the same sequence; the cross-engine
  * convention BASELINE.md records for float aggregation).
  *
  * Determinism: farthest-point seeding over a bounded md5-ordered sample,
  * deterministic tie-breaks (lowest id), fixed rounds; trained codebooks are
  * canonicalized through decimal strings
  * ([[SimilarityOps.canonicalizeCentroids]]) so the oracle inlines
  * bit-identical literals, exactly like the trained-IVF queries.
  */
object Pq {

  /** Number of contiguous subspaces a vector is cut into (M). */
  val SubspacesM = 4

  /** Codebook entries per subspace (K); codes fit one byte each. */
  val CodebookK = 16

  /** Lloyd's rounds per subspace (matches the IVF trainer's budget). */
  val TrainRounds = 5

  /** Bounded seeding sample per subspace (md5-ordered, deterministic). */
  val SeedSampleCap = 2048

  // --- training -------------------------------------------------------------

  /** Subvector width (dim / M) from a prepared (vec_id, v) base — one cheap
    * head job against the checkpointed frame (the former form re-scanned and
    * re-widened the raw table for this one value).
    */
  private def subDimOn(base: DataFrame, m: Int): Int = {
    val first = base.where(col("v").isNotNull).select(size(col("v"))).head(1)
    require(first.nonEmpty, "PQ training: no non-null embeddings — nothing to train codebooks on")
    val dim = first(0).getInt(0)
    require(dim % m == 0, s"PQ: dim $dim not divisible by M=$m")
    dim / m
  }

  private def l2(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
    s
  }

  /** Deterministic farthest-point seeds under L2 over a bounded md5-ordered
    * sample of one subspace's subvectors (the [[KMeans.farthestPointInit]]
    * discipline with Euclidean geometry: PQ quantizes raw subvectors, where
    * magnitude matters — cosine would collapse scale).
    */
  private def farthestPointSeeds(sample: Array[(Long, Array[Double])], k: Int): Array[Array[Double]] = {
    require(sample.nonEmpty, "PQ seeding: empty sample")
    val kk = math.min(k, sample.length)
    val chosen = scala.collection.mutable.ArrayBuffer(sample.head._2)
    while (chosen.length < kk) {
      // argmax of (min distance to any chosen seed), lowest-vec_id tie-break
      var best: (Double, Long, Array[Double]) = (-1.0, Long.MaxValue, null)
      sample.foreach { case (id, v) =>
        val dmin = chosen.map(c => l2(v, c)).min
        if (dmin > best._1 || (dmin == best._1 && id < best._2)) best = (dmin, id, v)
      }
      chosen += best._3
    }
    chosen.toArray
  }

  /** Train the M×K codebooks — ALL subspaces per job, not a per-subspace
    * loop: the r6 form ran M×(1 seed + [[TrainRounds]] Lloyd) ≈ 24 sequential
    * Spark jobs and was the slowest query on the board at toy scale (pure
    * per-job scheduling floor) while ALSO scanning the corpus M times per
    * round at real scale. Seeding is ONE job (per-subspace md5 rank with the
    * identical per-mi hash, so the sample sets are the same); each Lloyd
    * round is ONE scan assigning codes for every subspace simultaneously and
    * bringing M×K×subdim sum rows to the driver. Empty cells keep their
    * previous centroid. Returns codebooks(m)(code) = centroid, canonicalized
    * for literal inlining.
    *
    * r20 round shape: the per-round argmin is an IN-ROW [[CentroidArgMax]]
    * (L2 mode) per subspace over the shared (vec_id, v) training base — the
    * checkpointed (vec_id, mi, sv) relation, the per-round broadcast join,
    * its ×K expansion, and the `max(struct)` aggregate whose exchange
    * carried every subvector every round are ALL gone (guide §2.4). The
    * subvector slices are recomputed per round from the checkpointed base —
    * pure per-row arithmetic, no materialization. The kernel's matrix rides
    * the codegen references, so rounds share one compiled class (see
    * [[CentroidArgMaxKernel]]); value identity with the joined form — same
    * [[L2SqKernel]] fold, same struct-max comparator, same null handling —
    * is argued there and bit-asserted at the canonicalization grain against
    * the r19 form's recorded runs (OPTIMIZATION_r20.md, TrainerProbe).
    */
  def trainCodebooks(
      emb: DataFrame,
      m: Int = SubspacesM,
      k: Int = CodebookK
  ): Array[Array[Array[Double]]] =
    trainCodebooksOn(KMeans.trainingBase(emb), m, k)

  /** [[trainCodebooks]] against a pre-built [[KMeans.trainingBase]]
    * projection — the entry SparkEntry uses so the IVF and PQ trainers share
    * ONE checkpointed corpus frame per (session, dir) (VERDICT r19 #1).
    */
  def trainCodebooksOn(
      base: DataFrame,
      m: Int = SubspacesM,
      k: Int = CodebookK
  ): Array[Array[Array[Double]]] = {
    val sd = subDimOn(base, m)
    // training ignores null vectors (subDimOn already requires at least one
    // non-null): a null embedding would ride NULL subvectors through the
    // seed sample and Lloyd sums
    val nn = base.where(col("v").isNotNull)
    def sub(mi: Int) = slice(col("v"), lit(mi * sd + 1), lit(sd))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("mi")).orderBy(col("h"), col("vec_id"))
    val sampleRows = nn
      .select(col("vec_id"),
        posexplode(array((0 until m).map(sub): _*)).as(Seq("mi", "sv")))
      .withColumn("h", md5(concat(col("vec_id").cast("string"), lit(":pqseed:"), col("mi").cast("string"))))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= SeedSampleCap)
      .select(col("mi"), col("vec_id"), col("sv"))
      .collect()
    val samples = sampleRows
      .groupBy(_.getInt(0))
      .map { case (mi, rows) =>
        mi -> rows.map(r => (r.getLong(1), r.getSeq[Double](2).toArray)).sortBy(_._1)
      }
    var codebooks: Array[Array[Array[Double]]] =
      (0 until m).toArray.map(mi => farthestPointSeeds(samples(mi), k))
    for (_ <- 0 until TrainRounds) {
      // one in-row struct per subspace: (mi, argmin code, the subvector) —
      // explode to (mi, code, sv), then to (mi, code, pos, x) sums; the only
      // exchange carries M×K×subdim aggregate buffers, never data rows
      val cb = codebooks // stable reference for the closure below
      val codeStructs = (0 until m).map { mi =>
        struct(lit(mi).as("mi"),
          CentroidArgMax.l2Code(sub(mi), cb(mi)).as("code"),
          sub(mi).as("sv"))
      }
      val sums = nn
        .select(explode(array(codeStructs: _*)).as("t"))
        .select(col("t.mi").as("mi"), col("t.code").as("code"),
          posexplode(col("t.sv")).as(Seq("pos", "x")))
        .groupBy(col("mi"), col("code"), col("pos"))
        .agg(sum(col("x")).as("s"), count(lit(1)).as("n"))
        .collect()
      val next = codebooks.map(_.map(_.clone()))
      sums.foreach { r =>
        next(r.getAs[Int]("mi"))(r.getAs[Int]("code"))(r.getAs[Int]("pos")) =
          r.getAs[Double]("s") / r.getAs[Long]("n")
      }
      codebooks = next
    }
    codebooks.map(SimilarityOps.canonicalizeCentroids)
  }

  /** The per-code `struct(-d², -code)` score columns for one subvector row
    * against one subspace's literal codebook — the in-row form of the former
    * broadcast-join ×K expansion (r19; the [[SimilarityOps.cellScoreStructs]]
    * argument applied to the PQ argmin: identical IEEE distance per pair,
    * identical (nd, negc) = (-d², -code) argmax ordering, zero exchanges).
    */
  private def codeScoreStructs(sub: Column, codebook: Array[Array[Double]]): Seq[Column] =
    codebook.zipWithIndex.toSeq.map { case (c, code) =>
      val cv = array(c.toIndexedSeq.map(lit): _*)
      struct((-L2Sq(sub, cv)).as("nd"), lit(-code.toLong).as("negc"))
    }

  /** In-row argmin over [[codeScoreStructs]] — `greatest` compares structs
    * with the same ordering the former `max(struct)` aggregate used
    * (smallest d², lowest code on ties).
    */
  private def bestCode(sub: Column, codebook: Array[Array[Double]]): Column = {
    val ss = codeScoreStructs(sub, codebook)
    if (ss.size == 1) ss.head else greatest(ss: _*)
  }

  /** The M per-subspace best-code structs for one full-vector row: slice m's
    * subvector out of `v` and argmin it against subspace m's literal
    * codebook, all inside the row.
    */
  private def bestCodeStructsForVector(
      v: Column, codebooks: Array[Array[Array[Double]]]): Seq[Column] = {
    val sd = codebooks.head.head.length
    codebooks.zipWithIndex.toSeq.map { case (cb, mi) =>
      bestCode(slice(v, lit(mi * sd + 1), lit(sd)), cb)
    }
  }

  /** The per-query ADC lookup table as ONE nested in-row array —
    * qd2s[m+1][code+1] = d²(subvector m of this row's vector, codebook m's
    * entry `code`) — every distance against literal codebook entries, so the
    * whole |Q|·M·K table is a projection over the (tiny) query slice instead
    * of the former subsDF ⋈ broadcast(cents) relation. Values are the
    * identical IEEE folds the former `d2(sub, cv)` rows carried.
    */
  private def qd2sExpr(v: Column, codebooks: Array[Array[Array[Double]]]): Column = {
    val sd = codebooks.head.head.length
    array(codebooks.zipWithIndex.map { case (cb, mi) =>
      val sub = slice(v, lit(mi * sd + 1), lit(sd))
      array(cb.map(c => L2Sq(sub, array(c.toIndexedSeq.map(lit): _*))): _*)
    }: _*)
  }

  /** The ADC distance of one candidate row: M table lookups
    * (qd2s[m][codes[m]]) summed in fixed m-order — the identical
    * left-associated double sequence the former
    * `aggregate(transform(sorted terms, …), 0.0, _+_)` fold performed (the
    * leading 0.0 + t₀ is an IEEE identity on the non-negative d² terms).
    */
  private def adcExpr(qd2s: Column, codes: Column, m: Int): Column = {
    val terms = (0 until m).map(mi =>
      element_at(element_at(qd2s, mi + 1), element_at(codes, mi + 1).cast("int") + 1))
    round(sqrt(terms.reduceLeft(_ + _)), 6)
  }

  // --- declared queries -----------------------------------------------------

  /** The trained codebooks as a (m, code, pos, component) relation — PQ
    * training as its own oracled entry (VALUES-literal comparison, possible
    * because training is deterministic and canonicalized; the
    * `ivf_centroids` pattern).
    */
  def codebooksDF(emb: DataFrame, codebooks: Array[Array[Array[Double]]]): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val rows: Seq[(Long, Long, Long, Double)] = for {
      (cb, m) <- codebooks.zipWithIndex.toSeq
      (c, code) <- cb.zipWithIndex.toSeq
      (x, p) <- c.zipWithIndex.toSeq
    } yield (m.toLong, code.toLong, p.toLong, x)
    // m×k×dsub rows always fit one task: sorting them in one partition
    // plans no range exchange
    spark.createDataset(rows).toDF("m", "code", "pos", "component")
      .coalesce(1).orderBy("m", "code", "pos")
  }

  def oracleCodebooks(codebooks: Array[Array[Array[Double]]]): String = {
    val rows = codebooks.zipWithIndex.flatMap { case (cb, m) =>
      SimilarityOps.centroidStrings(cb).zipWithIndex.flatMap { case (c, code) =>
        c.zipWithIndex.map { case (s, p) => s"($m, $code, $p, CAST('$s' AS DOUBLE))" }
      }
    }
    s"""SELECT CAST(m AS BIGINT) AS m, CAST(code AS BIGINT) AS code, CAST(pos AS BIGINT) AS pos, component
       |FROM (VALUES ${rows.mkString(",\n  ")}) AS t(m, code, pos, component)
       |ORDER BY m, code, pos""".stripMargin
  }

  /** PQ encoding, declared: (vec_id, m, code, dist_r) — each subvector's
    * nearest codebook entry and the (rounded) quantization error. Since r19
    * the argmin is IN-ROW ([[bestCode]] over literal codebooks): one
    * projection computes every subspace's best struct, one posexplode emits
    * the (m, best) rows — no join, no aggregate, NO exchange where the
    * former shape exploded ×(M·K) through a broadcast join and collapsed in
    * a hash aggregate whose exchange carried M·|vectors| rows. Values are
    * bit-identical (same IEEE d² folds, same (nd, negc) ordering).
    */
  def codesDF(emb: DataFrame, codebooks: Array[Array[Array[Double]]]): DataFrame = {
    val v = expr("transform(embedding, x -> CAST(x AS DOUBLE))")
    graft.Tables.widen(emb)
      .select(col("vec_id"),
        posexplode(array(bestCodeStructsForVector(v, codebooks): _*)).as(Seq("m", "best")))
      .select(col("vec_id"), col("m").cast("long").as("m"),
        (-col("best.negc")).as("code"),
        round(sqrt(-col("best.nd")), 6).as("dist_r"))
      .orderBy("vec_id", "m")
  }

  private def centsSqlCte(codebooks: Array[Array[Array[Double]]]): String = {
    val rows = codebooks.zipWithIndex.flatMap { case (cb, m) =>
      SimilarityOps.centroidStrings(cb).zipWithIndex.map { case (c, code) =>
        s"($m, $code, [${c.map(s => s"CAST('$s' AS DOUBLE)").mkString(", ")}])"
      }
    }
    s"cents AS (SELECT * FROM (VALUES ${rows.mkString(",\n    ")}) AS t(m, c_code, cv))"
  }

  private def subsSqlCte(codebooks: Array[Array[Array[Double]]]): String = {
    val mCount = codebooks.length
    val sd     = codebooks.head.head.length
    s"""base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |subs AS (
       |  SELECT vec_id, t.m, list_slice(v, t.m * $sd + 1, t.m * $sd + $sd) AS sub
       |  FROM base, (VALUES ${(0 until mCount).map(i => s"($i)").mkString(", ")}) AS t(m))""".stripMargin
  }

  /** Ordered-fold squared L2 in DuckDB: per-index comprehension then
    * list_reduce from an explicit 0.0 — the same IEEE sequence as [[d2]].
    */
  private def d2Sql(a: String, b: String, sd: Int): String =
    s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
      s"[($a[i+1] - $b[i+1]) * ($a[i+1] - $b[i+1]) for i in range($sd)]), (x, y) -> x + y)"

  def oracleCodes(codebooks: Array[Array[Array[Double]]]): String = {
    val sd = codebooks.head.head.length
    s"""WITH ${subsSqlCte(codebooks)},
       |${centsSqlCte(codebooks)},
       |d AS (
       |  SELECT s.vec_id, s.m, c.c_code, ${d2Sql("s.sub", "c.cv", sd)} AS dd
       |  FROM subs s JOIN cents c ON s.m = c.m),
       |r AS (
       |  SELECT vec_id, m, c_code, dd,
       |    row_number() OVER (PARTITION BY vec_id, m ORDER BY dd, c_code) AS rn
       |  FROM d)
       |SELECT vec_id, CAST(m AS BIGINT) AS m, CAST(c_code AS BIGINT) AS code, round(sqrt(dd), 6) AS dist_r
       |FROM r WHERE rn = 1 ORDER BY vec_id, m""".stripMargin
  }

  /** ADC top-k, declared: for each query vector (exact), rank the corpus by
    * the sum of per-subspace lookup-table distances to each vector's CODES.
    * The lookup table is |Q|·M·K rows (tiny, broadcast); the corpus side is
    * the narrow code relation; the M per-(query, vector) terms fold in fixed
    * m-order (ordered float sum → cross-engine stable). Ranking uses the
    * ROUNDED distance with a vec_id tie-break so the cut is deterministic.
    */
  def adcTopK(
      emb: DataFrame,
      codebooks: Array[Array[Array[Double]]],
      queryIds: Seq[Long] = Seq(0L, 1L, 2L),
      k: Int = 10
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val mCount = codebooks.length
    val v = expr("transform(embedding, x -> CAST(x AS DOUBLE))")
    // corpus side: the whole code VECTOR per row, in-row (r19) — the former
    // per-(vec, m) code relation re-joined the broadcast (m, code) table and
    // re-aggregated by (qid, vec_id) just to fold M terms; here the M codes
    // travel as one array column and the fold is [[adcExpr]]'s flat
    // fixed-m-order sum, so the ×M expansion, the join, and the aggregate's
    // exchange all disappear (guide §2.4/§4)
    val codes = graft.Tables.widen(emb).select(col("vec_id"),
      array(bestCodeStructsForVector(v, codebooks)
        .map(b => -b.getField("negc")): _*).as("codes"))
    // query side: the |Q|·M·K lookup table as one nested array per query row
    val table = graft.Tables.widen(emb)
      .where(col("vec_id").isInCollection(queryIds))
      .select(col("vec_id").as("qid"), qd2sExpr(v, codebooks).as("qd2s"))
    val w = Window.partitionBy(col("qid")).orderBy(col("adc_r"), col("vec_id"))
    codes
      .crossJoin(broadcast(table))
      .select(col("qid"), col("vec_id"), adcExpr(col("qd2s"), col("codes"), mCount).as("adc_r"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= k)
      .drop("rn")
      .orderBy("qid", "adc_r", "vec_id")
  }

  /** The production billion-vector search plan — all three tiers composed:
    * IVF nprobe cell pruning bounds how many vectors are LOOKED AT, PQ/ADC
    * scoring bounds the bytes per looked-at vector, exact cosine reranks
    * only the ADC shortlist. Output: (qid, rank, vec_id, sim_r, adc_r) —
    * the exact rerank ordering plus the ADC distance that shortlisted the
    * row, so the oracle hash-checks BOTH scoring tiers through the cut.
    *
    * Scale shape: cell assignment is the map-side argmax (×k expansion
    * collapses in partial aggregates — nothing wide shuffles); candidates =
    * cells ⋈ probes is an equi-join on centroid_id (each vector lives in
    * exactly one cell, so no dedup pass is needed); ADC joins the narrow
    * (vec_id, m, code) relation for CANDIDATES ONLY against the broadcast
    * |Q|·M·K lookup table; the exact tier touches `rerank` vectors per
    * query, never the corpus. No scan past the cell filter carries the
    * full-width embedding except the bounded rerank join.
    *
    * Determinism: the ADC shortlist cut ranks on (rounded adc_r, vec_id);
    * the final ranking on (raw sim DESC, vec_id) — the [[SimilarityOps]]
    * cosine conventions (≤1 ulp cross-engine, declared rounded).
    */
  def ivfPqTopK(
      emb: DataFrame,
      centroids: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]],
      queryIds: Seq[Long] = Seq(0L, 1L, 2L),
      k: Int = 10,
      nprobe: Int = 4,
      rerank: Int = 32
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // the shared zero/NULL-norm exclusion — both the cell argmax and the
    // exact rerank divide by √n2
    val base = SimilarityOps.baseVectors(emb)
    val mCount = codebooks.length
    // Corpus side, ONE projection (r19): the cell-assignment argmax AND the
    // PQ code vector both in-row over literal centroids/codebooks — where
    // the former plan built them as two separate broadcast-join + aggregate
    // subtrees over two more scans of the table. Candidates then attach by
    // ONE map-side broadcast join, and the ADC distance is [[adcExpr]]'s
    // flat lookup sum in the same projection — so between the scan and the
    // shortlist window NOTHING crosses an exchange at all (the former path
    // exchanged the cells aggregate, the codes aggregate, the
    // candidates⋈codes join, and the (qid, vec_id) ADC aggregate).
    val enriched = base.select(
      col("vec_id"),
      (-SimilarityOps.bestCell(col("v"), col("n2"), centroids).getField("negc")).as("centroid_id"),
      array(bestCodeStructsForVector(col("v"), codebooks)
        .map(b => -b.getField("negc")): _*).as("codes"))
    // query slice (tiny): exact vector, sorted cell scores, ADC lookup table
    val qslice = base
      .where(col("vec_id").isInCollection(queryIds))
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("n2").as("qn2"),
        sort_array(array(
          SimilarityOps.cellScoreStructs(col("v"), col("n2"), centroids): _*), asc = false).as("scs"),
        qd2sExpr(col("v"), codebooks).as("qd2s"))
    // nprobe probe rows per query, each carrying the query's lookup table
    // (M·K doubles — broadcast-tiny) so the ADC needs no further join
    val probes = qslice
      .select(col("qid"), explode(slice(col("scs"), 1, nprobe)).as("sc"), col("qd2s"))
      .select(col("qid"), (-col("sc.negc")).as("centroid_id"), col("qd2s"))
    val wAdc = Window.partitionBy(col("qid")).orderBy(col("adc_r"), col("vec_id"))
    val shortlist = enriched
      .join(broadcast(probes), Seq("centroid_id"))
      .select(col("qid"), col("vec_id"), adcExpr(col("qd2s"), col("codes"), mCount).as("adc_r"))
      .withColumn("srn", row_number().over(wAdc))
      .where(col("srn") <= rerank)
      .drop("srn")
    // exact rerank of the bounded shortlist: the shortlist (≤ rerank·|Q|
    // rows) is explicitly broadcast against the base scan, so the rerank
    // join shuffles nothing either
    val q = qslice.select(col("qid"), col("qv"), col("qn2"))
    val wSim = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("vec_id"))
    broadcast(shortlist)
      .join(base, Seq("vec_id"))
      .join(broadcast(q), Seq("qid"))
      .withColumn("sim", DotProduct(col("v"), col("qv")) / (sqrt(col("qn2")) * sqrt(col("n2"))))
      .select(col("qid"), col("vec_id"), col("sim"), col("adc_r"))
      .withColumn("rank", row_number().over(wSim).cast("long"))
      .where(col("rank") <= k)
      .select(col("qid"), col("rank"), col("vec_id"), round(col("sim"), 6).as("sim_r"), col("adc_r"))
      .orderBy("qid", "rank")
  }

  /** DuckDB twin of [[ivfPqTopK]] — the IVF oracle's cell/probe CTEs nested
    * with the PQ oracle's code/lookup CTEs, composed through the same
    * shortlist → exact-rerank cut.
    */
  def oracleIvfPqTopK(
      centroids: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]],
      queryIds: Seq[Long] = Seq(0L, 1L, 2L),
      k: Int = 10,
      nprobe: Int = 4,
      rerank: Int = 32
  ): String = {
    val sd  = codebooks.head.head.length
    val ids = queryIds.mkString(", ")
    s"""WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       |  WHERE ${SimilarityOps.zeroNormOracleFilter}),
       |${SimilarityOps.centroidSqlCte(centroids)},
       |assigned AS (
       |  SELECT b.vec_id, b.v, c.centroid_id,
       |    row_number() OVER (PARTITION BY b.vec_id
       |      ORDER BY list_cosine_similarity(b.v, c.cv) DESC, c.centroid_id) AS rn
       |  FROM base b, cents c),
       |cells AS (SELECT vec_id, centroid_id FROM assigned WHERE rn = 1),
       |probes AS (
       |  SELECT vec_id AS qid, v AS qv, centroid_id
       |  FROM assigned WHERE vec_id IN ($ids) AND rn <= $nprobe),
       |candidates AS (
       |  SELECT p.qid, m.vec_id FROM cells m JOIN probes p ON m.centroid_id = p.centroid_id),
       |subs AS (
       |  SELECT vec_id, t.m, list_slice(v, t.m * $sd + 1, t.m * $sd + $sd) AS sub
       |  FROM base, (VALUES ${(0 until codebooks.length).map(i => s"($i)").mkString(", ")}) AS t(m)),
       |pqcents AS (SELECT * FROM (VALUES ${codebooks.zipWithIndex.flatMap { case (cb, m) =>
                      SimilarityOps.centroidStrings(cb).zipWithIndex.map { case (c, code) =>
                        s"($m, $code, [${c.map(s => s"CAST('$s' AS DOUBLE)").mkString(", ")}])"
                      }
                    }.mkString(",\n    ")}) AS t(m, c_code, cv)),
       |d AS (
       |  SELECT s.vec_id, s.m, c.c_code, ${d2Sql("s.sub", "c.cv", sd)} AS dd
       |  FROM subs s JOIN pqcents c ON s.m = c.m),
       |codes AS (
       |  SELECT vec_id, m, c_code AS code FROM (
       |    SELECT vec_id, m, c_code,
       |      row_number() OVER (PARTITION BY vec_id, m ORDER BY dd, c_code) AS rn
       |    FROM d) WHERE rn = 1),
       |tbl AS (
       |  SELECT vec_id AS qid, m, c_code AS code, dd AS qd2 FROM d
       |  WHERE vec_id IN ($ids)),
       |adc AS (
       |  SELECT cd.qid, cd.vec_id,
       |    round(sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(t.qd2 ORDER BY t.m)), (x, y) -> x + y)), 6) AS adc_r
       |  FROM candidates cd JOIN codes c ON cd.vec_id = c.vec_id
       |  JOIN tbl t ON cd.qid = t.qid AND c.m = t.m AND c.code = t.code
       |  GROUP BY cd.qid, cd.vec_id),
       |shortlist AS (
       |  SELECT qid, vec_id, adc_r FROM (
       |    SELECT qid, vec_id, adc_r,
       |      row_number() OVER (PARTITION BY qid ORDER BY adc_r, vec_id) AS srn
       |    FROM adc) WHERE srn <= $rerank),
       |q AS (SELECT DISTINCT qid, qv FROM probes),
       |reranked AS (
       |  SELECT s.qid, s.vec_id, s.adc_r,
       |    list_cosine_similarity(b.v, q.qv) AS sim
       |  FROM shortlist s JOIN base b ON s.vec_id = b.vec_id JOIN q ON s.qid = q.qid),
       |r AS (
       |  SELECT qid, vec_id, sim, adc_r,
       |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rank
       |  FROM reranked)
       |SELECT qid, CAST(rank AS BIGINT) AS rank, vec_id, round(sim, 6) AS sim_r, adc_r
       |FROM r WHERE rank <= $k ORDER BY qid, rank""".stripMargin
  }

  def oracleAdcTopK(
      codebooks: Array[Array[Array[Double]]],
      queryIds: Seq[Long] = Seq(0L, 1L, 2L),
      k: Int = 10
  ): String = {
    val sd = codebooks.head.head.length
    s"""WITH ${subsSqlCte(codebooks)},
       |${centsSqlCte(codebooks)},
       |d AS (
       |  SELECT s.vec_id, s.m, c.c_code, ${d2Sql("s.sub", "c.cv", sd)} AS dd
       |  FROM subs s JOIN cents c ON s.m = c.m),
       |codes AS (
       |  SELECT vec_id, m, c_code AS code FROM (
       |    SELECT vec_id, m, c_code,
       |      row_number() OVER (PARTITION BY vec_id, m ORDER BY dd, c_code) AS rn
       |    FROM d) WHERE rn = 1),
       |tbl AS (
       |  SELECT vec_id AS qid, m, c_code AS code, dd AS qd2 FROM d
       |  WHERE vec_id IN (${queryIds.mkString(", ")})),
       |adc AS (
       |  SELECT t.qid, c.vec_id,
       |    round(sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(t.qd2 ORDER BY t.m)), (x, y) -> x + y)), 6) AS adc_r
       |  FROM codes c JOIN tbl t ON c.m = t.m AND c.code = t.code
       |  GROUP BY t.qid, c.vec_id),
       |ranked AS (
       |  SELECT qid, vec_id, adc_r,
       |    row_number() OVER (PARTITION BY qid ORDER BY adc_r, vec_id) AS rn
       |  FROM adc)
       |SELECT qid, vec_id, adc_r FROM ranked WHERE rn <= $k
       |ORDER BY qid, adc_r, vec_id""".stripMargin
  }
}
