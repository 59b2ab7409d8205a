package graft.similarity

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Spherical k-means training for the IVF tier — replaces
  * [[SimilarityOps.ivfAssign]]'s deterministic first-K centroid
  * initialization with actual Lloyd's iterations, so IVF cells reflect the
  * corpus geometry (tighter cells → fewer probes for the same recall).
  *
  * Scale shape per round: ONE scan assigns every vector to its max-cosine
  * centroid (the k×dim matrix rides the assignment kernel — tiny by
  * construction), then a (cell, dimension) sum/count aggregate. On a base
  * of several partitions the driver receives exactly k×dim aggregate rows
  * (16×64 here) per round to rebuild centroids plus one bounded seeding
  * sample ([[SeedSampleCap]] × dim); the iteration count is a fixed small
  * constant. That is the standard distributed k-means: cost = iters ×
  * (1 scan + 1 bounded aggregate). A base of ONE partition is collected
  * once and trained on the driver, so there the driver holds the base:
  * [[graft.Tables.widen]] leaves an input in one partition when it
  * [[graft.Tables.fitsOneTask fits one task]], at most
  * [[graft.Tables.TinyBytes]] on disk (about 5 MB of doubles for the
  * sf0.1 embeddings). On a one-core cluster a larger input also arrives
  * in one partition, and so is trained on the driver too.
  *
  * Cosine assignment is scale-invariant, so cell means are used unnormalized
  * (spherical k-means' normalization would not change any assignment).
  * Deterministic: farthest-point seeding, deterministic tie-breaks, fixed
  * rounds — same input → same centroids, which keeps downstream search
  * results reproducible. The training loop itself is not one SQL statement,
  * but because the output is deterministic the DECLARED IVF queries (since
  * r4) run against these trained centroids: SparkEntry trains once per
  * (session, dir), canonicalizes the centroids through decimal strings
  * ([[SimilarityOps.canonicalizeCentroids]]), and the oracle inlines the
  * identical literals. Quality and convergence remain spec-asserted
  * (SimilarityOpsSpec).
  */
object KMeans {

  /** Seeding-sample bound: the driver pulls at most this many vectors for
    * farthest-point seeding (cap × dim doubles ≈ 1 MB at 2048×64) — the
    * standard bounded-sample seeding every distributed k-means uses; on a
    * base of several partitions the Lloyd's rounds that actually fit
    * centroids to the corpus stay fully distributed.
    */
  val SeedSampleCap = 2048

  /** Deterministic farthest-point initialization (the greedy k-center /
    * k-means++-without-randomness seeding) over a bounded deterministic
    * sample: the `SeedSampleCap` vectors with the smallest md5(vec_id) —
    * partitioning-independent, so the seeds (and hence the trained
    * centroids) are reproducible. Start from the lowest vec_id in the
    * sample, then repeatedly add the sample vector LEAST similar to every
    * chosen seed (argmin of max-cosine, lowest-vec_id tie-break).
    *
    * First-K init can put every seed inside one dense cluster and strand
    * Lloyd's in a local optimum; farthest-point guarantees seed spread. The
    * r3 formulation ran the greedy argmin as k sequential Spark actions —
    * correct but each step compiled a fresh codegen plan (~1 s × k of pure
    * scheduling/compile cost); seeding quality never needed the full corpus.
    */
  def farthestPointInit(emb: DataFrame, k: Int = SimilarityOps.IvfCentroids): Array[Array[Double]] =
    farthestPointInitOn(trainingBase(emb), k)

  /** The one corpus projection every trainer pass reads: (vec_id, v) widened
    * to cluster width and locally checkpointed so each of the bounded
    * trainer jobs (seeding + the Lloyd's rounds, for BOTH the IVF and the PQ
    * trainer — SparkEntry shares one per (session, dir), VERDICT r19 #1)
    * re-reads a materialized narrow frame instead of re-scanning and
    * re-shuffling the table. LAZY checkpoint: the frame materializes inside
    * the first consuming job (seeding scans every partition, and so does the
    * one-partition trainer's collect), so the separate eager materialization
    * job the r19 form paid is gone.
    */
  def trainingBase(emb: DataFrame): DataFrame =
    graft.Tables.widen(emb)
      .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      .localCheckpoint(eager = false)

  private def farthestPointInitOn(base: DataFrame, k: Int): Array[Array[Double]] =
    // ONE bounded action: the deterministic seed sample (zero vectors are
    // never eligible as seeds — a zero-norm centroid has no defined cosine)
    farthestPoint(base
      .where(DotProduct(col("v"), col("v")) > 0)
      .withColumn("h", seedHash)
      .orderBy(col("h"), col("vec_id"))
      .limit(SeedSampleCap)
      .select(col("vec_id"), col("v"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1), k)

  /** The key the seed sample is ordered by, ahead of `vec_id`. */
  private def seedHash = md5(concat(col("vec_id").cast("string"), lit(":seed")))

  /** The greedy farthest-point step over a seed sample sorted by vec_id:
    * start from its first vector, then repeatedly add the one least similar
    * to every chosen seed. Both trainer paths seed through it.
    */
  private def farthestPoint(sample: Array[(Long, Array[Double])], k: Int): Array[Array[Double]] = {
    require(sample.nonEmpty, "farthestPointInit: no non-zero vectors to seed from")
    // clamp rather than throw on tiny corpora: fewer seedable vectors than k
    // simply means fewer cells (the r4 require hard-failed the declared IVF
    // queries on small embedding tables — ADVICE r4)
    val kk = math.min(k, sample.length)

    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }

    val chosen = scala.collection.mutable.ArrayBuffer(sample.head._2)
    // incremental max-sim to the chosen set, classic O(k·n) greedy
    val maxSim = Array.fill(sample.length)(-2.0)
    while (chosen.size < kk) {
      val last = chosen.last
      var best = -1
      var i = 0
      while (i < sample.length) {
        val s = cos(sample(i)._2, last)
        if (s > maxSim(i)) maxSim(i) = s
        // strict < keeps the LOWEST vec_id on ties (sample is sorted by id)
        if (best < 0 || maxSim(i) < maxSim(best)) best = i
        i += 1
      }
      chosen += sample(best)._2
    }
    chosen.toArray
  }

  /** Train `k` centroids with `iters` Lloyd's rounds from the farthest-point
    * seeds. Returns (centroid_id → vector); empty cells keep their previous
    * centroid.
    */
  def trainCentroids(
      emb: DataFrame,
      k: Int = SimilarityOps.IvfCentroids,
      iters: Int = 5
  ): Array[Array[Double]] =
    trainCentroidsOn(trainingBase(emb), k, iters)

  /** [[trainCentroids]] against a pre-built [[trainingBase]] projection —
    * the entry SparkEntry uses so the IVF and PQ trainers share ONE
    * checkpointed corpus frame per (session, dir).
    *
    * A base of ONE partition trains on the driver ([[trainOnDriver]]): one
    * job instead of the seeding job and one job per round, which at that
    * size cost more in per-job overhead than in task time. The base is one
    * partition exactly when [[graft.Tables.widen]] found that the input
    * fits one task (or the cluster has one core), so no separate threshold
    * decides the path. A wider base runs the distributed loop below.
    *
    * Per-round shape (r20): cell assignment is one IN-ROW
    * [[CentroidArgMax]] projection (the centroid matrix rides the kernel
    * object in the codegen `references`, so the generated source — and the
    * compiled class — is identical across rounds; see that scaladoc for why
    * the r19 literal-cascade argument does not apply), feeding the
    * per-(cell, dim) sum aggregate directly. The round is ONE job whose only
    * exchange carries (cell, pos) aggregate buffers — k×dim rows — where the
    * former broadcast-join form expanded ×k, collapsed in a `max(struct)`
    * aggregate, and shuffled the ENTIRE corpus (vec_id, v) through that
    * aggregate's exchange every round (guide §2.4: at scale that was 5 full
    * corpus shuffles per training run for zero semantic content).
    *
    * Value identity: the kernel replicates the joined form's score, guards
    * (zero-norm vectors AND zero-norm centroids pin to cell 0 — ADVICE r4),
    * and Spark's struct-max comparator term for term
    * ([[CentroidArgMaxKernel]]); null vectors emit no posexplode rows, so
    * cell sums and counts see the identical multiset of values. Per-(cell,
    * pos) float sums may associate in a different partition order than the
    * former two-aggregate plan — the same class of reassociation the
    * distributed sum's own merge order already allows — which perturbs raw
    * means at ≤1e-13 while every consumer reads centroids through the
    * 9-decimal canonicalization grain (1e-9); bit-equality of the
    * canonicalized output is asserted against the r19 form's recorded
    * training runs at all three SFs (OPTIMIZATION_r20.md, TrainerProbe).
    */
  def trainCentroidsOn(
      base: DataFrame,
      k: Int = SimilarityOps.IvfCentroids,
      iters: Int = 5
  ): Array[Array[Double]] =
    if (base.rdd.getNumPartitions == 1) trainOnDriver(base, k, iters)
    else trainDistributed(base, k, iters)

  /** [[trainCentroidsOn]] for a base of several partitions: the seeding job
    * and one job per round.
    */
  private def trainDistributed(base: DataFrame, k: Int, iters: Int): Array[Array[Double]] = {
    var centroids: Array[Array[Double]] = farthestPointInitOn(base, k)

    for (_ <- 0 until iters) {
      // per-(cell, dim) sums — k×dim aggregate rows to the driver, no data
      // rows shuffled; empty cells receive no sum rows and keep their old
      // centroid; null vectors explode to no rows (as before)
      val sums = base
        .select(
          CentroidArgMax.cosineCell(col("v"), centroids).as("cell"),
          posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy(col("cell"), col("pos"))
        .agg(sum(col("x")).as("s"), count(lit(1)).as("n"))
        .collect()
      val next = centroids.map(_.clone())
      sums.foreach { r =>
        next(r.getAs[Int]("cell"))(r.getAs[Int]("pos")) =
          r.getAs[Double]("s") / r.getAs[Long]("n")
      }
      centroids = next
    }
    centroids
  }

  /** [[trainCentroidsOn]] for a base of one partition, in ONE Spark job:
    * collect the base once, then seed and run every Lloyd's round on the
    * driver. Each step replays the distributed plan's arithmetic, so the
    * centroids are bit-identical to the loop's on the same base:
    *  - the seed sample is the non-zero vectors ordered by (h, vec_id) in
    *    Spark's UTF-8 byte order, the first [[SeedSampleCap]] of them, then
    *    sorted by vec_id;
    *  - cells come from the same [[CentroidArgMaxKernel]] the generated code
    *    calls (a null slot reads 0.0 there as here);
    *  - each (cell, pos) sum runs from 0.0 in collect order, the partition
    *    order the single-task aggregate folds in; a null element counts in
    *    `n` and adds nothing to `s`, a null vector adds no rows, and an
    *    empty (cell, pos) keeps its centroid component.
    */
  private def trainOnDriver(base: DataFrame, k: Int, iters: Int): Array[Array[Double]] = {
    val rows = base
      .select(col("vec_id"), col("v"), (DotProduct(col("v"), col("v")) > 0).as("nz"), seedHash.as("h"))
      .collect()

    implicit val byteOrder: Ordering[UTF8String] = Ordering.fromLessThan(_.compareTo(_) < 0)
    val sample = rows
      .filter(r => !r.isNullAt(2) && r.getBoolean(2))
      .map(r => (UTF8String.fromString(r.getString(3)), r.getLong(0), r))
      .sortBy(t => (t._1, t._2))
      .take(SeedSampleCap)
      .map { case (_, id, r) => (id, r.getSeq[Double](1).toArray) }
      .sortBy(_._1)
    var centroids = farthestPoint(sample, k)

    // (values with null slots at 0.0, null mask) per non-null vector
    val vecs: Array[(ArrayData, Array[Boolean])] = rows.filterNot(_.isNullAt(1)).map { r =>
      val xs = r.getSeq[java.lang.Double](1)
      (UnsafeArrayData.fromPrimitiveArray(xs.map(x => if (x == null) 0.0 else x.doubleValue).toArray),
        xs.map(_ == null).toArray)
    }
    val dim = vecs.iterator.map(_._2.length).maxOption.getOrElse(0)

    for (_ <- 0 until iters) {
      val kernel = new CentroidArgMaxKernel(centroids, cosine = true)
      val s = Array.fill(centroids.length, dim)(0.0)
      val n = Array.fill(centroids.length, dim)(0L)
      for ((v, nulls) <- vecs) {
        val cell = kernel.argmax(v)
        var p = 0
        while (p < nulls.length) {
          n(cell)(p) += 1
          if (!nulls(p)) s(cell)(p) += v.getDouble(p)
          p += 1
        }
      }
      centroids = centroids.indices.map { c =>
        val next = centroids(c).clone()
        for (p <- 0 until dim if n(c)(p) > 0) next(p) = s(c)(p) / n(c)(p)
        next
      }.toArray
    }
    centroids
  }

  /** Mean cosine of each vector to its assigned centroid — the quantization
    * quality measure the training spec asserts improves over first-K init.
    */
  def assignmentQuality(emb: DataFrame, centroids: Array[Array[Double]]): Double = {
    val base = graft.Tables.widen(emb)
      .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
    val n2 = DotProduct(col("v"), col("v"))
    val sims = centroids.map { c =>
      val lit_c = array(c.toIndexedSeq.map(lit): _*)
      val cn    = math.sqrt(c.map(x => x * x).sum)
      when(n2 > 0, DotProduct(col("v"), lit_c) / (sqrt(n2) * lit(cn))).otherwise(lit(-2.0))
    }.toSeq
    // variadic greatest — see assignCells for why not a when-reduce
    val bestSim = if (sims.size == 1) sims.head else greatest(sims: _*)
    base.agg(avg(bestSim)).first().getDouble(0)
  }

  /** First-K-by-vec_id centroids (the declared queries' initialization), for
    * quality comparison.
    */
  def firstKCentroids(emb: DataFrame, k: Int = SimilarityOps.IvfCentroids): Array[Array[Double]] =
    graft.Tables.widen(emb)
      .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      .where(col("vec_id") < k)
      .orderBy("vec_id")
      .collect()
      .map((r: Row) => r.getSeq[Double](1).toArray)
}
