package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.{Contamination, DedupOps}
import graft.engine.ProfilerEngine
import graft.olap.Reporting
import graft.sampling.Sampling
import graft.similarity.{KMeans, Pq, SimilarityOps}

/** The shared artifacts behind the declared queries: a rewritten input
  * table rebuilds every artifact built from it, with no cache clear in
  * between, the trained-model oracles never inline a model of older files,
  * and [[SparkEntry.clearCaches]] releases the persisted rows of every
  * artifact it drops.
  */
class ArtifactRegistrySpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private val src = SurfacePlans.dir

  private def load(d: String, t: String): DataFrame = Tables.load(spark, d, t)

  private def centroids(d: String): Array[Array[Double]] =
    SimilarityOps.canonicalizeCentroids(KMeans.trainCentroids(load(d, "embeddings")))

  /** Declared consumers of one rewritten table: the tables they read, the
    * row filter of `table` before and after the rewrite (disjoint, so a
    * stale artifact cannot match), and each consumer's operator on a raw
    * load.
    */
  private case class Rewrite(tables: Seq[String], table: String, before: String, after: String,
                             consumers: Seq[(String, String => DataFrame)])

  private val rewrites = Seq(
    // stats_customer reuses the profile's counts when one is built
    Rewrite(Seq("customer"), "customer", "c_custkey <= 75", "c_custkey > 75", Seq(
      "profile_customer" -> (d => ProfilerEngine.profilesToDF(spark,
        new ProfilerEngine().analyzeDataFrame(load(d, "customer")).columnProfiles)),
      "stats_customer" -> (d => ProfilerEngine.statsToDF(spark,
        new ProfilerEngine().basicStats(load(d, "customer")))))),
    Rewrite(Seq("documents"), "documents", "doc_id < 250", "doc_id >= 250", Seq(
      "jaccard_pairs_documents" -> (d => DedupOps.jaccardPairs(load(d, "documents"))))),
    // the full corpus has two contaminated pairs, (157, 56) and (161, 144):
    // each version drops one of them
    Rewrite(Seq("documents"), "documents", "doc_id <> 157", "doc_id <> 161", Seq(
      "contamination_documents" -> { d =>
        val docs = load(d, "documents")
        Contamination.contaminatedPairs(docs,
          Sampling.sampleByHash(docs, "doc_id", 0.05, salt = "bench").select("doc_id"))
      })),
    // the revenue rollup reads three tables; only orders changes
    Rewrite(Seq("lineitem", "orders", "customer", "nation"), "orders", "o_orderkey % 2 = 0", "o_orderkey % 2 = 1",
      Seq("revenue_nation" -> (d => Reporting.revenueByNation(
        load(d, "lineitem"), load(d, "orders"), load(d, "customer"), load(d, "nation"))))),
    Rewrite(Seq("embeddings"), "embeddings", "vec_id < 250", "vec_id >= 250", Seq(
      "ivf_assign_embeddings" -> (d => SimilarityOps.ivfAssignTrained(load(d, "embeddings"), centroids(d))),
      "pq_codes_embeddings" -> (d => Pq.codesDF(load(d, "embeddings"), Pq.trainCodebooks(load(d, "embeddings")))),
      "semantic_clusters_embeddings" -> (d => SimilarityOps.semanticClusters(load(d, "embeddings"), centroids(d)))))
  )

  test("a rewritten input rebuilds every artifact built from it, without clearing caches") {
    val stale = rewrites.flatMap { r =>
      val tmp = java.nio.file.Files.createTempDirectory("graft-artifact").toString
      def write(t: String, cond: String): Unit =
        load(src, t).where(cond).coalesce(1).write.mode("overwrite").parquet(s"$tmp/$t.parquet")
      def compare(): Seq[(String, Seq[Row], Seq[Row])] = r.consumers.map { case (name, direct) =>
        (name, SparkEntry.queries(name)(spark, tmp).collect().toSeq, direct(tmp).collect().toSeq)
      }
      r.tables.foreach(t => write(t, if (t == r.table) r.before else "true"))
      for ((name, shared, direct) <- compare()) {
        assert(direct.nonEmpty, s"$name is empty before the rewrite")
        assert(shared == direct, s"$name differs from its direct call before the rewrite")
      }
      write(r.table, r.after)
      compare().collect { case (name, shared, direct) if direct.isEmpty || shared != direct =>
        s"$name (${shared.size} rows served, ${direct.size} direct)"
      }
    }
    assert(stale.isEmpty, s"; stale or empty after the rewrite: ${stale.mkString(", ")}")
  }

  test("the trained-model oracles follow a rewrite of the embeddings they inline") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-artifact").toString
    def write(cond: String): Unit =
      load(src, "embeddings").where(cond).coalesce(1).write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    val trained = Seq("ivf_assign_embeddings", "pq_codes_embeddings")
    def train(): Unit = trained.foreach(n => SparkEntry.queries(n)(spark, tmp))
    def oracles: Map[String, String] = SparkEntry.oracleSqlFor(Some(tmp)).filter(e => trained.contains(e._1))
    write("vec_id < 250")
    train()
    val before = oracles
    assert(before.keySet == trained.toSet)
    write("vec_id >= 250")
    assert(oracles.keySet.isEmpty, "the oracles inline models trained on the files before the rewrite")
    train()
    assert(oracles.keySet == trained.toSet)
    assert(oracles != before, "the models trained after the rewrite are the ones before it")
  }

  test("clearCaches releases the persisted rows of every artifact it drops") {
    val consumers = Seq("profile_customer", "curated_documents", "jaccard_pairs_documents",
      "contamination_documents", "revenue_nation", "ivf_assign_embeddings", "pq_codes_embeddings",
      "semantic_clusters_embeddings")
    val sc = spark.sparkContext
    def persisted: Set[Int] = sc.getPersistentRDDs.keySet.toSet
    def run(): Map[String, Seq[Row]] =
      consumers.map(n => n -> SparkEntry.queries(n)(spark, src).collect().toSeq).toMap
    SparkEntry.clearCaches() // every artifact below is built by this test
    val before = persisted
    val first = run()
    SparkEntry.clearCaches()
    val left = persisted -- before
    assert(left.isEmpty, s"persisted RDDs left after clearCaches: ${left.toSeq.sorted.mkString(", ")}")
    assert(run() == first, "a rebuilt consumer returns other rows")
  }
}
