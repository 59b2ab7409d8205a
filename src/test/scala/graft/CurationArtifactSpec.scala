package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.curation.Curation
import graft.text.{BigramLm, SourceDivergence, SpanDedup, TextOps}

/** The curation pass over the shared placed `documents` artifact: each
  * declared scorer built from it equals the scorer's own call on a raw
  * load, the artifact (and the cluster labels built from it) follows a
  * rewritten table without a cache clear, the re-planned scorers compile no
  * new code on a repeat and, on the single-partition artifact of a tiny
  * table, run a bounded number of jobs with no shuffle, and span dedup's
  * keeper is exact for any bigint id. `PlacementSpec` covers the spread
  * artifact.
  */
class CurationArtifactSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private val dir = SurfacePlans.dir

  private def raw(d: String): DataFrame = Tables.load(spark, d, "documents")

  /** Declared name -> the same operator on a raw load of `documents`. */
  private val scorers: Seq[(String, DataFrame => DataFrame)] = Seq(
    "bigram_scores_documents" -> (df => BigramLm.bigramScores(df)),
    "curated_documents" -> (df => Curation.curatedDocuments(df)),
    "dsir_top_documents" -> (df => TextOps.dsirTop(df, SparkEntry.dsirTopN)),
    "dsir_weights_documents" -> (df => TextOps.dsirWeights(df)),
    "source_kl_documents" -> (df => SourceDivergence.sourceKl(df)),
    "spandedup_documents" -> (df => SpanDedup.spanDedup(df))
  )

  test("every scorer on the shared artifact equals its call on a raw load") {
    for ((name, fn) <- scorers) {
      val shared = SparkEntry.queries(name)(spark, dir).collect().toSeq
      val direct = fn(raw(dir)).collect().toSeq
      assert(shared.nonEmpty, s"$name is empty at $dir")
      assert(shared == direct, s"$name differs on the shared artifact")
    }
  }

  test("a rewritten documents table is re-read without clearing caches") {
    val tmp  = java.nio.file.Files.createTempDirectory("graft-rewrite").toString
    val path = s"$tmp/documents.parquet"
    def write(cond: String): Unit =
      raw(dir).where(cond).coalesce(1).write.mode("overwrite").parquet(path)
    val checked = scorers.filter { case (n, _) =>
      Set("bigram_scores_documents", "dsir_weights_documents", "curated_documents")(n)
    }
    def run(): Seq[(String, Seq[Row], Seq[Row])] = checked.map { case (name, fn) =>
      (name, SparkEntry.queries(name)(spark, tmp).collect().toSeq, fn(raw(tmp)).collect().toSeq)
    }
    write("doc_id < 250")
    for ((name, shared, direct) <- run()) assert(shared == direct, s"$name before the rewrite")
    write("doc_id >= 250")
    for ((name, shared, direct) <- run()) {
      assert(direct.nonEmpty, s"$name is empty on the rewritten table")
      assert(shared == direct, s"$name serves rows of the table before the rewrite")
    }
  }

  test("a repeat of each re-planned scorer on a fresh load compiles no new code") {
    // each run starts from a fresh load: clearCaches drops the artifact, so
    // the repeat rebuilds it and re-plans the scorer on top of it
    def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    def run(name: String): Unit = {
      SparkEntry.clearCaches()
      SparkEntry.queries(name)(spark, dir).collect()
    }
    for ((name, _) <- scorers if name != "curated_documents") {
      run(name)
      val before = compiles
      run(name)
      assert(compiles == before, s"$name compiled ${compiles - before} new classes on a repeat")
    }
  }

  test("on the single-partition artifact each re-planned scorer runs a few jobs and shuffles nothing") {
    // name -> max jobs of one declared-output write once the artifact is
    // built. With the artifact hash-spread over 4 partitions (its placement
    // before the size rule, and source KL's n_tot still a separate count)
    // the same writes ran 6, 6, 8 and 5 jobs and wrote 129, 14, 60 and
    // 1030 kB of shuffle.
    val budgets = Seq(
      "bigram_scores_documents" -> 2,
      "dsir_weights_documents" -> 2,
      "source_kl_documents" -> 1,
      "spandedup_documents" -> 3)
    def write(name: String): Unit =
      SparkEntry.queries(name)(spark, dir).write.format("noop").mode("overwrite").save()
    for ((name, maxJobs) <- budgets) {
      SparkEntry.clearCaches()
      write(name)
      val jobs = SparkTestBase.jobsOf(write(name))
      assert(jobs.groups.size <= maxJobs, s"$name ran ${jobs.groups.size} jobs, budget $maxJobs")
      assert(jobs.shuffleWriteBytes == 0, s"$name wrote ${jobs.shuffleWriteBytes} shuffle bytes")
    }
  }

  test("span dedup keeps the first occurrence for ids beyond 9.2e12") {
    val text = (1 to 10).map(i => s"w$i").mkString(" ")
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("text", StringType, nullable = true)))
    val ids  = Seq(10000000000000L, 10000000000001L)
    val docs = spark.createDataFrame(spark.sparkContext.parallelize(ids.map(Row(_, text)), 2), schema)
    val got = SpanDedup.spanDedup(docs).collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(got == Seq((ids(0), 10L, 10L, text), (ids(1), 10L, 0L, "")))
  }
}
