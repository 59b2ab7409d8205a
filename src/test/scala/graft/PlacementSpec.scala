package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.types.{ArrayType, LongType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.similarity.KMeans

/** Both sides of [[Tables.widen]]'s size rule on the declared surface.
  * Every sf0.001 and sf0.01 input fits one task, so the other specs see
  * only the single-partition plans. Here `documents` and `embeddings` are
  * rewritten with an incompressible padding column to many times
  * [[Tables.TinyBytes]] ([[PlacementSpec.padded]]), which sends them, and
  * the shared `documents` artifact, down the spread path; each query must
  * return the rows it returns on the original tables. For
  * `ivf_centroids_embeddings` that compares the distributed k-means trainer
  * on the padded table with the one-partition trainer on the original.
  * `ExchangeBudgetSpec` budgets the exchanges of the spread plans.
  */
class PlacementSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private val dir = SurfacePlans.dir

  private def padded: String = PlacementSpec.padded

  /** The curation pass and the pair-producing dedup tiers. */
  private val names = Seq(
    "bigram_scores_documents", "curated_documents", "dedup_clusters_documents",
    "dsir_weights_documents", "ivf_centroids_embeddings", "source_kl_documents",
    "spandedup_documents", "dedup_exact_documents", "minhash_pairs_documents",
    "simhash_pairs_documents", "editdist_pairs_documents")

  /** Partition counts of the persisted leaves `name`'s plan reads. */
  private def leafPartitions(name: String, d: String): Set[Int] =
    SparkEntry.queries(name)(spark, d).queryExecution.analyzed.collectLeaves().collect {
      case r: LogicalRDD => r.rdd.getNumPartitions
    }.toSet

  /** Whether `df`'s plan puts an input in one partition: a `Coalesce 1`
    * over anything but a local relation. The trained centroids are such a
    * relation, sorted in one partition at any input size.
    */
  private def coalescesInput(df: DataFrame): Boolean =
    """Coalesce 1\n[ :]*\+- (?!(\*\(\d+\) )?LocalTableScan )""".r
      .findFirstIn(df.queryExecution.executedPlan.toString).isDefined

  /** Rows in a fixed order: ties of a query's own sort may come out in
    * either order on the two paths.
    */
  private def rows(df: DataFrame, cols: Seq[String]): Seq[String] =
    df.select(cols.map(c => df.col(s"`$c`")): _*).collect().toSeq.map(_.toString).sorted

  test("a padded table over the threshold is placed on the spread path") {
    for (t <- PlacementSpec.PaddedTables) {
      assert(!Tables.fitsOneTask(Tables.load(spark, padded, t)), t)
      assert(Tables.fitsOneTask(Tables.load(spark, dir, t)), t)
    }
    val width = spark.sparkContext.defaultParallelism
    assert(leafPartitions("bigram_scores_documents", padded) == Set(width))
    assert(leafPartitions("bigram_scores_documents", dir) == Set(1))
    // the IVF centroids train on the distributed path over padded embeddings
    def trainerWidth(d: String): Int =
      KMeans.trainingBase(Tables.load(spark, d, "embeddings")).rdd.getNumPartitions
    assert(trainerWidth(padded) == width)
    assert(trainerWidth(dir) == 1)
  }

  test("no consumer of the one-partition documents artifact coalesces its scan again") {
    val consumers = Seq("bigram_scores", "curated", "dedup_clusters", "dsir_top", "dsir_weights",
      "source_kl", "spandedup").map(_ + "_documents")
    val again = """Coalesce 1\n[ :]*\+- (\*\(\d+\) )?Scan ExistingRDD""".r
    for (name <- consumers) {
      val plan = SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString
      assert(again.findFirstIn(plan).isEmpty, s"$name coalesces the artifact again:\n$plan")
    }
  }

  test("every curation and pair query returns the same rows on both paths") {
    for (name <- names) {
      val small = SparkEntry.queries(name)(spark, dir)
      val large = SparkEntry.queries(name)(spark, padded)
      val want  = rows(small, small.columns.toSeq)
      assert(want.nonEmpty, s"$name is empty at $dir")
      assert(!coalescesInput(large), s"$name reads an input that fits one task on the padded dir")
      assert(rows(large, small.columns.toSeq) == want, s"$name differs on the spread path")
    }
  }
}

object PlacementSpec {

  /** The tables [[padded]] rewrites. */
  val PaddedTables: Seq[String] = Seq("documents", "embeddings")

  /** [[SurfacePlans.dir]] in a temp dir, with each of [[PaddedTables]]
    * given a `pad` column of random longs, 3 × [[Tables.TinyBytes]] per
    * table, and the other tables linked as they are; deleted when the JVM
    * exits. The pad is an array, whose estimated width is one element, so
    * a projection that keeps the text still estimates over the threshold.
    * The table itself stays under Spark's 10 MB broadcast threshold, and
    * under four 4 MB scan splits, so on the 4-core test session the scan
    * is narrow and the `documents` artifact is spread by `doc_id`, not left
    * as the plain scan.
    */
  lazy val padded: String = {
    val spark = SparkTestBase.spark
    val src   = SurfacePlans.dir
    val tmp   = java.nio.file.Files.createTempDirectory("graft-spread")
    val rnd   = new scala.util.Random(7)
    sys.addShutdownHook {
      val paths = java.nio.file.Files.walk(tmp) // does not follow the links
      try paths.sorted(java.util.Comparator.reverseOrder()).forEach(p => java.nio.file.Files.delete(p))
      finally paths.close()
    }
    for (f <- new java.io.File(src).listFiles().toSeq
         if !PaddedTables.contains(f.getName.stripSuffix(".parquet")))
      java.nio.file.Files.createSymbolicLink(tmp.resolve(f.getName), f.toPath)
    for (t <- PaddedTables) {
      val df   = Tables.load(spark, src, t)
      val rows = df.collect().toSeq
      val each = (3 * Tables.TinyBytes / 8 / rows.size).toInt + 1 // longs of 8 bytes
      val schema = StructType(df.schema.fields :+ StructField("pad", ArrayType(LongType, containsNull = false)))
      val withPad = rows.map(r => Row.fromSeq(r.toSeq :+ Seq.fill(each)(rnd.nextLong())))
      spark.createDataFrame(spark.sparkContext.parallelize(withPad, 1), schema)
        .write.parquet(tmp.resolve(s"$t.parquet").toString)
    }
    tmp.toString
  }
}
