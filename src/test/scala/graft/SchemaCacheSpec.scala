package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

import graft.io.Sources

/** The parquet schema cache behind `Sources.readParquet` and `Tables.load`:
  * a repeat read of unchanged files plans with no Spark job, a changed
  * parquet inference conf infers again and any other conf (AQE, say) does
  * not, and the reads it does not cache (globs) or caches
  * across a partitioned layout return what an uncached read returns.
  * Rewrites of a table are covered in `ProfileServerSpec`, which checks
  * `Tables.load` and `/profile` together.
  */
class SchemaCacheSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private val dir = SurfacePlans.dir

  private def rows(df: DataFrame): Seq[String] = df.collect().toSeq.map(_.toString).sorted

  test("a repeat load of unchanged files runs no Spark job") {
    for (t <- Seq("region", "orders", "events")) {
      val first = Tables.load(spark, dir, t)
      var again: DataFrame = null
      val jobs = SparkTestBase.jobsOf { again = Tables.load(spark, dir, t) }.groups
      assert(jobs.isEmpty, s"$t: a repeat load ran ${jobs.size} jobs")
      assert(again.schema == first.schema, t)
    }
  }

  test("a changed SQL conf infers the schema again") {
    val key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    val prev = spark.conf.getOption(key)
    def orderDate() = Tables.load(spark, dir, "orders").schema("o_orderdate").dataType
    assert(orderDate() == TimestampNTZType)
    assert(orderDate() == TimestampNTZType) // now served from the cache
    spark.conf.set(key, "false")
    try assert(orderDate() == TimestampType)
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    assert(orderDate() == TimestampNTZType)
  }

  /** A new session with every runtime conf of [[spark]]. */
  private def sameConf() = {
    val clone = spark.newSession()
    for ((k, v) <- spark.conf.getAll if spark.conf.isModifiable(k)) clone.conf.set(k, v)
    clone
  }

  test("a session clone that differs only in AQE reuses the cached schema") {
    val clone = sameConf()
    clone.conf.set("spark.sql.adaptive.enabled", (!spark.conf.get("spark.sql.adaptive.enabled").toBoolean).toString)
    val first = Tables.load(spark, dir, "embeddings")
    var again: DataFrame = null
    val jobs = SparkTestBase.jobsOf { again = Tables.load(clone, dir, "embeddings") }.groups
    assert(jobs.isEmpty, s"the clone's load ran ${jobs.size} jobs")
    assert(again.schema == first.schema)
  }

  test("a session clone that differs in a parquet inference conf infers again") {
    val clone = sameConf()
    clone.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    // lineitem: the test above cached orders under this conf
    Tables.load(spark, dir, "lineitem")
    var again: DataFrame = null
    val jobs = SparkTestBase.jobsOf { again = Tables.load(clone, dir, "lineitem") }.groups
    assert(jobs.nonEmpty, "the clone's load reused a schema inferred under another inference conf")
    assert(again.schema("l_shipdate").dataType == TimestampType)
  }

  test("a glob path returns what an uncached read returns") {
    val glob = s"$dir/region*.parquet"
    val uncached = spark.read.parquet(glob)
    for (_ <- 1 to 2) {
      val df = Sources.readParquet(spark, glob)
      assert(df.schema == uncached.schema)
      assert(rows(df) == rows(uncached))
    }
    assert(rows(uncached).size == 5)
  }

  test("a hive-partitioned directory reads the same twice, partition columns last") {
    val path = java.nio.file.Files.createTempDirectory("graft-partitioned").resolve("nation.parquet").toString
    Tables.load(spark, dir, "nation").write.partitionBy("n_regionkey").parquet(path)
    val first = Sources.readParquet(spark, path)
    var second: DataFrame = null
    val jobs = SparkTestBase.jobsOf { second = Sources.readParquet(spark, path) }.groups
    assert(jobs.isEmpty, s"the repeat read ran ${jobs.size} jobs")
    assert(second.schema == first.schema)
    assert(first.schema.fieldNames.toSeq == Seq("n_nationkey", "n_name", "n_regionkey"))
    assert(rows(second) == rows(first))
    assert(rows(first) == rows(spark.read.parquet(path)))
    assert(rows(first).size == 25)
    assert(second.where("n_regionkey = 1").collect().map { case Row(_, _, r: Int) => r }.toSeq == Seq.fill(5)(1))
  }
}
