package graft

import org.apache.spark.sql.{DataFrame, GraftPersist, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.curation.Curation
import graft.text.{SpanDedup, TextOps}

/** The one-pass curation scorers on an adversarial corpus, on both sides of
  * [[Tables.widen]]'s rule: a one-partition frame (as the shared
  * `documents` artifact is) and the same rows rebuilt from a three-partition
  * RDD, which carries no size estimate and so takes the spread path.
  *  - `SpanDedup.spanDedup`, one window over the spans, equals its DuckDB
  *    twin `oracleSpanDedup`.
  *  - `Curation.curatedDocuments`, one projection over one read, equals
  *    the join of the `TextOps.quality` and `TextOps.langId` outputs with
  *    the cluster survivors.
  *
  * On the declared `curated_documents` plan, each per-row text expression
  * runs in one operator: Catalyst must not copy the projection into a filter
  * below it.
  */
class CurationEqualitySpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private val schema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType, nullable = true),
    StructField("lang", StringType, nullable = true),
    StructField("source", StringType, nullable = true),
    StructField("n_chars", LongType, nullable = true)))

  private val eight = "a b c d e f g h"
  private val eleven = "p q r s t u v w x y z"
  private val en = "the cat sat on a mat and the dog is of the house near the river bank with a big tree today"

  /** (doc_id, text). Each span-dedup edge has a row: a span repeated inside
    * one document (1), overlapping cuts and a fully covered document (3, 4),
    * fewer than 8 tokens (5), a NULL text (6), an empty text (7), a
    * duplicate only after simple case folding (8). The rest vary the quality
    * class and the language, including a tie broken by priority (12), no
    * marker (13) and punctuation past the ratio (14).
    */
  private val texts: Seq[(Long, String)] = Seq(
    1L -> s"$eight x $eight",
    2L -> s"$eight y z",
    3L -> eleven,
    4L -> eleven,
    5L -> "short text here",
    6L -> null,
    7L -> "",
    8L -> "İ A B C D E F G H",
    9L -> en,
    10L -> "der hund und die katze ist das tier im haus",
    11L -> "el perro y las gatas es los amigos del barrio",
    12L -> "le chat et la souris der hund und die katze",
    13L -> "xx yy zz ww vv uu tt",
    14L -> s"$en !!! ??? ### $$$$$$ %%% ^^^ &&& *** ((( ))) [[[ ]]] {{{ }}}",
    15L -> "的 是 了 在 和 中文 文本 测试 样例 句子",
    9007199254740993L -> s"$en the end")

  private lazy val onePartition: DataFrame = {
    val rows = texts.map { case (id, t) =>
      Row(id, t, "en", "web", Option(t).map(_.length.toLong).getOrElse(0L))
    }
    GraftPersist(spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema).coalesce(1))
  }

  private lazy val spread: DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(onePartition.collect().toSeq, 3), schema)

  private def frames: Seq[(String, DataFrame)] = Seq("one partition" -> onePartition, "spread" -> spread)

  private def rows(df: DataFrame): Seq[String] = df.collect().toSeq.map(_.toString)

  test("the two frames take the two sides of the placement rule") {
    assert(Tables.widen(onePartition) eq onePartition)
    assert(onePartition.rdd.getNumPartitions == 1)
    assert(Tables.widen(spread).rdd.getNumPartitions == spark.sparkContext.defaultParallelism)
  }

  test("span dedup equals its DuckDB twin on both paths") {
    val dir = java.nio.file.Files.createTempDirectory("graft-spans")
    onePartition.write.parquet(dir.resolve("documents.parquet").toString)
    val want = duckdb(dir.resolve("documents.parquet").toString, SpanDedup.oracleSpanDedup())
    assume(want.nonEmpty, "python3 with duckdb is not on this box")
    assert(want.get.size == texts.size)
    for ((name, df) <- frames) {
      val got = SpanDedup.spanDedup(df).collect().toSeq.map { r =>
        Seq(r.get(0), r.get(1), r.get(2), r.get(3)).map(v => if (v == null) "NULL" else v.toString).mkString("\t")
      }
      assert(got == want.get, s"span dedup on the $name frame")
    }
  }

  test("span dedup cuts the adversarial rows as specified") {
    val got = SpanDedup.spanDedup(onePartition).collect().map(r => r.getLong(0) -> r).toMap
    def kept(id: Long): (Any, Long, String) = (got(id).get(1), got(id).getLong(2), got(id).getString(3))
    assert(kept(1) == (17L, 9L, s"$eight x")) // the repeat inside the document
    assert(kept(2) == (10L, 2L, "y z"))
    assert(kept(3) == (11L, 11L, eleven))
    assert(kept(4) == (11L, 0L, "")) // overlapping cuts cover every token
    assert(kept(5) == (3L, 3L, "short text here"))
    assert(kept(6) == (null, 0L, ""))
    assert(kept(7) == (1L, 1L, ""))
    assert(kept(8) == (9L, 1L, "i"))
  }

  test("curated documents equals the join of the quality and language outputs") {
    // survivors: every document its own cluster, except 4 (in 3's) and 10
    // (in 9's)
    val clusters = spark.createDataFrame(texts.map { case (id, _) =>
      (id, if (id == 4L) 3L else if (id == 10L) 9L else id)
    }).toDF("doc_id", "cluster_id")
    for ((name, df) <- frames) {
      val q = TextOps.quality(df).select(col("doc_id"), col("n_tokens"), col("quality_class"))
      val l = TextOps.langId(df).select(col("doc_id").as("l_doc_id"), col("lang"), col("pred_lang"))
      val survivors = clusters.where(col("cluster_id") === col("doc_id")).select(col("doc_id").as("c_doc_id"))
      val want = q.join(l, q("doc_id") === l("l_doc_id"))
        .join(survivors, q("doc_id") === survivors("c_doc_id"))
        .where(col("quality_class") =!= "poor" && col("pred_lang") =!= "und")
        .select(col("doc_id"), col("lang"), col("pred_lang"), col("quality_class"), col("n_tokens"))
        .orderBy("doc_id")
      val got = Curation.curatedDocuments(df, clusters)
      assert(got.schema == want.schema, name)
      assert(rows(got) == rows(want), s"curated documents on the $name frame")
      assert(rows(got).size >= 5, s"$name keeps too few rows to test the filter")
    }
  }

  test("each per-row text expression of curated documents runs in one operator") {
    val plan = SparkEntry.queries("curated_documents")(spark, SurfacePlans.dir).queryExecution.executedPlan.toString
    val operators = plan.split("\n").toSeq // one operator a line
    for (e <- Seq("""regexp_extract_all\(text#\d+, \[\^ \]\+, 0\)""",
                  """regexp_extract_all\(text#\d+, \[\^A-Za-z0-9 \], 0\)""",
                  """split\(lower\(translate\(text#\d+""")) {
      val in = operators.count(o => e.r.findFirstIn(o).isDefined)
      assert(in == 1, s"$e appears in $in operators:\n$plan")
    }
  }

  /** The rows of `sql` run by DuckDB with `documents` read from `path`, one
    * tab-separated line per row (NULL for a null), or None when no python3
    * with the duckdb module can run.
    */
  private def duckdb(path: String, sql: String): Option[Seq[String]] = {
    val script =
      """import sys
        |import duckdb
        |con = duckdb.connect()
        |con.execute("CREATE VIEW documents AS SELECT * FROM read_parquet('" + sys.argv[1] + "')")
        |for row in con.execute(sys.stdin.read()).fetchall():
        |    print("\t".join("NULL" if v is None else str(v) for v in row))
        |""".stripMargin
    val pb = new ProcessBuilder("python3", "-c", script, s"$path/*.parquet")
    pb.environment().put("PYTHONIOENCODING", "utf-8")
    val proc = scala.util.Try(pb.start()).toOption
    proc.flatMap { p =>
      p.getOutputStream.write(sql.getBytes("UTF-8"))
      p.getOutputStream.close()
      val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
      val err = new String(p.getErrorStream.readAllBytes(), "UTF-8")
      if (p.waitFor() == 0) Some(out.split("\n").toSeq.filter(_.nonEmpty))
      else if (err.contains("No module named")) None
      else fail(s"duckdb failed: ${err.take(500)}")
    }
  }
}
