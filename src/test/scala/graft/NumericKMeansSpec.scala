package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.similarity.{KMeans, SimilarityOps}
import graft.stats.NumericStats

/** Round-3 numeric envelope / histogram / k-means training. Cross-engine
  * agreement of the declared numstats/hist queries is covered by the oracle
  * gate; these assert the semantics, the training-quality claim and the
  * agreement of the two k-means trainer paths. `PlacementSpec` compares the
  * declared centroids over padded `embeddings`, which train on the
  * distributed path.
  */
class NumericKMeansSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  test("numericStats: exact envelope on a known frame, nulls excluded from count") {
    val df = Seq(
      (Some(1L), Some(2.5)),
      (Some(5L), None),
      (None, Some(-1.25)),
      (Some(3L), Some(0.75))
    ).toDF("a", "b")
    val rows = NumericStats.numericStats(df, Seq("a", "b")).collect()
      .map(r => r.getString(0) -> r).toMap
    val a = rows("a")
    assert(a.getAs[Long]("n_nonnull") == 3L)
    assert(a.getAs[Double]("min_v") == 1.0 && a.getAs[Double]("max_v") == 5.0)
    assert(a.getAs[String]("sum_str") == "9.000000")
    val b = rows("b")
    assert(b.getAs[Long]("n_nonnull") == 3L)
    assert(b.getAs[Double]("min_v") == -1.25 && b.getAs[Double]("max_v") == 2.5)
    assert(b.getAs[String]("sum_str") == "2.000000")
  }

  test("histogram: fixed-width buckets partition the rows, nulls dropped") {
    val df = Seq(Some(0.0), Some(4.99), Some(5.0), Some(12.0), Some(-0.01), None)
      .toDF("x")
    val h = NumericStats.histogram(df, "x", 5.0).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(h == Map(-1L -> 1L, 0L -> 2L, 1L -> 1L, 2L -> 1L))
  }

  test("histogram counts sum to non-null rows on real data") {
    val li = Tables.load(spark, "/root/testdata/sf0.001", "lineitem")
    val total = NumericStats.histogram(li, "l_extendedprice", 5000.0)
      .agg(org.apache.spark.sql.functions.sum("n")).first().getLong(0)
    assert(total == li.where(li("l_extendedprice").isNotNull).count())
  }

  test("quantiles: sort-based plan matches the percentile aggregate on real data") {
    val li = Tables.load(spark, "/root/testdata/sf0.001", "lineitem")
    val qs = Seq(0.25, 0.5, 0.75, 0.95)
    val cols = Seq("l_quantity", "l_extendedprice")
    val got = NumericStats.quantiles(li, cols, qs).collect()
      .map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    // reference: Spark's own buffering percentile aggregate (the pre-r7 plan)
    val expected = cols.flatMap { c =>
      val arr = li.selectExpr(s"percentile(`$c`, array(${qs.mkString(", ")}))").first()
        .getSeq[Double](0)
      qs.zip(arr).map { case (q, v) =>
        (c, q) -> BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      }
    }.toMap
    assert(got == expected, s"got $got\nexpected $expected")
  }

  test("quantiles: interpolation, duplicates, and all-null column edge cases") {
    val df = Seq(
      (Some(1.0), None: Option[Double]),
      (Some(2.0), None),
      (Some(2.0), None),
      (Some(10.0), None)
    ).toDF("a", "b")
    val rows = NumericStats.quantiles(df, Seq("a", "b"), Seq(0.0, 0.5, 1.0)).collect()
      .map(r => (r.getString(0), r.getDouble(1)) -> (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    // a sorted = [1, 2, 2, 10]: q0 → 1, q0.5 → (n−1)·q = 1.5 → 2+0.5·(2−2) = 2, q1 → 10
    assert(rows(("a", 0.0)) == Some(1.0))
    assert(rows(("a", 0.5)) == Some(2.0))
    assert(rows(("a", 1.0)) == Some(10.0))
    // all-null column → null quantiles (percentile convention)
    assert(Seq(0.0, 0.5, 1.0).forall(q => rows(("b", q)).isEmpty))
  }

  test("kmeans: training improves quantization quality over first-K centroids") {
    // clustered fixture: trained centroids must fit the clusters better than
    // the first-16 vectors (which all come from clusters 0-2 + noise)
    val rnd = new scala.util.Random(7)
    def unit(): Array[Float] = Array.fill(SimilarityOps.Dim)((rnd.nextDouble() - 0.5).toFloat)
    val rows = (0 until 8).flatMap { c =>
      val center = unit()
      (0 until 10).map { m =>
        val v = center.map(x => x + (rnd.nextDouble() * 0.02 - 0.01).toFloat)
        ((c * 10 + m).toLong, v, c)
      }
    }
    val emb = rows.toDF("vec_id", "embedding", "label")
    val init    = KMeans.firstKCentroids(emb, k = 8)
    val trained = KMeans.trainCentroids(emb, k = 8, iters = 5)
    val qInit    = KMeans.assignmentQuality(emb, init)
    val qTrained = KMeans.assignmentQuality(emb, trained)
    assert(qTrained > qInit, s"trained $qTrained vs init $qInit")
    assert(qTrained > 0.95, s"clusters are tight; trained centroids should fit: $qTrained")
  }

  test("kmeans: deterministic across runs") {
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val a = KMeans.trainCentroids(emb, k = 4, iters = 2)
    val b = KMeans.trainCentroids(emb, k = 4, iters = 2)
    assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq)
  }

  test("kmeans: the one-partition and the distributed trainer agree on an adversarial corpus") {
    val schema = StructType(Seq(
      StructField("vec_id", LongType, nullable = false),
      StructField("embedding", ArrayType(FloatType, containsNull = true), nullable = true)))
    // a zero vector, a null vector, a null element, duplicate directions
    // whose cosine scores tie, and k = 8 over 7 seedable vectors in 5
    // directions, so seeding repeats a seed and the repeats' cells stay empty
    val rows = Seq[Row](
      Row(0L, Seq(1f, 0f, 0f, 0f)),
      Row(1L, Seq(1f, 0f, 0f, 0f)),
      Row(2L, Seq(0f, 1f, 0f, 0f)),
      Row(3L, Seq(0f, 0.5f, 0f, 0f)),
      Row(4L, Seq(0f, 0f, 0f, 0f)),
      Row(5L, null),
      Row(6L, Seq(0.25f, null, 0.75f, 0f)),
      Row(7L, Seq(0f, 0f, 1f, 0f)),
      Row(8L, Seq(-1f, 0f, 0f, 0f)))
    def onePartition(rs: Seq[Row]): DataFrame = spark.createDataFrame(rs.asJava, schema)
    // built from an RDD, the frame has no size estimate, so it is spread
    def spread(rs: Seq[Row]): DataFrame =
      spark.createDataFrame(spark.sparkContext.parallelize(rs, 3), schema)
    assert(KMeans.trainingBase(onePartition(rows)).rdd.getNumPartitions == 1)
    assert(KMeans.trainingBase(spread(rows)).rdd.getNumPartitions > 1)

    def train(df: DataFrame): Seq[Seq[Double]] =
      SimilarityOps.canonicalizeCentroids(KMeans.trainCentroids(df, k = 8, iters = 3))
        .map(_.toSeq).toSeq
    val small = train(onePartition(rows))
    assert(small.size == 7)
    // id 6 seeds three cells (its self-cosine rounds below 1); it fills one,
    // whose null-only component means to 0, and the two empty ones keep it
    assert(small.count(_ == Seq(0.25, 0.0, 0.75, 0.0)) == 3, small)
    assert(small == train(spread(rows)))

    val allZero = Seq[Row](Row(0L, Seq(0f, 0f)), Row(1L, null), Row(2L, Seq(0f, null)))
    for (df <- Seq(onePartition(allZero), spread(allZero))) {
      val e = intercept[IllegalArgumentException](KMeans.trainCentroids(df))
      assert(e.getMessage.contains("farthestPointInit: no non-zero vectors to seed from"))
    }
  }

  test("corrEnvelope: exact decimal sums over pairwise-complete rows") {
    val df = Seq(
      (Some(1.0), Some(2.0)),
      (Some(2.5), Some(5.0)),
      (Some(4.0), None), // not pairwise-complete → excluded from every sum
      (None, Some(9.0))
    ).toDF("x", "y")
    val r = NumericStats.corrEnvelope(df, Seq(("x", "y"))).collect().head
    assert(r.getAs[Long]("n") == 2L)
    assert(BigDecimal(r.getAs[String]("sum_x")) == BigDecimal("3.5"))
    assert(BigDecimal(r.getAs[String]("sum_y")) == BigDecimal("7.0"))
    assert(BigDecimal(r.getAs[String]("sum_xx")) == BigDecimal("7.25"))   // 1 + 6.25
    assert(BigDecimal(r.getAs[String]("sum_yy")) == BigDecimal("29.0"))   // 4 + 25
    assert(BigDecimal(r.getAs[String]("sum_xy")) == BigDecimal("14.5"))   // 2 + 12.5
  }

  test("winsorizedStats: clip counts and clipped exact sum at the quantile bounds") {
    // values 1..10: p05 = 1.45, p95 = 9.55 (the (n−1)q convention)
    val df = (1 to 10).map(_.toDouble).toDF("v")
    val r = NumericStats.winsorizedStats(df, Seq("v")).collect().head
    assert(r.getAs[Double]("lo_r") == 1.45 && r.getAs[Double]("hi_r") == 9.55)
    assert(r.getAs[Long]("n_nonnull") == 10L)
    assert(r.getAs[Long]("n_below") == 1L && r.getAs[Long]("n_above") == 1L)
    // clipped sum: 1.45 + (2..9) + 9.55 = 55 − 1 − 10 + 1.45 + 9.55 = 55.0
    assert(BigDecimal(r.getAs[String]("winsorized_sum")) == BigDecimal("55.0"))
  }

  test("groupQuantiles: matches the per-group percentile aggregate, all-null groups yield null") {
    val li = Tables.load(spark, "/root/testdata/sf0.001", "lineitem")
    val qs = Seq(0.25, 0.5, 0.75, 0.95)
    val got = NumericStats.groupQuantiles(li, "l_returnflag", Seq("l_quantity", "l_extendedprice"), qs)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2)) -> r.getDouble(3))
      .toMap
    for (c <- Seq("l_quantity", "l_extendedprice")) {
      val exp = li
        .groupBy("l_returnflag")
        .agg(org.apache.spark.sql.functions.expr(
          s"percentile(CAST($c AS DOUBLE), array(${qs.mkString(", ")}))").as("p"))
        .collect()
      assert(exp.nonEmpty)
      for (r <- exp; (q, i) <- qs.zipWithIndex) {
        val want = BigDecimal(r.getAs[Seq[Double]]("p")(i))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        assert(got((r.getString(0), c, q)) == want, s"grp=${r.getString(0)} $c q=$q")
      }
    }
    // a group whose column is entirely null reports null, not a crash or 0
    val withNulls = Seq(("a", Some(1.0)), ("a", Some(3.0)), ("b", None), ("b", None))
      .toDF("g", "v")
    val gq = NumericStats.groupQuantiles(withNulls, "g", Seq("v"), Seq(0.5)).collect()
      .map(r => r.getString(0) -> (if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    assert(gq("a") == Some(2.0) && gq("b").isEmpty)
  }
}
