package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType
import org.scalatest.funsuite.AnyFunSuite

import graft.model.ColumnStats
import graft.pattern.PatternRules
import graft.stats.StatsPass

/** The measurement layer: the grouped pass against a per-row reference,
  * batching, generated-code stability, approximate-distinct mode, and the
  * counts-only pass. The oracle gate covers the declared profile queries;
  * these specs pin the invariants the grouped pass must preserve.
  */
class StatsPassSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val dir = SurfacePlans.dir

  /** 12 columns — more than one grouped pass (8 columns each). */
  private lazy val wide = {
    val rows = (1 to 50).map { i =>
      (i, s"u$i@x.com", s"2023-01-${10 + i % 20}", i % 3, i.toDouble, s"T$i",
        i % 2 == 0, s"n$i", i * 2, s"c${i % 5}", s"v$i", i % 7)
    }
    rows.toDF("id", "email", "day", "grp", "amt", "code", "flag", "name", "dbl", "cat", "val", "mod")
  }

  /** The per-row reference: one column at a time, [[StatsPass.patternAggsFor]]
    * plus a single-column `count_distinct` (one distinct aggregate plans
    * without an `Expand`). Maps are distinct-counted on their rendering.
    */
  private def reference(df: DataFrame): Seq[ColumnStats] =
    df.schema.fields.toSeq.zipWithIndex.map { case (f, i) =>
      val c = col(s"`${f.name}`")
      val target = f.dataType match {
        case _: MapType => c.cast("string")
        case _          => c
      }
      val aggs = count(lit(1)).as("total") +: count_distinct(target).as("uniq") +:
        StatsPass.patternAggsFor(f, i, StatsPass.Config())
      val r = df.agg(aggs.head, aggs.tail: _*).collect()(0)
      def get(n: String): Long = {
        val x = r.fieldIndex(n)
        if (r.isNullAt(x)) 0L else r.getLong(x)
      }
      ColumnStats(f.name, get("total"), get(s"c${i}__nn"), get("uniq"),
        PatternRules.measuredPatterns.map(p => p.key -> get(s"c${i}__${p.key}")).toMap)
    }

  private def assertMatchesReference(df: DataFrame, what: String): Unit = {
    val ref = reference(df)
    assert(StatsPass.compute(df) == ref, what)
    assert(StatsPass.computeBasic(df) == ref.map(_.copy(patternMatches = Map.empty)), what)
  }

  /** The two exact passes at the default config, by name. */
  private val passes = Seq[(String, DataFrame => Seq[ColumnStats])](
    "compute" -> (df => StatsPass.compute(df)),
    "computeBasic" -> (df => StatsPass.computeBasic(df))
  )

  private lazy val sf0001Tables: Seq[String] = {
    val tables = new java.io.File(dir).list().toSeq.filter(_.endsWith(".parquet")).map(_.stripSuffix(".parquet"))
    assert(tables.size >= 10)
    tables.sorted
  }

  test("grouped pass equals the per-row reference on every sf0.001 table") {
    for (t <- sf0001Tables) assertMatchesReference(Tables.load(spark, dir, t), t)
  }

  test("the widened path equals the single-partition path on every sf0.001 table") {
    // every test table is tiny; tinyScanBytes = -1 sends each one through Tables.widen
    val widened = StatsPass.Config(tinyScanBytes = -1)
    for (t <- sf0001Tables) {
      val df = Tables.load(spark, dir, t)
      assert(StatsPass.compute(df, widened) == StatsPass.compute(df), t)
      assert(StatsPass.computeBasic(df, widened) == StatsPass.computeBasic(df), t)
    }
  }

  test("a tiny input runs one job per batch of 8 columns and shuffles nothing") {
    val lineitem = Tables.load(spark, dir, "lineitem")
    assert((lineitem.columns.length + 7) / 8 == 2) // two batches
    for ((name, pass) <- passes) {
      val jobs = SparkTestBase.jobsOf(pass(lineitem))
      assert(jobs.groups.size == 2, s"$name ran ${jobs.groups.size} jobs")
      assert(jobs.shuffleWriteBytes == 0L, s"$name wrote ${jobs.shuffleWriteBytes} shuffle bytes")
    }
  }

  test("grouped pass equals the per-row reference on signed zeros, NaN, decimals, dates, maps and vectors") {
    val df = spark.sql(
      """select * from values
        |  (cast('-0.0' as double), cast('-0.0' as float), 1.10bd, date'2023-01-15', '', map('a', 1), array(0.5f, -0.0f)),
        |  (0.0d, 0.0f, 1.10bd, date'2023-01-15', '', map('a', 1), array(0.5f, -0.0f)),
        |  (cast('-0.0' as double), 2.5f, -3.25bd, date'1999-12-31', 'AB', map('b', 2), array(1.0f)),
        |  (cast('NaN' as double), cast('NaN' as float), null, null, 'x', null, null),
        |  (-cast('NaN' as double), null, 7bd, date'2023-01-16', null, map(), array()),
        |  (null, null, null, null, null, null, null),
        |  (12.0d, 12.0f, 12bd, date'2023-01-15', '12', map('a', 1, 'b', 2), array(0.0f))
        |as t(d, f, dec, dt, s, m, emb)""".stripMargin)
    assertMatchesReference(df, "mixed types")
    val d = StatsPass.compute(df).find(_.name == "d").get
    assert(d.nonNullCount == 6 && d.uniqueCount == 3) // ±0.0 one value, NaNs one value
  }

  test("no measured pattern tells the renderings 0.0 and -0.0 apart (grouping normalizes -0.0)") {
    for (p <- PatternRules.measuredPatterns)
      assert(p.regex.r.findFirstIn("0.0").isDefined == p.regex.r.findFirstIn("-0.0").isDefined, p.key)
  }

  test("grouped pass equals the per-row reference across batches and on a 0-row frame") {
    assertMatchesReference(wide, "wide")
    val none = wide.filter(lit(false))
    assertMatchesReference(none, "0 rows")
    val stats = StatsPass.compute(none)
    assert(stats.map(_.name) == wide.columns.toSeq)
    assert(stats.forall(s => s.totalRows == 0 && s.nonNullCount == 0 && s.uniqueCount == 0 &&
      s.patternMatches.size == PatternRules.measuredPatterns.size && s.patternMatches.values.forall(_ == 0)))
  }

  test("an ungroupable VARIANT column is measured on its rendering and does not abort its neighbour") {
    val df = spark.sql("""select 1 as id, parse_json('{"a":1}') as v""")
    val idRef = reference(df.select("id")).head
    val full  = StatsPass.compute(df)
    val basic = StatsPass.computeBasic(df)
    assert(full.map(_.name) == Seq("id", "v") && basic.map(_.name) == Seq("id", "v"))
    assert(full.head == idRef && basic.head == idRef.copy(patternMatches = Map.empty))
    for (v <- Seq(full(1), basic(1)))
      assert((v.totalRows, v.nonNullCount, v.uniqueCount) == ((1L, 1L, 1L)))
  }

  test("a repeat profile of a fresh load of the same table compiles no new code") {
    def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    for ((name, pass) <- passes) {
      pass(Tables.load(spark, dir, "lineitem"))
      val before = compiles
      pass(Tables.load(spark, dir, "lineitem"))
      assert(compiles == before, s"$name compiled ${compiles - before} new classes on a repeat")
    }
  }

  test("batching preserves per-column results across batch boundaries") {
    val tight = StatsPass.compute(wide, StatsPass.Config(maxDistinctPerJob = 3))
    val loose = StatsPass.compute(wide, StatsPass.Config(maxDistinctPerJob = 100))
    assert(tight.map(_.name) == wide.columns.toSeq)
    assert(tight == loose) // identical ColumnStats regardless of batch shape
    assert(StatsPass.computeBasic(wide, StatsPass.Config(maxDistinctPerJob = 3)) ==
      StatsPass.computeBasic(wide, StatsPass.Config(maxDistinctPerJob = 100)))
  }

  test("approximate-distinct mode fills uniqueCount without Expand, within rsd") {
    val exact  = StatsPass.computeBasic(wide, StatsPass.Config(exactDistinct = true))
    val approx = StatsPass.computeBasic(wide, StatsPass.Config(exactDistinct = false, approxRsd = 0.05))
    for ((e, a) <- exact.zip(approx)) {
      assert(a.name == e.name)
      assert(math.abs(a.uniqueCount - e.uniqueCount) <= math.max(2, (e.uniqueCount * 0.15).toLong),
        s"${e.name}: approx ${a.uniqueCount} vs exact ${e.uniqueCount}")
    }
  }

  test("computeBasic matches compute on counts and skips pattern work") {
    val basic = StatsPass.computeBasic(wide)
    val full  = StatsPass.compute(wide)
    for ((b, f) <- basic.zip(full)) {
      assert(b.totalRows == f.totalRows && b.nonNullCount == f.nonNullCount && b.uniqueCount == f.uniqueCount)
      assert(b.patternMatches.isEmpty && f.patternMatches.nonEmpty)
    }
  }

  test("native pattern-bank expression agrees with the rlike formulation") {
    val df = Seq(
      ("a@b.com", "2023-01-15", "5551234567", Some(42), "AB"),
      ("not-mail", "01/15/2023", "x", None, "toolong"),
      ((null: String), "January 5, 2023", "+15551234567", Some(-7), "C9")
    ).toDF("mail", "dt", "ph", "num", "code")
    val native = StatsPass.compute(df, StatsPass.Config(nativePatternBank = true))
    val rlike  = StatsPass.compute(df, StatsPass.Config(nativePatternBank = false))
    assert(native == rlike)
    // spot-check a few known matches
    val mail = native.find(_.name == "mail").get
    assert(mail.patternMatches("email_1") == 1 && mail.patternMatches("email_2") == 1)
    val dt = native.find(_.name == "dt").get
    assert(dt.patternMatches("date_iso") == 1 && dt.patternMatches("date_mdy") == 1
      && dt.patternMatches("date_month_name") == 1)
  }

  test("S3 sample capture: first-K non-null stringified values in table order") {
    val df = Seq(
      (1, Some("a")), (2, None), (3, Some("c")), (4, Some("d")), (5, Some("e")),
      (6, Some("f")), (7, Some("g"))
    ).toDF("id", "v").coalesce(1) // single partition pins "table order"
    val stats = StatsPass.compute(
      df,
      StatsPass.Config(withSamples = true, sampleK = 3, autoRepartition = false)
    )
    val v = stats.find(_.name == "v").get
    assert(v.sampleValues == Seq("a", "c", "d")) // nulls skipped, first 3
    val id = stats.find(_.name == "id").get
    assert(id.sampleValues == Seq("1", "2", "3")) // stringified
  }

  test("S5 classification counters track processed columns and failures") {
    val engine = new graft.engine.ProfilerEngine()
    engine.analyzeDataFrame(wide)
    val s1 = engine.classificationStats
    assert(s1("total_columns_analyzed") == wide.columns.length)
    assert(s1("successful_classifications") == wide.columns.length)
    assert(s1("failed_classifications") == 0)
    engine.analyzeDataFrame(wide) // counters accumulate across calls
    assert(engine.classificationStats("total_columns_analyzed") == 2L * wide.columns.length)
  }

  test("empty and zero-column frames survive every path") {
    val empty = spark.emptyDataFrame
    assert(StatsPass.compute(empty).isEmpty)
    assert(StatsPass.computeBasic(empty).isEmpty)
  }

  test("measurement jobs book to their caller's job group, whatever pool thread runs them") {
    val sc = spark.sparkContext
    for (g <- Seq("g1", "g2", "g3")) {
      val group = s"statspass-$g"
      @volatile var failure: Option[Throwable] = None
      val groups = SparkTestBase.jobsOf {
        // a fresh thread per call: the global pool's workers were created by
        // some other thread, under some other (or no) job group
        val t = new Thread(() =>
          try {
            sc.setJobGroup(group, group)
            StatsPass.compute(wide)
            StatsPass.computeBasic(wide)
          } catch { case e: Throwable => failure = Some(e) })
        t.start()
        t.join()
      }.groups
      failure.foreach(throw _)
      assert(groups.nonEmpty)
      assert(groups.forall(_ == group), s"$group's jobs booked to ${groups.distinct.mkString(", ")}")
    }
  }
}
