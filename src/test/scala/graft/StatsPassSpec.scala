package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.stats.StatsPass

/** Physical-plan-shape knobs of the measurement layer: expression batching,
  * the distinct/regex job split, approximate-distinct mode, and the
  * counts-only pass. Correctness of the measurements themselves is covered
  * by the oracle gate; these specs pin the invariants the batching must
  * preserve.
  */
class StatsPassSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  /** 12 columns — more than one regex batch (80/20 exprs → 4 cols/job) and
    * more than one distinct batch (8/job).
    */
  private lazy val wide = {
    val rows = (1 to 50).map { i =>
      (i, s"u$i@x.com", s"2023-01-${10 + i % 20}", i % 3, i.toDouble, s"T$i",
        i % 2 == 0, s"n$i", i * 2, s"c${i % 5}", s"v$i", i % 7)
    }
    rows.toDF("id", "email", "day", "grp", "amt", "code", "flag", "name", "dbl", "cat", "val", "mod")
  }

  test("batching preserves per-column results across batch boundaries") {
    val tight = StatsPass.compute(wide, StatsPass.Config(maxAggExprsPerJob = 21, maxDistinctPerJob = 3))
    val loose = StatsPass.compute(wide, StatsPass.Config(maxAggExprsPerJob = 1000, maxDistinctPerJob = 100))
    assert(tight.map(_.name) == wide.columns.toSeq)
    assert(tight == loose) // identical ColumnStats regardless of batch shape
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
      val groups = SparkTestBase.jobGroupsOf {
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
      }
      failure.foreach(throw _)
      assert(groups.nonEmpty)
      assert(groups.forall(_ == group), s"$group's jobs booked to ${groups.distinct.mkString(", ")}")
    }
  }
}
