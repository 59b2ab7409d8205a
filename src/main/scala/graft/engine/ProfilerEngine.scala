package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.model._
import graft.pattern.PatternRules
import graft.stats.StatsPass

/** Flat, DataFrame-friendly rendering of a [[graft.model.ColumnProfile]].
  *
  * Field names are snake_case because they are the declared oracle contract:
  * the driver hash-compares Spark parquet output against DuckDB SQL output
  * column-by-column after sorting columns by name, so these names appear
  * verbatim in `graft.engine.OracleGen`'s generated SQL.
  *
  * Deliberately excluded (reported elsewhere, never hashed): sample_values
  * (ordering is engine-specific, SURVEY.md §2.1 S3), processing_time,
  * data_quality_notes / suggested_improvements (AI-path fields, empty here).
  */
final case class ProfileRow(
    column_name: String,
    suggested_name: String,
    data_type: String,
    is_primary_key: Boolean,
    is_business_key: Boolean,
    pii_level: String,
    total_rows: Long,
    null_count: Long,
    unique_count: Long,
    null_ratio: Double,
    unique_ratio: Double,
    confidence_score: Double,
    business_meaning: String
)

/** The pattern-based profiling engine (reference: `PatternClassifier`,
  * `pattern_classifier.py:18-137`, rebuilt per SURVEY.md §3.3/§4.3).
  *
  * One grouped pass per 8 columns measures the table
  * ([[graft.stats.StatsPass]]); the decision cascade
  * ([[graft.pattern.PatternRules]]) then runs driver-side on one collected
  * stats row per column. Driver work is O(columns), never O(rows).
  */
class ProfilerEngine(val statsConfig: StatsPass.Config = StatsPass.Config()) {

  // AtomicLong (not @volatile read-modify-write): ProfileServer serves
  // concurrent requests against one engine, and += on a @volatile loses
  // increments under contention
  import java.util.concurrent.atomic.AtomicLong
  private val totalColumnsAnalyzed      = new AtomicLong
  private val successfulClassifications = new AtomicLong
  private val failedClassifications     = new AtomicLong

  /** Mutable counters mirroring `BaseClassifier.classification_stats`
    * (`base.py:115-119`).
    */
  def classificationStats: Map[String, Long] = Map(
    "total_columns_analyzed"     -> totalColumnsAnalyzed.get,
    "successful_classifications" -> successfulClassifications.get,
    "failed_classifications"     -> failedClassifications.get
  )

  /** Measure all columns in one pass. */
  def computeStats(df: DataFrame): Seq[ColumnStats] = StatsPass.compute(df, statsConfig)

  /** S1 `calculate_basic_stats` (`base.py:140-152`): counts-only measurement —
    * no regex work, an order of magnitude cheaper than a full profile. Use
    * this (not a full profile projection) when only raw statistics are
    * needed.
    */
  def basicStats(df: DataFrame): Seq[ColumnStats] = StatsPass.computeBasic(df, statsConfig)

  /** `PatternClassifier.analyze_dataframe` (`pattern_classifier.py:110-137`):
    * profile every column, isolate failures, constant 0.8 confidence,
    * method = "pattern_based". Failure isolation is per COLUMN at the
    * cascade step (the reference's per-column try/except,
    * `pattern_classifier.py:119-125`): one column's cascade throwing drops
    * that column and counts failed_classifications instead of failing the
    * whole profile. (The one measurement pass is all-or-nothing by
    * construction — a Spark job failure has no per-column half to salvage.)
    */
  def analyzeDataFrame(df: DataFrame): ClassificationResult = {
    val start = System.nanoTime()
    val stats = computeStats(df)
    val profiles = stats.flatMap { s =>
      try Some(PatternRules.profileColumn(s))
      catch { case scala.util.control.NonFatal(_) => None }
    }
    val elapsed = (System.nanoTime() - start) / 1e9
    totalColumnsAnalyzed.addAndGet(df.columns.length.toLong)
    successfulClassifications.addAndGet(profiles.size.toLong)
    failedClassifications.addAndGet((stats.size - profiles.size).toLong)
    ClassificationResult(
      columnProfiles = profiles,
      processingTime = elapsed,
      aiProviderUsed = None,
      classificationMethod = "pattern_based",
      overallConfidence = PatternRules.PatternConfidence
    )
  }

  /** Profile one named column (`analyze_column`,
    * `pattern_classifier.py:64-108`). Prefer [[analyzeDataFrame]] — this still
    * scans the table (projected to one column, so parquet reads one column
    * chunk).
    */
  def analyzeColumn(df: DataFrame, columnName: String): ColumnProfile = {
    val one = df.select(df(s"`${columnName.replace("`", "``")}`"))
    val stats = StatsPass.compute(one, statsConfig)
    PatternRules.profileColumn(stats.head)
  }

  /** Profile table as a DataFrame with the declared oracle schema, ordered by
    * column_name (deterministic row order for hashing).
    */
  def profileDF(spark: SparkSession, df: DataFrame): DataFrame =
    ProfilerEngine.profilesToDF(spark, analyzeDataFrame(df).columnProfiles)

  /** Q-SUMMARY: data_type breakdown of a profile (S4, `base.py:82-106`). */
  def summaryDF(spark: SparkSession, df: DataFrame): DataFrame =
    ProfilerEngine.summaryFromProfiles(spark, analyzeDataFrame(df).columnProfiles)
}

object ProfilerEngine {

  /** Render profiles with the declared oracle schema, ordered by column_name
    * (deterministic row order for hashing). Driver-side: the input is one
    * profile per column, never per row.
    */
  def profilesToDF(spark: SparkSession, profiles: Seq[ColumnProfile]): DataFrame = {
    import spark.implicits._
    spark.createDataset(profiles.map(toRow)).toDF().orderBy("column_name")
  }

  /** data_type breakdown of an already-computed profile — derivation is
    * driver-side set math, no second scan of the data (VERDICT r1 killer 4).
    */
  def summaryFromProfiles(spark: SparkSession, profiles: Seq[ColumnProfile]): DataFrame = {
    import spark.implicits._
    val rows = profiles
      .groupBy(_.dataType.value)
      .map { case (dt, ps) => (dt, ps.size.toLong) }
      .toSeq
      .sortBy(_._1)
    spark.createDataset(rows).toDF("data_type", "n_columns").orderBy("data_type")
  }

  /** pii_level breakdown + average confidence of an already-computed profile
    * (the other half of S4 `get_summary`, `base.py:92-99` — VERDICT r1
    * "missing" item 4). avg over the constant pattern confidence is
    * order-independent (all terms equal), so the double is engine-portable.
    */
  def piiSummaryFromProfiles(spark: SparkSession, profiles: Seq[ColumnProfile]): DataFrame = {
    import spark.implicits._
    val rows = profiles
      .groupBy(_.piiLevel.value)
      .map { case (lvl, ps) =>
        (lvl, ps.size.toLong, ps.map(_.confidenceScore).sum / ps.size)
      }
      .toSeq
      .sortBy(_._1)
    spark.createDataset(rows).toDF("pii_level", "n_columns", "avg_confidence").orderBy("pii_level")
  }

  /** Raw S1 statistics with the declared oracle schema (counts-only surface). */
  def statsToDF(spark: SparkSession, stats: Seq[graft.model.ColumnStats]): DataFrame = {
    import spark.implicits._
    val rows = stats.map { s =>
      (s.name, s.totalRows, s.nullCount, s.uniqueCount, s.nullRatio, s.uniqueRatio)
    }
    spark
      .createDataset(rows)
      .toDF("column_name", "total_rows", "null_count", "unique_count", "null_ratio", "unique_ratio")
      .orderBy("column_name")
  }

  def toRow(p: ColumnProfile): ProfileRow = ProfileRow(
    column_name = p.originalName,
    suggested_name = p.suggestedName,
    data_type = p.dataType.value,
    is_primary_key = p.isPrimaryKey,
    is_business_key = p.isBusinessKey,
    pii_level = p.piiLevel.value,
    total_rows = p.totalRows,
    null_count = p.nullCount,
    unique_count = p.uniqueCount,
    null_ratio = p.nullRatio,
    unique_ratio = p.uniqueRatio,
    confidence_score = p.confidenceScore,
    business_meaning = p.businessMeaning
  )
}
