package graft.model

/** Semantic data-type vocabulary of the profiling engine.
  *
  * Mirrors the nine-value `DataType` enum of the reference
  * (`src/ai_pipeline/core/classifiers/base.py:17-27`). The string `value`s are
  * part of the observable surface: summaries group on them and the AI JSON
  * contract uses them.
  */
sealed abstract class SemanticType(val value: String)
object SemanticType {
  case object Identifier  extends SemanticType("identifier")
  case object BusinessKey extends SemanticType("business_key")
  case object Date        extends SemanticType("date")
  case object Numeric     extends SemanticType("numeric")
  case object Text        extends SemanticType("text")
  case object Boolean     extends SemanticType("boolean")
  case object Email       extends SemanticType("email")
  case object Phone       extends SemanticType("phone")
  /** Declared in the reference vocabulary but never produced by any
    * deterministic rule (`base.py:27`; absent from the pattern banks). Only
    * an AI provider may emit it. */
  case object Address extends SemanticType("address")

  val all: Seq[SemanticType] =
    Seq(Identifier, BusinessKey, Date, Numeric, Text, Boolean, Email, Phone, Address)

  def fromValue(v: String): Option[SemanticType] = all.find(_.value == v)
}

/** PII sensitivity levels (`base.py:30-35`) with an explicit ordinal
  * severity. The reference merges PII levels with a string-`max` which is
  * alphabetically wrong (`hybrid_classifier.py:210` — "none" > "high"); the
  * rebuild implements the commented intent: NONE < LOW < MEDIUM < HIGH
  * (documented divergence, SURVEY.md §0.2(4)).
  */
sealed abstract class PiiLevel(val value: String, val severity: Int) extends Ordered[PiiLevel] {
  def compare(that: PiiLevel): Int = severity.compareTo(that.severity)
}
object PiiLevel {
  case object None   extends PiiLevel("none", 0)
  case object Low    extends PiiLevel("low", 1)
  case object Medium extends PiiLevel("medium", 2)
  case object High   extends PiiLevel("high", 3)

  val all: Seq[PiiLevel] = Seq(None, Low, Medium, High)
  def fromValue(v: String): Option[PiiLevel] = all.find(_.value == v)
}

/** Per-column analysis profile — the engine's primary output record.
  *
  * Field-for-field port of the reference dataclass (`base.py:38-70`), with
  * Scala types. `dataType`/`piiLevel` are carried as ADT values; use
  * [[ColumnProfile.toRow]]-style mappers (in the engine) for the string form.
  */
final case class ColumnProfile(
    originalName: String,
    suggestedName: String,
    dataType: SemanticType,
    isPrimaryKey: Boolean = false,
    isBusinessKey: Boolean = false,
    isForeignKey: Boolean = false,
    references: Seq[String] = Seq.empty,
    piiLevel: PiiLevel = PiiLevel.None,
    containsSensitiveData: Boolean = false,
    uniqueRatio: Double = 0.0,
    nullRatio: Double = 0.0,
    sampleValues: Seq[String] = Seq.empty,
    confidenceScore: Double = 0.0,
    businessMeaning: String = "",
    dataQualityNotes: String = "",
    suggestedImprovements: String = "",
    totalRows: Long = 0L,
    uniqueCount: Long = 0L,
    nullCount: Long = 0L
)

/** Result of profiling one table (`base.py:73-106`). */
final case class ClassificationResult(
    columnProfiles: Seq[ColumnProfile],
    processingTime: Double = 0.0,
    aiProviderUsed: Option[String] = None,
    classificationMethod: String = "",
    overallConfidence: Double = 0.0
) {

  /** Summary statistics (`base.py:82-106`): counts per data type / PII level,
    * average confidence. Empty result → empty summary.
    */
  def summary: Option[ResultSummary] =
    if (columnProfiles.isEmpty) None
    else
      Some(
        ResultSummary(
          totalColumns = columnProfiles.size,
          dataTypeBreakdown =
            columnProfiles.groupBy(_.dataType.value).map { case (k, v) => k -> v.size.toLong },
          piiLevelBreakdown =
            columnProfiles.groupBy(_.piiLevel.value).map { case (k, v) => k -> v.size.toLong },
          avgConfidence = columnProfiles.map(_.confidenceScore).sum / columnProfiles.size,
          processingTime = processingTime,
          classificationMethod = classificationMethod
        )
      )
}

final case class ResultSummary(
    totalColumns: Int,
    dataTypeBreakdown: Map[String, Long],
    piiLevelBreakdown: Map[String, Long],
    avgConfidence: Double,
    processingTime: Double,
    classificationMethod: String
)

/** Raw per-column measurements produced by the grouped stats pass
  * (graft.stats.StatsPass) — everything the decision cascade needs.
  *
  * All counts are exact longs; ratios are derived lazily so threshold
  * comparisons stay deterministic across engines (long/long IEEE division is
  * exactly rounded, hence bit-identical in Spark, DuckDB and the JVM).
  *
  * `patternMatches(p)` = number of non-null values whose string rendering
  * fully matches anchored pattern `p`.
  */
final case class ColumnStats(
    name: String,
    totalRows: Long,
    nonNullCount: Long,
    uniqueCount: Long,
    patternMatches: Map[String, Long],
    sampleValues: Seq[String] = Seq.empty
) {
  def nullCount: Long = totalRows - nonNullCount
  def nullRatio: Double = if (totalRows > 0) nullCount.toDouble / totalRows else 0.0
  def uniqueRatio: Double = if (totalRows > 0) uniqueCount.toDouble / totalRows else 0.0

  /** Fraction of the non-null values matching `patternKey`; 0 when the
    * column is all-null (mirrors the reference's empty-sample behavior).
    */
  def matchRatio(patternKey: String): Double =
    if (nonNullCount > 0) patternMatches.getOrElse(patternKey, 0L).toDouble / nonNullCount
    else 0.0
}
