package graft.engine

import graft.model.{PiiLevel, SemanticType}
import graft.pattern.PatternRules
import graft.pattern.PatternRules.{businessCodePattern, typeBanks, measuredPatterns}

/** Generates the DuckDB oracle SQL for the profiling queries.
  *
  * The engine's decision cascade runs driver-side over one stats row
  * ([[graft.pattern.PatternRules]]); this generator emits ANSI SQL that
  * recomputes the identical cascade inside DuckDB, so the driver can
  * hash-compare Spark output against an independent engine.
  *
  * Agreement strategy:
  *   - every count is an exact BIGINT on both sides;
  *   - every ratio is computed as `CAST(count AS DOUBLE) / count` — IEEE
  *     division is exactly rounded, hence bit-identical across JVM and DuckDB;
  *   - all name-derived predicates (keyword hits, suggested names, business
  *     meanings) are *partially evaluated in Scala* and baked into the SQL as
  *     literals, since column names are static — only data-dependent terms
  *     remain in SQL;
  *   - regexes are the Java∩RE2 common-dialect literals of
  *     [[graft.pattern.PatternRules]], anchored, so `rlike` (partial-match,
  *     java.util.regex) and `regexp_matches` (partial-match, RE2) agree.
  */
object OracleGen {

  private val T = PatternRules.MatchThreshold // 0.8
  private val C = PatternRules.CodeThreshold  // 0.5

  private def qid(name: String): String = "\"" + name.replace("\"", "\"\"") + "\""
  private def qstr(s: String): String   = "'" + s.replace("'", "''") + "'"

  /** Stats CTE for one column: total/non-null/distinct plus one match count
    * per measured pattern. Mirror of `graft.stats.StatsPass.patternAggsFor`.
    */
  private def statsSelect(table: String, colName: String, isMap: Boolean): String = {
    val c = qid(colName)
    // MAP columns: distinct-count the VARCHAR rendering, mirroring the Spark
    // side's MapType deviation (Tables.mapColumns scaladoc).
    val distinctTarget = if (isMap) s"CAST($c AS VARCHAR)" else c
    val matchCounts = measuredPatterns.map { p =>
      s"count(*) FILTER (WHERE regexp_matches(CAST($c AS VARCHAR), ${qstr(p.regex)})) AS m_${p.key}"
    }
    (Seq(
      s"count(*) AS total_rows",
      s"count($c) AS nn",
      s"count(DISTINCT $distinctTarget) AS uniq"
    ) ++ matchCounts).mkString(s"SELECT ", ", ", s" FROM $table")
  }

  /** SQL term: match-ratio of pattern `key` over non-null values (0 when the
    * column is all-null). Same division as `ColumnStats.matchRatio`.
    */
  private def ratio(key: String): String =
    s"(CASE WHEN nn > 0 THEN CAST(m_$key AS DOUBLE) / nn ELSE 0.0 END)"

  private def bankHit(bank: PatternRules.Bank): String =
    bank.patterns.map(p => s"${ratio(p.key)} >= $T").mkString("(", " OR ", ")")

  /** The data_type CASE — transliteration of `PatternRules.detectDataType`
    * with name-derived booleans pre-evaluated for this column.
    */
  private def dataTypeCase(colName: String): String = {
    val lower = colName.toLowerCase(java.util.Locale.ROOT)
    val hasIdName = PatternRules.identifierNameKeywords.exists(lower.contains)
    val hasId     = lower.contains("id")
    val Seq(email, date, phone, numeric, boolean) = typeBanks

    val branches = Seq(
      s"WHEN nn = 0 THEN 'text'",
      s"WHEN ${bankHit(email)} THEN 'email'",
      s"WHEN ${bankHit(date)} THEN 'date'",
      s"WHEN ${bankHit(phone)} THEN 'phone'"
    ) ++
      (if (hasIdName) Seq(s"WHEN unique_ratio > 0.9 THEN 'identifier'") else Seq.empty) ++
      Seq(
        s"WHEN ${bankHit(numeric)} THEN 'numeric'",
        s"WHEN ${bankHit(boolean)} THEN 'boolean'"
      ) ++
      (if (hasId) Seq(s"WHEN unique_ratio > 0.95 THEN 'identifier'") else Seq.empty) ++
      Seq(s"WHEN unique_ratio < 0.1 AND nn > 10 THEN 'business_key'")

    branches.mkString("CASE ", " ", " ELSE 'text' END")
  }

  /** Full profile row for one column — the outer SELECT over the derived
    * stats. Mirror of `PatternRules.profileColumn`.
    */
  private def profileSelect(table: String, colName: String, isMap: Boolean): String = {
    val lower = colName.toLowerCase(java.util.Locale.ROOT)
    val hasPkName  = PatternRules.primaryKeyNameKeywords.exists(lower.contains)
    val hasBizName = PatternRules.businessKeyNameKeywords.exists(lower.contains)
    val staticPii =
      if (PatternRules.highPiiNameKeywords.exists(lower.contains)) PiiLevel.High.value
      else if (PatternRules.mediumPiiNameKeywords.exists(lower.contains)) PiiLevel.Medium.value
      else if (PatternRules.lowPiiNameKeywords.exists(lower.contains)) PiiLevel.Low.value
      else PiiLevel.None.value

    val meaningCase = SemanticType.all
      .map { st =>
        s"WHEN ${qstr(st.value)} THEN ${qstr(PatternRules.businessMeaning(colName, st))}"
      }
      .mkString("CASE data_type ", " ", s" ELSE ${qstr("")} END")

    val isPk =
      if (hasPkName)
        s"(unique_ratio >= 0.99 OR (unique_ratio = 1.0 AND data_type = 'identifier'))"
      else s"(unique_ratio = 1.0 AND data_type = 'identifier')"

    val isBk =
      if (hasBizName) "TRUE"
      else
        s"(data_type = 'text' AND unique_ratio < 0.3 AND nn > 10 AND ${ratio(businessCodePattern.key)} > $C)"

    s"""SELECT
       |  ${qstr(colName)} AS column_name,
       |  ${qstr(PatternRules.suggestedName(colName))} AS suggested_name,
       |  data_type,
       |  $isPk AS is_primary_key,
       |  $isBk AS is_business_key,
       |  (CASE WHEN data_type IN ('email','phone') THEN 'high' ELSE ${qstr(staticPii)} END) AS pii_level,
       |  total_rows,
       |  total_rows - nn AS null_count,
       |  uniq AS unique_count,
       |  (CASE WHEN total_rows > 0 THEN CAST(total_rows - nn AS DOUBLE) / total_rows ELSE 0.0 END) AS null_ratio,
       |  unique_ratio,
       |  CAST(${PatternRules.PatternConfidence} AS DOUBLE) AS confidence_score,
       |  $meaningCase AS business_meaning
       |FROM (
       |  SELECT *,
       |    (CASE WHEN total_rows > 0 THEN CAST(uniq AS DOUBLE) / total_rows ELSE 0.0 END) AS unique_ratio,
       |    ${dataTypeCase(colName)} AS data_type
       |  FROM (${statsSelect(table, colName, isMap)})
       |)""".stripMargin
  }

  /** Scalar subqueries over one column's recomputed profile row — exported so
    * other oracles (the DDL generator's data-dependent terms) can compose the
    * cascade instead of baking its decisions.
    */
  def nullCountSubquery(table: String, colName: String, isMap: Boolean = false): String =
    s"(SELECT null_count FROM (${profileSelect(table, colName, isMap)}) __p)"

  def piiLevelSubquery(table: String, colName: String, isMap: Boolean = false): String =
    s"(SELECT pii_level FROM (${profileSelect(table, colName, isMap)}) __p)"

  private def profileUnion(table: String, columns: Seq[String], mapCols: Set[String]): String =
    columns.map(c => profileSelect(table, c, mapCols.contains(c))).mkString("\nUNION ALL\n")

  /** Q-PROFILE(t): full profile table, one row per column, ordered by
    * column_name.
    */
  def profileSql(table: String, columns: Seq[String], mapCols: Set[String] = Set.empty): String =
    profileUnion(table, columns, mapCols) + "\nORDER BY column_name"

  /** Q-SUMMARY(t): data_type breakdown of the profile. */
  def summarySql(table: String, columns: Seq[String], mapCols: Set[String] = Set.empty): String =
    s"""SELECT data_type, count(*) AS n_columns FROM (
       |${profileUnion(table, columns, mapCols)}
       |) GROUP BY data_type ORDER BY data_type""".stripMargin

  /** Q-SUMMARY-PII(t): pii_level breakdown + average confidence — the other
    * half of S4 `get_summary` (`base.py:92-99`). avg(confidence_score) is an
    * average over the constant pattern confidence, hence summation-order
    * independent and bit-portable across engines.
    */
  def piiSummarySql(table: String, columns: Seq[String], mapCols: Set[String] = Set.empty): String =
    s"""SELECT pii_level, count(*) AS n_columns, avg(confidence_score) AS avg_confidence FROM (
       |${profileUnion(table, columns, mapCols)}
       |) GROUP BY pii_level ORDER BY pii_level""".stripMargin

  /** Q-DRIFT: recompute the full profile cascade for two table slices and
    * diff them — the independent-engine twin of
    * [[graft.stats.ProfileDrift.driftPortableDF]]. Both slice relations are
    * arbitrary FROM-able expressions (a table name or a `(SELECT …)`
    * subquery), so the declared query can drift "yesterday" against "today"
    * without materialized snapshots. Both engines compute the ratios as the
    * same exact-long division, so the `abs(Δ) > tol` gate fires identically;
    * unused columns carry the same ''/0.0 sentinels as the Spark side.
    */
  def driftSql(
      beforeRel: String,
      beforeCols: Seq[String],
      afterRel: String,
      afterCols: Seq[String],
      ratioTolerance: Double,
      mapCols: Set[String] = Set.empty
  ): String = {
    val z = "CAST(0 AS DOUBLE)"
    def fieldBranch(field: String, render: String => String) =
      s"""  SELECT pa.column_name, '$field' AS change, ${render("pb")} AS old_str, ${render("pa")} AS new_str, $z AS old_num, $z AS new_num
         |  FROM pa JOIN pb ON pa.column_name = pb.column_name WHERE ${render("pa")} <> ${render("pb")}""".stripMargin
    def ratioBranch(field: String) =
      s"""  SELECT pa.column_name, '$field', '', '', round(pb.$field, 6), round(pa.$field, 6)
         |  FROM pa JOIN pb ON pa.column_name = pb.column_name
         |  WHERE abs(pa.$field - pb.$field) > $ratioTolerance""".stripMargin
    val branches = Seq(
      s"""  SELECT column_name, 'removed' AS change, data_type AS old_str, '' AS new_str, $z AS old_num, $z AS new_num
         |  FROM pb WHERE column_name NOT IN (SELECT column_name FROM pa)""".stripMargin,
      s"""  SELECT column_name, 'added', '', data_type, $z, $z
         |  FROM pa WHERE column_name NOT IN (SELECT column_name FROM pb)""".stripMargin,
      fieldBranch("data_type", t => s"$t.data_type"),
      fieldBranch("pii_level", t => s"$t.pii_level"),
      fieldBranch("is_primary_key", t => s"CAST($t.is_primary_key AS VARCHAR)"),
      fieldBranch("is_business_key", t => s"CAST($t.is_business_key AS VARCHAR)"),
      ratioBranch("null_ratio"),
      ratioBranch("unique_ratio")
    )
    s"""WITH pb AS (${profileSql(beforeRel, beforeCols, mapCols)}),
       |pa AS (${profileSql(afterRel, afterCols, mapCols)})
       |SELECT * FROM (
       |${branches.mkString("\n  UNION ALL\n")}
       |) ORDER BY column_name, change""".stripMargin
  }

  /** Q-MASKED(t): the table with PII-masked cells, where each column's
    * masking decision is the PROFILE CASCADE's pii_level for that column —
    * recomputed independently inside this SQL (scalar subquery per column
    * over that column's own profile), so the declared query end-to-end
    * checks the engine's live profile→masking integration, not a baked
    * decision list. Columns render as VARCHAR (doubles through exact
    * DECIMAL(18,2) — raw double→string is not engine-portable); masked
    * cells are the md5 of that rendering. Ordered by the first column's
    * rendering (binary/lexicographic — identical in both engines).
    */
  def maskedSql(
      table: String,
      columns: Seq[String],
      doubleCols: Set[String] = Set.empty,
      mapCols: Set[String] = Set.empty,
      minLevels: Seq[String] = Seq("medium", "high")
  ): String = {
    def canon(c: String): String =
      if (doubleCols.contains(c)) s"CAST(CAST(${qid(c)} AS DECIMAL(18,2)) AS VARCHAR)"
      else s"CAST(${qid(c)} AS VARCHAR)"
    val levels = minLevels.map(qstr).mkString(", ")
    val cells = columns.map { c =>
      val pii =
        s"(SELECT pii_level FROM (${profileSelect(table, c, mapCols.contains(c))}) __p)"
      s"(CASE WHEN $pii IN ($levels) THEN md5(${canon(c)}) ELSE ${canon(c)} END) AS ${qid(c)}"
    }
    s"""SELECT ${cells.mkString(",\n  ")}
       |FROM $table ORDER BY ${qid(columns.head)}""".stripMargin
  }

  /** Q-STATS(t): raw S1 statistics per column (`base.py:140-152`). */
  def statsSql(table: String, columns: Seq[String], mapCols: Set[String] = Set.empty): String = {
    val selects = columns.map { colName =>
      val c = qid(colName)
      val d = if (mapCols.contains(colName)) s"CAST($c AS VARCHAR)" else c
      s"""SELECT ${qstr(colName)} AS column_name,
         |  count(*) AS total_rows,
         |  count(*) - count($c) AS null_count,
         |  count(DISTINCT $d) AS unique_count,
         |  (CASE WHEN count(*) > 0 THEN CAST(count(*) - count($c) AS DOUBLE) / count(*) ELSE 0.0 END) AS null_ratio,
         |  (CASE WHEN count(*) > 0 THEN CAST(count(DISTINCT $d) AS DOUBLE) / count(*) ELSE 0.0 END) AS unique_ratio
         |FROM $table""".stripMargin
    }
    selects.mkString("", "\nUNION ALL\n", "\nORDER BY column_name")
  }
}
