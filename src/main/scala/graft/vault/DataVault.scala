package graft.vault

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables

/** Data Vault 2.0 generation — the reference's headline-but-unbuilt
  * `core/generators/` surface (its README's declared goal), rebuilt
  * Spark-first per SURVEY.md §7.4.
  *
  * Conventions (standard DV2.0):
  *   - hash keys: `sha2(concat_ws('||', entity, businessKey…), 256)` —
  *     deterministic, engine-portable (DuckDB `sha256` emits the same
  *     lowercase hex).
  *   - hubs: DISTINCT business keys + hash key. One shuffle (distinct on the
  *     key); at scale this is the map-side-combinable grain extraction.
  *   - satellites: hub hash key + `hashdiff` over canonicalized descriptive
  *     attributes (change detection joins on (hk, hashdiff) — no row compare).
  *     DOUBLE attributes are canonicalized through DECIMAL(18,2) before
  *     hashing: the money columns are exactly 2-decimal, so the cast is exact
  *     and renders identically in every engine (raw double→string rendering
  *     is NOT engine-portable).
  *   - links: DISTINCT (fkA, fkB) grain with its own hash key + the member
  *     hub keys.
  *
  * [[fkCandidates]] is the cross-table inclusion-dependency pass the
  * reference's `ColumnProfile.references` field needs but never populates
  * (`base.py:49-50`): name-suffix candidate enumeration (static), then
  * data-driven containment (anti-join orphan count) and parent-uniqueness
  * checks. Each check is one co-partitioned equi-join — never a cross
  * product — and all checks union into a single lazy plan so Spark schedules
  * them together.
  */
object DataVault {

  /** `sha2(concat_ws('||', entity, parts…), 256)` — the DV hash-key shape. */
  def hashKey(entity: String, parts: Column*): Column =
    sha2(concat_ws("||", (lit(entity) +: parts): _*), 256)

  /** Canonical string rendering for hash inputs: exact for integers/strings;
    * doubles go through DECIMAL(18,2) (see object scaladoc).
    */
  private def canon(df: DataFrame, c: String): Column = {
    val isDouble = df.schema(c).dataType == org.apache.spark.sql.types.DoubleType
    if (isDouble) col(c).cast(DecimalType(18, 2)).cast("string") else col(c).cast("string")
  }

  // --- generic generators ---------------------------------------------------

  /** Hub: one row per distinct business key. */
  def hub(df: DataFrame, entity: String, keyCols: Seq[String]): DataFrame = {
    val keys = keyCols.map(col)
    df.select(keys: _*)
      .distinct()
      .select(hashKey(entity, keyCols.map(c => canon(df, c)): _*).as(s"hub_${entity}_hk") +: keys: _*)
      .orderBy(keyCols.map(col): _*)
  }

  /** Satellite: hub hash key + hashdiff over descriptive attributes + the
    * attributes themselves.
    */
  def satellite(df: DataFrame, entity: String, keyCols: Seq[String], attrCols: Seq[String]): DataFrame = {
    val hk = hashKey(entity, keyCols.map(c => canon(df, c)): _*).as(s"hub_${entity}_hk")
    val hashdiff = sha2(concat_ws("||", attrCols.map(c => canon(df, c)): _*), 256).as("hashdiff")
    df.select(hk +: hashdiff +: (keyCols ++ attrCols).map(col): _*)
      .orderBy(keyCols.map(col): _*)
  }

  /** Link: one row per distinct related-key pair, with member hub keys. */
  def link(
      df: DataFrame,
      linkName: String,
      entityA: String,
      keyA: String,
      entityB: String,
      keyB: String
  ): DataFrame =
    df.select(col(keyA), col(keyB))
      .distinct()
      .select(
        hashKey(linkName, canon(df, keyA), canon(df, keyB)).as(s"link_${linkName}_hk"),
        hashKey(entityA, canon(df, keyA)).as(s"hub_${entityA}_hk"),
        hashKey(entityB, canon(df, keyB)).as(s"hub_${entityB}_hk"),
        col(keyA),
        col(keyB)
      )
      .orderBy(keyA, keyB)

  /** N-ary link: one row per distinct combination of member keys — DV links
    * are not restricted to two hubs (lineitem naturally links order, part
    * and supplier). `members` = (entity, keyColumn) pairs.
    */
  def linkN(df: DataFrame, linkName: String, members: Seq[(String, String)]): DataFrame = {
    val keyCols = members.map(_._2)
    df.select(keyCols.map(col): _*)
      .distinct()
      .select(
        (hashKey(linkName, keyCols.map(c => canon(df, c)): _*).as(s"link_${linkName}_hk") +:
          members.map { case (e, k) => hashKey(e, canon(df, k)).as(s"hub_${e}_hk") } ++:
          keyCols.map(col)): _*
      )
      .orderBy(keyCols.map(col): _*)
  }

  def oracleLinkN(table: String, linkName: String, members: Seq[(String, String)]): String = {
    val keyCols = members.map(_._2)
    val lhk = hashKeySql(linkName, keyCols.map(k => s"CAST($k AS VARCHAR)"))
    val hubs = members
      .map { case (e, k) => s"${hashKeySql(e, Seq(s"CAST($k AS VARCHAR)"))} AS hub_${e}_hk" }
      .mkString(", ")
    s"""SELECT $lhk AS link_${linkName}_hk, $hubs, ${keyCols.mkString(", ")}
       |FROM (SELECT DISTINCT ${keyCols.mkString(", ")} FROM $table)
       |ORDER BY ${keyCols.mkString(", ")}""".stripMargin
  }

  // --- oracle SQL -----------------------------------------------------------

  private def canonSql(c: String, doubleCols: Set[String]): String =
    if (doubleCols.contains(c)) s"CAST(CAST($c AS DECIMAL(18,2)) AS VARCHAR)"
    else s"CAST($c AS VARCHAR)"

  private def hashKeySql(entity: String, parts: Seq[String]): String =
    s"sha256(concat_ws('||', '${entity}', ${parts.mkString(", ")}))"

  def oracleHub(table: String, entity: String, keyCols: Seq[String], doubleCols: Set[String] = Set.empty): String = {
    val keys = keyCols.mkString(", ")
    val hk   = hashKeySql(entity, keyCols.map(canonSql(_, doubleCols)))
    s"""SELECT $hk AS hub_${entity}_hk, $keys FROM (
       |  SELECT DISTINCT $keys FROM $table
       |) ORDER BY $keys""".stripMargin
  }

  def oracleSatellite(
      table: String,
      entity: String,
      keyCols: Seq[String],
      attrCols: Seq[String],
      doubleCols: Set[String] = Set.empty
  ): String = {
    val hk = hashKeySql(entity, keyCols.map(canonSql(_, doubleCols)))
    val hd = s"sha256(concat_ws('||', ${attrCols.map(canonSql(_, doubleCols)).mkString(", ")}))"
    s"""SELECT $hk AS hub_${entity}_hk, $hd AS hashdiff, ${(keyCols ++ attrCols).mkString(", ")}
       |FROM $table ORDER BY ${keyCols.mkString(", ")}""".stripMargin
  }

  def oracleLink(
      table: String,
      linkName: String,
      entityA: String,
      keyA: String,
      entityB: String,
      keyB: String
  ): String = {
    val lhk = hashKeySql(linkName, Seq(s"CAST($keyA AS VARCHAR)", s"CAST($keyB AS VARCHAR)"))
    val ahk = hashKeySql(entityA, Seq(s"CAST($keyA AS VARCHAR)"))
    val bhk = hashKeySql(entityB, Seq(s"CAST($keyB AS VARCHAR)"))
    s"""SELECT $lhk AS link_${linkName}_hk, $ahk AS hub_${entityA}_hk, $bhk AS hub_${entityB}_hk,
       |  $keyA, $keyB
       |FROM (SELECT DISTINCT $keyA, $keyB FROM $table) ORDER BY $keyA, $keyB""".stripMargin
  }

  // --- inclusion-dependency (FK) discovery ----------------------------------

  /** Relational tables participating in FK discovery. */
  val relationalTables: Seq[String] =
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")

  /** A key column's name after its table-prefix underscore: its suffix class. */
  private def suffix(c: String): String = c.substring(c.indexOf('_') + 1)

  /** Static candidate enumeration: key-suffixed columns (name after the
    * table-prefix underscore ends in "key") matched across tables by suffix
    * equality. Purely name-driven — the DATA then decides containment and
    * uniqueness, so both engines derive is_fk independently.
    */
  def candidatePairs: Seq[(String, String, String, String)] = {
    val keyCols = for {
      t <- relationalTables
      c <- Tables.columns(t)
      if c.endsWith("key")
    } yield (t, c, suffix(c))
    for {
      (ct, cc, cs) <- keyCols
      (pt, pc, ps) <- keyCols
      if ct != pt && cs == ps
    } yield (ct, cc, pt, pc)
  }

  /** Fails with a named error if a candidate pair joins columns of two
    * suffix classes: [[fkCandidates]] aggregates each class separately, so
    * such a pair would have no orphan count to read back.
    */
  private[graft] def requireOneSuffixClass(pairs: Seq[(String, String, String, String)]): Unit =
    for ((ct, cc, pt, pc) <- pairs)
      require(suffix(cc) == suffix(pc),
        s"fk candidate $ct.$cc -> $pt.$pc spans suffix classes '${suffix(cc)}' and '${suffix(pc)}'")

  /** One row per candidate: orphan count (child values missing from parent),
    * parent uniqueness, and the resulting is_fk verdict.
    *
    * All per-candidate checks fold into TWO lazy union plans (orphan counts;
    * parent uniqueness, shared across children of the same parent column) and
    * collect in one action each — the r3 shape of ~23 concurrently-submitted
    * single-aggregate actions paid ~23× the per-job scheduling floor on a
    * loaded box (2.7 → 10.9 s regression). Spark schedules the independent
    * union subtrees concurrently inside one job; the collected results stay
    * O(candidates) 1-row aggregates, never data rows.
    */
  def fkCandidates(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pairs = candidatePairs
    requireOneSuffixClass(pairs)
    val dfs = relationalTables.map(t => t -> Tables.load(spark, dir, t)).toMap

    // One pivoted value-count relation per SUFFIX CLASS replaces all the
    // per-pair anti-joins (r19, guide §2.4/§1.2 step 1 — the former shape
    // planned one anti-join + one distinct per candidate pair, ~16 joins
    // and twice that many exchanges, plus a second uniqueness job): union
    // the class members' key columns tagged by member index (every column
    // is integral — the bigint cast is exact and mirrors the former join's
    // int/bigint coercion), group by value into per-member multiplicities,
    // then derive EVERY directed pair's orphan count AND every member's
    // uniqueness from the same relation in one final 1-row aggregate:
    //   orphan(c→p)  = Σ n_c over rows where v IS NULL or n_p = 0
    //     (a NULL child key never equi-matches any parent row — including a
    //     NULL parent key — exactly the former anti-join's semantics);
    //   unique(p)    = Σ_{v≠NULL} n_p == |{v≠NULL : n_p > 0}|
    //     (count == count_distinct, both ignoring NULLs like the originals).
    // All class aggregates union into ONE collect of |classes| rows.
    val byClass: Seq[(String, Seq[(String, String)])] = {
      val members = pairs
        .flatMap { case (ct, cc, pt, pc) => Seq((ct, cc), (pt, pc)) }
        .distinct
      members.groupBy { case (_, c) => suffix(c) }.toSeq.sortBy(_._1)
        .map { case (s, ms) => s -> ms.sorted }
    }
    val classAggs = byClass.map { case (sfx, members) =>
      val tagged = members.zipWithIndex.map { case ((t, c), ti) =>
        dfs(t).select(col(c).cast("bigint").as("v"), lit(ti).as("ti"))
      }.reduce(_ unionAll _)
      val memberCounts = members.indices.map(ti =>
        sum(when(col("ti") === ti, 1L).otherwise(0L)).as(s"n$ti"))
      val counts = tagged
        .groupBy(col("v"))
        .agg(memberCounts.head, memberCounts.tail: _*)
      val pairAggs = pairs.zipWithIndex.flatMap { case ((ct, cc, pt, pc), pi) =>
        val ci = members.indexOf((ct, cc))
        val piIdx = members.indexOf((pt, pc))
        if (ci < 0 || piIdx < 0) None // pair belongs to another class
        else Some(
          coalesce(sum(when(col("v").isNull || col(s"n$piIdx") === 0L, col(s"n$ci"))
            .otherwise(0L)), lit(0L)).as(s"orphan_$pi"))
      }
      val uniqAggs = members.indices.flatMap { ti =>
        Seq(
          coalesce(sum(when(col("v").isNotNull, col(s"n$ti")).otherwise(0L)), lit(0L))
            .as(s"tot_$ti"),
          count(when(col("v").isNotNull && col(s"n$ti") > 0L, lit(1))).as(s"dst_$ti"))
      }
      val aggs = pairAggs ++ uniqAggs
      // classes have different aggregate arities — normalize each 1-row
      // aggregate to (sfx, name→value map) so the per-class plans union
      // into ONE collected job
      val agged = counts.agg(aggs.head, aggs.tail: _*)
      val kvs = agged.columns.flatMap(n => Seq(lit(n), col(n).cast("long")))
      agged.select(lit(sfx).as("sfx"), map(kvs.toIndexedSeq: _*).as("m"))
    }
    val classRows: Map[String, Map[String, Long]] = classAggs.reduce(_ unionAll _)
      .collect()
      .map(r => r.getString(0) -> r.getMap[String, Long](1).toMap)
      .toMap

    val rows = pairs.zipWithIndex.map { case ((ct, cc, pt, pc), pi) =>
      val cls     = classRows(suffix(cc))
      val members = byClass.find(_._1 == suffix(cc)).get._2
      val piIdx   = members.indexOf((pt, pc))
      val orphans = cls(s"orphan_$pi")
      val u       = cls(s"tot_$piIdx") == cls(s"dst_$piIdx")
      (ct, cc, pt, pc, orphans, u, orphans == 0L && u)
    }
    rows
      .toDF("child_table", "child_column", "parent_table", "parent_column",
        "orphan_count", "parent_is_unique", "is_fk")
      .orderBy("child_table", "child_column", "parent_table")
  }

  def oracleFkCandidates: String = {
    val selects = candidatePairs.map { case (ct, cc, pt, pc) =>
      s"""SELECT '$ct' AS child_table, '$cc' AS child_column,
         |  '$pt' AS parent_table, '$pc' AS parent_column,
         |  (SELECT count(*) FROM $ct c WHERE NOT EXISTS (SELECT 1 FROM $pt p WHERE p.$pc = c.$cc)) AS orphan_count,
         |  (SELECT count(DISTINCT $pc) = count($pc) FROM $pt) AS parent_is_unique""".stripMargin
    }
    s"""SELECT *, (orphan_count = 0 AND parent_is_unique) AS is_fk FROM (
       |${selects.mkString("\nUNION ALL\n")}
       |) ORDER BY child_table, child_column, parent_table""".stripMargin
  }

  /** Composite candidate-key discovery — the multi-column extension of the
    * P4 single-column primary-key heuristic: a column set is a candidate key
    * when its distinct combination count equals the row count. Emits the
    * distinct count too, so NEAR-keys (the interesting profiler output) are
    * visible, not just the boolean.
    *
    * Shape per key set: a two-phase distinct + count — never a
    * multi-`count_distinct` Expand of the scan; the |sets| plans union into
    * one job of 1-row aggregates.
    */
  def compositeKeys(df: DataFrame, keySets: Seq[Seq[String]]): DataFrame = {
    require(keySets.nonEmpty && keySets.forall(_.nonEmpty), "compositeKeys needs non-empty column sets")
    val perSet = keySets.map { ks =>
      val base = df.select(ks.map(col): _*)
      base
        .agg(count(lit(1)).as("n_rows"))
        .crossJoin(base.distinct().agg(count(lit(1)).as("n_distinct")))
        .select(
          lit(ks.mkString(",")).as("key_cols"),
          col("n_rows"),
          col("n_distinct"),
          (col("n_distinct") === col("n_rows")).as("is_key"))
    }
    perSet.reduce(_ unionAll _).orderBy("key_cols")
  }

  /** DuckDB twin of [[compositeKeys]]: one distinct-subquery pair per set. */
  def oracleCompositeKeys(table: String, keySets: Seq[Seq[String]]): String = {
    val selects = keySets.map { ks =>
      val cols = ks.mkString(", ")
      s"""SELECT '${ks.mkString(",")}' AS key_cols,
         |  (SELECT count(*) FROM $table) AS n_rows,
         |  (SELECT count(*) FROM (SELECT DISTINCT $cols FROM $table)) AS n_distinct""".stripMargin
    }
    s"""SELECT key_cols, n_rows, n_distinct, (n_distinct = n_rows) AS is_key FROM (
       |${selects.mkString("\nUNION ALL\n")}
       |) ORDER BY key_cols""".stripMargin
  }

  /** Unary functional-dependency discovery over one table's column pairs —
    * the schema-mining pass classical profilers run next to inclusion
    * dependencies ([[fkCandidates]]): `det → dep` holds when no determinant
    * value co-occurs with two dependent values. Emits, per ordered pair, the
    * number of VIOLATING determinant groups (so near-FDs are visible, not
    * just the boolean).
    *
    * Shape per determinant: values are string-rendered (injective per engine
    * — renderings may differ across engines but distinctness is preserved,
    * which is all counting needs), stacked to (det_val, dep, dep_val),
    * deduplicated, then two cheap count aggregates. Never a multi-
    * `count_distinct` Expand over the raw table, and aggregate state is O(1)
    * per group — the |cols|² pair budget is the caller's knob, as in every
    * published FD miner.
    *
    * A fused single-stack form (ALL ordered pairs in one relation, one
    * distinct) measured SLOWER at sf0.1 (2.0–2.3 s vs 1.25–1.38 s, r19 A/B):
    * the per-determinant union subtrees already run concurrently inside one
    * job, and the fused map-side dedup hash (|cols|² keyspace per task)
    * loses to |cols| smaller concurrent ones. Kept per-determinant.
    */
  def fdCandidates(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, "fdCandidates needs at least two columns")
    val perDet = cols.map { det =>
      val deps = cols.filterNot(_ == det)
      val stackArgs = deps.map(dp => s"'$dp', CAST(`$dp` AS STRING)").mkString(", ")
      val pairCounts = df
        .selectExpr(s"CAST(`$det` AS STRING) AS det_val", s"stack(${deps.size}, $stackArgs) AS (dep, dep_val)")
        .distinct()
        .groupBy(col("det_val"), col("dep"))
        .agg(count(lit(1)).as("nv"))
      pairCounts
        .groupBy(col("dep"))
        .agg(sum(when(col("nv") > 1, 1L).otherwise(0L)).as("n_violating"))
        .select(lit(det).as("determinant"), col("dep").as("dependent"), col("n_violating"))
    }
    perDet
      .reduce(_ unionAll _)
      .withColumn("holds", col("n_violating") === 0L)
      .orderBy("determinant", "dependent")
  }

  /** DuckDB twin of [[fdCandidates]]: one distinct-pair subquery per ordered
    * column pair (VARCHAR-rendered like the Spark side — only distinctness
    * matters, not the rendering).
    */
  def oracleFdCandidates(table: String, cols: Seq[String]): String = {
    val selects = for (det <- cols; dep <- cols if dep != det) yield
      s"""SELECT '$det' AS determinant, '$dep' AS dependent,
         |  CAST((SELECT sum(CASE WHEN nv > 1 THEN 1 ELSE 0 END) FROM (
         |    SELECT count(*) AS nv FROM (
         |      SELECT DISTINCT CAST($det AS VARCHAR) AS dv, CAST($dep AS VARCHAR) AS pv FROM $table)
         |    GROUP BY dv)) AS BIGINT) AS n_violating""".stripMargin
    s"""SELECT *, (n_violating = 0) AS holds FROM (
       |${selects.mkString("\nUNION ALL\n")}
       |) ORDER BY determinant, dependent""".stripMargin
  }
}
