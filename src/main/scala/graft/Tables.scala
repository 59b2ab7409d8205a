package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, Repartition}
import org.apache.spark.sql.execution.LogicalRDD

import scala.util.Try

/** Static testdata-table catalog (TESTDATA.md / FIXTURES.md §B).
  *
  * Column lists are compile-time constants because the DuckDB oracle SQL
  * (graft.engine.OracleGen) is generated without a SparkSession; a ScalaTest
  * spec asserts they match the live parquet footers, so drift fails CI rather
  * than silently corrupting the oracle.
  */
object Tables {
  val columns: Map[String, Seq[String]] = Map(
    "region"   -> Seq("r_regionkey", "r_name"),
    "nation"   -> Seq("n_nationkey", "n_name", "n_regionkey"),
    "customer" -> Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"),
    "supplier" -> Seq("s_suppkey", "s_name", "s_nationkey", "s_acctbal"),
    "part"     -> Seq("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"),
    "orders" -> Seq(
      "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority"
    ),
    "lineitem" -> Seq(
      "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity", "l_extendedprice",
      "l_discount", "l_tax", "l_returnflag", "l_linestatus", "l_shipdate"
    ),
    "events"     -> Seq("event_id", "ts", "user_id", "event_type", "value", "props"),
    "documents"  -> Seq("doc_id", "text", "lang", "source", "n_chars"),
    "embeddings" -> Seq("vec_id", "embedding", "label")
  )

  /** Expected Spark dtype (simpleString) per column — the full-schema
    * contract [[preflight]] checks against live footers. A dtype regen-drift
    * on ANY column (not just `events.ts`, the r8 incident) would silently
    * shift oracle renderings or explode mid-gate; this catches it by name
    * BEFORE any query runs. `events.ts` accepts the encodings
    * [[normalizeEventTs]] can adapt (legacy nanos LONG, NTZ, TIMESTAMP).
    *
    * Scope note (ADVICE r9): `events.ts` is the ONLY column with a
    * type-adaptive loader branch; the date columns (`o_orderdate`,
    * `l_shipdate`) are pinned to the current `timestamp_ntz` encoding, so a
    * full pre-r9 legacy tree fails preflight by design — legacy support is
    * loader/spec-level for `events.ts` alone, and the gated mains require
    * the current regen schema for everything else. If the driver ever
    * re-encodes the date columns, extend the loader the way
    * [[normalizeEventTs]] did, don't widen this catalog blindly.
    */
  val dtypes: Map[String, Seq[(String, String)]] = Map(
    "region"   -> Seq("r_regionkey" -> "int", "r_name" -> "string"),
    "nation"   -> Seq("n_nationkey" -> "int", "n_name" -> "string", "n_regionkey" -> "int"),
    "customer" -> Seq(
      "c_custkey" -> "bigint", "c_name" -> "string", "c_nationkey" -> "int",
      "c_acctbal" -> "double", "c_mktsegment" -> "string"
    ),
    "supplier" -> Seq(
      "s_suppkey" -> "bigint", "s_name" -> "string", "s_nationkey" -> "int", "s_acctbal" -> "double"
    ),
    "part" -> Seq(
      "p_partkey" -> "bigint", "p_name" -> "string", "p_brand" -> "string",
      "p_type" -> "string", "p_size" -> "int", "p_retailprice" -> "double"
    ),
    "orders" -> Seq(
      "o_orderkey" -> "bigint", "o_custkey" -> "bigint", "o_orderstatus" -> "string",
      "o_totalprice" -> "double", "o_orderdate" -> "timestamp_ntz", "o_orderpriority" -> "string"
    ),
    "lineitem" -> Seq(
      "l_orderkey" -> "bigint", "l_partkey" -> "bigint", "l_suppkey" -> "bigint",
      "l_linenumber" -> "int", "l_quantity" -> "double", "l_extendedprice" -> "double",
      "l_discount" -> "double", "l_tax" -> "double", "l_returnflag" -> "string",
      "l_linestatus" -> "string", "l_shipdate" -> "timestamp_ntz"
    ),
    "events" -> Seq(
      "event_id" -> "bigint", "ts" -> "(adaptive)", "user_id" -> "bigint",
      "event_type" -> "string", "value" -> "double", "props" -> "string"
    ),
    "documents" -> Seq(
      "doc_id" -> "bigint", "text" -> "string", "lang" -> "string",
      "source" -> "string", "n_chars" -> "bigint"
    ),
    "embeddings" -> Seq("vec_id" -> "bigint", "embedding" -> "array<float>", "label" -> "int")
  )

  /** Bytes at or below which an input fits one task: the optimized plan's
    * `sizeInBytes` estimate, which for a parquet scan is its compressed
    * size on disk scaled by the columns read.
    */
  val TinyBytes: Long = 2L << 20

  /** Whether `df`'s estimated size is at most [[TinyBytes]]. An estimate
    * that cannot be computed counts as not tiny, and so does a frame built
    * from an RDD, whose plan carries no size.
    */
  def fitsOneTask(df: DataFrame): Boolean =
    Try(df.queryExecution.optimizedPlan.stats.sizeInBytes).toOption.exists(_ <= TinyBytes)

  /** The placement rule for an operator's input, decided by its size:
    *  - an input that [[fitsOneTask]] runs in one partition (`coalesce(1)`,
    *    no shuffle). Its `SinglePartition` output satisfies every later
    *    `groupBy`, window and key join, so the planner adds no exchange and
    *    the operator runs as one stage. At this size the per-job and
    *    per-stage overhead costs more than the task CPU it would spread.
    *  - a larger input that arrives as fewer partitions than the cluster
    *    has cores (e.g. one parquet row group — row-group granularity caps
    *    split-based parallelism no matter what maxPartitionBytes says) is
    *    round-robined out to `defaultParallelism`, so a per-row heavy
    *    operator does not run on one core;
    *  - a wide input (any real at-scale table) passes through untouched.
    *
    * Bytes in are not work done. An operator that multiplies rows (pairs
    * from shared buckets or shingles) or runs a heavy kernel per row can
    * turn a tiny input into large work, and one partition runs all of it
    * on one core; a self-join over it also computes the shared side twice,
    * since no exchange is left to reuse. Where that work outweighs the
    * per-job overhead the single partition saves, the operator spreads its
    * rows after the step that multiplies them, not before: this function
    * places only the input.
    *
    * `widen` is idempotent: an input whose analyzed plan is already one
    * partition ([[onePartition]]) is returned as it is, so a consumer of
    * the one-partition `documents` artifact, or of an earlier `widen`,
    * plans no `Coalesce 1` over its scan. Coalescing such an input again
    * changes no placement, but the coalesce does not take part in
    * whole-stage codegen, so it cuts the consumer's pipeline in two.
    *
    * The width probe (`df.rdd.getNumPartitions`) forces physical planning,
    * so it runs only for an input that is not tiny, memoized per
    * semantically equal plan. That memo can go stale if the files behind a
    * path change mid-session (the spread decision is then off until the
    * cache cycles) and its 32-bit plan hash can in principle collide — both
    * bounded by the cap-and-clear policy; `widthCacheClear()` drops it.
    */
  def widen(df: DataFrame): DataFrame =
    if (onePartition(df.queryExecution.analyzed)) df
    else if (fitsOneTask(df)) df.coalesce(1)
    else {
      val target = df.sparkSession.sparkContext.defaultParallelism
      val key    = (df.sparkSession, df.queryExecution.analyzed.semanticHash())
      if (widthCache.size > WidthCacheMax) widthCache.clear() // bound memory + session pinning
      val nParts = widthCache.getOrElseUpdate(key, df.rdd.getNumPartitions)
      if (nParts < target) df.repartition(target) else df
    }

  /** Whether `plan` is one partition by construction, read from the
    * analyzed plan with no physical planning: a `coalesce(1)` or
    * `repartition(1)`, a `LogicalRDD` leaf that reports one partition (a
    * persisted or checkpointed one-partition frame), or a projection or
    * filter over one of these. A plan this cannot tell counts as not one
    * partition.
    */
  private def onePartition(plan: LogicalPlan): Boolean = plan match {
    case Repartition(1, _, _)        => true
    case r: LogicalRDD               => r.outputPartitioning.numPartitions == 1
    case p @ (_: Project | _: Filter) => onePartition(p.children.head)
    case _                           => false
  }

  private val WidthCacheMax = 1024
  private val widthCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, Int), Int]

  def widthCacheClear(): Unit = widthCache.clear()

  /** Columns whose DISTINCT count the oracle takes over the VARCHAR
    * rendering instead of the native value. Two cases:
    *   - MAP columns (events.props): Spark cannot hash/compare MapType in
    *     aggregates, so the stats pass groups on the string rendering
    *     (StatsPass.keyType) and the oracle mirrors it — both sides
    *     count distinct renderings (injective for these fixtures).
    *   - ARRAY<FLOAT> columns (embeddings.embedding): Spark distinct-counts
    *     the native array; DuckDB's native list distinct would too, but the
    *     rendering form keeps the oracle SQL uniform, and since
    *     shortest-roundtrip float rendering is injective both counts equal
    *     the number of distinct arrays. Pattern counts are 0 on both sides
    *     (no anchored bank regex matches a bracketed vector rendering), so
    *     the whole profile row is engine-portable.
    */
  def mapColumns(table: String): Set[String] = table match {
    case "events"     => Set("props")
    case "embeddings" => Set("embedding")
    case _            => Set.empty
  }

  /** Tables whose profile is declared against the DuckDB oracle — all of
    * them, including `embeddings` since round 2 (see [[mapColumns]] for the
    * render-distinct treatment of its vector column).
    */
  val oracleProfiled: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events",
    "documents", "embeddings"
  )

  /** Normalize `events.ts` to session-zone TimestampType regardless of how
    * the parquet writer encoded it. The driver has regenerated the testdata
    * with different encodings across rounds, so the loader adapts to the
    * SCANNED type instead of assuming one:
    *
    *   - LONG: the old TIMESTAMP(NANOS) files read under
    *     `spark.sql.legacy.parquet.nanosAsLong=true` (Spark cannot represent
    *     nanos natively) — convert nanos → µs (exact integer division,
    *     testdata values are µs-aligned) and re-stamp as a timestamp.
    *   - TIMESTAMP_NTZ: the current `timestamp[us]` files
    *     (isAdjustedToUTC=false) — cast to TimestampType. Every graft session
    *     pins `spark.sql.session.timeZone=UTC`, so the naive wall-clock is
    *     interpreted as UTC: renderings and `unix_micros` arithmetic agree
    *     with DuckDB's native read of the same file.
    *   - TIMESTAMP: already what downstream expects — pass through.
    *
    * Anything else is a loud failure (see [[preflight]]), never a silent
    * wrong answer.
    */
  def normalizeEventTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema("ts").dataType match {
      case LongType         => df.withColumn("ts", expr("timestamp_micros(ts DIV 1000)"))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType    => df
      case other =>
        throw new IllegalStateException(
          s"testdata schema changed: events.ts arrived as $other — " +
            "supported encodings are LONG (legacy nanos), TIMESTAMP_NTZ (timestamp[us]), TIMESTAMP"
        )
    }
  }

  /** Load a testdata table. `events.ts` is normalized to TimestampType
    * whatever the on-disk encoding (see [[normalizeEventTs]]). The read goes
    * through [[graft.io.Sources.readParquet]], so a repeat load of unchanged
    * files reuses the schema inferred by the first one (cached under the
    * path and the session's SQL conf, stamped with [[inputVersion]]) and
    * plans with no Spark job; a rewritten table is inferred afresh.
    */
  def load(spark: SparkSession, sfDir: String, table: String): DataFrame = {
    val df = graft.io.Sources.readParquet(spark, s"$sfDir/$table.parquet")
    if (table == "events") normalizeEventTs(df) else df
  }

  /** The version of the input under `path`: every file under it with its
    * size and modification time, in path order. Two reads of unchanged
    * files give the same string; rewriting the input changes it. Caches of
    * artifacts built from an input carry it in their key (the `documents`
    * artifact, the parquet schema cache), so a long-lived session never
    * serves a result of rows or columns that are gone. Throws when the path
    * cannot be listed (missing, or on a file system Hadoop cannot open).
    */
  def inputVersion(spark: SparkSession, path: String): String = {
    val p     = new org.apache.hadoop.fs.Path(path)
    val files = p.getFileSystem(spark.sparkContext.hadoopConfiguration).listFiles(p, true)
    val b     = Seq.newBuilder[String]
    while (files.hasNext) {
      val f = files.next()
      b += s"${f.getPath}:${f.getLen}:${f.getModificationTime}"
    }
    b.result().sorted.mkString(",")
  }

  /** Pre-flight schema guard for the gate mains (`Verify`, `Bench`): compare
    * the static catalog against the live parquet footers BEFORE running any
    * query, and fail with a loud per-column message on drift. The r8 round
    * lost its whole gate to a driver-side testdata regen that only a spec
    * caught — this makes the same check the first thing either main does.
    *
    * It reads the live footers with `spark.read.parquet`, never through the
    * schema cache of [[load]]: a guard against drift must not see a cached
    * schema.
    *
    * Returns the list of human-readable drift messages (empty = clean);
    * callers decide whether to abort.
    */
  def preflight(spark: SparkSession, sfDir: String): Seq[String] = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    columns.toSeq.sortBy(_._1).flatMap { case (t, cols) =>
      try {
        val live = spark.read.parquet(s"$sfDir/$t.parquet").schema
        val nameDrift =
          if (live.fieldNames.toSeq == cols) Nil
          else Seq(s"testdata schema changed: $t columns ${cols.mkString(",")} -> ${live.fieldNames.mkString(",")}")
        val typeDrift =
          if (nameDrift.nonEmpty) Nil // name mismatch already reported; per-column pairing is moot
          else dtypes(t).flatMap { case (c, expected) =>
            val actual = live(c).dataType.simpleString
            if (t == "events" && c == "ts")
              live(c).dataType match {
                case LongType | TimestampNTZType | TimestampType => Nil
                case other =>
                  Seq(s"testdata schema changed: events.ts -> ${other.simpleString} (no loader branch)")
              }
            else if (actual == expected) Nil
            else Seq(s"testdata schema changed: $t.$c $expected -> $actual")
          }
        nameDrift ++ typeDrift
      } catch {
        case e: Exception => Seq(s"testdata unreadable: $t: ${e.getMessage}")
      }
    }
  }
}
