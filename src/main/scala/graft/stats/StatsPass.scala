package graft.stats

import org.apache.spark.SparkContext
import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge, Row}
import org.apache.spark.sql.catalyst.expressions.{Cast, RowOrdering}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StringType, StructField}

import graft.model.ColumnStats
import graft.pattern.PatternRules

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.{Duration, SECONDS}

/** The distributed measurement layer of the profiler.
  *
  * The reference profiles column-at-a-time with a sequential pandas loop
  * (`pattern_classifier.py:116-123`); the Spark-native inversion measures
  * all columns in a few grouped passes over the table, so 100 TB are scanned
  * a bounded number of times and no data rows ever reach the driver — only
  * one aggregate row per column.
  *
  * Physical-plan shape: one grouped pass per batch of
  * [[Config.maxDistinctPerJob]] columns.
  *
  *  1. '''Expand''' — an explicit `inline(array(struct(g, k0..kn-1)))`
  *     in batch order turns each row into one row per column, `g` being the
  *     column's position in the input. Only `k_j` carries batch column j's
  *     value (its [[keyType]]: the raw value, or its string rendering when
  *     Spark cannot group the type); the other keys are typed nulls.
  *  2. '''Distinct values''' — `groupBy(g, k*)` with `count` yields each
  *     distinct (column, value) pair and its multiplicity. Partial
  *     aggregation runs map-side, so the exchange carries distinct values,
  *     not rows.
  *  3. '''One row per column''' — the pattern bank ([[MultiPatternMask]], or
  *     `rlike` when `nativePatternBank = false`) runs once per distinct value
  *     on `coalesce(k*.cast("string"))`, its matches weighted by the
  *     multiplicity, and `groupBy(g)` sums total, non-null, distinct and
  *     per-pattern counts: 3 + |bank| aggregate expressions whatever the
  *     table's width, and at most `maxDistinctPerJob` rows collected. A
  *     column with no `g` row (a 0-row input) reads all zeros.
  *
  * Why not `count(DISTINCT c)`: Spark rewrites several of them in one
  * aggregate into an `Expand` whose per-column projections come out in a
  * different order from one query to the next, so that generated code never
  * hits the codegen cache (a Janino compile per request), and mixing them
  * with regex sums multiplies the regex work by the column count. Here the
  * generated code depends only on the batch's columns, and the regex cost is
  * paid per distinct value, not per row.
  *
  * Grouping normalizes float and double keys (-0.0 to 0.0, every NaN to one
  * NaN), as `count(DISTINCT)` does, so a -0.0 is matched as "0.0". No
  * measured pattern tells those two renderings apart; `StatsPassSpec` pins
  * that.
  *
  * All batches run concurrently (Spark's scheduler interleaves their stages
  * across the executor pool), so wall-clock ≈ the slowest batch, not the
  * sum. Each job carries its caller's job group, description and tags (see
  * [[callerFuture]]).
  *
  * Small inputs ([[Config.autoRepartition]]): the input is placed by the
  * one size rule, [[graft.Tables.widen]].
  *  - A scan of at most [[graft.Tables.TinyBytes]] runs in one partition
  *    (`coalesce(1)`, no shuffle). Its `SinglePartition` output satisfies
  *    both `groupBy`s, so the planner inserts no exchange and each batch is
  *    one stage and one job.
  *  - A larger table that arrives as fewer scan partitions than the cluster
  *    has cores is round-robined to `defaultParallelism` partitions first.
  *  - Inputs that already have enough partitions are left as they are.
  *
  * Bytes are not work: the rule holds here because the grouped pass does
  * a bounded amount of work per input row (one row per measured column),
  * so a table that fits one task on disk fits one task's compute too.
  */
object StatsPass {

  final case class Config(
      /** [[computeBasic]] only: exact distinct counts through the grouped
        * pass, or `approx_count_distinct` (HyperLogLog++, no grouping) when
        * false. [[compute]] is always exact.
        */
      exactDistinct: Boolean = true,
      /** [[computeBasic]] only: relative accuracy for approx_count_distinct
        * when exactDistinct = false
        */
      approxRsd: Double = 0.01,
      /** collect first-K sample values (extra bounded scan); oracle-excluded */
      withSamples: Boolean = false,
      sampleK: Int = 5,
      /** rows scanned (from the head of the table) for the sample capture */
      sampleScanRows: Int = 1000,
      /** coalesce tiny inputs, widen other narrow ones (see scaladoc) */
      autoRepartition: Boolean = true,
      /** columns per grouped pass (bounds the expand multiplier) */
      maxDistinctPerJob: Int = 8,
      /** evaluate the pattern bank via the native [[MultiPatternMask]]
        * expression (one pass per value, reused matchers) instead of N
        * separate `rlike`s. Same results; flag exists as an escape hatch.
        */
      nativePatternBank: Boolean = true,
      /** upper bound on any one concurrent measurement job (a production
        * engine must not hang forever on a lost stage; was Duration.Inf)
        */
      awaitTimeoutSec: Long = 3600
  )

  /** A measurable column: its field, its position in the input, and the
    * type the pass groups it on ([[keyType]]).
    */
  private type Measured = (StructField, Int, DataType)

  /** Measure every column of `df`: non-null count, distinct count, and for
    * each anchored regex in [[PatternRules.measuredPatterns]] the number of
    * matching non-null stringified values. All counts are exact longs; the
    * decision cascade derives ratios deterministically.
    *
    * A column the pass can neither group nor render as a string is skipped
    * (the reference's per-column error isolation,
    * `pattern_classifier.py:117-123`), decided from its type before any job;
    * the returned seq preserves `df.columns` order for the surviving columns.
    */
  def compute(df: DataFrame, config: Config = Config()): Seq[ColumnStats] = {
    val stats = measure(df, config, withBank = true)
    if (!config.withSamples || stats.isEmpty) stats
    else {
      val samples = sampleValues(df, stats.map(_.name), config)
      stats.map(s => s.copy(sampleValues = samples(s.name)))
    }
  }

  /** Counts-only measurement: total / non-null / distinct per column, NO
    * regex work. This is the S1 `calculate_basic_stats` surface
    * (`base.py:140-152`) — cheaper than [[compute]] and the right pass when
    * the caller needs raw statistics, not classification. patternMatches is
    * empty in the result. Exact distinct counts take the same grouped pass
    * as [[compute]] without the bank; `exactDistinct = false` takes one
    * `approx_count_distinct` aggregate per batch instead.
    */
  def computeBasic(df: DataFrame, config: Config = Config()): Seq[ColumnStats] =
    measure(df, config, withBank = false)

  private def measure(df: DataFrame, config: Config, withBank: Boolean): Seq[ColumnStats] = {
    val columns = df.schema.fields.toSeq.zipWithIndex.flatMap { case (f, i) =>
      keyType(f.dataType).map(t => (f, i, t))
    }
    if (columns.isEmpty) return Seq.empty
    val data = maybeRepartition(df, config)

    implicit val ec: ExecutionContext = ExecutionContext.global
    val sc = df.sparkSession.sparkContext
    val passes = Future.traverse(columns.grouped(config.maxDistinctPerJob).toSeq) { batch =>
      callerFuture(sc) {
        if (withBank || config.exactDistinct) groupedPass(data, batch, withBank, config)
        else approxPass(data, batch, config)
      }
    }
    val counts = await(passes, config).flatten.toMap

    columns.map { case (f, i, _) =>
      val c = counts.getOrElse(i, Map.empty[String, Long]).withDefaultValue(0L)
      ColumnStats(
        name = f.name,
        totalRows = c("total"),
        nonNullCount = c("nn"),
        uniqueCount = c("uniq"),
        patternMatches =
          if (withBank) PatternRules.measuredPatterns.map(p => p.key -> c(p.key)).toMap
          else Map.empty
      )
    }
  }

  /** The type the pass groups a column on: its own type when Spark can
    * group it, else its string rendering (maps, variants, intervals: the
    * render-distinct deviation `Tables.mapColumns` mirrors in the oracle);
    * None when it can be neither, and the column is skipped.
    */
  private def keyType(t: DataType): Option[DataType] =
    if (RowOrdering.isOrderable(t)) Some(t)
    else if (Cast.canCast(t, StringType)) Some(StringType)
    else None

  /** One grouped pass over a batch of columns (see the object scaladoc):
    * position → total / nn / uniq and, `withBank`, one count per measured
    * pattern. Positions with no row (a 0-row input) are absent.
    */
  private def groupedPass(
      data: DataFrame,
      batch: Seq[Measured],
      withBank: Boolean,
      config: Config
  ): Map[Int, Map[String, Long]] = {
    val keys = batch.indices.map(j => col(s"k$j"))
    val entries = batch.zipWithIndex.map { case ((f, i, _), j) =>
      val ks = batch.zipWithIndex.map { case ((_, _, t), m) =>
        (if (m == j) rawCol(f).cast(t) else lit(null).cast(t)).as(s"k$m")
      }
      struct(lit(i).as("g") +: ks: _*)
    }
    val cnt     = col("cnt")
    val present = keys.map(_.isNotNull).reduce(_ || _)
    val counts  = Seq(sum(cnt).as("total"), sum(when(present, cnt)).as("nn"), count_if(present).as("uniq"))
    val matches =
      if (!withBank) Nil
      else
        bankSums(coalesce(keys.map(_.cast(StringType)): _*), cnt, config)
          .zip(PatternRules.measuredPatterns)
          .map { case (m, p) => m.as(p.key) }
    val aggs = counts ++ matches
    data
      .select(inline(array(entries: _*)))
      .groupBy(col("g") +: keys: _*)
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("g"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()
      .map(r => r.getInt(0) -> (1 until r.length).map(x => r.schema(x).name -> nullAsZero(r, x)).toMap)
      .toMap
  }

  /** [[computeBasic]] with `exactDistinct = false`: non-null counts and
    * `approx_count_distinct` of each column's key in one aggregate.
    */
  private def approxPass(data: DataFrame, batch: Seq[Measured], config: Config): Map[Int, Map[String, Long]] = {
    val aggs = count(lit(1)).as("total") +: batch.flatMap { case (f, i, t) =>
      Seq(
        count(rawCol(f)).as(s"c${i}__nn"),
        approx_count_distinct(rawCol(f).cast(t), config.approxRsd).as(s"c${i}__uniq")
      )
    }
    val r = data.agg(aggs.head, aggs.tail: _*).collect()(0)
    batch.map { case (_, i, _) =>
      i -> Map("total" -> r.getLong(0), "nn" -> r.getAs[Long](s"c${i}__nn"), "uniq" -> r.getAs[Long](s"c${i}__uniq"))
    }.toMap
  }

  /** A long aggregate field; null (a sum over no values) reads 0. */
  private def nullAsZero(r: Row, x: Int): Long = if (r.isNullAt(x)) 0L else r.getLong(x)

  /** The Spark local properties a measurement job takes from the thread that
    * asked for it. Never `spark.sql.execution.id`: each collect opens its own
    * SQL execution.
    */
  private val CallerProps =
    Seq("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel", "spark.job.tags")

  /** A future that runs `body` under the caller's [[CallerProps]]. A pool
    * thread inherits Spark's thread-local properties once, from whichever
    * thread created it, so without this a job would book to that thread's
    * job group and `cancelJobGroup` on the caller would miss it. The worker's
    * own values are restored afterwards.
    */
  private def callerFuture[T](sc: SparkContext)(body: => T)(implicit ec: ExecutionContext): Future[T] = {
    val caller = CallerProps.map(k => k -> sc.getLocalProperty(k))
    Future {
      val own = CallerProps.map(k => k -> sc.getLocalProperty(k))
      caller.foreach { case (k, v) => sc.setLocalProperty(k, v) }
      try body
      finally own.foreach { case (k, v) => sc.setLocalProperty(k, v) }
    }
  }

  /** Bounded await on a concurrent measurement job ([[Config.awaitTimeoutSec]]). */
  private def await[T](f: Future[T], config: Config): T =
    Await.result(f, Duration(config.awaitTimeoutSec, SECONDS))

  /** [[graft.Tables.widen]] unless [[Config.autoRepartition]] is off (see
    * object scaladoc).
    */
  private def maybeRepartition(df: DataFrame, config: Config): DataFrame =
    if (config.autoRepartition) graft.Tables.widen(df) else df

  private def rawCol(f: StructField): Column = col(s"`${f.name.replace("`", "``")}`")

  /** One unaliased sum per measured pattern: the `weight` of every value
    * whose string `s` matches it. Native mode evaluates the whole bank
    * through ONE [[MultiPatternMask]] expression; each pattern's count is
    * then a shift-and-test over the shared mask (null mask rows — null
    * values — are skipped by sum, matching rlike's null semantics).
    */
  private def bankSums(s: Column, weight: Column, config: Config): Seq[Column] =
    if (config.nativePatternBank) {
      val mask = GraftColumnBridge.column(
        MultiPatternMask(GraftColumnBridge.expression(s), PatternRules.measuredPatterns.map(_.regex))
      )
      PatternRules.measuredPatterns.indices.map(k => sum(shiftright(mask, k).bitwiseAND(lit(1L)) * weight))
    } else {
      PatternRules.measuredPatterns.map(p => sum(when(s.rlike(p.regex), weight).otherwise(0L)))
    }

  /** Per-row nn + one regex-match count per measured pattern for one column,
    * aliased by position (`c{i}__*`).
    */
  // private[graft]: MergeableStats builds its per-slice partials on this exact
  // construction so merged and full-scan profiles share one pattern-bank body,
  // and StatsPassSpec builds its per-row reference on it
  private[graft] def patternAggsFor(f: StructField, i: Int, config: Config): Seq[Column] = {
    val raw = rawCol(f)
    count(raw).as(s"c${i}__nn") +:
      bankSums(raw.cast("string"), lit(1L), config).zip(PatternRules.measuredPatterns).map {
        case (m, p) => m.as(s"c${i}__${p.key}")
      }
  }

  /** First-K non-null stringified values per column in stable (file) order,
    * captured from a bounded head scan. Reported for inspection only —
    * excluded from oracle hashes (SURVEY.md §2.1 S3: the reference's
    * "first 5 of a seeded shuffle" is not portable; we declare first-K in
    * table order instead). Reads the ORIGINAL df (not the repartitioned
    * one) so "table order" survives.
    */
  private def sampleValues(
      df: DataFrame,
      names: Seq[String],
      config: Config
  ): Map[String, Seq[String]] = {
    val head = df.limit(config.sampleScanRows)
    val aggs = names.zipWithIndex.map { case (n, i) =>
      val s = col(s"`${n.replace("`", "``")}`").cast("string")
      slice(collect_list(s), 1, config.sampleK).as(s"s$i")
    }
    val row = head.agg(aggs.head, aggs.tail: _*).collect()(0)
    names.zipWithIndex.map { case (n, i) =>
      n -> row.getSeq[String](row.fieldIndex(s"s$i")).toSeq
    }.toMap
  }
}
