package graft.stats

import org.apache.spark.SparkContext
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{MapType, StructField}

import graft.model.ColumnStats
import graft.pattern.PatternRules

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.{Duration, SECONDS}
import scala.util.{Failure, Success, Try}

/** The distributed measurement layer of the profiler.
  *
  * The reference profiles column-at-a-time with a sequential pandas loop
  * (`pattern_classifier.py:116-123`); the Spark-native inversion computes all
  * per-column measurements as a small number of multi-aggregate passes over
  * the table (partial per-partition aggregation → 1-row exchange → final
  * aggregation, whole-stage codegen), so 100 TB are scanned a bounded number
  * of times and no data rows ever reach the driver — only rows of aggregate
  * buffers.
  *
  * Physical-plan shape (deliberate, round-2 redesign):
  *
  *  1. '''Regex job(s)''' — `count(1)` + per-column non-null counts + one
  *     `sum(when(rlike))` per measured pattern. NO distinct aggregates here:
  *     mixing exact `count(DISTINCT c1..cN)` with other aggregates plans
  *     through `Expand` (an (N+1)× row multiplication) and would multiply the
  *     regex work by the column count. Columns are batched so each job stays
  *     under [[Config.maxAggExprsPerJob]] aggregate expressions — beyond that
  *     the generated `WholeStageCodegen` method exceeds the JVM 8 KB JIT /
  *     64 KB method limits and Spark silently falls back to interpreted
  *     evaluation (observed as "Broadcasting large task binary" + a 10×+
  *     slowdown).
  *  2. '''Distinct job(s)''' — exact `count(DISTINCT c)` batched
  *     [[Config.maxDistinctPerJob]] columns at a time, so the unavoidable
  *     Expand multiplies only cheap counting (never the regex work) and is
  *     bounded. At the 100 TB design point set `exactDistinct = false`:
  *     `approx_count_distinct` (HyperLogLog++) needs no Expand at all and
  *     collapses this to one extra aggregate in pass 1's shape.
  *
  * All batch jobs are submitted concurrently (Spark's scheduler interleaves
  * their stages across the executor pool), so wall-clock ≈ the slowest batch,
  * not the sum. Each job carries its caller's job group, description and
  * tags (see [[callerFuture]]).
  *
  * Small-input parallelism: a table that arrives as fewer scan partitions
  * than the cluster has cores (e.g. one parquet row group — row-group
  * granularity caps split-based parallelism no matter what
  * `maxPartitionBytes` says) would run the whole regex workload in one task.
  * [[Config.autoRepartition]] round-robins such inputs to
  * `defaultParallelism` partitions first; the pre-aggregation shuffle is a
  * few MB and buys full-width execution. Inputs that already have enough
  * partitions (any real at-scale table) are left untouched — no shuffle.
  */
object StatsPass {

  final case class Config(
      exactDistinct: Boolean = true,
      /** relative accuracy for approx_count_distinct when exactDistinct=false */
      approxRsd: Double = 0.01,
      /** collect first-K sample values (extra bounded scan); oracle-excluded */
      withSamples: Boolean = false,
      sampleK: Int = 5,
      /** rows scanned (from the head of the table) for the sample capture */
      sampleScanRows: Int = 1000,
      /** repartition inputs narrower than defaultParallelism (see scaladoc) */
      autoRepartition: Boolean = true,
      /** aggregate-expression cap per regex job (whole-stage-codegen budget) */
      maxAggExprsPerJob: Int = 80,
      /** exact-distinct columns per job (bounds the Expand multiplier) */
      maxDistinctPerJob: Int = 8,
      /** evaluate the pattern bank via the native [[MultiPatternMask]]
        * expression (one pass per value, reused matchers) instead of N
        * separate `rlike`s. Same results; flag exists as an escape hatch.
        */
      nativePatternBank: Boolean = true,
      /** measure pattern ratios on a seeded Bernoulli sample instead of the
        * full column — the 100 TB escape hatch when full-column regex cost
        * dominates (SURVEY §7.5 risk 6). Counts stay full-scan exact (they
        * are cheap); only the regex job samples, and the decision cascade
        * consumes RATIOS, which converge. Not oracle-portable (sampling is
        * engine-specific) — keep None for declared queries.
        */
      patternSampleFraction: Option[Double] = None,
      patternSampleSeed: Long = 42L,
      /** adaptive low-cardinality strategy: a column whose distinct count
        * (from the distinct job, which completes first) is at or below this
        * threshold has its pattern bank evaluated over its DISTINCT VALUES —
        * group-by-value (map-side combinable, tiny exchange) then
        * count-weighted pattern sums over ≤ threshold rows — instead of over
        * every row. On real tables most non-key columns are low-cardinality,
        * so this removes the bulk of the regex work; results are exactly
        * identical. 0 disables. MapType columns are excluded (not
        * groupable).
        */
      lowCardThreshold: Int = 4096,
      /** scans at or below this many bytes (catalog/file-size estimate,
        * compressed) skip the adaptive low-cardinality strategy: its regex
        * savings are real only when the table is large enough that
        * |rows| ≫ |distinct|, while its cost — serializing the regex jobs on
        * the distinct job's completion — is a fixed extra scheduling round
        * that DOMINATES small and medium scans (r2 verdict: profile_nation,
        * 25 rows, 4.3 s of pure orchestration). Under the threshold, regex
        * and distinct jobs all launch concurrently instead. Results are
        * exactly identical either way. 0 disables.
        */
      smallScanBytes: Long = 64L << 20,
      /** scans at or below this many bytes also skip the widening
        * repartition — the extra exchange buys nothing when the whole table
        * fits in one task's stride.
        */
      tinyScanBytes: Long = 2L << 20,
      /** upper bound on any one concurrent measurement job (a production
        * engine must not hang forever on a lost stage; was Duration.Inf)
        */
      awaitTimeoutSec: Long = 3600
  )

  /** Measure every column of `df`: non-null count, distinct count, and for
    * each anchored regex in [[PatternRules.measuredPatterns]] the number of
    * matching non-null stringified values. All counts are exact longs; the
    * decision cascade derives ratios deterministically.
    *
    * Columns whose aggregate expressions fail to build are skipped (the
    * reference's per-column error isolation, `pattern_classifier.py:117-123`);
    * the returned seq preserves `df.columns` order for the surviving columns.
    */
  def compute(df: DataFrame, config0: Config = Config()): Seq[ColumnStats] = {
    val fields: Seq[StructField] = df.schema.fields.toSeq
    if (fields.isEmpty) return Seq.empty

    // Try isolates bad columns; positional index i keys the aliases so
    // arbitrary column names never collide with alias syntax.
    val perColumn: Seq[(StructField, Int)] =
      fields.zipWithIndex.flatMap { case (f, i) =>
        Try(patternAggsFor(f, i, config0)) match {
          case Success(_) => Some((f, i))
          case Failure(_) => None
        }
      }
    if (perColumn.isEmpty) return Seq.empty

    // Small/medium scans: drop the adaptive low-card strategy (and its
    // serializing distinct round); tiny scans also skip the widen shuffle.
    // See Config.smallScanBytes / tinyScanBytes.
    val est = scanSizeEstimate(df)
    val config =
      if (config0.smallScanBytes > 0 && config0.patternSampleFraction.isEmpty &&
          est.exists(_ <= config0.smallScanBytes))
        config0.copy(
          lowCardThreshold = 0,
          autoRepartition = config0.autoRepartition && est.exists(_ > config0.tinyScanBytes)
        )
      else config0

    val data = maybeRepartition(df, config)

    // --- job set A sizing: counts + regex sums batched under the codegen
    // budget (applies to the high-cardinality full-scan path)
    val exprsPerColumn = 1 + PatternRules.measuredPatterns.size // nn + patterns
    val colsPerBatch   = math.max(1, config.maxAggExprsPerJob / exprsPerColumn)

    // --- job set B: distinct counts only, batched to bound Expand ----------
    val distinctBatches: Seq[Seq[(StructField, Int)]] =
      if (config.exactDistinct) perColumn.grouped(config.maxDistinctPerJob).toSeq
      else Seq(perColumn) // approx_count_distinct: no Expand, one job is fine

    implicit val ec: ExecutionContext = ExecutionContext.global
    val sc = df.sparkSession.sparkContext

    val distinctF = Future.traverse(distinctBatches) { batch =>
      callerFuture(sc) {
        val aggs = batch.map { case (f, i) => distinctAggFor(f, i, config) }
        data.agg(aggs.head, aggs.tail: _*).collect()(0)
      }
    }

    // index per-batch rows by alias
    def lookup(rows: Seq[Row], name: String): Long = {
      rows.iterator.flatMap { r =>
        Try(r.fieldIndex(name)).toOption.map(idx => if (r.isNullAt(idx)) 0L else r.getLong(idx))
      }.next()
    }

    // Adaptive mode serializes on the (cheap) distinct results to pick each
    // column's pattern strategy; with the adaptive path disabled the regex
    // jobs launch concurrently with the distinct jobs — no strategy to pick.
    val distinctRowsEarly: Option[Seq[Row]] =
      if (config.lowCardThreshold > 0) Some(await(distinctF, config)) else None

    val (lowCard, highCard) = perColumn.partition { case (f, i) =>
      distinctRowsEarly.exists { rows =>
        !f.dataType.isInstanceOf[MapType] &&
        lookup(rows, s"c${i}__uniq") <= config.lowCardThreshold
      }
    }

    // --- low-card columns: pattern bank over DISTINCT VALUES, count-weighted
    val lowF = Future.traverse(lowCard) { case (f, i) =>
      callerFuture(sc)(lowCardPatternRow(data, f, i, config))
    }

    // --- high-card columns: full scan (or seeded sample) in codegen batches
    val regexData = config.patternSampleFraction match {
      case Some(fr) => data.sample(withReplacement = false, fr, config.patternSampleSeed)
      case None     => data
    }
    val highBatches = highCard.grouped(colsPerBatch).toSeq
    val regexF = Future.traverse(highBatches) { batch =>
      callerFuture(sc) {
        val aggs = count(lit(1)).as("__total") +: batch.flatMap { case (f, i) => patternAggsFor(f, i, config) }
        regexData.agg(aggs.head, aggs.tail: _*).collect()(0)
      }
    }
    // full-scan counts job: needed when sampling (regex counts are sampled)
    // or when every column went low-card but we still want a canonical total
    val needCountJob = config.patternSampleFraction.isDefined && highCard.nonEmpty
    val countF: Option[Future[Row]] =
      if (needCountJob) Some(callerFuture(sc) {
        val aggs = count(lit(1)).as("__total") +: highCard.map { case (f, i) =>
          count(rawCol(f)).as(s"c${i}__nn")
        }
        data.agg(aggs.head, aggs.tail: _*).collect()(0)
      })
      else None

    val regexRows    = await(regexF, config)
    val lowRows      = await(lowF, config)
    val countRows    = countF.map(f => Seq(await(f, config)))
    val distinctRows = distinctRowsEarly.getOrElse(await(distinctF, config))

    val patternKeys = PatternRules.measuredPatterns.map(_.key)

    // counts: sampled regex rows are NOT a valid full-count source
    val fullCountRows =
      countRows.getOrElse(Seq.empty) ++ lowRows ++
        (if (config.patternSampleFraction.isEmpty) regexRows else Seq.empty)
    val patternRows = lowRows ++ regexRows
    val total       = lookup(fullCountRows, "__total")
    val highCardIdx = highCard.map(_._2).toSet

    val samples: Map[String, Seq[String]] =
      if (config.withSamples) sampleValues(df, perColumn.map(_._1.name), config)
      else Map.empty

    perColumn.map { case (f, i) =>
      val nn   = lookup(fullCountRows, s"c${i}__nn")
      val uniq = lookup(distinctRows, s"c${i}__uniq")
      val matches = patternKeys.map(k => k -> lookup(patternRows, s"c${i}__$k")).toMap
      val sampledNn =
        if (config.patternSampleFraction.isDefined && highCardIdx.contains(i))
          Some(lookup(regexRows, s"c${i}__nn"))
        else None
      ColumnStats(
        name = f.name,
        totalRows = total,
        nonNullCount = nn,
        uniqueCount = uniq,
        patternMatches = matches,
        sampleValues = samples.getOrElse(f.name, Seq.empty),
        patternDenominator = sampledNn
      )
    }
  }

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

  /** Compressed-bytes size estimate of the scan (file listing / catalog
    * stats). None if unavailable — callers fall closed to the at-scale path.
    */
  private def scanSizeEstimate(df: DataFrame): Option[BigInt] =
    Try(df.queryExecution.optimizedPlan.stats.sizeInBytes).toOption

  /** Low-cardinality pattern measurement for one column: group by value
    * (map-side combinable — the exchange carries at most `lowCardThreshold`
    * rows per partition), then evaluate the pattern bank ONCE per distinct
    * value and weight by the group count. Exactly the same counts as the
    * full scan, with the regex work reduced from |rows| to |distinct|.
    */
  private def lowCardPatternRow(data: DataFrame, f: StructField, i: Int, config: Config): Row = {
    val grouped = data.groupBy(rawCol(f).as("__v")).agg(count(lit(1)).as("__cnt"))
    val v = col("__v")
    val s = v.cast("string")
    val matches =
      if (config.nativePatternBank) {
        val mask = org.apache.spark.sql.GraftColumnBridge.column(
          MultiPatternMask(
            org.apache.spark.sql.GraftColumnBridge.expression(s),
            PatternRules.measuredPatterns.map(_.regex)
          )
        )
        PatternRules.measuredPatterns.zipWithIndex.map { case (p, k) =>
          sum(shiftright(mask, k).bitwiseAND(lit(1L)) * col("__cnt")).as(s"c${i}__${p.key}")
        }
      } else {
        PatternRules.measuredPatterns.map { p =>
          sum(when(s.rlike(p.regex), col("__cnt")).otherwise(0L)).as(s"c${i}__${p.key}")
        }
      }
    val aggs =
      sum(col("__cnt")).as("__total") +:
        sum(when(v.isNotNull, col("__cnt")).otherwise(0L)).as(s"c${i}__nn") +:
        matches
    grouped.agg(aggs.head, aggs.tail: _*).collect()(0)
  }

  /** Counts-only measurement: total / non-null / distinct per column, NO
    * regex work. This is the S1 `calculate_basic_stats` surface
    * (`base.py:140-152`) — an order of magnitude cheaper than [[compute]]
    * and the right pass when the caller needs raw statistics, not
    * classification. patternMatches is empty in the result.
    */
  def computeBasic(df: DataFrame, config: Config = Config()): Seq[ColumnStats] = {
    val fields: Seq[StructField] = df.schema.fields.toSeq
    if (fields.isEmpty) return Seq.empty
    val perColumn = fields.zipWithIndex
    val data = maybeRepartition(df, config)

    val batches = perColumn.grouped(config.maxDistinctPerJob).toSeq
    implicit val ec: ExecutionContext = ExecutionContext.global
    val rowsF = Future.traverse(batches) { batch =>
      callerFuture(df.sparkSession.sparkContext) {
        val aggs = count(lit(1)).as("__total") +: batch.flatMap { case (f, i) =>
          Seq(count(rawCol(f)).as(s"c${i}__nn"), distinctAggFor(f, i, config))
        }
        data.agg(aggs.head, aggs.tail: _*).collect()(0)
      }
    }
    val rows = await(rowsF, config)
    val total = rows.head.getAs[Long]("__total")
    def lookup(name: String): Long =
      rows.iterator.flatMap { r =>
        Try(r.fieldIndex(name)).toOption.map(idx => if (r.isNullAt(idx)) 0L else r.getLong(idx))
      }.next()

    perColumn.map { case (f, i) =>
      ColumnStats(
        name = f.name,
        totalRows = total,
        nonNullCount = lookup(s"c${i}__nn"),
        uniqueCount = lookup(s"c${i}__uniq"),
        patternMatches = Map.empty,
        sampleValues = Seq.empty
      )
    }
  }

  /** Round-robin small inputs out to cluster width (no-op for wide inputs —
    * see object scaladoc; delegates to the memoized [[graft.Tables.widen]]).
    */
  private def maybeRepartition(df: DataFrame, config: Config): DataFrame =
    if (!config.autoRepartition) df else graft.Tables.widen(df)

  private def rawCol(f: StructField): Column = col(s"`${f.name.replace("`", "``")}`")

  /** nn + one regex-match count per measured pattern for one column, aliased
    * by position (`c{i}__*`). Native mode evaluates the whole bank through
    * ONE [[MultiPatternMask]] expression per column; each pattern's count is
    * then a shift-and-test sum over the shared mask (null mask rows — null
    * values — are skipped by sum, matching rlike's null semantics).
    */
  // private[stats]: MergeableStats builds its per-slice partials on this exact
  // construction so merged and full-scan profiles share one pattern-bank body
  private[stats] def patternAggsFor(f: StructField, i: Int, config: Config): Seq[Column] = {
    val raw = rawCol(f)
    val s   = raw.cast("string")
    val nn  = count(raw).as(s"c${i}__nn")
    val matches =
      if (config.nativePatternBank) {
        val mask = org.apache.spark.sql.GraftColumnBridge.column(
          MultiPatternMask(
            org.apache.spark.sql.GraftColumnBridge.expression(s),
            PatternRules.measuredPatterns.map(_.regex)
          )
        )
        PatternRules.measuredPatterns.zipWithIndex.map { case (p, k) =>
          sum(shiftright(mask, k).bitwiseAND(lit(1L))).as(s"c${i}__${p.key}")
        }
      } else {
        PatternRules.measuredPatterns.map { p =>
          sum(when(s.rlike(p.regex), 1L).otherwise(0L)).as(s"c${i}__${p.key}")
        }
      }
    nn +: matches
  }

  /** Exact or approximate distinct-count aggregate for one column.
    * MapType is not comparable/hashable in Spark aggregates; distinct-count
    * its string rendering instead (documented deviation for exotic columns,
    * mirrored in OracleGen).
    */
  private def distinctAggFor(f: StructField, i: Int, config: Config): Column = {
    val raw = rawCol(f)
    val distinctTarget = f.dataType match {
      case _: MapType => raw.cast("string")
      case _          => raw
    }
    if (config.exactDistinct) count_distinct(distinctTarget).as(s"c${i}__uniq")
    else approx_count_distinct(distinctTarget, config.approxRsd).as(s"c${i}__uniq")
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
