package graft.streaming

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.DecimalType

/** Structured-Streaming profiling of the events stream (SURVEY.md §7.5
  * extension; the reference's declared-but-unbuilt Celery/Redis streaming
  * path re-expressed as watermarked windowed aggregation).
  *
  * The declared query runs the stream to completion with
  * `Trigger.AvailableNow` in Complete output mode — identical semantics to
  * the batch equivalent, so it is DuckDB-oracle-checkable (`time_bucket`).
  * The production shape for an unbounded feed changes the trigger AND the
  * output mode: under Complete the watermark evicts nothing (every window
  * ever seen stays in state and the whole result replays into the sink each
  * micro-batch — fine for a finite AvailableNow run, unbounded growth on a
  * real feed), whereas Append emits each window once when the watermark
  * seals it and evicts its state ([[StreamingMonitor]] is that discipline,
  * declared and oracle-gated).
  *
  * Cross-engine numerics: event values sum as DECIMAL(18,6) (the data is
  * exactly 6-decimal, so decimal summation is exact and order-free — double
  * summation would be partition-order-dependent). Window starts are declared
  * as epoch-second BIGINTs (hour-aligned, so exact) rather than timestamps,
  * keeping the comparison dtype-stable across engines.
  */
object StreamingProfiler {

  private val runCounter = new AtomicInteger(0)

  /** Hourly per-event-type counts and exact value sums over the events table
    * consumed AS A STREAM (file source → watermark → windowed agg → memory
    * sink, AvailableNow). Returns the finished result, ordered.
    */
  def eventWindowCounts(spark: SparkSession, dir: String): DataFrame = {
    val path   = s"$dir/events.parquet"
    val schema = graft.io.Sources.readParquet(spark, path).schema
    // the file-stream source wants a directory; glob-filter to the one table
    val stream = spark.readStream
      .schema(schema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir)
    val events = graft.Tables.normalizeEventTs(stream) // type-adaptive ts decode
      // timed-event doctrine: a NULL event time has no window; the batch
      // oracle carries the same exclusion
      .where(col("ts").isNotNull)
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        // finite-measure rule: NaN/Inf have no decimal representation — a
        // hostile feed's non-finite value must not poison the exact sum
        // (Spark nulls the cast where DuckDB ERRORS on it, so without the
        // shared isfinite/isnan guard the twins diverge; r11 sweep)
        sum(when(!isnan(col("value")) && col("value").between(
            Double.MinValue, Double.MaxValue),
          col("value")).cast(DecimalType(18, 6))).as("total_value")
      )
      .select(
        col("w.start").cast("long").as("window_start"),
        col("event_type"),
        col("n_events"),
        // decimal → double only at the edge: the exact decimal sum converts
        // to the same nearest-double in every engine (dtype-stable output)
        col("total_value").cast("double").as("total_value")
      )

    val name = s"graft_stream_events_${runCounter.incrementAndGet()}"
    val q = events.writeStream
      .format("memory")
      .queryName(name)
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(name).orderBy("window_start", "event_type")
  }

  def oracleEventWindowCounts: String =
    """SELECT CAST(epoch(time_bucket(INTERVAL '1 hour', ts)) AS BIGINT) AS window_start,
      |  event_type,
      |  count(*) AS n_events,
      |  CAST(sum(CASE WHEN isfinite(value) THEN CAST(value AS DECIMAL(18,6)) END) AS DOUBLE) AS total_value
      |FROM events
      |WHERE ts IS NOT NULL
      |GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin
}
