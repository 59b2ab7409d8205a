package graft.streaming

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Stream-stream interval join over the events stream — the last Structured
  * Streaming operator family the engine lacked (windowed agg, fMGWS
  * sessionization and first-seen dedup are covered by the other streaming
  * modules): each purchase joined to the same user's view events in the
  * preceding attribution window.
  *
  * Streaming shape: two file-source streams, BOTH watermarked (the view
  * side's delay ≥ the purchase side's + the join window, the state-cleanup
  * requirement), inner equi-join on user_id with an event-time range
  * predicate, append mode. Spark buffers each side's rows in join state and
  * evicts them once the other side's watermark passes `ts + window` — state
  * is bounded by (event rate × window), never by stream length, which is
  * what makes the same plan deployable against an unbounded feed.
  *
  * The declared query runs this stream to completion with
  * `Trigger.AvailableNow` — identical results to the batch interval join, so
  * it shares the batch twin's DuckDB oracle. All time math is integer
  * microseconds (`unix_micros`/`epoch_us`), no float time.
  *
  * At 100 TB the batch form of this join is the bucketized-range-join shape
  * (`analytics/RangeJoin`); the streaming form here is the LIVE variant: the
  * equi-key (user_id) drives the shuffle, the time predicate prunes state.
  */
object StreamJoin {

  val DefaultWindowSeconds = 3600L

  private val runCounter = new AtomicInteger(0)

  /** Batch twin: (purchase event, prior view events of the same user within
    * `windowSeconds`), deterministically ordered. Column names match the
    * streaming variant and the oracle.
    */
  def batchAttribution(events: DataFrame, windowSeconds: Long = DefaultWindowSeconds): DataFrame = {
    // timed-event doctrine (EventOps.timed): the join predicates already
    // exclude NULL-ts rows (NULL comparisons), so this changes no output —
    // it keeps the frame aligned with the streaming twin, whose watermark
    // cannot carry a NULL event time
    // no widen() (r19): both tiers are filter+project straight into the
    // user-key join exchange — no heavy per-row work to parallelize
    val e = events.where(col("ts").isNotNull)
    val p = e.where(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"), unix_micros(col("ts")).as("p_t"))
    val v = e.where(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id"), unix_micros(col("ts")).as("v_t"))
    joinShape(p, v, windowSeconds)
  }

  /** The join+projection both variants share: equi-join on user_id, integer-µs
    * range predicate, stable output order.
    */
  private def joinShape(p: DataFrame, v: DataFrame, windowSeconds: Long): DataFrame = {
    val winUs = windowSeconds * 1000000L
    p.join(
        v,
        p("user_id") === v("user_id") &&
          v("v_t") >= p("p_t") - winUs &&
          v("v_t") <= p("p_t"),
        "inner"
      )
      .select(
        col("purchase_id"),
        col("view_id"),
        p("user_id").as("user_id"),
        (col("p_t") - col("v_t")).as("gap_us")
      )
      .orderBy("purchase_id", "view_id")
  }

  /** Streaming attribution join, run to completion with AvailableNow and
    * returned as a finished frame (the declared-query form; the identical
    * plan with a processing-time trigger is the production deployment).
    */
  def streamingAttribution(
      spark: SparkSession,
      dir: String,
      windowSeconds: Long = DefaultWindowSeconds
  ): DataFrame = {
    val path   = s"$dir/events.parquet"
    val schema = graft.io.Sources.readParquet(spark, path).schema

    // a stream-stream join instantiates one state store PER SHUFFLE PARTITION
    // per side per microbatch — the partition count is a throughput knob, not
    // a session constant; see StreamSession for the shared clone recipe
    val sess = StreamSession.cloned(spark, StreamShufflePartitions)
    // No-data micro-batches exist to evict state and emit watermark-gated
    // output; an APPEND-MODE INNER join emits every match in the data batch
    // that produced it, so the trailing no-data batch of this run-to-
    // completion query re-instantiates every state store only to evict rows
    // nobody will read (audited r20: batch 1 carries rows=0, drops state
    // 40025→209, costs ~1.6 s of pure machinery at sf0.1 — StreamBatchProbe,
    // identical output either way). Scoped to THIS clone: the windowed-agg
    // and timeout-based twins NEED their no-data batches to flush
    // watermark-gated results, so the session default stays on.
    sess.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")

    def source(): DataFrame = graft.Tables.normalizeEventTs(
      sess.readStream
        .schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(dir)
    ).where(col("ts").isNotNull) // type-adaptive ts decode; timed-event doctrine

    // view-side watermark delay must cover the purchase-side delay PLUS the
    // join window, or correct matches could be evicted before their
    // purchase arrives (the standard interval-join state rule)
    val purchases = source()
      .where(col("event_type") === "purchase")
      .withWatermark("ts", "2 hours")
      .select(col("event_id").as("purchase_id"), col("user_id"), col("ts").as("p_ts"))
    val views = source()
      .where(col("event_type") === "view")
      .withWatermark("ts", s"${2 * 3600 + windowSeconds} seconds")
      .select(col("event_id").as("view_id"), col("user_id").as("v_user_id"), col("ts").as("v_ts"))

    // the range predicate is expressed on the watermarked timestamp columns
    // directly (not through unix_micros) so the streaming planner recognizes
    // it and derives per-side state watermarks for eviction
    val joined = purchases
      .join(
        views,
        col("user_id") === col("v_user_id") &&
          col("v_ts") >= col("p_ts") - expr(s"INTERVAL $windowSeconds SECONDS") &&
          col("v_ts") <= col("p_ts"),
        "inner"
      )
      .select(
        col("purchase_id"),
        col("view_id"),
        col("user_id"),
        (unix_micros(col("p_ts")) - unix_micros(col("v_ts"))).as("gap_us")
      )

    val name = s"graft_stream_join_${runCounter.incrementAndGet()}"
    val q = joined.writeStream
      .format("memory")
      .queryName(name)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    sess.table(name).orderBy("purchase_id", "view_id")
  }

  /** Stateful-shuffle width of the declared streaming query (state stores
    * scale with it; 8 covers the bench corpus with headroom — a production
    * deployment sizes this to event rate × window).
    */
  val StreamShufflePartitions = 8

  def oracleAttribution(windowSeconds: Long = DefaultWindowSeconds): String = {
    val winUs = windowSeconds * 1000000L
    s"""SELECT p.event_id AS purchase_id, v.event_id AS view_id, p.user_id,
       |  epoch_us(p.ts) - epoch_us(v.ts) AS gap_us
       |FROM events p JOIN events v
       |  ON p.user_id = v.user_id
       | AND p.event_type = 'purchase' AND v.event_type = 'view'
       | AND epoch_us(v.ts) >= epoch_us(p.ts) - $winUs
       | AND epoch_us(v.ts) <= epoch_us(p.ts)
       |ORDER BY purchase_id, view_id""".stripMargin
  }
}
