package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming twin of [[graft.analytics.EventOps.dailyAnomalies]] — the
  * monitoring rule run CONTINUOUSLY: per event type, daily volumes are
  * accumulated in state, a day is SEALED when the watermark passes its end
  * (no more events for it can be admitted), and the sealed day is scored
  * against the trailing baseline of previously sealed days with the
  * identical exact-integer z-test the batch twin declares:
  *
  *   (m·x − S)² · (m−1)  >  z² · m · (m·S2 − S²)
  *
  * State per event type is BOUNDED: the open days inside the watermark
  * horizon (lateness/day-length many) plus a ring of the last `windowDays`
  * sealed (day, count) pairs — never raw events, never unbounded history.
  * |event types| keys × O(windowDays) longs is the whole state store.
  *
  * Agreement with the batch twin is spec-asserted (same fixture, sealed
  * days only) and holds under arrival disorder bounded by the watermark
  * delay — a later-than-that event is engine-dropped (fMGWS pre-filters
  * late input; spec-pinned) even when its day is still open, so size the
  * delay to the feed's real disorder. The batch form is the DuckDB-oracled
  * declaration (`anomalies_events`); this is the deployment shape for an
  * unbounded feed.
  */
object StreamingMonitor {

  /** One day's count in the sealed-history ring. */
  case class DayCount(day: Long, n: Long)

  /** Per-type state: open (unsealed) day counts + the sealed-history ring. */
  case class MonitorState(pending: Map[Long, Long], history: Seq[DayCount])

  /** A sealed, scored day — identical row shape to the batch twin. */
  case class ScoredDay(
      event_type: String,
      day: Long,
      n_events: Long,
      baseline_n: Long,
      is_anomaly: Boolean
  )

  private[streaming] case class TypedEvent(eventType: String, tMicros: Long, ts: java.sql.Timestamp)

  val MicrosPerDay = 86400000000L

  /** The exact z-test both twins share, in BigInt like the batch twin's
    * DECIMAL(38,0): dev² = (m·x−S)² leaves long range at a ~3× spike on a
    * 10⁸/day baseline, and a silently-wrapped score is worse than a slow one.
    * Runs once per sealed day, so the boxing cost is irrelevant.
    */
  private[streaming] def anomalous(
      x: Long,
      history: Seq[DayCount],
      z: Long,
      minBaseline: Int
  ): (Long, Boolean) = {
    val m = history.length.toLong
    if (m < minBaseline) (m, false)
    else {
      val mB  = BigInt(m)
      val s   = history.foldLeft(BigInt(0))(_ + _.n)
      val s2  = history.foldLeft(BigInt(0))((a, dc) => a + BigInt(dc.n) * dc.n)
      val dev = mB * x - s
      (m, dev * dev * (mB - 1) > BigInt(z * z) * mB * (mB * s2 - s * s))
    }
  }

  private[streaming] def monitorStateFn(windowDays: Int, z: Long, minBaseline: Int)(
      eventType: String,
      events: Iterator[TypedEvent],
      state: GroupState[MonitorState]
  ): Iterator[ScoredDay] = {
    val wmMicros = state.getCurrentWatermarkMs() * 1000L

    def sealAndScore(st: MonitorState): (Seq[ScoredDay], MonitorState) = {
      // a day is sealed once the watermark passes its exclusive end
      val (done, open) = st.pending.partition { case (day, _) => (day + 1) * MicrosPerDay <= wmMicros }
      var history = st.history
      val scored = done.toSeq.sortBy(_._1).map { case (day, n) =>
        val (m, anom) = anomalous(n, history, z, minBaseline)
        history = (history :+ DayCount(day, n)).takeRight(windowDays)
        ScoredDay(eventType, day, n, m, anom)
      }
      (scored, MonitorState(open, history))
    }

    def park(st: MonitorState): Unit = {
      state.update(st)
      if (st.pending.nonEmpty) {
        // wake when the earliest open day seals; strictly beyond the current
        // watermark (the Sessionize ms-truncation rule)
        val horizonMs = st.pending.keys.map(d => (d + 1) * MicrosPerDay / 1000L).min
        state.setTimeoutTimestamp(math.max(horizonMs, state.getCurrentWatermarkMs() + 1L))
      }
    }

    if (state.hasTimedOut) {
      val (out, next) = sealAndScore(state.get)
      park(next)
      return out.iterator
    }
    // Watermark-late rows never reach this function: fMGWS under
    // EventTimeTimeout drops input below the watermark BEFORE the state fn
    // runs (spec-pinned — StreamingMonitorSpec feeds one and observes the
    // drop). The filter here mirrors that engine contract so the sealing
    // invariant (a day emits exactly once) never rests on an upstream
    // behavior this file doesn't control. Consequence, and the monitor's
    // documented contract: batch-twin agreement assumes arrival disorder
    // bounded by the watermark delay — an event later than that is dropped
    // even when its day has not yet sealed, the standard watermark trade-off
    // (size the delay to the feed's real disorder in production).
    val st0 = state.getOption.getOrElse(MonitorState(Map.empty, Seq.empty))
    val pending = events
      .filter(_.tMicros >= wmMicros)
      .foldLeft(st0.pending) { (acc, e) =>
        val day = e.tMicros / MicrosPerDay
        acc.updated(day, acc.getOrElse(day, 0L) + 1L)
      }
    val (out, next) = sealAndScore(MonitorState(pending, st0.history))
    park(next)
    out.iterator
  }

  private val runCounter = new java.util.concurrent.atomic.AtomicInteger(0)

  /** The declared-query form: the monitor run over the events table AS A
    * STREAM (file source → 1s watermark → fMGWS → memory sink, AvailableNow)
    * and returned as the finished frame of sealed, scored days. Shares the
    * batch twin's oracle restricted to sealed days
    * ([[graft.analytics.EventOps.oracleDailyAnomalies]] with
    * `sealedDelayMs`): every day whose end the final watermark passed emits
    * exactly once, the last (open) day does not — the sealing discipline
    * itself is under the hash, not just the scoring arithmetic.
    *
    * Runs in a cloned session with the stateful shuffle sized to the stream
    * (the [[StreamJoin]] rule: state stores instantiate per shuffle
    * partition; |event types| keys need nothing like a batch-scan width).
    * AvailableNow still fires the sealing timeouts: after the last data
    * batch, the no-data microbatch (enabled by default) runs the event-time
    * timers against the final watermark.
    */
  def streamingAnomalyScores(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      windowDays: Int = 28,
      z: Int = 3,
      minBaseline: Int = 7
  ): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val path   = s"$dir/events.parquet"
    val schema = graft.io.Sources.readParquet(spark, path).schema
    val sess = StreamSession.cloned(spark, StreamJoin.StreamShufflePartitions)
    val stream = graft.Tables.normalizeEventTs(
      sess.readStream
        .schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(dir)
    ) // type-adaptive ts decode
      // timed-event doctrine: a NULL event time cannot ride a watermark (it
      // crashes the stateful aggregation) and the batch oracle excludes it
      .where(col("ts").isNotNull)
      .withWatermark("ts", "1 second")
    val name = s"graft_stream_anomalies_${runCounter.incrementAndGet()}"
    val q = streamingAnomalies(stream, windowDays, z, minBaseline)
      .writeStream
      .format("memory")
      .queryName(name)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    sess.table(name).orderBy("event_type", "day")
  }

  /** Streaming anomaly monitor over a watermarked event stream: the stream
    * of sealed, scored days (append semantics — each day emits exactly once).
    */
  def streamingAnomalies(
      events: DataFrame,
      windowDays: Int = 28,
      z: Int = 3,
      minBaseline: Int = 7
  ): Dataset[ScoredDay] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(
        col("event_type").as("eventType"),
        unix_micros(col("ts")).as("tMicros"),
        col("ts"))
      .as[TypedEvent]
      .groupByKey(_.eventType)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        monitorStateFn(windowDays, z.toLong, minBaseline)
      )
  }
}
