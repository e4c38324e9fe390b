package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types._

/** Structured Streaming operators over the events stream (SURVEY §2.9:
  * the reference is batch-only; this is the engine's declared streaming
  * extension, exercising the standard Spark streaming surface —
  * watermarks, event-time windows, stateful sessionization).
  *
  * Every transform is written against an unbounded DataFrame, so the
  * SAME code runs in three modes:
  *  - true streaming (`readStream` + a continuous trigger),
  *  - incremental batch (`Trigger.AvailableNow` — process everything
  *    available, then stop; the cloud-ETL "catch-up" mode),
  *  - plain batch (apply to a static frame) — which is how the tests
  *    prove streaming/batch equivalence.
  *
  * Scale notes: windowed aggregation state is keyed by (window, key) —
  * uniform shuffle; the watermark bounds state size (late data beyond
  * it is dropped); sessionization state is per user_id with an
  * inactivity timeout so the state store cannot grow without bound.
  */
object EventStream {

  /** Event schema matching the driver testdata (ts arrives as long
    * nanos through [[graft.Tables.events]]' µs truncation in batch; a
    * real deployment would read typed timestamps directly). */
  val schema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Unbounded source over a directory of parquet event files. */
  def readStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(schema).parquet(dir)

  /** Tumbling event-time window per event type: 1-hour buckets of
    * count / sum / max, tolerating 10 minutes of event-time disorder. */
  def tumblingCounts(events: DataFrame): DataFrame = events
    .withWatermark("ts", "10 minutes")
    .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
    .agg(count(lit(1)).as("n"),
      round(sum("value"), 2).as("total_value"),
      round(max("value"), 2).as("max_value"))
    .select(col("w.start").as("window_start"), col("event_type"),
      col("n"), col("total_value"), col("max_value"))

  /** Sliding window (1 hour every 15 minutes) per-user activity rate —
    * each event lands in 4 overlapping windows. */
  def slidingUserActivity(events: DataFrame): DataFrame = events
    .withWatermark("ts", "10 minutes")
    .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"), col("user_id"))
    .agg(count(lit(1)).as("n_events"))
    .select(col("w.start").as("window_start"), col("user_id"), col("n_events"))

  /** Streaming exact dedup: drop replays of the same event id, with
    * the watermark bounding the id-set state — the streaming face of
    * [[graft.operators.Dedup.exactByKey]] (at-least-once sources make
    * this the first operator of every real event pipeline). */
  def dedupEvents(events: DataFrame): DataFrame = events
    .withWatermark("ts", "10 minutes")
    .dropDuplicatesWithinWatermark("event_id")

  /** Stream-static enrichment: join each event to a static dimension
    * (broadcast per micro-batch; the streaming analog of the pipeline's
    * J2 lookup joins). */
  def enrich(events: DataFrame, dim: DataFrame, key: String): DataFrame =
    events.join(broadcast(dim), Seq(key), "left")

  /** Stream-stream interval join: match each `clicks` event to `views`
    * events of the same user that happened up to `windowMinutes`
    * earlier (the attribution-join shape). Both sides carry
    * watermarks and the join condition time-bounds both event times,
    * so each side's buffered state is evictable — the requirement for
    * an unbounded stream-stream join to hold bounded state. */
  def attributionJoin(views: DataFrame, clicks: DataFrame,
      windowMinutes: Int): DataFrame = {
    val v = views.withWatermark("ts", "10 minutes")
      .select(col("user_id"), col("ts").as("view_ts"),
        col("event_id").as("view_id"))
    val c = clicks.withWatermark("ts", "10 minutes")
      .select(col("user_id").as("c_user_id"), col("ts").as("click_ts"),
        col("event_id").as("click_id"), col("value"))
    c.join(v,
      col("c_user_id") === col("user_id") &&
        col("view_ts") <= col("click_ts") &&
        col("view_ts") >= col("click_ts") - expr(s"INTERVAL $windowMinutes MINUTES"))
      .select(col("user_id"), col("click_id"), col("view_id"),
        col("click_ts"), col("view_ts"), col("value"))
  }

  /** LEFT OUTER stream-stream attribution: like [[attributionJoin]],
    * but clicks with NO prior view in the window still emit (null
    * view columns) — once the watermark passes the click's join
    * window, so the "unmatched" verdict is final, never provisional.
    * Same bounded-state argument: both sides are watermarked and the
    * join condition time-bounds both event times. */
  def attributionJoinLeftOuter(views: DataFrame, clicks: DataFrame,
      windowMinutes: Int): DataFrame = {
    val v = views.withWatermark("ts", "10 minutes")
      .select(col("user_id").as("v_user_id"), col("ts").as("view_ts"),
        col("event_id").as("view_id"))
    val c = clicks.withWatermark("ts", "10 minutes")
      .select(col("user_id"), col("ts").as("click_ts"),
        col("event_id").as("click_id"), col("value"))
    c.join(v,
      col("user_id") === col("v_user_id") &&
        col("view_ts") <= col("click_ts") &&
        col("view_ts") >= col("click_ts") - expr(s"INTERVAL $windowMinutes MINUTES"),
      "left_outer")
      .select(col("user_id"), col("click_id"), col("view_id"),
        col("click_ts"), col("view_ts"), col("value"))
  }

  final case class Event(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double)
  final case class SessionState(start: Long, last: Long, n: Int, total: Double)
  final case class Session(user_id: Long, session_start: Timestamp,
      session_end: Timestamp, n_events: Int, total_value: Double)

  /** Stateful sessionization: events of a user belong to one session
    * until a gap larger than `gapMinutes` appears. Implemented with
    * flatMapGroupsWithState + event-time timeout — the standard Spark
    * pattern for custom streaming state (KeyValueGroupedDataset). The
    * timeout emits a session once the watermark passes its gap horizon,
    * so state is bounded by the number of concurrently active users. */
  def sessionize(events: Dataset[Event], gapMinutes: Int = 30): Dataset[Session] = {
    import events.sparkSession.implicits._
    val gapMs = gapMinutes * 60 * 1000L

    def flush(userId: Long, s: SessionState): Session =
      Session(userId, new Timestamp(s.start), new Timestamp(s.last), s.n, s.total)

    events
      .withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(
        (userId: Long, rows: Iterator[Event], state: GroupState[SessionState]) => {
          if (state.hasTimedOut) {
            val out = state.getOption.map(flush(userId, _))
            state.remove()
            out.iterator
          } else {
            // fold sorted events into sessions, emitting closed ones
            val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            var cur = state.getOption
            val closed = Seq.newBuilder[Session]
            sorted.foreach { e =>
              val t = e.ts.getTime
              cur match {
                case Some(s) if t - s.last <= gapMs =>
                  cur = Some(s.copy(last = math.max(s.last, t), n = s.n + 1,
                    total = s.total + e.value))
                case Some(s) =>
                  closed += flush(userId, s)
                  cur = Some(SessionState(t, t, 1, e.value))
                case None =>
                  cur = Some(SessionState(t, t, 1, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              // flatMapGroupsWithState does NOT pre-filter sub-watermark
              // rows, so a batch can deliver events older than
              // watermark − gap; the natural timeout s.last + gapMs would
              // then precede the watermark, which setTimeoutTimestamp
              // rejects (killing the query). Clamp to just past the
              // watermark: such a session is already gap-expired and
              // flushes at the next watermark advance.
              state.setTimeoutTimestamp(
                math.max(state.getCurrentWatermarkMs + 1, s.last + gapMs))
            }
            closed.result().iterator
          }
        })
  }

  final case class EwmaState(lastEpochDay: Long, em: Long)
  final case class EwmaRow(event_type: String, day: java.sql.Date,
      n_events: Long, ewma: Double)

  /** Streaming face of [[graft.ops.Analytics.ewmaDaily]]: the same
    * exact bigint micro-unit recurrence (identical α as aNum/aDen,
    * identical half-up `(2·(aN·n·1e6 + β·em) + aDen) div (2·aDen)`
    * step, identical zero-day densification), carried as
    * flatMapGroupsWithState state (lastDay, em) so the trend CONTINUES
    * across micro-batches instead of restarting — the online anomaly
    * baseline a daily-ingest pipeline keeps warm.
    *
    * Contract: micro-batches deliver whole, non-decreasing days per
    * key (the daily-ingest shape — each batch is one or more closed
    * days). A batch that replays a day at or before the state's last
    * folded day would silently corrupt the recurrence, so it THROWS
    * instead. Within a batch, days may arrive in any order and gaps
    * densify to n = 0 exactly like batch. State is one (long, long)
    * per key — bounded by key cardinality, no timeout needed.
    *
    * Streaming == batch is held two ways: the spec replays two
    * batches against one batch run, and the oracle gate (q145) runs
    * THIS code through a real AvailableNow query against q128's
    * recursive-CTE oracle. */
  def ewmaDaily(events: Dataset[Event], alphaNum: Int = 3,
      alphaDen: Int = 10): Dataset[EwmaRow] = {
    require(alphaNum > 0 && alphaDen >= alphaNum,
      s"alpha must be a rational in (0,1], got $alphaNum/$alphaDen")
    import events.sparkSession.implicits._
    val beta = alphaDen - alphaNum
    events
      .groupByKey(_.event_type)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(
        (key: String, rows: Iterator[Event], state: GroupState[EwmaState]) => {
          val utc = java.time.ZoneOffset.UTC
          val counts = scala.collection.mutable.LongMap.empty[Long]
          rows.foreach { e =>
            val d = e.ts.toInstant.atZone(utc).toLocalDate.toEpochDay
            counts(d) = counts.getOrElse(d, 0L) + 1L
          }
          if (counts.isEmpty) Iterator.empty
          else {
            val minDay = counts.keys.min
            val maxDay = counts.keys.max
            val (startDay, prior) = state.getOption match {
              case Some(s) =>
                if (minDay <= s.lastEpochDay) throw new IllegalStateException(
                  s"ewmaDaily stream for '$key' got day $minDay at or " +
                    s"before already-folded day ${s.lastEpochDay} — " +
                    "micro-batches must deliver whole, advancing days")
                (s.lastEpochDay + 1, Some(s.em))
              case None => (minDay, None)
            }
            var em = prior.getOrElse(0L)
            var first = prior.isEmpty
            val out = Seq.newBuilder[EwmaRow]
            var d = startDay
            while (d <= maxDay) {
              val n = counts.getOrElse(d, 0L)
              em = if (first) { first = false; n * 1000000L }
              else (2L * (alphaNum * n * 1000000L + beta * em) + alphaDen) /
                (2L * alphaDen)
              out += EwmaRow(key,
                java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(d)),
                n, em.toDouble / 1e6)
              d += 1
            }
            state.update(EwmaState(maxDay, em))
            out.result().iterator
          }
        })
  }

  /** Run any streaming transform over everything currently in `dir`,
    * then stop — Trigger.AvailableNow. Results land in an in-memory
    * table named `sink`. Complete mode suits the windowed aggregates
    * (they re-emit full state; append would withhold windows the
    * watermark has not closed). */
  def runAvailableNow(spark: SparkSession, dir: String, sink: String,
      transform: DataFrame => DataFrame,
      mode: OutputMode = OutputMode.Complete()): Unit =
    runToMemory(transform(readStream(spark, dir)), sink, mode)

  /** The one way this library runs a stream into a memory sink: runs
    * `stream` with `Trigger.AvailableNow` under `queryName(sink)` and
    * waits until it has processed everything available. */
  def runToMemory(stream: DataFrame, sink: String, mode: OutputMode): Unit =
    stream.writeStream
      .format("memory")
      .queryName(sink)
      .outputMode(mode)
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()
}
