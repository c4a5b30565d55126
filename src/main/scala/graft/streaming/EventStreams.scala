package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState,
  GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

import graft.operators.Events

/** Structured Streaming form of the event analytics (SURVEY.md §7.5):
  * the same windowed aggregations as [[graft.operators.Events]], plus
  * watermarked late-data handling, session windows, and a custom
  * stateful sessionizer via flatMapGroupsWithState.
  *
  * Batch/stream parity: `window()` and `session_window` bucket
  * identically in both modes, so the batch queries in
  * operators.Events serve as the correctness oracle for these —
  * exercised in StreamingSpec by feeding the same parquet through a
  * MemoryStream and diffing results.
  *
  * Scale design: state is keyed by (window x type) or user — state
  * store size is bounded by watermark eviction; a 1000-executor
  * deployment shards state by key hash, and the 10-minute watermark
  * bounds per-key state lifetime.
  */
/** Mutable-free session accumulator (top-level: Spark's state encoder
  * generates accessor calls that require a public, outer-scope-free
  * class — a private nested case class fails Janino compilation).
  */
case class SessionState(start: Long, end: Long, n: Long, total: Double)

/** q172 state record (top-level for the same Janino reason as
  * [[SessionState]]): exact lifetime aggregate — event count and the
  * value sum as floor(value·1e9) BIGINT units (order-free exact; the
  * Similarity.trainedCodebooks discipline).
  */
case class LifetimeAgg(n: Long, valueNanos: Long)

/** q174 state record (top-level for the Janino reason): running event
  * count + last event time in µs for the one active inactivity timer.
  */
case class DigestState(n: Long, lastUs: Long)

/** q174 — transformWithState TIMERS + ListState (q172 covers the
  * multi-variable ValueState/MapState half of the API; this covers the
  * other half): an inactivity digest. Per user, a ListState keeps the
  * last 3 event ids (bounded — trimmed on every update, the "recent
  * items" state shape), a ValueState tracks count + last-seen time,
  * and ONE event-time timer is re-armed at last_seen + gap on every
  * batch (previous timers deleted — the timer-management discipline
  * the API requires, since timers are not keyed by name). When the
  * watermark passes the timer ([[handleExpiredTimer]]), the user's
  * digest is emitted and the state CLEARED — the quiet-user eviction
  * q131 does with GroupStateTimeout, re-expressed in the v2 API where
  * timers and state are independent primitives.
  */
class InactivityDigestProcessor(gapMinutes: Int)
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, EventStreams.Event, EventStreams.InactivityDigest] {
  import org.apache.spark.sql.streaming.{TTLConfig, ValueState, ListState}
  @transient private var agg: ValueState[DigestState] = _
  @transient private var recent: ListState[Long] = _

  override def init(outputMode: OutputMode,
      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
    agg = getHandle.getValueState[DigestState]("agg",
      org.apache.spark.sql.Encoders.product[DigestState], TTLConfig.NONE)
    recent = getHandle.getListState[Long]("recent",
      org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
  }

  override def handleInputRows(user: Long,
      rows: Iterator[EventStreams.Event],
      timerValues: org.apache.spark.sql.streaming.TimerValues)
      : Iterator[EventStreams.InactivityDigest] = {
    var st = if (agg.exists()) agg.get() else DigestState(0L, Long.MinValue)
    // micro-batch slices are unordered; fold this group's slice in
    // (ts, event_id) order so the trailing-ids list is deterministic
    val sorted = rows.toArray
      .sortBy(e => (EventStreams.micros(e.ts), e.event_id))
    sorted.foreach { e =>
      st = DigestState(st.n + 1,
        math.max(st.lastUs, EventStreams.micros(e.ts)))
      recent.appendValue(e.event_id)
    }
    agg.update(st)
    // bound the list state: keep only the trailing 3 ids
    val ids = recent.get().toArray
    if (ids.length > 3) recent.put(ids.takeRight(3))
    // re-arm the single inactivity timer (delete any previous one)
    getHandle.listTimers().foreach(t =>
      getHandle.deleteTimer(t.asInstanceOf[Long]))
    getHandle.registerTimer(st.lastUs / 1000L + gapMinutes * 60L * 1000L)
    Iterator.empty
  }

  override def handleExpiredTimer(user: Long,
      timerValues: org.apache.spark.sql.streaming.TimerValues,
      expired: org.apache.spark.sql.streaming.ExpiredTimerInfo)
      : Iterator[EventStreams.InactivityDigest] = {
    val st = agg.get()
    val ids = recent.get().toArray.takeRight(3)
    agg.clear(); recent.clear()
    Iterator.single(EventStreams.InactivityDigest(
      user, st.n, ids.mkString("-")))
  }
}

/** q175 initial-state record (top-level for the Janino reason): the
  * warehouse-snapshot profile a migration bootstraps streaming state
  * from — counts, quantized value sum, per-type count map.
  */
case class InitLifetime(user_id: Long, n: Long, valueNanos: Long,
  types: Map[String, Long])

/** q175 — [[org.apache.spark.sql.streaming.StatefulProcessorWithInitialState]],
  * the remaining third of the v2 API (q172: multi-variable state, q174:
  * timers/ListState): STATE BOOTSTRAP. [[handleInitialState]] seeds
  * both state variables from a batch-computed snapshot BEFORE the first
  * micro-batch, then [[handleInputRows]] folds live rows on top — the
  * migration move a 100 TB deployment makes when cutting a pipeline
  * over to streaming without replaying years of history. Exactness
  * contract: bootstrap(history) + fold(live tail) must equal the
  * full-history profile cell-exactly (same fold as [[LifetimeProcessor]]).
  */
class LifetimeBootstrapProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessorWithInitialState[
      Long, EventStreams.Event, EventStreams.UserLifetime, InitLifetime] {
  import org.apache.spark.sql.streaming.{TTLConfig, ValueState, MapState}
  @transient private var agg: ValueState[LifetimeAgg] = _
  @transient private var byType: MapState[String, Long] = _

  override def init(outputMode: OutputMode,
      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
    agg = getHandle.getValueState[LifetimeAgg]("agg",
      org.apache.spark.sql.Encoders.product[LifetimeAgg], TTLConfig.NONE)
    byType = getHandle.getMapState[String, Long]("byType",
      org.apache.spark.sql.Encoders.STRING,
      org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
  }

  override def handleInitialState(user: Long, s: InitLifetime,
      timerValues: org.apache.spark.sql.streaming.TimerValues): Unit = {
    agg.update(LifetimeAgg(s.n, s.valueNanos))
    s.types.foreach { case (t, n) => byType.updateValue(t, n) }
  }

  override def handleInputRows(user: Long,
      rows: Iterator[EventStreams.Event],
      timerValues: org.apache.spark.sql.streaming.TimerValues)
      : Iterator[EventStreams.UserLifetime] = {
    // identical fold to LifetimeProcessor — on top of bootstrapped state
    var a = if (agg.exists()) agg.get() else LifetimeAgg(0L, 0L)
    rows.foreach { e =>
      a = LifetimeAgg(a.n + 1, a.valueNanos + math.floor(e.value * 1e9).toLong)
      val t = e.event_type
      byType.updateValue(t,
        (if (byType.containsKey(t)) byType.getValue(t) else 0L) + 1L)
    }
    agg.update(a)
    var nTypes = 0L
    var topT = ""; var topN = -1L
    byType.iterator().foreach { case (t, n) =>
      nTypes += 1
      if (n > topN || (n == topN && t < topT)) { topT = t; topN = n }
    }
    Iterator.single(EventStreams.UserLifetime(
      user, a.n, a.valueNanos, nTypes, topT, topN))
  }
}

/** q172 — the Spark 4 `transformWithState` arbitrary-state API
  * (successor to mapGroupsWithState: typed MULTIPLE state variables
  * per key, timers, TTL, RocksDB-backed): a per-user lifetime profile
  * kept in TWO state variables — a [[LifetimeAgg]] ValueState (exact
  * counts + nanos-quantized value sum) and a MapState[String, Long] of
  * per-event-type counts (unbounded-vocabulary state the single-value
  * GroupState API cannot express without serializing a whole map per
  * update; here each type's counter is an independent state-store
  * cell, which is the point of the new API at scale). Emits the
  * updated profile per key per batch (Update-mode semantics).
  */
class LifetimeProcessor extends org.apache.spark.sql.streaming.StatefulProcessor[
    Long, EventStreams.Event, EventStreams.UserLifetime] {
  import org.apache.spark.sql.streaming.{TTLConfig, ValueState, MapState}
  @transient private var agg: ValueState[LifetimeAgg] = _
  @transient private var byType: MapState[String, Long] = _

  override def init(outputMode: OutputMode,
      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
    agg = getHandle.getValueState[LifetimeAgg]("agg",
      org.apache.spark.sql.Encoders.product[LifetimeAgg], TTLConfig.NONE)
    byType = getHandle.getMapState[String, Long]("byType",
      org.apache.spark.sql.Encoders.STRING,
      org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
  }

  override def handleInputRows(user: Long,
      rows: Iterator[EventStreams.Event],
      timerValues: org.apache.spark.sql.streaming.TimerValues)
      : Iterator[EventStreams.UserLifetime] = {
    var a = if (agg.exists()) agg.get() else LifetimeAgg(0L, 0L)
    rows.foreach { e =>
      // floor(value·1e9): one correctly-rounded double product + floor,
      // bit-identical in Spark/Scala/DuckDB — BIGINT sums are order-free
      a = LifetimeAgg(a.n + 1, a.valueNanos + math.floor(e.value * 1e9).toLong)
      val t = e.event_type
      byType.updateValue(t,
        (if (byType.containsKey(t)) byType.getValue(t) else 0L) + 1L)
    }
    agg.update(a)
    // deterministic top type: max count, lexicographic tiebreak
    var nTypes = 0L
    var topT = ""; var topN = -1L
    byType.iterator().foreach { case (t, n) =>
      nTypes += 1
      if (n > topN || (n == topN && t < topT)) { topT = t; topN = n }
    }
    Iterator.single(EventStreams.UserLifetime(
      user, a.n, a.valueNanos, nTypes, topT, topN))
  }
}

object EventStreams {

  case class Event(event_id: Long, ts: Timestamp, user_id: Long,
    event_type: String, value: Double)

  case class SessionOut(user_id: Long, session_start: Timestamp,
    session_end: Timestamp, n_events: Long, sum_value: Double)

  /** q172 output: per-user lifetime profile from [[LifetimeProcessor]]. */
  case class UserLifetime(user_id: Long, n_events: Long, value_nanos: Long,
    n_types: Long, top_type: String, top_type_n: Long)

  /** q174 output: the timer-fired inactivity digest — total events and
    * the trailing 3 event ids joined with '-' (array outputs crash the
    * driver's readers; the joined string hashes identically).
    */
  case class InactivityDigest(user_id: Long, n_events: Long,
    last_ids: String)

  /** Timestamp -> epoch micros (Timestamp.getTime is ms-precision; the
    * nanos field carries the full fraction — batch operators compare at
    * microsecond precision, so the stateful path must too).
    */
  private[streaming] def micros(t: Timestamp): Long =
    math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L

  private def toTimestamp(us: Long): Timestamp = {
    val t = new Timestamp(math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  /** Watermark delay of every event-time replay, in minutes: an event
    * more than this late is dropped, which bounds per-key state lifetime.
    * The oracles of watermark-cut replays subtract the same delay.
    */
  val WatermarkDelayMinutes = 10
  private val watermarkDelay = s"$WatermarkDelayMinutes minutes"

  /** Tumbling 1-hour windowed counts/sums per event type with a
    * 10-minute watermark (drops events >10 min late, bounds state).
    */
  def hourlyByType(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(28,10)")).cast("double")
          .as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** Built-in session windows: 30-minute gap, watermarked. */
  def sessionWindows(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(
        session_window(col("ts"), s"${Events.SessionGapMinutes} minutes"),
        col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(28,10)")).cast("double")
          .as("sum_value"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"), col("sum_value"))

  /** Custom stateful sessionization with flatMapGroupsWithState —
    * the escape hatch for session semantics `session_window` can't
    * express (here: emit a session when the inactivity gap passes,
    * carrying exact first/last event times rather than gap-padded
    * window bounds). EventTimeTimeout + watermark evicts state for
    * quiet users.
    */
  def sessionizeStateful(events: Dataset[Event]): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    val gapUs = Events.SessionGapMinutes * 60 * 1000000L
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(SessionOut(userId, toTimestamp(s.start),
              toTimestamp(s.end), s.n, s.total))
          } else {
            // events within a micro-batch are not ordered; sort this
            // group's slice (bounded by batch size per user)
            val sorted = rows.toArray.sortBy(e => (micros(e.ts), e.event_id))
            var closed = List.empty[SessionOut]
            var cur = state.getOption
            sorted.foreach { e =>
              val t = micros(e.ts)
              cur match {
                case Some(s) if t - s.end <= gapUs =>
                  cur = Some(SessionState(s.start, math.max(s.end, t),
                    s.n + 1, s.total + e.value))
                case Some(s) =>
                  closed ::= SessionOut(userId, toTimestamp(s.start),
                    toTimestamp(s.end), s.n, s.total)
                  cur = Some(SessionState(t, t, 1L, e.value))
                case None =>
                  cur = Some(SessionState(t, t, 1L, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              // timeout is wall-watermark based: ms precision suffices
              state.setTimeoutTimestamp((s.end + gapUs) / 1000L)
            }
            closed.reverseIterator
          }
      }
  }

  /** q131 — the CUSTOM-STATE streaming path made driver-visible: runs
    * [[sessionizeStateful]] (flatMapGroupsWithState, event-time
    * timeout) under an available-now trigger. For a bounded replay the
    * emitted set is exactly:
    *   - every session CLOSED IN-BATCH (a later event of the same user
    *     opened the next session), plus
    *   - each user's final session IF its event-time timeout
    *     (session_end + gap, at ms precision) fell strictly below the
    *     final watermark — fired by the no-data finalization batch;
    *     still-open sessions are withheld, exactly as a live
    *     deployment would withhold them.
    * Both classes are deterministic and the oracle recomputes them in
    * SQL (gap rule `diff <= gap` merges — this operator's inclusive
    * boundary — and per-session sums re-folded in (ts, event_id)
    * arrival order so doubles accumulate in the identical sequence).
    */
  def sessionizeStatefulAvailableNow(spark: SparkSession,
      sfDir: String): DataFrame = {
    import spark.implicits._
    val ev = readEventStream(spark, sfDir, glob = Some("events.parquet"))
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[Event]
    val (_, sink) = drain(sessionizeStateful(ev).toDF(),
      memorySink("stateful"), stateWidth(spark, 8, sfDir))
    sink.orderBy("user_id", "session_start")
  }

  /** Oracle for [[sessionizeStatefulAvailableNow]]: gap-sessionize
    * with the operator's INCLUSIVE merge rule (µs diff > gap starts a
    * new session), per-session sums re-folded in (ts, event_id) order
    * (the operator's sequential accumulation — same IEEE sequence),
    * keeping sessions that are either not the user's last or whose
    * ms-grain timeout `(end_us + gap_us) div 1000` fell strictly below
    * the final watermark `max_us div 1000 - delay_ms` (the emitted set
    * was verified to equal this full-row at sf0.01).
    */
  val sessionizeStatefulAvailableNowSql: String = {
    val gapUs = Events.SessionGapMinutes * 60L * 1000000
    val delayMs = WatermarkDelayMinutes * 60L * 1000
    s"""WITH ev AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id,
       |                   value FROM events),
       |mx AS (SELECT max(epoch_us(ts)) AS max_us FROM ev),
       |flagged AS (
       |  SELECT *,
       |    CASE WHEN lag(ts) OVER w IS NULL
       |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > $gapUs
       |         THEN 1 ELSE 0 END AS new_session
       |  FROM ev
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       |sessions AS (
       |  SELECT *, SUM(new_session) OVER (PARTITION BY user_id
       |    ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS session_seq
       |  FROM flagged),
       |agg AS (
       |  SELECT user_id, session_seq, MIN(ts) AS session_start,
       |         MAX(ts) AS session_end, COUNT(*) AS n_events,
       |         list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |           list(value ORDER BY ts, event_id)),
       |           (acc, v) -> acc + v) AS sum_value
       |  FROM sessions GROUP BY 1, 2),
       |lastseq AS (SELECT user_id, MAX(session_seq) AS last_seq
       |            FROM agg GROUP BY 1)
       |SELECT a.user_id, session_start, session_end, n_events, sum_value
       |FROM agg a JOIN lastseq l ON a.user_id = l.user_id CROSS JOIN mx
       |WHERE a.session_seq <> l.last_seq
       |   OR (epoch_us(session_end) + $gapUs) // 1000
       |        < max_us // 1000 - $delayMs
       |ORDER BY a.user_id, session_start""".stripMargin
  }

  val DedupKeys = Seq("event_id") // columns that identify a duplicate event

  /** Streaming exact dedup — the streaming twin of
    * [[graft.operators.Dedup.exactDedup]]'s keep-one semantics, for
    * at-least-once ingest (re-delivered events collapse to one).
    * `dropDuplicatesWithinWatermark` keeps one state entry per key seen
    * within the watermark delay and evicts it as event time advances —
    * unlike plain `dropDuplicates` on a stream, state cannot grow
    * unboundedly. The key is the natural event id ([[DedupKeys]]).
    */
  def dedupStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark(DedupKeys)

  /** q132 — streaming dedup made driver-visible: replay the events
    * file UNIONED WITH ITSELF (every event delivered twice — the
    * at-least-once ingest this operator exists for), dedup by
    * event_id within the watermark, drain, and roll the sink up per
    * event type. dropDuplicatesWithinWatermark emits each first-seen
    * row immediately (state eviction, not emission, is what the
    * watermark bounds), so the drained set is exactly the distinct
    * events and the rollup equals the batch GROUP BY — if dedup
    * dropped nothing the counts would double, so the oracle genuinely
    * pins the dedup, not just the rollup.
    */
  def dedupStreamAvailableNow(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = readEventStream(spark, sfDir, glob = Some("events.parquet"))
    // first-sight emission: the finalization batch would only evict
    // state, never emit ([[start]]'s skipFinalBatch)
    val (_, sink) = drain(dedupStream(ev.unionByName(ev)),
      memorySink("dedup"), stateWidth(spark, 8, sfDir),
      skipFinalBatch = true)
    sink
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(28,10)")).cast("double")
          .as("sum_value"))
      .orderBy("event_type")
  }

  /** Oracle for [[dedupStreamAvailableNow]]: the duplicated replay
    * must collapse back to the plain batch rollup.
    */
  val dedupStreamAvailableNowSql: String =
    """SELECT event_type, COUNT(*) AS n_events,
      |       CAST(SUM(CAST(value AS DECIMAL(28,10))) AS DOUBLE) AS sum_value
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  val ErrorClickWindowMinutes = 5 // error-to-click join window

  /** Stream-stream interval join — the streaming twin of
    * [[graft.operators.RangeJoin.clicksNearErrors]]: every (error,
    * click) pair where the click lands in the `ErrorClickWindowMinutes`
    * after the error. Watermarks on BOTH sides plus the time-range
    * predicate let Spark bound the join state: an error row is evicted
    * once the click watermark passes error_ts + window + delay, so state
    * is O(events per watermark horizon), not O(stream). This is the join
    * shape Structured Streaming requires for unbounded×unbounded —
    * without the range condition the state would grow forever.
    */
  def errorClickPairsStream(events: DataFrame,
      joinType: String = "inner"): DataFrame = {
    // Spark rejects stream-stream joins with no equality predicate — the
    // chunked-time key from RangeJoin doubles as that equi-key: each
    // error replicates to the (at most 2) chunks its window overlaps,
    // each click belongs to exactly one chunk, so pairs stay unique and
    // the join is hash-partitionable by chunk across executors.
    val chunkUs = ErrorClickWindowMinutes.toLong * 60 * 1000000
    val errors = events.filter(col("event_type") === "error")
      .select(col("event_id").as("error_id"), col("ts").as("error_ts"))
      .withWatermark("error_ts", watermarkDelay)
      .withColumn("err_chunk", explode(expr(
        s"""sequence(unix_micros(error_ts) div $chunkUs,
           |(unix_micros(error_ts) + $chunkUs - 1) div $chunkUs)""".stripMargin)))
    val clicks = events.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("ts").as("click_ts"))
      .withWatermark("click_ts", watermarkDelay)
      .withColumn("click_chunk", expr(s"unix_micros(click_ts) div $chunkUs"))
    errors.join(clicks, expr(
      s"""err_chunk = click_chunk AND click_ts >= error_ts AND
         |click_ts < error_ts + interval $ErrorClickWindowMinutes minutes""".stripMargin),
      joinType)
      .drop("err_chunk", "click_chunk")
  }

  /** q133 — the stream-stream interval join made driver-visible:
    * runs [[errorClickPairsStream]] (dual watermarks + time-range
    * predicate, the state-bounded unbounded×unbounded join shape)
    * under an available-now trigger and drains the matched pairs.
    * Determinism: INNER stream-stream joins emit a pair as soon as
    * both rows are present — the watermarks bound state EVICTION, not
    * emission — and the bounded replay arrives as one micro-batch
    * while the watermark still sits at its initial floor, so nothing
    * is late-dropped and the drained sink is exactly the batch join.
    * The oracle is that batch join in SQL (the q50 predicate at pair
    * grain), so this row pins the join itself where q50 pins the
    * chunked-equi-key rewrite.
    */
  def errorClickPairsAvailableNow(spark: SparkSession,
      sfDir: String): DataFrame = {
    // durable parquet sink, not memory (round-13 sf3 finding: the
    // match log scales with the stream — ~14M rows at 30× — and a
    // memory sink serializes ALL of it to the driver, blowing
    // spark.driver.maxResultSize; the parquet sink commits per batch
    // on executors and the batch read back is spread, which is also
    // the production topology)
    val ev = readEventStream(spark, sfDir, glob = Some("events.parquet"))
    // INNER join: pairs emit when both rows are present; the
    // finalization batch would only evict join state, never emit
    val (_, sink) = drain(
      errorClickPairsStream(ev).select(col("error_id"), col("click_id")),
      parquetSink(streamSinkDir(sfDir, "pairs")),
      stateWidth(spark, 4, sfDir), skipFinalBatch = true)
    sink.orderBy("error_id", "click_id")
  }

  /** Fresh per-invocation durable-sink base for a streaming query,
    * `/tmp/graft_stream_sink/<tag>_<pathKey(sfDir)><dials>` (sink,
    * checkpoint and any per-batch outputs live together; deleted up
    * front so each call exercises the full cycle — the q143
    * discipline). `dials` keeps variants of one query on one sfDir
    * apart.
    */
  private def streamSinkDir(sfDir: String, tag: String,
      dials: String = ""): java.io.File = {
    val base = new java.io.File("/tmp/graft_stream_sink",
      tag + "_" + graft.sources.Tables.pathKey(sfDir) + dials)
    org.apache.commons.io.FileUtils.deleteQuietly(base)
    base.mkdirs()
    base
  }

  /** Oracle for [[errorClickPairsAvailableNow]]: the plain batch
    * interval join at pair grain — every (error, click) with the click
    * inside the 5 minutes from the error.
    */
  val errorClickPairsAvailableNowSql: String =
    """SELECT e.event_id AS error_id, c.event_id AS click_id
      |FROM events e JOIN events c
      |  ON c.event_type = 'click' AND e.event_type = 'error'
      | AND CAST(c.ts AS TIMESTAMP) >= CAST(e.ts AS TIMESTAMP)
      | AND CAST(c.ts AS TIMESTAMP) <
      |     CAST(e.ts AS TIMESTAMP) + INTERVAL 5 MINUTE
      |ORDER BY error_id, click_id""".stripMargin

  /** q163 — stream-stream LEFT OUTER interval join, the null-emitting
    * twin of q133 (inner): an error with no click inside its window
    * must still surface, which in Structured Streaming is a STATE
    * EVICTION semantic — the unmatched row is emitted only when the
    * right-side watermark proves no future click can match (error_ts +
    * window below the watermark), in the no-data finalization batch of
    * the bounded replay. Errors in the final watermark horizon stay in
    * state and are withheld, exactly as a live deployment withholds
    * them — the oracle restates that cutoff (the q125 discipline).
    *
    * The chunked equi-key (two state replicas per error) is repaired at
    * drain: a matched pair is unique (a click lives in exactly one
    * chunk), while an error whose OTHER chunk replica matched still
    * emits one (error, null) replica row — LEFT OUTER truth at error
    * grain is "null iff NO replica matched", folded with one
    * error-grain aggregate over the tiny drained sink. Unmatched rows
    * render click_id = -1 (a NULL output column would compare
    * None-vs-NaN differently across the driver's two readers).
    */
  def errorClickLeftOuterAvailableNow(spark: SparkSession,
      sfDir: String): DataFrame = {
    // durable parquet sink (the q133 round-13 note: the match log is
    // stream-scaled; a memory sink driver-collects it)
    val ev = readEventStream(spark, sfDir, glob = Some("events.parquet"))
    // executor-side read: both derivations below scan the committed
    // files (no driver-local table re-shipped per action — the old
    // localCheckpoint workaround is obsolete with a durable sink)
    val (_, sink) = drain(
      errorClickPairsStream(ev, joinType = "left_outer")
        .select(col("error_id"), col("click_id")),
      parquetSink(streamSinkDir(sfDir, "louter")), stateWidth(spark, 4, sfDir))
    val matched = sink.filter(col("click_id").isNotNull)
      .select("error_id", "click_id")
    val unmatched = sink.groupBy("error_id")
      .agg(max(col("click_id")).as("any_click"))
      .filter(col("any_click").isNull)
      .select(col("error_id"), lit(-1L).as("click_id"))
    matched.unionByName(unmatched)
      .orderBy("error_id", "click_id")
  }

  /** Oracle for [[errorClickLeftOuterAvailableNow]]: the batch LEFT
    * JOIN at pair grain, with the null rows restricted to errors whose
    * eviction horizon (error_ts + window) fell below the final
    * watermark. Two Spark facts the cutoff must encode exactly: the
    * GLOBAL watermark is the MIN over both sides' watermark operators
    * (each computes max over ITS OWN column — the last error pins it
    * even when clicks run hours later; found empirically: the final
    * error's null row is withheld because its own side's watermark
    * never passes its horizon), and watermarks are tracked in ms (max
    * event time truncated, minus the delay). Matched pairs emit
    * immediately (inner rows are watermark-independent in the bounded
    * single-batch replay).
    */
  def errorClickLeftOuterAvailableNowSql: String = {
    val winUs = ErrorClickWindowMinutes * 60L * 1000000
    val delayMs = WatermarkDelayMinutes * 60L * 1000
    s"""WITH mx AS (
       |  SELECT least(
       |    max(CASE WHEN event_type = 'error'
       |        THEN epoch_us(CAST(ts AS TIMESTAMP)) END),
       |    max(CASE WHEN event_type = 'click'
       |        THEN epoch_us(CAST(ts AS TIMESTAMP)) END)) AS max_us
       |  FROM events),
       |pairs AS (
       |  SELECT e.event_id AS error_id,
       |         epoch_us(CAST(e.ts AS TIMESTAMP)) AS error_us,
       |         c.event_id AS click_id
       |  FROM events e LEFT JOIN events c
       |    ON c.event_type = 'click'
       |   AND CAST(c.ts AS TIMESTAMP) >= CAST(e.ts AS TIMESTAMP)
       |   AND CAST(c.ts AS TIMESTAMP) <
       |       CAST(e.ts AS TIMESTAMP) + INTERVAL $ErrorClickWindowMinutes MINUTE
       |  WHERE e.event_type = 'error')
       |SELECT error_id, COALESCE(click_id, -1) AS click_id
       |FROM pairs, mx
       |WHERE click_id IS NOT NULL
       |   OR error_us + $winUs < (max_us // 1000 - $delayMs) * 1000
       |ORDER BY error_id, click_id""".stripMargin
  }

  /** q170 — stream-stream FULL OUTER interval join, completing the
    * triad (q133 inner, q163 left outer): BOTH unmatched sides surface
    * as state-eviction emissions. Unmatched errors behave exactly as
    * q163 (null iff NO chunk replica matched, horizon error_ts + window
    * below the final global watermark). Unmatched clicks are the new
    * semantic: a click can match any error with error_ts in
    * (click_ts - window, click_ts], so its state stops waiting — and
    * its (null, click) row emits — once the watermark passes click_ts
    * itself. A click has exactly ONE chunk replica, so null-error rows
    * need no replica fold; they are truth directly. Unmatched sides
    * render as -1 (NULL output columns compare None-vs-NaN differently
    * across the driver's two readers).
    */
  def errorClickFullOuterAvailableNow(spark: SparkSession,
      sfDir: String): DataFrame = {
    // durable parquet sink (the q133 round-13 note: the match log is
    // stream-scaled; a memory sink driver-collects it — at sf3 the old
    // memory sink blew spark.driver.maxResultSize)
    val ev = readEventStream(spark, sfDir, glob = Some("events.parquet"))
    // executor-side read: the three derivations below scan the
    // committed files (the round-9 localCheckpoint workaround for the
    // driver-local memory table is obsolete with a durable sink)
    val (_, sink) = drain(
      errorClickPairsStream(ev, joinType = "full_outer")
        .select(col("error_id"), col("click_id")),
      parquetSink(streamSinkDir(sfDir, "fouter")), stateWidth(spark, 4, sfDir))
    val matched = sink
      .filter(col("error_id").isNotNull && col("click_id").isNotNull)
      .select("error_id", "click_id")
    // error grain: null iff NO replica matched (the q163 fold)
    val unmatchedErr = sink.filter(col("error_id").isNotNull)
      .groupBy("error_id")
      .agg(max(col("click_id")).as("any_click"))
      .filter(col("any_click").isNull)
      .select(col("error_id"), lit(-1L).as("click_id"))
    // click grain: one replica per click — sink truth, no fold
    val unmatchedClk = sink.filter(col("error_id").isNull)
      .select(lit(-1L).as("error_id"), col("click_id"))
    matched.unionByName(unmatchedErr).unionByName(unmatchedClk)
      .orderBy("error_id", "click_id")
  }

  /** Oracle for [[errorClickFullOuterAvailableNow]]: the batch FULL
    * OUTER restated as matched ∪ withheld-filtered unmatched sides.
    * Global watermark = min over both sides (ms-truncated max event
    * time minus the 10-minute delay, the q163 facts); unmatched errors
    * use the q163 horizon (error_ts + window below watermark),
    * unmatched clicks emit once the watermark passes click_ts (no
    * future error at or above the watermark can satisfy
    * error_ts <= click_ts).
    */
  def errorClickFullOuterAvailableNowSql: String = {
    val winUs = ErrorClickWindowMinutes * 60L * 1000000
    val delayMs = WatermarkDelayMinutes * 60L * 1000
    s"""WITH mx AS (
       |  SELECT (least(
       |    max(CASE WHEN event_type = 'error'
       |        THEN epoch_us(CAST(ts AS TIMESTAMP)) END),
       |    max(CASE WHEN event_type = 'click'
       |        THEN epoch_us(CAST(ts AS TIMESTAMP)) END)) // 1000
       |    - $delayMs) * 1000 AS wm_us
       |  FROM events),
       |errors AS (
       |  SELECT event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us
       |  FROM events WHERE event_type = 'error'),
       |clicks AS (
       |  SELECT event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us
       |  FROM events WHERE event_type = 'click'),
       |matched AS (
       |  SELECT e.event_id AS error_id, e.us AS error_us,
       |         c.event_id AS click_id, c.us AS click_us
       |  FROM errors e JOIN clicks c
       |    ON c.us >= e.us AND c.us < e.us + $winUs)
       |SELECT error_id, click_id FROM matched
       |UNION ALL
       |SELECT e.event_id AS error_id, -1 AS click_id
       |FROM errors e, mx
       |WHERE NOT EXISTS (SELECT 1 FROM matched m WHERE m.error_id = e.event_id)
       |  AND e.us + $winUs < wm_us
       |UNION ALL
       |SELECT -1 AS error_id, c.event_id AS click_id
       |FROM clicks c, mx
       |WHERE NOT EXISTS (SELECT 1 FROM matched m WHERE m.click_id = c.event_id)
       |  AND c.us < wm_us
       |ORDER BY error_id, click_id""".stripMargin
  }

  /** q180 — stream-stream LEFT SEMI interval join, completing the
    * join-type matrix (q133 inner, q163 left outer, q170 full outer,
    * q177 anti): "which errors were followed by a click within the
    * window" WITHOUT materializing the pairs — the alerting/funnel
    * predicate shape. Semi rows emit on first match (inner-like, no
    * watermark cutoff in a bounded replay), and Spark marks the left
    * state row matched so it emits at most once PER STATE ROW — but the
    * chunked equi-key keeps up to two chunk replicas of each error in
    * state, so an error whose window spans a chunk boundary can emit
    * once per replica. The drain folds that replication artifact with
    * one distinct at error grain (the q163 replica-fold discipline:
    * join-key engineering must be repaired at the same grain it
    * multiplied).
    */
  def errorClickSemiAvailableNow(spark: SparkSession,
      sfDir: String): DataFrame = {
    val ev = readEventStream(spark, sfDir, glob = Some("events.parquet"))
    // LEFT SEMI emits a left row the moment a match arrives (data
    // batches); eviction of never-matched rows emits NOTHING — unlike
    // ANTI (q177), where eviction IS the emission. Finalization is
    // therefore pure machinery here ([[start]]'s skipFinalBatch).
    val (_, sink) = drain(
      errorClickPairsStream(ev, joinType = "left_semi")
        .select(col("error_id")),
      memorySink("semi"), stateWidth(spark, 4, sfDir), skipFinalBatch = true)
    sink.distinct().orderBy("error_id")
  }

  /** Oracle for [[errorClickSemiAvailableNow]]: the batch EXISTS
    * predicate — every error with at least one click in its window.
    */
  def errorClickSemiAvailableNowSql: String =
    s"""SELECT e.event_id AS error_id
       |FROM events e
       |WHERE e.event_type = 'error' AND EXISTS (
       |  SELECT 1 FROM events c
       |  WHERE c.event_type = 'click'
       |    AND CAST(c.ts AS TIMESTAMP) >= CAST(e.ts AS TIMESTAMP)
       |    AND CAST(c.ts AS TIMESTAMP) <
       |        CAST(e.ts AS TIMESTAMP) + INTERVAL $ErrorClickWindowMinutes MINUTE)
       |ORDER BY error_id""".stripMargin

  /** q172 — [[LifetimeProcessor]] (the Spark 4 transformWithState API)
    * made driver-visible: groupByKey(user) → transformWithState with
    * two typed state variables, Update mode, RocksDB state store (the
    * only provider the new API supports — [[start]] sets it for any
    * plan holding transformWithState), AvailableNow drain. The bounded replay is
    * one data batch, so each user emits exactly one final profile and
    * the drained sink equals the batch aggregate — counts and the
    * nanos-quantized value sum are order-free exact, the top type is
    * (count desc, type asc)-deterministic, so the oracle is plain SQL.
    */
  def userLifetimeAvailableNow(spark: SparkSession, sfDir: String,
      nFiles: Int = 1): DataFrame = {
    import spark.implicits._
    val ev = (if (nFiles <= 1)
        readEventStream(spark, sfDir, glob = Some("events.parquet"))
      else readEventStream(spark,
        stageChronologicalEvents(spark, sfDir, nFiles),
        maxFilesPerTrigger = Some(1)))
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[Event]
    val (q, sink) = drain(
      ev.groupByKey(_.user_id)
        .transformWithState(new LifetimeProcessor,
          org.apache.spark.sql.streaming.TimeMode.None(),
          OutputMode.Update())
        .toDF(),
      memorySink("tws"), stateWidth(spark, 8, sfDir), OutputMode.Update)
    if (nFiles > 1) {
      val nDataBatches = dataBatches(q)
      require(nDataBatches >= 2,
        s"multi-batch replay ran as $nDataBatches data batch(es)")
      // state persistence proof: a user seen in >1 batch re-emits with
      // an ACCUMULATED profile — without cross-batch state every
      // emission would restart at its own batch's counts
      require(sink.groupBy("user_id").count().filter(col("count") > 1)
        .limit(1).count() == 1,
        "no user emitted more than once — cross-batch state not exercised")
      // fold the update log: n_events is strictly monotone per user
      // (every re-emission processed >=1 new row), so max-n_events is
      // the final profile
      sink.withColumn("rk", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("user_id")
            .orderBy(desc("n_events"))))
        .filter(col("rk") === 1).drop("rk")
        .orderBy("user_id")
    } else sink.orderBy("user_id")
  }

  /** q174 — [[InactivityDigestProcessor]] made driver-visible: timers
    * need TimeMode.EventTime and a watermark on the input; the bounded
    * replay processes all rows in one data batch (each user's single
    * timer armed at last_event_ms + gap), then the no-data finalization
    * batch advances the watermark and fires every timer strictly below
    * it — users inside the final horizon stay armed and silent, exactly
    * as a live deployment withholds them (the q131 cutoff discipline,
    * re-derived for the v2 API).
    */
  def inactivityDigestAvailableNow(spark: SparkSession,
      sfDir: String): DataFrame = {
    import spark.implicits._
    val ev = readEventStream(spark, sfDir, glob = Some("events.parquet"))
      .select("event_id", "ts", "user_id", "event_type", "value")
      .withWatermark("ts", watermarkDelay)
      .as[Event]
    // the timers fire in the finalization batch: it must run
    val (_, sink) = drain(
      ev.groupByKey(_.user_id)
        .transformWithState(
          new InactivityDigestProcessor(Events.SessionGapMinutes),
          org.apache.spark.sql.streaming.TimeMode.EventTime(),
          OutputMode.Update())
        .toDF(),
      memorySink("tws_timer"), stateWidth(spark, 8, sfDir), OutputMode.Update)
    val out = sink.orderBy("user_id")
    // Vacuous-oracle guard (ADVICE r9, the q177-draft trap CLAUDE.md
    // records): the oracle keeps only users whose timer fell strictly
    // below the final watermark — a testdata span/gap change could make
    // that set EMPTY and green-light a drain that fired nothing. Fail
    // loudly instead.
    require(out.limit(1).count() == 1,
      "inactivity digest drained 0 rows — no timer fired below the " +
        "final watermark; the oracle comparison would be vacuous")
    out
  }

  /** Oracle for [[inactivityDigestAvailableNow]]: per user — total
    * events, trailing 3 event ids in (ts, event_id) order — kept only
    * when the timer (last event time at ms grain + gap) fell strictly
    * below the final watermark (ms-truncated max event time minus the
    * 10-minute delay).
    */
  def inactivityDigestAvailableNowSql: String = {
    val gapMs = Events.SessionGapMinutes * 60L * 1000
    val delayMs = WatermarkDelayMinutes * 60L * 1000
    s"""WITH ev AS (
       |  SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id
       |  FROM events),
       |mx AS (SELECT max(epoch_us(ts)) AS max_us FROM ev),
       |ranked AS (
       |  SELECT user_id, event_id,
       |    row_number() OVER (PARTITION BY user_id
       |                       ORDER BY ts DESC, event_id DESC) AS rk
       |  FROM ev),
       |digest AS (
       |  SELECT r.user_id,
       |    string_agg(CAST(r.event_id AS VARCHAR), '-'
       |               ORDER BY r.rk DESC) AS last_ids
       |  FROM ranked r WHERE r.rk <= 3 GROUP BY r.user_id),
       |agg AS (
       |  SELECT user_id, COUNT(*) AS n_events,
       |         max(epoch_us(ts)) AS last_us
       |  FROM ev GROUP BY user_id)
       |SELECT a.user_id, a.n_events, d.last_ids
       |FROM agg a JOIN digest d ON a.user_id = d.user_id, mx
       |WHERE a.last_us // 1000 + $gapMs < max_us // 1000 - $delayMs
       |ORDER BY a.user_id""".stripMargin
  }

  /** q175 — state bootstrap made driver-visible: events are split at
    * the deterministic chronological midpoint (min + (max−min) div 2,
    * µs grain); the HISTORY half is aggregated in BATCH into
    * [[InitLifetime]] snapshots, handed to
    * [[LifetimeBootstrapProcessor]] as transformWithState initial
    * state, and only the LIVE tail streams. Every stream-active user's
    * drained profile must equal the FULL-history profile cell-exactly
    * (history-only users never emit: handleInitialState cannot emit by
    * API design, matching a migration where dormant users surface on
    * their next live event). The oracle is the q172 profile restricted
    * to users with an event at/after the midpoint.
    */
  def userLifetimeBootstrapAvailableNow(spark: SparkSession,
      sfDir: String): DataFrame = {
    import spark.implicits._
    val ev = graft.sources.Tables.events(spark, sfDir)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
    val Row(mn: Long, mx: Long) = ev.agg(
      min(unix_micros(col("ts"))), max(unix_micros(col("ts")))).head()
    val cutoff = mn + (mx - mn) / 2
    val hist = ev.filter(unix_micros(col("ts")) < cutoff)
    val initStates = hist
      .groupBy("user_id", "event_type")
      .agg(count(lit(1)).as("tn"),
        sum(expr("CAST(floor(value * 1e9) AS LONG)")).as("tnanos"))
      .groupBy("user_id")
      .agg(sum(col("tn")).as("n"), sum(col("tnanos")).as("valueNanos"),
        map_from_entries(collect_list(struct(col("event_type"), col("tn"))))
          .as("types"))
      .as[InitLifetime]
      .groupByKey(_.user_id)
    val live = readEventStream(spark, sfDir, glob = Some("events.parquet"))
      .select("event_id", "ts", "user_id", "event_type", "value")
      .filter(unix_micros(col("ts")) >= cutoff)
      .as[Event]
    val (_, sink) = drain(
      live.groupByKey(_.user_id)
        .transformWithState(new LifetimeBootstrapProcessor,
          org.apache.spark.sql.streaming.TimeMode.None(),
          OutputMode.Update(), initStates)
        .toDF(),
      memorySink("tws_boot"), stateWidth(spark, 8, sfDir), OutputMode.Update)
    sink.orderBy("user_id")
  }

  /** Oracle for [[userLifetimeBootstrapAvailableNow]]: the full-history
    * q172 profile, restricted to users active at/after the midpoint —
    * equality proves bootstrap(history) + fold(live) == fold(all).
    */
  val userLifetimeBootstrapAvailableNowSql: String =
    """WITH ev AS (
      |  SELECT event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, user_id,
      |         event_type, value
      |  FROM events),
      |b AS (SELECT min(us) AS mn, max(us) AS mx FROM ev),
      |active AS (
      |  SELECT DISTINCT user_id FROM ev, b
      |  WHERE us >= mn + (mx - mn) // 2),
      |byt AS (
      |  SELECT user_id, event_type, COUNT(*) AS n
      |  FROM events GROUP BY 1, 2),
      |top AS (
      |  SELECT user_id, event_type AS top_type, n AS top_type_n,
      |    row_number() OVER (PARTITION BY user_id
      |                       ORDER BY n DESC, event_type ASC) AS rk
      |  FROM byt),
      |agg AS (
      |  SELECT user_id, COUNT(*) AS n_events,
      |    CAST(SUM(CAST(floor(value * 1e9) AS BIGINT)) AS BIGINT)
      |      AS value_nanos,
      |    COUNT(DISTINCT event_type) AS n_types
      |  FROM events GROUP BY 1)
      |SELECT a.user_id, a.n_events, a.value_nanos, a.n_types,
      |       t.top_type, t.top_type_n
      |FROM agg a
      |JOIN top t ON a.user_id = t.user_id AND t.rk = 1
      |JOIN active c ON a.user_id = c.user_id
      |ORDER BY a.user_id""".stripMargin

  /** Oracle for [[userLifetimeAvailableNow]]: the per-user lifetime
    * profile in SQL — count, Σ floor(value·1e9) (the processor's exact
    * quantized sum), distinct-type count, and the (count desc, type
    * asc) top type.
    */
  val userLifetimeAvailableNowSql: String =
    """WITH byt AS (
      |  SELECT user_id, event_type, COUNT(*) AS n
      |  FROM events GROUP BY 1, 2),
      |top AS (
      |  SELECT user_id, event_type AS top_type, n AS top_type_n,
      |    row_number() OVER (PARTITION BY user_id
      |                       ORDER BY n DESC, event_type ASC) AS rk
      |  FROM byt),
      |agg AS (
      |  SELECT user_id, COUNT(*) AS n_events,
      |    CAST(SUM(CAST(floor(value * 1e9) AS BIGINT)) AS BIGINT)
      |      AS value_nanos,
      |    COUNT(DISTINCT event_type) AS n_types
      |  FROM events GROUP BY 1)
      |SELECT a.user_id, a.n_events, a.value_nanos, a.n_types,
      |       t.top_type, t.top_type_n
      |FROM agg a JOIN top t ON a.user_id = t.user_id AND t.rk = 1
      |ORDER BY a.user_id""".stripMargin

  /** q177 — stream-static LEFT ANTI join: the streaming
    * decontamination / suppression-list shape (GDPR erasure lists,
    * benchmark-contamination blocklists, abuse bans) — every streamed
    * event from a blocklisted user is dropped BEFORE it reaches any
    * downstream state. The blocklist here comes from the customer
    * master (an erasure-requesting market segment) and is broadcast,
    * so the anti join is stateless and map-side: at 100 TB the stream
    * side never shuffles and the only cost is the broadcast probe —
    * the same plan a static decontamination pass gets (q84), now on
    * the live path.
    */
  def suppressedStreamAvailableNow(spark: SparkSession,
      sfDir: String): DataFrame = {
    // two erasure segments, not one: the sf0.001 fixture's event users
    // happen to contain no AUTOMOBILE custkeys at all, which made the
    // single-segment blocklist VACUOUS there (caught by the QueriesSpec
    // subgroup audit, round 11) — MACHINERY is present at every scale
    val blocked = graft.sources.Tables.customer(spark, sfDir)
      .filter(col("c_mktsegment").isin("AUTOMOBILE", "MACHINERY"))
      .select(col("c_custkey").as("user_id"))
    val ev = readEventStream(spark, sfDir, glob = Some("events.parquet"))
    val (_, sink) = drain(ev.join(broadcast(blocked), Seq("user_id"), "left_anti"),
      memorySink("anti"), stateWidth(spark, 8, sfDir))
    sink
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(28,10)")).cast("double")
          .as("sum_value"))
      .orderBy("event_type")
  }

  /** Oracle for [[suppressedStreamAvailableNow]]: the batch anti join
    * restated — only events from users outside the erasure segment
    * survive into the rollup.
    */
  val suppressedStreamAvailableNowSql: String =
    """SELECT event_type, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(28,10))) AS DOUBLE) AS sum_value
      |FROM events
      |WHERE user_id NOT IN (
      |  SELECT c_custkey FROM customer
      |  WHERE c_mktsegment IN ('AUTOMOBILE', 'MACHINERY'))
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** Wire a streaming DataFrame from parquet (file-source streaming —
    * how a production deployment would tail an events directory).
    */
  def readEventStream(spark: SparkSession, dir: String,
      glob: Option[String] = None,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    require(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") == "true",
      "set spark.sql.legacy.parquet.nanosAsLong=true at session build")
    // sniff the stored ts encoding (nanos-as-long vs plain micros) from
    // one batch footer read; the streaming schema must match the files
    val nanos = graft.sources.Tables.eventsTsIsNanos(spark, dir, glob)
    val reader = spark.readStream
      .schema(if (nanos) graft.sources.Tables.eventsSchema
              else graft.sources.Tables.eventsMicrosSchema)
    // the file source lists a DIRECTORY; a single-file table is selected
    // by globbing within its parent, never by passing the file path
    glob.foreach(g => reader.option("pathGlobFilter", g))
    // cap files per micro-batch (AvailableNow honors it): the
    // multi-batch replay path — one file per trigger, mtime order
    maxFilesPerTrigger.foreach(n =>
      reader.option("maxFilesPerTrigger", n.toString))
    val ev = reader.parquet(dir)
    if (nanos) ev.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    else ev
  }

  private val runCounter = new java.util.concurrent.atomic.AtomicInteger()

  /** q148's boundary-spanning-key count, keyed by (sfDir, events
    * mtime, nFiles) — see the inline note at its one use site.
    */
  private val spanningKeyMemo =
    new java.util.concurrent.ConcurrentHashMap[(String, Long, Int), Long]()

  /** Source rows per state partition. Round 12 measured 8 partitions
    * as best for the 100,000 sf0.1 events (4 serialized the per-row
    * work, 32 paid commit IO).
    */
  private[graft] val RowsPerStatePartition: Long = 12500L

  /** State-partition width for a replay of `sourceRows` rows: the
    * tuned `n`, capped at one partition per [[RowsPerStatePartition]]
    * source rows. A bounded replay commits every state-store partition
    * on every micro-batch, and below the cap that per-partition commit
    * cost outweighs the per-row work it spreads. Tuned grains: 8 for
    * the windowed-agg replays, 4 for the chunked-interval stream-stream
    * joins (round 14: best-of-2 q133 2.10 vs 2.22 s, q180 2.27 vs 2.46,
    * q163 2.48 vs 3.12 at 8; 16 strictly worse — the join's work is
    * map-heavy on the chunk key, so fewer state commits win).
    */
  private[graft] def statePartitions(n: Int, sourceRows: Long): Int =
    math.max(1L, math.min(n.toLong,
      (sourceRows + RowsPerStatePartition - 1) / RowsPerStatePartition)).toInt

  /** An event replay's state width ([[statePartitions]]). Every event
    * replay streams `sfDir`'s events table or a staged split of it, so
    * the source rows come from that table's footers.
    */
  private def stateWidth(spark: SparkSession, n: Int, sfDir: String): Int =
    statePartitions(n, graft.sources.Tables.eventsRows(spark, sfDir))

  /** Where a bounded replay writes, and what [[drain]] hands back once
    * it has drained: the sink's rows for a memory or parquet sink, `()`
    * for a per-batch function that writes its own outputs.
    */
  private[graft] final class Sink[R] private[EventStreams] (
      private[EventStreams] val attach:
        DataStreamWriter[Row] => DataStreamWriter[Row],
      private[EventStreams] val rows: SparkSession => R)

  /** A fresh memory table `<StreamTablePrefix><tag>_<n>`, dropped
    * between queries by [[graft.sources.Tables.dropDrainedStreamTables]].
    */
  private[graft] def memorySink(tag: String): Sink[DataFrame] = {
    val name = graft.sources.Tables.StreamTablePrefix + tag + "_" +
      runCounter.incrementAndGet()
    new Sink(_.format("memory").queryName(name), _.table(name))
  }

  /** A durable parquet sink: rows in `base/out`, checkpoint in
    * `base/ckpt`. Its rows are a batch read of the committed files
    * (resolved through `_spark_metadata`, the view a downstream reader
    * gets).
    */
  private[graft] def parquetSink(base: java.io.File): Sink[DataFrame] = {
    val out = new java.io.File(base, "out").getPath
    new Sink(_.format("parquet").option("path", out)
        .option("checkpointLocation", new java.io.File(base, "ckpt").getPath),
      _.read.parquet(out))
  }

  /** Hands each micro-batch and its id to `f`. */
  private[graft] def batchSink(f: (DataFrame, Long) => Unit): Sink[Unit] =
    new Sink(_.foreachBatch(f), _ => ())

  private val RocksDbProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Run `body` with a starter for a BOUNDED replay of `stream` into
    * `sink`: each call starts one query under an AvailableNow trigger
    * (every file present at start, then stop). `body` owns the started
    * queries' lifetime; the session confs the replay needs are set for
    * `body` and restored exactly when it returns or throws
    * ([[graft.sources.Tables.withConfs]]):
    *   - `spark.sql.shuffle.partitions` = `width`, the stateful
    *     operators' state partitions ([[statePartitions]] for event
    *     replays) or the per-batch join width of a stateless
    *     `foreachBatch` replay.
    *   - the RocksDB state-store provider when the plan holds a
    *     `transformWithState` node, the only provider Spark runs it on.
    *   - with `skipFinalBatch`, `noDataMicroBatches.enabled=false`.
    *
    * `skipFinalBatch` drops the no-data FINALIZATION micro-batch that a
    * watermarked Append or Update replay runs after its last file,
    * solely to advance the watermark. It is needed ONLY where that
    * advance EMITS (append-mode windowed aggs: the final windows;
    * outer/anti joins: the unmatched rows; event-time timers: q174's
    * digests). Where it provably emits nothing it is pure per-batch
    * machinery (~0.3-0.7 s at the harness scale, measured via Prof's
    * per-batch durationMs): Update mode emits only on data, inner and
    * semi joins emit only on matches, and dropDuplicates emits each key
    * on FIRST sight — for those the watermark's one job, state
    * EVICTION, already ran on the later data batches (each batch
    * evicts with the watermark computed from the previous batch's max
    * event time), so q157's asserted numRowsRemoved still shows. Spark
    * runs no finalization batch in Complete mode at all (only Append
    * and Update ask for one), so there is nothing to skip. The opt-out
    * is stated per call site, never derived from the plan: whether the
    * last watermark advance emits depends on each operator's emission
    * rule, and a wrong guess withholds rows silently.
    */
  private[graft] def start[A](stream: DataFrame, sink: Sink[_], width: Int,
      mode: OutputMode = OutputMode.Append(),
      skipFinalBatch: Boolean = false)(body: (() => StreamingQuery) => A): A = {
    require(!(skipFinalBatch && mode == OutputMode.Complete()),
      "Complete mode runs no finalization batch to skip")
    val transformsWithState = stream.queryExecution.logical.exists(
      _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.TransformWithState])
    graft.sources.Tables.withConfs(stream.sparkSession,
      "spark.sql.shuffle.partitions" -> Some(width.toString),
      "spark.sql.streaming.stateStore.providerClass" ->
        Option.when(transformsWithState)(RocksDbProvider),
      "spark.sql.streaming.noDataMicroBatches.enabled" ->
        Option.when(skipFinalBatch)("false")) {
      body(() => sink.attach(stream.writeStream.outputMode(mode))
        .trigger(Trigger.AvailableNow()).start())
    }
  }

  /** Replay `stream` into `sink` to the end ([[start]]) and return the
    * terminated query with the sink's rows.
    */
  private[graft] def drain[R](stream: DataFrame, sink: Sink[R], width: Int,
      mode: OutputMode = OutputMode.Append(),
      skipFinalBatch: Boolean = false): (StreamingQuery, R) = {
    val q = start(stream, sink, width, mode, skipFinalBatch) { run =>
      val q = run()
      q.awaitTermination()
      q
    }
    (q, sink.rows(stream.sparkSession))
  }

  /** Micro-batches of `q` that read input rows. */
  private[graft] def dataBatches(q: StreamingQuery): Int =
    q.recentProgress.count(_.numInputRows > 0)

  /** Read back a replay's per-batch outputs: the `b<batchId>`
    * directories under `outBase`, listed here and read together. A
    * glob path instead makes Spark probe it for a sink metadata log,
    * which logs a FileNotFoundException trace per read.
    */
  private def readBatchOutputs(spark: SparkSession,
      outBase: java.io.File): DataFrame =
    spark.read.parquet(outBase.listFiles().toSeq
      .filter(d => d.isDirectory && d.getName.matches("b\\d+"))
      .map(_.getPath).sorted: _*)

  /** q125 — watermark semantics made driver-visible: runs
    * [[sessionWindows]] as a real streaming job in APPEND mode, where
    * a session row is emitted only once the watermark passes its
    * window end. Under an available-now trigger the data arrives as
    * one micro-batch (watermark still at its initial floor, nothing
    * emitted), then the engine runs a no-data finalization batch with
    * the advanced watermark — so the drained sink holds exactly the
    * sessions whose end the FINAL watermark (max event time − 10 min)
    * passed. That cutoff is deterministic for a bounded replay, and
    * the oracle recomputes it in SQL: gap-sessionize with
    * session_window's merge rule (micros diff < gap merges) and keep
    * sessions with end + gap < max(ts) − 10 min. Late rows beyond the
    * tail are therefore watermark-DROPPED by design — this registered
    * row pins the eviction boundary, where q124 pins the aggregation.
    */
  def sessionWindowsAvailableNow(spark: SparkSession, sfDir: String): DataFrame = {
    val (_, sink) = drain(
      sessionWindows(readEventStream(spark, sfDir, glob = Some("events.parquet"))),
      memorySink("sessions"), stateWidth(spark, 8, sfDir))
    sink.orderBy("user_id", "session_start")
  }

  /** Oracle for [[sessionWindowsAvailableNow]]: gap-sessionize with
    * session_window's exact merge rule (µs diff < gap merges;
    * end = last event + gap), keeping only sessions the final
    * watermark passed. Spark tracks the watermark in MILLISECONDS
    * (max event time truncated to ms, minus the delay) and finalizes
    * windows with `end <= watermark`, so the cutoff is
    * `epoch_us(end) <= (max_us // 1000 - 600000) * 1000` — encoded
    * exactly, not approximated, so a session ending inside the
    * truncated millisecond still classifies identically in both
    * engines.
    */
  val sessionWindowsAvailableNowSql: String = {
    val gapUs = Events.SessionGapMinutes * 60L * 1000000
    val delayMs = WatermarkDelayMinutes * 60L * 1000
    s"""WITH ev AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id,
       |                   value FROM events),
       |mx AS (SELECT max(epoch_us(ts)) AS max_us FROM ev),
       |flagged AS (
       |  SELECT *,
       |    CASE WHEN lag(ts) OVER w IS NULL
       |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= $gapUs
       |         THEN 1 ELSE 0 END AS new_session
       |  FROM ev
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       |sessions AS (
       |  SELECT *, SUM(new_session) OVER (PARTITION BY user_id
       |    ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS session_seq
       |  FROM flagged),
       |agg AS (
       |  SELECT user_id, session_seq, MIN(ts) AS session_start,
       |         make_timestamp(MAX(epoch_us(ts)) + $gapUs) AS session_end,
       |         COUNT(*) AS n_events,
       |         CAST(SUM(CAST(value AS DECIMAL(28,10))) AS DOUBLE) AS sum_value
       |  FROM sessions GROUP BY 1, 2)
       |SELECT session_start, session_end, user_id, n_events, sum_value
       |FROM agg, mx
       |WHERE epoch_us(session_end) <= (max_us // 1000 - $delayMs) * 1000
       |ORDER BY user_id, session_start""".stripMargin
  }

  val ReplayFiles = 2 // input files (= micro-batches) of a bounded replay

  /** q134 — MULTI-micro-batch watermark advancement made driver-visible
    * (round 7; every other AvailableNow replay arrives as ONE data
    * batch by design): the events table is staged into `ReplayFiles`
    * chronological single-file parquets with strictly increasing
    * mtimes, and [[sessionWindows]] replays them with
    * `maxFilesPerTrigger = 1` — so the watermark advances BETWEEN data
    * batches, sessions are emitted and their state EVICTED mid-stream,
    * and the run self-checks that >1 data batch actually executed
    * (`recentProgress`, the VERDICT-prescribed probe).
    *
    * Determinism: the chronological split means file i+1's events are
    * all ≥ file i's max ts ≥ every intermediate watermark, so nothing
    * is late-dropped, mid-stream emission is order-insensitive in the
    * drained sink, and the final emitted SET equals q125's single-batch
    * one — the oracle is the same final-watermark-cutoff SQL. What this
    * row adds over q125 is the mid-stream eviction path: state carried
    * and merged ACROSS batches (a session spanning a file boundary must
    * merge before the later watermark emits it).
    *
    * Staging is rebuilt per invocation (delete + rewrite) so a testdata
    * regeneration at the same path can never serve stale files; the
    * driver-side loop is bounded by `ReplayFiles` (a replay-harness
    * constant, not data-scaled).
    */
  def sessionWindowsBatchedReplay(spark: SparkSession,
      sfDir: String): DataFrame = {
    val staging = stageChronologicalEvents(spark, sfDir, ReplayFiles)
    // ---- replay: one file per trigger, real watermark advancement ----
    val (q, sink) = drain(
      sessionWindows(readEventStream(spark, staging, maxFilesPerTrigger = Some(1))),
      memorySink("batched"), stateWidth(spark, 8, sfDir))
    val nDataBatches = dataBatches(q)
    require(nDataBatches >= 2,
      s"batched replay ran $nDataBatches data batches - " +
        "maxFilesPerTrigger was not honored, the multi-batch watermark " +
        "path was NOT exercised")
    sink.orderBy("user_id", "session_start")
  }

  /** Stage `sfDir`'s events into `nFiles` chronological single-file
    * parquets under /tmp/graft_stage with strictly increasing mtimes
    * (FileStreamSource's batch order) and return the staging path.
    * Split is by equal TIME RANGE — one tiny min/max agg + a map-side
    * bucket expression, no global-window sort funnel; file sizes may
    * vary, chronology is what matters. Reused through
    * [[graft.sources.Tables.freshStagedDir]] until the events file or
    * the code changes. Shared by [[sessionWindowsBatchedReplay]] (q134)
    * and the `stream` probe of [[graft.devtools.Soak]].
    */
  def stageChronologicalEvents(spark: SparkSession, sfDir: String,
      nFiles: Int, lateTail: Boolean = false): String = {
    // with lateTail the LAST staged file is a verbatim copy of the
    // OLDEST bucket: by the time the source reaches it the watermark
    // sits near the stream's end, so every row in it is late beyond the
    // delay and must be watermark-DROPPED (q146's fixture)
    val buckets = (0 until nFiles) ++ (if (lateTail) Seq(0) else Seq.empty)
    // dir name carries the dials: callers on different splits (a spec's
    // explicit 4-file shape vs the registered 3) must not thrash one
    // shared entry (round-13)
    stagedBuckets(sfDir, "events", s"_n$nFiles" + (if (lateTail) "_late" else ""),
        buckets) {
      val evAll = graft.sources.Tables.events(spark, sfDir)
      val bounds = evAll.agg(
        min(expr("unix_micros(ts)")).as("lo"),
        max(expr("unix_micros(ts)")).as("hi")).head()
      val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
      val span = hi - lo + 1
      evAll.withColumn("_b",
        expr(s"CAST(((unix_micros(ts) - ${lo}L) * $nFiles) div ${span}L AS INT)"))
    }
  }

  /** Stage `table` (documents or embeddings) as `nFiles` flat parquet
    * files of equal `idCol` ranges for file-stream ingest — the
    * [[stageChronologicalEvents]] layout on a corpus table. An empty id
    * range still gets a 0-row file, so the stream fires a batch for it.
    */
  def stageIdBatches(spark: SparkSession, sfDir: String, table: String,
      idCol: String, nFiles: Int): String =
    stagedBuckets(sfDir, table, s"_n$nFiles", 0 until nFiles) {
      val t = graft.sources.Tables.load(spark, sfDir, table)
      val maxId = t.agg(max(idCol)).head().getLong(0)
      t.withColumn("_b",
        expr(s"CAST(($idCol * $nFiles) div ${maxId + 1}L AS INT)"))
    }

  /** The stagers' shared loop: under a fresh
    * /tmp/graft_stage/batched_<table>_<pathKey><dials> dir, write the
    * rows of bucket `buckets(i)` (the `_b` column of `bucketed`) as the
    * single file `b%04d.parquet` with its mtime pinned to 1e6·(i+1):
    * FileStreamSource orders by modification time, and the pin keeps
    * batch order == bucket order even when the writes land within one
    * filesystem timestamp tick.
    */
  private def stagedBuckets(sfDir: String, table: String, dials: String,
      buckets: Seq[Int])(bucketed: => DataFrame): String = {
    val names = buckets.indices.map(i => f"b$i%04d.parquet")
    graft.sources.Tables.freshStagedDir(
      "/tmp/graft_stage/batched_" + table + "_" +
        graft.sources.Tables.pathKey(sfDir) + dials,
      Seq(new java.io.File(sfDir, table + ".parquet")), "buckets",
      names) { dir =>
      val staged = bucketed.localCheckpoint(true) // one scan, every bucket
      buckets.zipWithIndex.foreach { case (b, i) =>
        val tmp = new java.io.File(dir, s"_w$i")
        staged.filter(col("_b") === b).drop("_b")
          .coalesce(1).write.parquet(tmp.getPath)
        val part = tmp.listFiles.find(_.getName.endsWith(".parquet")).get
        val dest = new java.io.File(dir, names(i))
        java.nio.file.Files.move(part.toPath, dest.toPath)
        org.apache.commons.io.FileUtils.deleteQuietly(tmp)
        dest.setLastModified(1000000L * (i + 1))
      }
    }
  }

  /** q202 — STREAMING CORPUS-GATE INGEST: the q83 quality battery on
    * the LIVE path (q196 runs it as a batch stage; a production corpus
    * arrives as files). The staged document batches replay through the
    * file-stream source one file per trigger; each micro-batch computes
    * the fused gate expressions map-side ([[graft.operators.Corpus
    * .withGateScore]] — the SAME definition the batch q83/q194/q196
    * consumers use, so stream and batch can never drift) and writes its
    * per-source admit/discard/token ledger to an idempotent per-batch
    * dir (the q154 sink discipline); the drain folds the ledgers. The
    * DuckDB oracle restates the whole-corpus per-source gate counts —
    * equality proves the batch split changed nothing (gates are
    * stateless per row, so per-batch ledgers must sum to the batch
    * run's answer).
    *
    * Scale shape: the gate is stateless and fused into each batch's
    * scan (no state store, no watermark, no shuffle inside a batch
    * except the bounded per-source rollup); at 100 TB this is the
    * "curation keeps up with ingest" path — cost strictly ∝ new bytes.
    */
  def corpusGateStreamAvailableNow(spark: SparkSession,
      sfDir: String): DataFrame = {
    val staging =
      stageIdBatches(spark, sfDir, "documents", "doc_id", ReplayFiles)
    val outBase = new java.io.File(streamSinkDir(sfDir, "corpgate"), "out")
    outBase.mkdirs()
    val stream = spark.readStream
      .schema(graft.sources.Tables.documentsSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(staging)
    // the document/embedding replays keep no streaming state: their
    // shuffle width sizes each batch's join work, which the events
    // state-width rule (stateWidth) does not model
    val (q, _) = drain(stream, batchSink { (batch, batchId) =>
      // spread the fused gate scan: a micro-batch frame inherits
      // the arriving FILE's split count (7 tasks at sf10 for a
      // 32-core session, Prof round-14), not defaultParallelism —
      // Tables.spread applies to foreachBatch frames too
      graft.operators.Corpus.withGateScore(
          graft.sources.Tables.spread(batch))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum((col("score") === 4).cast("long")).as("n_admitted"),
          sum(when(col("score") === 4, col("n_tokens").cast("long"))
            .otherwise(0L)).as("admitted_tokens"))
        .write.mode("overwrite")
        .parquet(new java.io.File(outBase, s"b$batchId").getPath)
    }, width = 8)
    val nData = dataBatches(q)
    require(nData >= 2,
      s"corpus-gate replay ran $nData data batches - the per-batch " +
        "ledger path was not exercised")
    readBatchOutputs(spark, outBase)
      .groupBy("source")
      .agg(sum("n_docs").cast("long").as("n_docs"),
        sum("n_admitted").cast("long").as("n_admitted"),
        sum("admitted_tokens").cast("long").as("admitted_tokens"))
      .orderBy("source")
  }

  /** Oracle for [[corpusGateStreamAvailableNow]]: the whole-corpus
    * per-source gate counts (q83's gate battery restated) — stateless
    * gates make the per-batch fold equal the batch run exactly.
    */
  val corpusGateStreamSql: String =
    s"""WITH g AS (
       |  SELECT source, len(tks) AS n_tokens,
       |    CAST(list_sum(list_transform(tks, w -> length(w))) AS DOUBLE)
       |      / greatest(len(tks), 1) AS mean_wl,
       |    len(list_filter(list_distinct(tks),
       |      w -> w IN ('the','a','of','and','in'))) AS n_stop,
       |    CAST(len(list_filter(tks,
       |      w -> regexp_matches(w, '^[a-z]+$$'))) AS DOUBLE)
       |      / greatest(len(tks), 1) AS alpha_frac
       |  FROM (SELECT source, ${graft.operators.Corpus.tokensDuckSql}
       |          AS tks
       |        FROM documents)),
       |p AS (
       |  SELECT source, n_tokens,
       |    CAST(n_tokens BETWEEN 20 AND 60 AS INT)
       |      + CAST(mean_wl BETWEEN 3.8 AND 4.6 AS INT)
       |      + CAST(n_stop >= 2 AS INT)
       |      + CAST(alpha_frac >= 0.8 AS INT) AS score
       |  FROM g)
       |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(CASE WHEN score = 4 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_admitted,
       |  CAST(SUM(CASE WHEN score = 4 THEN n_tokens ELSE 0 END) AS BIGINT)
       |    AS admitted_tokens
       |FROM p GROUP BY source
       |ORDER BY source""".stripMargin

  /** The committed, not-yet-folded segments of a band-index dir:
    * every `_SUCCESS`-marked child (batch segments `b<id>` and folded
    * generations `gen<id>` alike — the probe does not care which).
    */
  private def liveSegments(segBase: java.io.File): Seq[java.io.File] =
    Option(segBase.listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(d => d.isDirectory &&
        new java.io.File(d, "_SUCCESS").exists)
      .sortBy(_.getName).toSeq

  /** Exact row count of a committed band segment, from its `_graft_rows`
    * sidecar (written at commit time — band rows are admits × Bands, a
    * number the committer knows without any action). A segment whose
    * sidecar is missing (crash in the tiny window between parquet
    * commit and sidecar write) reports a count that FORCES the exact
    * tier-1 bound — never an undercount.
    */
  private def segRowMeta(d: java.io.File): Long = {
    val f = new java.io.File(d, "_graft_rows")
    if (!f.exists) return Long.MaxValue / 8
    try new String(java.nio.file.Files.readAllBytes(f.toPath),
      "UTF-8").trim.toLong
    catch { case _: Exception => Long.MaxValue / 8 }
  }

  private def writeSegRowMeta(d: java.io.File, rows: Long): Unit =
    java.nio.file.Files.write(
      new java.io.File(d, "_graft_rows").toPath,
      rows.toString.getBytes("UTF-8"))

  /** The two-tier probe-volume bound shared by both streaming
    * admission loops (text bands and embedding signatures): tier 0 is
    * action-free — exact history row counts from the segments'
    * sidecars × the known batch band rows, worst-case single-bucket
    * product vs the cap under overflow-safe floor division; tier 1
    * (only when tier 0 can't clear) pays one bucket-grain agg over the
    * probe scan for the exact pre-filter join cardinality
    * Σ_bucket c·c_batch and refuses loudly above the cap, dial in the
    * message. `batchLo` separates batch from history rows — sound
    * because staged replays commit ascending id ranges.
    *
    * Returns the probe frame the CALLER should join on: at production
    * scale tier 1 runs on essentially every batch (tier 0 clears only
    * while history ≤ cap/batch), and its agg would re-scan the same
    * history the pairs join is about to scan — so once the probe
    * exceeds `ckptProbeRows` (sidecar-derived, no action) it is
    * localCheckpointed ONCE and both the bound agg and the join read
    * the blocks; below the threshold two small scans are cheaper than
    * a checkpoint and the frame passes through untouched.
    */
  private[graft] def guardProbeVolume(probe: DataFrame,
      priorSegs: Seq[java.io.File], bandRows: Long, batchLo: Long,
      idCol: String, bucketCols: Seq[String], maxProbePairs: Long,
      batchId: Long, tag: String,
      ckptProbeRows: Long = 4000000L): DataFrame = {
    val histMetas = priorSegs.map(segRowMeta)
    val histRows =
      if (histMetas.exists(_ >= Long.MaxValue / 8)) Long.MaxValue / 8
      else histMetas.sum
    val tier0Clears = bandRows == 0L ||
      (histRows < Long.MaxValue / 8 &&
        histRows + bandRows <= maxProbePairs / bandRows)
    if (tier0Clears) return probe
    // a POISONED sidecar (histRows pinned to MaxValue/8) is exactly the
    // degraded mode where tier 1 runs on every batch — treat unknown
    // history as over the checkpoint threshold instead of rescanning
    // the full history twice per batch (round-14 ADVICE #2)
    val probeShared: DataFrame =
      if (histRows >= Long.MaxValue / 8 ||
          histRows + bandRows > ckptProbeRows)
        probe.localCheckpoint(true)
      else probe
    val exactCand = probeShared
      .groupBy(bucketCols.map(col): _*)
      .agg(count(lit(1)).as("c"),
        sum((col(idCol) >= batchLo).cast("long")).as("cb"))
      .agg(coalesce(sum(col("c") * col("cb")), lit(0L)))
      .head().getLong(0)
    System.err.println(s"$tag: batch=$batchId histRows=$histRows " +
      s"batchRows=$bandRows exact=$exactCand cap=$maxProbePairs")
    require(exactCand <= maxProbePairs,
      s"streaming near-dup probe at batch $batchId would " +
        s"materialize $exactCand candidate rows (cap " +
        s"$maxProbePairs). A bucket this hot means a degenerate " +
        "near-identical inflow; raise maxProbePairs to force it " +
        "through, or shard the band key upstream.")
    probeShared
  }

  /** Fold live segments into one `gen<batchId>` generation when they
    * exceed the dial — shared by both streaming admission loops.
    * Output file count derives from input bytes (never an
    * unconditional coalesce(1) — round-13 verdict ask #1): one file at
    * harness scale, parallelism growing with the index. `_SUCCESS` is
    * committed before inputs are deleted (a crash between = double-
    * listed rows the probe's distinct() absorbs); the generation's
    * row-count sidecar is the sum of its inputs' (a fold is a pure row
    * copy), with a poisoned input staying poisoned so the probe guard
    * keeps taking its exact tier.
    */
  private def foldLiveSegmentsPastDial(spark: SparkSession,
      segBase: java.io.File, batchId: Long, maxLiveSegments: Int,
      foldTargetBytes: Long): Unit = {
    val live = liveSegments(segBase)
    if (live.length > maxLiveSegments) {
      val gen = new java.io.File(segBase, s"gen$batchId")
      val liveBytes = live.map { d =>
        Option(d.listFiles()).getOrElse(Array.empty[java.io.File])
          .filter(_.getName.endsWith(".parquet"))
          .map(_.length()).sum
      }.sum
      val nOut = math.max(1L,
        (liveBytes + foldTargetBytes - 1) / foldTargetBytes).toInt
      val folded = live.map(d => spark.read.parquet(d.getPath))
        .reduce(_ unionByName _) // pure band-row copy
      graft.sources.Tables.writeParquetFiles(folded, gen.getPath, nOut)
      val liveMetas = live.map(segRowMeta)
      writeSegRowMeta(gen,
        if (liveMetas.exists(_ >= Long.MaxValue / 8)) Long.MaxValue / 8
        else liveMetas.sum)
      live.foreach(org.apache.commons.io.FileUtils.deleteQuietly)
    }
  }

  val FoldTargetBytes = 64L << 20 // segment size the near-dup replays fold to
  val MaxProbePairs = 64L << 20 // probe-pair ceiling of one near-dup batch

  /** q205 — STREAMING NEAR-DUP ADMISSION: q196's batch stage 2 on the
    * LIVE path, wired through q159's versioned-segment index idiom.
    * The staged document batches (ascending doc_id ranges —
    * [[stageIdBatches]]) replay one file per trigger; each micro-batch (a) gates its train-split docs with the
    * SHARED battery ([[graft.operators.Corpus.withGateScore]]),
    * (b) bands its gate admits with the SHARED stage-2 banding
    * ([[graft.operators.Corpus.bandsOf]]), (c) probes the UNION of all
    * prior batches' committed band segments plus its own bands for
    * candidates, verifies them at the shared shingle grain, and drops
    * the larger id of every duplicate pair — exactly q196's "b
    * compares against all admits below it" rule, because the staged
    * ranges make every earlier-batch doc_id smaller — then (d) commits
    * its own gate admits' band rows as a `_SUCCESS` segment and its
    * admit/drop ledger to an idempotent per-batch dir. History is
    * never re-banded: per-batch cost is O(batch) + one probe join.
    *
    * The fold of the per-batch ledgers therefore reconstructs q196
    * stage 2 EXACTLY on the same data (StreamingSpec asserts the
    * admitted total against `corpusPipeline`'s near_dup row, and a
    * controlled fixture pins a genuinely CROSS-batch drop). The DuckDB
    * oracle restates the whole replay per batch — batch membership is
    * the deterministic `doc_id·n div (max+1)` range split.
    *
    * SEGMENT COMPACTION (q199's scheme, transplanted): the probe does
    * not fold every prior batch segment — after committing its own segment, a batch whose live
    * `_SUCCESS` segment count exceeds `maxLiveSegments` folds them all
    * into ONE `gen<batchId>` generation as a PURE band-row copy (the
    * lineage is parquet reads ∪ parquet write — no re-gate, no
    * re-shingle, no re-minhash) and then deletes the inputs, so
    * per-batch history cost is O(maxLiveSegments), not O(batches).
    * The commit order makes a crash harmless: the generation is
    * `_SUCCESS`-committed BEFORE its inputs are removed, and a
    * double-listed band row only duplicates candidate pairs the probe
    * `distinct()`s away — admissions are identical either way
    * (StreamingSpec pins never-compact == compact-every-batch on the
    * cross-batch fixture; q208 carries the batch-side oracle of the
    * same property). Probing a compacted GENERATION is driver-checked
    * by q209 (maxLiveSegments = 2, whose last batch probes the folded
    * generation); a production deployment sets the dial higher
    * (compacting every K batches amortizes the fold to corpus/K per batch — the single-level
    * scheme q199 uses; size-tiered folding would make total rewrite
    * O(n log n) and drops in without changing the probe, which just
    * lists live segments).
    *
    * Registered dials: q205 runs the MINIMAL incremental
    * fixture — 2 staged batches, fold every batch — so the driver row
    * pins per-batch admission, the cross-batch history drop, and one
    * executed fold; q209 (nFiles = 4, maxLiveSegments = 2) carries the
    * production-amortization properties on its own oracle: a batch
    * probing TWO live segments, a batch probing the folded GENERATION,
    * and a replay that ends amortized (live = {generation, tail}).
    *
    * PROBE-VOLUME GUARD: the per-batch band probe is a
    * join this loop runs forever, so it gets the q185/q33 discipline —
    * bound BEFORE materializing. Tier 0 is action-free (exact history
    * row counts from per-segment `_graft_rows` sidecars × the known
    * batch band rows, worst-case single-bucket product vs
    * `maxProbePairs`); only when that can't clear does tier 1 pay one
    * bucket-grain agg for the exact pre-filter join cardinality and
    * refuse loudly above the cap. A degenerate near-identical inflow
    * is therefore refused with the dial in the message instead of
    * spilling the executor (StreamingSpec pins refusal AND
    * dial-equality: the forced-through run admits identically).
    *
    * Output per batch: docs seen (train split), gate admits, dup drops
    * (split out: dropped by a HISTORY partner), final admits.
    */
  def streamingNeardupAdmission(spark: SparkSession, sfDir: String,
      nFiles: Int = ReplayFiles, maxLiveSegments: Int = 1,
      foldTargetBytes: Long = FoldTargetBytes,
      maxProbePairs: Long = MaxProbePairs): DataFrame = {
    val staging = stageIdBatches(spark, sfDir, "documents", "doc_id", nFiles)
    // dir keyed by the dials too: the registered q205 (fold every
    // batch) and q209 (amortized, maxLive=2) variants must not share
    // scratch — a later run deletes the base dir at start
    val base = streamSinkDir(sfDir, "neardup", s"_n${nFiles}m$maxLiveSegments")
    val outBase = new java.io.File(base, "out")
    val segBase = new java.io.File(base, "seg")
    outBase.mkdirs()
    segBase.mkdirs()
    val stream = spark.readStream
      .schema(graft.sources.Tables.documentsSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(staging)
    val (q, _) = drain(stream, batchSink { (batch, batchId) =>
      // ONE checkpoint + ONE stats action per batch front half
      // (round-14 action fusion: each action at micro-batch grain
      // pays fixed scheduling cost, and the old shape spent four —
      // train checkpoint, train stats, gate checkpoint, gate
      // count — where the gate score can ride the same
      // materialization and ALL three ledger stats one agg)
      // spread the fused gate+shingle scan (the q202 note): the
      // batch frame arrives with the FILE's split count — 7 tasks
      // at sf10 made the scan stage 9.4 s where 32 spread tasks
      // take ~2 s (Prof round-14)
      // scored is ALWAYS checkpointed: its two consumers would
      // otherwise each replay the spread SHUFFLE plus
      // the gate battery — a round-14 A/B of skipping below
      // 1 MiB/batch measured q205 ~1 s SLOWER at sf0.1 (the
      // recompute cost is fixed shuffle machinery, not data size,
      // so the checkpoint wins at every scale)
      graft.sources.Tables.overlapped(spark) { ov =>
      val scored = graft.operators.Corpus.withGateScore(
          graft.sources.Tables.spread(
            batch.filter(
              pmod(col("doc_id"), lit(graft.operators.Corpus.EvalMod)) =!= 0)))
        .localCheckpoint(true)
      // OVERLAP 1 (round-16, guide §2.6): the ledger-stats agg and
      // the band construction both read the scored checkpoint
      // blocks and are independent — run the tiny agg on the pool
      // thread while the main thread builds+checkpoints the bands
      val trainStatsF = ov.submit(s"neardup b$batchId: train stats") {
        scored.agg(count(lit(1)),
            coalesce(min("doc_id"), lit(Long.MaxValue)),
            sum((col("score") === 4).cast("long")))
          .head()
      }
      val gateAdm = scored.filter(col("score") === 4)
        .select("doc_id", "text")
      val batchBands = graft.operators.Corpus.bandsOf(gateAdm)
        .localCheckpoint(true)
      val trainStats = trainStatsF.get()
      val nDocs = trainStats.getLong(0)
      val batchLo = trainStats.getLong(1)
      val nGate = if (trainStats.isNullAt(2)) 0L else trainStats.getLong(2)
      // commit the segment up front FROM the checkpoint blocks
      // (idempotent overwrite, the q154 re-delivery discipline).
      // File count derived from the gate-admit count, never a
      // fixed coalesce(1): one file at harness scale keeps the
      // next batches' probe listing cheap, and the write spreads
      // once a batch's band rows are big enough to matter
      // (~500k rows/file; a probe-side readback of a 32-file
      // micro-segment costs more than the checkpoint it replaces —
      // measured round-14, which is why the probe below keeps the
      // in-memory blocks and only HISTORY comes from parquet)
      val segDir = new java.io.File(segBase, s"b$batchId")
      // OVERLAP 2 (round-16): the segment commit writes from the
      // band checkpoint blocks and is consumed only by FUTURE
      // batches (the probe below excludes it by name) and by the
      // fold — run it on the pool thread while the main thread
      // probes history and checkpoints the candidate pairs; joined
      // before the fold, which needs the segment committed.
      // exact row-count sidecar: band rows per segment are
      // admits × Bands by construction, so the probe guard below
      // can bound the join without any extra scan (overwrite mode
      // clears the dir, so a re-delivered batch rewrites it too)
      val segF = ov.submit(s"neardup b$batchId: segment commit") {
        val segParts = math.max(1L, math.min(64L,
          nGate * graft.operators.Dedup.Bands / 500000L + 1L)).toInt
        graft.sources.Tables.writeParquetFiles(batchBands,
          segDir.getPath, segParts)
        writeSegRowMeta(segDir, nGate * graft.operators.Dedup.Bands)
      }
      // history = whatever segments are LIVE (committed, not yet
      // folded into a generation) — a directory listing, not a
      // batch-id range, so compaction is transparent to the probe;
      // this batch's just-committed segment is excluded by NAME
      // (which also covers a crashed attempt's stale copy on
      // re-delivery — previously that copy rode the probe union
      // and was neutralized by doc_a < doc_b + distinct)
      val priorSegs = liveSegments(segBase)
        .filterNot(_.getName == segDir.getName)
      val probe = priorSegs.foldLeft(batchBands)((acc, d) =>
        acc.unionByName(spark.read.parquet(d.getPath)))
      // probe-volume guard: count BEFORE the join materializes —
      // the q185/q33/kNN discipline on the one self-join this
      // loop runs forever; the returned frame shares one probe
      // scan between the bound agg and the join at scale
      // ([[guardProbeVolume]])
      val probeG = guardProbeVolume(probe, priorSegs,
        nGate * graft.operators.Dedup.Bands, batchLo, "doc_id",
        Seq("band_idx", "band_key"), maxProbePairs, batchId,
        "probe-pair-volume")
      val pairs = probeG.select(col("doc_id").as("doc_a"),
          col("band_idx"), col("band_key"))
        .join(batchBands.select(col("doc_id").as("doc_b"),
          col("band_idx"), col("band_key")),
          Seq("band_idx", "band_key"))
        .filter(col("doc_a") < col("doc_b"))
        .select("doc_a", "doc_b").distinct()
        .localCheckpoint(true)
      val ids = pairs.select(col("doc_a").as("doc_id"))
        .union(pairs.select(col("doc_b").as("doc_id"))).distinct()
      // semi-join FIRST (round-11 order), then spread: the join
      // lands on the replay's 8 shuffle partitions, which serialized the expensive shingle exprs into
      // 8 tasks at sf10 — the repartition only moves the few
      // surviving candidate docs' text
      val sh = graft.operators.Corpus.shinglesOf(
        graft.sources.Tables.spread(
          graft.sources.Tables.documents(spark, sfDir)
            .join(ids, Seq("doc_id"), "left_semi")))
      val dropped = pairs
        .join(sh.select(col("doc_id").as("doc_a"),
          col("sh").as("sh_a")), Seq("doc_a"))
        .join(sh.select(col("doc_id").as("doc_b"),
          col("sh").as("sh_b")), Seq("doc_b"))
        .withColumn("n_inter",
          size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
        .withColumn("n_union",
          (size(col("sh_a")) + size(col("sh_b"))).cast("long")
            - col("n_inter"))
        .filter(col("n_inter") * 2 >= col("n_union"))
        .groupBy(col("doc_b").as("doc_id"))
        .agg(max((col("doc_a") < batchLo).cast("long")).as("by_hist"))
      // ledger: ONE action — the dup-stats agg IS the ledger row
      // (round-14 fusion: previously a head() collect plus a
      // separate one-row toDF write, two scheduled jobs per batch).
      // OVERLAP 3 (round-16): the ledger job reads ONLY the
      // eagerly-checkpointed `pairs` blocks and the source
      // documents table — never segment parquet (round-14 ADVICE
      // #1's hazard analysis) — so it safely overlaps the fold,
      // which touches only segment files. Submitted BEFORE the
      // fold starts and joined after; the TEXT path alone does
      // this (the embedding path's ledger reads probed segment
      // files when the guard's tier 0 clears, so there the ledger
      // must complete before the fold deletes them).
      val ledgerF = ov.submit(s"neardup b$batchId: ledger") {
        dropped
          .agg(count(lit(1)).as("n_dup_dropped"),
            coalesce(sum("by_hist"), lit(0L))
              .as("n_dropped_by_history"))
          .select(lit(batchId).as("batch_idx"),
            lit(nDocs).as("n_docs"), lit(nGate).as("n_gate"),
            col("n_dup_dropped"), col("n_dropped_by_history"),
            (lit(nGate) - col("n_dup_dropped")).as("n_admitted"))
          .coalesce(1).write.mode("overwrite")
          .parquet(new java.io.File(outBase, s"b$batchId").getPath)
      }
      // fold live segments past the dial (bytes-derived write
      // parallelism, _SUCCESS before delete, sidecar = Σ inputs —
      // [[foldLiveSegmentsPastDial]]); needs this batch's segment
      // committed, so join the segment future first
      segF.get()
      foldLiveSegmentsPastDial(spark, segBase, batchId,
        maxLiveSegments, foldTargetBytes)
      ledgerF.get()
      }
    }, width = 8)
    // SOAK diagnostic (stderr-only): per-batch wall times, the
    // flat-across-batches evidence the compaction exists to provide
    System.err.println("neardup-batch-ms: " + q.recentProgress
      .filter(_.numInputRows > 0)
      .map(p => p.durationMs.getOrDefault("triggerExecution", -1L))
      .mkString(","))
    val nData = dataBatches(q)
    require(nData >= 2,
      s"neardup admission replay ran $nData data batches - the " +
        "batch-vs-history probe path was not exercised")
    readBatchOutputs(spark, outBase).orderBy("batch_idx")
  }

  val StreamEmbThreshold = 0.35 // near-duplicate cosine (q210)
  val StreamEmbBands = 2 // q210's LSH banding: bands of the 16-bit signature
  val StreamEmbBitsPerBand = 8 // ...and bits per band

  /** q210 — STREAMING EMBEDDING NEAR-DUP ADMISSION: the sign-LSH
    * dedup family's live path, the exact counterpart of [[
    * streamingNeardupAdmission]] on the vector table. Staged id-ranged
    * embedding batches replay one file per trigger; each micro-batch
    * (a) signs its vectors with the SHARED 16-bit hyperplane signature
    * (`graft.functions.lsh_sig` under `Similarity.planeSigns` — the
    * q25 definition, so stream and batch can never drift), (b) bands
    * the signature at a FIXED 2×8-bit dial (a stream cannot re-derive
    * q25's whole-corpus adaptive dial per batch without rebanding
    * history; 2×8 is the rung the q25 ladder picks for the dense
    * corpora this path exists for, and the oracle bands identically),
    * (c) probes the union of all prior committed band segments plus
    * its own bands for candidates, verifies them with the EXACT cosine
    * (`cosine_sim`, id-keyed joins on ids-only pairs — payloads never
    * ride the pair exchange; the vector lookup broadcasts under the
    * size gate), and drops the larger id of every pair at or above the
    * threshold — ascending staged ranges make every earlier-batch
    * vec_id smaller, the q196/q205 "compares against all below it"
    * rule — then (d) commits its own band rows as a `_SUCCESS` segment
    * (row-count sidecar included) and its ledger to an idempotent
    * per-batch dir. Segment compaction and the two-tier probe-volume
    * guard are the [[streamingNeardupAdmission]] machinery verbatim.
    *
    * The DuckDB oracle restates the whole replay per batch (batch
    * membership is the deterministic `vec_id·n div (max+1)` split;
    * banding, cosine, and threshold are the same expressions q25
    * hash-matches with), so every ledger cell is cross-engine checked.
    *
    * Output per batch: vectors seen, candidate pairs probed, dup
    * drops (split out: dropped by a HISTORY partner), final admits.
    */
  def streamingEmbeddingNeardup(spark: SparkSession, sfDir: String,
      nFiles: Int = ReplayFiles, maxLiveSegments: Int = 1,
      maxProbePairs: Long = MaxProbePairs,
      // the banding rung (q25 ladder grain): candidates scale with
      // history·batch / 2^bits, so a denser inflow takes a tighter
      // rung — the registered row pins 2×8 (the oracle bands
      // identically); the sf10 soak demonstrates 1×16 as the
      // dense-corpus operating point (SOAK.md round-14)
      nBandsDial: Int = StreamEmbBands,
      bitsPerBand: Int = StreamEmbBitsPerBand): DataFrame = {
    require(nBandsDial * bitsPerBand <= 16,
      s"dial ${nBandsDial}x$bitsPerBand exceeds the 16-bit signature")
    val mask = (1 << bitsPerBand) - 1
    val staging = stageIdBatches(spark, sfDir, "embeddings", "vec_id", nFiles)
    val base = streamSinkDir(sfDir, "embneardup", s"_n${nFiles}m$maxLiveSegments")
    val outBase = new java.io.File(base, "out")
    val segBase = new java.io.File(base, "seg")
    outBase.mkdirs()
    segBase.mkdirs()
    val stream = spark.readStream
      .schema(graft.sources.Tables.embeddingsSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(staging)
    val (q, _) = drain(stream, batchSink { (batch, batchId) =>
      // sign + band in one spread scan (lsh_sig is native but the
      // arriving file's split count would still serialize it at
      // scale — the round-14 foreachBatch parallelism rule), then
      // ONE checkpoint feeds the stats agg, the segment write, and
      // both sides of the probe join
      val bands = graft.sources.Tables.spread(batch)
        .select(col("vec_id"),
          graft.functions.lsh_sig(col("embedding"),
            graft.operators.Similarity.planeSigns)
            .cast("long").as("sig"))
        .select(col("vec_id"), explode(expr(
          s"""transform(sequence(0, ${nBandsDial - 1}), b ->
             |  named_struct('band_idx', b,
             |    'band_v', (sig >> (b * $bitsPerBand)) & $mask))"""
            .stripMargin)).as("bv"))
        .select(col("vec_id"), col("bv.band_idx").as("band_idx"),
          col("bv.band_v").as("band_v"))
        .localCheckpoint(true)
      val st = bands
        .agg(count(lit(1)),
          coalesce(min("vec_id"), lit(Long.MaxValue)))
        .head()
      val bandRows = st.getLong(0)
      val nVecs = bandRows / nBandsDial
      val batchLo = st.getLong(1)
      val segDir = new java.io.File(segBase, s"b$batchId")
      // OVERLAP (round-16, guide §2.6, the text-path idiom): the
      // segment commit writes from the band checkpoint blocks and
      // is consumed only by future batches and the fold — run it
      // on a pool thread while the main thread probes history and
      // writes the ledger; joined before the fold. Unlike the
      // text path the LEDGER here is not overlapped with the
      // fold: when tier 0 clears, its lineage reads the probed
      // segment parquet the fold would delete.
      graft.sources.Tables.overlapped(spark) { ov =>
      val segF = ov.submit(s"embneardup b$batchId: segment commit") {
        val segParts = math.max(1L,
          math.min(64L, bandRows / 500000L + 1L)).toInt
        graft.sources.Tables.writeParquetFiles(bands,
          segDir.getPath, segParts)
        writeSegRowMeta(segDir, bandRows)
      }
      val priorSegs = liveSegments(segBase)
        .filterNot(_.getName == segDir.getName)
      val probe = priorSegs.foldLeft(bands)((acc, d) =>
        acc.unionByName(spark.read.parquet(d.getPath)))
      // two-tier probe-volume guard — [[guardProbeVolume]]; the
      // returned frame shares one probe scan between the bound
      // agg and the join at scale
      val probeG = guardProbeVolume(probe, priorSegs, bandRows,
        batchLo, "vec_id", Seq("band_idx", "band_v"),
        maxProbePairs, batchId, "emb-probe-pair-volume")
      val pairs = probeG.select(col("vec_id").as("vec_a"),
          col("band_idx"), col("band_v"))
        .join(bands.select(col("vec_id").as("vec_b"),
          col("band_idx"), col("band_v")),
          Seq("band_idx", "band_v"))
        .filter(col("vec_a") < col("vec_b"))
        .select("vec_a", "vec_b").distinct()
      // exact-cosine verify on ids-only pairs: vectors attach via
      // size-gated broadcast lookups, never ride the pair exchange.
      // No checkpoint on pairs — unlike the text path (two
      // consumers), the ledger agg is its only consumer and it
      // runs BEFORE the fold deletes any probed segment
      val vecs = graft.operators.Joins.broadcastIfSmall(
        graft.sources.Tables.embeddings(spark, sfDir)
          .select(col("vec_id"), col("embedding")))
      val scoredPairs = pairs
        .join(vecs.select(col("vec_id").as("vec_a"),
          col("embedding").as("e_a")), Seq("vec_a"))
        .join(vecs.select(col("vec_id").as("vec_b"),
          col("embedding").as("e_b")), Seq("vec_b"))
        .withColumn("cosine",
          graft.functions.cosine_sim(col("e_a"), col("e_b")))
      // ledger: ONE action — per-vec fold then the global row
      scoredPairs
        .groupBy(col("vec_b"))
        .agg(count(lit(1)).as("n_pairs_b"),
          max((col("cosine") >= StreamEmbThreshold).cast("long"))
            .as("is_dup"),
          max((col("cosine") >= StreamEmbThreshold &&
            col("vec_a") < batchLo).cast("long")).as("by_hist"))
        .agg(coalesce(sum("n_pairs_b"), lit(0L)).as("n_cand_pairs"),
          coalesce(sum("is_dup"), lit(0L)).as("n_dup_dropped"),
          coalesce(sum("by_hist"), lit(0L))
            .as("n_dropped_by_history"))
        .select(lit(batchId).as("batch_idx"),
          lit(nVecs).as("n_vecs"), col("n_cand_pairs"),
          col("n_dup_dropped"), col("n_dropped_by_history"),
          (lit(nVecs) - col("n_dup_dropped")).as("n_admitted"))
        .coalesce(1).write.mode("overwrite")
        .parquet(new java.io.File(outBase, s"b$batchId").getPath)
      // fold live segments past the dial — the q205 compaction
      // machinery ([[foldLiveSegmentsPastDial]]); needs this
      // batch's segment committed, so join the segment future
      segF.get()
      foldLiveSegmentsPastDial(spark, segBase, batchId,
        maxLiveSegments, FoldTargetBytes)
      }
    }, width = 8)
    System.err.println("embneardup-batch-ms: " + q.recentProgress
      .filter(_.numInputRows > 0)
      .map(p => p.durationMs.getOrDefault("triggerExecution", -1L))
      .mkString(","))
    val nData = dataBatches(q)
    require(nData >= 2,
      s"embedding neardup replay ran $nData data batches - the " +
        "batch-vs-history probe path was not exercised")
    readBatchOutputs(spark, outBase).orderBy("batch_idx")
  }

  val RestartAttempts = 3 // query restarts q143 allows

  /** q143 — DURABLE sink + checkpoint-recovery restart, the
    * production promise every memory-sink replay leaves unexercised:
    * the chronological multi-file replay (q134's staging) written
    * through `writeStream.format("parquet")` with a real
    * `checkpointLocation`, STOPPED mid-replay after at least one
    * committed data batch, then RESTARTED from the same checkpoint and
    * drained. Exactly-once across the kill is what the checkpoint (WAL
    * offsets + state store) and the file sink's `_spark_metadata`
    * transaction log jointly guarantee: the restarted query re-plans
    * the killed in-flight batch from the WAL, session state spanning
    * the kill point is recovered from the state store snapshot, and a
    * batch the sink already committed is skipped — so the final sink
    * holds each emitted session EXACTLY once, no duplicates from the
    * re-run batch, no gap from the kill. The final emitted set is the
    * same final-watermark cutoff as q125/q134 (chronological staging:
    * nothing is ever late), so the oracle is the same SQL; what this
    * row adds is that the set survived a kill/restart THROUGH a durable
    * sink (the batch read of the sink directory resolves committed
    * files via `_spark_metadata`, exactly the view a downstream
    * consumer sees).
    *
    * Self-checks: ≥1 data batch committed BEFORE the stop (the restart
    * genuinely recovers prior progress, it is not a fresh run) and ≥1
    * data batch committed AFTER it (the restart did real work) — both
    * from `recentProgress`, the q134 probe. Sink + checkpoint dirs are
    * rebuilt per invocation, so each call exercises the full cycle.
    *
    * Scale: checkpoint/sink transaction-log IO is per-BATCH, not
    * per-row; at 100 TB the identical topology holds — state sharded
    * by key hash across executors, recovery reading one state snapshot
    * + WAL entry per partition, the sink log compacting every 10
    * batches (`spark.sql.streaming.fileSink.log.compactInterval`).
    */
  def sessionWindowsDurableRestart(spark: SparkSession,
      sfDir: String): DataFrame = {
    val staging = stageChronologicalEvents(spark, sfDir, ReplayFiles)
    val stream = sessionWindows(
      readEventStream(spark, staging, maxFilesPerTrigger = Some(1)))
    val width = stateWidth(spark, 8, sfDir)
    var sink = parquetSink(streamSinkDir(sfDir, "restart"))
    // the kill is a race by design (stop() vs the replay draining);
    // if run 1 commits every batch before the stop lands, nothing is
    // left to recover — rebuild the dirs and re-race (bounded retries,
    // each a full fresh kill/restart cycle; failing only if the replay
    // outruns the poll every time)
    var attempt = 0
    var recovered = false
    while (!recovered) {
      attempt += 1
      if (attempt > 1) sink = parquetSink(streamSinkDir(sfDir, "restart"))
      val (d1, d2) = start(stream, sink, width) { run =>
        // ---- run 1: kill after the first committed data batch ----
        val q1 = run()
        val deadline = System.nanoTime + 120L * 1000 * 1000 * 1000
        while (q1.isActive && System.nanoTime < deadline &&
            !q1.recentProgress.exists(_.numInputRows > 0))
          Thread.sleep(2)
        q1.stop()
        q1.awaitTermination()
        val committed1 = dataBatches(q1)
        // ---- run 2: recover from the checkpoint, drain to the end ----
        val q2 = run()
        q2.awaitTermination()
        (committed1, dataBatches(q2))
      }
      require(d1 >= 1, s"restart harness: first run committed $d1 data " +
        "batches before the stop - recovery was not exercised")
      if (d2 >= 1) recovered = true
      else require(attempt < RestartAttempts,
        s"restart harness: the kill landed after the replay already " +
          s"drained in all $RestartAttempts attempts - recovery never " +
          "exercised")
    }
    // batch read of the sink: committed files only, via _spark_metadata
    sink.rows(spark).orderBy("user_id", "session_start")
  }

  val LateReplayFiles = 3 // q154's input files; the last is the late tail

  /** q146 — watermark ENFORCEMENT made driver-visible (q134 proves the
    * watermark advances across batches; this proves it DROPS): the
    * chronological staging plus one deliberately-late tail file — a
    * verbatim copy of the OLDEST time bucket, staged with the HIGHEST
    * mtime so it arrives after the watermark has advanced to the
    * stream's end. Every row in it is then older than
    * `watermark = max(ts) − 10 min` by days, so the session operator
    * drops all of them (`numRowsDroppedByWatermark`, asserted > 0 —
    * the fixture would otherwise re-open long-closed sessions and the
    * oracle would catch the duplicate session rows). The emitted set is
    * therefore exactly q125's final-watermark cutoff over the ORIGINAL
    * events — same oracle SQL; the fixture's rows must leave no trace.
    */
  def sessionWindowsLateReplay(spark: SparkSession,
      sfDir: String): DataFrame = {
    // nFiles MUST stay >= 3: the late-row filter for batch N uses the
    // watermark as of batch N-1, which was computed from data through
    // batch N-2 (one more lag than the eviction watermark — measured
    // round 14: with a 2+1 split the tail was filtered by a watermark
    // that had only seen bucket 0, so boundary-session copies within
    // gap+delay of bucket 0's end MERGED into live sessions and
    // doubled their counts). The middle file is the pacer that pushes
    // the filter watermark past the whole copied bucket.
    val staging = stageChronologicalEvents(spark, sfDir, LateReplayFiles,
      lateTail = true)
    val (q, sink) = drain(
      sessionWindows(readEventStream(spark, staging, maxFilesPerTrigger = Some(1))),
      memorySink("late"), stateWidth(spark, 8, sfDir))
    val dropped = q.recentProgress.flatMap(_.stateOperators)
      .map(_.numRowsDroppedByWatermark).sum
    require(dropped > 0,
      "late replay: numRowsDroppedByWatermark == 0 - the late tail " +
        "was not dropped, the watermark did not enforce")
    sink.orderBy("user_id", "session_start")
  }

  /** q124 — the streaming engine made driver-visible: runs
    * [[hourlyByType]] as a REAL Structured Streaming job (file source
    * → watermark → stateful windowed aggregation → memory sink) under
    * an available-now trigger, waits for it to drain, and returns the
    * sink table. Complete output mode emits every window (append would
    * withhold windows the final watermark hasn't passed), and the
    * bounded replay arrives as one micro-batch (single source file),
    * so no row is watermark-dropped — the result must equal the batch
    * query cell-exactly, and the oracle IS the q26 batch SQL. This
    * turns batch/stream parity from a unit-tested property
    * (StreamingSpec's MemoryStream diff) into a driver-checked row.
    */
  def hourlyByTypeAvailableNow(spark: SparkSession, sfDir: String): DataFrame = {
    val (_, sink) = drain(
      hourlyByType(readEventStream(spark, sfDir, glob = Some("events.parquet"))),
      memorySink("hourly"), stateWidth(spark, 8, sfDir), OutputMode.Complete)
    sink.orderBy("window_start", "event_type")
  }

  /** q148 — UPDATE output mode, completing the output-mode triad
    * (q124 Complete, q125/q134/q143 Append, this): the hourly rollup
    * over the chronological multi-file replay emits, per micro-batch,
    * the CURRENT aggregate of every (window, type) the batch touched —
    * the incremental-dashboard shape, where a downstream store upserts
    * keys instead of rewriting the table. The memory sink therefore
    * holds the UPDATE LOG: several rows per window that spanned a file
    * boundary (counts strictly increase across its updates), one per
    * window contained in a single file. The query folds the log the
    * way that downstream upsert store would — latest update per key,
    * selected by `max_by(struct(...), n_events)` since n_events is
    * strictly monotone over a key's updates — and that fold must equal
    * the batch aggregate exactly (the oracle is q26's SQL; the decimal
    * sum accumulates in the state store across batches, so the final
    * update's double conversion is the batch-identical value).
    * Self-asserts ≥2 data batches AND that the log holds MORE rows
    * than the folded result — proof that some window was genuinely
    * updated across batches, i.e. the mode was exercised, not merely
    * configured.
    */
  def hourlyByTypeUpdateReplay(spark: SparkSession,
      sfDir: String): DataFrame = {
    val staging = stageChronologicalEvents(spark, sfDir, ReplayFiles)
    // Update mode emits only on data; the finalization batch would
    // only evict state. Two chronological files are the minimal
    // cross-batch-update fixture (the fold and oracle are
    // split-invariant: n_events is monotone per key whatever the split)
    val (q, log) = drain(
      hourlyByType(readEventStream(spark, staging, maxFilesPerTrigger = Some(1))),
      memorySink("update"), stateWidth(spark, 8, sfDir), OutputMode.Update,
      skipFinalBatch = true)
    val nDataBatches = dataBatches(q)
    require(nDataBatches >= 2,
      s"update replay ran $nDataBatches data batches - the multi-batch " +
        "update path was NOT exercised")
    val folded = log
      .groupBy(col("window_start"), col("event_type"))
      .agg(
        max(col("n_events")).as("n_events"),
        expr("max_by(sum_value, n_events)").as("sum_value"))
      .orderBy("window_start", "event_type")
    val logRows = log.count()
    val keyRows = folded.count()
    // ground truth from the data itself: does any (window, type) key
    // have events in >1 staged time bucket? If so its key MUST appear
    // more than once in the update log; if the fixture is too sparse
    // for any key to span a boundary (sf0.001), there is nothing to
    // assert — the check is structural, not fixture-tuned. A pure
    // function of (events content, nFiles), so it is memoized per JVM
    // on the source mtime (the q187 staging-memo economics: the probe
    // is assertion input, not query output)
    val spanningKeys = spanningKeyMemo.computeIfAbsent(
      (sfDir, new java.io.File(sfDir, "events.parquet").lastModified,
        ReplayFiles), { _ =>
      val ev = graft.sources.Tables.events(spark, sfDir)
      val bounds = ev.agg(min(expr("unix_micros(ts)")).as("lo"),
        max(expr("unix_micros(ts)")).as("hi")).head()
      val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
      val span = hi - lo + 1
      ev.select(window(col("ts"), "1 hour").as("w"), col("event_type"),
          expr(s"CAST(((unix_micros(ts) - ${lo}L) * $ReplayFiles) " +
            s"div ${span}L AS INT)")
            .as("b"))
        .groupBy("w", "event_type")
        .agg(countDistinct(col("b")).as("nb"))
        .filter(col("nb") > 1)
        .count()
    })
    require(spanningKeys == 0 || logRows > keyRows,
      s"$spanningKeys keys span a file boundary but the update log has " +
        s"$logRows rows for $keyRows keys - cross-batch updates were " +
        "NOT emitted")
    folded
  }

  /** q149 — STREAM-STATIC enrichment join, the deployment shape every
    * streaming pipeline hits first (enrich events against a dimension
    * that is NOT a stream): the event stream inner-joins the static
    * customer dim on user_id = c_custkey below a Complete-mode rollup
    * by market segment, replayed over the chronological multi-file
    * staging with one file per trigger — so the join genuinely runs
    * once per micro-batch (≥2 data batches self-asserted, the q148
    * probe; round 8 ran one AvailableNow batch and left the per-batch
    * path unexercised). The static side broadcasts: no state, no
    * watermark on a static relation, and the broadcast is re-built per
    * micro-batch as each batch is planned.
    *
    * Honesty note on slowly-changing dims (this scaladoc over-claimed
    * in round 8): per-batch re-PLANNING does not imply per-batch
    * re-LISTING — a plain parquet static side pins its file listing in
    * the analyzed plan's FileIndex at stream start, so an overwritten
    * dim directory is NOT picked up mid-stream through this join.
    * Picking up a dim bump needs either a re-listing table format or
    * the foreachBatch re-read pattern — which is exactly what
    * [[dimSwapEnrichReplay]] (q160) demonstrates, version bump
    * observed. Oracle here: the identical batch join + rollup in SQL
    * (the dim is fixed for the whole replay, so batch boundaries
    * cannot affect the Complete-mode rollup).
    */
  def segmentRollupStream(spark: SparkSession, sfDir: String): DataFrame = {
    val staging = stageChronologicalEvents(spark, sfDir, ReplayFiles)
    val dim = graft.sources.Tables.customer(spark, sfDir)
      .select(col("c_custkey"), col("c_mktsegment"))
    val (q, sink) = drain(
      readEventStream(spark, staging, maxFilesPerTrigger = Some(1))
        .join(org.apache.spark.sql.functions.broadcast(dim),
          col("user_id") === col("c_custkey"))
        .groupBy(col("c_mktsegment").as("segment"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(28,10)")).cast("double")
            .as("sum_value")),
      memorySink("enrich"), stateWidth(spark, 8, sfDir), OutputMode.Complete)
    val nData = dataBatches(q)
    require(nData >= 2,
      s"enrich replay ran $nData data batches - the per-micro-batch " +
        "stream-static join path was NOT exercised")
    sink.orderBy("segment")
  }

  /** q160 — SLOWLY-CHANGING dim pickup, the claim q149's in-plan join
    * structurally cannot make (a parquet static side pins its file
    * listing at stream start): the `foreachBatch` re-read pattern —
    * Spark's documented idiom for joining a stream with slowly
    * changing data — where each micro-batch re-reads the dim directory
    * (fresh FileIndex, so a new version IS picked up), joins, and
    * appends its rollup contribution to a per-batch output. The dim is
    * VERSION-BUMPED between batches: after batch 0 commits, the dim
    * directory is overwritten with v2 (every segment renamed with a
    * `_v2` suffix), so batch 0's events enrich against v1 and every
    * later batch's against v2 — making the pickup OBSERVABLE in the
    * output (both v1 and v2 segment names must appear; self-asserted),
    * not just configured.
    *
    * Determinism: the chronological staging's time buckets ARE the
    * micro-batches (one file per trigger, mtime order), so "batch 0"
    * is exactly the first time quartile and the oracle restates the
    * split with the same integer bucket expression. Per-batch
    * contributions carry EXACT decimal sums (parquet decimal columns),
    * folded by one final decimal sum — associative, so the batch
    * partitioning cannot perturb the total; the double cast happens
    * once at the end, same as the batch query.
    *
    * Scale shape: identical to a production foreachBatch enrichment —
    * per-batch broadcast of the (re-read) dim, map-side join, rollup
    * at segment grain; the per-batch output dirs are the idempotent
    * version-chain idiom shared with q154.
    */
  def dimSwapEnrichReplay(spark: SparkSession, sfDir: String): DataFrame = {
    val staging = stageChronologicalEvents(spark, sfDir, ReplayFiles)
    val base = streamSinkDir(sfDir, "dimswap")
    val dimDir = new java.io.File(base, "dim").getPath
    val outBase = new java.io.File(base, "out")
    outBase.mkdirs()
    val dimV1 = graft.sources.Tables.customer(spark, sfDir)
      .select(col("c_custkey"), col("c_mktsegment").as("segment"))
    dimV1.write.mode("overwrite").parquet(dimDir)
    val (q, _) = drain(readEventStream(spark, staging, maxFilesPerTrigger = Some(1)),
      batchSink { (batch, batchId) =>
        val s = batch.sparkSession
        // the pickup: a FRESH read per batch re-lists the dim dir
        val dim = s.read.parquet(dimDir)
        batch
          .join(org.apache.spark.sql.functions.broadcast(dim),
            col("user_id") === col("c_custkey"))
          .groupBy(col("segment"))
          .agg(count(lit(1)).as("n_events"),
            sum(col("value").cast("decimal(28,10)")).as("sum_dec"))
          .write.mode("overwrite") // idempotent per-batch dir (q154)
          .parquet(new java.io.File(outBase, s"b$batchId").getPath)
        // bump AFTER the first batch committed: later batches see v2.
        // The bump is guarded TWICE: an on-disk marker (fast path) AND
        // a data-level conditional — a segment already ending in
        // '_v2' is passed through unchanged — so a RE-EXECUTED batch 0
        // (failure anywhere between the v2 overwrite and marker
        // creation; foreachBatch is at-least-once) re-runs the bump as
        // a no-op rewrite instead of double-suffixing to '_v2_v2'.
        // The marker alone left that window open (round-10 ADVICE):
        // only self-detection from the data closes it.
        val bumped = new java.io.File(dimDir, "_graft_dim_bumped")
        if (batchId == 0L && !bumped.exists) {
          val v2 = s.read.parquet(dimDir)
            .withColumn("segment",
              when(col("segment").endsWith("_v2"), col("segment"))
                .otherwise(concat(col("segment"), lit("_v2"))))
            .localCheckpoint(true) // sever lineage from the files
                                   // about to be overwritten
          v2.write.mode("overwrite").parquet(dimDir)
          bumped.createNewFile()
        }
      }, stateWidth(spark, 8, sfDir))
    val nData = dataBatches(q)
    require(nData >= 2,
      s"dim-swap replay ran $nData data batches - the version bump " +
        "could not be exercised")
    val folded = readBatchOutputs(spark, outBase)
      .groupBy("segment")
      .agg(sum(col("n_events")).cast("long").as("n_events"),
        sum(col("sum_dec")).cast("double").as("sum_value"))
      .orderBy("segment")
    val names = folded.select("segment").collect().map(_.getString(0))
    require(names.exists(!_.endsWith("_v2")) && names.exists(_.endsWith("_v2")),
      "dim-swap replay: output lacks v1 or v2 segment names - the " +
        "mid-stream dim bump was NOT picked up")
    folded
  }

  /** Oracle for [[dimSwapEnrichReplay]]: the time-bucket split (the
    * staging expression verbatim) decides which dim version each event
    * saw — bucket 0 joins v1 names, buckets ≥1 join v2 names — and the
    * rollup folds exact decimals before one double cast, exactly as
    * the per-batch contributions do.
    */
  def dimSwapEnrichReplaySql: String =
    s"""WITH ev AS (
       |  SELECT user_id, value,
       |    epoch_us(CAST(ts AS TIMESTAMP)) AS us
       |  FROM events),
       |b AS (SELECT MIN(us) AS lo, MAX(us) AS hi FROM ev),
       |tagged AS (
       |  SELECT user_id, value,
       |    CAST(((us - lo) * $ReplayFiles) // (hi - lo + 1) AS INT) AS bucket
       |  FROM ev CROSS JOIN b),
       |joined AS (
       |  SELECT CASE WHEN bucket = 0 THEN c_mktsegment
       |              ELSE c_mktsegment || '_v2' END AS segment,
       |         value
       |  FROM tagged JOIN customer ON user_id = c_custkey)
       |SELECT segment, COUNT(*) AS n_events,
       |  CAST(SUM(CAST(value AS DECIMAL(28,10))) AS DOUBLE) AS sum_value
       |FROM joined GROUP BY 1
       |ORDER BY segment""".stripMargin

  /** Oracle for [[segmentRollupStream]]: the batch join + rollup. */
  val segmentRollupStreamSql: String =
    """SELECT c_mktsegment AS segment, COUNT(*) AS n_events,
      |       CAST(SUM(CAST(value AS DECIMAL(28,10))) AS DOUBLE) AS sum_value
      |FROM events e JOIN customer c ON e.user_id = c.c_custkey
      |GROUP BY 1
      |ORDER BY 1""".stripMargin

  /** md5-60 BIGINT hash of user_id — identical to the q178 cell hash
    * and to the oracle's `('0x' || substr(md5(...), 1, 15))` tree, so
    * the KMV state below is bit-portable across engines.
    */
  private val kmvUserHashExpr =
    "CAST(conv(substring(md5(CAST(CAST(user_id AS STRING) AS BINARY))" +
      ", 1, 15), 16, 10) AS BIGINT)"

  /** Appends the deterministic KMV readout columns (k_used, kth_hash,
    * distinct_est) from a bottom-k array column and DROPS the array
    * (driver outputs must never be array-typed). The estimator tree —
    * exact count below k, else (k−1)·2^60/h_k in doubles — is the
    * identical correctly-rounded IEEE tree the oracle states.
    */
  private def withKmvScalars(df: DataFrame, k: Int): DataFrame =
    df.withColumn("k_used", size(col("kmv")).cast("long"))
      .withColumn("kth_hash", element_at(col("kmv"), size(col("kmv"))))
      .withColumn("distinct_est",
        when(col("k_used") < k, col("k_used").cast("double"))
          .otherwise((lit((k - 1).toDouble) *
            lit(graft.functions.KmvAgg.TwoPow60)) /
            col("kth_hash").cast("double")))
      .drop("kmv")

  val HourlyKmvK = 256 // bottom-k size of the hourly KMV distinct sketch

  /** q141 — distinct users per hourly window, STREAMING, via the KMV
    * bottom-k sketch ([[graft.functions.KmvAgg]]): the k-long sorted
    * hash array IS the per-(window, type) state row — constant
    * regardless of how many users a window sees, which is the
    * streaming form of the q45 story: an exact streaming COUNT
    * DISTINCT would have to carry every user id seen per open window
    * in the state store; the sketch caps state PER WINDOW at k longs.
    * (This replay runs in Complete output mode — like q124 — where the
    * watermark never evicts window state, so the store retains every
    * window ever seen; the per-window bound is what the sketch buys.
    * A long-running deployment bounds the window COUNT too by running
    * Append/Update — that is q157.)
    *
    * Round 12: KMV replaces the round-7 HLL here exactly because its
    * cells are ENGINE-PORTABLE (md5-60 bottom-k, the q178 idiom) — the
    * whole readout (k_used, kth hash, estimate) is deterministic and
    * DuckDB-restatable, moving this query from the rows-only whitelist
    * to a full hash-checked oracle. HLL remains the cheaper-state
    * choice where portability doesn't matter (q45/q136/q137).
    */
  def hourlyDistinctKmvAvailableNow(spark: SparkSession,
      sfDir: String): DataFrame = {
    val (_, sink) = drain(
      withKmvScalars(
        readEventStream(spark, sfDir, glob = Some("events.parquet"))
          .withColumn("h", expr(kmvUserHashExpr))
          .withWatermark("ts", watermarkDelay)
          .groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .agg(graft.functions.KmvAgg.bottomK(col("h"), HourlyKmvK).as("kmv"),
            count(lit(1)).as("n_events"))
          .select(col("window.start").as("window_start"),
            col("event_type"), col("kmv"), col("n_events")), HourlyKmvK)
        .select("window_start", "event_type", "n_events", "k_used",
          "kth_hash", "distinct_est"),
      memorySink("kmvdist"), stateWidth(spark, 8, sfDir), OutputMode.Complete)
    sink.orderBy("window_start", "event_type")
  }

  /** Shared DuckDB oracle for q141/q157 (the q157 fold reconstructs
    * exactly the q141 per-window finals — scaladoc there): per
    * (hour window, type), the bottom-k distinct md5-60 hashes, the
    * k-th smallest, and the (k−1)·2^60/h_k estimate (exact count
    * below k), all integer/IEEE-exact in both engines.
    */
  def hourlyDistinctKmvSql: String =
    s"""WITH ev AS (
       |  SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS window_start,
       |    event_type,
       |    CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
       |      AS BIGINT) AS h
       |  FROM events),
       |counts AS (
       |  SELECT window_start, event_type, COUNT(*) AS n_events
       |  FROM ev GROUP BY 1, 2),
       |ranked AS (
       |  SELECT window_start, event_type, h,
       |    row_number() OVER (PARTITION BY window_start, event_type
       |      ORDER BY h) AS rk
       |  FROM (SELECT DISTINCT window_start, event_type, h FROM ev)),
       |cells AS (
       |  SELECT window_start, event_type,
       |    CAST(COUNT(*) AS BIGINT) AS k_used,
       |    CAST(MAX(h) AS BIGINT) AS kth_hash
       |  FROM ranked WHERE rk <= $HourlyKmvK GROUP BY 1, 2)
       |SELECT c.window_start, c.event_type, n.n_events,
       |  c.k_used, c.kth_hash,
       |  CASE WHEN c.k_used < $HourlyKmvK THEN CAST(c.k_used AS DOUBLE)
       |    ELSE CAST(${HourlyKmvK - 1} AS DOUBLE)
       |      * CAST(1152921504606846976 AS DOUBLE)
       |      / CAST(c.kth_hash AS DOUBLE) END AS distinct_est
       |FROM cells c JOIN counts n
       |  ON c.window_start = n.window_start
       |  AND c.event_type = n.event_type
       |ORDER BY c.window_start, c.event_type""".stripMargin

  /** q157 — the PRODUCTION shape of the streaming KMV distinct (q141
    * runs Complete mode, where the watermark never evicts and "state
    * bounded" holds per-window only): the same windowed KMV rollup in
    * UPDATE mode over the chronological multi-file replay, where the
    * watermark EVICTS closed windows from the state store as it
    * advances — so total state is bounded by (open windows × k longs),
    * the claim a long-running deployment actually needs. The eviction
    * is OBSERVED, not assumed: `stateOperators.numRowsRemoved` must be
    * > 0 across the replay (the q146 probe style), and ≥2 data batches
    * must have run (otherwise the watermark never moved mid-stream and
    * eviction could not trigger).
    *
    * Correctness of the folded log: each emitted update carries the
    * window's CURRENT (k_used, kth_hash, distinct_est, n_events);
    * n_events is strictly monotone over a key's updates, so
    * latest-per-key = max_by on it (the q148 fold). Chronological
    * staging means every window's data fully arrives before the
    * watermark can pass its end (a boundary-spanning window's end
    * exceeds the earlier batch's max ts, hence its watermark), so no
    * update is ever lost to eviction and the fold equals the
    * single-batch q141 values per window — which is why BOTH queries
    * share [[hourlyDistinctKmvSql]] as a full hash-checked oracle
    * (round 12; the HLL predecessor was rows-only). StreamingSpec
    * additionally asserts streaming == batch cell-exactly.
    */
  def hourlyDistinctKmvUpdateReplay(spark: SparkSession,
      sfDir: String): DataFrame = {
    val staging = stageChronologicalEvents(spark, sfDir, ReplayFiles)
    // Update mode emits only on data; eviction (the asserted
    // numRowsRemoved) happens on the LATER DATA batches — each batch
    // evicts with the watermark computed from the previous batch's max
    // event time — so the finalization batch adds nothing observable
    val (q, sink) = drain(
      withKmvScalars(
        readEventStream(spark, staging, maxFilesPerTrigger = Some(1))
          .withColumn("h", expr(kmvUserHashExpr))
          .withWatermark("ts", watermarkDelay)
          .groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .agg(graft.functions.KmvAgg.bottomK(col("h"), HourlyKmvK).as("kmv"),
            count(lit(1)).as("n_events"))
          .select(col("window.start").as("window_start"),
            col("event_type"), col("kmv"), col("n_events")), HourlyKmvK)
        .select("window_start", "event_type", "n_events", "k_used",
          "kth_hash", "distinct_est"),
      memorySink("kmvevict"), stateWidth(spark, 8, sfDir), OutputMode.Update,
      skipFinalBatch = true)
    val nData = dataBatches(q)
    val removed = q.recentProgress.flatMap(_.stateOperators)
      .map(_.numRowsRemoved).sum
    require(nData >= 2,
      s"kmv evict replay ran $nData data batches - the multi-batch " +
        "eviction path was NOT exercised")
    require(removed > 0,
      "kmv evict replay: numRowsRemoved == 0 - the watermark evicted " +
        "no window state; 'state bounded by open windows' was NOT " +
        "demonstrated")
    sink
      .groupBy(col("window_start"), col("event_type"))
      .agg(max(col("n_events")).as("n_events"),
        expr("max_by(k_used, n_events)").as("k_used"),
        expr("max_by(kth_hash, n_events)").as("kth_hash"),
        expr("max_by(distinct_est, n_events)").as("distinct_est"))
      .select("window_start", "event_type", "n_events", "k_used",
        "kth_hash", "distinct_est")
      .orderBy("window_start", "event_type")
  }

  /** q154 — streaming UPSERT through `foreachBatch`, the merge-sink
    * shape every "streaming CDC into a dimension table" deployment
    * runs (a Delta/Iceberg MERGE INTO without the table format): the
    * chronological multi-file replay maintains a durable
    * latest-record-per-user table across micro-batches. Each batch is
    * first collapsed to ITS latest row per user (map-side: batch
    * grain), then merged against the current target version with the
    * same (ts, event_id) struct-max — an associative, idempotent fold,
    * which is exactly why foreachBatch's at-least-once re-delivery
    * still yields exactly-once TABLE STATE: a re-run batch merges from
    * the last version committed BELOW its own batchId (never from its
    * own partial output) and overwrites its version directory, so
    * replaying batch k is a no-op the second time.
    *
    * The target is a chain of versioned directories (`v<batchId>`,
    * `_SUCCESS`-committed by Spark's own committer); the final state is
    * the highest committed version. Micro-batches execute serially
    * (the engine's contract), so the chain is linear by construction.
    *
    * Scale shape: the per-batch merge is one co-partitioned groupBy on
    * user_id over (target ∪ batch-latest) — target is key-grain, the
    * batch contribution is batch-grain; at 100 TB the same topology is
    * a bucketed target joined on its bucket key, and the version chain
    * becomes the table format's snapshot log. Final set == the q66
    * batch latest-by-user, so the oracle restates the whole replay.
    *
    * Self-check: ≥2 data batches (the merge genuinely folded across
    * batches; one batch would make the merge path trivial).
    */
  def latestByUserUpsertReplay(spark: SparkSession,
      sfDir: String): DataFrame = {
    val staging = stageChronologicalEvents(spark, sfDir, ReplayFiles)
    // md5 of the full path, not String.hashCode: 32-bit hash collisions
    // between two sfDirs would interleave their version chains (ADVICE r8)
    val base = streamSinkDir(sfDir, "upsert")
    def versionsBelow(limit: Long): Seq[(Long, java.io.File)] = {
      val fs = Option(base.listFiles()).getOrElse(Array.empty)
      fs.filter(f => f.isDirectory && f.getName.startsWith("v") &&
          new java.io.File(f, "_SUCCESS").exists)
        .map(f => (f.getName.drop(1).toLong, f))
        .filter(_._1 < limit).sortBy(_._1).toSeq
    }
    val cols = Seq("user_id", "event_id", "ts", "event_type", "value")
    def latestPerUser(df: DataFrame): DataFrame = df
      .groupBy("user_id")
      .agg(max(struct(col("ts"), col("event_id"), col("event_type"),
        col("value"))).as("m"))
      .select(col("user_id"), col("m.event_id").as("event_id"),
        col("m.ts").as("ts"), col("m.event_type").as("event_type"),
        col("m.value").as("value"))
    val (q, _) = drain(readEventStream(spark, staging, maxFilesPerTrigger = Some(1)),
      batchSink { (batch, batchId) =>
        val s = batch.sparkSession
        val bLatest = latestPerUser(batch.select(cols.map(col): _*))
        val merged = versionsBelow(batchId).lastOption match {
          case Some((_, dir)) =>
            latestPerUser(s.read.parquet(dir.getPath).unionByName(bLatest))
          case None => bLatest
        }
        merged.write.mode("overwrite")
          .parquet(new java.io.File(base, s"v$batchId").getPath)
      }, stateWidth(spark, 8, sfDir))
    val nData = dataBatches(q)
    require(nData >= 2,
      s"upsert replay ran $nData data batches - the cross-batch merge " +
        "path was NOT exercised")
    val finalDir = versionsBelow(Long.MaxValue).last._2
    spark.read.parquet(finalDir.getPath).orderBy("user_id")
  }
}
