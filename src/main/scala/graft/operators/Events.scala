package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Event-stream analytics over the `events` table (SURVEY.md §7.5),
  * batch form — the Structured Streaming form of the same operators
  * lives in [[graft.streaming.EventStreams]] and shares semantics:
  * Spark's `window()`/`session_window()` produce identical buckets in
  * batch and streaming, so these batch queries double as the
  * correctness oracle for the streaming path.
  *
  * Money/values aggregate in exact decimal (see Insights scaladoc);
  * window starts are epoch-aligned, matching the DuckDB oracle's
  * date_trunc/epoch arithmetic.
  */
object Events {

  // Exact decimal SUM internally; DOUBLE presentation (one correctly-
  // rounded conversion per engine — bit-identical; a DECIMAL output
  // column renders differently in Spark vs DuckDB, see Insights scaladoc).
  private def sumValue = sum(col("value").cast("decimal(28,10)"))
    .cast("double").as("sum_value")

  private val sumValueSql =
    "CAST(SUM(CAST(value AS DECIMAL(28,10))) AS DOUBLE) AS sum_value"

  /** Tumbling 1-hour windows per event type: count + value sum.
    * `window(ts, '1 hour')` buckets exactly like date_trunc('hour').
    */
  def hourlyByType(spark: SparkSession, sfDir: String): DataFrame =
    // spread the scan: the window bucketing + partial agg fuse into the
    // scan stage, which is ONE task on a single-row-group input (sf1
    // soak: 27x superlinear)
    Tables.spread(Tables.events(spark, sfDir))
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sumValue)
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))
      .orderBy("window_start", "event_type")

  /** Oracle note: the parquet `ts` is nanosecond precision; Spark reads
    * it truncated to microseconds, so every oracle casts
    * `CAST(ts AS TIMESTAMP)` (us, no TZ) to agree.
    */
  val hourlyByTypeSql: String =
    s"""SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS window_start,
       |       event_type,
       |       COUNT(*) AS n_events, $sumValueSql
       |FROM events
       |GROUP BY 1, 2
       |ORDER BY window_start, event_type""".stripMargin

  /** Sliding windows: 1-hour length, 15-minute slide. Spark emits one row
    * per (event, covering window) — each event lands in 4 windows with
    * epoch-aligned starts; the oracle reproduces that with an explicit
    * k=0..3 offset unnest.
    */
  def slidingHourly(spark: SparkSession, sfDir: String): DataFrame =
    // spread the scan: the 4-window Expand multiplies rows BEFORE the
    // partial agg, all fused into the scan task (sf1 soak: 47x)
    Tables.spread(Tables.events(spark, sfDir))
      .groupBy(window(col("ts"), "1 hour", "15 minutes"))
      .agg(count(lit(1)).as("n_events"), sumValue)
      .select(col("window.start").as("window_start"), col("n_events"),
        col("sum_value"))
      .orderBy("window_start")

  val slidingHourlySql: String =
    s"""SELECT make_timestamp(
       |         ((CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 900) AS BIGINT) - k)
       |          * 900) * 1000000) AS window_start,
       |       COUNT(*) AS n_events, $sumValueSql
       |FROM events, (SELECT UNNEST(range(0, 4)) AS k)
       |GROUP BY 1
       |ORDER BY window_start""".stripMargin

  val SessionGapMinutes = 30 // inactivity gap that closes a session, in minutes

  /** Sessionization with a 30-minute inactivity gap (the classic
    * lag -> gap-flag -> running-sum session id), then per-session
    * aggregates. One shuffle: the window partition by user.
    *
    * At 100 TB this is the right shape: sessions are computed entirely
    * within each user's partition (no cross-user data movement), and
    * user_id is high-cardinality so partitions balance. The streaming
    * equivalent (session_window + watermark) is in EventStreams.
    */
  def sessionize(spark: SparkSession, sfDir: String): DataFrame =
    sessions(spark, sfDir).orderBy("user_id", "session_seq")

  /** The session frame without [[sessionize]]'s presentation sort —
    * shared with [[concurrentSessions]], which re-aggregates it.
    */
  private def sessions(spark: SparkSession, sfDir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val gapSec = SessionGapMinutes * 60
    Tables.events(spark, sfDir)
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      // gap measured in exact fractional seconds (timestamp->double is
      // micros/1e6 in both engines; unix_timestamp would truncate)
      .withColumn("new_session",
        (col("prev_ts").isNull ||
          col("ts").cast("double") - col("prev_ts").cast("double") > gapSec)
          .cast("int"))
      .withColumn("session_seq",
        sum(col("new_session")).over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_seq"))
      .agg(
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"),
        sumValue)
  }

  def sessionizeSql: String = {
    val gapSec = SessionGapMinutes * 60
    s"""WITH ev AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id,
       |                   event_type, value FROM events),
       |flagged AS (
       |  SELECT *,
       |    CASE WHEN lag(ts) OVER w IS NULL
       |           OR epoch(ts) - epoch(lag(ts) OVER w) > $gapSec
       |         THEN 1 ELSE 0 END AS new_session
       |  FROM ev
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       |sessions AS (
       |  SELECT *, SUM(new_session) OVER (PARTITION BY user_id
       |    ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS session_seq
       |  FROM flagged)
       |SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
       |       MIN(ts) AS session_start, MAX(ts) AS session_end,
       |       COUNT(*) AS n_events, $sumValueSql
       |FROM sessions
       |GROUP BY user_id, session_seq
       |ORDER BY user_id, session_seq""".stripMargin
  }

  val CampaignPeriodDays = 7 // campaign recurrence period, in days
  val CampaignLenDays = 3 // days each campaign runs within its period

  /** q190 — INTERVAL-OVERLAP join (interval × interval, the shape q50's
    * point-in-window range join cannot express): user sessions overlap
    * derived campaign windows, reporting per campaign the overlapping
    * sessions, distinct users, and the EXACT total overlap time —
    * min(ends) − max(starts) in microseconds, pure integer arithmetic.
    * Campaign windows are derived deterministically from the data's own
    * date span (`CampaignLenDays`-day windows every `CampaignPeriodDays`
    * from the first event date), so both engines construct the identical
    * calendar.
    *
    * Scale shape: the campaign side is a calendar — O(span/period)
    * rows — so the overlap join is a broadcast nested-loop against the
    * big session frame with a pure range predicate: one pass, no
    * shuffle beyond the session build itself. (A big×big interval
    * overlap would chunk both sides on time like q50/q133 — the
    * calendar case is the one that should NOT pay that exchange.)
    */
  def campaignOverlap(spark: SparkSession, sfDir: String): DataFrame = {
    val s = sessions(spark, sfDir)
      .select(col("user_id"),
        unix_micros(col("session_start")).as("s_us"),
        unix_micros(col("session_end")).as("e_us"))
    val dayUs = 86400L * 1000000
    val camps = broadcast(Tables.events(spark, sfDir)
      .agg(min(to_date(col("ts"))).as("d0"), max(to_date(col("ts"))).as("d1"))
      .select(explode(expr(
        s"sequence(0, CAST(datediff(d1, d0) div $CampaignPeriodDays AS INT))"))
        .as("campaign_id"),
        unix_micros(col("d0").cast("timestamp")).as("base_us"))
      .select(col("campaign_id"),
        (col("base_us") + col("campaign_id") * CampaignPeriodDays * dayUs)
          .as("c_start"),
        (col("base_us") + col("campaign_id") * CampaignPeriodDays * dayUs
          + CampaignLenDays * dayUs).as("c_end")))
    s.join(camps, col("s_us") < col("c_end") && col("c_start") < col("e_us"))
      .select(col("campaign_id"), col("user_id"),
        (least(col("e_us"), col("c_end")) -
          greatest(col("s_us"), col("c_start"))).as("ovl_us"))
      .groupBy("campaign_id")
      .agg(count(lit(1)).as("n_sessions"),
        countDistinct(col("user_id")).as("n_users"),
        sum(col("ovl_us")).cast("long").as("overlap_us"))
      .orderBy("campaign_id")
  }

  def campaignOverlapSql: String = {
    val gapSec = SessionGapMinutes * 60
    val dayUs = 86400L * 1000000
    s"""WITH ev AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id
       |            FROM events),
       |flagged AS (
       |  SELECT *,
       |    CASE WHEN lag(ts) OVER w IS NULL
       |           OR epoch(ts) - epoch(lag(ts) OVER w) > $gapSec
       |         THEN 1 ELSE 0 END AS new_session
       |  FROM ev
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       |sess AS (
       |  SELECT user_id,
       |    SUM(new_session) OVER (PARTITION BY user_id
       |      ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS session_seq,
       |    ts
       |  FROM flagged),
       |si AS (
       |  SELECT user_id, epoch_us(MIN(ts)) AS s_us, epoch_us(MAX(ts)) AS e_us
       |  FROM sess GROUP BY user_id, session_seq),
       |b AS (
       |  SELECT epoch_us(CAST(MIN(CAST(CAST(ts AS TIMESTAMP) AS DATE))
       |                       AS TIMESTAMP)) AS base_us,
       |    CAST(date_diff('day',
       |           MIN(CAST(CAST(ts AS TIMESTAMP) AS DATE)),
       |           MAX(CAST(CAST(ts AS TIMESTAMP) AS DATE)))
       |         // $CampaignPeriodDays AS INT) AS n_c
       |  FROM events),
       |camps AS (
       |  SELECT CAST(i AS INT) AS campaign_id,
       |    base_us + i * ${CampaignPeriodDays.toLong * dayUs} AS c_start,
       |    base_us + i * ${CampaignPeriodDays.toLong * dayUs}
       |      + ${CampaignLenDays.toLong * dayUs} AS c_end
       |  FROM b, LATERAL UNNEST(range(0, n_c + 1)) t(i))
       |SELECT campaign_id,
       |  CAST(COUNT(*) AS BIGINT) AS n_sessions,
       |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       |  CAST(SUM(LEAST(e_us, c_end) - GREATEST(s_us, c_start)) AS BIGINT)
       |    AS overlap_us
       |FROM si JOIN camps ON s_us < c_end AND c_start < e_us
       |GROUP BY campaign_id
       |ORDER BY campaign_id""".stripMargin
  }

  val AttributionWindowDays = 7 // attribution lookback, in days

  /** q191 — LINEAR MULTI-TOUCH attribution: each purchase's value is
    * credited EQUALLY to every prior non-purchase touch by the same
    * user inside the attribution window — the marketing-analytics
    * complement to q126's last-touch (as-of) attribution. Exactness:
    * credits are floor(cents / n_touches) BIGINTs (integer division —
    * the deliberate "house keeps the remainder" convention, restated
    * identically in the oracle), summed order-free per channel.
    *
    * Scale shape: the purchase×touch join is an equi-join on user_id
    * with a time-range predicate — fanout bounded per user by its own
    * purchases × touches inside the window, never cross-user; the
    * per-purchase touch count is one window count over the join
    * output, and the channel rollup collapses map-side.
    */
  def multiTouchAttribution(spark: SparkSession, sfDir: String): DataFrame = {
    val winUs = AttributionWindowDays * 86400L * 1000000
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_type"), col("value"), col("event_id"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("us").as("p_us"),
        floor(col("value") * 100).cast("long").as("cents"),
        col("event_id").as("p_id"))
    val touches = ev.filter(col("event_type") =!= "purchase")
      .select(col("user_id"), col("us").as("t_us"),
        col("event_type").as("channel"))
    purchases.join(touches, Seq("user_id"))
      .filter(col("p_us") - col("t_us") >= 0 &&
        col("p_us") - col("t_us") <= winUs)
      .withColumn("n", count(lit(1)).over(Window.partitionBy("p_id")))
      .groupBy("channel")
      .agg(sum(expr("cents div n")).cast("long").as("credited_cents"),
        count(lit(1)).as("n_credits"),
        countDistinct(col("p_id")).as("n_purchases"))
      .orderBy("channel")
  }

  def multiTouchAttributionSql: String = {
    val winUs = AttributionWindowDays * 86400L * 1000000
    s"""WITH ev AS (
       |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
       |         event_type, value, event_id
       |  FROM events),
       |p AS (
       |  SELECT user_id, us AS p_us,
       |    CAST(floor(value * 100) AS BIGINT) AS cents,
       |    event_id AS p_id
       |  FROM ev WHERE event_type = 'purchase'),
       |t AS (
       |  SELECT user_id, us AS t_us, event_type AS channel
       |  FROM ev WHERE event_type <> 'purchase'),
       |j AS (
       |  SELECT p.p_id, p.cents, t.channel
       |  FROM p JOIN t ON p.user_id = t.user_id
       |   AND p.p_us - t.t_us BETWEEN 0 AND $winUs),
       |c AS (
       |  SELECT p_id, cents, channel,
       |    COUNT(*) OVER (PARTITION BY p_id) AS n
       |  FROM j)
       |SELECT channel,
       |  CAST(SUM(cents // n) AS BIGINT) AS credited_cents,
       |  CAST(COUNT(*) AS BIGINT) AS n_credits,
       |  CAST(COUNT(DISTINCT p_id) AS BIGINT) AS n_purchases
       |FROM c
       |GROUP BY channel
       |ORDER BY channel""".stripMargin
  }

  val TopSessionPaths = 50 // session paths kept by frequency

  /** q192 — SESSION PATH mining: the full ordered event-type sequence
    * of every session (q28's gap rule), folded to the top-k path
    * histogram — the clickstream-analytics complement to q186's
    * fixed-width contexts (variable-length whole-session paths, e.g.
    * "view>click>purchase"). Ordering inside a session is made
    * deterministic the exact-aggregation way: collect structs of
    * (ts, event_id, type), sort_array (lexicographic struct order ==
    * the session's event order with the duplicate-ts tiebreak), THEN
    * project the types — never a bare collect_list whose order is
    * partition-dependent.
    *
    * Scale shape: one user-grain window pass (session assignment), one
    * session-grain agg whose value is bounded by session length, one
    * path-grain histogram exchange.
    */
  def sessionPaths(spark: SparkSession, sfDir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val gapSec = SessionGapMinutes * 60
    Tables.events(spark, sfDir)
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        (col("prev_ts").isNull ||
          col("ts").cast("double") - col("prev_ts").cast("double") > gapSec)
          .cast("int"))
      .withColumn("session_seq",
        sum(col("new_session")).over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_seq"))
      .agg(sort_array(collect_list(
        struct(col("ts"), col("event_id"), col("event_type")))).as("evs"))
      .select(array_join(expr("transform(evs, e -> e.event_type)"), ">")
        .as("path"))
      .groupBy("path")
      .agg(count(lit(1)).as("n_sessions"))
      .orderBy(desc("n_sessions"), asc("path"))
      .limit(TopSessionPaths)
  }

  def sessionPathsSql: String = {
    val gapSec = SessionGapMinutes * 60
    s"""WITH ev AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id,
       |                   event_type FROM events),
       |flagged AS (
       |  SELECT *,
       |    CASE WHEN lag(ts) OVER w IS NULL
       |           OR epoch(ts) - epoch(lag(ts) OVER w) > $gapSec
       |         THEN 1 ELSE 0 END AS new_session
       |  FROM ev
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       |sess AS (
       |  SELECT *, SUM(new_session) OVER (PARTITION BY user_id
       |    ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS session_seq
       |  FROM flagged),
       |paths AS (
       |  SELECT string_agg(event_type, '>' ORDER BY ts, event_id) AS path
       |  FROM sess GROUP BY user_id, session_seq)
       |SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions
       |FROM paths
       |GROUP BY path
       |ORDER BY n_sessions DESC, path
       |LIMIT $TopSessionPaths""".stripMargin
  }

  /** Per-type daily funnel-ish rollup with distinct users — exercises
    * date bucketing + countDistinct on the event stream.
    */
  def dailyTypeRollup(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(to_date(col("ts")).as("event_date"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        sumValue)
      .orderBy("event_date", "event_type")

  /** JSON property extraction + rollup (semi-structured scalar funcs over
    * the `props` JSON column): per event type, stats of `props.k`.
    * get_json_object is codegen'd; at scale prefer from_json with an
    * explicit schema once the shape is fixed — this op demonstrates the
    * schema-on-read path.
    */
  def propsRollup(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(col("k").cast("long")).as("sum_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"))
      .orderBy("event_type")

  val propsRollupSql: String =
    """SELECT event_type, COUNT(*) AS n_events,
      |       CAST(SUM(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
      |       MIN(CAST(json_extract_string(props, '$.k') AS INT)) AS min_k,
      |       MAX(CAST(json_extract_string(props, '$.k') AS INT)) AS max_k
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  val dailyTypeRollupSql: String =
    s"""SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS event_date, event_type,
       |       COUNT(*) AS n_events,
       |       COUNT(DISTINCT user_id) AS n_users, $sumValueSql
       |FROM events
       |GROUP BY 1, 2
       |ORDER BY event_date, event_type""".stripMargin

  val RollupSplitDate = "2024-01-16" // first day of the second load

  /** Incremental rollup maintenance: the daily rollup recomputed as a
    * MERGE of two independently pre-aggregated batches (events before /
    * after `RollupSplitDate`) — the pattern an incremental ETL uses so each
    * load only aggregates its own delta. The partial state is kept at
    * (date, type, user) grain with decimal value sums, which makes every
    * output measure exactly re-aggregatable: counts sum, decimal sums
    * sum, and DISTINCT users survive because the user key is still in
    * the partial's grain (the classic reason approximate sketches or
    * key-grain partials — not bare `COUNT(DISTINCT)` results — are what
    * you persist between loads). Oracle = the full single-pass rollup:
    * merged partials must be bit-identical to recomputing from scratch.
    */
  def incrementalDailyRollup(spark: SparkSession,
      sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(to_date(col("ts")).as("event_date"), col("event_type"),
        col("user_id"), col("value"))
    def partial(batch: org.apache.spark.sql.DataFrame) = batch
      .groupBy("event_date", "event_type", "user_id")
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(28,10)")).as("sv"))
    val merged = partial(ev.filter(col("event_date") < lit(RollupSplitDate)))
      .unionByName(
        partial(ev.filter(col("event_date") >= lit(RollupSplitDate))))
    merged.groupBy("event_date", "event_type")
      .agg(sum("n").as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        sum("sv").cast("double").as("sum_value"))
      .orderBy("event_date", "event_type")
  }

  /** Same oracle as the single-pass rollup — that equality IS the check. */
  val incrementalDailyRollupSql: String = dailyTypeRollupSql

  val FunnelWithinHours = 1 // funnel step window, in hours

  /** Click→purchase funnel: for each click, the user's next purchase
    * (conditional MIN over the following frame of a per-user window);
    * converted = purchase within `FunnelWithinHours`. Rolled up per day:
    * clicks, conversions, rate. One exchange on user_id for the window,
    * one on the day for the rollup — both key-partitioned, no global
    * funnel; at 100 TB this is the standard sessionized-funnel shape
    * (the per-user frame never leaves its partition).
    */
  def clickFunnel(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(1, Window.unboundedFollowing)
    Tables.events(spark, sfDir)
      .withColumn("next_purchase_ts",
        min(when(col("event_type") === "purchase", col("ts"))).over(w))
      .filter(col("event_type") === "click")
      .withColumn("converted",
        when(col("next_purchase_ts") <=
          col("ts") + expr(s"INTERVAL $FunnelWithinHours HOURS"), 1)
          .otherwise(0))
      .groupBy(to_date(col("ts")).as("event_date"))
      .agg(count(lit(1)).as("n_clicks"), sum("converted").as("n_converted"))
      .withColumn("conversion_rate",
        col("n_converted").cast("double") / col("n_clicks"))
      .orderBy("event_date")
  }

  def clickFunnelSql: String =
    s"""WITH e AS (
       |  SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type
       |  FROM events),
       |scored AS (
       |  SELECT *,
       |    MIN(CASE WHEN event_type = 'purchase' THEN ts END) OVER (
       |      PARTITION BY user_id ORDER BY ts, event_id
       |      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
       |      AS next_purchase_ts
       |  FROM e)
       |SELECT CAST(ts AS DATE) AS event_date,
       |  COUNT(*) AS n_clicks,
       |  CAST(SUM(CASE WHEN next_purchase_ts <= ts + INTERVAL $FunnelWithinHours HOUR
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_converted,
       |  CAST(SUM(CASE WHEN next_purchase_ts <= ts + INTERVAL $FunnelWithinHours HOUR
       |    THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS conversion_rate
       |FROM scored
       |WHERE event_type = 'click'
       |GROUP BY event_date
       |ORDER BY event_date""".stripMargin

  /** Latest record per key (CDC-compaction / "current state" view):
    * row_number over a per-user window ordered ts desc with a total
    * tiebreak. The canonical 100 TB form of "apply the change log":
    * one exchange on the key, per-partition sort, no global ordering.
    */
  def latestByUser(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(desc("ts"), desc("event_id"))
    Tables.events(spark, sfDir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"),
        col("value"))
      .orderBy("user_id")
  }

  val DebounceSeconds = 5 // repeats within this many seconds collapse

  /** Debounce: drop events of the same (user, type) arriving within
    * `DebounceSeconds` of the previous kept-or-dropped event (lag-based —
    * the stateless form used for double-click/retry suppression in
    * event pipelines). One exchange on the (user, type) key; the lag
    * window never leaves its partition.
    */
  def debounce(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("user_id", "event_type")
      .orderBy(col("ts"), col("event_id"))
    Tables.events(spark, sfDir)
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .filter(col("prev_ts").isNull ||
        col("ts") >=
          col("prev_ts") + expr(s"INTERVAL $DebounceSeconds SECONDS"))
      .select("event_id", "user_id", "event_type", "ts", "value")
      .orderBy("event_id")
  }

  def debounceSql: String =
    s"""SELECT event_id, user_id, event_type, ts, value
       |FROM (
       |  SELECT event_id, user_id, event_type,
       |    CAST(ts AS TIMESTAMP) AS ts, value,
       |    LAG(CAST(ts AS TIMESTAMP), 1) OVER (
       |      PARTITION BY user_id, event_type
       |      ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev_ts
       |  FROM events)
       |WHERE prev_ts IS NULL OR ts >= prev_ts + INTERVAL $DebounceSeconds SECOND
       |ORDER BY event_id""".stripMargin

  val ActiveUserWindowDays = 7 // active-user window, in days

  /** Rolling 7-day active users (the WAU-per-day product metric).
    * Exact distinct over a sliding window is NOT mergeable from daily
    * distinct counts, so the query keeps the (day, user) grain: dedup
    * to daily actives (one exchange), then a bounded range join against
    * the calendar (the `ActiveUserWindowDays` side is calendar-sized —
    * broadcast — so the "window" is a fan-out of at most 7 rows per
    * daily-active entry, never a corpus self-join).
    */
  def rollingActiveUsers(spark: SparkSession, sfDir: String): DataFrame = {
    val du = Tables.events(spark, sfDir)
      .select(to_date(col("ts")).as("d"), col("user_id"))
      .distinct()
    val cal = du.select(col("d").as("day")).distinct()
    du.join(broadcast(cal),
        col("d") >= date_sub(col("day"), ActiveUserWindowDays - 1) &&
          col("d") <= col("day"))
      .groupBy("day")
      .agg(countDistinct(col("user_id")).as(s"active_${ActiveUserWindowDays}d"),
        count(lit(1)).as("active_days_sum"))
      .orderBy("day")
  }

  def rollingActiveUsersSql: String =
    s"""WITH du AS (
       |  SELECT DISTINCT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d, user_id
       |  FROM events),
       |cal AS (SELECT DISTINCT d AS day FROM du)
       |SELECT day,
       |  COUNT(DISTINCT user_id) AS active_${ActiveUserWindowDays}d,
       |  COUNT(*) AS active_days_sum
       |FROM du JOIN cal ON du.d >= day - ${ActiveUserWindowDays - 1} AND du.d <= day
       |GROUP BY day
       |ORDER BY day""".stripMargin

  /** Retention cohort matrix: users cohorted by first-seen ISO week,
    * counted by activity week — the triangle every growth dashboard
    * draws. Two aggregations ((user) grain for the cohort, then
    * (user, week) grain for activity) joined on the user key; all
    * counts integer-exact. (Weekly, not monthly: the testdata spans
    * one month, and both engines truncate weeks to ISO Monday.)
    */
  def retentionCohorts(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"),
        date_trunc("week", col("ts")).cast("date").as("wk"))
    val cohort = ev.groupBy("user_id")
      .agg(min(col("wk")).as("cohort_week"))
    val activity = ev
      .select(col("user_id"), col("wk").as("activity_week"))
      .distinct()
    activity.join(cohort, "user_id")
      .groupBy("cohort_week", "activity_week")
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy("cohort_week", "activity_week")
  }

  val retentionCohortsSql: String =
    """WITH ev AS (
      |  SELECT user_id,
      |    CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS DATE) AS wk
      |  FROM events),
      |cohort AS (
      |  SELECT user_id, MIN(wk) AS cohort_week
      |  FROM ev GROUP BY user_id),
      |activity AS (
      |  SELECT DISTINCT user_id, wk AS activity_week
      |  FROM ev)
      |SELECT cohort_week, activity_week,
      |  COUNT(DISTINCT a.user_id) AS n_users
      |FROM activity a JOIN cohort c USING (user_id)
      |GROUP BY cohort_week, activity_week
      |ORDER BY cohort_week, activity_week""".stripMargin

  /** Longest consecutive-day activity streak per user — the
    * gaps-and-islands pattern: within each user, consecutive dates
    * share the anchor `d - row_number` (each gap shifts it), so
    * streaks fall out of one more group-by. Entirely inside the
    * user's hash partition; integer/date arithmetic only.
    */
  def activityStreaks(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("d")
    val du = Tables.events(spark, sfDir)
      .select(col("user_id"), to_date(col("ts")).as("d"))
      .distinct()
    du.withColumn("anchor", date_sub(col("d"), row_number().over(w)))
      .groupBy("user_id", "anchor")
      .agg(count(lit(1)).as("len"))
      .groupBy("user_id")
      .agg(max(col("len")).as("longest_streak"),
        sum(col("len")).as("n_active_days"))
      .orderBy("user_id")
  }

  val activityStreaksSql: String =
    """WITH du AS (
      |  SELECT DISTINCT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d
      |  FROM events),
      |runs AS (
      |  SELECT user_id,
      |    d - CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d)
      |        AS INT) AS anchor
      |  FROM du),
      |streaks AS (
      |  SELECT user_id, anchor, COUNT(*) AS len
      |  FROM runs GROUP BY user_id, anchor)
      |SELECT user_id,
      |  CAST(MAX(len) AS BIGINT) AS longest_streak,
      |  CAST(SUM(len) AS BIGINT) AS n_active_days
      |FROM streaks
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  val latestByUserSql: String =
    """SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type,
      |  value
      |FROM (
      |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type,
      |    value,
      |    ROW_NUMBER() OVER (PARTITION BY user_id
      |      ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events)
      |WHERE rn = 1
      |ORDER BY user_id""".stripMargin

  /** Peak concurrent sessions per day — the classic interval-overlap
    * sweep line: each session contributes +1 at its start and -1 at its
    * end (inclusive-end: at equal instants starts order before ends, so
    * a one-event session still registers concurrency 1), and the
    * running sum of deltas ordered by time IS the concurrency.
    *
    * Scale shape: the running sum is NOT a single-partition window —
    * it's [[ScalableKeys.withPrefixSum]] (range partition on the sweep
    * key, per-partition sums, broadcast offsets), so the sweep scales
    * like a sort, not like a funnel. Determinism: the sweep key
    * `2·epoch_us + (start?0:1)` totally orders starts vs ends at equal
    * instants; rows tied on the full key carry EQUAL deltas, and a
    * prefix-sum multiset over an all-equal-delta tie group is
    * permutation-invariant, so the per-day MAX is deterministic.
    */
  def concurrentSessions(spark: SparkSession, sfDir: String): DataFrame = {
    val sess = sessions(spark, sfDir)
      .select(col("session_start"), col("session_end"))
    val deltas = sess
      .select(col("session_start").as("ts"), lit(1).as("delta"))
      .unionAll(sess.select(col("session_end").as("ts"),
        lit(-1).as("delta")))
      .withColumn("k", unix_micros(col("ts")) * 2 +
        when(col("delta") === 1, lit(0)).otherwise(lit(1)))
    ScalableKeys.withPrefixSum(deltas, "k", "delta", "open_before")
      .select(to_date(col("ts")).as("day"),
        (col("open_before") + col("delta")).as("conc"))
      .groupBy("day")
      .agg(max("conc").as("max_concurrent"),
        count(lit(1)).as("n_boundaries"))
      .orderBy("day")
  }

  def concurrentSessionsSql: String = {
    val gapSec = SessionGapMinutes * 60
    s"""WITH ev AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id
       |            FROM events),
       |flagged AS (
       |  SELECT *,
       |    CASE WHEN lag(ts) OVER w IS NULL
       |           OR epoch(ts) - epoch(lag(ts) OVER w) > $gapSec
       |         THEN 1 ELSE 0 END AS new_session
       |  FROM ev
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       |sessions AS (
       |  SELECT *, SUM(new_session) OVER (PARTITION BY user_id
       |    ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS session_seq
       |  FROM flagged),
       |sess AS (
       |  SELECT user_id, session_seq, MIN(ts) AS st, MAX(ts) AS en
       |  FROM sessions GROUP BY user_id, session_seq),
       |deltas AS (
       |  SELECT st AS ts, 1 AS delta, epoch_us(st) * 2 AS k FROM sess
       |  UNION ALL
       |  SELECT en, -1, epoch_us(en) * 2 + 1 FROM sess),
       |run AS (
       |  SELECT ts, SUM(delta) OVER (ORDER BY k
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS conc
       |  FROM deltas)
       |SELECT CAST(ts AS DATE) AS day,
       |  CAST(MAX(conc) AS BIGINT) AS max_concurrent,
       |  COUNT(*) AS n_boundaries
       |FROM run
       |GROUP BY 1
       |ORDER BY day""".stripMargin
  }

  /** Event-type transition matrix (first-order Markov counts): per
    * user, each consecutive event pair ordered by (ts, event_id)
    * contributes one (from, to) observation; probabilities are integer
    * parts-per-million of the from-type total — exact integer division,
    * no engine-specific float formatting (q06 ppm contract).
    *
    * Scale shape: ONE exchange on user_id for the lag window (sessions'
    * partitioning), then aggregation to the bounded (from, to) grid;
    * the per-from normalizing window runs over that grid, not the
    * events.
    */
  def transitionMatrix(spark: SparkSession, sfDir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    Tables.events(spark, sfDir)
      .withColumn("from_type", lag(col("event_type"), 1).over(byUser))
      .filter(col("from_type").isNotNull)
      .groupBy(col("from_type"), col("event_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("total_from",
        sum(col("n")).over(Window.partitionBy("from_type")))
      .select(col("from_type"), col("to_type"), col("n"),
        expr("(n * 1000000) div total_from").as("p_ppm"))
      .orderBy("from_type", "to_type")
  }

  val transitionMatrixSql: String =
    """WITH ev AS (SELECT user_id, event_id, event_type,
      |            CAST(ts AS TIMESTAMP) AS ts FROM events),
      |tr AS (
      |  SELECT lag(event_type) OVER (PARTITION BY user_id
      |    ORDER BY ts, event_id) AS from_type,
      |    event_type AS to_type
      |  FROM ev),
      |c AS (
      |  SELECT from_type, to_type, COUNT(*) AS n
      |  FROM tr WHERE from_type IS NOT NULL
      |  GROUP BY from_type, to_type)
      |SELECT from_type, to_type, n,
      |  CAST((n * 1000000) // SUM(n) OVER (PARTITION BY from_type)
      |    AS BIGINT) AS p_ppm
      |FROM c
      |ORDER BY from_type, to_type""".stripMargin

  /** Inter-arrival time distribution per event type: each gap (in exact
    * integer MICROSECONDS — no float timestamp subtraction) between a
    * user's consecutive events, attributed to the later event's type;
    * summarized with exact min/max and R-7 interpolated median/p90
    * (same percentile contract as q49), computed scale-safe via
    * [[Features.weightedPercentiles]].
    *
    * Scale shape: one exchange on user_id for the lag, ONE collapse to
    * (type, gap) grain, then both the base stats and the prefix-sum
    * percentiles derive from that bounded grain (one exchange,
    * deduplicated by ReuseExchange) — no percentile buffer ever sees
    * an event row; state is bounded by the gap-value domain per type.
    */
  def interarrival(spark: SparkSession, sfDir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val grain = Tables.events(spark, sfDir)
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("prev_us", lag(col("us"), 1).over(byUser))
      .filter(col("prev_us").isNotNull)
      .select(col("event_type"), (col("us") - col("prev_us")).as("gap_us"))
      .groupBy("event_type", "gap_us")
      .agg(count(lit(1)).as("w"))
    val base = grain.groupBy("event_type")
      .agg(sum("w").as("n_gaps"),
        min("gap_us").as("min_gap_us"),
        max("gap_us").as("max_gap_us"))
    val pct = Features.weightedPercentiles(grain, Seq("event_type"),
      "gap_us", "w",
      Seq("median_gap_us" -> 0.5, "p90_gap_us" -> 0.9))
    base.join(pct, Seq("event_type")).orderBy("event_type")
  }

  val interarrivalSql: String = {
    val pctSql = Features.weightedPercentilesSql("g", Seq("event_type"),
      "gap_us", "w", Seq("median_gap_us" -> 0.5, "p90_gap_us" -> 0.9))
    s"""WITH ev AS (SELECT user_id, event_id, event_type,
       |            epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
       |raw AS (
       |  SELECT event_type,
       |    us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id)
       |      AS gap_us
       |  FROM ev),
       |g AS (
       |  SELECT event_type, gap_us, COUNT(*) AS w
       |  FROM raw WHERE gap_us IS NOT NULL
       |  GROUP BY event_type, gap_us),
       |b AS (
       |  SELECT event_type, CAST(SUM(w) AS BIGINT) AS n_gaps,
       |    MIN(gap_us) AS min_gap_us, MAX(gap_us) AS max_gap_us
       |  FROM g GROUP BY event_type),
       |p AS (
       |  $pctSql)
       |SELECT b.event_type, n_gaps, min_gap_us, max_gap_us,
       |  median_gap_us, p90_gap_us
       |FROM b JOIN p ON b.event_type = p.event_type
       |ORDER BY b.event_type""".stripMargin
  }

  /** As-of join (q126): each purchase picks the user's most recent
    * click at-or-before it — the point-in-time attribution lookup —
    * via [[Joins.asofBackward]] (one key shuffle + shared window, no
    * range fan-out). `wait_us` is the exact integer click→purchase
    * latency; unmatched purchases (no prior click) keep NULL click
    * columns. The oracle is DuckDB's native ASOF LEFT JOIN — an
    * independently implemented algorithm agreeing cell-exact.
    *
    * Clicks are pre-collapsed to one row per (user_id, click_ts)
    * keeping the max click_id, on BOTH sides: DuckDB's ASOF JOIN
    * leaves tie-breaking among equal-timestamp right rows
    * unspecified, while asofBackward deterministically picks the
    * largest rightOrd — collapsing makes the comparison tie-free by
    * construction (and is what attribution wants anyway: one
    * candidate click per instant).
    */
  def purchaseClickAsof(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
      .groupBy("user_id", "click_ts")
      .agg(max("click_id").as("click_id"))
    Joins.asofBackward(purchases, clicks, "user_id",
        leftTs = "purchase_ts", rightTs = "click_ts", rightOrd = "click_id")
      .withColumn("wait_us",
        unix_micros(col("purchase_ts")) - unix_micros(col("click_ts")))
      .select("user_id", "purchase_id", "purchase_ts", "click_id",
        "click_ts", "wait_us")
      .orderBy("user_id", "purchase_ts", "purchase_id")
  }

  val purchaseClickAsofSql: String =
    """WITH p AS (SELECT user_id, event_id AS purchase_id,
      |                  CAST(ts AS TIMESTAMP) AS purchase_ts
      |           FROM events WHERE event_type = 'purchase'),
      |     c AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS click_ts,
      |                  MAX(event_id) AS click_id
      |           FROM events WHERE event_type = 'click'
      |           GROUP BY user_id, CAST(ts AS TIMESTAMP))
      |SELECT p.user_id, purchase_id, purchase_ts, click_id, click_ts,
      |       epoch_us(purchase_ts) - epoch_us(click_ts) AS wait_us
      |FROM p ASOF LEFT JOIN c
      |  ON p.user_id = c.user_id AND p.purchase_ts >= c.click_ts
      |ORDER BY p.user_id, purchase_ts, purchase_id""".stripMargin

  /** q153 — audience OVERLAP matrix: for every pair of event types,
    * the exact distinct-user intersection, each side's distinct
    * audience, and the Jaccard similarity in ppm — the
    * "which segments share users" question every campaign dashboard
    * asks, and the exact twin of what a theta-sketch intersection
    * would estimate at sketch cost.
    *
    * Scale shape: ONE distinct over (user, type) — the only fact-
    * volume exchange — then a SELF-JOIN ON user_id over the deduped
    * user-type table. That join is co-partitioned (both sides hash on
    * user_id from the same exchange) and its per-user fanout is
    * bounded by the TYPE VOCABULARY (≤ C(types,2) pairs per user),
    * not by the user's event count — so at 100 TB the pair exchange
    * is |users|·O(types²), orders of magnitude below the fact. Pair
    * sizes join node-grain (types² rows). Pairs with an empty
    * intersection are absent by construction (an equi-join can't
    * produce them); with Jaccard 0 they carry no ranking signal.
    */
  def audienceOverlap(spark: SparkSession, sfDir: String): DataFrame = {
    val ut = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_type")).distinct()
      .localCheckpoint(true) // one fact dedup, read 3x (sizes + both legs)
    val sizes = ut.groupBy("event_type").agg(count(lit(1)).as("n"))
    val inter = ut.select(col("user_id"), col("event_type").as("type_a"))
      .join(ut.select(col("user_id"), col("event_type").as("type_b")),
        Seq("user_id"))
      .filter(col("type_a") < col("type_b"))
      .groupBy("type_a", "type_b").agg(count(lit(1)).as("n_both"))
    inter
      .join(Joins.broadcastIfSmall(
        sizes.select(col("event_type").as("type_a"), col("n").as("n_a"))),
        Seq("type_a"))
      .join(Joins.broadcastIfSmall(
        sizes.select(col("event_type").as("type_b"), col("n").as("n_b"))),
        Seq("type_b"))
      .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"),
        col("n_both"),
        expr("CAST(n_both * 1000000 div (n_a + n_b - n_both) AS BIGINT)")
          .as("jaccard_ppm"))
      .orderBy("type_a", "type_b")
  }

  /** DuckDB oracle for [[audienceOverlap]]: same dedup → self-join →
    * inclusion-exclusion ppm, all exact integers.
    */
  val audienceOverlapSql: String =
    """WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
      |sizes AS (SELECT event_type, COUNT(*) AS n FROM ut GROUP BY 1),
      |inter AS (
      |  SELECT a.event_type AS type_a, b.event_type AS type_b,
      |    COUNT(*) AS n_both
      |  FROM ut a JOIN ut b ON a.user_id = b.user_id
      |    AND a.event_type < b.event_type
      |  GROUP BY 1, 2)
      |SELECT i.type_a, i.type_b, sa.n AS n_a, sb.n AS n_b, i.n_both,
      |  CAST(i.n_both * 1000000 // (sa.n + sb.n - i.n_both) AS BIGINT)
      |    AS jaccard_ppm
      |FROM inter i
      |JOIN sizes sa ON sa.event_type = i.type_a
      |JOIN sizes sb ON sb.event_type = i.type_b
      |ORDER BY i.type_a, i.type_b""".stripMargin

  /** q179 — the VARIANT semi-structured path (Spark 4's binary JSON
    * encoding, the lakehouse answer to repeated string re-parsing):
    * each event's payload is assembled into one nested JSON envelope
    * (`{"meta":{"type","day"},"payload":{"k"}}` — from_json shreds the
    * props string so the payload nests as a real object), parsed ONCE
    * per row to VARIANT, and every downstream access is a typed
    * `variant_get` path over the binary encoding — no second parse.
    * That per-row parse-once/extract-many contract is why VARIANT
    * scans beat `get_json_object` chains (q32's idiom) when a query
    * touches several paths: at 100 TB the string parser is the hot
    * loop. A missing path (`$$.payload.q`) goes through
    * `try_variant_get` and must come back NULL, not error — pinned by
    * the n_missing_q column (equal to n_events: the path never exists).
    *
    * Oracle: the same rollup restated from the raw relational columns
    * (the envelope is built from them, so DuckDB needs no VARIANT).
    */
  def variantPathRollup(spark: SparkSession, sfDir: String): DataFrame = {
    val envelope = to_json(struct(
      struct(col("event_type").as("type"),
        date_format(col("ts"), "yyyy-MM-dd").as("day")).as("meta"),
      from_json(col("props"),
        org.apache.spark.sql.types.StructType.fromDDL("k INT"))
        .as("payload")))
    Tables.events(spark, sfDir)
      .select(parse_json(envelope).as("v"))
      .select(
        variant_get(col("v"), "$.meta.type", "string").as("v_type"),
        variant_get(col("v"), "$.meta.day", "string").as("day"),
        variant_get(col("v"), "$.payload.k", "int").as("k"),
        try_variant_get(col("v"), "$.payload.q", "int").as("q"))
      .groupBy("v_type")
      .agg(count(lit(1)).as("n_events"),
        sum(col("k").cast("long")).as("sum_k"),
        max(col("day")).as("max_day"),
        sum(when(col("q").isNull, 1L).otherwise(0L)).as("n_missing_q"))
      .orderBy("v_type")
  }

  val EngagementHalfLifeDays = 7 // half-life of the engagement decay, in days
  val TopEngaged = 100 // users kept by decayed engagement

  /** q188 — RECENCY-DECAYED engagement score (half-life decay): the
    * feature-engineering primitive behind "recent activity counts
    * more" user-value features, made ENGINE-EXACT by quantizing the
    * decay to half-life steps and evaluating each step as a BIGINT
    * right-shift: contribution = floor(value·100) >> min(age/halfLife,
    * 62). Division by 2^k on a nonnegative integer is a bit shift in
    * both engines, every per-event contribution is an exact integer,
    * and the per-user sum is order-free — no pow(), no transcendental,
    * no float accumulation (the documented trade: decay moves in
    * half-life-sized steps, which is what a feature store would
    * precompute anyway). The 62 clamp bounds the shift for arbitrarily
    * old events instead of overflowing the shift width.
    *
    * Scale shape: one narrow scan, one broadcast 1-row max-date, one
    * user-grain agg with map-side partials, top-k TakeOrdered.
    */
  def decayedEngagement(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), to_date(col("ts")).as("d"),
        col("value"))
    val mx = broadcast(ev.agg(max(col("d")).as("max_d")))
    ev.crossJoin(mx)
      .select(col("user_id"),
        expr(s"""shiftright(CAST(floor(value * 100) AS BIGINT),
                |  least(CAST(datediff(max_d, d) / $EngagementHalfLifeDays AS INT),
                |        62))""".stripMargin).as("contrib"))
      .groupBy("user_id")
      .agg(sum(col("contrib")).cast("long").as("decayed_cents"),
        count(lit(1)).as("n_events"))
      .orderBy(desc("decayed_cents"), asc("user_id"))
      .limit(TopEngaged)
  }

  def decayedEngagementSql: String =
    s"""WITH mx AS (
       |  SELECT MAX(CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS max_d
       |  FROM events),
       |c AS (
       |  SELECT user_id,
       |    CAST(floor(value * 100) AS BIGINT) >>
       |      LEAST(date_diff('day', CAST(CAST(ts AS TIMESTAMP) AS DATE),
       |                      max_d) // $EngagementHalfLifeDays, 62) AS contrib
       |  FROM events, mx)
       |SELECT user_id,
       |  CAST(SUM(contrib) AS BIGINT) AS decayed_cents,
       |  CAST(COUNT(*) AS BIGINT) AS n_events
       |FROM c
       |GROUP BY user_id
       |ORDER BY decayed_cents DESC, user_id
       |LIMIT $TopEngaged""".stripMargin

  val TopContextWindows = 100 // context patterns kept by frequency

  /** q186 — TRAINING-SEQUENCE context construction: for every event
    * with at least three predecessors in its user's timeline, the
    * ordered context "t₋₃>t₋₂>t₋₁" plus the current type as the label —
    * the (context, next-token) pair construction every sequence-model
    * training pipeline runs over behavioral logs — then the compact
    * frequency table (support + distinct users) of the top patterns.
    * One per-user window (ts, event_id ordered — the duplicate-ts
    * tiebreak), three LAGs, one agg; no self-joins, no collects. At
    * 100 TB the window shuffles once at user grain and the histogram
    * exchange carries ≤ |types|³⁺¹ rows.
    */
  def contextWindows(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    Tables.events(spark, sfDir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("t1", lag(col("event_type"), 1).over(w))
      .withColumn("t2", lag(col("event_type"), 2).over(w))
      .withColumn("t3", lag(col("event_type"), 3).over(w))
      .filter(col("t3").isNotNull)
      .select(concat_ws(">", col("t3"), col("t2"), col("t1")).as("ctx"),
        col("event_type").as("label"), col("user_id"))
      .groupBy("ctx", "label")
      .agg(count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy(desc("n"), asc("ctx"), asc("label"))
      .limit(TopContextWindows)
  }

  def contextWindowsSql: String =
    s"""WITH o AS (
       |  SELECT user_id, event_type,
       |    lag(event_type, 1) OVER w AS t1,
       |    lag(event_type, 2) OVER w AS t2,
       |    lag(event_type, 3) OVER w AS t3
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id
       |               ORDER BY CAST(ts AS TIMESTAMP), event_id))
       |SELECT t3 || '>' || t2 || '>' || t1 AS ctx,
       |  event_type AS label,
       |  CAST(COUNT(*) AS BIGINT) AS n,
       |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
       |FROM o WHERE t3 IS NOT NULL
       |GROUP BY 1, 2
       |ORDER BY n DESC, ctx, label
       |LIMIT $TopContextWindows""".stripMargin

  val variantPathRollupSql: String =
    """SELECT event_type AS v_type, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS INT))
      |    AS BIGINT) AS sum_k,
      |  CAST(MAX(CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS VARCHAR)
      |    AS max_day,
      |  CAST(COUNT(*) AS BIGINT) AS n_missing_q
      |FROM events
      |GROUP BY 1
      |ORDER BY v_type""".stripMargin
}
