package graft.queries

import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-stream analytics in batch form: JSON prop extraction + tumbling
  * hourly aggregation (the batch twin of the Structured Streaming surface
  * in graft.streaming), and per-user activity stats.
  *
  * The events parquet stores `ts` as TIMESTAMP(MICROS); Tables.events
  * surfaces it as bigint nanoseconds and all time bucketing here is exact
  * integer arithmetic — no doubles anywhere near an epoch, so the DuckDB
  * mirror (which reads the same column as TIMESTAMP) agrees bit-for-bit.
  */
object EventQueries {
  import Helpers._

  private val NanosPerSec = 1000000000L
  private val NanosPerHour = 3600L * NanosPerSec

  private[queries] def events(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)

  /** Truncate bigint-nanos to epoch seconds (matches date_trunc('second')). */
  private def epochSec(c: org.apache.spark.sql.Column) =
    (c - pmod(c, lit(NanosPerSec))) / NanosPerSec

  /** DuckDB twin of the batch sessionization (q35, q127): `x` flags each
    * event that opens a session — the user's first, or one more than 30
    * minutes after the previous.
    */
  private val sessionStartsSql =
    """x AS (
      |  SELECT user_id, event_id, epoch_ns(ts) AS tns, value,
      |    CASE WHEN lag(epoch_ns(ts)) OVER w IS NULL
      |         OR epoch_ns(ts) - lag(epoch_ns(ts)) OVER w > 1800000000000
      |         THEN 1 ELSE 0 END AS new_sess
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id)
      |)""".stripMargin

  val all: Seq[Q] = Seq(

    // Hourly tumbling aggregate + JSON extraction pushed into the scan
    // projection. Epoch seconds on the output keep the timestamp
    // comparison engine-neutral.
    Q("q30_events_hourly", (s, dir) => {
      events(s, dir)
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .withColumn("hour_epoch",
          ((col("ts") - pmod(col("ts"), lit(NanosPerHour))) / NanosPerHour).cast("long") * 3600)
        .groupBy("hour_epoch", "event_type")
        .agg(count(lit(1)).as("n"),
          dsum(col("value")).as("value_sum"),
          sum(col("k")).as("k_sum"))
        .orderBy("hour_epoch", "event_type")
    }, Some(
      s"""SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_epoch,
         | event_type, count(*) AS n,
         | ${dsumSql("value")} AS value_sum,
         | CAST(sum(CAST(json_extract_string(props, '$$.k') AS BIGINT)) AS BIGINT) AS k_sum
         |FROM events GROUP BY 1, 2 ORDER BY hour_epoch, event_type""".stripMargin)),

    // Per-user activity stats: count, value sum, first/last event gap in
    // whole seconds.
    Q("q31_user_activity", (s, dir) => {
      events(s, dir)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          dsum(col("value")).as("value_sum"),
          (epochSec(max(col("ts"))) - epochSec(min(col("ts")))).cast("long").as("span_sec"),
          countDistinct(col("event_type")).as("n_types"))
        .orderBy("user_id")
    }, Some(
      s"""SELECT user_id, count(*) AS n_events,
         | ${dsumSql("value")} AS value_sum,
         | CAST(epoch(date_trunc('second', max(ts))) AS BIGINT)
         |   - CAST(epoch(date_trunc('second', min(ts))) AS BIGINT) AS span_sec,
         | count(DISTINCT event_type) AS n_types
         |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // As-of / lag: each event joined to the user's previous event —
    // value delta and whole-second gap, all in exact integer nanos.
    Q("q33_prev_event_lag", (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      events(s, dir)
        .withColumn("prev_value", lag(col("value"), 1).over(w))
        .withColumn("prev_ts", lag(col("ts"), 1).over(w))
        .select(col("user_id"), col("event_id"),
          round(col("value"), 4).as("value"),
          round(col("prev_value"), 4).as("prev_value"),
          (epochSec(col("ts")) - epochSec(col("prev_ts"))).cast("long").as("gap_sec"))
        .orderBy("user_id", "event_id")
    }, Some(
      """SELECT user_id, event_id, round(value, 4) AS value,
        | round(prev_value, 4) AS prev_value,
        | CAST(epoch(date_trunc('second', ts)) AS BIGINT)
        |   - CAST(epoch(date_trunc('second', prev_ts)) AS BIGINT) AS gap_sec
        |FROM (SELECT user_id, event_id, ts, value,
        |  lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_value,
        |  lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        | FROM events)
        |ORDER BY user_id, event_id""".stripMargin)),

    // Structured Streaming surface registered in the driver contract: the
    // watermarked tumbling-window aggregation run to completion over the
    // static directory (memory sink), counts only (exact cross-engine).
    Q("q34_streaming_hourly", (s, dir) => {
      // file-source needs a directory of plain files; stage the table
      // (single file OR part-file directory) into one
      val tmp = graft.sources.Staging.scratchDir("events-stream")
      graft.sources.Staging.stageTable(s"$dir/events.parquet", tmp, "events")
      val name = s"events_hourly_${System.nanoTime()}"
      graft.streaming.EventsStream.runOnce(s, tmp.toString, name)
        .select(col("hour_epoch"), col("event_type"), col("n"))
        .orderBy("hour_epoch", "event_type")
    }, Some(
      """SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_epoch,
        | event_type, count(*) AS n
        |FROM events GROUP BY 1, 2 ORDER BY hour_epoch, event_type""".stripMargin)),

    // Stateful sessionization (flatMapGroupsWithState + event-time
    // timeout): custom per-user state no windowed aggregate can express.
    // A far-future sentinel file (strictly later microbatch) flushes every
    // open session, so the emitted set equals the batch lag/cumsum
    // sessionization — checked exactly against the DuckDB window-function
    // twin. Session value sums accumulate as exact decimal micros, making
    // them arrival-order-independent and bit-identical to the oracle's
    // sum(CAST(value AS DECIMAL(20,6))).
    Q("q35_sessionize", (s, dir) => {
      val staged = graft.streaming.EventsStream
        .stageWithSentinel(s, s"$dir/events.parquet")
      val name = s"sessions_${System.nanoTime()}"
      graft.streaming.EventsStream.withStreamShufflePartitions(s) {
        val q = graft.streaming.EventsStream
          .sessionize(graft.streaming.EventsStream.source(s, staged))
          .writeStream.outputMode("append").format("memory")
          .queryName(name).start()
        q.processAllAvailable()
        q.stop()
      }
      s.table(name)
        .select(col("user_id"), col("session_start"), col("n_events"),
          col("duration_sec"), round(col("value_sum"), 4).as("value_sum"))
        .orderBy("user_id", "session_start")
    }, Some(
      s"""WITH $sessionStartsSql,
        |s AS (
        |  SELECT user_id, tns, value,
        |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY tns, event_id) AS sess_id
        |  FROM x
        |)
        |SELECT user_id,
        |  min(tns) // 1000000000 AS session_start,
        |  count(*) AS n_events,
        |  (max(tns) - min(tns)) // 1000000000 AS duration_sec,
        |  round(CAST(sum(CAST(value AS DECIMAL(20,6))) AS DOUBLE), 4) AS value_sum
        |FROM s GROUP BY user_id, sess_id
        |ORDER BY user_id, session_start""".stripMargin)),

    // Top event per user by value: window ranking over the user_id
    // shuffle partitioning.
    Q("q32_top_event_per_user", (s, dir) => {
      val w = Window.partitionBy("user_id")
        .orderBy(desc("value"), asc("event_id"))
      events(s, dir)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_id"), col("event_type"),
          round(col("value"), 4).as("value"))
        .orderBy("user_id")
    }, Some(
      """SELECT user_id, event_id, event_type, round(value, 4) AS value
        |FROM (SELECT user_id, event_id, event_type, value,
        |  row_number() OVER (PARTITION BY user_id
        |    ORDER BY value DESC, event_id ASC) AS rn FROM events)
        |WHERE rn = 1 ORDER BY user_id""".stripMargin)),

    // Session statistics over the BATCH sessionization twin (q35 is the
    // streaming side): lag/cumsum session assignment per user, then the
    // corpus-level engagement dials — session count, bounce rate
    // (1-event sessions), mean events and duration. All exact integers
    // until the final rounded ratios; the windows run per-user (the
    // natural partitioning), never unpartitioned.
    Q("q127_session_stats", (s, dir) => {
      val GapNs = 1800L * NanosPerSec
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val sess = events(s, dir)
        .withColumn("new_sess",
          when(lag("ts", 1).over(w).isNull ||
            col("ts") - lag("ts", 1).over(w) > GapNs, 1L).otherwise(0L))
        .withColumn("sess_id", sum("new_sess").over(
          Window.partitionBy("user_id").orderBy("ts", "event_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "sess_id")
        .agg(count(lit(1)).as("n_events"),
          expr(s"(max(ts) - min(ts)) div $NanosPerSec").as("dur_sec"))
      sess.agg(
          count(lit(1)).as("n_sessions"),
          sum(when(col("n_events") === 1L, 1L).otherwise(0L)).as("n_bounce"),
          sum("n_events").as("total_events"),
          sum("dur_sec").as("total_dur_sec"))
        .select(col("n_sessions"), col("n_bounce"),
          round(col("n_bounce").cast("double") / col("n_sessions"), 6)
            .as("bounce_rate"),
          round(col("total_events").cast("double") / col("n_sessions"), 6)
            .as("avg_events"),
          round(col("total_dur_sec").cast("double") / col("n_sessions"), 6)
            .as("avg_duration_sec"))
    }, Some(
      s"""WITH $sessionStartsSql,
        |s AS (SELECT user_id, tns,
        |        sum(new_sess) OVER (PARTITION BY user_id ORDER BY tns, event_id)
        |          AS sess_id
        |      FROM x),
        |g AS (SELECT user_id, sess_id, count(*) AS n_events,
        |        (max(tns) - min(tns)) // 1000000000 AS dur_sec
        |      FROM s GROUP BY user_id, sess_id),
        |t AS (SELECT count(*) AS n_sessions,
        |        CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |          AS n_bounce,
        |        CAST(sum(n_events) AS BIGINT) AS total_events,
        |        CAST(sum(dur_sec) AS BIGINT) AS total_dur_sec
        |      FROM g)
        |SELECT n_sessions, n_bounce,
        |  round(CAST(n_bounce AS DOUBLE) / n_sessions, 6) AS bounce_rate,
        |  round(CAST(total_events AS DOUBLE) / n_sessions, 6) AS avg_events,
        |  round(CAST(total_dur_sec AS DOUBLE) / n_sessions, 6)
        |    AS avg_duration_sec
        |FROM t""".stripMargin)),

    // Sequential pattern matching over per-user event journeys: the
    // time-ordered event-type initials collapse to one string per user
    // (collect + sort by (ts, event_id) — never physical row order) and
    // a regex detects the view→click→purchase funnel IN ORDER. The
    // journey string is emitted too, so the oracle hash pins the whole
    // sequence, not just the flag. One shuffle on user_id; the regex is
    // per-row on vocabulary-sized strings.
    Q("q131_journey_pattern", (s, dir) => {
      val journey = array_join(
        transform(
          array_sort(collect_list(struct(col("ts"), col("event_id"),
            substring(col("event_type"), 1, 1).as("ini")))),
          x => x.getField("ini")), "")
      events(s, dir)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"), journey.as("journey"))
        .select(col("user_id"), col("n_events"),
          length(col("journey")).cast("long").as("journey_len"),
          when(col("journey").rlike("v.*c.*p"), 1L).otherwise(0L)
            .as("has_funnel"),
          col("journey"))
        .orderBy("user_id")
    }, Some(
      """WITH j AS (SELECT user_id, count(*) AS n_events,
        |    string_agg(substr(event_type, 1, 1), ''
        |      ORDER BY epoch_ns(ts), event_id) AS journey
        |  FROM events GROUP BY user_id)
        |SELECT user_id, n_events,
        |  CAST(length(journey) AS BIGINT) AS journey_len,
        |  CAST(CASE WHEN regexp_matches(journey, 'v.*c.*p')
        |       THEN 1 ELSE 0 END AS BIGINT) AS has_funnel,
        |  journey
        |FROM j ORDER BY user_id""".stripMargin)))
}
