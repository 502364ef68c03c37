package graft.stream

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Event-time windowed aggregation with a watermark — the streaming
  * capability the reference lacks entirely (SURVEY §2.8: arrival-order
  * processing, "no event-time, no watermark"). Our engine's documented
  * improvement: late events are bounded by the watermark instead of
  * silently reordering state.
  *
  * Scale: tumbling-window counts are the canonical partial-agg
  * streaming shape — state per (window, key) only, map-side combine
  * per micro-batch, eviction once the watermark passes a window's end
  * (bounded state regardless of stream length).
  */
object EventWindows {

  /** Tumbling one-hour event-time window counts per event type.
    * `events` needs an event-time `ts` timestamp column (batch or
    * streaming). In append mode a window emits exactly once — when the
    * watermark passes its end — and events later than 2 hours are
    * dropped. */
  def windowedTypeCounts(events: DataFrame): DataFrame =
    typeCounts(events.withWatermark("ts", "2 hours"))

  /** q30 — the batch twin over the `events` table (identical window
    * semantics, DuckDB-oracle-certified; `window()` on a batch frame
    * needs no watermark). Tumbling windows floor to the hour in UTC on
    * both engines. */
  def windowedTypeCountsBatch(spark: org.apache.spark.sql.SparkSession,
                              dir: String): DataFrame =
    typeCounts(graft.ops.Tables.events(spark, dir))
      .orderBy(col("window_start"), col("event_type"))

  private def typeCounts(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("window_start"), col("event_type"), col("n"))

  /** Per-user sessionization: group each user's events into sessions
    * separated by inactivity gaps longer than 30 minutes, via Spark's
    * merging [[session_window]] (batch or streaming input). Two events
    * land in one session iff consecutive gaps are AT MOST the gap:
    * session windows that merely TOUCH are merged — an event exactly
    * 30 minutes after the previous one continues the session (pinned
    * by spec); `session_end` is last-event-time + gap on both engines.
    *
    * Scale: state/shuffle is keyed on (user, merged window) — the
    * canonical session shape. In streaming the watermark bounds state:
    * a session closes (and in append mode emits exactly once) when the
    * watermark passes its end, so open-ended users cannot accumulate
    * unbounded session state. `sum_value` follows the oracle decimal
    * rule (per-element DECIMAL(18,2) cast, summed exactly, emitted as
    * double). */
  def sessionStats(events: DataFrame): DataFrame =
    events
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).as("sum_dec"))
      .select(col("user_id"), col("sw.start").as("session_start"),
        col("sw.end").as("session_end"), col("n_events"),
        col("sum_dec").cast("double").as("sum_value"))

  /** [[sessionStats]] with a watermark — the streaming form: append
    * mode emits each session once, and a 2-hour lateness bound limits
    * both late data and session state. */
  def sessionStatsStreaming(events: DataFrame): DataFrame =
    sessionStats(events.withWatermark("ts", "2 hours"))

  /** q47 — the batch twin over the `events` table. The DuckDB oracle
    * replays the same sessions via gaps-and-islands (lag + running
    * sum of session-break flags), with the break condition
    * `ts - prev_ts > gap` matching the touching-windows-merge rule
    * above. */
  def sessionStatsBatch(spark: org.apache.spark.sql.SparkSession,
                        dir: String): DataFrame =
    sessionStats(graft.ops.Tables.events(spark, dir))
      .orderBy(col("user_id"), col("session_start"))
}
