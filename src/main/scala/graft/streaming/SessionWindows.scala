package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming SESSIONIZATION — the last missing member of the streaming
  * window family (tumbling/sliding live in the batch twins `ts_tumble` /
  * `ts_slide`; this is the event-time `session_window` with a watermark,
  * append mode): per user, events closer than `gap` merge into one
  * session, and a session row emits EXACTLY ONCE, when the watermark
  * passes its close (the point no earlier event can reopen it).
  *
  * Semantics vs the batch `ts_session` query: IDENTICAL session bounds,
  * including the boundary — session_window's overlap check is
  * end-inclusive, so an event landing exactly `gap` seconds after its
  * predecessor extends the session, the same rule as the batch twin's
  * "new session only on Δts > gap" (SessionWindowSpec pins ≤gap merge /
  * >gap split explicitly and proves per-user fixture parity). Late rows
  * BEYOND the watermark are dropped — the streaming contract
  * ContaminationGuard deliberately avoids; here state must be
  * reclaimable, so the watermark is the price of bounded session state.
  *
  * Scale shape: state per OPEN session per user (merged eagerly by the
  * engine's session-merging state store ops), keyed-shuffled once on
  * user_id — the same single exchange the batch twin pays; the watermark
  * bounds state to the active-user horizon, independent of stream length.
  */
object SessionWindows {

  /** Sessionize a (user_id, ts, …) event stream: append-mode rows
    * (user_id, start, end, n_events), one per CLOSED session.
    */
  def sessionize(events: DataFrame, gapSeconds: Int,
      watermarkDelay: String): DataFrame =
    sessionCounts(events, "user_id", "ts", s"$gapSeconds seconds", watermarkDelay)
      .select(col("user_id"), col("start"), col("end"), col("n").as("n_events"))

  /** The one watermarked `session_window` count: rows (`key`, start,
    * end, n), one per closed session of `key`. [[sessionize]] and
    * [[ChangeStreamRelay.topicSessions]] rename its columns.
    */
  private[streaming] def sessionCounts(events: DataFrame, key: String,
      eventTimeCol: String, gap: String, watermark: String): DataFrame =
    events
      .withWatermark(eventTimeCol, watermark)
      .groupBy(col(key), session_window(col(eventTimeCol), gap))
      .agg(count(lit(1)).as("n"))
      .select(col(key),
        col("session_window.start").as("start"),
        col("session_window.end").as("end"),
        col("n"))
}
