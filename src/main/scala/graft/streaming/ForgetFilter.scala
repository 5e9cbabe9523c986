package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TimeMode,
  TimerValues, TTLConfig, ValueState}

/** Streaming deletion-request guard — the live half of the governance
  * pair whose batch half is `gov_forget_audit`: forget requests arrive
  * ON THE STREAM as tombstone events (in the reference's CDC world, a
  * delete op on the consent collection riding the same change feed,
  * exactly like a Kafka compaction tombstone), and once a user's
  * tombstone is seen every SUBSEQUENT event of that user is suppressed
  * into the purge dead-letter. Data already shipped before the request
  * is the batch audit's retroactive job; this guard stops new leakage
  * the moment the request lands, with no pipeline restart.
  *
  * Semantics:
  *  - within a micro-batch, rows order by (seq, tombstones first on
  *    ties) — placement of the tombstone is deterministic however the
  *    batch's rows were partitioned (the DedupProcessor move);
  *  - suppression is MONOTONE, never undone: a redelivered pre-tombstone
  *    event re-arriving after the tombstone is suppressed, not
  *    re-admitted — at-least-once upstreams can only move toward MORE
  *    suppression, the compliant direction (strict replay idempotence
  *    would re-admit, the non-compliant direction; spec pins this);
  *  - the tombstone itself emits as an acknowledgment row
  *    (tombstone = true, admitted = false), so the purge ledger shows
  *    when each request took effect.
  *
  * Scale/state contract: state per user is ONE boolean, and it exists
  * ONLY for users with a tombstone — the store grows with the deletion-
  * request count, not the user base or the stream length. No TTL:
  * forget-state must outlive any retention horizon by definition.
  *
  * One processor serves every event shape: `seq` and `tombstone` read an
  * event, `out` builds its output row from the event and its verdict
  * (`admitted`, always false for a tombstone). [[ForgetFilter.guard]] and
  * [[GovernancePipeline.run]] pass their own case classes; the state (the
  * Boolean "forgotten" per `Long` user key) is the same for both, and
  * existing checkpoints depend on that name and encoding.
  */
class ForgetProcessor[E, O](seq: E => Long, tombstone: E => Boolean,
    out: (E, Boolean) => O)
    extends StatefulProcessor[Long, E, O] {

  @transient private var forgotten: ValueState[Boolean] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    forgotten = getHandle.getValueState[Boolean]("forgotten",
      Encoders.scalaBoolean, TTLConfig.NONE)

  override def handleInputRows(
      key: Long,
      rows: Iterator[E],
      timerValues: TimerValues): Iterator[O] = {
    val ordered = rows.toSeq.sortBy(e => (seq(e), !tombstone(e)))
    var gone = forgotten.exists()
    ordered.iterator.map { e =>
      if (tombstone(e)) {
        if (!gone) forgotten.update(true)
        gone = true
        out(e, false)
      } else {
        out(e, !gone)
      }
    }
  }
}

object ForgetFilter {
  // state/IO case classes must be PUBLIC for the state-encoder codegen
  case class Ev(user_id: Long, seq: Long, tombstone: Boolean)
  case class Out(user_id: Long, seq: Long, tombstone: Boolean,
      admitted: Boolean)

  /** Tombstone-aware guard keyed by user. */
  def guard(events: Dataset[Ev]): Dataset[Out] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(
        new ForgetProcessor[Ev, Out](_.seq, _.tombstone,
          (e, admitted) => Out(e.user_id, e.seq, e.tombstone, admitted)),
        TimeMode.None(), OutputMode.Append())
  }

  /** Ledger routing: (admitted data, purge ledger — suppressed data and
    * tombstone acknowledgments).
    */
  def split(out: Dataset[Out]): (Dataset[Out], Dataset[Out]) =
    (out.filter(o => o.admitted), out.filter(o => !o.admitted))
}
