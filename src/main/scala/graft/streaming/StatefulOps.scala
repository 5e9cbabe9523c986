package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.cdc.ChangeEvents

/** Stateful streaming operators over the change-event envelope: the
  * materialized "current state per document" view that the reference's
  * `FullDocument=UpdateLookup` post-images imply (main.go:92) but never
  * materialize.
  *
  * State shape: one small record per key, partitioned by key hash
  * across executors. [[latestState]] keeps a delete as a tombstone (so a
  * replayed older event cannot resurrect the key) and [[scd2History]]
  * clears state on delete; an optional processing-time TTL reclaims
  * abandoned keys and tombstones. With `ttl = None` tombstones are never
  * reclaimed, so the store grows with every key ever seen — use it only
  * for known-bounded keysets (SURVEY.md §7.4: never unbounded per-key
  * state at scale).
  */
object StatefulOps {

  /** One upsertable document version. */
  case class KeyedChange(documentKey: String, operationType: String,
      fullDocument: String, eventTimeMs: Long)

  /** Current materialized state of one document. */
  case class CurrentState(documentKey: String, fullDocument: String,
      lastOp: String, lastEventTimeMs: Long)

  /** Epoch-millis extraction from the envelope's `clusterTime` string,
    * which FIXTURES.md §1 defines as canonical ExtJSON — either the BSON
    * `{"$timestamp":{"t":<epoch s>,"i":…}}` a real change stream carries
    * or a `{"$date":{"$numberLong":"<ms>"}}`; plain ISO-8601 strings (the
    * unit-test shorthand) fall back to `try_to_timestamp`. Anything else
    * is NULL — callers dead-letter those rows rather than crash the
    * non-nullable encoder.
    */
  def eventTimeMillis(clusterTime: Column): Column = coalesce(
    get_json_object(clusterTime, "$['$date']['$numberLong']").cast("long"),
    get_json_object(clusterTime, "$['$timestamp']['t']").cast("long") * 1000,
    unix_millis(try_to_timestamp(clusterTime)))

  /** The document ops of the envelope ([[ChangeEvents.opFilter]] with a
    * non-null `documentKey`) projected to [[KeyedChange]] columns.
    * Collection-level events (invalidate, drop, …) carry no document and
    * are the relay's dead letters, not state changes. Rows whose
    * `clusterTime` defeats every [[eventTimeMillis]] form keep a NULL
    * `eventTimeMs` (dead-letter them — a null in the non-nullable field
    * would otherwise fail at encode time).
    */
  private def keyedChanges(envelope: DataFrame): DataFrame =
    ChangeEvents.opFilter(envelope)
      .filter(col("documentKey").isNotNull)
      .select(
        col("documentKey"),
        col("operationType"),
        col("fullDocument"),
        eventTimeMillis(col("clusterTime")).as("eventTimeMs"))

  /** The wiring both folds share: the foldable [[keyedChanges]] grouped
    * by `documentKey`, each key's micro-batch handed to `fold` in
    * (eventTimeMs, operationType) order — a total order, so replayed
    * deliveries fold idempotently. `ttl` (e.g. `Some("1 hour")`) arms a
    * processing-time timeout on every key that still holds state; when it
    * fires the state is dropped and nothing is emitted.
    */
  private def foldByKey[S: Encoder, U: Encoder](envelope: DataFrame,
      mode: OutputMode, ttl: Option[String])(
      fold: (String, Seq[KeyedChange], GroupState[S]) => Iterator[U]): Dataset[U] = {
    import envelope.sparkSession.implicits._
    val timeoutConf =
      if (ttl.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    keyedChanges(envelope)
      .filter(col("eventTimeMs").isNotNull)
      .as[KeyedChange]
      .groupByKey(_.documentKey)
      .flatMapGroupsWithState(mode, timeoutConf) {
        (key: String, changes: Iterator[KeyedChange], state: GroupState[S]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val out = fold(key,
              changes.toSeq.sortBy(c => (c.eventTimeMs, c.operationType)), state)
            if (state.exists) ttl.foreach(state.setTimeoutDuration)
            out
          }
      }
  }

  private def updateState(
      key: String,
      ordered: Seq[KeyedChange],
      state: GroupState[CurrentState]): Iterator[CurrentState] = {
    var cur = state.getOption
    ordered.foreach { c =>
      if (cur.forall(_.lastEventTimeMs <= c.eventTimeMs)) {
        c.operationType match {
          // deletes persist as a TOMBSTONE (not state removal): an
          // at-least-once upstream can replay an older insert in a LATER
          // micro-batch, and only the tombstone's timestamp rejects it.
          // The TTL is what eventually reclaims tombstone state.
          case "delete" => cur = Some(CurrentState(key, null, "delete", c.eventTimeMs))
          case _ => cur = Some(CurrentState(key, c.fullDocument, c.operationType, c.eventTimeMs))
        }
      }
    }
    val st = cur.getOrElse(CurrentState(key, null, "delete", 0L))
    state.update(st)
    Iterator.single(st)
  }

  /** Streaming latest-state: emits the post-fold current state of every
    * key touched by each micro-batch (update output mode).
    *
    * `ttl`: processing-time state TTL (e.g. `Some("1 hour")`) for
    * abandoned keys and tombstones. With a TTL the engine schedules extra
    * micro-batches to fire timeouts, so pair it with a real trigger
    * interval in production; `None` keeps every key's state, tombstones
    * included, for the life of the checkpoint.
    *
    * Rows with an unparseable `clusterTime` are dropped here (they have
    * no position in the event-time fold); route them through
    * [[latestStateDeadLetter]] for audit.
    */
  def latestState(envelope: DataFrame, ttl: Option[String] = None): Dataset[CurrentState] = {
    import envelope.sparkSession.implicits._
    foldByKey[CurrentState, CurrentState](envelope, OutputMode.Update, ttl)(updateState)
  }

  /** The rows [[latestState]] cannot fold: `clusterTime` parsed to
    * nothing under every accepted form ($date / $timestamp / ISO).
    */
  def latestStateDeadLetter(envelope: DataFrame): DataFrame =
    keyedChanges(envelope).filter(col("eventTimeMs").isNull)

  /** One CLOSED SCD2 version: the document held `payload` over
    * [validFromMs, validToMs). The OPEN (current) version lives only in
    * state — streaming can't know it's final, so append mode emits a
    * version exactly once, at the moment the next change closes it
    * (`closedBy` = the closing op, "delete" for tombstone closure).
    */
  case class ClosedVersion(documentKey: String, payload: String,
      validFromMs: Long, validToMs: Long, closedBy: String)

  /** The one OPEN version held in state per live key (must be public —
    * the state-store encoder's generated code instantiates it).
    */
  case class OpenVersion(payload: String, validFromMs: Long,
      lastEventMs: Long)

  private def scd2Fold(
      key: String,
      ordered: Seq[KeyedChange],
      state: GroupState[OpenVersion]): Iterator[ClosedVersion] = {
    var open = state.getOption
    val closed = Seq.newBuilder[ClosedVersion]
    ordered.foreach { c =>
      if (open.forall(_.lastEventMs <= c.eventTimeMs)) c.operationType match {
        case "delete" =>
          open.foreach(o => closed +=
            ClosedVersion(key, o.payload, o.validFromMs, c.eventTimeMs, "delete"))
          open = None
        case op =>
          open match {
            case Some(o) if o.payload == c.fullDocument =>
              // same content: not a new version, just advance the clock
              open = Some(o.copy(lastEventMs = c.eventTimeMs))
            case Some(o) =>
              closed += ClosedVersion(key, o.payload, o.validFromMs, c.eventTimeMs, op)
              open = Some(OpenVersion(c.fullDocument, c.eventTimeMs, c.eventTimeMs))
            case None =>
              open = Some(OpenVersion(c.fullDocument, c.eventTimeMs, c.eventTimeMs))
          }
      }
    }
    open match {
      case Some(o) => state.update(o)
      case None => if (state.exists) state.remove()
    }
    closed.result().iterator
  }

  /** Streaming SCD TYPE-2: the incremental twin of the batch `cdc_scd2`
    * query. Per key, a content change closes the open version and emits
    * it (append mode — exactly-once per version under checkpointing);
    * duplicate-content changes collapse, deletes close and clear state.
    * State is ONE small record per live key (the open version), so the
    * store tracks the live keyset — deletes shrink it (no tombstone,
    * unlike [[latestState]]) and `ttl` reclaims abandoned keys. The
    * closed rows are exactly the batch query's non-current rows, arriving
    * as the stream does.
    */
  def scd2History(envelope: DataFrame, ttl: Option[String] = None): Dataset[ClosedVersion] = {
    import envelope.sparkSession.implicits._
    foldByKey[OpenVersion, ClosedVersion](envelope, OutputMode.Append, ttl)(scd2Fold)
  }
}
