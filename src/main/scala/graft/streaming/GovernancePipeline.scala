package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, TimeMode}

/** The governance surface as ONE composed streaming path — the way a
  * live deployment actually runs it, mirroring how [[IngestPipeline]]
  * composes the curation stages:
  *
  *   suppress ([[ForgetFilter]] semantics) → release ([[DpRelease]])
  *   → monitor ([[DriftMonitor]])
  *
  * The load-bearing property is ORDERING: the DP counts and the drift
  * histogram are derived from the ADMITTED side of the tombstone guard,
  * so a purged user's post-tombstone events can never leak into a
  * release published after the request landed — compliance gates the
  * telemetry, not the other way round. (A released count is public the
  * moment it emits; suppressing after releasing would un-ring no
  * bells.) GovernancePipelineSpec pins exactly that: a user tombstoned
  * in batch N contributes nothing to any window released from batch
  * N+1 on, while the purge ledger shows both the acknowledgment and
  * every suppressed row.
  *
  * Stage order is also the cheap-state order: the guard keeps one
  * boolean per TOMBSTONED user only; the release keeps one long per
  * open (window, key); the monitor ten longs per open window — all
  * bounded, none proportional to stream length.
  *
  * The guard is [[ForgetProcessor]] itself, run over [[Ev]] so the
  * payload columns (ts, key, n_chars) the downstream stages consume pass
  * through with each verdict.
  */
object GovernancePipeline {

  /** A governed event: identity + tombstone flag + the payload the
    * downstream stages aggregate.
    */
  case class Ev(user_id: Long, seq: Long, tombstone: Boolean,
      ts: java.sql.Timestamp, key: String, n_chars: Long)

  /** [[Ev]] plus the guard's verdict. */
  case class Guarded(user_id: Long, seq: Long, tombstone: Boolean,
      ts: java.sql.Timestamp, key: String, n_chars: Long, admitted: Boolean)

  /** The six output streams of one governed deployment. */
  case class Outputs(
      admitted: DataFrame,
      ledger: DataFrame,
      released: DataFrame,
      drift: DataFrame,
      diversity: DataFrame,
      kanon: DataFrame)

  /** Compose the full path over an [[Ev]] stream. `ref` is the standing
    * drift reference histogram; `noiseSalt` as on
    * [[DpRelease.laplaceMicro]] (the privacy caveat there applies).
    *
    * Each returned frame is an independent sink head over the SAME
    * guarded lineage; Structured Streaming gives every started sink its
    * own state store, so all six replay the guard identically (the
    * guard is deterministic per batch by construction). Each head gets
    * its OWN [[ForgetProcessor]] INSTANCE: the driver-side
    * StatefulProcessor handle is stored in the instance, so a single
    * instance shared across heads races concurrent query starts on
    * setHandle/init (observed as DUPLICATE_STATE_VARIABLE_DEFINED once
    * a sixth head joined) — per-head instances cost nothing, since
    * every sink replays the guard lineage independently anyway.
    */
  def run(events: Dataset[Ev], ref: Array[Long], eps: Double,
      windowDuration: String, watermarkDelay: String,
      noiseSalt: Column = lit(""),
      lDiversity: Int = DiversityGate.DefaultL,
      kAnon: Long = KAnonGate.DefaultK): Outputs = {
    import events.sparkSession.implicits._
    // fresh processor instance PER HEAD (see the race note above)
    def guarded(): DataFrame = events.groupByKey(_.user_id)
      .transformWithState(
        new ForgetProcessor[Ev, Guarded](_.seq, _.tombstone,
          (e, admitted) => Guarded(e.user_id, e.seq, e.tombstone, e.ts,
            e.key, e.n_chars, admitted)),
        TimeMode.None(), OutputMode.Append())
      .toDF()
    def admittedOnly(): DataFrame = guarded().filter(col("admitted"))
    val admitted = admittedOnly()
    val ledger = guarded().filter(!col("admitted"))
    val released = DpRelease.noisyCountsPerWindow(
      admittedOnly().select(col("ts"), col("key")),
      eps, windowDuration, watermarkDelay, noiseSalt)
    val drift = DriftMonitor.psiPerWindow(
      admittedOnly().select(col("ts"), col("n_chars")),
      ref, windowDuration, watermarkDelay)
    // the ℓ-diversity gate rides the SAME admitted lineage: a purged
    // user's post-tombstone events cannot raise a window's diversity
    // any more than they can enter a DP count (the ordering trap the
    // spec plants)
    val diversity = DiversityGate.releasePerWindow(
      admittedOnly().select(col("ts"), col("key").as("event_type")),
      lDiversity, windowDuration, watermarkDelay)
    // the k-anon gate too: a purged user's post-tombstone events can
    // no more push a sub-k cell over the release bar than they can
    // enter a DP count
    val kanon = KAnonGate.releasePerWindow(
      admittedOnly().select(col("ts"), col("key").as("cell")),
      kAnon, windowDuration, watermarkDelay)
    Outputs(admitted, ledger, released, drift, diversity, kanon)
  }
}
