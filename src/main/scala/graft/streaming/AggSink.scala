package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Artifacts

/** `foreachBatch` incremental-aggregate sink — the streaming half of the
  * batch `cdc_incr_agg` query: a `SUM(value)/COUNT(*) GROUP BY group`
  * view maintained purely from change deltas, never recomputed from the
  * keyed state. Each micro-batch:
  *
  *   1. looks up the OLD image of every touched key in the keyed state
  *      snapshot (a delta-bounded semi lookup — the state is read, but
  *      only the batch's keys survive the join),
  *   2. emits retractions (−old value, −1) out of each key's previous
  *      group and additions (+new value, +1) into its new group,
  *   3. folds the group-level deltas into the aggregate snapshot
  *      (full-outer on the group key, delta-sized side broadcastable),
  *   4. upserts the keyed state (same contract as [[MergeSink]]).
  *
  * Exactly-once across foreachBatch REPLAYS (a crashed epoch re-delivers
  * the same batchId): delta-folding is NOT naturally idempotent — unlike
  * [[MergeSink]]'s upserts — so the sink records the last folded batchId
  * in an `_EPOCH` marker written INSIDE the next aggregate snapshot
  * before the rename, making the fold and its epoch one atomic publish
  * (Spark's parquet reader ignores `_`-prefixed files). Both snapshots
  * publish via the same crash-safe rename
  * ([[graft.operators.Artifacts.publish]]), state LAST: a replay after
  * a crash between the two swaps sees its own batchId already folded,
  * skips the double-fold, and redoes only the idempotent state upsert.
  *
  * Scale shape: per epoch, cost is one key-partitioned (broadcast when
  * small) lookup of the batch's keys against the state, a delta-sized
  * group rollup, and a group-cardinality-sized merge — O(delta) work and
  * O(groups) merge however large the history, which is the whole point
  * of IVM: the reference's downstream consumers (SURVEY.md §0) get a
  * continuously-correct dashboard without rescanning the relay's output.
  */
object AggSink {

  /** Fold one micro-batch of changes into the aggregate at `aggDir`,
    * maintaining the keyed latest-state snapshot at `stateDir`. `batch`
    * must carry one row per key (collapse multi-event batches with
    * [[graft.cdc.ChangeEvents.latestState]] first); rows whose `opCol`
    * equals `deleteOp` remove the key and retract its contribution.
    */
  def applyBatch(spark: SparkSession, stateDir: String, aggDir: String,
      batch: DataFrame, batchId: Long, keyCol: String, grpCol: String,
      valueCol: String, opCol: String, deleteOp: String): Unit = {
    val statePath = java.nio.file.Paths.get(stateDir)
    val aggPath = java.nio.file.Paths.get(aggDir)
    Artifacts.withDirLock(aggPath) {
      Artifacts.recoverSwap(aggPath)
      val epochFile = aggPath.resolve("_EPOCH")
      val applied =
        if (java.nio.file.Files.exists(epochFile))
          java.nio.file.Files.readString(epochFile).trim.toLong
        else -1L
      // batchId < applied ⇒ a LATER epoch already folded, which implies
      // this epoch's state upsert also completed (state publishes before
      // the next epoch can run) — nothing to do
      if (batchId >= applied) applyOnce(spark, statePath, aggPath, batch,
        batchId, applied, keyCol, grpCol, valueCol, opCol, deleteOp)
    }
  }

  private def applyOnce(spark: SparkSession, statePath: java.nio.file.Path,
      aggPath: java.nio.file.Path, batch: DataFrame, batchId: Long,
      applied: Long, keyCol: String, grpCol: String, valueCol: String,
      opCol: String, deleteOp: String): Unit = {
      val stateCols = Seq(keyCol, grpCol, valueCol)
      val state = Artifacts.readSnapshot(spark, statePath,
        batch.select(stateCols.map(col): _*).schema)

      if (batchId > applied) { // skip the non-idempotent fold on replay
        // old images of exactly the touched keys (delta-bounded)
        val olds = state.join(batch.select(keyCol), Seq(keyCol), "left_semi")
        val retract = olds.select(col(grpCol).as("g"),
          (-col(valueCol)).as("dv"), lit(-1L).as("dn"))
        val add = batch.filter(col(opCol) =!= deleteOp)
          .select(col(grpCol).as("g"), col(valueCol).as("dv"), lit(1L).as("dn"))
        val deltas = retract.unionByName(add)
          .groupBy("g").agg(sum("dv").as("dv"), sum("dn").as("dn"))

        val agg = Artifacts.readSnapshot(spark, aggPath,
          deltas.select(col("g"), col("dv").as("sum_value"), col("dn").as("n"))
            .schema)
        val merged = agg.join(deltas, Seq("g"), "full_outer")
          .select(col("g"),
            (coalesce(col("sum_value"), lit(0.0)) + coalesce(col("dv"), lit(0.0)))
              .as("sum_value"),
            (coalesce(col("n"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n"))
          .filter(col("n") > 0) // a fully-retracted group leaves the view

        Artifacts.publish(aggPath) { next =>
          merged.write.mode("overwrite").parquet(next.toString)
          // epoch travels INSIDE the snapshot: fold + marker publish atomically
          java.nio.file.Files.writeString(next.resolve("_EPOCH"), batchId.toString)
        }
      }

      // idempotent keyed-state upsert, LAST (see exactly-once note above);
      // re-run as-is when batchId == applied (replay after an agg-only crash)
      val nextState = state.join(batch.select(keyCol), Seq(keyCol), "left_anti")
        .unionByName(batch.filter(col(opCol) =!= deleteOp)
          .select(stateCols.map(col): _*))
      Artifacts.publish(statePath)(next =>
        nextState.write.mode("overwrite").parquet(next.toString))
  }
}
