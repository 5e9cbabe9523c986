package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Kmv
import graft.operators.Artifacts

/** `foreachBatch` sink maintaining the DURABLE per-(event_type, day)
  * KMV sketch bank — the streaming ingest half of `agg_sketch_banked`:
  * each micro-batch of raw events folds into the bank, and any later
  * reach / overlap / sliding-window question answers from kilobytes of
  * sketch rows without ever re-scanning events.
  *
  * Exactly-once WITHOUT epoch bookkeeping: the KMV merge is bottom-k
  * over the distinct-hash SET, so folding is idempotent, commutative
  * and associative — a replayed `foreachBatch` epoch (crash after
  * publish, before the offset commit) re-unions hashes that are
  * already in the sketch and provably changes nothing. Where
  * [[AggSink]] needs an `_EPOCH` marker to make non-idempotent
  * delta-folds replay-safe, this sink is exactly-once by algebra
  * alone; `SketchBankStreamingSpec` pins both the replay no-op and the
  * streaming-equals-batch theorem (the banked arrays after any batch
  * split are BIT-EQUAL to one batch build over the same events).
  *
  * Scale shape per epoch: one delta-sized aggregation (the batch's
  * events → one sketch row per touched (type, day)), a touched-keys
  * semi/anti split of the bank (bank rows are types × days — kilobytes
  * at any event volume), an in-row union for the touched rows, and one
  * crash-safe snapshot publish ([[graft.operators.Artifacts.publish]]
  * under the bank's dir lock, same contract as [[MergeSink]]).
  */
object SketchBankSink {

  /** Fold one micro-batch into the bank at `bankDir`. `batch` carries
    * raw events (`event_type`, `ts`, `user_id`).
    */
  def applyBatch(spark: SparkSession, bankDir: String,
      batch: DataFrame): Unit = {
    val bankPath = java.nio.file.Paths.get(bankDir)
    val kmv = Kmv.sketchUdaf()
    val delta = batch
      .select(col("event_type"), date_trunc("day", col("ts")).as("day"),
        Kmv.hash64(col("user_id")).as("h"))
      .groupBy(col("event_type"), col("day"))
      .agg(kmv(col("h")).as("sk"))
      .localCheckpoint() // pin: the fold below reads it twice
    if (delta.isEmpty) return
    // lock the bank dir itself (the MergeSink/Compaction convention:
    // every writer of a swap-managed dir takes <dir>.dirlock, so a
    // future compactor or second writer is mutually excluded)
    Artifacts.withDirLock(bankPath) {
      val existing = Artifacts.readSnapshot(spark, bankPath, delta.schema)
      val keys = Seq("event_type", "day")
      val untouched = existing.join(delta.select(keys.map(col): _*),
        keys, "left_anti")
      val folded = existing.join(delta.select(keys.map(col): _*),
        keys, "left_semi")
        .unionByName(delta)
        .select(col("event_type"), col("day"), explode(col("sk")).as("h"))
        .groupBy(col("event_type"), col("day"))
        .agg(kmv(col("h")).as("sk"))
      Artifacts.publish(bankPath)(next => untouched.unionByName(folded)
        .coalesce(1).write.mode("overwrite").parquet(next.toString))
    }
  }

  /** The bank as a frame (for assertions and downstream reads). The
    * crash repair runs under the SAME dir lock as [[applyBatch]]: an
    * unlocked recoverSwap racing a concurrent publish could move the
    * `.old` aside-copy back over the bank inside swapInto's two-move
    * window and fail the writer's rename.
    */
  def read(spark: SparkSession, bankDir: String): DataFrame = {
    val bankPath = java.nio.file.Paths.get(bankDir)
    Artifacts.withDirLock(bankPath)(Artifacts.recoverSwap(bankPath))
    spark.read.parquet(bankDir)
  }
}
