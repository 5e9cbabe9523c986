package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Artifacts

/** `foreachBatch` MERGE sink — the streaming half of the batch
  * `cdc_merge_apply` query: each micro-batch of latest-state updates is
  * folded into a parquet snapshot (upsert on document ops, DELETE on
  * tombstones, untouched rows pass through). This is the plain-parquet
  * analog of `MERGE INTO` on a lakehouse table format; the snapshot is
  * swapped atomically (write-next-then-rename) so a concurrent reader
  * sees either the previous complete snapshot or the new one.
  *
  * Scale shape: the micro-batch is delta-sized, so the per-epoch cost is
  * one anti-join of the snapshot against a small key set (broadcast when
  * small, key-partitioned otherwise) + a delta-sized union — bounded by
  * the delta, not the table, exactly like the batch query's contract.
  * On a real deployment the same `applyBatch` body runs against a format
  * with row-level merge (Delta/Iceberg) instead of the rewrite.
  */
object MergeSink {

  /** Fold one micro-batch into the snapshot at `snapshotDir`. `batch`
    * must carry `keyCol` plus the state columns; rows whose `opCol`
    * equals `deleteOp` remove the key.
    */
  def applyBatch(spark: SparkSession, snapshotDir: String, batch: DataFrame,
      keyCol: String, opCol: String, deleteOp: String): Unit = {
    val path = java.nio.file.Paths.get(snapshotDir)
    // writer exclusion shared with Compaction.compact: a compaction
    // holding this lock sees either the pre-batch or post-batch snapshot,
    // never a file appended between its directory scan and its swap
    Artifacts.withDirLock(path) {
      val base = Artifacts.readSnapshot(spark, path, batch.schema)
      val merged = base.join(batch.select(keyCol), Seq(keyCol), "left_anti")
        .unionByName(batch.filter(col(opCol) =!= deleteOp))
      Artifacts.publish(path)(next =>
        merged.write.mode("overwrite").parquet(next.toString))
    }
  }
}
