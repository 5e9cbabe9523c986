package graft

import java.nio.file.Files

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.StreamingDedup

/** RocksDB state-store growth measurement (verdict-r15 #3): every batch
  * operator has a decade leg, but the streaming state stores had TTL
  * CONTRACTS with no measured size/throughput curve — and the 100 TB
  * streaming risk is state, not events/s. Two curves over the
  * [[StreamingDedup]] fingerprint store (one long per distinct key — the
  * largest standing store of the streaming surface; latest-state/SCD2
  * share the same provider and keying shape):
  *
  *  1. '''growth''' (no TTL): K distinct keys, 2 occurrences each (the
  *     dup path exercised), one AvailableNow batch. State rows MUST read
  *     exactly K and the store size scale ~linearly in K — the honest
  *     unbounded-retention line a deployment budgets against.
  *  2. '''ttl''' (the bounded contract): the SAME total cardinality
  *     arrives as a SEQUENCE of micro-batches of `batchKeys` fresh keys
  *     each (maxFilesPerTrigger=1, one file per batch, a wall-clock gap
  *     between batches via foreachBatch), with a processing-time TTL
  *     spanning only a few batch intervals. Live state is then bounded by
  *     keys-within-TTL — the END-OF-RUN state rows should stay ~flat as
  *     total cardinality grows a decade, which is the whole point of the
  *     TTL contract. (An expired fingerprint re-admits its content — the
  *     documented trade, see StreamingDedup.)
  *
  * One JSON line per leg (the IngestBench convention): measured, never
  * asserted — events/s, final state rows, and the RocksDB size gauges
  * from the last progress event (loaded-map memory + SST file bytes).
  *
  * Curve 3 (r17, verdict-r16 #1 — growth was measured, RESTART cost was
  * the one operational scale axis with zero data): '''recover''' — build
  * the store to K keys, let the query terminate, then start a FRESH
  * query from the same checkpoint against a newly-arrived batch (half
  * re-seen keys, half fresh — both state paths exercised) and record
  * time-to-first-committed-batch (checkpoint metadata replay + RocksDB
  * SST restore + the batch itself) and the post-restore throughput. This
  * is the number a 100 TB deployment budgets for crash recovery: the
  * exactly-once specs prove the restart is CORRECT, this leg measures
  * whether it is fast enough to matter.
  *
  * Knobs: SPARK_GRAFT_STATE_KEYS (comma list, default
  * "1000000,4000000,10000000"), SPARK_GRAFT_STATE_BATCH_KEYS (default
  * 200000), SPARK_GRAFT_STATE_GAP_MS (default 700),
  * SPARK_GRAFT_STATE_TTL_MS (default 2000 ≈ 3 batch gaps),
  * SPARK_GRAFT_STATE_LEGS (comma subset of "growth,ttl,recover",
  * default all — decade probes re-run one curve without paying the rest).
  */
object StateBench {
  def main(args: Array[String]): Unit = {
    val spark = SparkEntry.localSession("spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import spark.implicits._

    val cards = sys.env.getOrElse("SPARK_GRAFT_STATE_KEYS",
      "1000000,4000000,10000000").split(",").map(_.trim.toLong).toSeq
    val batchKeys = sys.env.getOrElse("SPARK_GRAFT_STATE_BATCH_KEYS", "200000").toLong
    val gapMs = sys.env.getOrElse("SPARK_GRAFT_STATE_GAP_MS", "700").toLong
    val ttlMs = sys.env.getOrElse("SPARK_GRAFT_STATE_TTL_MS", "2000").toLong
    val legs = sys.env.getOrElse("SPARK_GRAFT_STATE_LEGS", "growth,ttl,recover")
      .split(",").map(_.trim).toSet

    /** Synthetic fingerprint stream: ids in [0, n), key = zero-padded id
      * string (26 bytes/key in state — the md5-hex shape without paying
      * md5 in the generator: the store, not the hash, is under test).
      */
    def docs(n: Long, copies: Int, offset: Long = 0L)
        : Dataset[StreamingDedup.Doc] =
      spark.range(n * copies).select(
          (col("id") % n + offset).as("key"),
          col("id").as("doc_id"))
        .select(col("doc_id"), format_string("fp%024d", col("key")).as("fp"))
        .as[StreamingDedup.Doc]

    /** Size-relevant gauges from the final progress event that carries
      * state metrics; -1 when the gauge is absent (provider renames
      * should degrade the record, not kill the run).
      */
    def stateGauges(q: org.apache.spark.sql.streaming.StreamingQuery)
        : (Long, Long, Long) = {
      val last = q.recentProgress.reverse
        .find(p => p.stateOperators.nonEmpty).orNull
      if (last == null) (-1L, -1L, -1L)
      else {
        val so = last.stateOperators(0)
        val cm = so.customMetrics
        def g(k: String): Long =
          if (cm.containsKey(k)) cm.get(k).longValue() else -1L
        (so.numRowsTotal, g("rocksdbSstFileSize"),
          g("rocksdbPinnedBlocksMemoryUsage"))
      }
    }

    // ---- curve 1: growth (no TTL) --------------------------------------
    if (legs("growth")) cards.foreach { k =>
      val src = Files.createTempDirectory(s"statebench_g$k").toString
      val chk = Files.createTempDirectory(s"statebench_gc$k").toString
      docs(k, copies = 2).write.mode("overwrite").parquet(src)
      val t0 = System.nanoTime()
      val q = StreamingDedup.dedup(
          spark.readStream.schema(docs(1, 1).schema).parquet(src)
            .as[StreamingDedup.Doc])
        .toDF().writeStream
        .option("checkpointLocation", chk)
        .trigger(Trigger.AvailableNow())
        .format("noop")
        .start()
      q.awaitTermination()
      val sec = (System.nanoTime() - t0) / 1e9
      val (rows, sst, mem) = stateGauges(q)
      println(s"""{"metric":"dedup_state_growth","keys":$k,"events":${2 * k},"events_per_sec":${(2 * k / sec).round},"sec":$sec,"state_rows":$rows,"rocksdb_sst_bytes":$sst,"rocksdb_mem_bytes":$mem}""")
      Seq(src, chk).foreach(d =>
        graft.operators.Artifacts.deleteRecursively(java.nio.file.Paths.get(d)))
    }

    // ---- curve 2: TTL-bounded ------------------------------------------
    // fresh keys per micro-batch at a fixed rate; TTL spans ~3 batch
    // gaps, so live state plateaus near 3 * batchKeys however far the
    // TOTAL cardinality grows — the flat curve the contract promises
    if (legs("ttl")) cards.foreach { k =>
      val src = Files.createTempDirectory(s"statebench_t$k").toString
      val chk = Files.createTempDirectory(s"statebench_tc$k").toString
      val nb = math.max(1L, k / batchKeys)
      // one parquet file per micro-batch (maxFilesPerTrigger=1); file i
      // carries keys [i*batchKeys, (i+1)*batchKeys) — strictly fresh
      (0L until nb).foreach { i =>
        docs(batchKeys, copies = 1, offset = i * batchKeys)
          .coalesce(1).write.mode("append").parquet(src)
      }
      val t0 = System.nanoTime()
      // default trigger + MANUAL stop at input-drained: AvailableNow
      // never terminates under processing-time TTL (the engine keeps
      // scheduling batches for pending expirations — observed 124
      // batches for 5 files), so the bench polls progress and stops
      // itself once every input row is processed
      val q = StreamingDedup.dedup(
          spark.readStream.schema(docs(1, 1).schema)
            .option("maxFilesPerTrigger", "1").parquet(src)
            .as[StreamingDedup.Doc],
          ttl = Some(java.time.Duration.ofMillis(ttlMs)))
        .toDF().writeStream
        .option("checkpointLocation", chk)
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          // drive EVERY partition (commit validation requires a full
          // pass), then hold a wall-clock gap between micro-batches:
          // processing time must actually advance for the TTL to have
          // anything to evict
          batch.write.format("noop").mode("overwrite").save()
          Thread.sleep(gapMs)
        }
        .start()
      val total = nb * batchKeys
      val seenBatches = scala.collection.mutable.Set.empty[Long]
      var processed = 0L
      val deadline = System.nanoTime() + 30L * 60 * 1000 * 1000 * 1000
      while (processed < total && q.isActive && System.nanoTime() < deadline) {
        Thread.sleep(100)
        // scan the FULL retained progress buffer, not just lastProgress:
        // a batch completing between polls would otherwise be skipped and
        // the leg would stall to the deadline (ADVICE r16). recentProgress
        // retains ~100 events — far more than can complete per 100 ms poll.
        q.recentProgress.foreach { p =>
          if (p != null && seenBatches.add(p.batchId)) processed += p.numInputRows
        }
      }
      val sec = (System.nanoTime() - t0) / 1e9
      val (rows, sst, mem) = stateGauges(q)
      q.stop()
      println(s"""{"metric":"dedup_state_ttl","keys":${nb * batchKeys},"batches":$nb,"batch_keys":$batchKeys,"ttl_ms":$ttlMs,"gap_ms":$gapMs,"events_per_sec":${(nb * batchKeys / sec).round},"sec":$sec,"state_rows":$rows,"rocksdb_sst_bytes":$sst,"rocksdb_mem_bytes":$mem}""")
      Seq(src, chk).foreach(d =>
        graft.operators.Artifacts.deleteRecursively(java.nio.file.Paths.get(d)))
    }

    // ---- curve 3: recovery (r17) ---------------------------------------
    // build K keys into the store, let the query terminate cleanly, then
    // restart a FRESH query from the same checkpoint against one newly
    // arrived batch: time-to-first-committed-batch is the restart cost a
    // deployment pays after a crash (offset-log replay + RocksDB SST
    // restore across all 32 store partitions + the batch itself)
    if (legs("recover")) cards.foreach { k =>
      val src = Files.createTempDirectory(s"statebench_r$k").toString
      val chk = Files.createTempDirectory(s"statebench_rc$k").toString
      docs(k, copies = 1).write.mode("overwrite").parquet(src)
      def runOnce(): org.apache.spark.sql.streaming.StreamingQuery =
        StreamingDedup.dedup(
            spark.readStream.schema(docs(1, 1).schema).parquet(src)
              .as[StreamingDedup.Doc])
          .toDF().writeStream
          .option("checkpointLocation", chk)
          .trigger(Trigger.AvailableNow())
          .format("noop")
          .start()
      val tb = System.nanoTime()
      val build = runOnce()
      build.awaitTermination()
      val buildSec = (System.nanoTime() - tb) / 1e9
      // the post-crash batch: half RE-SEEN keys (state lookups that must
      // come back duplicate), half fresh (state inserts) — both store
      // paths in the measured first batch
      val half = math.max(1L, batchKeys / 2)
      docs(half, copies = 1)
        .unionAll(docs(half, copies = 1, offset = k))
        .write.mode("append").parquet(src)
      val t0 = System.nanoTime()
      val q = runOnce()
      var firstSec = -1.0
      val deadline = System.nanoTime() + 30L * 60 * 1000 * 1000 * 1000
      while (q.isActive && firstSec < 0 && System.nanoTime() < deadline) {
        Thread.sleep(50)
        if (q.recentProgress.exists(_.numInputRows > 0))
          firstSec = (System.nanoTime() - t0) / 1e9
      }
      q.awaitTermination()
      val totalSec = (System.nanoTime() - t0) / 1e9
      val (rows, sst, mem) = stateGauges(q)
      // first_batch_sec = restore + offset replay + the batch itself (the
      // whole appended batch commits as batch one under AvailableNow);
      // the RESTORE component is the first_batch_sec slope across the
      // cardinality decade at this fixed batch size
      println(s"""{"metric":"dedup_state_recover","keys":$k,"build_sec":$buildSec,"restart_batch_events":${2 * half},"first_batch_sec":$firstSec,"restart_total_sec":$totalSec,"first_batch_events_per_sec":${if (firstSec > 0) (2 * half / firstSec).round else -1L},"state_rows":$rows,"rocksdb_sst_bytes":$sst,"rocksdb_mem_bytes":$mem}""")
      Seq(src, chk).foreach(d =>
        graft.operators.Artifacts.deleteRecursively(java.nio.file.Paths.get(d)))
    }

    spark.stop()
  }
}
