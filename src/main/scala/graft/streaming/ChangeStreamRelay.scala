package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.Row

import graft.cdc.ChangeEvents

/** The reference relay (`/root/reference/main.go`) as a Structured
  * Streaming pipeline. The transforms are the *same* batch functions from
  * [[graft.cdc.ChangeEvents]] — shared batch/stream code is the point of
  * Structured Streaming; only source/sink/state wiring lives here.
  *
  * Dataflow = R1…R13 of SURVEY.md §2.1:
  *   readStream.text (change-event lines)     — R1 `Watch`, main.go:90-99
  *   → parseEnvelope: parse_change_event once
  *     per line, malformed → all-NULL row      — R3 decode-skip, main.go:104-108
  *   → opFilter / deadLetter split             — §2.2 (reference panics)
  *   → relay: topic, key and value rendered
  *     straight to UTF-8                       — R4-R8, main.go:111-142
  *   → topic-sorted parquet sink, checkpointed — R9 produce + R12 flush
  *
  * Intentional improvements over the reference (SURVEY.md §7.5), all
  * checkpoint-based: resumable offsets (the reference loses events across
  * restarts — no resume token persisted, main.go:91-93), dead-letter
  * instead of crash/drop, and executor-parallel transforms instead of one
  * goroutine.
  *
  * Scale: every relay transform is narrow — no shuffle, no state — so
  * throughput scales linearly with source partitions. Stateful extras
  * shuffle once on the key: [[dedupWithinWatermark]] bounds its state with
  * a watermark, [[StatefulOps.latestState]] with a processing-time TTL.
  */
object ChangeStreamRelay {

  /** File-based change-event source: line-delimited JSON with the
    * change-stream envelope (FIXTURES.md §1), read as text and parsed
    * once per line by [[ChangeEvents.parseEnvelope]], so
    * `numInputRows` counts every line read, malformed ones included.
    * Drop-in replacement for the MongoDB connector source
    * (`readStream.format("mongodb")` with `spark.mongodb.change.stream.*`)
    * when that jar is on the classpath — the downstream pipeline is
    * identical.
    */
  def readChangeStream(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Int = 16): DataFrame =
    ChangeEvents.parseEnvelope(
      spark.readStream.option("maxFilesPerTrigger", maxFilesPerTrigger).text(dir))

  /** The relay transform on an already-parsed envelope stream. */
  def relay(envelope: DataFrame): DataFrame = ChangeEvents.relay(envelope)

  /** Streaming replay-dedup: at-least-once upstream ⇒ exactly-once
    * downstream within the watermark horizon. Dedups on the EVENT identity
    * (`_id`, the resume token) — never the document key: change streams
    * legitimately carry many distinct events per document, and keying on
    * `documentKey` would silently drop real updates. State is bounded by
    * the watermark (old event ids age out) — the 100 TB-safe form of
    * `dropDuplicates`.
    */
  def dedupWithinWatermark(envelope: DataFrame,
      eventTimeCol: String, watermark: String): DataFrame =
    envelope
      .withWatermark(eventTimeCol, watermark)
      .dropDuplicatesWithinWatermark("_id")

  /** Tumbling per-topic event counts — the streaming twin of the batch
    * `ts_tumble` query (same logical op, windowed state + watermark).
    */
  def topicCounts(envelope: DataFrame,
      eventTimeCol: String, watermark: String, window_ : String): DataFrame =
    relayedWithTopic(envelope)
      .withWatermark(eventTimeCol, watermark)
      .groupBy(window(col(eventTimeCol), window_), col("topic"))
      .agg(count(lit(1)).as("n"))

  /** Streaming sessionization: `session_window` groups events into
    * gap-bounded sessions per topic (the streaming twin of the batch
    * `ts_session` query). Watermark closes sessions and evicts their
    * state — bounded even with unbounded key cardinality.
    */
  def topicSessions(envelope: DataFrame,
      eventTimeCol: String, watermark: String, gap: String): DataFrame =
    SessionWindows.sessionCounts(relayedWithTopic(envelope), "topic",
      eventTimeCol, gap, watermark)
      .select(col("start").as("session_start"), col("end").as("session_end"),
        col("topic"), col("n"))

  /** The relayed events (op whitelist) with their `db.coll` topic. */
  private def relayedWithTopic(envelope: DataFrame): DataFrame =
    ChangeEvents.opFilter(envelope)
      .withColumn("topic", ChangeEvents.topicColumn(col("ns.db"), col("ns.coll")))

  /** Kafka-shaped sink. Without the kafka-sql jar (this container), the
    * `foreachBatch` writer persists each micro-batch as parquet, one file
    * per task: `topic` is a data column, like the Kafka sink's dynamic
    * `topic` column (main.go:113,145-149), sorted within each file so
    * row-group min/max statistics prune a filter on it. There are no
    * `topic=` directories. With the jar it is `.format("kafka")` with the
    * identical (topic, key, value) frame.
    *
    * Exactly-once: `foreachBatch` alone is at-least-once (a crash between
    * the write and the checkpoint commit replays the batch), so each epoch
    * OVERWRITES its own `batch=<id>` directory — the replayed write is
    * idempotent, and checkpoint + idempotent sink = exactly-once. Readers
    * `spark.read.parquet(outDir)` and see `batch` as a partition column.
    */
  def writePerTopicParquet(relayed: DataFrame, outDir: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): DataStreamWriter[Row] =
    relayed.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.sortWithinPartitions("topic").write.mode("overwrite")
          .parquet(s"$outDir/batch=$batchId")
      }

  /** End-to-end: source dir → relay → parquet sink. Returns the
    * started query; caller awaits termination.
    *
    * `oneShot = true` (default) drains what exists and stops
    * (`AvailableNow` — the batch/test shape); `oneShot = false` runs as a
    * continuous daemon like the reference's forever-loop (main.go:103),
    * polling the source every 5 s.
    */
  def run(spark: SparkSession, srcDir: String, outDir: String,
      checkpointDir: String, oneShot: Boolean = true): StreamingQuery = {
    val env = readChangeStream(spark, srcDir)
    val trigger =
      if (oneShot) Trigger.AvailableNow()
      else Trigger.ProcessingTime("5 seconds")
    writePerTopicParquet(relay(env), outDir, checkpointDir, trigger).start()
  }
}
