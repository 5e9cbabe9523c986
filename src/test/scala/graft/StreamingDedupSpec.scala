package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.StreamingDedup
import graft.streaming.StreamingDedup.{Doc, Verdict}

/** The stateful ingest-path dedup's contract: first-seen wins across
  * micro-batch boundaries (the winner lives in RocksDB state, not the
  * batch), replayed deliveries fold idempotently, TTL reclaims (and
  * re-admits) fingerprints, and the per-fingerprint rollup of a replayed
  * corpus is bit-equal to the batch `doc_dedup_exact` oracle query.
  */
class StreamingDedupSpec extends SparkSpec {

  private def runBatches(name: String,
      batches: Seq[Seq[Doc]]): Seq[Verdict] =
    withRocksDb {
      import spark.implicits._
      implicit val sqlCtx = spark.sqlContext
      val input = MemoryStream[Doc]
      val q = StreamingDedup.dedup(input.toDS(), ttl = None)
        .toDF().writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      batches.foreach { b =>
        input.addData(b: _*)
        q.processAllAvailable()
      }
      q.stop()
      spark.table(name).collect().map(r =>
        Verdict(r.getLong(0), r.getString(1), r.getBoolean(2), r.getLong(3)))
        .toSeq
    }

  test("first-seen wins across micro-batches; duplicates dead-letter") {
    val out = runBatches("sd_first", Seq(
      Seq(Doc(3L, "a"), Doc(1L, "a"), Doc(2L, "b")), // in-batch dup, unsorted
      Seq(Doc(4L, "a"), Doc(5L, "c"))))              // cross-batch dup
    val byDoc = out.map(v => v.doc_id -> v).toMap
    assert(byDoc(1L).unique && byDoc(1L).first_id == 1L) // in-batch winner
    assert(!byDoc(3L).unique && byDoc(3L).first_id == 1L)
    assert(byDoc(2L).unique)
    assert(!byDoc(4L).unique && byDoc(4L).first_id == 1L) // state carried over
    assert(byDoc(5L).unique)
    val (uniq, dups) = StreamingDedup.split(
      spark.createDataset(out)(org.apache.spark.sql.Encoders.product[Verdict]))
    assert(uniq.collect().map(_.doc_id).toSet == Set(1L, 2L, 5L))
    assert(dups.collect().map(_.doc_id).toSet == Set(3L, 4L))
  }

  test("replayed deliveries fold idempotently (winner stays the winner)") {
    val out = runBatches("sd_replay", Seq(
      Seq(Doc(1L, "a"), Doc(2L, "a")),
      Seq(Doc(1L, "a"), Doc(2L, "a")))) // at-least-once redelivery
    val replayed = out.groupBy(_.doc_id)
    // both deliveries of doc 1 say unique (it IS the stored winner); both
    // deliveries of doc 2 say duplicate-of-1 — verdicts are stable, so a
    // checkpoint replay cannot flip a row's routing
    assert(replayed(1L).map(v => (v.unique, v.first_id)).toSet == Set((true, 1L)))
    assert(replayed(2L).map(v => (v.unique, v.first_id)).toSet == Set((false, 1L)))
  }

  test("TTL evicts the winner; its content re-admits afterward") {
    // TimeMode.ProcessingTime makes the engine schedule micro-batches
    // continuously (the TTL clock must advance), so processAllAvailable
    // never latches — pace the trigger and POLL the sink instead
    withRocksDb {
      import spark.implicits._
      implicit val sqlCtx = spark.sqlContext
      val input = MemoryStream[Doc]
      val q = StreamingDedup.dedup(input.toDS(),
        Some(java.time.Duration.ofMillis(500)))
        .toDF().writeStream.format("memory").queryName("sd_ttl")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger
          .ProcessingTime("200 milliseconds"))
        .start()
      def await(n: Long): Unit = {
        val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
        while (spark.table("sd_ttl").count() < n) {
          assert(System.nanoTime() < deadline, s"timed out waiting for $n rows")
          Thread.sleep(100)
        }
      }
      input.addData(Doc(1L, "a")); await(1)
      Thread.sleep(2000) // > TTL: the stored winner expires
      input.addData(Doc(9L, "a")); await(2)
      q.stop()
      val byDoc = spark.table("sd_ttl").collect()
        .map(r => r.getLong(0) -> ((r.getBoolean(2), r.getLong(3)))).toMap
      assert(byDoc(1L) == ((true, 1L)))
      // the fingerprint expired between batches: doc 9 is a fresh winner —
      // the documented TTL trade (bounded state, horizon-limited dedup)
      assert(byDoc(9L) == ((true, 9L)))
    }
  }

  test("crash-resume: checkpointed dedup restarts with no loss, no dupes, one winner per fp") {
    import org.apache.spark.sql.streaming.Trigger
    import java.nio.file.Files
    withRocksDb {
      import spark.implicits._
      val src = Files.createTempDirectory("sdedup_src").toString
      val out = Files.createTempDirectory("sdedup_out").toString
      val chk = Files.createTempDirectory("sdedup_chk").toString
      // 10 files × 3 docs; every content string recurs 3× ACROSS files,
      // so duplicate groups straddle the kill point by construction
      val nFiles = 10; val perFile = 3
      for (f <- 0 until nFiles)
        Files.writeString(java.nio.file.Paths.get(s"$src/f$f.json"),
          (0 until perFile).map { i =>
            val id = f * perFile + i
            s"""{"doc_id":$id,"text":"payload ${id % 10}"}"""
          }.mkString("\n"))
      def start(trigger: Trigger) = {
        val env = spark.readStream
          .schema("doc_id LONG, text STRING")
          .option("maxFilesPerTrigger", 1)
          .json(src)
        StreamingDedup.dedup(StreamingDedup.fingerprinted(env).as[Doc])
          .toDF().writeStream
          .option("checkpointLocation", chk)
          .trigger(trigger)
          // the relay/AggSink exactly-once convention: each epoch
          // OVERWRITES its own batch dir, so a replayed epoch is
          // idempotent and checkpoint + idempotent sink = exactly-once
          .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
            b.write.mode("overwrite").parquet(s"$out/batch=$id")
          }.start()
      }
      // kill timing must not race the stream: stop after the FIRST
      // processed batch, with a 1 s trigger pacing the remaining nine —
      // stop() would need a ~9 s stall to lose the race (the old
      // 250 ms × ≥2-batches form could drain the whole source under a
      // GC pause and fail the mid-source assert spuriously)
      val q1 = start(Trigger.ProcessingTime("1 second"))
      val deadline = System.nanoTime() + 60e9.toLong
      while (q1.recentProgress.count(_.numInputRows > 0) < 1
          && System.nanoTime() < deadline) Thread.sleep(50)
      q1.stop() // the crash: state + offsets live only in the checkpoint
      val afterKill = spark.read.parquet(out).count()
      assert(afterKill < (nFiles * perFile).toLong,
        s"kill was supposed to land mid-source, but all $afterKill rows are there")
      start(Trigger.AvailableNow()).awaitTermination()

      val rows = spark.read.parquet(out)
        .select("doc_id", "fp", "unique", "first_id").collect()
        .map(r => Verdict(r.getLong(0), r.getString(1), r.getBoolean(2),
          r.getLong(3)))
      // exactly-once: every doc classified exactly once across the restart
      assert(rows.map(_.doc_id).sorted.toSeq ==
        (0 until nFiles * perFile).map(_.toLong),
        "resume must classify every doc exactly once across the restart")
      // state survived the crash: per fingerprint exactly ONE winner, and
      // every duplicate points at that winner's id
      rows.groupBy(_.fp).foreach { case (fp, vs) =>
        val winners = vs.filter(_.unique)
        assert(winners.length == 1, s"$fp: ${winners.length} winners")
        assert(vs.forall(_.first_id == winners.head.doc_id), s"$fp: split brain")
      }
    }
  }

  test("replayed-corpus rollup ≡ the batch exact-dedup operator") {
    import spark.implicits._
    // the sf0.001 fixture has no exact duplicates, so plant re-crawl
    // twins (identical text, offset ids — the doc_dedup_incremental
    // convention) and compare against the SAME batch operator the
    // doc_dedup_exact query wraps, run on the same augmented frame
    val base = Tables.table(spark, sfDir, "documents")
      .select("doc_id", "text")
    val aug = base.unionByName(
      base.select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
    val docs = StreamingDedup.fingerprinted(aug)
      .as[Doc].collect().sortBy(_.doc_id)
    val chunks = docs.grouped(math.max(1, docs.length / 3 + 1))
      .map(_.toSeq).toSeq
    val out = runBatches("sd_parity", chunks)
    // precondition: some fingerprint must span micro-batches, else the
    // state carry-over is untested (id-sorted replay puts every original
    // before its twin, so each twin pair spans by construction)
    val keysPerChunk = chunks.map(_.map(_.fp).toSet)
    assert(keysPerChunk.combinations(2)
      .map { case Seq(a, b) => (a intersect b).size }.sum > 0,
      "no fingerprint spans a micro-batch boundary")
    val streamed = out.groupBy(_.fp).map { case (_, vs) =>
      (vs.head.first_id, vs.length.toLong) // first_id identical within fp
    }.toSeq.sorted
    val batch = graft.dedup.Dedup.exactDedup(aug, "doc_id", "text")
      .select("keep_id", "n_copies")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(streamed == batch)
  }
}
