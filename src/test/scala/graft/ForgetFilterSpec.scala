package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.streaming.ForgetFilter
import graft.streaming.ForgetFilter.{Ev, Out}

/** The streaming forget guard's contract: tombstones suppress every
  * subsequent event of their user (across and within micro-batches, with
  * deterministic in-batch placement), suppression is monotone under
  * at-least-once redelivery, untouched users flow freely, state survives
  * in RocksDB across batches, and a replayed stream matches the batch
  * "seq < first tombstone" predicate everywhere.
  */
class ForgetFilterSpec extends SparkSpec {

  private def runBatches(name: String, batches: Seq[Seq[Ev]]): Seq[Out] =
    withRocksDb {
      import spark.implicits._
      implicit val sqlCtx = spark.sqlContext
      val input = MemoryStream[Ev]
      val q = ForgetFilter.guard(input.toDS())
        .toDF().writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
      q.stop()
      spark.table(name).collect().map(r =>
        Out(r.getLong(0), r.getLong(1), r.getBoolean(2), r.getBoolean(3))).toSeq
    }

  test("tombstone suppresses subsequent events, in-batch and across batches") {
    val out = runBatches("ff_basic", Seq(
      // one batch, deliberately unsorted: placement must follow seq
      Seq(Ev(1L, 30L, false), Ev(1L, 10L, false), Ev(1L, 20L, true)),
      // next batch: state carries the suppression
      Seq(Ev(1L, 40L, false), Ev(2L, 41L, false))))
    val u1 = out.filter(o => o.user_id == 1L).sortBy(_.seq)
    assert(u1.map(o => (o.seq, o.tombstone, o.admitted)) == Seq(
      (10L, false, true),   // before the request: ships
      (20L, true, false),   // the acknowledgment row
      (30L, false, false),  // same batch, after the request: suppressed
      (40L, false, false)), // later batch: state persisted
      s"user 1 ledger: $u1")
    assert(out.filter(_.user_id == 2L).forall(_.admitted),
      "untombstoned users flow freely")
    // the ledger router: admitted data on one side, suppressions AND
    // tombstone acks on the other
    val (adm, purge) = ForgetFilter.split(
      spark.createDataset(out)(org.apache.spark.sql.Encoders.product[Out]))
    assert(adm.collect().map(o => (o.user_id, o.seq)).toSet ==
      Set((1L, 10L), (2L, 41L)), "admitted routing")
    assert(purge.collect().map(o => (o.user_id, o.seq)).toSet ==
      Set((1L, 20L), (1L, 30L), (1L, 40L)),
      "purge ledger carries suppressions and the ack")
  }

  test("equal-seq tie goes to the tombstone (conservative placement)") {
    val out = runBatches("ff_tie", Seq(
      Seq(Ev(5L, 10L, false), Ev(5L, 10L, true))))
    val data = out.filter(o => !o.tombstone)
    assert(data.length == 1 && !data.head.admitted,
      "a data event sharing the tombstone's seq must not ship")
  }

  test("suppression is monotone: redelivered pre-tombstone events do NOT re-admit") {
    val out = runBatches("ff_replay", Seq(
      Seq(Ev(7L, 1L, false)),         // ships
      Seq(Ev(7L, 2L, true)),          // request lands
      Seq(Ev(7L, 1L, false),          // at-least-once redelivery of seq 1
        Ev(7L, 2L, true))))           // redelivered tombstone: harmless ack
    val deliveries = out.filter(o => o.user_id == 7L && o.seq == 1L)
      .map(_.admitted)
    assert(deliveries == Seq(true, false),
      s"first delivery ships, redelivery after the request suppresses: $deliveries")
    assert(out.count(o => o.tombstone) == 2, "every tombstone delivery acks")
  }

  test("crash-resume: suppression state survives the checkpoint, every event classified once") {
    import org.apache.spark.sql.streaming.Trigger
    import java.nio.file.Files
    withRocksDb {
      import spark.implicits._
      val src = Files.createTempDirectory("ff_src").toString
      val out = Files.createTempDirectory("ff_out").toString
      val chk = Files.createTempDirectory("ff_chk").toString
      // 10 files × 5 users, one event per (user, file) with seq = file
      // index; user u's tombstone rides file u*2 — suppression state for
      // every user straddles the kill point by construction
      val nFiles = 10; val nUsers = 5
      for (f <- 0 until nFiles)
        Files.writeString(java.nio.file.Paths.get(s"$src/f$f.json"),
          (0 until nUsers).map { u =>
            s"""{"user_id":$u,"seq":$f,"tombstone":${f == u * 2}}"""
          }.mkString("\n"))
      def start(trigger: Trigger) = {
        val env = spark.readStream
          .schema("user_id LONG, seq LONG, tombstone BOOLEAN")
          .option("maxFilesPerTrigger", 1)
          .json(src)
        ForgetFilter.guard(env.as[Ev])
          .toDF().writeStream
          .option("checkpointLocation", chk)
          .trigger(trigger)
          // epoch-overwrite idempotent sink = exactly-once (the AggSink
          // convention); batch=id becomes a partition column on read
          .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
            b.write.mode("overwrite").parquet(s"$out/batch=$id")
          }.start()
      }
      val q1 = start(Trigger.ProcessingTime("1 second"))
      val deadline = System.nanoTime() + 60e9.toLong
      while (q1.recentProgress.count(_.numInputRows > 0) < 1
          && System.nanoTime() < deadline) Thread.sleep(50)
      q1.stop() // the crash: state + offsets live only in the checkpoint
      val afterKill = spark.read.parquet(out).count()
      assert(afterKill < (nFiles * nUsers).toLong,
        s"kill was supposed to land mid-source, but all $afterKill rows are there")
      start(Trigger.AvailableNow()).awaitTermination()

      val rows = spark.read.parquet(out)
        .select(col("user_id"), col("seq"), col("tombstone"),
          col("admitted"), col("batch").cast("long")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2),
          r.getBoolean(3), r.getLong(4)))
      // exactly-once: every (user, file) event classified exactly once
      assert(rows.map(t => (t._1, t._2)).sorted.toSeq ==
        (for (u <- 0L until nUsers; f <- 0L until nFiles) yield (u, f)).sorted,
        "resume must classify every event exactly once across the restart")
      // suppression is correct against DELIVERY order (batch id, then
      // the processor's in-batch seq order) for every user — whatever
      // side of the crash each delivery landed on
      rows.groupBy(_._1).foreach { case (u, evs) =>
        val ordered = evs.sortBy(t => (t._5, t._2, !t._3))
        var gone = false
        ordered.foreach { case (_, seq, tomb, admitted, batch) =>
          if (tomb) {
            assert(!admitted, s"user $u: tombstone must not admit")
            gone = true
          } else
            assert(admitted == !gone,
              s"user $u seq $seq (batch $batch): admitted=$admitted after gone=$gone")
        }
        assert(gone, s"user $u: tombstone never delivered")
      }
    }
  }

  test("replayed stream matches the batch 'seq < first tombstone' predicate") {
    import spark.implicits._
    // deterministic synthetic feed: 40 users, every 4th tombstoned mid-way
    val evs = for {
      u <- 0L until 40L
      s <- 0L until 20L
    } yield Ev(u, s, u % 4 == 0 && s == 11L)
    // stream in 5 arbitrary chunks
    val out = runBatches("ff_parity", evs.grouped(160).toSeq)
    val admitted = out.filter(o => o.admitted).map(o => (o.user_id, o.seq)).toSet
    // batch twin: admit data rows before the user's first tombstone
    val w = Window.partitionBy("user_id")
    val batchAdmitted = evs.toDF("user_id", "seq", "tombstone")
      .withColumn("t_seq", min(when(col("tombstone"), col("seq"))).over(w))
      .filter(!col("tombstone") &&
        (col("t_seq").isNull || col("seq") < col("t_seq")))
      .select("user_id", "seq").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(admitted == batchAdmitted,
      s"stream/batch divergence: ${(admitted diff batchAdmitted).take(5)} | " +
        s"${(batchAdmitted diff admitted).take(5)}")
  }
}
