package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.streaming.{DriftMonitor, ForgetFilter, GovernancePipeline}
import graft.streaming.GovernancePipeline.Ev

/** The composed governance DAG (suppress → release → monitor): routing
  * end to end, and the ordering guarantee that a purged user's
  * post-tombstone events never reach a DP count or drift histogram
  * released after the tombstone landed.
  */
class GovernancePipelineSpec extends SparkSpec {

  import spark.implicits._

  private val T0 = 1700000000L // epoch-hour-ish anchor
  private def ts(offsetSec: Long) = new Timestamp((T0 + offsetSec) * 1000L)

  /** Driver replay of the seeded Laplace mechanism (micro-units). */
  private def noiseMicro(seed: String, eps: Double): Long = {
    val bkt = java.lang.Long.parseLong(
      org.apache.commons.codec.digest.DigestUtils.md5Hex(seed).take(8),
      16) % 1000000L
    val u = (bkt + 0.5) / 1e6 - 0.5
    math.round(-1.0 / eps * math.signum(u) *
      math.log(1.0 - 2.0 * math.abs(u)) * 1e6)
  }

  // flat standing reference: 10 buckets of 100
  private val ref = Array.fill(DriftMonitor.NumBuckets)(100L)

  //            user  seq  tomb   ts          key      n_chars
  private val batch1 = Seq(
    Ev(1L, 1L, tombstone = false, ts(60),   "click", 10L),
    Ev(1L, 2L, tombstone = false, ts(70),   "click", 60L),
    Ev(2L, 1L, tombstone = false, ts(80),   "view",  120L),
    Ev(2L, 2L, tombstone = true,  ts(90),   "view",  0L))
  // post-tombstone events of user 2 land in window 1 under "view":
  // if suppression failed, window 1 would publish a "view" release
  private val batch2 = Seq(
    Ev(2L, 3L, tombstone = false, ts(3660), "view",  200L),
    Ev(2L, 4L, tombstone = false, ts(3670), "view",  300L),
    Ev(1L, 3L, tombstone = false, ts(3680), "click", 450L))
  private val flush = Seq(
    Seq(Ev(99L, 1L, tombstone = false, ts(10000000), "_flush", 0L)),
    Seq(Ev(99L, 2L, tombstone = false, ts(10000001), "_flush", 0L)))

  test("suppress → release → monitor: routing, and suppression gates every release") {
    withRocksDb {
      implicit val sqlCtx = spark.sqlContext
      val input = MemoryStream[Ev]
      // ℓ = 2 explicitly: this fixture's diverse window carries exactly
      // two types, and the trap (a purge leak flipping window 1 from
      // suppressed to released) needs the bar at 2. The shared DEFAULT
      // (DiversityGate.DefaultL = 3) is pinned by its own test below.
      val o = GovernancePipeline.run(input.toDS(), ref, eps = 0.5,
        windowDuration = "1 hour", watermarkDelay = "0 seconds",
        lDiversity = 2, kAnon = 2)
      def mem(df: org.apache.spark.sql.DataFrame, name: String): StreamingQuery =
        df.writeStream.format("memory").queryName(name)
          .outputMode("append").start()
      val qs = Seq(mem(o.admitted, "gp_adm"), mem(o.ledger, "gp_led"),
        mem(o.released, "gp_rel"), mem(o.drift, "gp_drift"),
        mem(o.diversity, "gp_div"), mem(o.kanon, "gp_kanon"))
      try {
        (Seq(batch1, batch2) ++ flush).foreach { b =>
          input.addData(b: _*); qs.foreach(_.processAllAvailable())
        }
      } finally qs.foreach(_.stop())

      // routing: pre-tombstone rows admitted (in-batch order by seq puts
      // user 2's seq 1 before its tombstone), post-tombstone suppressed
      val adm = spark.table("gp_adm")
        .select("user_id", "seq").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(adm.filter(_._1 != 99L) ===
        Set((1L, 1L), (1L, 2L), (2L, 1L), (1L, 3L)))
      val led = spark.table("gp_led")
        .select("user_id", "seq", "tombstone").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
      assert(led === Set((2L, 2L, true), (2L, 3L, false), (2L, 4L, false)),
        "ledger = tombstone ack + every suppressed row")

      // releases derive from the ADMITTED side only: window 0 has
      // click=2 / view=1 (the pre-tombstone event); window 1 has click=1
      // and NO view row at all — the purged user's events left no trace
      val rel = spark.table("gp_rel")
        .filter(col("key") =!= "_flush")
        .select(unix_timestamp(col("w_start")), col("key"),
          col("released_micro"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      val byWinKey = rel.map(t => (t._1, t._2) -> t._3).toMap
      assert(rel.length === byWinKey.size, "one release per (window, key)")
      val wins = rel.map(_._1).distinct.sorted
      assert(wins.length === 2, s"two released windows: ${rel.toSeq}")
      val (w0, w1) = (wins(0), wins(1))
      def expected(wStart: Long, key: String, n: Long): Long =
        math.max(0L, n * 1000000L + noiseMicro(s"$wStart|$key", 0.5))
      assert(byWinKey((w0, "click")) === expected(w0, "click", 2L))
      assert(byWinKey((w0, "view")) === expected(w0, "view", 1L))
      assert(byWinKey((w1, "click")) === expected(w1, "click", 1L))
      assert(!byWinKey.contains((w1, "view")),
        "a purged user's events must not produce a release")

      // drift histograms count ADMITTED documents only: window 0 buckets
      // 10→0, 60→1, 120→2 chars (user 2's 200/300-char suppressed rows
      // absent from window 1, which holds only the 450-char admitted row)
      val drift = spark.table("gp_drift")
        .filter(unix_timestamp(col("w_start")) < T0 + 100000)
        .select(unix_timestamp(col("w_start")), col("hist"), col("psi_micro"))
        .collect()
        .map(r => r.getLong(0) -> ((r.getSeq[Long](1), r.getLong(2)))).toMap
      def histOf(chars: Seq[Long]): Seq[Long] = {
        val h = Array.fill(DriftMonitor.NumBuckets)(0L)
        chars.foreach(c => h(math.min(c / 50, 9L).toInt) += 1)
        h.toSeq
      }
      assert(drift(w0)._1 === histOf(Seq(10L, 60L, 120L)))
      assert(drift(w1)._1 === histOf(Seq(450L)))
      // psi replays bit-identically through the shared arithmetic
      val psiCheck = Seq(w0, w1).map { w =>
        spark.range(1)
          .select(DriftMonitor.psiMicro(typedLit(drift(w)._1), ref).as("p"))
          .head().getLong(0)
      }
      assert(Seq(drift(w0)._2, drift(w1)._2) === psiCheck)

      // the ℓ-diversity gate (l = 2) rides the admitted side too:
      // window 0 carries {click, view} and releases exact counts;
      // window 1's admitted side is click-only and SUPPRESSES — the
      // purged user's two post-tombstone "view" events would have made
      // it 2-diverse, so a leak would flip this row to a release
      val div = spark.table("gp_div")
        .filter(unix_timestamp(col("w_start")) < T0 + 100000)
        .select(unix_timestamp(col("w_start")), col("event_type"),
          col("n"), col("l_div"))
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
        .toSet
      assert(div === Set(
        (w0, "click", 2L, 2L), (w0, "view", 1L, 2L),
        (w1, "__suppressed__", 1L, 0L)),
        s"diversity gate output: $div")

      // the k-anon gate (k = 2) rides the admitted side too: window 0
      // releases the click cell (2 rows) and rolls the single view row;
      // window 1's one admitted click stays sub-k — the purged user's
      // two post-tombstone "view" events would have released a view
      // cell in window 1, so a leak flips this assertion
      val ka = spark.table("gp_kanon")
        .filter(unix_timestamp(col("w_start")) < T0 + 100000)
        .select(unix_timestamp(col("w_start")), col("cell"), col("n"))
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      assert(ka === Set(
        (w0, "click", 2L), (w0, "__suppressed__", 1L),
        (w1, "__suppressed__", 1L)),
        s"k-anon gate output: $ka")
    }
  }

  test("crash-restart: every window releases exactly once, bit-identical to an uninterrupted run") {
    // THE emit-once proof the composed DAG lacked: DpRelease's scaladoc
    // makes re-releasing a window a privacy bug (double-spent ε), and
    // the diversity/k-anon gates' decisions must not flip across a
    // resume. Kill the governed stream mid-source, resume on the SAME
    // checkpoints, and prove (a) every closed window's DP count,
    // diversity verdict, and k-anon release emitted exactly once,
    // (b) all six outputs bit-identical to an uninterrupted run —
    // including the ledger and admitted sides (the IngestPipelineSpec
    // crash template, on the governance DAG).
    import org.apache.spark.sql.streaming.Trigger
    import java.nio.file.Files
    withRocksDb {
      val nFiles = 10 // 9 data minutes + 1 flush file
      // minute-window fixture: window f gets exactly file f's events.
      //   user 1: one click per window
      //   user 2: view, except every third window (f%3==2) a CLICK —
      //           those windows are 1-type and must SUPPRESS at ℓ=2
      //   user 7: view per window; TOMBSTONES in file 3 — its later
      //           views are suppressed, and in the f%3==2 windows a
      //           leaked view would flip the diversity verdict to
      //           released (the ordering trap, now across a crash)
      def rowsOf(f: Int): Seq[String] = {
        def ev(u: Long, seq: Long, tomb: Boolean, tsSec: Long, key: String) =
          s"""{"user_id":$u,"seq":$seq,"tombstone":$tomb,""" +
            s""""ts_sec":$tsSec,"key":"$key","n_chars":${10 + f}}"""
        val t = T0 + f * 60 + 5
        if (f == 9) // far-future flush: closes windows 0..8 in both runs
          Seq(ev(99L, 900L, tomb = false, T0 + 10000000, "_flush"))
        else Seq(
          ev(1L, 100L + f, tomb = false, t, "click"),
          ev(2L, 200L + f, tomb = false, t, if (f % 3 == 2) "click" else "view"),
          ev(7L, 700L + f, tomb = f == 3, t, "view"))
      }
      def writeSource(): String = {
        val src = Files.createTempDirectory("gov_src").toString
        val t0 = System.currentTimeMillis() - 60000L
        for (f <- 0 until nFiles) {
          val p = java.nio.file.Paths.get(s"$src/f$f.json")
          Files.writeString(p, rowsOf(f).mkString("\n"))
          // pin distinct mtimes: FileStreamSource orders same-mtime
          // files by listing order, and the guard's verdicts depend on
          // arrival order — the crash must be the only variable
          Files.setLastModifiedTime(p,
            java.nio.file.attribute.FileTime.fromMillis(t0 + f * 1000L))
        }
        src
      }
      import org.apache.spark.sql.streaming.StreamingQuery
      def start(src: String, out: String, chk: String, trigger: Trigger)
          : Seq[StreamingQuery] = {
        val ev = spark.readStream
          .schema("user_id LONG, seq LONG, tombstone BOOLEAN, " +
            "ts_sec LONG, key STRING, n_chars LONG")
          .option("maxFilesPerTrigger", 1)
          .json(src)
          .select(col("user_id"), col("seq"), col("tombstone"),
            timestamp_seconds(col("ts_sec")).as("ts"), col("key"),
            col("n_chars"))
          .as[Ev]
        val o = GovernancePipeline.run(ev, ref, eps = 0.5,
          windowDuration = "1 minute", watermarkDelay = "0 seconds",
          lDiversity = 2, kAnon = 2)
        def sink(df: org.apache.spark.sql.DataFrame, name: String) =
          df.writeStream
            .option("checkpointLocation", s"$chk/$name")
            .trigger(trigger)
            // epoch-overwrite sink: a replayed epoch is idempotent, so
            // checkpoint + idempotent sink = exactly-once
            .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
              b.write.mode("overwrite").parquet(s"$out/$name/batch=$id")
            }.start()
        Seq(sink(o.admitted, "admitted"), sink(o.ledger, "ledger"),
          sink(o.released, "released"), sink(o.drift, "drift"),
          sink(o.diversity, "diversity"), sink(o.kanon, "kanon"))
      }
      def read(out: String, name: String, cols: Seq[String]): Set[Seq[Any]] = {
        val dir = new java.io.File(s"$out/$name")
        if (!dir.exists()) Set.empty
        else spark.read.parquet(s"$out/$name")
          .select(cols.map(col): _*).collect().map(_.toSeq).toSet
      }
      val surfaces = Seq(
        "admitted" -> Seq("user_id", "seq", "key", "n_chars"),
        "ledger" -> Seq("user_id", "seq", "tombstone", "key"),
        "released" -> Seq("w_start", "key", "released_micro"),
        "drift" -> Seq("w_start", "hist", "psi_micro"),
        "diversity" -> Seq("w_start", "event_type", "n", "l_div"),
        "kanon" -> Seq("w_start", "cell", "n"))

      // interrupted run: kill once EVERY sink has processed >= 1 batch
      val src1 = writeSource()
      val out1 = Files.createTempDirectory("gov_out").toString
      val chk1 = Files.createTempDirectory("gov_chk").toString
      val qs1 = start(src1, out1, chk1, Trigger.ProcessingTime("1 second"))
      val deadline = System.nanoTime() + 120e9.toLong
      while (qs1.exists(_.recentProgress.count(_.numInputRows > 0) < 1)
          && System.nanoTime() < deadline) Thread.sleep(50)
      qs1.foreach(_.stop()) // the crash: guard + window state live only in checkpoints
      // total admitted in a full run: 3×3 (windows 0-2) + 2 (window 3,
      // tombstone row ledgered) + 2×5 (windows 4-8, u7 suppressed) + 1
      // flush = 22
      val admittedAfterKill = read(out1, "admitted", Seq("user_id", "seq")).size
      assert(admittedAfterKill < 22,
        s"kill was supposed to land mid-source, but all $admittedAfterKill admitted rows are there")
      start(src1, out1, chk1, Trigger.AvailableNow()).foreach(_.awaitTermination())

      // uninterrupted reference run: same bytes and mtimes, fresh state
      val src2 = writeSource()
      val out2 = Files.createTempDirectory("gov_out2").toString
      val chk2 = Files.createTempDirectory("gov_chk2").toString
      start(src2, out2, chk2, Trigger.AvailableNow()).foreach(_.awaitTermination())

      for ((name, cols) <- surfaces) {
        val crashed = read(out1, name, cols)
        val clean = read(out2, name, cols)
        assert(crashed === clean,
          s"$name diverged across the crash-restart")
        assert(crashed.nonEmpty, s"$name: empty output proves nothing")
      }

      // exactly-once, structurally: one DP release per (window, key),
      // one diversity verdict and one k-anon rollup set per window —
      // counted over EVERY epoch directory the two runs wrote
      def dupFree(out: String, name: String, keyCols: Seq[String]): Unit = {
        val rows = spark.read.parquet(s"$out/$name")
          .select(keyCols.map(col): _*).collect().map(_.toSeq).toSeq
        assert(rows.size === rows.toSet.size,
          s"$name: a window released more than once across the restart")
      }
      dupFree(out1, "released", Seq("w_start", "key"))
      dupFree(out1, "diversity", Seq("w_start", "event_type"))
      dupFree(out1, "kanon", Seq("w_start", "cell"))
      dupFree(out1, "drift", Seq("w_start"))

      // the fixture really exercised the traps across the restart:
      // every third window suppressed at ℓ=2 (u7's post-tombstone view
      // would have flipped it), all nine windows closed and released
      // minute windows align to the EPOCH grid, not to T0: file f's
      // events (at T0 + f·60 + 5) land in the window starting at
      // (T0 − T0 % 60) + f·60, so label relative to that grid origin
      val wBase = T0 - T0 % 60
      val div = read(out1, "diversity", Seq("w_start", "event_type"))
        .map(r => ((r(0).asInstanceOf[java.sql.Timestamp].getTime / 1000L
          - wBase) / 60L).toInt -> r(1).asInstanceOf[String]).toSeq
      val suppressed = div.filter(_._2 == "__suppressed__").map(_._1).toSet
      assert(suppressed === Set(5, 8),
        s"windows 5 and 8 are 1-type AFTER the tombstone and must suppress: $div")
      assert(div.map(_._1).toSet === (0 to 8).toSet, "all nine windows released")
      // and the purge ledger shows the acknowledgment + every
      // suppressed row: u7's tombstone plus its 5 post-tombstone views
      val led = read(out1, "ledger", Seq("user_id", "seq", "tombstone", "key"))
      assert(led.count(_.head == 7L) === 6, s"ledger: $led")
    }
  }

  test("the pipeline guard's verdicts are ForgetFilter's, bit for bit") {
    withRocksDb {
      implicit val sqlCtx = spark.sqlContext
      // the composed pipeline's guard on the shared replay
      val inputA = MemoryStream[Ev]
      val oA = GovernancePipeline.run(inputA.toDS(), ref, eps = 0.5,
        windowDuration = "1 hour", watermarkDelay = "0 seconds")
      val qA = oA.admitted.unionByName(oA.ledger)
        .writeStream.format("memory").queryName("gp_parity_a")
        .outputMode("append").start()
      // the standalone ForgetFilter on the projected identical stream
      val inputB = MemoryStream[ForgetFilter.Ev]
      val qB = ForgetFilter.guard(inputB.toDS())
        .toDF().writeStream.format("memory").queryName("gp_parity_b")
        .outputMode("append").start()
      try {
        Seq(batch1, batch2).foreach { b =>
          inputA.addData(b: _*); qA.processAllAvailable()
          inputB.addData(b.map(e =>
            ForgetFilter.Ev(e.user_id, e.seq, e.tombstone)): _*)
          qB.processAllAvailable()
        }
      } finally { qA.stop(); qB.stop() }
      def verdicts(t: String): Set[(Long, Long, Boolean, Boolean)] =
        spark.table(t).select("user_id", "seq", "tombstone", "admitted")
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2),
            r.getBoolean(3))).toSet
      assert(verdicts("gp_parity_a") === verdicts("gp_parity_b"))
    }
  }
}
