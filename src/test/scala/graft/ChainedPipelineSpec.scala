package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.streaming.{ContaminationGuard, GovernancePipeline, IngestPipeline}
import graft.streaming.GovernancePipeline.Ev
import graft.text.QualityModel

/** The two composed streaming DAGs CHAINED the way a curation deployment
  * actually runs them — [[IngestPipeline]]'s admitted verdicts feed
  * [[GovernancePipeline]]'s governed releases through a DURABLE HOP
  * (per-epoch parquet files, the test stand-in for a topic) — and the
  * crash lands on BOTH stages at once: every query of both DAGs is
  * killed mid-source, both resume on their own checkpoints, and every
  * final surface (ingest verdicts, purge ledger, DP releases, diversity
  * and k-anon decisions) must come out bit-identical to an uninterrupted
  * chained run. This is the end-to-end emit-once proof the two
  * single-DAG crash specs (IngestPipelineSpec / GovernancePipelineSpec)
  * could not give: a resume bug in EITHER stage — or a non-idempotent
  * hop — would double-feed or starve the governance side and flip a
  * release.
  *
  * The hop is exactly-once by the same construction as the sinks:
  * stage A's foreachBatch rewrites a DETERMINISTIC per-epoch file
  * (`b<id>.parquet`, atomic move over any previous attempt), so a
  * replayed epoch reproduces the identical bytes at the identical path,
  * and stage B's file source — which tracks seen paths in ITS
  * checkpoint — neither re-reads nor misses anything.
  */
class ChainedPipelineSpec extends SparkSpec {

  import spark.implicits._

  private val T0 = 1700000000L

  private val evalText =
    "the quick brown fox jumps over the lazy dog and runs far away today"
  private lazy val standing =
    ContaminationGuard.standingIndex(Seq((1L, evalText)).toDF("doc_id", "text"))

  /** Handcrafted reject-by-default model with one decisive token (the
    * IngestPipelineSpec fixture — every verdict is controlled, no fit).
    */
  private lazy val model = {
    val b = spark.range(1)
      .select(QualityModel.bucketOf(lit("goodword"), 128)).head().getLong(0)
    val w = new Array[Long](128)
    w(b.toInt) = 1000000L
    QualityModel.Model(w, -500000L)
  }

  // 10 files × 3 docs (ids 0..29), one file per micro-batch; file 9 is
  // the far-future flush (a REAL admitted document — the flush must
  // survive ingest to close the governance windows). Routing mix:
  //   id % 10 == 7 → quality reject (dies in stage A)
  //   id % 10 == 8 → contaminated (dies in stage A)
  //   id % 10 == 9 → shared text: only the FIRST (id 9) survives dedup
  //   else         → unique admitted content
  // Ev mapping (pure function of doc_id, applied at the hop):
  //   user_id = id % 4, seq = id, tombstone = (id == 13),
  //   ts = T0 + (id div 3)·60 + 5 (one source file per minute window),
  //   key = click/view by parity, n_chars = id + 10.
  // The governance trap rides the chain: doc 13 (user 1) is a TOMBSTONE
  // the ingest stage must admit; user 1's later docs are 17 (quality-
  // rejected upstream — never reaches governance), 21 and 25 (admitted
  // upstream, must be SUPPRESSED by the guard) and 29 (deduped
  // upstream). A crash-resume bug in either stage reshuffles exactly
  // these verdicts.
  private val nFiles = 10
  private def textOf(id: Int): String = (id % 10) match {
    case 7 => "spam spam spam spam spam spam"
    case 8 => evalText + " goodword"
    case 9 => "goodword shared duplicate payload words repeat verbatim"
    case r => s"goodword unique payload number $id with novel filler $r"
  }

  private def writeSource(): String = {
    val src = Files.createTempDirectory("chain_src").toString
    val t0 = System.currentTimeMillis() - 60000L
    for (f <- 0 until nFiles) {
      val p = Paths.get(s"$src/f$f.json")
      val rows =
        if (f == 9) Seq(s"""{"doc_id":900,"text":"${textOf(0)} flush"}""")
        else (0 until 3).map { i =>
          val id = f * 3 + i
          s"""{"doc_id":$id,"text":"${textOf(id)}"}"""
        }
      Files.writeString(p, rows.mkString("\n"))
      // distinct mtimes pin arrival order (first-seen-wins dedup and the
      // tombstone guard are order-dependent — the crash must be the
      // only variable between the two runs)
      Files.setLastModifiedTime(p,
        java.nio.file.attribute.FileTime.fromMillis(t0 + f * 1000L))
    }
    src
  }

  /** Stage A: docs → IngestPipeline → verdicts parquet + the Ev hop. */
  private def startIngest(src: String, outA: String, hop: String,
      chk: String, trigger: Trigger): StreamingQuery = {
    val docs = spark.readStream
      .schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", 1)
      .json(src)
    IngestPipeline.curate(docs, model, standing)
      .writeStream
      .option("checkpointLocation", chk)
      .trigger(trigger)
      .foreachBatch { (b: DataFrame, id: Long) =>
        // epoch-overwrite verdict sink (idempotent, the crash template)
        b.write.mode("overwrite").parquet(s"$outA/batch=$id")
        // the durable hop: admitted docs become governed events at a
        // DETERMINISTIC per-epoch path — rewrite + atomic move make a
        // replayed epoch byte-identical, so the downstream file source
        // is exactly-once by path tracking
        val ev = b.filter(col("keep"))
          .select(
            (col("doc_id") % 4).as("user_id"),
            col("doc_id").as("seq"),
            (col("doc_id") === 13L).as("tombstone"),
            timestamp_seconds(
              when(col("doc_id") >= 900L, lit(T0 + 10000000L))
                .otherwise(lit(T0) + expr("doc_id div 3") * 60L + 5L))
              .as("ts"),
            when(col("doc_id") % 2 === 0, "click").otherwise("view")
              .as("key"),
            (col("doc_id") + 10L).as("n_chars"))
        val tmp = Files.createTempDirectory("chain_hop_tmp").toString
        ev.coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = new java.io.File(tmp).listFiles()
          .filter(_.getName.endsWith(".parquet")).head.toPath
        Files.move(part, Paths.get(s"$hop/b$id.parquet"),
          StandardCopyOption.REPLACE_EXISTING)
        ()
      }.start()
  }

  /** Stage B: the Ev hop → GovernancePipeline → five surfaces. */
  private def startGov(hop: String, outB: String, chk: String,
      trigger: Trigger): Seq[StreamingQuery] = {
    val ref = Array.fill(graft.streaming.DriftMonitor.NumBuckets)(100L)
    val ev = spark.readStream
      .schema("user_id LONG, seq LONG, tombstone BOOLEAN, " +
        "ts TIMESTAMP, key STRING, n_chars LONG")
      .option("maxFilesPerTrigger", 1)
      .parquet(hop)
      .as[Ev]
    val o = GovernancePipeline.run(ev, ref, eps = 0.5,
      windowDuration = "1 minute", watermarkDelay = "0 seconds",
      lDiversity = 2, kAnon = 2)
    def sink(df: DataFrame, name: String): StreamingQuery =
      df.writeStream
        .option("checkpointLocation", s"$chk/$name")
        .trigger(trigger)
        .foreachBatch { (b: DataFrame, id: Long) =>
          b.write.mode("overwrite").parquet(s"$outB/$name/batch=$id")
        }.start()
    Seq(sink(o.admitted, "admitted"), sink(o.ledger, "ledger"),
      sink(o.released, "released"), sink(o.diversity, "diversity"),
      sink(o.kanon, "kanon"))
  }

  private def read(out: String, name: String, cols: Seq[String])
      : Set[Seq[Any]] = {
    val dir = new java.io.File(s"$out/$name")
    if (!dir.exists() || dir.listFiles() == null || dir.listFiles().isEmpty)
      Set.empty
    else spark.read.parquet(s"$out/$name")
      .select(cols.map(col): _*).collect().map(_.toSeq).toSet
  }

  private val govSurfaces = Seq(
    "admitted" -> Seq("user_id", "seq", "key", "n_chars"),
    "ledger" -> Seq("user_id", "seq", "tombstone", "key"),
    "released" -> Seq("w_start", "key", "released_micro"),
    "diversity" -> Seq("w_start", "event_type", "n", "l_div"),
    "kanon" -> Seq("w_start", "cell", "n"))

  /** Run the chain to completion from (possibly mid-flight) checkpoints:
    * stage A drains first so the hop is complete, then stage B drains.
    */
  private def drain(src: String, dirs: ChainDirs): Unit = {
    val a = startIngest(src, dirs.outA, dirs.hop, dirs.chkA,
      Trigger.AvailableNow())
    a.awaitTermination()
    startGov(dirs.hop, dirs.outB, dirs.chkB, Trigger.AvailableNow())
      .foreach(_.awaitTermination())
  }

  private case class ChainDirs(outA: String, hop: String, outB: String,
      chkA: String, chkB: String)
  private def freshDirs(): ChainDirs = ChainDirs(
    Files.createTempDirectory("chain_outA").toString,
    Files.createTempDirectory("chain_hop").toString,
    Files.createTempDirectory("chain_outB").toString,
    Files.createTempDirectory("chain_chkA").toString,
    Files.createTempDirectory("chain_chkB").toString)

  test("chained ingest → governance crash-restart: both checkpoints " +
      "killed and resumed, every surface ≡ an uninterrupted chained run") {
    withRocksDb {
      // interrupted chained run: both stages live concurrently (the
      // deployment shape), killed once EVERY query moved ≥ 1 batch
      val src1 = writeSource()
      val d1 = freshDirs()
      val qa = startIngest(src1, d1.outA, d1.hop, d1.chkA,
        Trigger.ProcessingTime("1 second"))
      val qbs = startGov(d1.hop, d1.outB, d1.chkB,
        Trigger.ProcessingTime("1 second"))
      val all = qa +: qbs
      val deadline = System.nanoTime() + 120e9.toLong
      while (all.exists(_.recentProgress.count(_.numInputRows > 0) < 1)
          && System.nanoTime() < deadline) Thread.sleep(50)
      all.foreach(_.stop()) // the crash hits BOTH stages' checkpoints
      val verdictsAtKill = read(d1.outA, "", Seq("doc_id")).size
      assert(verdictsAtKill < 28,
        s"kill was supposed to land mid-source ($verdictsAtKill verdicts)")
      drain(src1, d1)

      // uninterrupted chained reference: same bytes and mtimes
      val src2 = writeSource()
      val d2 = freshDirs()
      drain(src2, d2)

      // stage A verdicts identical
      val va = read(d1.outA, "", Seq("doc_id", "keep", "reason", "first_id"))
      val vb = read(d2.outA, "", Seq("doc_id", "keep", "reason", "first_id"))
      assert(va === vb, "ingest verdicts diverged across the chained crash")
      assert(va.size === 28, s"27 docs + flush, exactly once: ${va.size}")

      // every governance surface identical and non-trivial
      for ((name, cols) <- govSurfaces) {
        val crashed = read(d1.outB, name, cols)
        val clean = read(d2.outB, name, cols)
        assert(crashed === clean, s"$name diverged across the chained crash")
        assert(crashed.nonEmpty, s"$name: empty output proves nothing")
      }

      // and the chain's SEMANTICS held end to end: the tombstone doc
      // (13) was admitted by ingest, acknowledged in the ledger, and
      // user 1's post-tombstone admitted docs (21, 25) were suppressed
      // by governance — while its quality-rejected (17) and deduped
      // (29) docs never reached governance at all
      val admSeqs = read(d1.outB, "admitted", Seq("seq"))
        .map(_.head.asInstanceOf[Long])
      val ledger = read(d1.outB, "ledger", Seq("seq", "tombstone"))
        .map(s => (s(0).asInstanceOf[Long], s(1).asInstanceOf[Boolean]))
      assert(Set(1L, 5L, 9L).subsetOf(admSeqs),
        s"user 1's pre-tombstone docs must be admitted: $admSeqs")
      assert(ledger === Set((13L, true), (21L, false), (25L, false)),
        s"ledger = tombstone ack + every suppressed row: $ledger")
      assert(!admSeqs.contains(17L) && !admSeqs.contains(29L),
        "upstream rejects must never reach the governance stage")
    }
  }
}
