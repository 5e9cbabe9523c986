package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.{ContaminationGuard, IngestPipeline}
import graft.text.QualityModel

/** End-to-end ingest DAG contract: every arriving doc leaves exactly
  * once with the right verdict; contamination outranks quality which
  * outranks dedup; dedup state carries across micro-batches; replayed
  * deliveries fold idempotently (identical verdicts).
  */
class IngestPipelineSpec extends SparkSpec {

  import spark.implicits._

  private val evalText =
    "the quick brown fox jumps over the lazy dog and runs far away today"
  private lazy val standing =
    ContaminationGuard.standingIndex(Seq((1L, evalText)).toDF("doc_id", "text"))

  /** Handcrafted model: reject-by-default prior, one decisive token —
    * the test controls every verdict without a fit.
    */
  private lazy val (model, goodBucket) = {
    val b = spark.range(1)
      .select(QualityModel.bucketOf(lit("goodword"), 128)).head().getLong(0)
    val w = new Array[Long](128)
    w(b.toInt) = 1000000L
    (QualityModel.Model(w, -500000L), b)
  }

  /** #ftoks of `text` landing in the decisive bucket — guards the
    * fixture against accidental hash collisions of filler words.
    */
  private def decisiveHits(text: String): Long =
    Seq(Tuple1(text)).toDF("text")
      .select(QualityModel.featureTokens(
        graft.text.TextFunctions.tokens(col("text"))).as("f"))
      .select(explode(col("f")).as("t"))
      .filter(QualityModel.bucketOf(col("t"), 128) === goodBucket)
      .count()

  private val goodText =
    "goodword carries a perfectly novel sentence about spark shuffles and partitions"
  private val goodText2 =
    "another goodword document with fresh content on parquet readers and pruning"
  private val badText = "spam spam spam spam spam spam"
  private val contamText = evalText + " goodword"

  private def runBatches(name: String, batches: Seq[Seq[(Long, String)]])
      : Seq[(Long, Boolean, String, Any)] = withRocksDb {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val q = IngestPipeline.curate(
        input.toDF().toDF("doc_id", "text"), model, standing)
      .writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
      spark.table(name).collect()
        .map(r => (r.getLong(0), r.getBoolean(1), r.getString(2),
          if (r.isNullAt(3)) null else r.getLong(3))).toSeq
    } finally q.stop()
  }

  test("fixture sanity: the decisive bucket is clean of collisions") {
    assert(decisiveHits(goodText) == 1L)
    assert(decisiveHits(goodText2) == 1L)
    assert(decisiveHits(badText) == 0L)
  }

  test("stage routing, precedence, cross-batch dedup, replay parity") {
    val out = runBatches("ingest_e2e", Seq(
      Seq((1L, goodText), (2L, badText), (3L, contamText)),
      Seq((4L, goodText), (5L, goodText2)), // 4 duplicates 1 across batches
      Seq((1L, goodText))))                 // at-least-once replay of 1

    // exactly one verdict per delivery: 5 docs + 1 replay
    assert(out.size == 6, out.toString)
    val first = out.groupBy(_._1).map { case (id, vs) => id -> vs.head }

    assert(first(1L) == ((1L, true, null, 1L)))       // admitted
    assert(first(2L) == ((2L, false, "quality", null)))
    // contaminated even though it contains the decisive token —
    // contamination outranks quality, and the reject never reaches
    // the dedup store
    assert(first(3L) == ((3L, false, "contaminated", null)))
    assert(first(4L) == ((4L, false, "duplicate", 1L))) // state carried over
    assert(first(5L) == ((5L, true, null, 5L)))

    // the replayed delivery of doc 1 re-emits the identical verdict —
    // checkpoint recovery cannot flip routing
    val doc1 = out.filter(_._1 == 1L)
    assert(doc1.size == 2 && doc1.toSet.size == 1)

    // dead-letter split partitions the verdicts
    val all = runBatchesSplitCheck()
    assert(all)
  }

  test("crash-restart: the COMPOSED DAG resumes exactly-once, verdicts ≡ uninterrupted run") {
    import org.apache.spark.sql.streaming.Trigger
    import java.nio.file.Files
    withRocksDb {
      // 10 files × 3 docs, one file per micro-batch. Routing mix per id:
      //   id % 10 == 7 → quality reject (no decisive token)
      //   id % 10 == 8 → contaminated (carries the eval span)
      //   else        → admitted content, DUPLICATED 3× across files
      //                 (same id % 10 ⇒ same text, group straddles any
      //                 kill point by construction)
      val nFiles = 10; val perFile = 3
      def textOf(id: Int): String = (id % 10) match {
        case 7 => badText
        case 8 => contamText
        case r => s"goodword payload $r with extra novel filler words"
      }
      def writeSource(): String = {
        val src = Files.createTempDirectory("ingest_src").toString
        val t0 = System.currentTimeMillis() - 60000L
        for (f <- 0 until nFiles) {
          val p = java.nio.file.Paths.get(s"$src/f$f.json")
          Files.writeString(p,
            (0 until perFile).map { i =>
              val id = f * perFile + i
              s"""{"doc_id":$id,"text":"${textOf(id)}"}"""
            }.mkString("\n"))
          // FileStreamSource orders batches by modification time; ten
          // files written in the same millisecond would leave the
          // arrival order to the directory-listing order, which differs
          // between temp dirs — and first-seen-wins dedup verdicts are
          // a function of arrival order. Distinct mtimes pin f0 < f1 <
          // … in BOTH runs so the crash is the only variable under test.
          Files.setLastModifiedTime(p,
            java.nio.file.attribute.FileTime.fromMillis(t0 + f * 1000L))
        }
        src
      }
      def start(src: String, out: String, chk: String, trigger: Trigger) = {
        val env = spark.readStream
          .schema("doc_id LONG, text STRING")
          .option("maxFilesPerTrigger", 1)
          .json(src)
        IngestPipeline.curate(env, model, standing)
          .writeStream
          .option("checkpointLocation", chk)
          .trigger(trigger)
          // epoch-overwrite sink: replayed epoch is idempotent, so
          // checkpoint + idempotent sink = exactly-once
          .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
            b.write.mode("overwrite").parquet(s"$out/batch=$id")
          }.start()
      }
      def verdicts(out: String): Map[Long, (Boolean, String, Any)] =
        spark.read.parquet(out)
          .select("doc_id", "keep", "reason", "first_id").collect()
          .map(r => r.getLong(0) -> ((r.getBoolean(1), r.getString(2),
            if (r.isNullAt(3)) null else r.getLong(3)))).toMap

      // interrupted run: kill after the first processed batch
      val src1 = writeSource()
      val out1 = Files.createTempDirectory("ingest_out").toString
      val chk1 = Files.createTempDirectory("ingest_chk").toString
      val q1 = start(src1, out1, chk1, Trigger.ProcessingTime("1 second"))
      val deadline = System.nanoTime() + 60e9.toLong
      while (q1.recentProgress.count(_.numInputRows > 0) < 1
          && System.nanoTime() < deadline) Thread.sleep(50)
      q1.stop() // the crash: dedup state + offsets live only in the checkpoint
      val afterKill = spark.read.parquet(out1).count()
      assert(afterKill < (nFiles * perFile).toLong,
        s"kill was supposed to land mid-source, but all $afterKill rows are there")
      start(src1, out1, chk1, Trigger.AvailableNow()).awaitTermination()

      // uninterrupted reference run: same files, fresh checkpoint
      val src2 = writeSource()
      val out2 = Files.createTempDirectory("ingest_out2").toString
      val chk2 = Files.createTempDirectory("ingest_chk2").toString
      start(src2, out2, chk2, Trigger.AvailableNow()).awaitTermination()

      val crashed = verdicts(out1)
      val clean = verdicts(out2)
      // exactly-once: every doc verdicted exactly once across the restart
      assert(crashed.keySet === (0 until nFiles * perFile).map(_.toLong).toSet,
        "resume must verdict every doc exactly once")
      // and the mid-crash state did not double-admit or split-brain:
      // verdicts are BIT-IDENTICAL to the uninterrupted run
      assert(crashed === clean, "crash-restart verdicts diverged from the clean run")
      // the fixture really exercised all three stages
      val reasons = crashed.values.map(_._2).toSet
      assert(reasons === Set(null, "quality", "contaminated", "duplicate"))
      // dedup: per admitted content group, ONE winner, duplicates point at it
      (0 until 10).filterNot(r => r == 7 || r == 8).foreach { r =>
        val group = (0 until nFiles * perFile).filter(_ % 10 == r).map(_.toLong)
        val winners = group.filter(id => crashed(id)._1)
        assert(winners.size === 1, s"group $r: ${winners.size} winners")
        group.foreach(id => assert(crashed(id)._3 === winners.head,
          s"doc $id points at ${crashed(id)._3}, winner ${winners.head}"))
      }
    }
  }

  private def runBatchesSplitCheck(): Boolean = withRocksDb {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val curated = IngestPipeline.curate(
      input.toDF().toDF("doc_id", "text"), model, standing)
    val (kept, dead) = IngestPipeline.split(curated)
    val qk = kept.writeStream.format("memory").queryName("ingest_keep")
      .outputMode("append").start()
    val qd = dead.writeStream.format("memory").queryName("ingest_dead")
      .outputMode("append").start()
    try {
      input.addData((10L, goodText), (11L, badText))
      qk.processAllAvailable(); qd.processAllAvailable()
      spark.table("ingest_keep").collect().map(_.getLong(0)).toSet == Set(10L) &&
        spark.table("ingest_dead").collect().map(_.getLong(0)).toSet == Set(11L)
    } finally { qk.stop(); qd.stop() }
  }
}
