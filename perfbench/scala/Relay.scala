package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

import graft.cdc.ChangeEvents
import graft.functions.ExtJson.ext_json_canonical
import graft.streaming.ChangeStreamRelay

/** The relay's streaming path (`readChangeStream` → `relay` →
  * `writePerTopicParquet`) driven from outside through its public
  * functions, in two workloads: closed-loop single-file micro-batches
  * (`live`) and repeated drains of a pre-written backlog (`backlog`).
  */
object Relay {

  /** The relay query over `src`, as a user of the library starts it. */
  private def start(spark: SparkSession, src: Path, out: Path, chk: Path,
      trigger: Trigger): StreamingQuery =
    ChangeStreamRelay.writePerTopicParquet(
      ChangeStreamRelay.relay(ChangeStreamRelay.readChangeStream(spark, src.toString)),
      out.toString, chk.toString, trigger).start()

  private def nonEmpty(q: StreamingQuery): Seq[StreamingQueryProgress] =
    q.recentProgress.toSeq.filter(_.numInputRows > 0)

  private def dur(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)

  /** Phase durations of the streaming engine, medians over the given
    * non-empty batches.
    */
  private def phaseMetrics(ps: Seq[StreamingQueryProgress]): Map[String, Double] =
    Map(
      "streaming.latest_offset_ms" -> "latestOffset",
      "streaming.query_planning_ms" -> "queryPlanning",
      "streaming.wal_commit_ms" -> "walCommit",
      "streaming.commit_offsets_ms" -> "commitOffsets",
      "streaming.add_batch_ms" -> "addBatch").map { case (m, k) =>
      m -> Stats.median(ps.map(dur(_, k)))
    }

  private def parquetFiles(dir: Path): Seq[Path] =
    if (!Files.exists(dir)) Nil
    else {
      val s = Files.walk(dir)
      try s.iterator.asScala.filter(_.toString.endsWith(".parquet")).toList
      finally s.close()
    }

  /** Canonical form of one sink row, parsed by the benchmark itself:
    * the key must be the Connect envelope `{"schema":{"type":"string",
    * "optional":false},"payload":"<documentKey ExtJSON>"}` and the value a
    * JSON document. None when either does not parse to that shape.
    */
  def canonicalSinkRow(topic: String, key: String, value: String): Option[String] =
    try {
      val k = Gen.mapper.readTree(key)
      val fields = k.fieldNames().asScala.toSet
      val schemaOk = Gen.canon(k.get("schema")) == """{"optional":false,"type":"string"}"""
      val payload = k.get("payload")
      if (fields != Set("schema", "payload") || !schemaOk || payload == null || !payload.isTextual) None
      else Some(topic + "\u0001" + Gen.canon(Gen.mapper.readTree(payload.asText)) +
        "\u0001" + Gen.canon(Gen.mapper.readTree(value)))
    } catch { case _: Exception => None }

  /** Per micro-batch id: fingerprint of the well-formed sink rows and
    * the count of rows that are not well formed.
    */
  def sinkFingerprints(spark: SparkSession, out: Path): Map[Long, (Gen.Fp, Long)] =
    if (parquetFiles(out).isEmpty) Map.empty
    else
      spark.read.parquet(out.toString)
        .select(col("batch").cast("long"), col("topic").cast("string"), col("key"), col("value"))
        .rdd.mapPartitions { it =>
          val acc = mutable.Map.empty[Long, (Gen.Fp, Long)]
          it.foreach { r =>
            val (fp, bad) = acc.getOrElse(r.getLong(0), (Gen.Fp.zero, 0L))
            acc(r.getLong(0)) = canonicalSinkRow(r.getString(1), r.getString(2), r.getString(3)) match {
              case Some(c) => (fp + Gen.Fp.of(c), bad)
              case None => (fp, bad + 1)
            }
          }
          acc.iterator
        }
        .collect().groupBy(_._1).map { case (b, xs) =>
          b -> xs.map(_._2).reduce((a, c) => (a._1 + c._1, a._2 + c._2))
        }

  /** Row count and sums of the two halves of a 64-bit hash of each raw
    * sink row: equal for two sinks that hold the same rows byte for byte.
    */
  def rawFingerprint(spark: SparkSession, out: Path): Seq[Long] = {
    val h = xxhash64(col("topic").cast("string"), col("key"), col("value"))
    spark.read.parquet(out.toString)
      .agg(count(lit(1)), sum(h.bitwiseAND(lit(0xffffffffL))), sum(shiftrightunsigned(h, 32)))
      .head().toSeq.map(v => Option(v).map(_.asInstanceOf[Long]).getOrElse(0L))
  }

  /** Layer calls timed one at a time on a sample of the run's own input:
    * envelope parse, the relay transform, ExtJSON rendering, and the
    * sink fed already-relayed rows. Each is the median of `reps` calls,
    * scaled to milliseconds per 100k events.
    */
  private def layerCalls(spark: SparkSession, src: Path, work: Path, sample: Int,
      reps: Int): Map[String, Double] = {
    val raw = spark.read.text(src.toString).limit(sample).cache()
    val n = raw.count().toDouble
    val env = Trace.span("cdc.parseEnvelope", 0)(ChangeEvents.parseEnvelope(raw)).cache()
    env.count()
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    def per100k(name: String)(f: => Unit): Double = Stats.median((1 to reps).map { r =>
      val t0 = Clock.nanos()
      Trace.span(name, r)(f)
      (Clock.nanos() - t0) / 1e6
    }) * 1e5 / n
    val parse = per100k("cdc.parseEnvelope")(noop(ChangeEvents.parseEnvelope(raw)))
    val relay = per100k("cdc.relay")(noop(ChangeEvents.relay(env)))
    val ext = per100k("functions.ext_json_canonical")(noop(env.select(
      ext_json_canonical(col("_id")), ext_json_canonical(col("operationType")),
      ext_json_canonical(col("ns")))))
    // the sink alone: already-relayed rows, staged as parquet, arrive
    // through a file stream, so addBatch is a parquet scan plus the
    // per-topic parquet write
    val relayed = ChangeEvents.relay(env)
    val rows = relayed.count()
    val staged = work.resolve("relayed").toString
    relayed.repartition(spark.sparkContext.defaultParallelism).write.parquet(staged)
    val sinkMs = (1 to reps).map { r =>
      val q = Trace.span("streaming.writePerTopicParquet", r) {
        val q = ChangeStreamRelay.writePerTopicParquet(
          spark.readStream.schema(relayed.schema).parquet(staged),
          work.resolve(s"sink$r/out").toString, work.resolve(s"sink$r/chk").toString,
          Trigger.AvailableNow()).start()
        q.awaitTermination()
        q
      }
      nonEmpty(q).map(dur(_, "addBatch")).sum
    }
    raw.unpersist(); env.unpersist()
    Map(
      "cdc.parse_ms_per_100k" -> parse,
      "cdc.relay_ms_per_100k" -> relay,
      "functions.ext_json_ms_per_100k" -> ext,
      "streaming.sink_write_ms_per_100k" -> Stats.median(sinkMs) * 1e5 / math.max(1L, rows))
  }

  final case class Sizes(setups: Int, setupEvents: Int, batchEvents: Int,
      warmBatches: Int, minBatches: Int, maxBatches: Int, backlogEvents: Int,
      backlogFiles: Int, segmentEvents: Int, minDrains: Int, maxDrains: Int,
      layerSample: Int, layerReps: Int)

  val Full = Sizes(setups = 5, setupEvents = 500, batchEvents = 500, warmBatches = 3,
    minBatches = 15, maxBatches = 400, backlogEvents = 45000, backlogFiles = 3,
    segmentEvents = 750, minDrains = 3, maxDrains = 20, layerSample = 100000, layerReps = 5)
  val Smoke = Sizes(setups = 2, setupEvents = 60, batchEvents = 60, warmBatches = 1,
    minBatches = 4, maxBatches = 4, backlogEvents = 3000, backlogFiles = 2,
    segmentEvents = 250, minDrains = 2, maxDrains = 2, layerSample = 2000, layerReps = 1)

  /** The relay's set-up, `sz.setups` times: a fresh query, with a fresh
    * checkpoint and sink, over a source directory that holds one file of
    * `sz.setupEvents` events, from `start` until that file's micro-batch
    * is committed.
    */
  private def setups(ctx: Ctx, sz: Sizes, trigger: => Trigger): Seq[Setup] = {
    val rng = new SplittableRandom(ctx.seed ^ 0x5e7face5L)
    val profiles = new Gen.Profiles(rng)
    (1 to sz.setups).map { i =>
      val d = ctx.work.resolve(s"setup$i")
      val src = d.resolve("src")
      Files.createDirectories(src)
      val w = Gen.writer(src.resolve("part-000.json"))
      try Gen.writeEvents(w, new Gen.Segment(rng.split(), profiles.next(), i.toLong * sz.setupEvents,
        1600000000L + i * 60), sz.setupEvents)
      finally w.close()
      var q: StreamingQuery = null
      val s = Trace.span("relay.setup", i) {
        try Setup.time {
          q = start(ctx.spark, src, d.resolve("out"), d.resolve("chk"), trigger)
          q.processAllAvailable()
        } finally if (q != null) q.stop()
      }
      Main.deleteTree(d)
      s
    }
  }

  /** Streaming-layer figures of a traced run, for its trace file and
    * context lines.
    */
  private def detail(ctx: Ctx, sz: Sizes, progress: Seq[StreamingQueryProgress], src: Path,
      dir: Path, extra: Map[String, Double]): Map[String, Double] =
    if (!ctx.trace) Map.empty
    else phaseMetrics(progress) ++ layerCalls(ctx.spark, src, dir.resolve("layer"),
      sz.layerSample, sz.layerReps) ++ extra

  def live(ctx: Ctx, sz: Sizes): Result = {
    val spark = ctx.spark
    val setupRuns = setups(ctx, sz, Trigger.ProcessingTime(0))
    val dir = ctx.work.resolve("live")
    val (stage, src, out, chk) =
      (dir.resolve("stage"), dir.resolve("src"), dir.resolve("out"), dir.resolve("chk"))
    Files.createDirectories(src)
    val rng = new SplittableRandom(ctx.seed)
    val profiles = new Gen.Profiles(rng)
    val expected = mutable.ArrayBuffer.empty[Gen.Fp]
    /** Stages batch i (untimed) and returns its file. */
    def stageBatch(i: Int): Path = {
      val f = stage.resolve(f"batch-$i%05d.json")
      val seg = new Gen.Segment(rng, profiles.next(), i.toLong * sz.batchEvents, 1700000000L + i * 60)
      val w = Gen.writer(f)
      try expected += Gen.writeEvents(w, seg, sz.batchEvents) finally w.close()
      f
    }
    /** One closed-loop operation: the batch file appears in the source
      * directory, and the call returns once its micro-batch is committed.
      */
    def move(f: Path): Unit = Files.move(f, src.resolve(f.getFileName), StandardCopyOption.ATOMIC_MOVE)
    val q = Trace.span("streaming.start", 0)(start(spark, src, out, chk, Trigger.ProcessingTime(0)))
    try {
      (0 until sz.warmBatches).foreach { i => move(stageBatch(i)); q.processAllAvailable() }
      val t0 = Clock.nanos()
      var i = sz.warmBatches
      while (i < sz.warmBatches + sz.maxBatches && (i - sz.warmBatches < sz.minBatches ||
          Clock.nanos() - t0 < ctx.seconds * 1e9)) {
        val f = stageBatch(i)
        ctx.meter("relay.batch", i) { move(f); q.processAllAvailable() }
        i += 1
      }
      q.stop()
      val timed = i - sz.warmBatches
      val progress = nonEmpty(q)
      // every operation must be exactly one micro-batch: batch k read
      // file k, which the per-batch sink fingerprints below confirm
      val oneFileEach = progress.size == i
      val batchIds = progress.map(_.batchId)
      val got = Trace.span("check.sink", 0)(sinkFingerprints(spark, out))
      val failedOps = batchIds.zip(expected).count { case (b, fp) => !got.get(b).contains((fp, 0L)) }
      val unknown = got.keySet -- batchIds
      if (!oneFileEach || unknown.nonEmpty)
        ctx.note(s"relay_live: batches do not map one to one onto files: ${progress.size} " +
          s"non-empty batches for $i files, sink batch ids without a file ${unknown.mkString(",")}")
      ctx.note(s"relay_live: $timed timed batches of ${sz.batchEvents} events after " +
        s"${sz.warmBatches} warm-up batches, one source file per batch")
      // wall-clock figures follow the host's steal beyond any bound a
      // regression check can use: context only
      val lat = ctx.meter.ops.map(_.wallMs).toSeq
      ctx.note(f"relay_live: batch latency p50 ${Stats.median(lat)}%.1f ms, " +
        f"${timed.toLong * sz.batchEvents / (lat.sum / 1e3)}%.1f events/s over the timed batches")
      Result(
        correct = oneFileEach && unknown.isEmpty,
        attempted = i, failed = failedOps, setups = setupRuns,
        detail = detail(ctx, sz, progress.drop(sz.warmBatches), src, dir, Map(
          "streaming.batches_per_op" -> progress.size.toDouble / i,
          "streaming.sink_files_per_batch" -> parquetFiles(out).size.toDouble / progress.size,
          "cdc.relayed_share" -> got.values.map(_._1.rows).sum.toDouble / (i.toLong * sz.batchEvents))))
    } finally if (q.isActive) q.stop()
  }

  def backlog(ctx: Ctx, sz: Sizes): Result = {
    val spark = ctx.spark
    val dir = ctx.work.resolve("backlog")
    val rng = new SplittableRandom(ctx.seed)
    val profiles = new Gen.Profiles(rng)
    /** A backlog of `events` in `files` files, segment by segment. Each
      * segment's profile and random stream are drawn in order from the
      * seed; the segments are then rendered in parallel and written in
      * that order.
      */
    def writeBacklog(src: Path, events: Int, files: Int): Gen.Fp = {
      val perFile = events / files
      val segs = math.max(1, perFile / sz.segmentEvents)
      val plan = for (f <- 0 until files; s <- 0 until segs) yield {
        val n = if (s < segs - 1) sz.segmentEvents else perFile - s * sz.segmentEvents
        new Gen.Segment(rng.split(), profiles.next(), (f.toLong * segs + s) * sz.segmentEvents,
          1700000000L + s * 600) -> n
      }
      val rendered = new Array[(String, Gen.Fp)](plan.size)
      java.util.stream.IntStream.range(0, plan.size).parallel().forEach { i =>
        val w = new java.io.StringWriter
        val fp = Gen.writeEvents(w, plan(i)._1, plan(i)._2)
        rendered(i) = w.toString -> fp
      }
      rendered.grouped(segs).zipWithIndex.foreach { case (part, f) =>
        val w = Gen.writer(src.resolve(f"part-$f%03d.json"))
        try part.foreach(r => w.write(r._1)) finally w.close()
      }
      rendered.map(_._2).reduce(_ + _)
    }
    val src = dir.resolve("src")
    Files.createDirectories(src)
    val events = sz.backlogEvents / sz.backlogFiles * sz.backlogFiles
    val expected = Trace.span("gen.backlog", 0)(writeBacklog(src, events, sz.backlogFiles))
    val setupRuns = setups(ctx, sz, Trigger.AvailableNow())

    final case class Drain(rawFp: Seq[Long], ok: Boolean,
        progress: Seq[StreamingQueryProgress], files: Int)
    /** One timed drain on a fresh sink and checkpoint. The first drain's
      * rows are checked one by one against the generator's expectation;
      * every later drain must then write the same multiset of raw rows.
      */
    def drain(d: Int, reference: Option[Drain]): Drain = {
      val (out, chk) = (dir.resolve(s"out$d"), dir.resolve(s"chk$d"))
      val q = ctx.meter("relay.drain", d) {
        val q = start(spark, src, out, chk, Trigger.AvailableNow())
        q.awaitTermination()
        q
      }
      val raw = Trace.span("check.raw", d)(rawFingerprint(spark, out))
      val ok = reference match {
        case Some(r) => r.ok && raw == r.rawFp
        case None =>
          val got = Trace.span("check.sink", d)(sinkFingerprints(spark, out)).values
          got.map(_._2).sum == 0 && got.map(_._1).foldLeft(Gen.Fp.zero)(_ + _) == expected
      }
      val r = Drain(raw, ok, nonEmpty(q), parquetFiles(out).size)
      Main.deleteTree(out); Main.deleteTree(chk)
      r
    }
    val drains = mutable.ArrayBuffer.empty[Drain]
    val m0 = Clock.nanos()
    while (drains.size < sz.maxDrains &&
        (drains.size < sz.minDrains || Clock.nanos() - m0 < ctx.seconds * 1e9))
      drains += drain(drains.size + 1, drains.headOption)
    ctx.note(s"relay_backlog: ${drains.size} drains of $events events in ${sz.backlogFiles} files " +
      s"(${sz.segmentEvents}-event segments), fresh sink and checkpoint per drain")
    // wall-clock, so context only, as on relay_live
    ctx.note(f"relay_backlog: ${events / (ctx.meter.wallMs / 1e3)}%.0f events/s, median over drains")
    val progress = drains.flatMap(_.progress).toSeq
    Result(
      correct = true,
      attempted = drains.size, failed = drains.count(!_.ok), setups = setupRuns,
      detail = detail(ctx, sz, progress, src, dir, Map(
        "streaming.batches_per_op" -> progress.size.toDouble / drains.size,
        "streaming.sink_files_per_batch" -> drains.map(_.files).sum.toDouble / progress.size,
        "cdc.relayed_share" -> Stats.median(drains.map(_.rawFp.head.toDouble / events).toSeq))))
  }
}
