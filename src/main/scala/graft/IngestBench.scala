package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.queries.VectorQueries
import graft.streaming.{ContaminationGuard, DriftMonitor, IngestPipeline,
  VectorServe}
import graft.text.{QualityModel, TextFunctions}

/** Throughput measurement for the round-10 streaming surface, on its
  * two online paths:
  *
  *  1. '''Ingest''': documents/second through the FULL curation DAG
  *     ([[IngestPipeline]]: quality scoring → eval decontamination →
  *     RocksDB first-seen dedup → reason-labeled verdicts), file
  *     source → checkpointed parquet sink, `Trigger.AvailableNow`.
  *     The standing index is a planted slice of the corpus itself, so
  *     the run exercises every dead-letter branch (reported per
  *     reason).
  *  2. '''Serving''': probes/second through [[VectorServe.serve]]
  *     against the standing fixture IVF index — literal-centroid
  *     routing, stream-static candidate join on the partitioned
  *     layout, bounded top-k aggregation, update mode.
  *
  * One JSON line per leg (the BASELINE.md convention): measured
  * events/s including streaming-engine startup, never asserted.
  */
object IngestBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkEntry.localSession("spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import spark.implicits._

    // ---- leg 1: ingest pipeline docs/s --------------------------------
    val docs = Tables.table(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
    val n = docs.count()

    // eval suite = a planted 200-doc slice → the contamination branch
    // fires on real data; model = the batch NB fit (what OnlineTrainer
    // maintains incrementally in production)
    val standing = ContaminationGuard.standingIndex(
      docs.orderBy("doc_id").limit(200))
    val labeled = docs
      .select(col("doc_id"), TextFunctions.tokens(col("text")).as("toks"))
      .withColumn("label", QualityModel.weakLabel(col("toks")))
      .withColumn("ftoks", QualityModel.featureTokens(col("toks")))
    val model = QualityModel.fit(labeled, "ftoks", "label", d = 128)

    val src = Files.createTempDirectory("ingestbench_src").toString
    val out = Files.createTempDirectory("ingestbench_out").toString
    val chk = Files.createTempDirectory("ingestbench_chk").toString
    // replicate the corpus with offset ids so PER-DOC work dominates the
    // ~1 s fixed micro-batch floor (BASELINE.md's relay scale-out); the
    // replicas' identical text makes every copy beyond the first a
    // DUPLICATE — the re-crawl pattern, driving the dedup branch at
    // realistic volume
    val replicas = sys.env.getOrElse("SPARK_GRAFT_INGEST_REPLICAS", "10").toInt
    val ReplicaOffset = 10000000L
    // fail fast on id aliasing (the twin-builder guard discipline): a
    // fixture whose ids reach the offset would silently merge replicas
    val maxId = docs.agg(max("doc_id")).head().getLong(0)
    require(maxId >= 0 && maxId < ReplicaOffset,
      s"doc_id range [0, $maxId] must sit below the replica offset $ReplicaOffset")
    val big = Range(0, replicas).map(i =>
        docs.select((col("doc_id") + lit(i * ReplicaOffset)).as("doc_id"),
          col("text")))
      .reduce(_ unionByName _)
    val nBig = n * replicas
    big.write.mode("overwrite").parquet(src)

    val t0 = System.nanoTime()
    val q = IngestPipeline.curate(
        spark.readStream.schema(big.schema).parquet(src), model, standing)
      .writeStream
      .option("checkpointLocation", chk)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.write.mode("overwrite").parquet(s"$out/batch=$batchId")
      }.start()
    q.awaitTermination()
    val sec = (System.nanoTime() - t0) / 1e9
    val verdicts = spark.read.parquet(out)
    val byReason = verdicts
      .groupBy(coalesce(col("reason"), lit("admitted")).as("reason"))
      .count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val reasonJson = byReason.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k":$v""" }.mkString(",")
    println(s"""{"metric":"ingest_docs_per_sec","value":${(nBig / sec).round},"unit":"docs/s","docs":$nBig,"sec":$sec,"verdicts":{$reasonJson},"sf":"$sfDir"}""")

    // ---- leg 2: ANN serving probes/s ----------------------------------
    val ix = VectorQueries.SharedIvfIndex(spark, sfDir)
    val corpus = spark.read.parquet(ix.path)
    val probes = Tables.table(spark, sfDir, "embeddings")
      .orderBy("vec_id")
      .limit(sys.env.getOrElse("SPARK_GRAFT_SERVE_PROBES", "2048").toInt)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val nProbes = probes.count()
    val psrc = Files.createTempDirectory("servebench_src").toString
    val pout = Files.createTempDirectory("servebench_out").toString
    val pchk = Files.createTempDirectory("servebench_chk").toString
    probes.write.mode("overwrite").parquet(psrc)

    val t1 = System.nanoTime()
    val qs = VectorServe.serve(
        spark.readStream.schema(probes.schema).parquet(psrc),
        "query_id", "qvec", ix.centroids, corpus, "vec_id", "embedding",
        k = 10, nprobe = 2)
      .writeStream.outputMode("update")
      .option("checkpointLocation", pchk)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.write.mode("overwrite").parquet(s"$pout/batch=$batchId")
      }.start()
    qs.awaitTermination()
    val secP = (System.nanoTime() - t1) / 1e9
    val answered = spark.read.parquet(pout)
      .select("query_id").distinct().count()
    println(s"""{"metric":"vecserve_probes_per_sec","value":${(nProbes / secP).round},"unit":"probes/s","probes":$nProbes,"answered":$answered,"k":10,"nprobe":2,"sec":$secP,"sf":"$sfDir"}""")

    // ---- leg 3: drift monitor docs/s ----------------------------------
    // the replicated corpus with synthetic event time spanning ~10
    // one-hour windows; reference histogram = the fixture's own
    // distribution (the matched-replay regime — the monitor's steady
    // state, where per-doc work is the honest cost)
    val ref = DriftMonitor.referenceHistogram(
      Tables.table(spark, sfDir, "documents"))
    val dsrc = Files.createTempDirectory("driftbench_src").toString
    val dout = Files.createTempDirectory("driftbench_out").toString
    val dchk = Files.createTempDirectory("driftbench_chk").toString
    val bigD = Range(0, replicas).map(i =>
        Tables.table(spark, sfDir, "documents")
          .select((col("doc_id") + lit(i * ReplicaOffset)).as("doc_id"),
            col("n_chars")))
      .reduce(_ unionByName _)
      .withColumn("ts",
        timestamp_seconds(lit(1700000000L) + pmod(col("doc_id"), lit(36000L))))
      .select("ts", "n_chars")
      // one far-future sentinel advances the watermark past the LAST real
      // window's close (watermark stops at max event time, so without it
      // the 10th window never emits — the DriftMonitorSpec flush move)
      .unionByName(spark.range(1).select(
        timestamp_seconds(lit(1700200000L)).as("ts"), lit(0L).as("n_chars")))
    bigD.write.mode("overwrite").parquet(dsrc)

    val t2 = System.nanoTime()
    val qd = DriftMonitor.psiPerWindow(
        spark.readStream.schema(bigD.schema).parquet(dsrc), ref,
        windowDuration = "1 hour", watermarkDelay = "0 seconds")
      .writeStream
      .option("checkpointLocation", dchk)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.write.mode("overwrite").parquet(s"$dout/batch=$batchId")
      }.start()
    qd.awaitTermination()
    val secD = (System.nanoTime() - t2) / 1e9
    val windows = spark.read.parquet(dout).count()
    println(s"""{"metric":"drift_docs_per_sec","value":${(nBig / secD).round},"unit":"docs/s","docs":$nBig,"windows":$windows,"sec":$secD,"sf":"$sfDir"}""")

    // ---- leg 4: forget guard events/s ---------------------------------
    // the event feed with ~1% tombstones planted by event-id md5 bucket
    // (requests scattered through the stream, the live-relay shape);
    // replicas offset user ids, so state stays per-replica-user
    val fsrc = Files.createTempDirectory("forgetbench_src").toString
    val fout = Files.createTempDirectory("forgetbench_out").toString
    val fchk = Files.createTempDirectory("forgetbench_chk").toString
    val ev = Tables.table(spark, sfDir, "events")
    val nEv = ev.count() * replicas
    // same id-aliasing guard as leg 1: a fixture whose user ids reach the
    // offset would silently merge replica users (and their tombstones)
    val maxUid = ev.agg(max("user_id")).head().getLong(0)
    require(maxUid >= 0 && maxUid < ReplicaOffset,
      s"user_id range [0, $maxUid] must sit below the replica offset $ReplicaOffset")
    val bigE = Range(0, replicas).map(i =>
        ev.select((col("user_id") + lit(i * ReplicaOffset)).as("user_id"),
          col("event_id").as("seq"),
          (graft.functions.Hashing.md5Bucket(col("event_id").cast("string"))
            < 10000L).as("tombstone")))
      .reduce(_ unionByName _)
    bigE.write.mode("overwrite").parquet(fsrc)

    val t3 = System.nanoTime()
    val qf = graft.streaming.ForgetFilter.guard(
        spark.readStream.schema(bigE.schema).parquet(fsrc)
          .as[graft.streaming.ForgetFilter.Ev])
      .toDF().writeStream
      .option("checkpointLocation", fchk)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.write.mode("overwrite").parquet(s"$fout/batch=$batchId")
      }.start()
    qf.awaitTermination()
    val secF = (System.nanoTime() - t3) / 1e9
    val ledger = spark.read.parquet(fout)
    val purged = ledger.filter(!col("admitted") && !col("tombstone")).count()
    val acks = ledger.filter(col("tombstone")).count()
    println(s"""{"metric":"forget_events_per_sec","value":${(nEv / secF).round},"unit":"events/s","events":$nEv,"purged":$purged,"tombstones":$acks,"sec":$secF,"sf":"$sfDir"}""")

    // ---- leg 5: windowed DP release events/s ---------------------------
    // the replicated event feed through DpRelease (hourly windows per
    // type) — the telemetry-release path; same watermark sentinel move
    // as leg 3 so every real window closes and releases
    val rsrc = Files.createTempDirectory("dpbench_src").toString
    val rout = Files.createTempDirectory("dpbench_out").toString
    val rchk = Files.createTempDirectory("dpbench_chk").toString
    val bigR = Range(0, replicas).map(_ =>
        ev.select(col("ts"), col("event_type").as("key")))
      .reduce(_ unionByName _)
      .unionByName(spark.range(1).select(
        timestamp_seconds(lit(1900000000L)).as("ts"), lit("_flush").as("key")))
    bigR.write.mode("overwrite").parquet(rsrc)

    val t4 = System.nanoTime()
    val qr = graft.streaming.DpRelease.noisyCountsPerWindow(
        spark.readStream.schema(bigR.schema).parquet(rsrc),
        eps = 0.5, windowDuration = "1 hour", watermarkDelay = "0 seconds")
      .writeStream
      .option("checkpointLocation", rchk)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.write.mode("overwrite").parquet(s"$rout/batch=$batchId")
      }.start()
    qr.awaitTermination()
    val secR = (System.nanoTime() - t4) / 1e9
    val releases = spark.read.parquet(rout)
      .filter(col("key") =!= "_flush").count()
    println(s"""{"metric":"dprelease_events_per_sec","value":${(nEv / secR).round},"unit":"events/s","events":$nEv,"releases":$releases,"sec":$secR,"sf":"$sfDir"}""")

    // ---- leg 6: windowed ℓ-diversity gate events/s ---------------------
    // the same replicated feed through DiversityGate (hourly windows,
    // event_type as the sensitive attribute, l = 3) — the release-gate
    // path; state per open window is one bounded type-count map
    val gout = Files.createTempDirectory("gatebench_out").toString
    val gchk = Files.createTempDirectory("gatebench_chk").toString
    val t5 = System.nanoTime()
    val qg = graft.streaming.DiversityGate.releasePerWindow(
        spark.readStream.schema(bigR.schema).parquet(rsrc)
          .select(col("ts"), col("key").as("event_type")),
        l = 3, windowDuration = "1 hour", watermarkDelay = "0 seconds")
      .writeStream
      .option("checkpointLocation", gchk)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.write.mode("overwrite").parquet(s"$gout/batch=$batchId")
      }.start()
    qg.awaitTermination()
    val secG = (System.nanoTime() - t5) / 1e9
    val gateRows = spark.read.parquet(gout)
      .filter(col("event_type") =!= "_flush")
    val gReleased = gateRows.filter(col("l_div") > 0).count()
    val gSuppressed = gateRows.filter(col("l_div") === 0).count()
    println(s"""{"metric":"divgate_events_per_sec","value":${(nEv / secG).round},"unit":"events/s","events":$nEv,"released_rows":$gReleased,"suppressed_windows":$gSuppressed,"sec":$secG,"sf":"$sfDir"}""")

    // ---- leg 7: windowed k-anonymity gate events/s ---------------------
    // the same replicated feed through KAnonGate (hourly windows,
    // event_type as the QI cell, the shared k = 5 bar) — the suppression
    // -release path; same bounded per-window map state as leg 6
    val kout = Files.createTempDirectory("kanonbench_out").toString
    val kchk = Files.createTempDirectory("kanonbench_chk").toString
    val t6 = System.nanoTime()
    val qk = graft.streaming.KAnonGate.releasePerWindow(
        spark.readStream.schema(bigR.schema).parquet(rsrc)
          .select(col("ts"), col("key").as("cell")),
        k = graft.streaming.KAnonGate.DefaultK,
        windowDuration = "1 hour", watermarkDelay = "0 seconds")
      .writeStream
      .option("checkpointLocation", kchk)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.write.mode("overwrite").parquet(s"$kout/batch=$batchId")
      }.start()
    qk.awaitTermination()
    val secK = (System.nanoTime() - t6) / 1e9
    val kRows = spark.read.parquet(kout).filter(col("cell") =!= "_flush")
    val kReleased = kRows.filter(col("cell") =!= "__suppressed__").count()
    val kRolled = kRows.filter(col("cell") === "__suppressed__" && col("n") > 0)
      .count()
    println(s"""{"metric":"kanongate_events_per_sec","value":${(nEv / secK).round},"unit":"events/s","events":$nEv,"released_cells":$kReleased,"suppressed_windows":$kRolled,"sec":$secK,"sf":"$sfDir"}""")

    spark.stop()
    Seq(src, out, chk, psrc, pout, pchk, dsrc, dout, dchk, fsrc, fout, fchk,
        rsrc, rout, rchk, gout, gchk, kout, kchk)
      .foreach(d =>
        graft.operators.Artifacts.deleteRecursively(java.nio.file.Paths.get(d)))
  }
}
