package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.{ChangeStreamRelay, StatefulOps}

/** Relay throughput bench — the reference's native metric (it is a CDC
  * relay; the comparable number is events/second through the full
  * source → envelope → topic/key/value → keyed-sink path, which the
  * reference processes on ONE goroutine, main.go:103-155).
  *
  * Synthesizes change-event JSON from the events fixture, runs the
  * streaming relay end-to-end (AvailableNow, checkpointed, per-topic
  * parquet sink), prints one JSON line with events/s.
  */
object RelayBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val src = Files.createTempDirectory("relaybench_src").toString
    val out = Files.createTempDirectory("relaybench_out").toString
    val chk = Files.createTempDirectory("relaybench_chk").toString

    // synthesize the change-stream wire format from the events fixture
    // (same mapping as SparkEntry.entry; error → invalidate dead-letters)
    import graft.functions.ExtJson.ext_json_canonical
    val events = Tables.table(spark, sfDir, "events")
    val n = events.count()
    events.select(to_json(struct(
        col("event_id").cast("string").as("_id"),
        when(col("event_type") === "signup", "insert")
          .when(col("event_type") === "purchase", "update")
          .when(col("event_type") === "click", "replace")
          .when(col("event_type") === "view", "update")
          .otherwise("invalidate").as("operationType"),
        ext_json_canonical(col("ts")).as("clusterTime"),
        struct(lit("app").as("db"), col("event_type").as("coll")).as("ns"),
        ext_json_canonical(struct(col("user_id").as("_id"))).as("documentKey"),
        ext_json_canonical(struct(
          col("event_id"), col("user_id"), col("value"), col("props"))).as("fullDocument")))
        .as("value"))
      .write.mode("overwrite").text(src)

    val t0 = System.nanoTime()
    ChangeStreamRelay.run(spark, src, out, chk).awaitTermination()
    val sec = (System.nanoTime() - t0) / 1e9
    val relayed = spark.read.parquet(out).count()
    println(s"""{"metric":"relay_events_per_sec","value":${(n / sec).round},"unit":"events/s","events":$n,"relayed":$relayed,"sec":$sec,"sf":"$sfDir"}""")

    // SCALE-OUT sweep: the same stateless leg with the SOURCE written as
    // exactly P files — the local stand-in for "P change-stream
    // partitions across executors" (a file split is the relay's unit of
    // parallelism, like a Kafka/Mongo shard would be on a cluster).
    // Substantiates (or corrects) BASELINE.md's linear-scaling claim
    // with measured rows instead of an assertion.
    val sweep = sys.env.getOrElse("SPARK_GRAFT_RELAY_PARTS", "1,2,4,8,16")
      .split(",").map(_.trim.toInt).filter(_ > 0)
    // 10× the headline volume: at 100 k events a run bottoms out on the
    // ~0.7 s fixed micro-batch cost (query start, checkpoint commit) and
    // every partition count measures the same floor — the sweep must be
    // big enough that PER-EVENT work dominates or it measures overhead
    val replicas = sys.env.getOrElse("SPARK_GRAFT_RELAY_REPLICAS", "10").toInt
    val synth = spark.read.text(src) // reuse the synthesized wire format
    val big = Range(0, replicas).map(_ => synth).reduce(_ union _)
    val nBig = n * replicas
    // one file == one task — BOTH defaults fight this: split size =
    // min(maxPartitionBytes, max(openCost, totalBytes/minPartitionNum)),
    // so the stock minPartitionNum (= cores = 32) byte-splits even ONE
    // file 32 ways and flattens the curve from above, while pinning
    // minPartitionNum=1 makes the split size the whole input and the
    // bin-packer then packs ALL files into one partition, flattening it
    // from below (both observed). minPartitionNum = p sizes the split to
    // exactly one equal-sized file
    spark.conf.set("spark.sql.files.maxPartitionBytes", "4g")
    sweep.foreach { p =>
      val srcP = Files.createTempDirectory(s"relaybench_src_$p").toString
      val outP = Files.createTempDirectory(s"relaybench_out_$p").toString
      val chkP = Files.createTempDirectory(s"relaybench_chk_$p").toString
      spark.conf.set("spark.sql.files.minPartitionNum", p.toString)
      big.repartition(p).write.mode("overwrite").text(srcP)
      val tp = System.nanoTime()
      ChangeStreamRelay.run(spark, srcP, outP, chkP).awaitTermination()
      val secP = (System.nanoTime() - tp) / 1e9
      println(s"""{"metric":"relay_scaleout","partitions":$p,"value":${(nBig / secP).round},"unit":"events/s","events":$nBig,"sec":$secP,"sf":"$sfDir"}""")
      Seq(srcP, outP, chkP).foreach(d =>
        graft.operators.Artifacts.deleteRecursively(java.nio.file.Paths.get(d)))
    }
    // the stateful leg below must run on stock split planning
    spark.conf.unset("spark.sql.files.maxPartitionBytes")
    spark.conf.unset("spark.sql.files.minPartitionNum")

    // STATEFUL leg: the same source through the flatMapGroupsWithState
    // latest-state materialization (one shuffle on documentKey, RocksDB
    // state store — the spill-to-disk provider a 100 TB keyset needs),
    // checkpointed parquet sink per epoch. This measures the stateful
    // path the stateless relay number cannot: keyed exchange + per-key
    // state fold + state-store commit.
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val outS = Files.createTempDirectory("relaybench_state_out").toString
    val chkS = Files.createTempDirectory("relaybench_state_chk").toString
    val t1 = System.nanoTime()
    val qs = StatefulOps
      .latestState(ChangeStreamRelay.readChangeStream(spark, src)).toDF()
      .writeStream.outputMode("update")
      .option("checkpointLocation", chkS)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.write.mode("overwrite").parquet(s"$outS/batch=$batchId")
      }.start()
    qs.awaitTermination()
    val secS = (System.nanoTime() - t1) / 1e9
    val states = spark.read.parquet(outS).count()
    println(s"""{"metric":"relay_stateful_events_per_sec","value":${(n / secS).round},"unit":"events/s","events":$n,"state_updates":$states,"sec":$secS,"sf":"$sfDir"}""")
    spark.stop()
    // bounded scratch: checkpoint dirs carry RocksDB state and would
    // otherwise accumulate per bench run
    Seq(src, out, chk, outS, chkS).foreach(d =>
      graft.operators.Artifacts.deleteRecursively(java.nio.file.Paths.get(d)))
  }
}
