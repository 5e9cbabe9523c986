package graft

import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import org.apache.spark.TaskContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Kmv

/** Measurement main: TASK-RETRY determinism — the operational property
  * behind the r17 theta/KMV re-oracling, proved by fault injection
  * rather than argument.
  *
  * At 1000 executors, task retries and speculative re-execution are
  * routine; an operator whose output depends on partition evaluation
  * order (or on which attempt of a task wins) silently breaks
  * exactly-once pipelines and cache/recompute consistency. This probe
  * runs representative engine primitives on the real `events` fixture
  * under `local[8, 3]` (task retries enabled — the one Spark conf the
  * shared-session test suites cannot set), injects a deterministic
  * one-shot task failure into each leg at TWO positions — the scan
  * stage (retry re-reads parquet) and a shuffle-read stage (retry
  * re-fetches shuffle blocks) — verifies via a listener that a task
  * genuinely failed and was re-run, and asserts the result is
  * IDENTICAL to the clean un-repartitioned run, row for row.
  *
  * Legs: hash aggregation (sum/count), theta/KMV distinct sketch (the
  * full array, not just the estimate), bottom-m quantile sample,
  * global sort + window rank, and a shuffle join — the shapes every
  * declared query composes. Output: one JSON line per leg + a summary;
  * the datum is recorded in BASELINE.md §Round-17.
  */
object RetryProbe {
  /** Armed per leg; the first matching task trips it exactly once. */
  private val armed = new AtomicBoolean(false)
  private val failsSeen = new AtomicInteger(0)

  /** Pass-through that throws once (partition 0, first attempt) when
    * armed — local-mode tasks share this JVM, so the CAS is visible.
    */
  private def failOnce[T](it: Iterator[T]): Iterator[T] = {
    val tc = TaskContext.get()
    if (tc != null && tc.partitionId() == 0 && tc.attemptNumber() == 0 &&
        armed.compareAndSet(true, false))
      throw new RuntimeException("RetryProbe: injected task failure")
    it
  }

  // NOTE on speculative execution: the concurrent-duplicate-attempt
  // race (spark.speculation) CANNOT be probed here — TaskSchedulerImpl
  // only starts its speculation scheduler when `!isLocal`, so the path
  // is structurally unreachable in local mode (verified empirically: a
  // 3 s stalled task with interval=100ms/quantile=0.5 never got a
  // speculative duplicate). The failure-retry legs below cover
  // attempt-level determinism; for racing duplicates Spark's commit
  // protocol guarantees a single winner, and every shape probed here
  // is a deterministic function of its input partition, so either
  // attempt commits the same bytes. Environmental limitation, same
  // class as the connector jars.

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = SparkEntry.localSession(
      "spark.master" -> "local[8, 3]", // 3 attempts per task: injected failure retries
      "spark.sql.shuffle.partitions" -> "8")
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (t.reason != org.apache.spark.Success) failsSeen.incrementAndGet()
    })
    import spark.implicits._

    // the fixture's events as a typed dataset so the injector can sit
    // between the scan and every downstream plan under test
    val base = Tables.table(spark, sfDir, "events")
      .select(col("event_type"), col("user_id"), col("value"),
        col("event_id"))
      .as[(String, Long, Double, Long)]

    // injection in the SCAN stage: the retried task re-reads parquet
    def injected = base.mapPartitions(it => failOnce(it))
      .toDF("event_type", "user_id", "value", "event_id")
    // injection in a SHUFFLE-READ stage: the retried task re-fetches
    // its shuffle blocks — the reduce-side failure path
    def injectedPostShuffle = base.repartition(8)
      .mapPartitions(it => failOnce(it))
      .toDF("event_type", "user_id", "value", "event_id")

    val kmv = Kmv.sketchUdaf()
    val smp = Kmv.sampleUdaf(1000)

    // double sums are quantized to integer micro-units before
    // aggregating: a LONG sum is associative, so bit-identity holds
    // under ANY merge order, which is exactly the property under test —
    // a raw double sum could differ in the last ULP across partitionings
    // (the rel_q7/q8 oracle-parity move, applied to the probe itself)
    def qsum(c: org.apache.spark.sql.Column) =
      sum((c * 1000000).cast("long"))

    val legs: Seq[(String, DataFrame => DataFrame)] = Seq(
      "hash_agg" -> ((df: DataFrame) => df.groupBy("event_type")
        .agg(count(lit(1)).as("n"), qsum(col("value")).as("s"))
        .orderBy("event_type")),
      "kmv_sketch" -> ((df: DataFrame) => df
        .select(col("event_type"), Kmv.hash64(col("user_id")).as("h"))
        .groupBy("event_type").agg(kmv(col("h")).as("sk"))
        .select(col("event_type"), col("sk"), Kmv.estimate(col("sk")).as("est"))
        .orderBy("event_type")),
      "kmv_sample" -> ((df: DataFrame) => df
        .select(col("event_type"), Kmv.hash64(col("event_id")).as("h"),
          col("value").as("v"))
        .groupBy("event_type").agg(smp(col("h"), col("v")).as("s"))
        .select(col("event_type"),
          array_sort(transform(col("s"), x => x.getField("v"))).as("vs"))
        .orderBy("event_type")),
      "sort_window" -> ((df: DataFrame) => df
        .withColumn("rk", row_number().over(
          Window.partitionBy("event_type").orderBy(col("value"), col("event_id"))))
        .filter(col("rk") <= 100).select("event_type", "rk", "event_id")
        .orderBy("event_type", "rk")),
      "shuffle_join" -> ((df: DataFrame) => {
        val l = df.select(col("user_id"), col("value"))
        val r = df.groupBy("user_id").agg(count(lit(1)).as("n"))
        l.join(r, "user_id").groupBy()
          .agg(count(lit(1)).as("rows"),
            qsum(col("value") * col("n")).as("s"))
      }))

    var allOk = true
    var nLegs = 0
    for ((name, shape) <- legs) {
      // one baseline per leg (mode-independent): the UN-repartitioned
      // clean plan — identity across the faulted runs then asserts
      // partition invariance AND retry determinism at once
      val clean = shape(base.toDF("event_type", "user_id", "value", "event_id"))
        .collect().map(_.toString).toSeq
      for ((mode, faultySrc) <- Seq("scan" -> (() => injected),
           "post_shuffle" -> (() => injectedPostShuffle))) {
        failsSeen.set(0)
        armed.set(true)
        val t0 = System.nanoTime()
        val faulted = shape(faultySrc()).collect().map(_.toString).toSeq
        val sec = (System.nanoTime() - t0) / 1e9
        val tripped = !armed.get()
        // listener bus delivery is async: give the TaskEnd(failed)
        // event a bounded window to land before reading the counter
        val deadline = System.nanoTime() + 5e9.toLong
        while (failsSeen.get() < 1 && System.nanoTime() < deadline)
          Thread.sleep(20)
        val retried = failsSeen.get() >= 1
        val identical = clean == faulted
        allOk &= tripped && retried && identical
        nLegs += 1
        println(f"""{"leg":"$name","mode":"$mode","injected":$tripped,"task_failures":${failsSeen.get()},"identical":$identical,"rows":${clean.size},"sec":$sec%.2f}""")
      }
    }
    println(s"""{"metric":"retry_determinism","legs":$nLegs,"all_identical":$allOk,"sf":"$sfDir"}""")
    spark.stop()
    if (!allOk) sys.exit(1)
  }
}
