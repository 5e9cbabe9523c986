package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

/** Loader guards: the events NTZ→TIMESTAMP cast is only value-exact
  * under a UTC session, so a mis-pinned session must fail loudly
  * (ADVICE r7) instead of silently shifting every timestamp. The schema
  * comes from a footer read on the driver: it must equal Spark's
  * inferred one, and a load must run no Spark job.
  */
class TablesSpec extends SparkSpec {

  test("events load under a non-UTC session fails loudly on NTZ fixtures") {
    // synthesize an NTZ-typed events fixture: the same parquet
    // TIMESTAMP(MICROS, isAdjustedToUTC=false) type the shipped sf dirs
    // carry, written here so the test owns its input
    val dir = "/tmp/graft_ntz_fixture"
    spark.range(3)
      .selectExpr("id AS event_id", "timestamp_ntz'2024-01-01 00:00:00' AS ts")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val prev = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "America/New_York")
      val e = intercept[IllegalArgumentException] {
        Tables.table(spark, dir, "events")
      }
      assert(e.getMessage.contains("UTC"))
      // and the same load under UTC succeeds
      spark.conf.set("spark.sql.session.timeZone", "UTC")
      assert(Tables.table(spark, dir, "events").count() === 3)
    } finally spark.conf.set("spark.sql.session.timeZone", prev)
    // a load changes none of the caller's session settings (it used to
    // switch spark.sql.legacy.parquet.nanosAsLong on for every later read)
    val fresh = spark.newSession()
    fresh.conf.set("spark.sql.session.timeZone", "UTC")
    val before = fresh.conf.getAll
    assert(Tables.table(fresh, dir, "events").count() === 3)
    assert(fresh.conf.getAll === before)
  }

  test("footer schema equals the inferred schema; a missing table fails naming its path") {
    // the inferred schema with the loader's events.ts re-tag applied
    def inferred(dir: String, name: String) = {
      val df = spark.read.parquet(s"$dir/$name.parquet")
      if (name == "events" && df.schema("ts").dataType == TimestampNTZType)
        df.withColumn("ts", col("ts").cast(TimestampType)).schema
      else df.schema
    }
    // a directory of part files, with the writer's _SUCCESS and .crc
    // siblings next to them
    val ntzDir = "/tmp/graft_ntz_fixture_schema"
    spark.range(3)
      .selectExpr("id AS event_id", "timestamp_ntz'2024-01-01 00:00:00' AS ts")
      .repartition(2)
      .write.mode("overwrite").parquet(s"$ntzDir/events.parquet")
    // every fixture scale, beside the suite's own sf dir
    val fixtures = new java.io.File(sfDir).getParent
    val cases = Seq("sf0.001", "sf0.01", "sf0.1")
      .flatMap(sf => Tables.all.map(t => (s"$fixtures/$sf", t))) :+ (ntzDir -> "events")
    for ((dir, name) <- cases)
      assert(Tables.table(spark, dir, name).schema === inferred(dir, name), s"$dir/$name")
    assert(Tables.table(spark, ntzDir, "events").count() === 3)

    // a missing table throws an error that names its path: no empty
    // frame, no NullPointerException
    val e = intercept[Exception] {
      Tables.table(spark, sfDir, "no_such_table")
    }
    assert(!e.isInstanceOf[NullPointerException], e)
    assert(e.getMessage.contains(s"$sfDir/no_such_table.parquet"), e.getMessage)
  }

  test("loading a table runs no Spark job") {
    // job-start groups in delivery order; a sentinel job's end proves the
    // bus has delivered every event posted before it
    val starts = ArrayBuffer.empty[String]
    val ended = new java.util.concurrent.ConcurrentHashMap[String, CountDownLatch]()
    val groups = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse("")
        groups.put(e.jobId, g)
        starts.synchronized(starts += g)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(groups.get(e.jobId)).flatMap(g => Option(ended.get(g))).foreach(_.countDown())
    }
    val sc = spark.sparkContext
    def sentinel(group: String): Unit = {
      val latch = new CountDownLatch(1)
      ended.put(group, latch)
      sc.setJobGroup(group, group)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.clearJobGroup()
      assert(latch.await(60, TimeUnit.SECONDS), s"no job end seen for $group")
    }
    sc.addSparkListener(listener)
    try {
      // jobs of earlier tests still on the bus land before this sentinel
      sentinel("tables-before")
      val seen = starts.synchronized(starts.size)
      Tables.table(spark, sfDir, "lineitem")
      Tables.table(spark, sfDir, "events")
      sentinel("tables-after")
      assert(starts.synchronized(starts.drop(seen).toList) === List("tables-after"))
    } finally sc.removeSparkListener(listener)
  }
}
