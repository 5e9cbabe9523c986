package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.cdc.ChangeEvents
import graft.streaming.ChangeStreamRelay

/** Streaming-semantics tests (SURVEY.md §5.4): the relay over micro-batched
  * change events — envelope parse, dead-letter routing, replay dedup,
  * checkpointed parquet sink with idempotent replay.
  */
class RelayStreamingSpec extends SparkSpec {

  private def ev(id: Int, op: String, db: String = "app", coll: String = "c",
      key: String = "k1", ts: String = "2024-01-01T00:00:00.000Z"): String =
    s"""{"_id":"$id","operationType":"$op","clusterTime":"$ts",""" +
      s""""ns":{"db":"$db","coll":"$coll"},"documentKey":"{\\"_id\\":\\"$key\\"}",""" +
      s""""fullDocument":"{\\"v\\":$id}"}"""

  test("relay routes topics, envelopes keys, dead-letters invalidate") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[String]
    val envelope = ChangeEvents.parseEnvelope(input.toDF(), "value")
    val relayed = ChangeStreamRelay.relay(envelope)
    val dead = ChangeEvents.deadLetter(envelope)

    val q = relayed.writeStream.format("memory").queryName("relay_out")
      .outputMode("append").start()
    val qd = dead.writeStream.format("memory").queryName("dead_out")
      .outputMode("append").start()
    input.addData(
      ev(1, "insert", coll = "users"),
      ev(2, "update", coll = "orders"),
      ev(3, "invalidate"),
      "not json at all",
      ev(4, "delete", coll = "users"))
    q.processAllAvailable(); q.stop()
    qd.processAllAvailable(); qd.stop()

    // invalidate + corrupt line went to the dead letter, not the relay
    val deadRows = spark.table("dead_out")
      .select("dead_letter_reason").collect().map(_.getString(0)).sorted
    assert(deadRows === Array(
      "missing operationType", "unsupported operationType: invalidate"))

    val rows = spark.table("relay_out").collect()
    assert(rows.length === 3) // invalidate + corrupt line dropped
    val topics = rows.map(_.getAs[String]("topic")).sorted
    assert(topics === Array("app.orders", "app.users", "app.users"))
    val key = rows.head.getAs[String]("key")
    assert(key.startsWith("""{"schema":{"type":"string","optional":false},"payload":"""))
    assert(rows.forall(_.getAs[String]("value").contains("\"operationType\"")))
  }

  test("replay dedup: duplicate deliveries collapse within the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[String]
    val envelope = ChangeEvents.parseEnvelope(input.toDF(), "value")
      .withColumn("event_time", to_timestamp(col("clusterTime")))
    val deduped = ChangeStreamRelay.dedupWithinWatermark(
      envelope, "event_time", "10 minutes")

    val q = deduped.writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    // same documentKey delivered twice (at-least-once replay), plus one other
    input.addData(ev(1, "insert", key = "a"), ev(1, "insert", key = "a"))
    input.addData(ev(1, "insert", key = "a"), ev(2, "insert", key = "b"))
    q.processAllAvailable(); q.stop()

    val keys = spark.table("dedup_out")
      .select("documentKey").as[String].collect().sorted
    assert(keys.length === 2)
  }

  test("end-to-end file source -> per-topic parquet sink, checkpointed resume") {
    val src = Files.createTempDirectory("relay_src").toString
    val out = Files.createTempDirectory("relay_out").toString
    val chk = Files.createTempDirectory("relay_chk").toString

    Files.writeString(java.nio.file.Paths.get(s"$src/batch1.json"),
      Seq(ev(1, "insert", coll = "users"), ev(2, "update", coll = "orders"),
        ev(3, "drop")).mkString("\n"))
    ChangeStreamRelay.run(spark, src, out, chk).awaitTermination()

    val first = spark.read.parquet(out)
    assert(first.count() === 2)
    assert(first.select("topic").distinct().collect().map(_.getString(0)).sorted
      === Array("app.orders", "app.users"))

    // second batch lands; checkpoint must resume past batch1 (no dupes) —
    // the improvement over the reference's lost-on-restart cursor
    // (main.go:91-93).
    Files.writeString(java.nio.file.Paths.get(s"$src/batch2.json"),
      ev(4, "delete", coll = "users"))
    ChangeStreamRelay.run(spark, src, out, chk).awaitTermination()

    val second = spark.read.parquet(out)
    assert(second.count() === 3)
    assert(second.filter(col("value").contains("\"_id\":\"4\"")).count() === 1)
  }

  /** Every `.parquet` file under `dir`, at any depth. */
  private def parquetFiles(dir: String): Seq[java.nio.file.Path] = {
    val s = Files.walk(java.nio.file.Paths.get(dir))
    try s.iterator.asScala.filter(_.toString.endsWith(".parquet")).toList
    finally s.close()
  }

  // Relayed event ids (the envelope `_id`, read from `value` as JSON),
  // sorted. Every relayed value is a JSON document, whatever text its
  // payloads hold; a value that is not would read as a NULL id here.
  private def relayedIds(relayed: DataFrame): Seq[Int] =
    relayed.select(get_json_object(col("value"), "$._id"))
      .collect().map(_.getString(0).toInt).sorted.toSeq

  test("relayed values are valid JSON when payloads are plain strings") {
    val src = Files.createTempDirectory("strings_src").toString
    val out = Files.createTempDirectory("strings_out").toString
    val chk = Files.createTempDirectory("strings_chk").toString
    def event(id: Int, payloads: String) =
      s"""{"_id":"$id","operationType":"insert","ns":{"db":"app","coll":"c"},$payloads}"""
    Files.writeString(java.nio.file.Paths.get(s"$src/events.json"), Seq(
      event(1, """"clusterTime":"2024-01-01T00:00:00Z","documentKey":"{\"_id\":1}",""" +
        """"fullDocument":"plain string""""),
      // string payloads that open like JSON but are not JSON
      event(2, """"documentKey":"{\"_id\":2}","fullDocument":"{not json",""" +
        """"updateDescription":"[1,""""),
      ev(3, "insert")).mkString("\n"))
    ChangeStreamRelay.run(spark, src, out, chk).awaitTermination()

    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val values = spark.read.parquet(out).select("value").collect().map(_.getString(0))
    val byId = values.map { v =>
      val t = scala.util.Try(mapper.readTree(v))
      assert(t.isSuccess, s"not JSON: $v")
      t.get.get("_id").asText -> t.get
    }.toMap
    assert(byId.keySet === Set("1", "2", "3"))
    def text(id: String, f: String): String = {
      val n = byId(id).get(f)
      assert(n.isTextual, s"$f of event $id must stay a string: ${byId(id)}")
      n.asText
    }
    assert(text("1", "clusterTime") === "2024-01-01T00:00:00Z")
    assert(text("1", "fullDocument") === "plain string")
    assert(text("2", "fullDocument") === "{not json")
    assert(text("2", "updateDescription") === "[1,")
    // object text is still spliced as a nested object
    assert(byId("1").get("documentKey").get("_id").asInt === 1)
    assert(byId("3").get("fullDocument").get("v").asInt === 3)
  }

  test("the relay parses each line once, and numInputRows counts every line read") {
    import org.apache.spark.sql.catalyst.expressions.{JsonToStructs, StructsToJson}
    import org.apache.spark.sql.execution.{FileSourceScanExec, GenerateExec}
    import org.apache.spark.sql.execution.datasources.text.TextFileFormat
    import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
    import graft.cdc.ParseChangeEvent
    val src = Files.createTempDirectory("count_src").toString
    val lines = Seq(ev(1, "insert"), ev(2, "update"), "not json", ev(3, "invalidate"),
      "", """{"_id":"4","operationType":"ins""", ev(5, "delete"), ev(6, "drop"))
    Files.writeString(java.nio.file.Paths.get(s"$src/events.json"), lines.mkString("\n"))

    val out = Files.createTempDirectory("count_out").toString
    val q = ChangeStreamRelay.run(spark, src, out,
      Files.createTempDirectory("count_chk").toString)
    q.awaitTermination()
    assert(q.recentProgress.map(_.numInputRows).sum === lines.size)
    assert(relayedIds(spark.read.parquet(out)) === Seq(1, 2, 5))

    // the plan of its micro-batch
    val plan = q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.executedPlan
    val nodes = allNodes(plan)
    val exprs = nodes.flatMap(_.expressions).flatMap(_.collect { case e => e })
    assert(exprs.count(_.isInstanceOf[ParseChangeEvent]) === 1,
      s"parse_change_event must run once per line:\n$plan")
    assert(nodes.count(_.isInstanceOf[GenerateExec]) === 1, plan)
    assert(!exprs.exists(e => e.isInstanceOf[JsonToStructs] || e.isInstanceOf[StructsToJson] ||
      e.prettyName == "concat"), s"no JSON reader or concat/to_json chain:\n$plan")
    val formats = nodes.collect { case s: FileSourceScanExec => s.relation.fileFormat }
    assert(formats.nonEmpty && formats.forall(_.isInstanceOf[TextFileFormat]), plan)
  }

  test("sink writes one topic-sorted parquet file per task, no topic= directories") {
    val src = Files.createTempDirectory("sink_src").toString
    val out = Files.createTempDirectory("sink_out").toString
    val chk = Files.createTempDirectory("sink_chk").toString
    // one source file (one task) whose events interleave three topics
    val colls = Seq("users", "orders", "items")
    val events = (0 until 12).map(i => (i, colls(i % 3)))
    Files.writeString(java.nio.file.Paths.get(s"$src/events.json"),
      events.map { case (i, c) => ev(i, "insert", coll = c) }.mkString("\n"))
    ChangeStreamRelay.run(spark, src, out, chk).awaitTermination()

    val files = parquetFiles(s"$out/batch=0")
    assert(files.length === 1, s"one file per task, got: ${files.mkString(", ")}")
    val inFile = spark.read.parquet(files.head.toString)
    assert(inFile.columns.contains("topic"), "topic is a column of the file itself")
    val fileTopics = inFile.select("topic").collect().map(_.getString(0)).toSeq
    assert(fileTopics === fileTopics.sorted, "rows are sorted by topic within the file")

    for (c <- colls) {
      val ids = relayedIds(spark.read.parquet(out).filter(col("topic") === s"app.$c"))
      assert(ids === events.collect { case (i, `c`) => i }, s"rows of topic app.$c")
    }
  }

  test("replay after a crash between sink write and commit log keeps each event once") {
    val src = Files.createTempDirectory("replay_src").toString
    val out = Files.createTempDirectory("replay_out").toString
    val chk = Files.createTempDirectory("replay_chk").toString
    for (f <- 0 until 3)
      Files.writeString(java.nio.file.Paths.get(s"$src/f$f.json"),
        (0 until 4).map(i => ev(f * 4 + i, "insert", coll = s"c$i")).mkString("\n"))
    ChangeStreamRelay.run(spark, src, out, chk).awaitTermination()
    assert(relayedIds(spark.read.parquet(out)) === (0 until 12))

    // the sink wrote the last batch but its commit never landed: the
    // restarted query must re-run that batch on the same offsets
    val commits = new java.io.File(s"$chk/commits")
    val last = commits.list().filter(_.forall(_.isDigit)).map(_.toLong).max
    Files.delete(java.nio.file.Paths.get(s"$chk/commits/$last"))
    Files.deleteIfExists(java.nio.file.Paths.get(s"$chk/commits/.$last.crc"))
    val replay = ChangeStreamRelay.run(spark, src, out, chk)
    replay.awaitTermination()
    assert(replay.recentProgress.exists(p => p.batchId == last && p.numInputRows > 0),
      s"batch $last was not replayed")

    assert(relayedIds(spark.read.parquet(out)) === (0 until 12),
      "the replayed batch must overwrite its own output, not add to it")
  }

  test("crash-resume: a query killed mid-source restarts with no loss and no dupes") {
    import org.apache.spark.sql.streaming.Trigger
    val src = Files.createTempDirectory("crash_src").toString
    val out = Files.createTempDirectory("crash_out").toString
    val chk = Files.createTempDirectory("crash_chk").toString
    val nFiles = 10; val perFile = 3
    for (f <- 0 until nFiles)
      Files.writeString(java.nio.file.Paths.get(s"$src/f$f.json"),
        (0 until perFile).map(i => ev(f * perFile + i, "insert", coll = "users"))
          .mkString("\n"))

    // run slowly (1 file / 250 ms) and KILL the query once some — but not
    // all — micro-batches have committed: the "crash" the reference cannot
    // survive (its cursor has no persisted resume token, main.go:91-93)
    val env = ChangeStreamRelay.readChangeStream(spark, src, maxFilesPerTrigger = 1)
    val q1 = ChangeStreamRelay.writePerTopicParquet(
        ChangeStreamRelay.relay(env), out, chk,
        Trigger.ProcessingTime("250 milliseconds")).start()
    val deadline = System.nanoTime() + 60e9.toLong
    while (q1.recentProgress.count(_.numInputRows > 0) < 2
        && System.nanoTime() < deadline) Thread.sleep(50)
    q1.stop()
    val afterKill = spark.read.parquet(out).count()
    assert(afterKill < (nFiles * perFile).toLong,
      s"kill was supposed to land mid-source, but all $afterKill rows are there")

    // a NEW query over the same checkpoint drains the rest
    ChangeStreamRelay.run(spark, src, out, chk).awaitTermination()
    assert(relayedIds(spark.read.parquet(out)) === (0 until nFiles * perFile),
      "resume must deliver every event exactly once across the restart")
  }

  test("streaming session windows close on the gap and count per topic") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[String]
    val envelope = ChangeEvents.parseEnvelope(input.toDF(), "value")
      .withColumn("event_time", to_timestamp(col("clusterTime")))
    val sessions = ChangeStreamRelay.topicSessions(
      envelope, "event_time", "1 minute", "10 minutes")

    val q = sessions.writeStream.format("memory").queryName("sessions_out")
      .outputMode("complete").start()
    // two events 5 min apart (one session), a third 30 min later (new one)
    input.addData(
      ev(1, "insert", ts = "2024-01-01T00:00:00.000Z"),
      ev(2, "insert", ts = "2024-01-01T00:05:00.000Z"),
      ev(3, "insert", ts = "2024-01-01T00:35:00.000Z"))
    q.processAllAvailable(); q.stop()

    val rows = spark.table("sessions_out")
      .select("topic", "n").collect().map(r => (r.getString(0), r.getLong(1)))
    assert(rows.toSet === Set(("app.c", 2L), ("app.c", 1L)))
  }

  test("stream-stream join: inserts matched to deletes within the time bound") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[String]
    val envelope = ChangeEvents.parseEnvelope(input.toDF(), "value")
      .withColumn("event_time", to_timestamp(col("clusterTime")))
    val inserts = envelope.filter(col("operationType") === "insert")
      .select(col("documentKey").as("ik"), col("event_time").as("itime"))
      .withWatermark("itime", "1 minute")
    val deletes = envelope.filter(col("operationType") === "delete")
      .select(col("documentKey").as("dk"), col("event_time").as("dtime"))
      .withWatermark("dtime", "1 minute")
    // delete joins its insert if within 1 hour after it — document lifetime
    val joined = inserts.join(deletes,
      col("ik") === col("dk") &&
        col("dtime") >= col("itime") &&
        col("dtime") <= col("itime") + expr("INTERVAL 1 HOUR"))

    val q = joined.writeStream.format("memory").queryName("ss_join_out")
      .outputMode("append").start()
    input.addData(
      ev(1, "insert", key = "a", ts = "2024-01-01T00:00:00.000Z"),
      ev(2, "insert", key = "b", ts = "2024-01-01T00:00:00.000Z"),
      ev(3, "delete", key = "a", ts = "2024-01-01T00:30:00.000Z"),   // within bound
      ev(4, "delete", key = "b", ts = "2024-01-01T02:00:00.000Z"))   // outside bound
    q.processAllAvailable(); q.stop()

    val rows = spark.table("ss_join_out").select("ik").as[String].collect()
    assert(rows.toSeq === Seq("{\"_id\":\"a\"}"))
  }

  test("stream-static enrichment: events pick up broadcast dim attributes") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[String]
    val envelope = ChangeEvents.parseEnvelope(input.toDF(), "value")
    // static dimension keyed by collection — the batch side of the join
    // is planned once and broadcast into every micro-batch (cdc_enrich's
    // streaming twin: the unbounded side never shuffles)
    val dim = Seq(("c", "tier-1"), ("d", "tier-2")).toDF("coll", "tier")
    val enriched = envelope
      .select(col("ns.coll").as("coll"), col("documentKey"))
      .join(broadcast(dim), Seq("coll"), "left")

    val q = enriched.writeStream.format("memory").queryName("enrich_out")
      .outputMode("append").start()
    input.addData(
      ev(1, "insert", key = "a", ts = "2024-01-01T00:00:00.000Z"),
      ev(2, "insert", key = "b", ts = "2024-01-01T00:00:00.000Z"))
    q.processAllAvailable(); q.stop()

    val rows = spark.table("enrich_out").select("coll", "tier").collect()
      .map(r => (r.getString(0), r.getString(1)))
    assert(rows.length === 2 && rows.forall(_ === ("c", "tier-1")))
  }

  test("streaming tumbling topic counts with watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[String]
    val envelope = ChangeEvents.parseEnvelope(input.toDF(), "value")
      .withColumn("event_time", to_timestamp(col("clusterTime")))
    val counts = ChangeStreamRelay.topicCounts(
      envelope, "event_time", "1 minute", "10 minutes")

    val q = counts.writeStream.format("memory").queryName("counts_out")
      .outputMode("complete").start()
    input.addData(
      ev(1, "insert", ts = "2024-01-01T00:01:00.000Z"),
      ev(2, "insert", ts = "2024-01-01T00:02:00.000Z"),
      ev(3, "insert", ts = "2024-01-01T00:15:00.000Z"))
    q.processAllAvailable(); q.stop()

    val rows = spark.table("counts_out")
      .select("topic", "n").collect().map(r => (r.getString(0), r.getLong(1)))
    assert(rows.toSet === Set(("app.c", 2L), ("app.c", 1L)))
  }
}
