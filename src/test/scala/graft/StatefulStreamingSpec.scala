package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.cdc.ChangeEvents
import graft.functions.ExtJson.{ext_json_canonical, ext_json_get}
import graft.streaming.{DeliveryReportListener, StatefulOps}

/** Stateful streaming semantics: latest-state materialization across
  * micro-batches (insert → update → delete), the delivery-report
  * listener, and ExtJSON read-back.
  */
class StatefulStreamingSpec extends SparkSpec {

  private def ev(op: String, key: String, doc: String, ts: String): String =
    s"""{"_id":"x","operationType":"$op","clusterTime":"$ts",""" +
      s""""ns":{"db":"app","coll":"c"},"documentKey":"$key",""" +
      s""""fullDocument":"$doc"}"""

  test("latest-state folds insert/update/delete across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[String]
    val envelope = ChangeEvents.parseEnvelope(input.toDF(), "value")
    val state = StatefulOps.latestState(envelope)

    val q = state.toDF().writeStream.format("memory").queryName("state_out")
      .outputMode("update").start()
    input.addData(
      ev("insert", "k1", "v1", "2024-01-01T00:00:00Z"),
      ev("insert", "k2", "v1", "2024-01-01T00:00:01Z"))
    q.processAllAvailable()
    input.addData(ev("update", "k1", "v2", "2024-01-01T00:01:00Z"))
    q.processAllAvailable()
    input.addData(ev("delete", "k2", "", "2024-01-01T00:02:00Z"))
    q.processAllAvailable()
    q.stop()

    // last emitted state per key across the update-mode epochs
    val finalState = spark.table("state_out")
      .groupBy("documentKey")
      .agg(max(struct(col("lastEventTimeMs"), col("lastOp"), col("fullDocument"))).as("s"))
      .select(col("documentKey"), col("s.lastOp"), col("s.fullDocument"))
      .collect().map(r => r.getString(0) -> (r.getString(1), r.getString(2))).toMap
    assert(finalState("k1") === ("update", "v2"))
    assert(finalState("k2")._1 === "delete")
  }

  test("AggSink maintains the group aggregate incrementally with retractions") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("agg_sink")
    val (stateDir, aggDir) =
      (root.resolve("state").toString, root.resolve("agg").toString)
    // one row per key per batch: (op, key, group, value)
    val input = MemoryStream[(String, String, String, Double)]
    val q = input.toDF().toDF("op", "k", "g", "v").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        graft.streaming.AggSink.applyBatch(spark, stateDir, aggDir, batch, id,
          keyCol = "k", grpCol = "g", valueCol = "v",
          opCol = "op", deleteOp = "delete")
      }.start()

    def agg(): Map[String, (Double, Long)] =
      spark.read.parquet(aggDir).collect()
        .map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2))).toMap

    input.addData(("insert", "k1", "a", 10.0), ("insert", "k2", "a", 5.0),
      ("insert", "k3", "b", 2.0))
    q.processAllAvailable()
    assert(agg() === Map("a" -> (15.0, 2L), "b" -> (2.0, 1L)))

    // group MOVE: k1's old image retracts from a, adds to b
    input.addData(("update", "k1", "b", 7.0))
    q.processAllAvailable()
    assert(agg() === Map("a" -> (5.0, 1L), "b" -> (9.0, 2L)))

    // delete retracts; a fully-retracted group leaves the view
    input.addData(("delete", "k2", "a", 0.0))
    q.processAllAvailable()
    q.stop()
    assert(agg() === Map("b" -> (9.0, 2L)))

    // the maintained view must equal the recompute over the kept state —
    // the invariant cdc_incr_agg's oracle checks in batch
    val recompute = spark.read.parquet(stateDir).groupBy("g")
      .agg(sum("v"), count(lit(1))).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2))).toMap
    assert(agg() === recompute)

    // foreachBatch replay of an already-folded epoch must not double-count
    val replay = Seq(("delete", "k2", "a", 0.0)).toDF("op", "k", "g", "v")
    graft.streaming.AggSink.applyBatch(spark, stateDir, aggDir, replay,
      batchId = 2L, keyCol = "k", grpCol = "g", valueCol = "v",
      opCol = "op", deleteOp = "delete")
    assert(agg() === Map("b" -> (9.0, 2L)))
    graft.operators.Artifacts.deleteRecursively(root)
  }

  test("foreachBatch MERGE sink maintains the snapshot across epochs") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val snap = java.nio.file.Files.createTempDirectory("merge_snap")
      .resolve("snapshot").toString
    val input = MemoryStream[String]
    val envelope = ChangeEvents.parseEnvelope(input.toDF(), "value")
    val state = StatefulOps.latestState(envelope)
    val q = state.toDF().writeStream
      .outputMode("update")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        graft.streaming.MergeSink.applyBatch(spark, snap, batch,
          keyCol = "documentKey", opCol = "lastOp", deleteOp = "delete")
      }.start()

    def snapshot(): Map[String, String] =
      spark.read.parquet(snap).select("documentKey", "fullDocument")
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap

    input.addData(
      ev("insert", "k1", "v1", "2024-01-01T00:00:00Z"),
      ev("insert", "k2", "v1", "2024-01-01T00:00:01Z"))
    q.processAllAvailable()
    assert(snapshot() === Map("k1" -> "v1", "k2" -> "v1"))

    input.addData(ev("update", "k1", "v2", "2024-01-01T00:01:00Z"))
    q.processAllAvailable()
    assert(snapshot() === Map("k1" -> "v2", "k2" -> "v1"))

    input.addData(ev("delete", "k2", "", "2024-01-01T00:02:00Z"))
    q.processAllAvailable()
    q.stop()
    // same semantics as the batch cdc_merge_apply: upsert on document
    // ops, DELETE on tombstones, untouched rows pass through
    assert(snapshot() === Map("k1" -> "v2"))
    graft.operators.Artifacts.deleteRecursively(
      java.nio.file.Paths.get(snap).getParent)
  }

  test("latest-state folds insert/update/delete on the RocksDB state store") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    withRocksDb {
      val input = MemoryStream[String]
      val envelope = ChangeEvents.parseEnvelope(input.toDF(), "value")
      val state = StatefulOps.latestState(envelope)

      val q = state.toDF().writeStream.format("memory").queryName("rocks_out")
        .outputMode("update").start()
      input.addData(ev("insert", "k1", "v1", "2024-01-01T00:00:00Z"))
      q.processAllAvailable()
      input.addData(
        ev("update", "k1", "v2", "2024-01-01T00:01:00Z"),
        ev("insert", "k2", "w1", "2024-01-01T00:01:30Z"))
      q.processAllAvailable()
      input.addData(ev("delete", "k1", "", "2024-01-01T00:02:00Z"))
      q.processAllAvailable()
      q.stop()

      val finalState = spark.table("rocks_out")
        .groupBy("documentKey")
        .agg(max(struct(col("lastEventTimeMs"), col("lastOp"), col("fullDocument"))).as("s"))
        .select(col("documentKey"), col("s.lastOp"), col("s.fullDocument"))
        .collect().map(r => r.getString(0) -> (r.getString(1), r.getString(2))).toMap
      assert(finalState("k1")._1 === "delete")
      assert(finalState("k2") === ("insert", "w1"))
    }
  }

  test("streaming heavy hitters: bounded state, MG guarantee across epochs") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    withRocksDb {
      val k = 8
      val input = MemoryStream[graft.streaming.StreamingHeavyHitters.Item]
      val sketches =
        graft.streaming.StreamingHeavyHitters.heavyHitters(input.toDS(), k)
      val q = sketches.toDF().writeStream.format("memory").queryName("hh_out")
        .outputMode("update").start()

      def item(t: String) = graft.streaming.StreamingHeavyHitters.Item("t", t)
      // skewed stream across TWO epochs: the fold must carry state over
      input.addData(Seq.fill(30)(item("hot")) ++
        (1 to 10).flatMap(i => Seq.fill(2)(item(s"cold_$i"))): _*)
      q.processAllAvailable()
      input.addData(Seq.fill(30)(item("hot")) ++
        (11 to 20).flatMap(i => Seq.fill(2)(item(s"cold_$i"))): _*)
      q.processAllAvailable()
      q.stop()

      val last = spark.table("hh_out").orderBy(col("n").desc).head()
      val n = last.getLong(1)
      assert(n === 100L) // 60 hot + 40 cold, both epochs folded
      val items = last.getSeq[org.apache.spark.sql.Row](2)
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      // state boundedness: never more than k counters survive
      assert(items.size <= k, items)
      // MG guarantee: any item with true freq > n/(k+1) is retained and
      // undercounts by at most n/(k+1); hot has 60 > 100/9
      val bound = n / (k + 1)
      assert(items.contains("hot"))
      assert(items("hot") >= 60L - bound && items("hot") <= 60L, items)
    }
  }

  test("streaming SCD2 emits each closed version once; dups collapse, deletes clear") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[String]
    val envelope = ChangeEvents.parseEnvelope(input.toDF(), "value")
    val versions = graft.streaming.StatefulOps.scd2History(envelope)

    val q = versions.toDF().writeStream.format("memory").queryName("scd2_out")
      .outputMode("append").start()
    // v1 opens; the duplicate-content update must NOT cut a version
    input.addData(
      ev("insert", "k1", "v1", "2024-01-01T00:00:00Z"),
      ev("update", "k1", "v1", "2024-01-01T00:30:00Z"),
      ev("insert", "k2", "w1", "2024-01-01T00:00:05Z"))
    q.processAllAvailable()
    assert(spark.table("scd2_out").count() === 0) // all versions still open

    input.addData(ev("update", "k1", "v2", "2024-01-01T01:00:00Z"))
    q.processAllAvailable()
    input.addData(ev("delete", "k1", "", "2024-01-01T02:00:00Z"))
    q.processAllAvailable()
    q.stop()

    val rows = spark.table("scd2_out")
      .select("documentKey", "payload", "validFromMs", "validToMs", "closedBy")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getString(4))).sortBy(t => t._3)
    def ms(s: String) = java.time.Instant.parse(s).toEpochMilli
    // exactly the batch cdc_scd2 non-current rows: v1 closed by the v2
    // change (valid_from = its OWN first ts, not the collapsed dup's),
    // v2 closed by the tombstone; k2's open version never emits
    assert(rows.toSeq === Seq(
      ("k1", "v1", ms("2024-01-01T00:00:00Z"), ms("2024-01-01T01:00:00Z"), "update"),
      ("k1", "v2", ms("2024-01-01T01:00:00Z"), ms("2024-01-01T02:00:00Z"), "delete")))
  }

  /** A collection-level event: no `fullDocument`, and a `documentKey`
    * only when `key` is given.
    */
  private def collEv(op: String, key: Option[String], ts: String): String =
    s"""{"_id":"x","operationType":"$op","clusterTime":"$ts",""" +
      s""""ns":{"db":"app","coll":"c"}""" +
      key.fold("")(k => s""","documentKey":"$k"""") + "}"

  test("invalidate and drop events never reach latest-state or SCD2 state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val events = Seq(
      ev("insert", "k1", "v1", "2024-01-01T00:00:00Z"),
      collEv("invalidate", None, "2024-01-01T00:01:00Z"),
      collEv("invalidate", Some("k1"), "2024-01-01T00:02:00Z"),
      collEv("drop", None, "2024-01-01T00:03:00Z"))
    // one micro-batch per event, every emitted row kept by the memory sink
    def run(name: String, mode: String, lines: Seq[String])(
        op: org.apache.spark.sql.DataFrame => org.apache.spark.sql.Dataset[_])
        : org.apache.spark.sql.DataFrame = {
      val input = MemoryStream[String]
      val q = op(ChangeEvents.parseEnvelope(input.toDF(), "value")).toDF()
        .writeStream.format("memory").queryName(name).outputMode(mode).start()
      lines.foreach { l => input.addData(l); q.processAllAvailable() }
      q.stop()
      spark.table(name)
    }

    val latest = run("coll_latest", "update", events)(StatefulOps.latestState(_))
      .select("documentKey", "fullDocument", "lastOp")
      .as[(String, String, String)].collect()
    assert(latest.toSeq === Seq(("k1", "v1", "insert")))

    // a later delete closes the insert's version — the only one SCD2 holds
    val closed = run("coll_scd2", "append",
        events :+ ev("delete", "k1", "", "2024-01-01T00:04:00Z"))(
        StatefulOps.scd2History(_))
      .select("documentKey", "payload", "validFromMs", "validToMs", "closedBy")
      .as[(String, String, Long, Long, String)].collect()
    def ms(s: String) = java.time.Instant.parse(s).toEpochMilli
    assert(closed.toSeq === Seq(("k1", "v1", ms("2024-01-01T00:00:00Z"),
      ms("2024-01-01T00:04:00Z"), "delete")))
  }

  test("latest-state TTL reclaims the tombstone of a key that goes quiet") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[String]
    val envelope = ChangeEvents.parseEnvelope(input.toDF(), "value")
    val q = StatefulOps.latestState(envelope, ttl = Some("1 second")).toDF()
      .writeStream.format("memory").queryName("ttl_out")
      .outputMode("update").start()
    try {
      input.addData(
        ev("insert", "k1", "v1", "2024-01-01T00:00:00Z"),
        ev("delete", "k1", "", "2024-01-01T00:01:00Z"))
      // a processing-time timeout keeps the engine running empty
      // micro-batches (processAllAvailable would never return), so poll
      // the progress reports instead
      def poll[T](what: String)(f: => Option[T]): T = {
        val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
        var r = f
        while (r.isEmpty && System.nanoTime() < deadline) { Thread.sleep(100); r = f }
        assert(r.isDefined, what)
        r.get
      }
      def stateRows(p: org.apache.spark.sql.streaming.StreamingQueryProgress) =
        p.stateOperators.head.numRowsTotal
      val dataBatch = poll("the data batch")(q.recentProgress.find(_.numInputRows > 0))
      assert(stateRows(dataBatch) === 1L) // the tombstone
      poll("a later batch with the tombstone dropped")(q.recentProgress.find(p =>
        p.batchId > dataBatch.batchId && stateRows(p) == 0L))
    } finally q.stop()
  }

  test("latest-state parses fixture-shaped ExtJSON clusterTime ($timestamp / $date)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[String]
    val envelope = ChangeEvents.parseEnvelope(input.toDF(), "value")
    val state = StatefulOps.latestState(envelope)
    val q = state.toDF().writeStream.format("memory").queryName("exts_out")
      .outputMode("update").start()
    // FIXTURES.md §1: clusterTime is canonical ExtJSON, not ISO text
    input.addData(
      ev("insert", "k1", "v1", """{\"$timestamp\":{\"t\":1704067200,\"i\":1}}"""),
      ev("update", "k1", "v2", """{\"$timestamp\":{\"t\":1704067260,\"i\":1}}"""),
      ev("insert", "k2", "w1", """{\"$date\":{\"$numberLong\":\"1704067300000\"}}"""))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("exts_out")
      .groupBy("documentKey")
      .agg(max(struct(col("lastEventTimeMs"), col("lastOp"), col("fullDocument"))).as("s"))
      .select(col("documentKey"), col("s.lastOp"), col("s.lastEventTimeMs"))
      .collect().map(r => r.getString(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(rows("k1") === ("update", 1704067260000L))
    assert(rows("k2") === ("insert", 1704067300000L))
  }

  test("unparseable clusterTime dead-letters instead of crashing the encoder") {
    import spark.implicits._
    val envelope = ChangeEvents.parseEnvelope(
      Seq(
        ev("insert", "k1", "v1", "2024-01-01T00:00:00Z"),
        ev("insert", "k2", "v1", "not-a-time-at-all")).toDF("value"), "value")
    val dead = StatefulOps.latestStateDeadLetter(envelope).collect()
    assert(dead.length === 1)
    assert(dead.head.getAs[String]("documentKey") === "k2")
  }

  test("delivery-report listener observes per-epoch input rows (main.go:50-62 analog)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val listener = new DeliveryReportListener
    spark.streams.addListener(listener)
    try {
      val input = MemoryStream[String]
      val envelope = ChangeEvents.parseEnvelope(input.toDF(), "value")
      val q = ChangeEvents.relay(envelope).writeStream
        .format("memory").queryName("listener_out").outputMode("append").start()
      input.addData(ev("insert", "k1", "v1", "2024-01-01T00:00:00Z"))
      q.processAllAvailable(); q.stop()
      // at least one progress report with the input row counted
      assert(listener.reports.toArray.nonEmpty)
    } finally spark.streams.removeListener(listener)
  }

  test("stream-stream interval join: on-time match, late drop, bounded state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val orders = MemoryStream[String]
    val payments = MemoryStream[String]
    val joined = graft.streaming.StreamStreamJoin.enrichChangeStream(
      ChangeEvents.parseEnvelope(orders.toDF(), "value"),
      ChangeEvents.parseEnvelope(payments.toDF(), "value"),
      lookback = "1 minute", delay = "10 seconds")
    val q = joined.select("l_key", "l_doc", "r_doc").writeStream
      .format("memory").queryName("ssj_out").outputMode("append").start()
    def rows(): Set[(String, String, String)] = spark.table("ssj_out")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet

    // on-time: payment 30 s before the order change, same key → match
    payments.addData(ev("insert", "k1", "pay1", "2024-01-01T00:00:30Z"))
    orders.addData(ev("update", "k1", "ord1", "2024-01-01T00:01:00Z"))
    q.processAllAvailable()
    assert(rows() === Set(("k1", "ord1", "pay1")))

    // wrong key / payment AFTER the order (outside the trailing window):
    // neither joins
    payments.addData(ev("insert", "k2", "pay2", "2024-01-01T00:02:00Z"))
    orders.addData(ev("update", "k3", "ord2", "2024-01-01T00:01:10Z"))
    q.processAllAvailable()
    assert(rows() === Set(("k1", "ord1", "pay1")))

    // advance the watermark far on BOTH streams (global watermark is the
    // min across sources); a same-instant pair is inside [t-60s, t]
    payments.addData(ev("insert", "k9", "payX", "2024-01-01T01:00:00Z"))
    orders.addData(ev("update", "k9", "ordX", "2024-01-01T01:00:00Z"))
    q.processAllAvailable()
    assert(rows() === Set(("k1", "ord1", "pay1"), ("k9", "ordX", "payX")))

    // LATE: both sides now sit behind the ~00:59:50 watermark — the
    // inputs are dropped before the join, so a pair that would otherwise
    // match (ordLate at 00:00:50 × pay1 at 00:00:30) must NOT appear
    payments.addData(ev("insert", "k1", "payLate", "2024-01-01T00:00:40Z"))
    orders.addData(ev("update", "k1", "ordLate", "2024-01-01T00:00:50Z"))
    q.processAllAvailable()
    assert(rows() === Set(("k1", "ord1", "pay1"), ("k9", "ordX", "payX")),
      "late inputs must be dropped, not joined")

    // bounded state: the two-sided interval lets Spark evict everything
    // below the state watermark — only the 01:00:00 pair can still match
    // future rows, far fewer than the 8 buffered without eviction
    val st = q.lastProgress.stateOperators(0)
    assert(st.numRowsTotal <= 4,
      s"join state not evicted: ${st.numRowsTotal} rows buffered")
    q.stop()
  }

  test("stream-stream LEFT OUTER interval join emits null-padded rows after the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val orders = MemoryStream[String]
    val payments = MemoryStream[String]
    val l = ChangeEvents.parseEnvelope(orders.toDF(), "value")
      .select(col("documentKey").as("l_key"),
        org.apache.spark.sql.functions.timestamp_millis(
          graft.streaming.StatefulOps.eventTimeMillis(col("clusterTime")))
          .as("l_ts"),
        col("fullDocument").as("l_doc"))
    val r = ChangeEvents.parseEnvelope(payments.toDF(), "value")
      .select(col("documentKey").as("r_key"),
        org.apache.spark.sql.functions.timestamp_millis(
          graft.streaming.StatefulOps.eventTimeMillis(col("clusterTime")))
          .as("r_ts"),
        col("fullDocument").as("r_doc"))
    val q = graft.streaming.StreamStreamJoin.intervalEnrich(
        l, "l_key", "l_ts", r, "r_key", "r_ts",
        lookback = "1 minute", delay = "10 seconds", joinType = "left_outer")
      .select("l_key", "l_doc", "r_doc")
      .writeStream.format("memory").queryName("ssj_outer_out")
      .outputMode("append").start()
    def rows(): Set[(String, String, String)] = spark.table("ssj_outer_out")
      .collect()
      .map(r => (r.getString(0), r.getString(1), Option(r.getString(2)).orNull))
      .toSet

    // matched pair emits immediately; the match-less order must NOT
    // emit yet — a payment could still arrive inside its window
    payments.addData(ev("insert", "k1", "pay1", "2024-01-01T00:00:30Z"))
    orders.addData(
      ev("update", "k1", "ord1", "2024-01-01T00:01:00Z"),
      ev("update", "k2", "ord2", "2024-01-01T00:01:10Z"))
    q.processAllAvailable()
    assert(rows() === Set(("k1", "ord1", "pay1")),
      "unmatched row must be withheld while its window can still fill")

    // advance the watermark on both streams far past k2's window: the
    // unmatched order finalizes as a null-padded row
    payments.addData(ev("insert", "k9", "payX", "2024-01-01T01:00:00Z"))
    orders.addData(ev("update", "k9", "ordX", "2024-01-01T01:00:00Z"))
    q.processAllAvailable()
    assert(rows() === Set(
      ("k1", "ord1", "pay1"),
      ("k9", "ordX", "payX"),
      ("k2", "ord2", null)))
    q.stop()
  }

  test("stream-stream FULL OUTER interval join finalizes both sides' unmatched rows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val orders = MemoryStream[String]
    val payments = MemoryStream[String]
    val joined = graft.streaming.StreamStreamJoin.intervalEnrich(
      ChangeEvents.parseEnvelope(orders.toDF(), "value")
        .select(col("documentKey").as("l_key"),
          timestamp_millis(graft.streaming.StatefulOps
            .eventTimeMillis(col("clusterTime"))).as("l_ts"),
          col("fullDocument").as("l_doc")),
      "l_key", "l_ts",
      ChangeEvents.parseEnvelope(payments.toDF(), "value")
        .select(col("documentKey").as("r_key"),
          timestamp_millis(graft.streaming.StatefulOps
            .eventTimeMillis(col("clusterTime"))).as("r_ts"),
          col("fullDocument").as("r_doc")),
      "r_key", "r_ts",
      lookback = "1 minute", delay = "10 seconds", joinType = "full_outer")
    val sq = joined.select("l_doc", "r_doc").writeStream
      .format("memory").queryName("ssj_full_out").outputMode("append").start()
    def rows(): Set[(String, String)] = spark.table("ssj_full_out")
      .collect()
      .map(r => (Option(r.getString(0)).orNull, Option(r.getString(1)).orNull))
      .toSet

    // one match-less row on EACH side; neither may emit while its
    // window can still fill
    payments.addData(ev("insert", "kP", "payOnly", "2024-01-01T00:00:30Z"))
    orders.addData(ev("update", "kO", "ordOnly", "2024-01-01T00:01:00Z"))
    sq.processAllAvailable()
    assert(rows() === Set.empty)

    // watermark far past both windows: each side finalizes null-padded
    payments.addData(ev("insert", "k9", "payX", "2024-01-01T01:00:00Z"))
    orders.addData(ev("update", "k9", "ordX", "2024-01-01T01:00:00Z"))
    sq.processAllAvailable()
    assert(rows() === Set(
      ("ordX", "payX"),
      ("ordOnly", null),
      (null, "payOnly")))
    sq.stop()
  }

  test("streaming session_window closes sessions when the watermark passes the gap") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Long)] // (user_id, epoch seconds)
    val sessions = in.toDF().toDF("user_id", "sec")
      .withColumn("ts", timestamp_seconds(col("sec")))
      .withWatermark("ts", "10 seconds")
      .groupBy(session_window(col("ts"), "30 seconds"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"), col("n"),
        col("session_window.start").cast("long").as("start_s"),
        col("session_window.end").cast("long").as("end_s"))
    val q = sessions.writeStream.format("memory").queryName("sess_out")
      .outputMode("append").start()
    def rows(): Set[(Long, Long, Long, Long)] = spark.table("sess_out")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet

    // three events within the 30 s gap merge into ONE growing session;
    // append mode emits nothing while the session can still extend
    in.addData((1L, 100L), (1L, 110L), (1L, 125L))
    q.processAllAvailable()
    assert(rows() === Set.empty, "open session must not emit in append mode")

    // an event far ahead pushes the watermark (290) past the session's
    // close (125 + 30 = 155): the session finalizes as [100, 155), n=3
    in.addData((2L, 300L))
    q.processAllAvailable()
    assert(rows() === Set((1L, 3L, 100L, 155L)))

    // and user 2's own session closes once the watermark passes ITS gap
    in.addData((2L, 600L))
    q.processAllAvailable()
    assert(rows() === Set((1L, 3L, 100L, 155L), (2L, 1L, 300L, 330L)))
    q.stop()
  }

  test("ext_json_get unwraps what ext_json_canonical wrapped (round trip)") {
    val rendered = ext_json_canonical(struct(
      lit(42L).as("_id"),
      lit("name").as("s"),
      lit("2024-01-01 00:00:00").cast("timestamp").as("d")))
    val df = spark.range(1).select(rendered.as("j"))
    val got = df.select(
      ext_json_get(col("j"), "$._id").as("id"),
      ext_json_get(col("j"), "$.s").as("s"),
      ext_json_get(col("j"), "$.d").as("d")).head()
    assert(got.getString(0) === "42")
    assert(got.getString(1) === "name")
    assert(got.getString(2) === "1704067200000")
  }
}
