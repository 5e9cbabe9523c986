package graft.cdc

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftglue.glue
import org.apache.spark.sql.types._

/** The reference's entire dataflow (a MongoDB change-stream → Kafka relay,
  * `/root/reference/main.go`) re-expressed as pure `DataFrame => DataFrame`
  * transforms so the exact same code serves batch fixtures, golden tests and
  * the Structured Streaming runtime ([[graft.streaming.ChangeStreamRelay]]).
  *
  * Like the reference, which decodes each event once and marshals it once
  * (main.go:104-108,117,123-131,138), the relay parses each line once and
  * renders each key and value once, straight to UTF-8, through the native
  * expressions of the change-event codec (`ChangeEventCodec.scala`):
  * [[ParseChangeEvent]], [[ChangeEventKey]] and [[ChangeEventValue]].
  *
  * Reference semantics reproduced here (citations into /root/reference):
  *  - topic routing `"{db}.{coll}"`            — main.go:113
  *  - Kafka-Connect key envelope
  *    `{"schema":{"type":"string","optional":false},"payload":…}`
  *                                             — main.go:16-24,123-131
  *  - key = enveloped, value = bare ExtJSON     — main.go:123-131 vs 138
  *  - op whitelist (the reference panics on `invalidate`/`drop*` events that
  *    lack `documentKey`/`ns.coll`, main.go:111-116; we filter + dead-letter
  *    instead — intentional improvement, SURVEY.md §2.2/§7.5)
  *  - per-event error suppression (decode error ⇒ skip, main.go:106-108) ⇒
  *    a malformed line parses to an all-NULL row, which the op filter
  *    drops and [[deadLetter]] keeps.
  *
  * Scale notes: every transform is narrow (no shuffle) — a 1000-executor
  * cluster runs the relay embarrassingly parallel, partitioned by the
  * source's natural partitioning; per-key ordering is preserved by the Kafka
  * sink's key-hash partitioning exactly as librdkafka does for the
  * reference (main.go:146-148).
  */
object ChangeEvents {

  /** Document-op whitelist: the four ops that carry `documentKey` + `ns`
    * (main.go:111-116 would panic on anything else).
    */
  val DocumentOps: Seq[String] = Seq("insert", "update", "replace", "delete")

  /** Change-stream event envelope (FIXTURES.md §1): the fixed part is typed,
    * the dynamic payloads stay canonical-ExtJSON strings (schema-on-read,
    * mirroring the reference's schemaless `bson.M`, main.go:104).
    */
  val envelopeSchema: StructType = StructType(Seq(
    StructField("_id", StringType),
    StructField("operationType", StringType),
    StructField("clusterTime", StringType),
    StructField("ns", StructType(Seq(
      StructField("db", StringType),
      StructField("coll", StringType)))),
    StructField("documentKey", StringType),
    StructField("fullDocument", StringType),
    StructField("updateDescription", StringType)))

  /** Dynamic content-based topic routing: `"{db}.{coll}"` (main.go:113). */
  def topicColumn(db: Column, coll: Column): Column = concat_ws(".", db, coll)

  /** Kafka-Connect key envelope around an ExtJSON payload string
    * (main.go:123-131): field order and the constant
    * `{"type":"string","optional":false}` schema stamp match the
    * reference's `json.Marshal` output byte-for-byte. The payload is
    * escaped by the ExtJSON escaper, which follows Go's encoding/json with
    * HTML escaping (`<`, `>`, `&` included). Without a payload (NULL) the
    * envelope has no `payload` member.
    */
  def connectKeyEnvelope(payload: Column): Column =
    glue.toColumn(ChangeEventKey(glue.toExpression(payload)))

  /** Keep only the four document ops; everything else (invalidate, drop,
    * dropDatabase, rename, …) goes to the dead-letter side ([[deadLetter]]).
    */
  def opFilter(df: DataFrame): DataFrame =
    df.filter(col("operationType").isin(DocumentOps: _*))

  /** The complement of [[opFilter]] plus parse failures — the events the
    * reference would crash on or silently drop (SURVEY.md §2.2) — with
    * the reason appended as `dead_letter_reason`:
    * `unsupported operationType: <op>` or `missing operationType`.
    */
  def deadLetter(df: DataFrame): DataFrame =
    df.filter(!col("operationType").isin(DocumentOps: _*) ||
      col("operationType").isNull)
      .withColumn("dead_letter_reason",
        coalesce(concat(lit("unsupported operationType: "), col("operationType")),
          lit("missing operationType")))

  /** Parse raw change-event JSON lines (the file-based stand-in for the
    * change-stream wire format) into the typed envelope, one
    * `parse_change_event` ([[ParseChangeEvent]]) call per line, plus the
    * raw line in `_raw`. A blank line gives no row. A malformed line
    * gives a row whose envelope fields are all NULL — [[deadLetter]]
    * captures it instead of the reference's silent decode-error-skip
    * (main.go:106-108); [[opFilter]] (and thus the relay hot path) never
    * sees it. Batch frames, `MemoryStream` tests and the file source
    * ([[graft.streaming.ChangeStreamRelay.readChangeStream]]) all parse
    * here.
    */
  def parseEnvelope(raw: DataFrame, jsonCol: String = "value"): DataFrame =
    raw.select(
      glue.toColumn(ParseChangeEvent(glue.toExpression(col(jsonCol)))),
      col(jsonCol).as("_raw"))

  /** Kafka value = canonical ExtJSON of the WHOLE event with the dynamic
    * payloads as NESTED OBJECTS (main.go:138, FIXTURES.md §1), rendered
    * by [[ChangeEventValue]] from the envelope columns in one pass. The
    * `clusterTime`/`documentKey`/`fullDocument`/`updateDescription`
    * columns hold canonical-ExtJSON text, which is spliced in RAW when it
    * is one well-formed JSON object or array — running it through
    * `to_json` would re-escape it into a string literal and break every
    * consumer of the reference's topics. Any other payload text (an ISO
    * date, a plain string, broken JSON) is written as a JSON string, so
    * the value is always valid JSON. `_id` and `operationType` are JSON
    * strings and `ns` is canonical ExtJSON (`null` when NULL); NULL
    * payload fields are ABSENT (a delete has no `fullDocument`), matching
    * MarshalExtJSON of the reference's `bson.M`.
    *
    * `_id` fidelity note: a REAL change stream's `_id` is the resume
    * token, a nested document `{"_data":…}` which MarshalExtJSON emits as
    * an OBJECT — pass `idIsExtJson = true` when the envelope carries it
    * as canonical-ExtJSON text (the connector path,
    * [[normalizeConnectorEnvelope]]) and it splices like a payload. The
    * default renders it as a JSON string, matching FIXTURES.md's
    * opaque-string `_id` — the one deliberate divergence from wire-byte
    * parity when fixtures use simple ids.
    */
  def eventValue(idIsExtJson: Boolean = false): Column = {
    def e(name: String) = glue.toExpression(col(name))
    glue.toColumn(ChangeEventValue(e("_id"), e("operationType"), e("clusterTime"), e("ns"),
      e("documentKey"), e("fullDocument"), e("updateDescription"), idIsExtJson))
  }

  /** Normalize the mongo-spark connector's TYPED change-stream columns to
    * this engine's envelope contract (every dynamic payload = VALID
    * canonical-ExtJSON text, ready for [[eventValue]]'s raw splicing):
    *
    *  - `_id` (resume token, a struct like `{"_data":…}`) → `to_json`,
    *    NOT `CAST(… AS STRING)` (Spark struct text is not JSON);
    *  - `clusterTime` (surfaced as a timestamp) → canonical
    *    `{"$timestamp":{"t":<seconds>,"i":0}}` via
    *    [[graft.functions.ExtJson.bson_timestamp]] — a bare
    *    `CAST(… AS STRING)` would splice unquoted `2024-01-01 …` text
    *    into the Kafka value and corrupt it. The ordinal is not exposed
    *    through the connector's typed surface, so `i` pins to 0
    *    (documented divergence from the wire value);
    *  - document payloads (structs) → `to_json` (plain JSON — the
    *    connector's typed surface has already widened the BSON scalar
    *    types, so `$numberLong`-style tags are not recoverable here).
    *
    * String-typed columns pass through untouched (already-rendered
    * envelopes stay intact). Pair with `relay(df, idIsExtJson = true)`.
    */
  def normalizeConnectorEnvelope(df: DataFrame): DataFrame = {
    import graft.functions.ExtJson.{bson_timestamp, ext_json_canonical}
    def jsonify(name: String): Column = df.schema(name).dataType match {
      case StringType => col(name)
      case _ => to_json(col(name))
    }
    val ct = df.schema("clusterTime").dataType match {
      case StringType => col("clusterTime")
      case TimestampType | TimestampNTZType | LongType | IntegerType =>
        ext_json_canonical(
          bson_timestamp(col("clusterTime").cast("long"), lit(0)))
      case other =>
        throw new IllegalArgumentException(
          s"unsupported clusterTime type $other: expected timestamp/long/string")
    }
    df.select(
      jsonify("_id").as("_id"),
      col("operationType"),
      ct.as("clusterTime"),
      col("ns"),
      jsonify("documentKey").as("documentKey"),
      jsonify("fullDocument").as("fullDocument"),
      jsonify("updateDescription").as("updateDescription"))
  }

  /** The full relay hot path (main.go:103-155) as one narrow transform:
    * envelope in → `(topic, key, value)` out, ready for a Kafka sink
    * (`topic`/`key`/`value` are exactly the column names the Spark Kafka
    * sink routes by). `idIsExtJson` — see [[eventValue]].
    */
  def relay(envelope: DataFrame, idIsExtJson: Boolean = false): DataFrame =
    opFilter(envelope)
      .select(
        topicColumn(col("ns.db"), col("ns.coll")).as("topic"),
        connectKeyEnvelope(col("documentKey")).as("key"),
        eventValue(idIsExtJson).as("value"))

  /** Replay/at-least-once compensation: drop duplicate deliveries by key.
    * Batch flavor — deterministic "first by `orderCols`" rather than
    * `dropDuplicates`' arbitrary row, so results are stable and
    * oracle-checkable. Streaming flavor lives in
    * [[graft.streaming.ChangeStreamRelay]] (watermarked dropDuplicates).
    *
    * Scale: one hash-shuffle on the key; with AQE on, skewed hot keys are
    * split at runtime.
    */
  def dedupByKey(df: DataFrame, keyCols: Seq[String], orderCols: Seq[Column]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(orderCols: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Materialized current state per key = last event wins — the batch view
    * of the reference's `FullDocument=UpdateLookup` post-images
    * (main.go:92): consumers see the latest full document per key.
    */
  def latestState(df: DataFrame, keyCols: Seq[String], orderDesc: Seq[Column]): DataFrame =
    dedupByKey(df, keyCols, orderDesc.map(_.desc))
}
