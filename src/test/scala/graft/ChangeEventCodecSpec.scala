package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.Prop.propBoolean

import graft.cdc.ChangeEvents

/** The change-event codec (`ChangeEventCodec.scala`): `parse_change_event`
  * against Spark's two JSON readers (`from_json` and the JSON file
  * source) over the same lines, the deliberate divergences pinned one by
  * one, and the key and value renderers.
  */
class ChangeEventCodecSpec extends SparkSpec {
  import spark.implicits._

  // strict: trailing content after the document is an error
  private val mapper = new ObjectMapper()
    .enable(com.fasterxml.jackson.databind.DeserializationFeature.FAIL_ON_TRAILING_TOKENS)
  private val fields = ChangeEvents.envelopeSchema.fieldNames.toSeq

  /** One envelope row as plain values; `ns` as a (db, coll) pair. */
  private def norm(r: Row): Seq[Any] = fields.indices.map { i =>
    r.get(i) match {
      case ns: Row => (ns.get(0), ns.get(1))
      case v => v
    }
  }
  private def allNull(r: Seq[Any]): Boolean = r.forall(_ == null)

  private def parsed(lines: DataFrame): Seq[Seq[Any]] =
    ChangeEvents.parseEnvelope(lines).select(fields.map(col): _*).collect().map(norm).toSeq
  private def fromJson(lines: DataFrame): Seq[Seq[Any]] =
    lines.select(from_json(col("value"), ChangeEvents.envelopeSchema).as("ev"))
      .select(fields.map(f => col(s"ev.$f")): _*).collect().map(norm).toSeq
  private def fileSource(dir: String): Seq[Seq[Any]] =
    spark.read.schema(ChangeEvents.envelopeSchema).json(dir)
      .select(fields.map(col): _*).collect().map(norm).toSeq

  /** A directory holding one file with `lines`, written as raw bytes. */
  private def lineFile(lines: Seq[Array[Byte]]): String = {
    val dir = Files.createTempDirectory("codec_lines")
    val bytes = new java.io.ByteArrayOutputStream()
    lines.foreach { l => bytes.write(l); bytes.write('\n') }
    Files.write(dir.resolve("lines.json"), bytes.toByteArray)
    dir.toString
  }

  /** The three readers over the same lines: (parse_change_event,
    * from_json, file source), each read from one file of raw bytes.
    */
  private def threeWays(lines: Seq[Array[Byte]]): (Seq[Seq[Any]], Seq[Seq[Any]], Seq[Seq[Any]]) = {
    val dir = lineFile(lines)
    val text = spark.read.text(dir)
    (parsed(text), fromJson(text), fileSource(dir))
  }

  private def json(s: String): com.fasterxml.jackson.databind.JsonNode = mapper.readTree(s)

  /** Equal, or both JSON text of the same value: `from_json` rewrites the
    * text of non-string values through Jackson.
    */
  private def sameValue(a: Any, b: Any): Boolean = (a, b) match {
    case ((a1, a2), (b1, b2)) => sameValue(a1, b1) && sameValue(a2, b2)
    case (x: String, y: String) =>
      x == y || scala.util.Try(json(x) == json(y)).getOrElse(false)
    case _ => a == b
  }

  // ---- a generator of change-event lines -------------------------------

  private val ws: Gen[String] = Gen.frequency(6 -> "", 1 -> " ", 1 -> "\t", 1 -> " \t ")
  /** Pieces of JSON string content, already escaped. */
  private val piece: Gen[String] = Gen.oneOf(
    "a", "Z", "0", " ", "é", "数据", "☃", "😀", "<b>", "&",
    "\\\"", "\\\\", "\\n", "\\t", "\\/", "\\b", "\\f", "\\u001f", "\\u00e9", "\\u0041",
    "\\ud83d\\ude00", "\\u2028")
  private val str: Gen[String] = Gen.listOf(piece).map(p => "\"" + p.mkString + "\"")
  private val num: Gen[String] =
    Gen.oneOf("0", "-1", "42", "1.5", "-0.25", "1e3", "2E-2", "123456789012", "1.50")
  private val scalar: Gen[String] =
    Gen.frequency(4 -> str, 2 -> num, 1 -> Gen.oneOf("true", "false", "null"))
  private def value(depth: Int): Gen[String] =
    if (depth == 0) scalar
    else Gen.frequency(3 -> scalar, 1 -> obj(depth - 1), 1 -> arr(depth - 1))
  private def arr(depth: Int): Gen[String] = for {
    n <- Gen.choose(0, 3); vs <- Gen.listOfN(n, value(depth)); a <- ws; b <- ws
  } yield "[" + a + vs.mkString(b + "," + a) + b + "]"
  private def obj(depth: Int): Gen[String] = for {
    n <- Gen.choose(0, 3)
    ms <- Gen.listOfN(n, for { k <- str; v <- value(depth); a <- ws } yield k + a + ":" + a + v)
    a <- ws
  } yield "{" + a + ms.mkString(a + "," + a) + a + "}"
  /** ExtJSON documents as Gen.scala emits them. */
  private val extJson: Gen[String] = Gen.oneOf(
    """{"$timestamp":{"t":1704067200,"i":3}}""",
    """{"_id":{"$oid":"65a1b2c3d4e5f60718293a4b"},"region":"r1"}""",
    """{"_id":{"$numberLong":"7919"},"f0":{"$date":{"$numberLong":"1600000000000"}},"f1":"tab\there \"q\"","f2":[{"$numberInt":"-3"},null,true]}""",
    """{"updatedFields":{"f0":{"$numberDouble":"NaN"}},"removedFields":["f3"],"truncatedArrays":[]}""",
    """{"_id":"doc-1","f0":"naïve café 数据 emoji☃","f1":{"$binary":{"base64":"AAEC","subType":"00"}}}""")
  /** JSON string literal whose content is `text`. */
  private def quoted(text: String): String =
    "\"" + text.replace("\\", "\\\\").replace("\"", "\\\"").replace("\t", "\\t") + "\""

  /** A payload in either form: a JSON object or array, or the ExtJSON
    * string form of FIXTURES.md §1; sometimes another scalar or `null`.
    */
  private val payload: Gen[String] = Gen.frequency(
    3 -> extJson, 2 -> extJson.map(quoted), 2 -> obj(2), 1 -> obj(2).map(quoted),
    1 -> arr(1), 1 -> scalar, 1 -> Gen.const("null"))
  private val ns: Gen[String] = Gen.frequency(
    6 -> (for {
      db <- Gen.oneOf("\"app\"", "\"sh\\u006fp\"", "\"crm\"", "1", "{\"x\":[1]}", "null")
      coll <- Gen.option(Gen.oneOf("\"users\"", "\"数据\"", "\"a.b\""))
      extra <- Gen.option(Gen.const("\"size\":3"))
      a <- ws
    } yield "{" + a + (Seq("\"db\":" + a + db) ++ coll.map("\"coll\":" + _) ++ extra)
      .mkString("," + a) + a + "}"),
    1 -> Gen.oneOf("\"app.users\"", "42", "[\"app\"]", "null"))
  private val op: Gen[String] = Gen.oneOf("\"insert\"", "\"update\"", "\"replace\"",
    "\"delete\"", "\"invalidate\"", "\"drop\"", "\"ins\\u0065rt\"")
  private val member: Gen[(String, String)] = Gen.oneOf(
    op.map("\"operationType\"" -> _),
    Gen.oneOf("\"operation\\u0054ype\"", "\"operationType\"").flatMap(k => op.map(k -> _)),
    str.map("\"_id\"" -> _),
    Gen.frequency(3 -> extJson, 1 -> Gen.const("\"2024-01-01T00:00:00Z\""), 1 -> num)
      .map("\"clusterTime\"" -> _),
    ns.map("\"ns\"" -> _),
    payload.map("\"documentKey\"" -> _),
    payload.map("\"fullDocument\"" -> _),
    payload.map("\"updateDescription\"" -> _),
    // unknown members, and names that only look like envelope fields
    value(2).map("\"wallTime\"" -> _),
    value(1).map("\"OperationType\"" -> _),
    Gen.const("\"txnNumber\"" -> "7"))

  /** One event line: envelope members in any order, some repeated. */
  private val line: Gen[String] = for {
    n <- Gen.choose(0, 9)
    ms <- Gen.listOfN(n, member)
    a <- ws; b <- ws; lead <- ws; trail <- ws
  } yield lead + "{" + a + ms.map { case (k, v) => k + b + ":" + b + v }.mkString(a + "," + b) +
    b + "}" + trail

  test("parse_change_event agrees with from_json and the JSON file source") {
    val prop = Prop.forAllNoShrink(Gen.listOfN(60, line)) { lines =>
      val (mine, fj, fs) = threeWays(lines.map(_.getBytes(UTF_8)))
      // the file source keeps the text of non-string values as written,
      // as parse_change_event does: the two agree byte for byte
      val sameAsFile = mine == fs
      // from_json rewrites that text through Jackson: same JSON value
      val sameAsFromJson = mine.size == fj.size && mine.zip(fj).forall { case (m, f) =>
        m.zip(f).forall { case (x, y) => sameValue(x, y) }
      }
      (sameAsFile && sameAsFromJson) :| {
        val bad = lines.indices.find(i => mine(i) != fs(i) ||
          !mine(i).zip(fj(i)).forall { case (x, y) => sameValue(x, y) })
        bad.map(i => s"line ${lines(i)}\n mine ${mine(i)}\n file ${fs(i)}\n from_json ${fj(i)}")
          .getOrElse(s"row counts ${mine.size} / ${fj.size} / ${fs.size}")
      }
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(15), prop)
    assert(res.passed, res.status.toString)
  }

  test("a line cut at any byte offset is malformed as a whole") {
    val events = Seq(
      """{"_id":"8263a1","operationType":"insert","clusterTime":{"$timestamp":{"t":1704067200,"i":1}},""" +
        """"ns":{"db":"shop","coll":"数据"},"documentKey":{"_id":{"$oid":"65a1b2c3d4e5f60718293a4b"}},""" +
        """"fullDocument":{"_id":{"$oid":"65a1b2c3d4e5f60718293a4b"},"s":"naïve \"q\" 😀 ☃"}}""",
      """{"_id":"2","operationType":"update","clusterTime":"2024-01-01T00:00:00Z","ns":{"db":"app","coll":"c"},""" +
        """"documentKey":"{\"_id\":2}","fullDocument":"{\"v\":\"café 😀\"}",""" +
        """"updateDescription":"{\"updatedFields\":{\"v\":1},\"removedFields\":[]}"}""",
      """{ "operationType" : "delete" , "ns" : { "db" : "crm" , "coll" : "users" } ,""" +
        """ "documentKey" : { "_id" : "k\\n1" } }""")
      .map(_.getBytes(UTF_8))
    val (full, _, _) = threeWays(events)
    assert(full.forall(r => r(fields.indexOf("operationType")) != null), full)
    for ((event, i) <- events.zipWithIndex) {
      val cuts = (1 until event.length).map(k => event.take(k))
      val (mine, fj, fs) = threeWays(cuts)
      assert(mine.size === cuts.size && fj.size === cuts.size && fs.size === cuts.size)
      assert(mine.forall(allNull), "every cut line must parse to an all-NULL row")
      // Deliberate divergence: Spark's readers keep the members read
      // before the fault (their partial results); each such member holds
      // its value from the whole line
      for (spark <- Seq(fj, fs)) {
        assert(spark.exists(r => !allNull(r)), s"event $i: Spark keeps no partial rows here")
        assert(spark.forall(_.zip(full(i)).forall { case (p, f) => p == null || sameValue(p, f) }))
      }
    }
  }

  /** Rows of one line from (parse_change_event, from_json, file source). */
  private def one(line: String) = threeWays(Seq(line.getBytes(UTF_8)))
  private def row(members: (String, Any)*): Seq[Any] = {
    val m = members.toMap
    fields.map(f => m.getOrElse(f, null))
  }
  private val malformed = row()

  test("divergence pinned: Spark's lenient grammar makes the line malformed here") {
    // single quotes and bare NaN: Spark accepts both by default
    assert(one("{'operationType':'insert'}") ===
      (Seq(malformed), Seq(row("operationType" -> "insert")), Seq(row("operationType" -> "insert"))))
    assert(one("""{"operationType":"insert","fullDocument":NaN}""") ===
      (Seq(malformed),
        Seq(row("operationType" -> "insert", "fullDocument" -> "\"NaN\"")),
        Seq(row("operationType" -> "insert", "fullDocument" -> "NaN"))))
    // content after the object: Spark reads the object and ignores the rest
    assert(one("""{"operationType":"insert"} {"x"""") ===
      (Seq(malformed), Seq(row("operationType" -> "insert")), Seq(row("operationType" -> "insert"))))
  }

  test("divergence pinned: a top-level array is malformed, not one event per element") {
    assert(one("""[{"operationType":"insert"},{"operationType":"delete"}]""") ===
      (Seq(malformed), Seq(malformed),
        Seq(row("operationType" -> "insert"), row("operationType" -> "delete"))))
  }

  test("divergence pinned: non-string values keep their text, as the file source does") {
    val (mine, fj, fs) = one("""{"operationType":"insert","documentKey":{"a": 1.50, "b":"\/"},"clusterTime":1e2}""")
    assert(mine === Seq(row("operationType" -> "insert", "clusterTime" -> "1e2",
      "documentKey" -> """{"a": 1.50, "b":"\/"}""")))
    assert(fs === mine)
    assert(fj === Seq(row("operationType" -> "insert", "clusterTime" -> "100.0",
      "documentKey" -> """{"a":1.5,"b":"/"}""")))
  }

  test("agreements pinned: blank, malformed, partial ns, duplicates, escapes") {
    val lines = Seq("", "  \t", "not json", "null", "42",
      """{"operationType":"insert","ns":"app.users","_id":"1"}""",
      """{"operationType":"insert","ns":{"db":"a","coll":"b"},"ns":[1]}""",
      """{"operationType":"insert","fullDocument":{"x":1},"fullDocument":null,"_id":"a","_id":"b"}""",
      "{\"operationType\":\"update\",\"fullDocument\":\"\\ud800x\",\"documentKey\":\"\\\"k\\\\1\\\"\"}")
    val expected = Seq(malformed, malformed, malformed,
      row("_id" -> "1", "operationType" -> "insert"),
      row("operationType" -> "insert", "ns" -> ("a", "b")),
      row("_id" -> "b", "operationType" -> "insert"),
      row("operationType" -> "update", "fullDocument" -> "?x", "documentKey" -> "\"k\\1\""))
    val (mine, fj, fs) = threeWays(lines.map(_.getBytes(UTF_8)))
    // blank lines: no row here nor in the file source; from_json gives NULL
    assert(mine === expected)
    assert(fs === expected)
    assert(fj === Seq(row(), row()) ++ expected)
    assert(ChangeEvents.parseEnvelope(Seq[String](null).toDF("value")).count() === 0)
  }

  test("a line with ill-formed UTF-8 is malformed, as in the file source") {
    val bad = """{"operationType":"insert","fullDocument":"x?y"}""".getBytes(UTF_8)
    bad(bad.indexOf('?'.toByte)) = 0xC3.toByte // a lead byte with no continuation
    val (mine, _, fs) = threeWays(Seq(bad))
    assert(mine === Seq(malformed))
    assert(fs === Seq(malformed))
  }

  // ---- renderers ----------------------------------------------------------

  private def render(c: org.apache.spark.sql.Column, env: DataFrame): String =
    env.select(c.as("v")).head().getString(0)

  /** An envelope row; every field a string, `ns` a struct. */
  private def envelope(id: String, op: String, ct: String, db: String, dk: String,
      fd: String, ud: String, nsNull: Boolean = false): DataFrame = {
    def s(v: String) = lit(v).cast("string")
    spark.range(1).select(s(id).as("_id"), s(op).as("operationType"), s(ct).as("clusterTime"),
      (if (nsNull) lit(null).cast("struct<db:string,coll:string>")
       else struct(s(db).as("db"), lit("c").as("coll"))).as("ns"),
      s(dk).as("documentKey"), s(fd).as("fullDocument"), s(ud).as("updateDescription"))
  }

  test("key envelope escapes the payload with Go's json.Marshal rules") {
    val env = spark.range(1).select(lit("a<b>&c \b\f\u001f\"\\é").as("k"))
    assert(render(ChangeEvents.connectKeyEnvelope(col("k")), env) ===
      "{\"schema\":{\"type\":\"string\",\"optional\":false},\"payload\":" +
        "\"a\\u003cb\\u003e\\u0026c\\u2028\\u0008\\u000c\\u001f\\\"\\\\é\"}")
    val none = spark.range(1).select(lit(null).cast("string").as("k"))
    assert(render(ChangeEvents.connectKeyEnvelope(col("k")), none) ===
      """{"schema":{"type":"string","optional":false}}""")
  }

  test("value splices object and array payloads raw and quotes every other payload") {
    val v = render(ChangeEvents.eventValue(), envelope("1", "insert", "2024-01-01T00:00:00Z",
      "app", " {\"_id\":1} ", "plain string", "[1, {\"a\":null}]"))
    assert(v === """{"_id":"1","operationType":"insert","clusterTime":"2024-01-01T00:00:00Z",""" +
      """"ns":{"db":"app","coll":"c"},"documentKey":{"_id":1},"fullDocument":"plain string",""" +
      """"updateDescription":[1, {"a":null}]}""")
    val broken = render(ChangeEvents.eventValue(), envelope("2", "update", "{\"t\":", "a",
      "{not json", "{'a':1}", "[NaN]"))
    assert(broken === """{"_id":"2","operationType":"update","clusterTime":"{\"t\":",""" +
      """"ns":{"db":"a","coll":"c"},"documentKey":"{not json","fullDocument":"{'a':1}",""" +
      """"updateDescription":"[NaN]"}""")
    // NULL _id, operationType and ns render as null: the value stays a document
    assert(render(ChangeEvents.eventValue(), envelope(null, null, null, null, null, null, null,
      nsNull = true)) === """{"_id":null,"operationType":null,"ns":null}""")
    // idIsExtJson: an object _id splices, any other text is a string
    assert(render(ChangeEvents.eventValue(idIsExtJson = true),
      envelope("{\"_data\":\"8263\"}", "delete", null, "a", null, null, null)) ===
      """{"_id":{"_data":"8263"},"operationType":"delete","ns":{"db":"a","coll":"c"}}""")
    assert(render(ChangeEvents.eventValue(idIsExtJson = true),
      envelope("8263", "delete", null, "a", null, null, null)) ===
      """{"_id":"8263","operationType":"delete","ns":{"db":"a","coll":"c"}}""")
  }

  test("every rendered value is valid JSON whatever the payload text") {
    val text: Gen[String] = Gen.frequency(
      3 -> payload, 2 -> line, 2 -> Gen.asciiPrintableStr, 1 -> Gen.alphaNumStr.map("{" + _),
      1 -> Gen.listOf(Gen.oneOf('"', '\\', '{', '}', '[', ']', ',', ':', 'é', ' ', '\u0001'))
        .map(_.mkString))
    val prop = Prop.forAllNoShrink(Gen.listOfN(40, Gen.zip(text, text, text, text))) { rows =>
      val env = rows.map { case (a, b, c, d) => (a, "insert", b, c, d, a) }
        .toDF("_id", "operationType", "clusterTime", "documentKey", "fullDocument",
          "updateDescription")
        .withColumn("ns", struct(col("_id").as("db"), col("_id").as("coll")))
      val values = env.select(ChangeEvents.eventValue().as("v")).as[String].collect()
      values.zip(rows).forall { case (v, (_, b, c, d)) =>
        val t = json(v)
        // a payload is its JSON value when it is object or array text,
        // and its text otherwise
        Seq("clusterTime" -> b, "documentKey" -> c, "fullDocument" -> d).forall { case (f, p) =>
          val container = scala.util.Try(json(p)).toOption
            .filter(n => n.isContainerNode && p.trim.headOption.exists("{[".contains(_)))
          container match {
            case Some(n) => t.get(f) == n
            case None => t.get(f).isTextual && t.get(f).asText == p
          }
        }
      }
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(20), prop)
    assert(res.passed, res.status.toString)
  }

  test("interpreted evaluation gives the rows generated code gives") {
    val lines = Gen.listOfN(40, line).apply(Gen.Parameters.default, org.scalacheck.rng.Seed(7L)).get
    def relayed(): Seq[Row] =
      ChangeEvents.relay(ChangeEvents.parseEnvelope(lines.toDF("value").repartition(2)))
        .collect().toSeq.sortBy(_.getString(2))
    val generated = relayed()
    val conf = Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    val interpreted = try relayed() finally conf.foreach { case (k, _) => spark.conf.unset(k) }
    assert(generated.nonEmpty)
    assert(interpreted === generated)
  }
}
