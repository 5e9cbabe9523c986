package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.graftglue.glue
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Canonical MongoDB Extended JSON rendering — the reference's de-facto type
  * system (`bson.MarshalExtJSON(v, canonical=true, escapeHTML=true)`,
  * /root/reference/main.go:117,138): scalars carry type tags so type fidelity
  * survives the JSON-string hop:
  *
  *   Long   → {"$numberLong":"42"}      Int    → {"$numberInt":"42"}
  *   Double → {"$numberDouble":"1.5"}   Decimal→ {"$numberDecimal":"1.50"}
  *   Date   → {"$date":{"$numberLong":"<epoch ms>"}}
  *   String → "s"   Boolean → true/false   Null → null
  *   Binary → {"$binary":{"base64":"…","subType":"00"}}
  *   Struct → {…}   Array → […]   Map → {…}
  *
  * Spark's `to_json` cannot produce these wrappers, hence a native Catalyst
  * expression (not a Scala UDF: no SerDe of the input row to JVM objects —
  * we walk the InternalRow/UnsafeRow directly and write UTF-8 bytes into
  * a [[Utf8Sink]] reused across rows, one copy per result).
  */
case class ExtJsonCanonical(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = StringType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "ext_json_canonical"

  override protected def withNewChildInternal(newChild: Expression): ExtJsonCanonical =
    copy(child = newChild)

  @transient private lazy val out = new Utf8Sink

  override def nullSafeEval(input: Any): Any = {
    out.reset()
    ExtJsonCanonical.render(out, input, child.dataType)
    out.toUTF8String
  }
}

/** A growable buffer of UTF-8 bytes: the JSON renderers write their
  * output straight into it, with no `String` in between.
  */
final class Utf8Sink {
  private var buf = new Array[Byte](256)
  private var len = 0

  def reset(): Unit = len = 0

  private def room(n: Int): Unit =
    if (len + n > buf.length)
      buf = java.util.Arrays.copyOf(buf, math.max(buf.length * 2, len + n))

  def byte(b: Int): Unit = { room(1); buf(len) = b.toByte; len += 1 }

  /** Appends a string whose characters are all ASCII. */
  def ascii(s: String): Unit = {
    val n = s.length
    room(n)
    var i = 0
    while (i < n) { buf(len + i) = s.charAt(i).toByte; i += 1 }
    len += n
  }

  def bytes(src: Array[Byte]): Unit = {
    room(src.length)
    System.arraycopy(src, 0, buf, len, src.length)
    len += src.length
  }

  /** Appends `n` bytes read from `base` at address `off` (the
    * addressing of `UTF8String` and `Platform`).
    */
  def bytes(base: AnyRef, off: Long, n: Int): Unit = {
    room(n)
    base match {
      // arraycopy is an intrinsic of both JIT tiers; Platform.copyMemory
      // is a native call under C1, costly for the short runs copied here
      case a: Array[Byte] =>
        System.arraycopy(a, (off - Platform.BYTE_ARRAY_OFFSET).toInt, buf, len, n)
      case _ => Platform.copyMemory(base, off, buf, Platform.BYTE_ARRAY_OFFSET + len, n)
    }
    len += n
  }

  def toUTF8String: UTF8String = UTF8String.fromBytes(java.util.Arrays.copyOf(buf, len))
}

object ExtJsonCanonical {

  /** Escapes of the ASCII bytes the escaper rewrites, null for the
    * bytes it copies: Go's encoding/json with escapeHTML=true (main.go:117's
    * second `true`), so `<`, `>`, `&` are \u-escaped too.
    */
  private val AsciiEscape: Array[Array[Byte]] = {
    val t = new Array[Array[Byte]](128)
    def set(c: Int, e: String): Unit = t(c) = e.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    (0 until 0x20).foreach(c => set(c, f"\\u$c%04x"))
    set('\n', "\\n"); set('\r', "\\r"); set('\t', "\\t")
    set('"', "\\\""); set('\\', "\\\\")
    set('<', "\\u003c"); set('>', "\\u003e"); set('&', "\\u0026")
    t
  }
  private val LineSep = "\\u2028".getBytes(java.nio.charset.StandardCharsets.US_ASCII)
  private val ParaSep = "\\u2029".getBytes(java.nio.charset.StandardCharsets.US_ASCII)
  private val Replacement = Array(0xEF.toByte, 0xBF.toByte, 0xBD.toByte)

  /** Length of the well-formed UTF-8 sequence that starts with the
    * non-ASCII byte at `off` (2 to 4), or minus the length of its
    * maximal ill-formed prefix (Unicode §3.9), which a decoder replaces
    * with one U+FFFD. `avail` bytes are readable from `off`.
    */
  private[graft] def utf8Length(base: AnyRef, off: Long, avail: Int): Int = {
    val b0 = Platform.getByte(base, off) & 0xFF
    var n = 0
    var lo = 0x80 // range of the second byte
    var hi = 0xBF
    if (b0 >= 0xC2 && b0 <= 0xDF) n = 2
    else if (b0 >= 0xE0 && b0 <= 0xEF) {
      n = 3; if (b0 == 0xE0) lo = 0xA0 else if (b0 == 0xED) hi = 0x9F
    } else if (b0 >= 0xF0 && b0 <= 0xF4) {
      n = 4; if (b0 == 0xF0) lo = 0x90 else if (b0 == 0xF4) hi = 0x8F
    } else return -1
    var i = 1
    while (i < n) {
      if (i >= avail) return -i
      val c = Platform.getByte(base, off + i) & 0xFF
      if (if (i == 1) c < lo || c > hi else c < 0x80 || c > 0xBF) return -i
      i += 1
    }
    n
  }

  /** JSON string escape matching Go's encoding/json with escapeHTML=true
    * (main.go:117), over the UTF-8 bytes at `base`/`off`: `"`, `\`,
    * controls (`\n`, `\r`, `\t`, else `\u00xx`), `<`, `>`, `&` and the
    * JS line separators U+2028/U+2029 are escaped; every other character
    * is copied as is. Ill-formed UTF-8 is replaced by U+FFFD, as a
    * decoder would.
    */
  private[graft] def escape(out: Utf8Sink, base: AnyRef, off: Long, n: Int): Unit = {
    val table = AsciiEscape // a local: C1 reloads fields on every iteration
    out.byte('"')
    var i = 0
    var run = 0 // start of the bytes copied as they are
    while (i < n) {
      val b = Platform.getByte(base, off + i)
      if (b >= 0) {
        val e = table(b)
        if (e != null) {
          out.bytes(base, off + run, i - run); out.bytes(e); run = i + 1
        }
        i += 1
      } else {
        val k = utf8Length(base, off + i, n - i)
        if (k == 3 && b == 0xE2.toByte && Platform.getByte(base, off + i + 1) == 0x80.toByte &&
            (Platform.getByte(base, off + i + 2) & 0xFE) == 0xA8) {
          out.bytes(base, off + run, i - run)
          out.bytes(if (Platform.getByte(base, off + i + 2) == 0xA8.toByte) LineSep else ParaSep)
          run = i + 3
        } else if (k < 0) {
          out.bytes(base, off + run, i - run); out.bytes(Replacement); run = i - k
        }
        i += math.abs(k)
      }
    }
    out.bytes(base, off + run, n - run)
    out.byte('"')
  }

  private[graft] def escape(out: Utf8Sink, s: UTF8String): Unit =
    escape(out, s.getBaseObject, s.getBaseOffset, s.numBytes)

  /** [[escape]] of a `String`; a name of plain printable ASCII, such as
    * most field names, is copied without an intermediate `UTF8String`.
    */
  private[graft] def escape(out: Utf8Sink, s: String): Unit = {
    var i = 0
    while (i < s.length && { val c = s.charAt(i); c >= ' ' && c < 0x7F && AsciiEscape(c) == null })
      i += 1
    if (i < s.length) escape(out, UTF8String.fromString(s))
    else { out.byte('"'); out.ascii(s); out.byte('"') }
  }

  /** Double text matching the Go mongo-driver's canonical-ExtJSON
    * `formatDouble`: shortest round-trip digits rendered with
    * `strconv.FormatFloat(f, 'G', -1, 64)` semantics — exponential form
    * (`dE±XX`, upper-case E, signed two-digit-minimum exponent) when the
    * decimal exponent is < -4 or ≥ 6, plain decimal otherwise — and a
    * `.0` appended to integral plain forms (3.0 → "3.0", 1e21 →
    * "1E+21", 1e-5 → "1E-05"). The shortest digits come from Java's
    * `Double.toString`; on rare pre-JDK-19 inputs Java emits one digit
    * more than Go's shortest — same value, one extra digit.
    */
  private[functions] def doubleText(d: Double): String = {
    if (d.isNaN) "NaN"
    else if (d.isPosInfinity) "Infinity"
    else if (d.isNegInfinity) "-Infinity"
    else if (d == 0.0) { if (1.0 / d < 0) "-0.0" else "0.0" }
    else {
      val neg = d < 0
      val s = java.lang.Double.toString(math.abs(d)) // "ddd.ddd" or "d.dddE±x"
      // normalize to (digits without leading/trailing zeros, decimal point
      // position dp): value = 0.<digits> × 10^dp
      val (digits, dp) = {
        val eIdx = s.indexOf('E')
        val mant = if (eIdx < 0) s else s.substring(0, eIdx)
        val e = if (eIdx < 0) 0 else s.substring(eIdx + 1).toInt
        val dot = mant.indexOf('.')
        val raw = mant.substring(0, dot) + mant.substring(dot + 1)
        val lead = raw.indexWhere(_ != '0')
        val trimmed = raw.substring(lead).reverse.dropWhile(_ == '0').reverse
        (trimmed, dot - lead + e)
      }
      val exp = dp - 1
      val sb = new java.lang.StringBuilder(24)
      if (neg) sb.append('-')
      if (exp < -4 || exp >= 6) {
        sb.append(digits.charAt(0))
        if (digits.length > 1) sb.append('.').append(digits, 1, digits.length)
        sb.append('E').append(if (exp < 0) '-' else '+')
        val ae = math.abs(exp)
        if (ae < 10) sb.append('0')
        sb.append(ae)
      } else if (dp <= 0) {
        sb.append("0.")
        var i = dp; while (i < 0) { sb.append('0'); i += 1 }
        sb.append(digits)
      } else if (dp >= digits.length) {
        sb.append(digits)
        var i = digits.length; while (i < dp) { sb.append('0'); i += 1 }
        sb.append(".0")
      } else {
        sb.append(digits, 0, dp).append('.').append(digits, dp, digits.length)
      }
      sb.toString
    }
  }

  def render(out: Utf8Sink, v: Any, dt: DataType): Unit = {
    if (v == null) { out.ascii("null"); return }
    if (v.isInstanceOf[UTF8String]) { escape(out, v.asInstanceOf[UTF8String]); return }
    dt match {
      case BooleanType => out.ascii(v.toString)
      case ByteType | ShortType | IntegerType =>
        out.ascii("{\"$numberInt\":\""); out.ascii(v.toString); out.ascii("\"}")
      case LongType =>
        out.ascii("{\"$numberLong\":\""); out.ascii(v.toString); out.ascii("\"}")
      case FloatType | DoubleType =>
        val d = v match {
          case f: java.lang.Float => f.toDouble
          case d: java.lang.Double => d.doubleValue()
        }
        out.ascii("{\"$numberDouble\":\""); out.ascii(doubleText(d)); out.ascii("\"}")
      case _: DecimalType =>
        out.ascii("{\"$numberDecimal\":\"")
        out.ascii(v.asInstanceOf[Decimal].toBigDecimal.bigDecimal.toPlainString)
        out.ascii("\"}")
      case TimestampType | TimestampNTZType =>
        // stored micros → BSON $date is epoch millis; floorDiv, not /, so
        // pre-1970 sub-millisecond values floor like Go's time.UnixMilli
        val ms = Math.floorDiv(v.asInstanceOf[Long], 1000L)
        out.ascii("{\"$date\":{\"$numberLong\":\""); out.ascii(ms.toString); out.ascii("\"}}")
      case DateType =>
        val ms = v.asInstanceOf[Int].toLong * 86400000L
        out.ascii("{\"$date\":{\"$numberLong\":\""); out.ascii(ms.toString); out.ascii("\"}}")
      case BinaryType =>
        val b64 = java.util.Base64.getEncoder.encodeToString(v.asInstanceOf[Array[Byte]])
        out.ascii("{\"$binary\":{\"base64\":\""); out.ascii(b64); out.ascii("\",\"subType\":\"00\"}}")
      // BSON Timestamp carries its t/i as PLAIN JSON numbers in canonical
      // ExtJSON (the one spec'd exception to scalar tagging) — a struct
      // following the {"$timestamp":{t,i}} convention renders that way
      case st: StructType
          if st.length == 1 && st(0).name == "$timestamp" &&
            (st(0).dataType match {
              case inner: StructType =>
                inner.length == 2 && inner(0).name == "t" && inner(1).name == "i" &&
                  inner.forall(f => f.dataType == LongType || f.dataType == IntegerType)
              case _ => false
            }) && !v.asInstanceOf[InternalRow].isNullAt(0) =>
        val inner = st(0).dataType.asInstanceOf[StructType]
        val ts = v.asInstanceOf[InternalRow].getStruct(0, 2)
        out.ascii("{\"$timestamp\":{\"t\":")
        out.ascii(String.valueOf(ts.get(0, inner(0).dataType)))
        out.ascii(",\"i\":")
        out.ascii(String.valueOf(ts.get(1, inner(1).dataType)))
        out.ascii("}}")
      case st: StructType =>
        val row = v.asInstanceOf[InternalRow]
        out.byte('{')
        var i = 0
        while (i < st.length) {
          if (i > 0) out.byte(',')
          escape(out, st(i).name)
          out.byte(':')
          render(out, if (row.isNullAt(i)) null else row.get(i, st(i).dataType), st(i).dataType)
          i += 1
        }
        out.byte('}')
      case at: ArrayType =>
        val arr = v.asInstanceOf[ArrayData]
        out.byte('[')
        var i = 0
        while (i < arr.numElements()) {
          if (i > 0) out.byte(',')
          render(out, if (arr.isNullAt(i)) null else arr.get(i, at.elementType), at.elementType)
          i += 1
        }
        out.byte(']')
      case mt: MapType =>
        val m = v.asInstanceOf[MapData]
        val keys = m.keyArray(); val vals = m.valueArray()
        out.byte('{')
        var i = 0
        while (i < m.numElements()) {
          if (i > 0) out.byte(',')
          keys.get(i, mt.keyType) match {
            case k: UTF8String => escape(out, k)
            case k => escape(out, String.valueOf(k))
          }
          out.byte(':')
          render(out, if (vals.isNullAt(i)) null else vals.get(i, mt.valueType), mt.valueType)
          i += 1
        }
        out.byte('}')
      case _ =>
        escape(out, String.valueOf(v))
    }
  }
}

/** Column-level entry points for the ExtJSON family. */
object ExtJson {
  import org.apache.spark.sql.functions.{coalesce, get_json_object, lower, hex, struct}

  /** Render any column as canonical Extended JSON (main.go:117,138). */
  def ext_json_canonical(c: Column): Column =
    glue.toColumn(ExtJsonCanonical(glue.toExpression(c)))

  /** ObjectId convention: wrap a 12-byte `binary` column (or any binary
    * holding a Mongo ObjectId) so [[ext_json_canonical]] renders it as
    * the BSON `{"$oid":"<24-hex>"}` form instead of generic `$binary` —
    * a struct whose single field is literally named `$oid` carrying the
    * lower-case hex, which is exactly the canonical shape the reference's
    * MarshalExtJSON emits for `primitive.ObjectID` (main.go:117).
    * Compose inside structs: `struct(object_id(col("id")).as("_id"), …)`.
    */
  def object_id(binaryCol: Column): Column =
    struct(lower(hex(binaryCol)).as("$oid"))

  /** BSON Timestamp convention (the type a change stream's `clusterTime`
    * really is): renders as `{"$timestamp":{"t":<seconds>,"i":<ordinal>}}`
    * with t/i as PLAIN JSON numbers — the canonical-spec form, which the
    * renderer special-cases (a generic struct would tag the longs as
    * `$numberLong`).
    */
  def bson_timestamp(seconds: Column, ordinal: Column): Column =
    struct(struct(seconds.cast("long").as("t"),
      ordinal.cast("long").as("i")).as("$timestamp"))

  /** BSON regular-expression convention: renders as
    * `{"$regularExpression":{"pattern":"…","options":"…"}}` (canonical
    * spec form the Go driver emits for `primitive.Regex`).
    */
  def bson_regex(pattern: Column, options: Column): Column =
    struct(struct(pattern.as("pattern"), options.as("options"))
      .as("$regularExpression"))

  /** Full-fidelity Decimal128 convention: carries the canonical
    * significand/exponent TEXT (`"NaN"`, `"Infinity"`, `"-Infinity"`,
    * `"1E-6143"`, …) so the values Spark's `DecimalType` cannot represent
    * — IEEE 754-2008 decimal128 specials and the full ±6144 exponent
    * range the Go driver's `primitive.Decimal128` round-trips
    * (main.go:117) — still render as `{"$numberDecimal":"…"}`. A Spark
    * decimal column renders its plain string; for in-range values prefer
    * the typed column (ext_json_canonical tags it identically).
    */
  def bson_decimal128(text: Column): Column =
    struct(text.cast("string").as("$numberDecimal"))

  /** BSON Binary with an explicit subtype: renders as
    * `{"$binary":{"base64":"…","subType":"xx"}}`. `ext_json_canonical`
    * on a raw `binary` column defaults to subtype "00" (generic); this
    * convention carries the declared subtype — "04" UUID, "05" MD5,
    * "80"+ user-defined — which the canonical spec preserves.
    */
  def bson_binary(bytes: Column, subType: Column): Column =
    struct(struct(org.apache.spark.sql.functions.base64(bytes).as("base64"),
      subType.as("subType")).as("$binary"))

  /** Read a value back out of canonical ExtJSON, unwrapping the scalar
    * type tags (`{"$numberLong":"42"}` → `"42"`, `$date` → epoch millis,
    * plain strings pass through). `path` is a JSON path like `$._id`.
    */
  def ext_json_get(c: Column, path: String): Column =
    coalesce(
      get_json_object(c, s"$path['$$numberLong']"),
      get_json_object(c, s"$path['$$numberInt']"),
      get_json_object(c, s"$path['$$numberDouble']"),
      get_json_object(c, s"$path['$$numberDecimal']"),
      get_json_object(c, s"$path['$$date']['$$numberLong']"),
      get_json_object(c, path))
}
