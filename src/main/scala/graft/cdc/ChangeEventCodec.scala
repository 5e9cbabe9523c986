package graft.cdc

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral, JavaCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{DataType, StringType, StructType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{ExtJsonCanonical, Utf8Sink}

/** The change-event codec: one strict, byte-level JSON scanner (RFC 8259)
  * shared by the line parser ([[ParseChangeEvent]]) and the two relay
  * renderers ([[ChangeEventKey]], [[ChangeEventValue]]). It reads the
  * bytes of a `UTF8String` in place; the text it returns for a field is
  * a view of the input bytes unless an escape had to be decoded.
  *
  * Strict means: no single quotes, no `NaN`/`Infinity`, no comments, no
  * leading zeros or `+` signs, no raw control characters in strings,
  * well-formed UTF-8 inside strings, and nesting at most
  * [[JsonScanner.MaxDepth]] deep.
  */
private[cdc] final class JsonScanner {
  import JsonScanner._

  /** The bytes being scanned, readable up to (not including) `end`. */
  var b: Array[Byte] = Array.emptyByteArray
  var end = 0
  /** Set by [[string]]: whether the string it scanned holds an escape. */
  var escaped = false
  /** Set by [[container]]: the bounds of the object or array found. */
  var spanStart = 0
  var spanEnd = 0

  /** Points the scanner at the bytes of `s`; returns the index of its first byte. */
  def load(s: UTF8String): Int = s.getBaseObject match {
    case a: Array[Byte] =>
      b = a
      val start = (s.getBaseOffset - Platform.BYTE_ARRAY_OFFSET).toInt
      end = start + s.numBytes
      start
    case _ =>
      b = s.getBytes
      end = b.length
      0
  }

  // The loops below read `b` and `end` into locals: C1, the benchmark's
  // JIT, reloads fields on every iteration.

  /** The first index at or after `from` that is not JSON whitespace. */
  def ws(from: Int): Int = {
    val b = this.b
    val end = this.end
    var i = from
    while (i < end && { val c = b(i); c == ' ' || c == '\t' || c == '\n' || c == '\r' }) i += 1
    i
  }

  /** Scans the string whose opening quote is at `at`; returns the index
    * after its closing quote, or -1 when it is not a well-formed string.
    */
  def string(at: Int): Int = {
    val b = this.b
    val end = this.end
    escaped = false
    var i = at + 1
    while (i < end) {
      val c = b(i)
      if (c >= 0x20 && c != '"' && c != '\\') i += 1 // printable ASCII: the common case
      else if (c == '"') return i + 1
      else if (c == '\\') {
        escaped = true
        if (i + 1 >= end) return -1
        val e = b(i + 1)
        if (e == 'u') {
          if (i + 6 > end || hex4(i + 2) < 0) return -1
          i += 6
        } else if (e == '"' || e == '\\' || e == '/' || e == 'b' || e == 'f' || e == 'n' ||
            e == 'r' || e == 't') i += 2
        else return -1
      } else if (c >= 0) return -1 // a raw control character
      else {
        val k = ExtJsonCanonical.utf8Length(b, Platform.BYTE_ARRAY_OFFSET + i, end - i)
        if (k < 0) return -1
        i += k
      }
    }
    -1
  }

  /** Scans the value that starts at `at`, `depth` containers deep;
    * returns the index after it, or -1 when it is not well formed.
    */
  def value(at: Int, depth: Int): Int =
    if (at >= end) -1
    else {
      val c = b(at)
      if (c == '"') string(at)
      else if (c == '{' || c == '[') container(at, depth + 1)
      else if (c == 't') literal(at, True)
      else if (c == 'f') literal(at, False)
      else if (c == 'n') literal(at, Null)
      else number(at)
    }

  private def container(at: Int, depth: Int): Int = {
    if (depth > MaxDepth) return -1
    val obj = b(at) == '{'
    val close = if (obj) '}' else ']'
    var i = ws(at + 1)
    if (i < end && b(i) == close) return i + 1
    while (true) {
      if (obj) {
        if (i >= end || b(i) != '"') return -1
        i = string(i)
        if (i < 0) return -1
        i = ws(i)
        if (i >= end || b(i) != ':') return -1
        i = ws(i + 1)
      }
      i = value(i, depth)
      if (i < 0) return -1
      i = ws(i)
      if (i >= end) return -1
      if (b(i) == close) return i + 1
      if (b(i) != ',') return -1
      i = ws(i + 1)
    }
    -1
  }

  private def literal(at: Int, word: Array[Byte]): Int = {
    if (at + word.length > end) return -1
    var k = 1
    while (k < word.length) { if (b(at + k) != word(k)) return -1; k += 1 }
    at + word.length
  }

  private def digits(from: Int): Int = {
    val b = this.b
    val end = this.end
    var i = from
    while (i < end && b(i) >= '0' && b(i) <= '9') i += 1
    i
  }

  private def number(at: Int): Int = {
    var i = at
    if (b(i) == '-') i += 1
    if (i >= end) return -1
    if (b(i) == '0') i += 1
    else if (b(i) >= '1' && b(i) <= '9') i = digits(i + 1)
    else return -1
    if (i < end && b(i) == '.') {
      val f = digits(i + 1)
      if (f == i + 1) return -1
      i = f
    }
    if (i < end && (b(i) == 'e' || b(i) == 'E')) {
      i += 1
      if (i < end && (b(i) == '+' || b(i) == '-')) i += 1
      val e = digits(i)
      if (e == i) return -1
      i = e
    }
    i
  }

  private def hex4(at: Int): Int = {
    var v = 0
    var k = 0
    while (k < 4) {
      val c = b(at + k)
      val d =
        if (c >= '0' && c <= '9') c - '0'
        else if (c >= 'a' && c <= 'f') c - 'a' + 10
        else if (c >= 'A' && c <= 'F') c - 'A' + 10
        else return -1
      v = v << 4 | d
      k += 1
    }
    v
  }

  /** Whether `s` holds one well-formed JSON object or array, with only
    * whitespace around it; if so, [[spanStart]] and [[spanEnd]] bound it.
    */
  def container(s: UTF8String): Boolean = {
    val i = ws(load(s))
    if (i >= end || (b(i) != '{' && b(i) != '[')) return false
    val j = container(i, 1)
    if (j < 0 || ws(j) != end) return false
    spanStart = i
    spanEnd = j
    true
  }

  /** The bytes in `[from, until)`, in place. */
  def view(from: Int, until: Int): UTF8String =
    UTF8String.fromAddress(b, Platform.BYTE_ARRAY_OFFSET + from, until - from)

  /** The text of a scanned string whose content (quotes excluded) is
    * `[from, until)`, escapes decoded. A `\u` escape of a lone
    * surrogate decodes to `?`, as Java's UTF-8 encoder writes it.
    */
  def unescape(from: Int, until: Int): UTF8String = {
    val out = new Array[Byte](until - from) // decoding never lengthens
    var n = 0
    var i = from
    while (i < until) {
      val c = b(i)
      if (c != '\\') { out(n) = c; n += 1; i += 1 }
      else if (b(i + 1) != 'u') {
        val e = b(i + 1)
        out(n) = (
          if (e == 'b') '\b'
          else if (e == 'f') '\f'
          else if (e == 'n') '\n'
          else if (e == 'r') '\r'
          else if (e == 't') '\t'
          else e.toChar).toByte // " \ /
        n += 1
        i += 2
      } else {
        var cp = hex4(i + 2)
        i += 6
        if (cp >= 0xD800 && cp <= 0xDBFF && i + 6 <= until && b(i) == '\\' && b(i + 1) == 'u') {
          val lo = hex4(i + 2)
          if (lo >= 0xDC00 && lo <= 0xDFFF) {
            cp = 0x10000 + ((cp - 0xD800) << 10) + (lo - 0xDC00)
            i += 6
          }
        }
        if (cp >= 0xD800 && cp <= 0xDFFF) cp = '?'
        if (cp < 0x80) { out(n) = cp.toByte; n += 1 }
        else if (cp < 0x800) {
          out(n) = (0xC0 | cp >> 6).toByte; out(n + 1) = (0x80 | cp & 0x3F).toByte; n += 2
        } else if (cp < 0x10000) {
          out(n) = (0xE0 | cp >> 12).toByte; out(n + 1) = (0x80 | cp >> 6 & 0x3F).toByte
          out(n + 2) = (0x80 | cp & 0x3F).toByte; n += 3
        } else {
          out(n) = (0xF0 | cp >> 18).toByte; out(n + 1) = (0x80 | cp >> 12 & 0x3F).toByte
          out(n + 2) = (0x80 | cp >> 6 & 0x3F).toByte; out(n + 3) = (0x80 | cp & 0x3F).toByte
          n += 4
        }
      }
    }
    UTF8String.fromBytes(out, 0, n)
  }

  /** Index in `names` of the member name scanned at `[from, until)`
    * (quotes excluded), or -1.
    */
  def slot(from: Int, until: Int, names: Array[Array[Byte]]): Int =
    if (!escaped) indexOf(names, b, from, until)
    else { val u = unescape(from, until).getBytes; indexOf(names, u, 0, u.length) }

  private def indexOf(names: Array[Array[Byte]], a: Array[Byte], from: Int, until: Int): Int = {
    var k = 0
    while (k < names.length) {
      val n = names(k)
      if (n.length == until - from && java.util.Arrays.equals(n, 0, n.length, a, from, until)) return k
      k += 1
    }
    -1
  }
}

private[cdc] object JsonScanner {
  /** Deeper nesting is malformed (Jackson's default read limit). */
  val MaxDepth = 1000
  private val True = "true".getBytes(UTF_8)
  private val False = "false".getBytes(UTF_8)
  private val Null = "null".getBytes(UTF_8)

  /** Type check: each of `args` must be a string. */
  def strings(e: Expression, args: Seq[Expression]): TypeCheckResult =
    args.find(!_.dataType.isInstanceOf[StringType]) match {
      case None => TypeCheckResult.TypeCheckSuccess
      case Some(a) => TypeCheckResult.TypeCheckFailure(
        s"${e.prettyName} expects string arguments, got ${a.dataType.catalogString} for $a")
    }

  /** Code that passes each child's value (null when NULL; no child is of
    * a primitive type) to `method` of `e`, which returns a non-null
    * `UTF8String`.
    */
  def callCode(e: Expression, ctx: CodegenContext, ev: ExprCode, method: String): ExprCode = {
    val self = ctx.addReferenceObj("codec", e)
    val args = e.children.map(_.genCode(ctx))
    val argList = args.map(a => s"${a.isNull} ? null : ${a.value}").mkString(", ")
    ev.copy(
      code = args.map(_.code).reduce(_ + _) +
        code"UTF8String ${ev.value} = $self.$method($argList);",
      isNull = FalseLiteral)
  }
}

/** `parse_change_event(line)`: one change-stream line (FIXTURES.md §1)
  * in, the [[ChangeEvents.envelopeSchema]] row out. A generator, so the
  * plan evaluates it once per line and filters on its fields stay above
  * it; it yields
  *  - no row for a blank (whitespace-only) or NULL line;
  *  - a row of all-NULL fields for a malformed line: anything but one
  *    well-formed JSON object, whitespace around it allowed;
  *  - otherwise one row. A string member gives its decoded text; any
  *    other value gives its JSON text verbatim, as Spark's JSON file
  *    source does; `null` gives NULL; unknown members are skipped and
  *    the last of duplicate members wins. An `ns` that is neither an
  *    object nor `null` leaves `ns` as it was (NULL unless an earlier
  *    `ns` member set it), as Spark's partial results do.
  *
  * Deliberate divergences from Spark's JSON readers, pinned in
  * `ChangeEventCodecSpec`:
  *  - Spark's lenient default grammar (single quotes, bare `NaN` and
  *    `Infinity`, content after the object) makes a line malformed here;
  *  - a line that breaks off or goes wrong partway is malformed as a
  *    whole, where Spark keeps the members read before the fault;
  *  - a top-level array is malformed, where the file source reads each
  *    element as an event;
  *  - `from_json` re-serialises non-string values through Jackson
  *    (whitespace dropped, numbers and escapes rewritten); this parser,
  *    like the file source, keeps their text as written.
  */
case class ParseChangeEvent(child: Expression)
    extends UnaryExpression with Generator {
  import ParseChangeEvent._

  override def elementSchema: StructType = ChangeEvents.envelopeSchema
  override def prettyName: String = "parse_change_event"
  override def checkInputDataTypes(): TypeCheckResult = JsonScanner.strings(this, Seq(child))

  override protected def withNewChildInternal(newChild: Expression): ParseChangeEvent =
    copy(child = newChild)

  @transient private lazy val scan = new JsonScanner

  override def eval(input: InternalRow): IterableOnce[InternalRow] =
    rows(child.eval(input).asInstanceOf[UTF8String])

  /** The rows of one line: none, or one envelope. */
  def rows(line: UTF8String): Iterator[InternalRow] =
    if (line == null) Iterator.empty
    else {
      val s = scan
      val i = s.ws(s.load(line))
      if (i >= s.end) Iterator.empty else Iterator.single(envelope(s, i))
    }

  private def envelope(s: JsonScanner, at: Int): InternalRow = {
    val row = new GenericInternalRow(Root.length)
    if (s.b(at) == '{') {
      val j = readObject(s, at, row, Root, NsSlot)
      if (j >= 0 && s.ws(j) == s.end) return row
    }
    new GenericInternalRow(Root.length)
  }

  /** Reads the object that opens at `at` into `row`, one slot per name;
    * `nsSlot` (-1 for none) is read as the nested `ns` object. Returns
    * the index after the object, or -1.
    */
  private def readObject(s: JsonScanner, at: Int, row: GenericInternalRow,
      names: Array[Array[Byte]], nsSlot: Int): Int = {
    var i = s.ws(at + 1)
    if (i < s.end && s.b(i) == '}') return i + 1
    while (true) {
      if (i >= s.end || s.b(i) != '"') return -1
      val k = s.string(i)
      if (k < 0) return -1
      val slot = s.slot(i + 1, k - 1, names)
      i = s.ws(k)
      if (i >= s.end || s.b(i) != ':') return -1
      i = s.ws(i + 1)
      i =
        if (slot < 0) s.value(i, 1)
        else if (slot == nsSlot) readNs(s, i, row, slot)
        else readText(s, i, row, slot)
      if (i < 0) return -1
      i = s.ws(i)
      if (i >= s.end) return -1
      if (s.b(i) == '}') return i + 1
      if (s.b(i) != ',') return -1
      i = s.ws(i + 1)
    }
    -1
  }

  private def readText(s: JsonScanner, at: Int, row: GenericInternalRow, slot: Int): Int =
    if (at < s.end && s.b(at) == '"') {
      val j = s.string(at)
      if (j >= 0) row.update(slot, if (s.escaped) s.unescape(at + 1, j - 1) else s.view(at + 1, j - 1))
      j
    } else {
      val j = s.value(at, 1)
      if (j >= 0) row.update(slot, if (s.b(at) == 'n') null else s.view(at, j))
      j
    }

  private def readNs(s: JsonScanner, at: Int, row: GenericInternalRow, slot: Int): Int =
    if (at < s.end && s.b(at) == '{') {
      val ns = new GenericInternalRow(NsNames.length)
      val j = readObject(s, at, ns, NsNames, -1)
      if (j >= 0) row.update(slot, ns)
      j
    } else {
      val j = s.value(at, 1)
      if (j >= 0 && s.b(at) == 'n') row.update(slot, null)
      j
    }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("parser", this)
    val line = child.genCode(ctx)
    val rows = ctx.freshName("rows")
    ev.copy(
      code = line.code +
        code"scala.collection.Iterator $rows = $self.rows(${line.isNull} ? null : ${line.value});",
      isNull = FalseLiteral,
      value = JavaCode.variable(rows, classOf[scala.collection.Iterator[_]]))
  }
}

object ParseChangeEvent {
  private def names(st: StructType): Array[Array[Byte]] = st.fieldNames.map(_.getBytes(UTF_8))
  private val Root = names(ChangeEvents.envelopeSchema)
  private val NsSlot = ChangeEvents.envelopeSchema.fieldIndex("ns")
  private val NsNames =
    names(ChangeEvents.envelopeSchema("ns").dataType.asInstanceOf[StructType])
}

/** The Kafka-Connect key envelope around a document-key string
  * (main.go:16-24,123-131), written straight to UTF-8:
  * `{"schema":{"type":"string","optional":false},"payload":"<key>"}`,
  * without `payload` when the key is NULL. The key is escaped by
  * [[ExtJsonCanonical]]'s escaper (Go's encoding/json with HTML escaping).
  */
case class ChangeEventKey(child: Expression) extends UnaryExpression {
  import ChangeEventKey._

  override def dataType: DataType = StringType
  override def nullable: Boolean = false
  override def prettyName: String = "change_event_key"
  override def checkInputDataTypes(): TypeCheckResult = JsonScanner.strings(this, Seq(child))

  override protected def withNewChildInternal(newChild: Expression): ChangeEventKey =
    copy(child = newChild)

  @transient private lazy val out = new Utf8Sink

  override def eval(input: InternalRow): Any = render(child.eval(input).asInstanceOf[UTF8String])

  def render(key: UTF8String): UTF8String = {
    out.reset()
    out.bytes(Head)
    if (key != null) {
      out.bytes(Payload)
      ExtJsonCanonical.escape(out, key)
    }
    out.byte('}')
    out.toUTF8String
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    JsonScanner.callCode(this, ctx, ev, "render")
}

object ChangeEventKey {
  private val Head = """{"schema":{"type":"string","optional":false}""".getBytes(UTF_8)
  private val Payload = ""","payload":""".getBytes(UTF_8)
}

/** The Kafka value: canonical ExtJSON of the whole event (main.go:138),
  * written straight to UTF-8 from the envelope columns: strings, and a
  * struct `ns`. `_id`, `operationType` and `ns` are always present
  * (`null` when NULL); `_id` and `operationType` are JSON strings and
  * `ns` is rendered by [[ExtJsonCanonical]]. A NULL payload
  * (`clusterTime`, `documentKey`, `fullDocument`, `updateDescription`)
  * is absent. A payload, and `_id`
  * when `idIsExtJson`, is spliced raw when its text is one well-formed
  * JSON object or array, and written as a JSON string otherwise, so the
  * value is always valid JSON.
  */
case class ChangeEventValue(id: Expression, operationType: Expression,
    clusterTime: Expression, ns: Expression, documentKey: Expression,
    fullDocument: Expression, updateDescription: Expression, idIsExtJson: Boolean)
    extends Expression {
  import ChangeEventValue._

  override def children: Seq[Expression] =
    Seq(id, operationType, clusterTime, ns, documentKey, fullDocument, updateDescription)
  override def checkInputDataTypes(): TypeCheckResult =
    if (!ns.dataType.isInstanceOf[StructType])
      TypeCheckResult.TypeCheckFailure(s"$prettyName expects a struct ns, got ${ns.dataType.catalogString}")
    else JsonScanner.strings(this, children.filter(_ ne ns))
  override def dataType: DataType = StringType
  override def nullable: Boolean = false
  override def prettyName: String = "change_event_value"

  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): ChangeEventValue =
    copy(id = c(0), operationType = c(1), clusterTime = c(2), ns = c(3),
      documentKey = c(4), fullDocument = c(5), updateDescription = c(6))

  @transient private lazy val out = new Utf8Sink
  @transient private lazy val scan = new JsonScanner

  override def eval(input: InternalRow): Any = {
    def s(e: Expression) = e.eval(input).asInstanceOf[UTF8String]
    render(s(id), s(operationType), s(clusterTime), ns.eval(input), s(documentKey),
      s(fullDocument), s(updateDescription))
  }

  def render(idV: UTF8String, opV: UTF8String, ctV: UTF8String, nsV: Any,
      dkV: UTF8String, fdV: UTF8String, udV: UTF8String): UTF8String = {
    val o = out
    o.reset()
    o.bytes(IdField)
    if (idIsExtJson && idV != null) payload(o, idV) else text(o, idV)
    o.bytes(OpField)
    text(o, opV)
    member(o, CtField, ctV)
    o.bytes(NsField)
    ExtJsonCanonical.render(o, nsV, ns.dataType)
    member(o, DkField, dkV)
    member(o, FdField, fdV)
    member(o, UdField, udV)
    o.byte('}')
    o.toUTF8String
  }

  private def text(o: Utf8Sink, v: UTF8String): Unit =
    if (v == null) o.ascii("null") else ExtJsonCanonical.escape(o, v)

  private def payload(o: Utf8Sink, v: UTF8String): Unit = {
    val s = scan
    if (s.container(v))
      o.bytes(s.b, Platform.BYTE_ARRAY_OFFSET + s.spanStart, s.spanEnd - s.spanStart)
    else ExtJsonCanonical.escape(o, v)
  }

  private def member(o: Utf8Sink, name: Array[Byte], v: UTF8String): Unit =
    if (v != null) { o.bytes(name); payload(o, v) }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    JsonScanner.callCode(this, ctx, ev, "render")
}

object ChangeEventValue {
  private def field(first: Boolean, name: String): Array[Byte] =
    ((if (first) "{\"" else ",\"") + name + "\":").getBytes(UTF_8)
  private val IdField = field(first = true, "_id")
  private val OpField = field(first = false, "operationType")
  private val CtField = field(first = false, "clusterTime")
  private val NsField = field(first = false, "ns")
  private val DkField = field(first = false, "documentKey")
  private val FdField = field(first = false, "fullDocument")
  private val UdField = field(first = false, "updateDescription")
}
