package perfbench

import java.io.{BufferedWriter, OutputStreamWriter, Writer}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{JsonNodeFactory, ObjectNode}

/** Seeded generator of change-stream event files (line-delimited JSON in
  * the envelope of FIXTURES.md §1), plus the output a correct relay must
  * produce for them, built here from the generator's own event trees.
  *
  * Input properties vary per segment (one live batch, or one slice of a
  * backlog), each drawn from the seed: number of topics, key skew, key
  * type, payload width and string length, the ExtJSON type tags in use,
  * and the op mix. Per event it draws the op from its segment's mix: the
  * four document ops, key-less `invalidate` / `drop` / `dropDatabase`,
  * and malformed lines. Because the mixture is the same for every seed, a
  * run's aggregate figures do not depend on which seed drew it.
  */
object Gen {
  private val nf = JsonNodeFactory.instance
  val mapper = new ObjectMapper()

  private val Dbs = Vector("shop", "crm", "iot", "billing")
  private val Colls = Vector("orders", "users", "devices", "invoices", "carts",
    "sessions", "payments", "items", "alerts", "reviews", "tickets", "stock")
  private val Words = Vector("alpha", "beta", "gamma", "delta", "naïve", "café",
    "数据", "流", "quote\"d", "back\\slash", "tab\there", "line\nbreak", "emoji☃", "z")
  private val Tags = Vector("oid", "date", "long", "int", "double", "decimal",
    "binary", "string", "bool", "null", "array", "doc")

  val OpNames = Vector("insert", "update", "replace", "delete",
    "invalidate", "drop", "dropDatabase", "malformed")
  val DocumentOps = Set("insert", "update", "replace", "delete")

  /** Op-mix levels, per mille in the order of `OpNames`. No measured
    * distribution of change-stream traffic backs any single mix, so the
    * levels span three kinds of collection: append-mostly (logs, events),
    * update-mostly (sessions, stock) and churn (deletes and collection or
    * database drops). Every segment draws one level, cycled like the
    * other properties; each level keeps every op kind present.
    */
  val OpMixes: Vector[(String, Vector[Int])] = Vector(
    "insert_heavy" -> Vector(800, 80, 20, 30, 10, 10, 5, 45),
    "update_heavy" -> Vector(100, 650, 120, 60, 10, 10, 5, 45),
    "churn" -> Vector(150, 150, 50, 450, 60, 60, 30, 50))
  OpMixes.foreach { case (n, w) => require(w.size == OpNames.size && w.sum == 1000, n) }

  /** Fisher-Yates shuffle driven by the seeded generator. */
  def shuffle[T](rng: SplittableRandom, xs: Seq[T]): Vector[T] = {
    val a = xs.toArray[Any]
    for (i <- a.indices.reverse) { val j = rng.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t }
    a.toVector.asInstanceOf[Vector[T]]
  }

  final case class Profile(topics: Vector[(String, String)], keySpace: Int,
      skew: Double, keyKind: Int, shardKey: Boolean, fields: Int,
      strWords: Int, tags: Vector[String], opMix: Vector[Int])

  /** Draws segment profiles. Each property cycles through all of its
    * levels in a seeded order before any level repeats, so every run
    * holds nearly the same mix of segments whatever its seed, and only
    * which segment gets which level changes.
    */
  final class Profiles(rng: SplittableRandom) {
    private final class Deck[T](levels: Vector[T]) {
      private var left = List.empty[T]
      def next(): T = {
        if (left.isEmpty) left = shuffle(rng, levels).toList
        val h = left.head
        left = left.tail
        h
      }
    }
    private val topics = new Deck((1 to 12).toVector)
    private val keySpace = new Deck((0 to 9).map(100 << _).toVector)
    private val skew = new Deck(Vector(1.0, 2.0, 4.0))
    private val keyKind = new Deck(Vector(0, 1, 2))
    private val shardKey = new Deck(Vector(true, false, false, false))
    private val fields = new Deck((2 to 21).toVector)
    private val strWords = new Deck((1 to 12).toVector)
    private val tagCount = new Deck((4 to Tags.size).toVector)
    private val opMix = new Deck(OpMixes.map(_._2))

    def next(): Profile = {
      val n = topics.next()
      val all = for (d <- Dbs; c <- Colls) yield d -> c
      Profile(
        topics = shuffle(rng, all).take(n),
        keySpace = keySpace.next(), skew = skew.next(), keyKind = keyKind.next(),
        shardKey = shardKey.next(), fields = fields.next(), strWords = strWords.next(),
        tags = shuffle(rng, Tags).take(tagCount.next()),
        opMix = opMix.next())
    }
  }

  /** Multiset fingerprint of relay output rows: row count plus the
    * wrapping sum of a 64-bit hash of each row's canonical form. Equal
    * fingerprints mean the same rows, each the same number of times.
    */
  final case class Fp(rows: Long, sum: Long) {
    def +(o: Fp): Fp = Fp(rows + o.rows, sum + o.sum)
  }
  object Fp {
    val zero: Fp = Fp(0, 0)
    def of(canonical: String): Fp = Fp(1, hash64(canonical))
  }

  def hash64(s: String): Long = {
    import scala.util.hashing.MurmurHash3.stringHash
    (stringHash(s, 0x5eed).toLong << 32) | (stringHash(s, 0x0ddba11).toLong & 0xffffffffL)
  }

  /** Canonical text of a JSON tree: object keys sorted, so two documents
    * with the same fields in another order read the same.
    */
  def canon(n: JsonNode): String = {
    val out = new java.io.StringWriter
    val g = mapper.getFactory.createGenerator(out)
    def go(n: JsonNode): Unit =
      if (n.isObject) {
        import scala.jdk.CollectionConverters._
        g.writeStartObject()
        n.fieldNames().asScala.toArray.sorted.foreach { k => g.writeFieldName(k); go(n.get(k)) }
        g.writeEndObject()
      } else if (n.isArray) {
        g.writeStartArray()
        n.elements().forEachRemaining(go(_))
        g.writeEndArray()
      } else if (n.isNull) g.writeNull()
      else n.asInstanceOf[com.fasterxml.jackson.databind.node.ValueNode].serialize(g, null)
    go(n)
    g.close()
    out.toString
  }

  /** The row a correct relay emits for one document-op event. */
  def expectedRow(topic: String, documentKey: JsonNode, event: JsonNode): String =
    topic + "\u0001" + canon(documentKey) + "\u0001" + canon(event)

  /** Draws events for one segment. `idBase` keeps event ids unique across
    * segments; `clock` is the segment's first cluster time in seconds.
    */
  final class Segment(rng: SplittableRandom, val p: Profile, idBase: Long, clock: Long) {
    private var i = 0L

    private def hex(bits: Long, width: Int): String = {
      val h = java.lang.Long.toHexString(bits)
      if (h.length >= width) h.takeRight(width) else "0" * (width - h.length) + h
    }

    private def keyValue(k: Int, topic: (String, String)): JsonNode = p.keyKind match {
      case 0 =>
        val salt = (topic._1 + topic._2).hashCode.toLong
        nf.objectNode().put("$oid", hex(salt, 8) + hex(k.toLong * 0x9e3779b97f4aL, 16))
      case 1 => nf.objectNode().put("$numberLong", (k.toLong * 7919L).toString)
      case _ => nf.textNode(s"doc-$k")
    }

    private def text(): String =
      Vector.fill(1 + rng.nextInt(p.strWords))(Words(rng.nextInt(Words.size))).mkString(" ")

    private def value(depth: Int): JsonNode =
      p.tags(rng.nextInt(p.tags.size)) match {
        case "oid" => nf.objectNode().put("$oid", hex(rng.nextLong(), 12) + hex(rng.nextLong(), 12))
        case "date" => nf.objectNode().set[JsonNode]("$date",
          nf.objectNode().put("$numberLong", (1600000000000L + rng.nextLong(1L << 36)).toString))
        case "long" => nf.objectNode().put("$numberLong", rng.nextLong().toString)
        case "int" => nf.objectNode().put("$numberInt", rng.nextInt().toString)
        case "double" => nf.objectNode().put("$numberDouble",
          Vector("NaN", "-Infinity", "0.1", (rng.nextDouble() * 1e6).toString)(rng.nextInt(4)))
        case "decimal" => nf.objectNode().put("$numberDecimal",
          s"${rng.nextInt(1000000)}.${rng.nextInt(10000)}")
        case "binary" =>
          val b = new Array[Byte](4 + rng.nextInt(24)); rng.nextBytes(b)
          nf.objectNode().set[JsonNode]("$binary", nf.objectNode()
            .put("base64", java.util.Base64.getEncoder.encodeToString(b)).put("subType", "00"))
        case "bool" => nf.booleanNode(rng.nextBoolean())
        case "null" => nf.nullNode()
        case "array" if depth < 2 =>
          val a = nf.arrayNode(); (0 until rng.nextInt(4)).foreach(_ => a.add(value(depth + 1))); a
        case "doc" if depth < 2 =>
          val o = nf.objectNode(); (0 until 1 + rng.nextInt(3)).foreach(j => o.set[JsonNode](s"n$j", value(depth + 1))); o
        case _ => nf.textNode(text())
      }

    private def document(key: JsonNode): ObjectNode = {
      val d = nf.objectNode()
      d.set[JsonNode]("_id", key)
      (0 until p.fields).foreach(f => d.set[JsonNode](s"f$f", value(0)))
      d
    }

    private val opCdf = p.opMix.scanLeft(0)(_ + _).tail

    private def op(): String = {
      val r = rng.nextInt(1000)
      OpNames(opCdf.indexWhere(r < _))
    }

    /** One line of the event file, and the relay row it must produce. */
    def next(): (String, Option[String]) = {
      val id = idBase + i
      val t = clock + i / 64
      i += 1
      val token = "8263" + hex(id, 16)
      op() match {
        case "malformed" =>
          val line =
            if ((id & 1) == 0) s"""{"_id":"$token""" // cut inside the first field
            else s"%%corrupt $token"
          line -> None
        case o =>
          val topic = p.topics(rng.nextInt(p.topics.size))
          val ev = nf.objectNode()
          ev.put("_id", token)
          ev.put("operationType", o)
          ev.set[JsonNode]("clusterTime", nf.objectNode().set[JsonNode]("$timestamp",
            nf.objectNode().put("t", t).put("i", (id % 64 + 1).toInt)))
          val ns = nf.objectNode().put("db", topic._1)
          if (o != "dropDatabase") ns.put("coll", topic._2)
          ev.set[JsonNode]("ns", ns)
          if (!DocumentOps(o)) mapper.writeValueAsString(ev) -> None
          else {
            val k = math.min(p.keySpace - 1,
              (p.keySpace * math.pow(rng.nextDouble(), p.skew)).toInt)
            val kv = keyValue(k, topic)
            val dk = nf.objectNode()
            dk.set[JsonNode]("_id", kv)
            if (p.shardKey) dk.put("region", s"r${k % 5}")
            ev.set[JsonNode]("documentKey", dk)
            if (o != "delete") ev.set[JsonNode]("fullDocument", document(kv))
            if (o == "update") {
              val upd = nf.objectNode()
              upd.set[JsonNode]("updatedFields", nf.objectNode().set[JsonNode]("f0", value(0)))
              upd.set[JsonNode]("removedFields", nf.arrayNode().add(s"f${p.fields}"))
              upd.set[JsonNode]("truncatedArrays", nf.arrayNode())
              ev.set[JsonNode]("updateDescription", upd)
            }
            mapper.writeValueAsString(ev) -> Some(expectedRow(s"${topic._1}.${topic._2}", dk, ev))
          }
      }
    }
  }

  /** Writes `n` events of one segment as lines to `w`; returns the
    * fingerprint of the rows a correct relay emits for them.
    */
  def writeEvents(w: Writer, seg: Segment, n: Int): Fp = {
    var fp = Fp.zero
    var j = 0
    while (j < n) {
      val (line, row) = seg.next()
      w.write(line); w.write('\n')
      row.foreach(r => fp = fp + Fp.of(r))
      j += 1
    }
    fp
  }

  def writer(file: Path): Writer = {
    Files.createDirectories(file.getParent)
    new BufferedWriter(new OutputStreamWriter(Files.newOutputStream(file),
      StandardCharsets.UTF_8), 1 << 16)
  }
}
