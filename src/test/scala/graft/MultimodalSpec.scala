package graft

import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.multimodal.Multimodal

/** The multimodal plumbing: typed mapPartitions decode (the codec-shaped
  * path) must agree with the pure-column decode (the oracled path), and
  * frame sampling must keep payload bytes out of the exploded frame.
  */
class MultimodalSpec extends SparkSpec {

  // normalize Int/Long/null across the typed (Option[Int]) and column
  // (nullable long) decode paths for field-by-field comparison
  private def num(v: Any): Any = v match {
    case null => null
    case i: Int => i.toLong
    case l: Long => l
    case other => other
  }

  test("typed mapPartitions decode == column-expression decode") {
    import spark.implicits._
    val media = Multimodal.fakeMediaFromDocs(Tables.table(spark, sfDir, "documents"))
    val typed = Multimodal.decodeMeta(media.as[Multimodal.MediaRow]).toDF()
      .orderBy("media_id").collect()
    val cols = Multimodal.decodeMetaColumns(media)
      .orderBy("media_id").collect()
    assert(typed.length === cols.length && typed.length > 0)
    val fields = Seq("media_id", "n_bytes", "width", "height", "n_frames",
      "sample_rate", "channels", "duration_ms")
    typed.zip(cols).foreach { case (t, c) =>
      fields.foreach { f =>
        assert(num(t.getAs[Any](f)) === num(c.getAs[Any](f)),
          s"field $f of media ${t.getAs[Long]("media_id")}")
      }
    }
  }

  test("image payloads are real PNGs and decode round-trips the encoded dims") {
    import spark.implicits._
    val media = Multimodal.fakeMediaFromDocs(Tables.table(spark, sfDir, "documents"))
      .filter(col("kind") === "image")
    val rows = media.as[Multimodal.MediaRow].collect()
    assert(rows.nonEmpty)
    rows.take(20).foreach { r =>
      // PNG magic: the payload is a genuine PNG stream, not arithmetic
      assert((r.bytes(0) & 0xff) === 0x89 && r.bytes(1) === 'P'.toByte
        && r.bytes(2) === 'N'.toByte && r.bytes(3) === 'G'.toByte)
    }
    // the real decoder reproduces the dimensions each image was encoded at
    val decoded = Multimodal.decodeMeta(media.as[Multimodal.MediaRow])
      .collect()
    decoded.foreach { m =>
      val (w, h) = Multimodal.imageDims(m.media_id)
      assert((m.width, m.height) === ((Some(w), Some(h))),
        s"media ${m.media_id}: decoded ${(m.width, m.height)} != encoded ${(w, h)}")
    }
  }

  test("audio payloads are real RIFF/WAVE and decode round-trips encode params") {
    import spark.implicits._
    val media = Multimodal.fakeMediaFromDocs(Tables.table(spark, sfDir, "documents"))
      .filter(col("kind") === "audio")
    val rows = media.as[Multimodal.MediaRow].limit(40).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      // RIFF....WAVE magic: the payload is a genuine WAV stream
      assert(new String(r.bytes, 0, 4, "US-ASCII") === "RIFF")
      assert(new String(r.bytes, 8, 4, "US-ASCII") === "WAVE")
      // the real RIFF parse recovers exactly the encode parameters
      val (sr, ch, nFrames) = Multimodal.audioParams(r.media_id)
      assert(Multimodal.decodeWavMeta(r.bytes) === Some((sr, ch, nFrames.toLong)),
        s"media ${r.media_id}")
    }
    // garbage bytes are rejected, not mis-parsed
    assert(Multimodal.decodeWavMeta("not a wav".getBytes).isEmpty)
  }

  test("video payloads are real ISO-BMFF and box walk round-trips encode params") {
    import spark.implicits._
    val media = Multimodal.fakeMediaFromDocs(Tables.table(spark, sfDir, "documents"))
      .filter(col("kind") === "video")
    val rows = media.as[Multimodal.MediaRow].limit(40).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      // ftyp box leads the stream: genuine MP4 container layout
      assert(new String(r.bytes, 4, 4, "US-ASCII") === "ftyp")
      val (w, h, fps, nF) = Multimodal.videoParams(r.media_id)
      assert(Multimodal.decodeMp4Meta(r.bytes) === Some((fps, nF.toLong, w, h)),
        s"media ${r.media_id}")
    }
    assert(Multimodal.decodeMp4Meta("not an mp4 stream".getBytes).isEmpty)
  }

  test("frame sampling explodes only narrow columns, one row per stride") {
    val media = Multimodal.fakeMediaFromDocs(Tables.table(spark, sfDir, "documents"))
    val frames = Multimodal.sampleFrames(media, stride = 4)
    assert(frames.columns.toSeq ===
      Seq("media_id", "frame_idx", "ts_ms", "byte_off", "frame_bytes"))
    // one row per stride of the STSZ sample count (== encode nF)
    val perVideo = media.filter(col("kind") === "video")
      .select("media_id").collect().map(_.getLong(0)).map { id =>
        val (_, _, _, nF) = Multimodal.videoParams(id)
        id -> (1 + (nF - 1) / 4)
      }.toMap
    val got = frames.groupBy("media_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1).toInt).toMap
    assert(got === perVideo)
  }

  test("MP4 sample table: stsz/stco round-trip and offsets hit the real mdat bytes") {
    Seq(2L, 5L, 17L, 23L).foreach { id =>
      val bytes = Multimodal.encodeMp4(id)
      val (_, _, _, nF) = Multimodal.videoParams(id)
      val (offs, szs) = Multimodal.decodeMp4SampleTable(bytes).get
      // stsz recovers exactly the per-frame sizes the encoder wrote
      assert(szs.length === nF)
      assert(szs.toSeq === (0 until nF).map(Multimodal.mp4FrameSize))
      // offsets are the stco chunk offset + prefix sums of stsz sizes
      val chunk = offs(0)
      assert(offs.toSeq === szs.scanLeft(chunk)((a, s) => a + s).init.toSeq)
      // each offset seeks to the frame's ACTUAL bytes: the deterministic
      // mdat filler value at that absolute file position
      for (f <- Seq(0, 1, nF - 1)) {
        val within = offs(f) - chunk
        assert((bytes(offs(f).toInt) & 0xff) ===
          ((id * 31 + within * 131) & 0xff).toInt, s"media $id frame $f")
      }
      // and the last frame ends exactly at end-of-file: the mdat payload
      // is really Σ sizes bytes, not unrelated filler
      assert(offs(nF - 1) + szs(nF - 1) === bytes.length.toLong)
    }
    assert(Multimodal.decodeMp4SampleTable("junk".getBytes).isEmpty)
  }

  test("MP4 stss: sync samples round-trip and keyframe offsets seek real bytes") {
    Seq(2L, 5L, 17L, 23L).foreach { id =>
      val bytes = Multimodal.encodeMp4(id)
      val (_, _, _, nF) = Multimodal.videoParams(id)
      // the encoder's stss lists exactly the GOP-4 I-frames, 1-based
      val sync = Multimodal.decodeMp4SyncSamples(bytes).get
      assert(sync.toSeq === (0 until nF by Multimodal.Mp4Gop).map(_ + 1))
      // and each sync sample's seek offset (via the sample table) lands
      // on that frame's actual mdat bytes
      val (offs, _) = Multimodal.decodeMp4SampleTable(bytes).get
      val chunk = offs(0)
      sync.take(3).foreach { no =>
        val off = offs(no - 1)
        assert((bytes(off.toInt) & 0xff) ===
          ((id * 31 + (off - chunk) * 131) & 0xff).toInt, s"media $id sync $no")
      }
    }
    // absent box ⇒ None (the "all sync" default belongs to the caller)
    assert(Multimodal.decodeMp4SyncSamples("junk".getBytes).isEmpty)
  }

  test("syncFrames emits one narrow row per stss entry") {
    val media = Multimodal.fakeMediaFromDocs(Tables.table(spark, sfDir, "documents"))
    val kf = Multimodal.syncFrames(media)
    assert(kf.columns.toSeq ===
      Seq("media_id", "frame_idx", "byte_off", "frame_bytes"))
    val expected = media.filter(col("kind") === "video")
      .select("media_id").collect().map(_.getLong(0)).map { id =>
        val (_, _, _, nF) = Multimodal.videoParams(id)
        id -> ((nF + Multimodal.Mp4Gop - 1) / Multimodal.Mp4Gop)
      }.toMap
    val got = kf.groupBy("media_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1).toInt).toMap
    assert(got === expected)
    // every keyframe is a GOP-aligned frame index
    assert(kf.filter(col("frame_idx") % Multimodal.Mp4Gop =!= 0).count() === 0)
  }

  test("malformed MP4 sample tables are rejected, never allocated") {
    val good = Multimodal.encodeMp4(7L)
    def patched(uniform: Int, count: Int): Array[Byte] = {
      val b = good.clone()
      val i = b.indexOfSlice("stsz".getBytes("US-ASCII")) // type field
      val bb = java.nio.ByteBuffer.wrap(b)
      bb.putInt(i + 8, uniform) // payload + 4: sample_size
      bb.putInt(i + 12, count)  // payload + 8: sample_count
      b
    }
    // a 12-byte body claiming 2^31-1 uniform samples: the physical bound
    // (count ≤ file length) must reject it before any allocation
    assert(Multimodal.decodeMp4SampleTable(patched(8, Int.MaxValue)).isEmpty)
    // per-sample count whose 4*count overflows Int must not pass the
    // table-length guard via wraparound
    assert(Multimodal.decodeMp4SampleTable(patched(0, 600000000)).isEmpty)
    // zero samples: structurally fine, but nothing to emit → None
    assert(Multimodal.decodeMp4SampleTable(patched(0, 0)).isEmpty)
  }

  test("dHash is deterministic and separates unrelated images") {
    val h1 = Multimodal.dHash(Multimodal.encodePng(3L))
    val h2 = Multimodal.dHash(Multimodal.encodePng(3L))
    assert(h1.isDefined && h1 === h2)
    // unrelated fixture images: gradient signs are ~coin flips relative
    // to each other → expect roughly half the 64 bits to differ
    val others = Seq(6L, 9L, 12L, 15L).map(id =>
      java.lang.Long.bitCount(h1.get ^ Multimodal.dHash(Multimodal.encodePng(id)).get))
    others.foreach(d => assert(d > 10, s"unrelated images only $d bits apart"))
    // garbage bytes are rejected, not mis-hashed
    assert(Multimodal.dHash("not a png".getBytes).isEmpty)
  }

  test("brightness-shifted re-encode lands within the phash near-dup bound") {
    Seq(3L, 6L, 9L, 21L).foreach { id =>
      val orig = Multimodal.dHash(Multimodal.encodePng(id)).get
      val twin = Multimodal.dHash(Multimodal.encodePngBrightened(id, 8)).get
      val d = java.lang.Long.bitCount(orig ^ twin)
      assert(d <= 6, s"image $id: brightened twin $d bits away")
    }
  }

  test("phashPairs finds exactly the planted twins via banded hamming join") {
    val media = Multimodal.fakeMediaFromDocs(
      Tables.table(spark, sfDir, "documents").limit(90))
    val withTwins = Multimodal.withBrightenedTwins(media, delta = 8,
      twinOffset = 1000000L)
    val nImages = media.filter(col("kind") === "image").count()
    val pairs = Multimodal.phashPairs(
      Multimodal.imagePhashes(withTwins), maxHamming = 6).collect()
    // every original pairs with its planted twin…
    val twinPairs = pairs.filter(r => r.getLong(1) === r.getLong(0) + 1000000L)
    assert(twinPairs.length === nImages,
      s"${twinPairs.length} of $nImages planted twins recovered")
    // …and the hamming verify is exact on every emitted pair
    pairs.foreach(r => assert(r.getLong(2) <= 6))
    // the twin guard all three builders share: a frame without exactly
    // (media_id, kind, bytes) is rejected up front, and a real id at or
    // above the offset fails the job
    val builders: Seq[(org.apache.spark.sql.DataFrame, Long) =>
        org.apache.spark.sql.DataFrame] = Seq(
      Multimodal.withBrightenedTwins(_, delta = 8, _),
      Multimodal.withScaledAudioTwins(_, num = 7, den = 8, _),
      Multimodal.withScaledVideoTwins(_, num = 7, den = 8, _))
    val maxId = Multimodal.twinOffsetFor(media) - 1
    builders.foreach { build =>
      intercept[IllegalArgumentException](
        build(media.withColumn("extra", lit(1)), 1000000L))
      intercept[IllegalArgumentException](build(media.drop("kind"), 1000000L))
      val e = intercept[Exception](build(media, maxId).collect())
      assert(e.getMessage.contains(s"twin offset $maxId <= real media_id"),
        e.getMessage)
    }
  }

  test("audio fingerprint: deterministic, gain-invariant-ish, garbage-rejecting") {
    val h1 = Multimodal.audioFingerprint(Multimodal.encodeWav(4L))
    val h2 = Multimodal.audioFingerprint(Multimodal.encodeWav(4L))
    assert(h1.isDefined && h1 == h2)
    // a 7/8 gain scale preserves the energy contour to a few bits
    Seq(1L, 4L, 7L, 10L).foreach { id =>
      val orig = Multimodal.audioFingerprint(Multimodal.encodeWav(id)).get
      val twin = Multimodal.audioFingerprint(
        Multimodal.encodeWavScaled(id, 7, 8)).get
      val d = java.lang.Long.bitCount(orig ^ twin)
      assert(d <= 6, s"clip $id: gain-scaled twin $d bits away")
    }
    // unrelated clips' contours are coin flips — far apart
    val others = Seq(7L, 10L, 13L, 16L).map(id => java.lang.Long.bitCount(
      h1.get ^ Multimodal.audioFingerprint(Multimodal.encodeWav(id)).get))
    others.foreach(d => assert(d > 10, s"unrelated clips only $d bits apart"))
    assert(Multimodal.audioFingerprint("not a wav".getBytes).isEmpty)
  }

  test("audio banding join finds exactly the planted gain-scaled twins") {
    val media = Multimodal.fakeMediaFromDocs(
      Tables.table(spark, sfDir, "documents").limit(90))
    val withTwins = Multimodal.withScaledAudioTwins(media, num = 7, den = 8,
      twinOffset = 2000000L)
    val nAudio = media.filter(col("kind") === "audio").count()
    val pairs = Multimodal.phashPairs(
      Multimodal.audioFingerprints(withTwins), maxHamming = 6).collect()
    val twinPairs = pairs.filter(r => r.getLong(1) === r.getLong(0) + 2000000L)
    assert(twinPairs.length === nAudio,
      s"${twinPairs.length} of $nAudio planted twins recovered")
    pairs.foreach(r => assert(r.getLong(2) <= 6))
  }

  test("video fingerprint: deterministic, gain-invariant-ish, garbage-rejecting") {
    val h1 = Multimodal.videoFingerprint(Multimodal.encodeMp4(5L))
    val h2 = Multimodal.videoFingerprint(Multimodal.encodeMp4(5L))
    assert(h1.isDefined && h1 == h2)
    // a 7/8 content-gain scale preserves the stream contour to a few bits
    Seq(2L, 5L, 8L, 11L).foreach { id =>
      val orig = Multimodal.videoFingerprint(Multimodal.encodeMp4(id)).get
      val twin = Multimodal.videoFingerprint(
        Multimodal.encodeMp4Scaled(id, 7, 8)).get
      val d = java.lang.Long.bitCount(orig ^ twin)
      assert(d <= 6, s"clip $id: gain-scaled twin $d bits away")
    }
    // these clips' contours are far apart (the fixture byte pattern DOES
    // give some id pairs similar contours — the pair query documents
    // that — but not these)
    val others = Seq(8L, 11L, 14L, 17L).map(id => java.lang.Long.bitCount(
      h1.get ^ Multimodal.videoFingerprint(Multimodal.encodeMp4(id)).get))
    others.foreach(d => assert(d > 10, s"unrelated clips only $d bits apart"))
    assert(Multimodal.videoFingerprint("not an mp4".getBytes).isEmpty)
  }

  test("video fingerprint: a crafted middle-frame range returns None, not an OOB throw") {
    // A hostile stsz whose ENDPOINTS stay plausible: frame 1's size is
    // inflated by 1 MB and frame 2's deflated by the same amount, so the
    // first offset and the last frame's end still land inside the
    // payload while frame 1's walk would index far out of bounds (and
    // frame 2's size goes negative). The SQL-registered UDF must return
    // None per the contract, never ArrayIndexOutOfBoundsException.
    val bytes = Multimodal.encodeMp4(5L)
    val stsz = {
      // first "stsz" tag; payload (version/flags, sample_size, count,
      // entries) starts right after the 4-byte type
      val tag = "stsz".getBytes("US-ASCII")
      bytes.indexOfSlice(tag) + 4
    }
    val bb = java.nio.ByteBuffer.wrap(bytes)
    assert(bb.getInt(stsz + 4) == 0, "fixture must use a per-sample table")
    val count = bb.getInt(stsz + 8)
    assert(count >= 3, "need at least three frames to corrupt the middle")
    val s1 = bb.getInt(stsz + 12 + 4 * 1)
    val s2 = bb.getInt(stsz + 12 + 4 * 2)
    bb.putInt(stsz + 12 + 4 * 1, s1 + 1000000)
    bb.putInt(stsz + 12 + 4 * 2, s2 - 1000000)
    // the sample table itself still parses (it's structurally valid)...
    assert(Multimodal.decodeMp4SampleTable(bytes).isDefined)
    // ...but the fingerprint walk must reject the out-of-payload range
    assert(Multimodal.videoFingerprint(bytes).isEmpty)
  }

  test("video banding join recovers every planted gain-scaled twin") {
    val media = Multimodal.fakeMediaFromDocs(
      Tables.table(spark, sfDir, "documents").limit(90))
    val withTwins = Multimodal.withScaledVideoTwins(media, num = 7, den = 8,
      twinOffset = 2000000L)
    val nVideo = media.filter(col("kind") === "video").count()
    val pairs = Multimodal.phashPairs(
      Multimodal.videoFingerprints(withTwins), maxHamming = 6).collect()
    // unlike the audio fixture, unrelated clips CAN fall within 6 bits
    // (documented in mm_video_fp_pairs) — so assert twin RECOVERY plus
    // the exact-verify bound, not output exclusivity
    val twinPairs = pairs.filter(r => r.getLong(1) === r.getLong(0) + 2000000L)
    assert(twinPairs.length === nVideo,
      s"${twinPairs.length} of $nVideo planted twins recovered")
    pairs.foreach(r => assert(r.getLong(2) <= 6))
  }

  // splitmix64 finalizer — deterministic pseudo-random 64-bit hashes for
  // the banding property tests (no Random: repeatable across runs)
  private def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  test("pair banding: recall guarantee vs brute force at every swept bound") {
    import spark.implicits._
    // 60 pseudo-random hashes plus, for each, a planted twin exactly ≤ h
    // bits away (flip h deterministic positions; coincident flips cancel,
    // which only lowers the distance — still within the bound). Brute
    // force over the union is the ground truth: phashPairs (≥2-shared-
    // chunks combinatorial banding) must emit EXACTLY the ≤ h pairs —
    // recall is the pigeonhole guarantee under test, precision is the
    // exact bit_count verify.
    for (h <- Seq(0, 1, 3, 6)) {
      val base = (0L until 60L).map(i => (i, mix(i)))
      val twins = base.map { case (i, ph) =>
        (i + 10000L, (0 until h).foldLeft(ph)((acc, k) =>
          acc ^ (1L << ((mix(i * 131 + k) & 63L).toInt))))
      }
      // plus two hashes that differ only in bit 32, the low bit of the
      // upper chunk at h = 0 (one band of two 32-bit chunks)
      val all = base ++ twins ++
        Seq((20000L, mix(99L)), (20001L, mix(99L) ^ (1L << 32)))
      val want = (for {
        (i, pi) <- all; (j, pj) <- all if i < j
        d = java.lang.Long.bitCount(pi ^ pj) if d <= h
      } yield (i, j, d.toLong)).toSet
      assert(want.nonEmpty, s"h=$h fixture planted no pairs")
      val df = all.toDF("media_id", "phash")
      val got = Multimodal.phashPairs(df, h).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got === want, s"h=$h: combinatorial banding missed/invented pairs")
      // cross-scheme parity: the classic one-shared-chunk banding (the
      // mm_band_eval measuring device) verifies to the same set
      val share1 = Multimodal.phashCandidates(df, h)
        .filter(col("hamming") <= h).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(share1 === want, s"h=$h: share1 banding disagrees")
      // the pair-band candidates (mm_band_eval's share2 device) verify to
      // the same set; at h = 0 its one band keys on the whole hash, so
      // every candidate is an identical hash
      val share2 = Multimodal.phashCandidatesPairBand(df, h).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(share2.filter(_._3 <= h) === want, s"h=$h: share2 banding disagrees")
      if (h == 0) assert(share2.forall(_._3 == 0L), s"h=0 candidates: $share2")
    }
  }

  test("phashPairs fails loudly past the banding capacity, not silently quadratic") {
    import spark.implicits._
    // h = 15 ⇒ 17 chunks of 3 bits ⇒ 6-bit band keys ⇒ capacity 16·2^6
    assert(Dedup.bandCapacity(15, bits = 64) === 1024L)
    val df = (0 until 1100).map(i => (i.toLong, mix(i.toLong)))
      .toDF("media_id", "phash")
    val e = intercept[IllegalStateException](Multimodal.phashPairs(df, 15))
    assert(e.getMessage.contains("capacity"), e.getMessage)
    // under the cap the same frame serves normally
    assert(Multimodal.phashPairs(df.limit(500), 15).columns.toSeq ===
      Seq("a_id", "b_id", "hamming"))
  }
}
