package graft.queries

import org.apache.spark.sql.functions._

import graft.multimodal.Multimodal

/** Multimodal-column plumbing driven end-to-end: binary payloads with
  * typed metadata, stub header decode, and frame sampling. The binary
  * payloads are derived deterministically from the documents fixture
  * (UTF-8 bytes) so DuckDB can mirror the byte arithmetic with
  * `encode()`/`octet_length`.
  */
object MultimodalQueries extends QueryPack {

  /** Shared oracle device for the dHash queries: regenerates the
    * fixture images' pixels (per `variants` row: channels brightened by
    * `delta` and clamped at 255, output ids offset by `off`) and folds
    * them into the 9×8 box-average grid → 64-char gradient-sign bit
    * string — the JVM dHash step for step, integer-exact (cell sums
    * compared by cross-multiplication, never divided). Both mm_phash
    * and mm_phash_pairs splice this one string, so their oracles cannot
    * drift from each other.
    */
  private def PhashCte(variantsSelect: String): String =
    s"""variants AS (SELECT $variantsSelect),
        img AS (
          SELECT doc_id AS media_id, 16 + doc_id % 48 AS w,
                 16 + (doc_id * 7) % 48 AS h
          FROM documents WHERE doc_id % 3 = 0),
        vimg AS (
          SELECT media_id, w, h, delta, off FROM img CROSS JOIN variants),
        idx AS (
          SELECT media_id, w, h, delta, off, unnest(range(0, w * h)) AS i
          FROM vimg),
        gray AS (
          SELECT media_id, delta, off,
                 (((i // w) * 8) // h) AS gy, (((i % w) * 9) // w) AS gx,
                 least(((p >> 16) & 255) + delta, 255) * 299
                   + least(((p >> 8) & 255) + delta, 255) * 587
                   + least((p & 255) + delta, 255) * 114 AS g
          FROM (SELECT *,
                  ((media_id * 2654435761 + (i % w) * 31 + (i // w) * 17)
                    & 16777215) AS p
                FROM idx)),
        cells AS (
          SELECT media_id, delta, off, gy, gx, sum(g) AS sm, count(*) AS c
          FROM gray GROUP BY 1, 2, 3, 4, 5),
        bits AS (
          SELECT a.media_id, a.off, a.gy, a.gx,
                 CASE WHEN a.sm * b.c > b.sm * a.c THEN '1' ELSE '0' END AS bit
          FROM cells a JOIN cells b
            ON a.media_id = b.media_id AND a.delta = b.delta
           AND a.off = b.off AND a.gy = b.gy AND b.gx = a.gx + 1
          WHERE a.gx < 8),
        hashes AS (
          SELECT media_id + off AS media_id,
                 string_agg(bit, '' ORDER BY gy DESC, gx DESC) AS fp_bits
          FROM bits GROUP BY media_id + off)"""

  /** Shared oracle device for the audio-fingerprint queries: the
    * mm_audio_fp pipeline (signed 16-bit fixture samples → 65 window
    * |s| sums → 64 cross-multiplied ordering bits) parameterized per
    * `variants` row by a num/den gain (truncated toward ZERO, the
    * Scala `(s0 * num / den).toShort` semantics — DuckDB `//` floors,
    * so negatives sign-adjust) and an id offset for the planted twins.
    */
  private def AudioFpCte(variantsSelect: String): String =
    s"""variants AS (SELECT $variantsSelect),
        audio AS (
          SELECT doc_id AS media_id,
                 (256 + doc_id % 512) * (1 + doc_id % 2) AS n
          FROM documents WHERE doc_id % 3 = 1),
        vaudio AS (
          SELECT media_id, n, num, den, off FROM audio CROSS JOIN variants),
        idx AS (
          SELECT media_id, n, num, den, off, unnest(range(0, n)) AS i
          FROM vaudio),
        sgn AS (
          SELECT media_id, n, off, i,
                 CASE WHEN u >= 32768 THEN u - 65536 ELSE u END AS s0,
                 num, den
          FROM (SELECT *,
                  ((media_id * 2654435761 + i * 40503) & 65535) AS u
                FROM idx)),
        scaled AS (
          SELECT media_id, n, off, i,
                 CASE WHEN s0 >= 0 THEN (s0 * num) // den
                      ELSE -(((-s0) * num) // den) END AS s
          FROM sgn),
        wins AS (
          SELECT media_id + off AS media_id, (i * 65) // n AS w,
                 sum(abs(s)) AS sm, count(*) AS c
          FROM scaled GROUP BY 1, 2),
        bits AS (
          SELECT a.media_id, a.w,
                 CASE WHEN a.sm * b.c > b.sm * a.c THEN '1' ELSE '0' END AS bit
          FROM wins a JOIN wins b
            ON a.media_id = b.media_id AND b.w = a.w + 1),
        hashes AS (
          SELECT media_id, string_agg(bit, '' ORDER BY w DESC) AS fp_bits
          FROM bits GROUP BY media_id)"""

  /** Shared oracle device for the video-fingerprint queries: the
    * mm_video_fp pipeline (fixture mdat bytes → 65 stream-window sums →
    * 64 cross-multiplied ordering bits) parameterized per `variants`
    * row by a num/den gain (bytes are unsigned, so DuckDB `//` floor IS
    * the Scala truncation — no sign adjust, unlike [[AudioFpCte]]) and
    * an id offset for the planted twins. The elementary-stream length
    * is the stsz sum in closed form: Σ(8 + (i%4)·2) over nf frames.
    */
  private def VideoFpCte(variantsSelect: String): String =
    s"""variants AS (SELECT $variantsSelect),
        video AS (
          SELECT doc_id AS media_id, 24 + doc_id % 240 AS nf
          FROM documents WHERE doc_id % 3 = 2),
        vv AS (
          SELECT media_id,
                 8 * nf + 2 * (6 * (nf // 4)
                   + CASE nf % 4 WHEN 2 THEN 1 WHEN 3 THEN 3 ELSE 0 END)
                   AS len,
                 num, den, off
          FROM video CROSS JOIN variants),
        idx AS (
          SELECT media_id, len, num, den, off, unnest(range(0, len)) AS i
          FROM vv),
        byt AS (
          SELECT media_id, len, off, i,
                 (((media_id * 31 + i * 131) & 255) * num) // den AS b
          FROM idx),
        wins AS (
          SELECT media_id + off AS media_id, (i * 65) // len AS w,
                 sum(b) AS sm, count(*) AS c
          FROM byt GROUP BY 1, 2),
        bits AS (
          SELECT a.media_id, a.w,
                 CASE WHEN a.sm * b.c > b.sm * a.c THEN '1' ELSE '0' END AS bit
          FROM wins a JOIN wins b
            ON a.media_id = b.media_id AND b.w = a.w + 1),
        hashes AS (
          SELECT media_id, string_agg(bit, '' ORDER BY w DESC) AS fp_bits
          FROM bits GROUP BY media_id)"""

  /** Shared oracle tail for the banded near-dup pair queries of all
    * three modalities: replay
    * the pigeonhole banding (7 × 9-bit chunks of the 64-char bit
    * string — bit 63 is outside every chunk, which cannot lose a ≤ 6
    * pair: 7 differences would be needed to blind all 7 bands) over a
    * `hashes(media_id, fp_bits)` CTE, then the exact BITSTRING hamming
    * verify. Keeps the oracle pair-count-linear at every scale.
    */
  private val BandedPairsSql: String =
    """banded AS (
         SELECT media_id, fp_bits, unnest(range(0, 7)) AS band
         FROM hashes),
       keyed AS (
         SELECT media_id, fp_bits, band,
                substr(fp_bits, 56 - 9 * band, 9) AS chunk
         FROM banded),
       cand AS (
         SELECT DISTINCT a.media_id AS a_id, b.media_id AS b_id,
                a.fp_bits AS a_fp, b.fp_bits AS b_fp
         FROM keyed a JOIN keyed b
           ON a.band = b.band AND a.chunk = b.chunk
         WHERE a.media_id < b.media_id)
       SELECT a_id, b_id,
              bit_count(xor(a_fp::BIT, b_fp::BIT))::BIGINT AS hamming
       FROM cand
       WHERE bit_count(xor(a_fp::BIT, b_fp::BIT)) <= 6
       ORDER BY a_id, b_id"""

  /** `mm_band_eval`'s oracle: BOTH banding schemes replayed at each
    * swept bound h over the same twin-planted hashes — `share1` = the
    * classic split into h+1 chunks of 64/(h+1) bits joined on one chunk,
    * `share2` = the ≥2-shared-chunks combinatorial banding (h+2 chunks,
    * joined on C(h+2,2) chunk PAIRS — the serving path's scheme) —
    * counting candidates and verified pairs per (bound, scheme). Pure
    * arithmetic, statically mirrorable.
    */
  private val BandEvalSql: String = {
    val legs1 = Seq(1, 3, 6).map { h =>
      val bands = h + 1
      val width = 64 / bands
      s"""k1_$h AS (
           SELECT media_id, fp_bits, band,
                  substr(fp_bits, ${65 - width} - $width * band, $width) AS chunk
           FROM hashes, (SELECT unnest(range(0, $bands)) AS band) bb),
         c1_$h AS (
           SELECT DISTINCT a.media_id AS a_id, b.media_id AS b_id,
                  a.fp_bits AS a_fp, b.fp_bits AS b_fp
           FROM k1_$h a JOIN k1_$h b
             ON a.band = b.band AND a.chunk = b.chunk
           WHERE a.media_id < b.media_id),
         m1_$h AS (
           SELECT CAST($h AS BIGINT) AS max_hamming, 'share1' AS scheme,
                  CAST($bands AS BIGINT) AS n_bands,
                  CAST($width AS BIGINT) AS key_bits,
                  count(*) AS n_cand,
                  CAST(coalesce(sum(CASE WHEN
                    bit_count(xor(a_fp::BIT, b_fp::BIT)) <= $h
                    THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_pairs
           FROM c1_$h)"""
    }
    val legs2 = Seq(1, 3, 6).map { h =>
      val c = h + 2
      val width = 64 / c
      s"""k2_$h AS (
           SELECT media_id, fp_bits, pp.i, pp.j,
                  substr(fp_bits, 65 - $width * (pp.i + 1), $width) AS ci,
                  substr(fp_bits, 65 - $width * (pp.j + 1), $width) AS cj
           FROM hashes, (SELECT x.i AS i, y.j AS j
                         FROM (SELECT unnest(range(0, $c)) AS i) x,
                              (SELECT unnest(range(0, $c)) AS j) y
                         WHERE x.i < y.j) pp),
         c2_$h AS (
           SELECT DISTINCT a.media_id AS a_id, b.media_id AS b_id
           FROM k2_$h a JOIN k2_$h b
             ON a.i = b.i AND a.j = b.j AND a.ci = b.ci AND a.cj = b.cj
           WHERE a.media_id < b.media_id),
         m2_$h AS (
           SELECT CAST($h AS BIGINT) AS max_hamming, 'share2' AS scheme,
                  CAST(${c * (c - 1) / 2} AS BIGINT) AS n_bands,
                  CAST(${2 * width} AS BIGINT) AS key_bits,
                  count(*) AS n_cand,
                  CAST(coalesce(sum(CASE WHEN
                    bit_count(xor(ha.fp_bits::BIT, hb.fp_bits::BIT)) <= $h
                    THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_pairs
           FROM c2_$h
           JOIN hashes ha ON ha.media_id = a_id
           JOIN hashes hb ON hb.media_id = b_id)"""
    }
    (legs1 ++ legs2).mkString(",\n         ") + s"""
       SELECT max_hamming, scheme, n_bands, key_bits, n_cand, n_pairs,
              round(n_pairs::DOUBLE / greatest(n_cand, 1), 4) AS precision
       FROM (SELECT * FROM m1_1 UNION ALL SELECT * FROM m1_3
             UNION ALL SELECT * FROM m1_6 UNION ALL SELECT * FROM m2_1
             UNION ALL SELECT * FROM m2_3 UNION ALL SELECT * FROM m2_6)
       ORDER BY max_hamming, scheme"""
  }

  /** The fixture media frame (PNG encode included), memoized per
    * (session, fixture) and pinned: building the fixture is test-harness
    * work — the operators under measurement are the DECODE paths, which
    * still run per query. Bounded: one pin per fixture dir ever touched.
    */
  private object SharedMedia {
    private val memo = SessionMemo.frames[String]
    def apply(s: org.apache.spark.sql.SparkSession, dir: String)
        : org.apache.spark.sql.DataFrame =
      memo(s, dir)(
        Multimodal.fakeMediaFromDocs(graft.Tables.table(s, dir, "documents")))
  }

  /** The twin-augmented media frame for the near-dup pair demo,
    * memoized for the same reason as [[SharedMedia]]: encoding the
    * planted twins is fixture-building, not the operator under
    * measurement (the DECODE + hash + band join still run per query).
    */
  private object SharedMediaWithTwins {
    private val memo = SessionMemo.frames[String]
    def apply(s: org.apache.spark.sql.SparkSession, dir: String)
        : org.apache.spark.sql.DataFrame =
      memo(s, dir) {
        // offset derived from the data (max id + 1): a literal breaks
        // on bigger fixtures — sf1-replica ids tripped the twin guard
        val base = SharedMedia(s, dir)
        Multimodal.withBrightenedTwins(base, delta = 8,
            twinOffset = Multimodal.twinOffsetFor(base))
      }
  }

  /** Fixture media + gain-scaled audio twins, memoized like
    * [[SharedMediaWithTwins]] (same reasoning: the twin re-encode is the
    * expensive part, shared across the pair query's passes).
    */
  private object SharedAudioWithTwins {
    private val memo = SessionMemo.frames[String]
    def apply(s: org.apache.spark.sql.SparkSession, dir: String)
        : org.apache.spark.sql.DataFrame =
      memo(s, dir) {
        // pre-filter to the audio rows: the only consumer filters
        // kind === "audio" anyway, and pinning the full union would hold
        // a second copy of every (larger) image/video payload that is
        // never read from this pin
        val base = SharedMedia(s, dir).filter(col("kind") === "audio")
        Multimodal.withScaledAudioTwins(base, num = 7, den = 8,
            twinOffset = Multimodal.twinOffsetFor(base))
      }
  }

  /** Fixture media + gain-scaled video twins, memoized like
    * [[SharedAudioWithTwins]] (same reasoning and the same pre-filter:
    * only the video rows are read from this pin).
    */
  private object SharedVideoWithTwins {
    private val memo = SessionMemo.frames[String]
    def apply(s: org.apache.spark.sql.SparkSession, dir: String)
        : org.apache.spark.sql.DataFrame =
      memo(s, dir) {
        val base = SharedMedia(s, dir).filter(col("kind") === "video")
        Multimodal.withScaledVideoTwins(base, num = 7, den = 8,
            twinOffset = Multimodal.twinOffsetFor(base))
      }
  }

  override val queries: Seq[Q] = Seq(

    // Metadata decode over binary media columns — ALL THREE modalities
    // run a real header codec round trip: PNG IHDR dims (javax.imageio),
    // WAV RIFF sample-rate/channels/frames (javax.sound), MP4 mvhd/tkhd
    // timescale/duration/width/height (ISO-BMFF box walk). The oracle
    // predicts the values from the deterministic ENCODE parameters — if
    // any decode were fake, the parse would not reproduce them. n_bytes
    // is projected away: container byte counts are codec artifacts no
    // independent engine can predict.
    Q("mm_decode_meta",
      (s, dir) => Multimodal.decodeMetaColumns(SharedMedia(s, dir))
        .select("media_id", "kind", "width", "height", "n_frames",
          "sample_rate", "channels", "duration_ms")
        .orderBy("media_id"),
      Some("""SELECT doc_id AS media_id,
                     ['image','audio','video'][(doc_id % 3) + 1] AS kind,
                     CASE doc_id % 3
                       WHEN 0 THEN 16 + doc_id % 48
                       WHEN 2 THEN 160 + (doc_id % 8) * 16 END AS width,
                     CASE doc_id % 3
                       WHEN 0 THEN 16 + (doc_id * 7) % 48
                       WHEN 2 THEN 96 + (doc_id % 6) * 16 END AS height,
                     CASE doc_id % 3
                       WHEN 0 THEN 1
                       WHEN 1 THEN 256 + doc_id % 512
                       WHEN 2 THEN 24 + doc_id % 240 END AS n_frames,
                     CASE WHEN doc_id % 3 = 1
                       THEN [8000,11025,16000,22050,44100][(doc_id % 5) + 1]
                       END AS sample_rate,
                     CASE WHEN doc_id % 3 = 1 THEN 1 + doc_id % 2
                       END AS channels,
                     CASE doc_id % 3
                       WHEN 1 THEN (256 + doc_id % 512) * 1000
                                   // [8000,11025,16000,22050,44100][(doc_id % 5) + 1]
                       WHEN 2 THEN (24 + doc_id % 240) * 1000
                                   // (12 + doc_id % 20) END AS duration_ms
              FROM documents ORDER BY media_id""")),

    // Frame sampling off the REAL sample table: every 4th frame of each
    // video with its floor-ms presentation timestamp (parsed mvhd
    // duration/timescale), its absolute byte offset (parsed stco chunk
    // offset + stsz prefix sum — the demuxer seek computation) and its
    // stsz byte size; the frame count is the stsz sample count. The
    // oracle reproduces every offset arithmetically from the encode
    // parameters (fixed box layout + the 8/10/12/14 size cycle), so a
    // fake walk cannot pass. Narrow columns only — payload bytes never
    // enter the explode.
    Q("mm_frame_sample",
      (s, dir) => Multimodal.sampleFrames(SharedMedia(s, dir), stride = 4)
        .orderBy("media_id", "frame_idx"),
      Some("""WITH meta AS (
                SELECT doc_id AS media_id,
                       24 + doc_id % 240 AS n_frames,
                       (24 + doc_id % 240) * 1000 // (12 + doc_id % 20) AS duration_ms
                FROM documents
                WHERE doc_id % 3 = 2),
              f AS (
                SELECT media_id, n_frames, duration_ms,
                       unnest(range(0, n_frames, 4)) AS frame_idx
                FROM meta)
              SELECT media_id, frame_idx,
                     frame_idx * duration_ms // n_frames AS ts_ms,
                     328 + 4 * n_frames + 4 * ((n_frames + 3) // 4)
                       + 8 * frame_idx
                       + 12 * (frame_idx // 4)
                       + (frame_idx % 4) * ((frame_idx % 4) - 1) AS byte_off,
                     8 + (frame_idx % 4) * 2 AS frame_bytes
              FROM f ORDER BY media_id, frame_idx""")),

    // Keyframe selection from the container's REAL sync-sample signal:
    // the stss box lists the I-frames' 1-based sample numbers (GOP 4 in
    // the fixture ⇒ frames 0,4,8,…), exactly how a demuxer finds seek
    // points — superseding the r7 size-skew heuristic. Counts and first
    // seek offset per video; the oracle derives both from the encode
    // arithmetic (⌈nF/4⌉ entries; the first keyframe is frame 0, whose
    // offset is the chunk offset itself — 328 + stsz entries + stss
    // entries). One narrow pass over the parsed tables, zero shuffle
    // before the tiny per-video aggregate.
    Q("mm_keyframes",
      (s, dir) => Multimodal.syncFrames(SharedMedia(s, dir))
        .groupBy("media_id")
        .agg(count(lit(1)).as("n_key"), min("byte_off").as("first_off"))
        .orderBy("media_id"),
      Some("""SELECT doc_id AS media_id,
                     (24 + doc_id % 240 + 3) // 4 AS n_key,
                     328 + 4 * (24 + doc_id % 240)
                         + 4 * ((24 + doc_id % 240 + 3) // 4) AS first_off
              FROM documents WHERE doc_id % 3 = 2
              ORDER BY media_id""")))

    // Perceptual hash of every image payload: real PNG decode →
    // grayscale 9×8 box grid → 64-bit gradient-sign dHash, emitted as
    // the 64-char bit string (the mm_audio_fp convention). ORACLED
    // bit-for-bit since r11: PNG is lossless and the fixture pixels are
    // arithmetic in (media_id, x, y) — the mm_image_stats move — and
    // the dHash itself is integer-only (box-cell sums compared by
    // cross-multiplication), so DuckDB regenerates every pixel, every
    // 9×8 cell, and every gradient-sign bit and must agree exactly.
    // MultimodalSpec still pins the perceptual properties (re-encode
    // stability, twin proximity, unrelated-image separation).
    .appended(Q("mm_phash",
      (s, dir) => Multimodal.imagePhashes(SharedMedia(s, dir))
        .select(col("media_id"),
          lpad(bin(col("phash")), 64, "0").as("fp_bits"))
        .orderBy("media_id"),
      Some(s"""WITH ${PhashCte("0 AS delta, 0 AS off")}
              SELECT media_id, fp_bits FROM hashes ORDER BY media_id""")))

    // Near-duplicate image detection end-to-end: the fixture corpus plus
    // a brightness-shifted RE-ENCODE of every image (twin ids offset by
    // max(id)+1) → per-image dHash → banded hamming join (7 chunks,
    // guaranteed recall at ≤ 6 bits) → exact bit_count verify. Every
    // emitted pair is original × its planted twin — the image analog of
    // the SimHash text path, one shuffle keyed on (band, chunk), never
    // image×image. ORACLED since r11: the brightened twin's pixels are
    // least(c+8, 255) of the fixture formula — still pure arithmetic —
    // and DuckDB replays the SAME pigeonhole banding (7 chunks of the
    // bit string) + exact BITSTRING hamming verify, so the oracle stays
    // pair-count-linear instead of image×image at every scale.
    .appended(Q("mm_phash_pairs",
      (s, dir) => Multimodal.phashPairs(
          Multimodal.imagePhashes(SharedMediaWithTwins(s, dir)),
          maxHamming = 6)
        .orderBy("a_id", "b_id"),
      Some(s"""WITH ${PhashCte(
                "0 AS delta, 0 AS off UNION ALL SELECT 8 AS delta, " +
                  "(SELECT max(doc_id) + 1 FROM documents) AS off")},
              $BandedPairsSql""")))

    // The BANDING dial measured — the trade the r13 sf10 decade probe
    // surfaced, now swept across BOTH schemes: `share1` (the classic
    // h+1-chunk split joined on one chunk — key space 2^(64/(h+1)):
    // 512 values at h=6, where the probe measured saturation at ~300k
    // hashes and a 20.6×/decade candidate join) and `share2` (the
    // ≥2-shared-chunks combinatorial banding that now SERVES
    // mm_*_pairs — h+2 chunks, C(h+2,2) chunk-pair bands, key space
    // squared to 2^(2·64/(h+2)): 65 536 at h=6 for a 4× explode).
    // For h ∈ {1, 3, 6} × scheme, candidates vs verified pairs — the
    // doc_dedup_eval s-curve convention for the hamming family: the
    // number a deployment reads before picking its recall bound and
    // banding scheme at 100 TB. ONE hash table feeds all branches
    // (lazy local checkpoint); each branch is one banded self-join +
    // count. Fully oracled — the banding is arithmetic, no learned
    // constants.
    .appended(Q("mm_band_eval",
      (s, dir) => {
        val hashes = graft.multimodal.Multimodal
          .imagePhashes(SharedMediaWithTwins(s, dir))
          .localCheckpoint(eager = false)
        (for { h <- Seq(1, 3, 6); scheme <- Seq("share1", "share2") } yield {
          val share1 = scheme == "share1"
          val cand =
            if (share1) graft.multimodal.Multimodal.phashCandidates(hashes, h)
            else graft.multimodal.Multimodal.phashCandidatesPairBand(hashes, h)
          val c = if (share1) h + 1 else h + 2
          val width = 64 / c
          cand
            // count() is 0 on an empty candidate set but sum() is NULL —
            // coalesce so a bound that yields no candidates reports 0
            // like the oracle, not NULL
            .agg(count(lit(1)).as("n_cand"),
              coalesce(sum(when(col("hamming") <= h, 1L).otherwise(0L)),
                lit(0L)).as("n_pairs"))
            .select(lit(h.toLong).as("max_hamming"),
              lit(scheme).as("scheme"),
              lit((if (share1) c else c * (c - 1) / 2).toLong).as("n_bands"),
              lit((if (share1) width else 2 * width).toLong).as("key_bits"),
              col("n_cand"), col("n_pairs"),
              round(col("n_pairs").cast("double") /
                greatest(col("n_cand"), lit(1L)), 4).as("precision"))
        }).reduce(_ unionByName _).orderBy("max_hamming", "scheme")
      },
      Some(s"""WITH ${PhashCte(
                "0 AS delta, 0 AS off UNION ALL SELECT 8 AS delta, " +
                  "(SELECT max(doc_id) + 1 FROM documents) AS off")},
              $BandEvalSql""")))

    // Audio energy-contour FINGERPRINT — the audio twin of mm_phash:
    // real RIFF→PCM decode, |sample| sums over 65 equal time windows,
    // bit k = window k's mean amplitude exceeds window k+1's (exact
    // cross-multiplied integers). Gain changes preserve the contour —
    // the near-dup invariance a raw PCM hash lacks. Narrow projection,
    // zero shuffle. UNLIKE the image hash this is ORACLED: the fixture
    // PCM is arithmetic in (media_id, i), so DuckDB regenerates the
    // windows and the 64-char bit string must match byte-for-byte.
    .appended(Q("mm_audio_fp",
      (s, dir) => Multimodal.audioFingerprints(SharedMedia(s, dir))
        .select(col("media_id"), lpad(bin(col("phash")), 64, "0").as("fp_bits"))
        .orderBy("media_id"),
      Some(s"""WITH ${AudioFpCte("1 AS num, 1 AS den, 0 AS off")}
              SELECT media_id, fp_bits FROM hashes ORDER BY media_id""")))

    // Near-duplicate audio end-to-end: the corpus plus a gain-scaled
    // (×7/8, truncated) RE-ENCODE of every clip → energy-contour
    // fingerprints → the SAME pigeonhole banding join as the image path
    // (phashPairs serves both modalities) → exact bit_count verify.
    // Every emitted pair is original × its planted twin (MultimodalSpec
    // pins recovery + separation). ORACLED since r11, completing the
    // pair-query symmetry with mm_phash_pairs: the scaled twin samples
    // are (s·7/8 truncated toward zero) of the fixture arithmetic, and
    // the oracle replays the shared AudioFpCte + BandedPairsSql —
    // banding included, so it stays pair-count-linear. NOTE the twin
    // offset here is max(AUDIO id) + 1 (the twin frame is pre-filtered
    // to audio rows before the offset derives), not max over all media.
    .appended(Q("mm_audio_fp_pairs",
      (s, dir) => Multimodal.phashPairs(
          Multimodal.audioFingerprints(SharedAudioWithTwins(s, dir)),
          maxHamming = 6)
        .orderBy("a_id", "b_id"),
      Some(s"""WITH ${AudioFpCte(
                "1 AS num, 1 AS den, 0 AS off UNION ALL " +
                  "SELECT 7 AS num, 8 AS den, (SELECT max(doc_id) + 1 " +
                  "FROM documents WHERE doc_id % 3 = 1) AS off")},
              $BandedPairsSql""")))

    // Loudness/clipping profile over REAL PCM: every audio payload runs
    // through AudioSystem's RIFF→PCM decode (the full sample stream,
    // not the header peek of mm_decode_meta), folded into integer
    // (Σs², peak, clipped) stats in one narrow pass. Unlike the image
    // hash, this IS oracle-able: the fixture samples are a deterministic
    // function of (media_id, i), so DuckDB regenerates the same PCM
    // arithmetically and must agree bit-for-bit — a real codec round
    // trip certified end-to-end, closing the "audio is stub arithmetic"
    // gap for the sample path too.
    .appended(Q("mm_audio_stats",
      (s, dir) => Multimodal.audioSampleStats(SharedMedia(s, dir))
        .orderBy("media_id"),
      Some("""WITH audio AS (
                SELECT doc_id AS media_id,
                       (256 + doc_id % 512) * (1 + doc_id % 2) AS n
                FROM documents WHERE doc_id % 3 = 1),
              idx AS (
                SELECT media_id, n, unnest(range(0, n)) AS i FROM audio),
              samples AS (
                SELECT media_id, n,
                       ((media_id * 2654435761 + i * 40503) & 65535) AS u
                FROM idx),
              sgn AS (
                SELECT media_id, n,
                       CASE WHEN u >= 32768 THEN u - 65536 ELSE u END AS s
                FROM samples)
              SELECT media_id, n AS n_samples,
                     round(sqrt(sum(s * s)::DOUBLE / n), 4) AS rms,
                     max(abs(s)) AS peak,
                     round(sum(CASE WHEN abs(s) >= 32767 THEN 1 ELSE 0 END)::DOUBLE / n, 6)
                       AS clip_ratio
              FROM sgn GROUP BY media_id, n ORDER BY media_id""")))

    // The image analog of mm_audio_stats: FULL pixel decode
    // (ImageIO.read inflates the PNG — the real sample path, not the
    // IHDR peek) folded into exact integer channel sums. PNG is
    // lossless and the fixture pixels are a pure arithmetic function of
    // (media_id, i), so the DuckDB oracle regenerates every pixel and
    // must match bit-for-bit — no floats anywhere.
    .appended(Q("mm_image_stats",
      (s, dir) => Multimodal.imagePixelStats(SharedMedia(s, dir))
        .orderBy("media_id"),
      Some("""WITH img AS (
                SELECT doc_id AS media_id,
                       16 + doc_id % 48 AS w, 16 + (doc_id * 7) % 48 AS h
                FROM documents WHERE doc_id % 3 = 0),
              idx AS (
                SELECT media_id, w, h, unnest(range(0, w * h)) AS i FROM img),
              pix AS (
                SELECT media_id, w, h,
                       ((media_id * 2654435761 + (i % w) * 31 + (i // w) * 17) & 16777215) AS p
                FROM idx)
              SELECT media_id, w * h AS n_px,
                     sum((p >> 16) & 255)::BIGINT AS sum_r,
                     sum((p >> 8) & 255)::BIGINT AS sum_g,
                     sum(p & 255)::BIGINT AS sum_b
              FROM pix GROUP BY media_id, w, h ORDER BY media_id""")))

    // RESIZE — the remaining op of the mandated multimodal quartet
    // (decode / feature-extract / RESIZE / frame-sample): a 2×2
    // average-pool thumbnail computed from the real decoded pixels,
    // floor-average per channel, odd edges cropped (the conventional
    // floor(w/2)×floor(h/2) pooling contract). All-integer end to end,
    // so the oracle regenerates the pooled sums from the fixture's
    // pixel formula and must agree bit-for-bit — the resize ARITHMETIC
    // is certified, not just the decode underneath it.
    .appended(Q("mm_resize",
      (s, dir) => Multimodal.imageThumbStats(SharedMedia(s, dir))
        .orderBy("media_id"),
      Some("""WITH img AS (
                SELECT doc_id AS media_id,
                       16 + doc_id % 48 AS w, 16 + (doc_id * 7) % 48 AS h
                FROM documents WHERE doc_id % 3 = 0),
              tiles AS (SELECT media_id, w, w // 2 AS ow, h // 2 AS oh FROM img),
              oidx AS (
                SELECT media_id, w, ow, oh, unnest(range(0, ow * oh)) AS i
                FROM tiles),
              pix AS (
                SELECT media_id, ow, oh,
                       (media_id * 2654435761 + (2*(i % ow)    )*31 + (2*(i // ow)    )*17) & 16777215 AS p00,
                       (media_id * 2654435761 + (2*(i % ow) + 1)*31 + (2*(i // ow)    )*17) & 16777215 AS p01,
                       (media_id * 2654435761 + (2*(i % ow)    )*31 + (2*(i // ow) + 1)*17) & 16777215 AS p10,
                       (media_id * 2654435761 + (2*(i % ow) + 1)*31 + (2*(i // ow) + 1)*17) & 16777215 AS p11
                FROM oidx)
              SELECT media_id, min(ow) AS thumb_w, min(oh) AS thumb_h,
                     sum((((p00 >> 16) & 255) + ((p01 >> 16) & 255)
                          + ((p10 >> 16) & 255) + ((p11 >> 16) & 255)) // 4)::BIGINT AS sum_r,
                     sum((((p00 >> 8) & 255) + ((p01 >> 8) & 255)
                          + ((p10 >> 8) & 255) + ((p11 >> 8) & 255)) // 4)::BIGINT AS sum_g,
                     sum(((p00 & 255) + (p01 & 255)
                          + (p10 & 255) + (p11 & 255)) // 4)::BIGINT AS sum_b
              FROM pix GROUP BY media_id ORDER BY media_id""")))

    // Video content-contour FINGERPRINT — the third member of the
    // perceptual-hash family (image dHash / audio energy contour /
    // video content contour): a REAL stsz/stco sample-table walk
    // locates every frame's byte range, the demuxed elementary stream's
    // unsigned bytes sum into 65 equal windows, and the 64 gradient-sign
    // bits emit as the shared fp_bits convention. ORACLED bit-for-bit:
    // the fixture mdat bytes are arithmetic in (media_id, i) and the
    // stream length is the stsz sum in closed form, so DuckDB regenerates
    // every window and every bit. Scale: decode-per-row narrow scan,
    // zero shuffle before the ORDER BY.
    .appended(Q("mm_video_fp",
      (s, dir) => Multimodal.videoFingerprints(SharedMedia(s, dir))
        .select(col("media_id"),
          lpad(bin(col("phash")), 64, "0").as("fp_bits"))
        .orderBy("media_id"),
      Some(s"""WITH ${VideoFpCte("1 AS num, 1 AS den, 0 AS off")}
              SELECT media_id, fp_bits FROM hashes ORDER BY media_id""")))

    // Near-duplicate video end-to-end: the corpus plus a gain-scaled
    // (×7/8, truncated) RE-ENCODE of every clip (container boxes
    // byte-identical, mdat content dimmed — a uniform "brightness"
    // change of the stream) → content-contour fingerprints → the SAME
    // pigeonhole banding as the image and audio paths (phashPairs
    // serves all three modalities) → exact bit_count verify. ORACLED
    // via the shared VideoFpCte + BandedPairsSql — banding included,
    // so the oracle stays pair-count-linear at every scale. Unlike the
    // image/audio fixtures, the video byte pattern (mid·31 + i·131 mod
    // 256) gives some UNRELATED clips genuinely similar contours; those
    // pairs are real ≤6-bit neighbors, appear identically in both
    // engines, and the spec separately pins that every planted twin is
    // among the pairs at distance ≤ 1.
    .appended(Q("mm_video_fp_pairs",
      (s, dir) => Multimodal.phashPairs(
          Multimodal.videoFingerprints(SharedVideoWithTwins(s, dir)),
          maxHamming = 6)
        .orderBy("a_id", "b_id"),
      Some(s"""WITH ${VideoFpCte(
                "1 AS num, 1 AS den, 0 AS off UNION ALL " +
                  "SELECT 7 AS num, 8 AS den, (SELECT max(doc_id) + 1 " +
                  "FROM documents WHERE doc_id % 3 = 2) AS off")},
              $BandedPairsSql""")))
}
