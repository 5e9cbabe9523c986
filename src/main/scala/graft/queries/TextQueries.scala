package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.dedup.Dedup
import graft.text.{QualityModel, TextFunctions}

/** Text-analysis + document-dedup capabilities over the `documents`
  * fixture (the north-star LLM-pipeline operators). Each query drives the
  * corresponding library operator ([[graft.text.TextFunctions]],
  * [[graft.dedup.Dedup]]) and is mirrored in DuckDB SQL — including the
  * MinHash/SimHash bit arithmetic, which both engines derive from md5 so
  * the hashes agree bit-for-bit.
  */
object TextQueries extends QueryPack {

  /** The oracle's mirror of [[Dedup.minHashSignatures]]'s permutations,
    * generated from the same coefficient table so the two engines cannot
    * drift.
    */
  private def minHashSigSql(k: Int): String =
    Dedup.Perms.take(k).zipWithIndex.map { case ((a, b), i) =>
      s"min(($a * h + $b) % 4294967296) AS mh$i"
    }.mkString(",\n                       ")

  /** The oracle's mirror of [[Dedup.minHashCandidatesFromSignatures]]'s
    * band-key construction for an arbitrary band count (k = 16 lanes),
    * generated so the sweep oracle cannot drift from the Scala banding.
    */
  private def bandBucketsSql(bands: Int, as: String): String = {
    val rows = 16 / bands
    val cases = (0 until bands).map { b =>
      val cols = (b * rows until (b + 1) * rows).map(i => s"mh$i").mkString(", ")
      s"WHEN $b THEN md5(concat_ws('|', $cols))"
    }.mkString(" ")
    val bandList = (0 until bands).mkString(",")
    s"""$as AS (
                SELECT doc_id, band,
                       CASE band $cases END AS bkey
                FROM sig, (SELECT unnest([$bandList]) AS band))"""
  }

  /** The oracle's mirror of the trained quality model's full
    * score/predict pipeline (feature augmentation → md5 hashing trick →
    * NB sufficient statistics → micro-long weights → per-doc score) as a
    * CTE chain ending in `scored(doc_id, score_micro, pred_keep,
    * label)` — shared by `doc_quality_model` (row dump) and
    * `doc_quality_eval` (confusion aggregate) so the two oracles cannot
    * drift from each other.
    */
  private val QualityAugSql: String =
    """docs AS (
                SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
              lab AS (
                SELECT doc_id, toks,
                       len(toks) AS n,
                       len(list_distinct(toks)) AS ud,
                       len(list_filter(toks,
                         x -> x IN ('the','a','an','of','and','to','in','is','it','for'))) AS sd,
                       len(toks) >= 25
                       AND len(list_distinct(toks))::DOUBLE / len(toks) >= 0.35
                       AND len(list_filter(toks,
                             x -> x IN ('the','a','an','of','and','to','in','is','it','for')))::DOUBLE
                           / len(toks) <= 0.15 AS label
                FROM docs),
              aug AS (
                SELECT doc_id, label,
                       list_concat(toks,
                         ['L' || least(n // 5, 12)::VARCHAR,
                          'U' || ((20 * ud) // n)::VARCHAR,
                          'S' || ((20 * sd) // n)::VARCHAR]) AS ftoks
                FROM lab),
              tk AS (SELECT doc_id, label,
                            ('0x' || substr(md5(tok), 1, 8))::BIGINT % 128 AS b
                     FROM (SELECT doc_id, label, unnest(ftoks) AS tok FROM aug))"""

  private val QualityScoredSql: String =
    QualityAugSql + """,
              cnt AS (SELECT b,
                             CAST(sum(CASE WHEN label THEN 1 ELSE 0 END) AS BIGINT) AS cp,
                             CAST(sum(CASE WHEN label THEN 0 ELSE 1 END) AS BIGINT) AS cn
                      FROM tk GROUP BY b),
              tot AS (SELECT CAST(sum(cp) AS BIGINT) AS tp,
                             CAST(sum(cn) AS BIGINT) AS tn FROM cnt),
              w AS (SELECT g.range AS b,
                           CAST(round(ln(
                             ((coalesce(cnt.cp, 0) + 1) / (tot.tp + 128)) *
                             ((tot.tn + 128) / (coalesce(cnt.cn, 0) + 1)))
                             * 1000000, 0) AS BIGINT) AS w_l
                    FROM range(128) g LEFT JOIN cnt ON cnt.b = g.range
                    CROSS JOIN tot),
              pri AS (SELECT CAST(round(ln(
                               sum(CASE WHEN label THEN 1 ELSE 0 END)::DOUBLE /
                               sum(CASE WHEN label THEN 0 ELSE 1 END)::DOUBLE)
                               * 1000000, 0) AS BIGINT) AS prior_l
                      FROM lab),
              sc AS (SELECT tk.doc_id, CAST(sum(w.w_l) AS BIGINT) AS tsum
                     FROM tk JOIN w USING (b) GROUP BY tk.doc_id),
              scored AS (
                SELECT l.doc_id,
                       CAST(coalesce(sc.tsum, 0) + pri.prior_l AS BIGINT) AS score_micro,
                       (coalesce(sc.tsum, 0) + pri.prior_l) > 0 AS pred_keep,
                       l.label
                FROM lab l LEFT JOIN sc ON sc.doc_id = l.doc_id
                CROSS JOIN pri)"""

  /** One pinned shingle index per (session, fixture dir, n) — shared by
    * `doc_dedup_ngram` and `doc_dedup_clusters`, which both run the same
    * 3-gram Jaccard pipeline: without sharing, the clusters query rebuilds
    * the entire index the ngram query just built. The memo is keyed (not
    * per-call), so repeated invocations of either query re-use ONE pin —
    * pinned-plan count is bounded by distinct fixtures touched, never by
    * call count (a per-call pin would leak one plan per call).
    */
  private object SharedShingleIndex {
    private val memo = SessionMemo.frames[(String, Int)]
    def apply(s: org.apache.spark.sql.SparkSession, dir: String, n: Int)
        : org.apache.spark.sql.DataFrame =
      memo(s, (dir, n))(
        Dedup.shingleIndex(graft.Tables.table(s, dir, "documents"), "doc_id", "text", n))
  }

  /** Postings count of the deterministic 20% "new batch" slice of the
    * shared shingle index, memoized per (session, fixture): the
    * incremental-dedup broadcast-vs-shuffle decision needs the number
    * once, not one count job per query run (a real pipeline knows its
    * increment size without asking).
    */
  private object SharedIncrementPostings {
    private val memo = new SessionMemo[(String, Int), Long]()
    def apply(s: org.apache.spark.sql.SparkSession, dir: String, n: Int): Long =
      memo(s, (dir, n))(
        SharedShingleIndex(s, dir, n).filter(col("doc_id") % 10 >= 8).count())
  }

  /** Learned BPE merge table per (session, fixture, steps): the trainer
    * (`text_bpe_train`) and the encoder (`text_bpe_encode`) replay the
    * SAME merges — without sharing, the encoder re-runs the 8-step
    * Lloyd's-style learn the trainer just finished. A Seq of k case
    * classes, so the pin is trivially small and needs no eviction hook.
    */
  private[queries] object SharedBpeMerges {
    private val memo =
      new SessionMemo[(String, Int), Seq[graft.text.Bpe.Merge]]()
    def apply(s: org.apache.spark.sql.SparkSession, dir: String, steps: Int)
        : Seq[graft.text.Bpe.Merge] =
      memo(s, (dir, steps)) {
        val words = graft.Tables.table(s, dir, "documents")
          .select(explode(graft.text.TextFunctions.tokens(
            graft.text.TextFunctions.normalize(col("text")))).as("word"))
          .filter(length(col("word")) > 0)
          .groupBy("word").agg(count(lit(1)).as("freq"))
        // the r16 scalable contract: ONE distributed dict pass, counted
        // guarded collect, in-memory incremental merge loop — zero Spark
        // jobs per merge step (bit-identical to the learnLocal reference
        // within the cap; BpeSpec pins the parity)
        graft.text.Bpe.learnScalable(s, words, steps)
      }
  }

  /** The 0.8-Jaccard pair table both `doc_dedup_ngram` and
    * `doc_dedup_clusters` consume, memoized like the index above (one
    * small pinned pair table per fixture): clusters then costs only its
    * own label-propagation rounds, not a repeat of the pair pipeline.
    */
  private object SharedJaccardPairs {
    private val memo = SessionMemo.frames[(String, Int, Double)]
    def apply(s: org.apache.spark.sql.SparkSession, dir: String, n: Int,
        minJaccard: Double): org.apache.spark.sql.DataFrame =
      memo(s, (dir, n, minJaccard))(
        Dedup.jaccardPairsFromIndex(SharedShingleIndex(s, dir, n), minJaccard))
  }

  /** MinHash signature table (doc_id, mh0..mh{k-1}) derived from the
    * shared shingle index, memoized like it: `doc_dedup_minhash`,
    * `doc_minhash_est`, and `text_edit_distance` all start from the same
    * signatures — without sharing, each re-runs the shingle → hash →
    * 16-permutation aggregation the previous one just did. k rows per
    * doc-count, so the pin is small; bounded by distinct fixtures.
    */
  /** Per-doc interpolated-bigram-LM scores (doc_id, n_bigrams,
    * logp_micro), memoized+pinned per (session, fixture): the dictionary
    * build (two count passes + the dict join) runs once and serves both
    * the perplexity query and the CCNet bucketing/sampling consumers.
    * p(v|u) = 0.75·c(uv)/c(u·) + 0.25·c(v)/N; per-bigram log-probs
    * quantize to 1e-6 micro-longs in a compact broadcast dictionary, so
    * every per-doc sum downstream is exact integer arithmetic.
    */
  private object SharedBigramScores {
    private val memo = SessionMemo.frames[String]
    def apply(s: org.apache.spark.sql.SparkSession, dir: String)
        : org.apache.spark.sql.DataFrame =
      memo(s, dir) {
        val base = graft.Tables.table(s, dir, "documents")
          .select(col("doc_id"),
            TextFunctions.tokens(TextFunctions.normalize(col("text"))).as("tk"))
        // minCount = 1 is the oracled semantics (every observed bigram in
        // the dict); BigramLm.scores(minCount > 1) is the shipped lever
        // when a real corpus's bigram vocab outgrows broadcast size
        graft.text.BigramLm.scores(base, minCount = 1L)
      }
  }

  /** Oracle CTE prefix mirroring [[SharedBigramScores]] — ends in
    * `sc(doc_id, n_bigrams, logp_micro)`, shared by both LM queries so
    * the two mirrors cannot drift.
    */
  private val BigramScoreSql =
    """t AS (
                SELECT doc_id,
                       string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS tk
                FROM documents),
              bigt AS (SELECT doc_id,
                              unnest([tk[i] || ' ' || tk[i+1]
                                      for i in range(1, len(tk))]) AS bg
                       FROM t),
              cbi AS (SELECT bg, count(*) AS cb FROM bigt GROUP BY 1),
              cctx AS (SELECT string_split(bg, ' ')[1] AS u, count(*) AS cu
                       FROM bigt GROUP BY 1),
              toks AS (SELECT unnest(tk) AS token FROM t),
              uni AS (SELECT token, count(*) AS cw FROM toks GROUP BY 1),
              nn AS (SELECT count(*) AS n FROM toks),
              dict AS (SELECT cbi.bg,
                              CAST(round(ln(
                                0.75 * (cbi.cb / cctx.cu) +
                                0.25 * (uni.cw / nn.n)) * 1000000, 0)
                                AS BIGINT) AS lp
                       FROM cbi
                       JOIN cctx ON cctx.u = string_split(cbi.bg, ' ')[1]
                       JOIN uni ON uni.token = string_split(cbi.bg, ' ')[2]
                       CROSS JOIN nn),
              sc AS (SELECT doc_id, count(*) AS n_bigrams,
                            CAST(sum(lp) AS BIGINT) AS logp_micro
                     FROM bigt JOIN dict USING (bg)
                     GROUP BY doc_id)"""

  /** The labeled+augmented training frame and fitted quality models per
    * (session, fixture), memoized: `doc_quality_model` and
    * `doc_quality_model_lr` share one NB sufficient-statistics fit, and
    * the LR refinement (3 gradient passes) runs once per fixture, not
    * per invocation. Models are tiny plain values (129 longs) — no
    * Spark state pinned.
    */
  private object SharedQualityModels {
    private val nbMemo = new SessionMemo[String, graft.text.QualityModel.Model]()
    private val lrMemo = new SessionMemo[String, graft.text.QualityModel.Model]()
    private val docsMemo = SessionMemo.frames[String]

    /** Tokenized+labeled+augmented frame, pinned: NB fit (two passes),
      * LR refinement, and both scoring queries all read it — unpinned,
      * each pass re-pays tokenize + per-token md5 over the corpus.
      */
    def docs(s: org.apache.spark.sql.SparkSession, dir: String)
        : org.apache.spark.sql.DataFrame =
      docsMemo(s, dir)(
        graft.Tables.table(s, dir, "documents")
          .select(col("doc_id"), TextFunctions.tokens(col("text")).as("toks"))
          .withColumn("label", QualityModel.weakLabel(col("toks")))
          .withColumn("ftoks", QualityModel.featureTokens(col("toks"))))

    def nb(s: org.apache.spark.sql.SparkSession, dir: String)
        : graft.text.QualityModel.Model =
      nbMemo(s, dir)(QualityModel.fit(docs(s, dir), "ftoks", "label", d = 128))

    def lr(s: org.apache.spark.sql.SparkSession, dir: String)
        : graft.text.QualityModel.Model =
      lrMemo(s, dir)(QualityModel.refine(
        docs(s, dir), "ftoks", "label", nb(s, dir), iters = 3))
  }

  /** DuckDB oracle generators for the text family's learned-constant
    * queries ([[graft.queries.Q.oracleGen]], the PQ-family convention):
    * the BPE merge table and the refined LR weights come out of fits,
    * but once fitted they are plain values — the generators embed them
    * as literals and DuckDB replays the APPLY side exactly.
    *
    * The BPE replay trick: a symbol sequence is encoded as a string
    * where every symbol carries its OWN leading and trailing space
    * (`"ab c" → " a  b  c "` — adjacent symbols show 2 spaces, word
    * boundaries 3+), and one learned merge (l, r → lr) is then EXACTLY
    * one SQL `replace(s, ' l  r ', ' lr ')`: leftmost-first
    * non-overlapping replacement over that encoding is the same greedy
    * scan as [[graft.text.Bpe.mergeOnce]], and because a match consumes
    * only the pair's own delimiters, adjacent pairs (e.g. `a a a a`
    * under merge `a a`) merge independently exactly like the Scala
    * loop. Chaining the 8 learned merges in step order replays
    * [[graft.text.Bpe.encodeWord]] for every word at once.
    */
  private[queries] object TextOracle {

    /** Chained replace() replay of the learned merges (step order) over
      * an expression producing the space-wrapped symbol encoding.
      */
    def mergeReplay(init: String, merges: Seq[graft.text.Bpe.Merge])
        : String =
      merges.sortBy(_.step).foldLeft(init)((acc, m) =>
        s"replace($acc, ' ${m.left}  ${m.right} ', ' ${m.merged} ')")

    /** The space-wrapped symbol encoding of an expression's characters
      * (each char → ` c `); safe for whole normalized documents — space
      * characters become space-only symbols no merge pattern can touch.
      */
    def wrapChars(expr: String): String =
      s"regexp_replace($expr, '(.)', ' \\1 ', 'g')"

    /** `text_bpe_train`'s oracle — the LEARN itself replayed in SQL, no
      * learned constants injected (a STATIC oracle, unlike the
      * [[Q.oracleGen]] family): DuckDB re-derives the word-freq dict
      * from the corpus, then chains `steps` CTE triplets each doing one
      * full BPE iteration — pair-count over the space-wrapped symbol
      * encodings (adjacent-symbol extraction via list indexing, freq-
      * weighted sum), the deterministic argmax (cnt DESC, l ASC, r ASC —
      * [[graft.text.Bpe.learnScalable]]'s exact tie-break), and the greedy
      * non-overlapping merge rewrite as ONE `replace()` over the
      * encoding (the r13 [[mergeReplay]] device: every symbol owns both
      * its delimiters, so leftmost-first replacement IS the Scala scan).
      * The merge table is a pure function of the corpus, so the two
      * engines must agree bit-for-bit — the trainer was the last
      * non-sketch rows-only entry.
      */
    def bpeTrainSql(steps: Int): String = {
      val stepCtes = (1 to steps).map { k =>
        val prev = s"dict${k - 1}"
        s"""pairs$k AS (
             SELECT syms[i] AS l, syms[i + 1] AS r,
                    CAST(sum(freq) AS BIGINT) AS cnt
             FROM (SELECT regexp_extract_all(enc, '[^ ]+') AS syms, freq
                   FROM $prev) d,
                  LATERAL (SELECT unnest(range(1, len(d.syms))) AS i) ii
             GROUP BY 1, 2),
           top$k AS (
             SELECT $k AS step, l, r, l || r AS merged, cnt AS freq
             FROM pairs$k ORDER BY cnt DESC, l, r LIMIT 1),
           dict$k AS (
             SELECT replace(enc, ' ' || t.l || '  ' || t.r || ' ',
                            ' ' || t.merged || ' ') AS enc, $prev.freq
             FROM $prev, top$k t)"""
      }
      val union = (1 to steps).map(k => s"SELECT * FROM top$k")
        .mkString(" UNION ALL ")
      s"""WITH toks AS (
            SELECT unnest(string_split(trim(regexp_replace(lower(text),
                     '[^a-z0-9]+', ' ', 'g')), ' ')) AS word
            FROM documents),
          dict0 AS (
            SELECT ${wrapChars("word")} AS enc, count(*)::BIGINT AS freq
            FROM toks WHERE length(word) > 0 GROUP BY 1),
          ${stepCtes.mkString(",\n          ")}
          SELECT CAST(step AS INTEGER) AS step, l AS "left", r AS "right",
                 merged, freq
          FROM ($union) ORDER BY step"""
    }

    /** `text_bpe_encode`: replay the learned merges over the DISTINCT
      * words (the Spark plan's encode-the-vocab shape), count subwords
      * as the non-space runs of the merged encoding, and roll up by
      * lang exactly like the Spark side.
      */
    def bpeEncodeSql(s: org.apache.spark.sql.SparkSession, dir: String)
        : String = {
      val merges = SharedBpeMerges(s, dir, 8)
      val enc = mergeReplay(wrapChars("word"), merges)
      s"""WITH toks AS (
            SELECT lang, unnest(string_split(trim(regexp_replace(lower(text),
                     '[^a-z0-9]+', ' ', 'g')), ' ')) AS word
            FROM documents),
          w2 AS (SELECT lang, word FROM toks WHERE length(word) > 0),
          vocab AS (SELECT DISTINCT word FROM w2),
          enc AS (SELECT word,
                         CAST(len(regexp_extract_all($enc, '[^ ]+'))
                              AS BIGINT) AS n_sub,
                         CAST(length(word) AS BIGINT) AS n_chars
                  FROM vocab)
          SELECT lang, count(*) AS n_words,
                 CAST(sum(n_sub) AS BIGINT) AS n_subtokens,
                 round(CAST(sum(n_chars) AS DOUBLE) / CAST(sum(n_sub) AS DOUBLE), 4)
                   AS chars_per_token
          FROM w2 JOIN enc USING (word)
          GROUP BY lang ORDER BY lang"""
    }

    /** `doc_quality_model_lr`: the REFINED weights/prior (gradient
      * descent, bit-deterministic micro-longs) embed as a literal
      * 128-row table and the oracle replays the exact-integer scoring
      * over the shared feature CTEs ([[QualityAugSql]] — the same
      * prefix the NB oracle derives its weights from, so the feature
      * pipeline cannot drift between the two).
      */
    def qualityLrSql(s: org.apache.spark.sql.SparkSession, dir: String)
        : String = {
      val m = SharedQualityModels.lr(s, dir)
      val rows = m.weightsMicro.zipWithIndex
        .map { case (w, b) => s"($b, CAST($w AS BIGINT))" }
      s"""WITH $QualityAugSql,
          lrw(b, w_l) AS (VALUES ${rows.mkString(", ")}),
          lsc AS (SELECT tk.doc_id, CAST(sum(lrw.w_l) AS BIGINT) AS tsum
                  FROM tk JOIN lrw USING (b) GROUP BY tk.doc_id)
          SELECT l.doc_id,
                 CAST(coalesce(lsc.tsum, 0) + ${m.priorMicro} AS BIGINT)
                   AS score_micro,
                 (coalesce(lsc.tsum, 0) + ${m.priorMicro}) > 0 AS pred_keep,
                 l.label
          FROM lab l LEFT JOIN lsc ON lsc.doc_id = l.doc_id
          ORDER BY l.doc_id"""
    }

    /** `doc_quality_eval_lr`: the NB row re-derives its weights
      * closed-form in SQL (the full [[QualityScoredSql]] chain), the LR
      * row scores through the literal refined weights — one confusion
      * table per model, both fully re-computed by DuckDB.
      */
    def qualityEvalLrSql(s: org.apache.spark.sql.SparkSession, dir: String)
        : String = {
      val m = SharedQualityModels.lr(s, dir)
      val rows = m.weightsMicro.zipWithIndex
        .map { case (w, b) => s"($b, CAST($w AS BIGINT))" }
      def confusion(src: String, tag: String): String =
        s"""SELECT '$tag' AS model,
              CAST(sum(CASE WHEN pred_keep AND label THEN 1 ELSE 0 END) AS BIGINT) AS tp,
              CAST(sum(CASE WHEN pred_keep AND NOT label THEN 1 ELSE 0 END) AS BIGINT) AS fp,
              CAST(sum(CASE WHEN NOT pred_keep AND label THEN 1 ELSE 0 END) AS BIGINT) AS fn,
              CAST(sum(CASE WHEN NOT pred_keep AND NOT label THEN 1 ELSE 0 END) AS BIGINT) AS tn
            FROM $src"""
      s"""WITH $QualityScoredSql,
          lrw(b, w_l) AS (VALUES ${rows.mkString(", ")}),
          lsc AS (SELECT tk.doc_id, CAST(sum(lrw.w_l) AS BIGINT) AS tsum
                  FROM tk JOIN lrw USING (b) GROUP BY tk.doc_id),
          lrscored AS (
            SELECT l.doc_id,
                   (coalesce(lsc.tsum, 0) + ${m.priorMicro}) > 0 AS pred_keep,
                   l.label
            FROM lab l LEFT JOIN lsc ON lsc.doc_id = l.doc_id),
          both_ AS (${confusion("lrscored", "lr")}
                    UNION ALL
                    ${confusion("scored", "nb")})
          SELECT model, tp, fp, fn, tn,
                 round(tp::DOUBLE / greatest(tp + fp, 1), 4) AS prec,
                 round(tp::DOUBLE / greatest(tp + fn, 1), 4) AS recall
          FROM both_ ORDER BY model"""
    }
  }

  /** Winnowed fingerprints (doc_id, fp), exploded — the library
    * pipeline ([[graft.text.Winnow.fingerprintsDf]]; the checkpoint
    * rationale lives on its scaladoc), shared here by the fingerprint
    * and matcher queries and, in scalar form, by the streaming
    * contamination guard.
    */
  private def winnowFingerprints(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    graft.text.Winnow.fingerprintsDf(docs)

  /** Okapi BM25 per-doc scores for a fixed term query (Lucene-form idf,
    * k1=1.2, b=0.75), quantized to 1e-6-unit longs before the per-doc
    * sum so the ranking key is bit-stable across engines (the
    * ts_seasonal integer-grid trick). Output: (doc_id, score_micro,
    * n_terms). Shared by `text_bm25` and `text_rank_fusion`.
    */
  private def bm25Scores(docs: org.apache.spark.sql.DataFrame,
      qterms: Seq[String]): org.apache.spark.sql.DataFrame = {
    val toks = docs.select(col("doc_id"),
      explode(TextFunctions.tokens(TextFunctions.normalize(col("text")))).as("tok"))
    val lens = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val stats = broadcast(lens.agg(
      count(lit(1)).as("n_docs"), sum("dl").as("total_toks")))
    val tf = toks.filter(col("tok").isin(qterms: _*))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val dft = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    tf.join(broadcast(dft), "tok")
      .join(lens, "doc_id")
      .crossJoin(stats)
      .withColumn("avgdl",
        col("total_toks").cast("double") / col("n_docs"))
      .withColumn("idf",
        log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1))
      .withColumn("tsm",
        round(col("idf") * ((col("tf") * lit(2.2)) /
          (col("tf") + lit(1.2) *
            (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))))
          * lit(1e6), 0).cast("long"))
      .groupBy("doc_id")
      .agg(sum("tsm").as("score_micro"), count(lit(1)).as("n_terms"))
  }

  private object SharedMinHashSigs {
    private val memo = SessionMemo.frames[(String, Int, Int)]
    def apply(s: org.apache.spark.sql.SparkSession, dir: String, n: Int, k: Int)
        : org.apache.spark.sql.DataFrame =
      memo(s, (dir, n, k))(
        Dedup.minHashSignaturesFromIndex(SharedShingleIndex(s, dir, n), k))
  }

  /** `text_tfidf` body, parameterized on the vocabulary broadcast cap so
    * VocabGuardSpec can force the web-scale shuffled-join branch
    * (cap = 0) and pin bit-parity against the broadcast branch.
    */
  private[graft] def tfidfTop5(s: org.apache.spark.sql.SparkSession,
      dir: String, cap: Long): org.apache.spark.sql.DataFrame = {
    val docs = t(s, dir, "documents")
    // corpus size as an IN-PLAN 1-row aggregate (broadcast cross
    // join), not a driver-side count() — no extra eager scan of the
    // corpus before the pipeline even starts
    val nDocs = docs.agg(count(lit(1)).cast("double").as("n_docs"))
    val toks = docs
      .repartition(s.sparkContext.defaultParallelism)
      .select(col("doc_id"),
        explode(TextFunctions.tokens(TextFunctions.normalize(col("text")))).as("token"))
    // tf backs BOTH the document-frequency aggregate and the scored fact
    // side; a lazy local checkpoint runs the tokenize+explode+count
    // pipeline once instead of once per reference (tf is the compact
    // doc×distinct-term frame the df aggregation needs anyway — the
    // shuffle that builds it already moved these exact rows)
    val tf = toks.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
      .localCheckpoint(eager = false)
    val dfreq = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("score").desc, col("token"))
    // dfreq is one row per vocabulary term — usually ≪ the doc×term
    // tf table, and broadcasting it keeps tf un-shuffled going into
    // the join. "Usually" is not a 100 TB guarantee (raw web vocab
    // runs 10⁸–10⁹ distinct words), so the broadcast rides the
    // COUNTED guard: within VocabGuard's 10M-entry cap it broadcasts,
    // beyond it the same join runs shuffled — bit-identical rows
    // either way (VocabGuardSpec pins it)
    VocabGuard.guardedJoin(tf, dfreq, Seq("token"), cap = cap)
      .crossJoin(broadcast(nDocs))
      .withColumn("score",
        round(col("tf") * log(col("n_docs") / col("df")), 4))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 5)
      .select("doc_id", "rk", "token", "score")
      .orderBy("doc_id", "rk")
  }

  /** `text_ngram_lm` body, cap-parameterized (the tfidfTop5 contract). */
  private[graft] def ngramLm(s: org.apache.spark.sql.SparkSession,
      dir: String, cap: Long): org.apache.spark.sql.DataFrame = {
    val toks = t(s, dir, "documents")
      .repartition(s.sparkContext.defaultParallelism)
      .select(col("doc_id"),
        explode(TextFunctions.tokens(TextFunctions.normalize(col("text")))).as("token"))
    // vocab is zipf-compact and referenced twice (the corpus total below
    // and the scoring join); checkpoint it lazily and REDUCE the token
    // total from it (Σ per-token counts ≡ the token count — integer-
    // valued doubles, exact below 2^53) instead of re-exploding the
    // corpus a third time for a 1-row aggregate — the BigramLm move
    val vocab = toks.groupBy("token").agg(count(lit(1)).cast("double").as("cnt"))
      .localCheckpoint(eager = false)
    val total = vocab.agg(sum("cnt").as("total"))
    // zipf keeps the unigram vocab ≪ token instances, but it is still
    // corpus-derived and unbounded on raw web text — counted broadcast
    // guard, same as text_tfidf's dfreq
    VocabGuard.guardedJoin(toks, vocab, Seq("token"), cap = cap)
      .crossJoin(broadcast(total))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        round(avg(log(col("cnt") / col("total"))), 4).as("avg_logp"))
      .orderBy("doc_id")
  }

  /** `text_bpe_encode` body, cap-parameterized (the tfidfTop5
    * contract). The merge-replay UDF touches only the vocab side in
    * BOTH branches — the guard changes join strategy, never where the
    * per-word loop runs.
    */
  private[graft] def bpeEncodeStats(s: org.apache.spark.sql.SparkSession,
      dir: String, cap: Long): org.apache.spark.sql.DataFrame = {
    val merges = SharedBpeMerges(s, dir, 8)
    val nSub = udf((w: String) => graft.text.Bpe.encodeWord(w, merges).length)
    val toks = t(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
        explode(TextFunctions.tokens(TextFunctions.normalize(col("text"))))
          .as("word"))
      .filter(length(col("word")) > 0)
    val vocab = toks.select("word").distinct()
      .withColumn("n_sub", nSub(col("word")))
      .withColumn("n_chars", length(col("word")))
    // the encoded vocab is tokenizer-sized on any curated corpus but
    // corpus-derived and unbounded on raw web text — counted broadcast
    // guard (≤10M words broadcast; beyond that the same join runs
    // shuffled)
    VocabGuard.guardedJoin(toks, vocab, Seq("word"), cap = cap)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_words"),
        sum("n_sub").as("n_subtokens"),
        round(sum("n_chars").cast("double") / sum("n_sub"), 4)
          .as("chars_per_token"))
      .orderBy("lang")
  }

  override val queries: Seq[Q] = Seq(

    // Tokenize → explode → frequency. The shuffle carries (token, count)
    // partials (map-side combine), not raw tokens.
    Q("text_tokens",
      (s, dir) => t(s, dir, "documents")
        .select(explode(TextFunctions.tokens(TextFunctions.normalize(col("text")))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("token"))
        .limit(100),
      Some("""SELECT token, count(*) AS cnt
              FROM (SELECT unnest(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS token
                    FROM documents)
              GROUP BY token ORDER BY cnt DESC, token LIMIT 100""")),

    // Deterministic content-hash stratified sampling: keep the docs whose
    // content md5 lands in 1 of 8 buckets — the reproducible downsampling
    // a curation pipeline needs (same doc always samples the same way, on
    // any engine, at any scale; no RNG state to coordinate). Narrow,
    // zero-shuffle, filter pushes to the scan.
    Q("doc_sample_hash",
      (s, dir) => t(s, dir, "documents")
        .filter(graft.functions.Hashing.md5Bucket(col("text"), 8) === 0)
        .select("doc_id", "source", "lang")
        .orderBy("doc_id"),
      Some("""SELECT doc_id, source, lang FROM documents
              WHERE ('0x' || substr(md5(text), 1, 8))::BIGINT % 8 = 0
              ORDER BY doc_id""")),

    // Stratified deterministic sampling: per-language KEEP RATES (the
    // rebalancing step after text_lang_stats profiles the corpus —
    // downsample the dominant language, keep the rest). Same md5-bucket
    // convention as doc_sample_hash, so membership is stable across
    // engines/scales; narrow, zero-shuffle, no RNG state.
    Q("doc_sample_stratified",
      (s, dir) => {
        val bucket = graft.functions.Hashing
          .md5Bucket(col("doc_id").cast("string"), 100)
        val rate = when(col("lang") === "en", 30)
          .when(col("lang") === "zh", 100).otherwise(60)
        t(s, dir, "documents")
          .withColumn("bucket", bucket)
          .filter(col("bucket") < rate)
          .select("doc_id", "lang", "bucket")
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, lang,
                     ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 100 AS bucket
              FROM documents
              WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 100
                    < CASE lang WHEN 'en' THEN 30 WHEN 'zh' THEN 100 ELSE 60 END
              ORDER BY doc_id""")),

    // WEIGHTED sampling without replacement (Efraimidis–Spirakis
    // exponential-keys): priority = -ln(u)/w with u a deterministic
    // md5-derived uniform and w = octet_length(text), so longer docs are
    // proportionally likelier — no RNG state to coordinate, membership
    // identical on any engine at any scale. The k smallest priorities
    // win: plans as TakeOrderedAndProject (per-partition heap + driver
    // merge of k) — one narrow corpus pass, ZERO shuffle, the same shape
    // at 100 TB. Priorities round to 9 dp before the order so libm ulp
    // differences between engines cannot flip the selection.
    Q("doc_sample_weighted",
      (s, dir) => {
        val b = graft.functions.Hashing
          .md5Bucket(col("doc_id").cast("string"))
        val u = (b + lit(1)).cast("double") / lit(1000001.0d)
        // weight floored at 1: a zero-byte doc must not divide by zero
        // (Spark NULL vs DuckDB +inf would flip sample membership)
        val w = greatest(octet_length(col("text")), lit(1)).cast("double")
        t(s, dir, "documents")
          .withColumn("priority", round(-log(u) / w, 9))
          .select(col("doc_id"), col("lang"),
            greatest(octet_length(col("text")), lit(1)).cast("long")
              .as("weight"),
            col("priority"))
          .orderBy(col("priority"), col("doc_id"))
          .limit(50)
      },
      Some("""SELECT doc_id, lang, greatest(strlen(text), 1)::BIGINT AS weight,
                     round(-ln((('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 1000000 + 1)
                               / 1000001.0)
                           / greatest(strlen(text), 1), 9) AS priority
              FROM documents
              ORDER BY priority, doc_id LIMIT 50""")),

    // EXACT heavy hitters at sketch cost (the classic two-pass): pass 1
    // folds the token stream into ONE mergeable Misra–Gries summary
    // (≤200 counters per partition, k-entry partials shuffle instead of
    // the full vocabulary) whose survivors are a GUARANTEED superset of
    // every token above n/201 of the stream; pass 2 exact-counts only
    // those ≤200 candidates via a broadcast join and keeps true
    // > 0.5% tokens with an all-integer threshold (cnt·200 > n). The
    // final output is deterministic and DuckDB-oracled even though
    // sketch internals depend on partitioning — the sketch only ever
    // proposes, the recount decides.
    Q("text_heavy_hitters",
      (s, dir) => {
        val toks = t(s, dir, "documents")
          .repartition(s.sparkContext.defaultParallelism)
          .select(explode(TextFunctions.tokens(
            TextFunctions.normalize(col("text")))).as("token"))
        val mg = udaf(new graft.functions.MisraGries(200),
          org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[String]())
        // sketch and stream length fold in ONE pass over the tokens;
        // the recount pass is the second and last
        val sketchAndTotal = toks
          .agg(mg(col("token")).as("sketch"), count(lit(1)).as("n_total"))
        val cands = sketchAndTotal
          .select(explode(map_keys(col("sketch"))).as("token"), col("n_total"))
        toks.join(broadcast(cands), "token")
          .groupBy("token", "n_total").agg(count(lit(1)).as("cnt"))
          .filter(col("cnt") * 200 > col("n_total"))
          .select("token", "cnt")
          .orderBy(col("cnt").desc, col("token"))
      },
      Some("""WITH toks AS (
                SELECT unnest(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS token
                FROM documents),
              tot AS (SELECT count(*) AS n_total FROM toks)
              SELECT token, count(*) AS cnt
              FROM toks, tot
              GROUP BY token, n_total
              HAVING count(*) * 200 > n_total
              ORDER BY cnt DESC, token""")),

    // SUBSTRING-level duplication signal (the span-dedup op of Lee et
    // al., "Deduplicating Training Data Makes Language Models Better"):
    // 10-token spans appearing in ≥2 documents, with how many docs share
    // them and the representative first doc — the table a pipeline uses
    // to cut duplicated passages that doc-level Jaccard never sees
    // (boilerplate, licenses, quoted blocks). Same inverted-postings
    // shape as every dedup op here: one shuffle on the span, count
    // partials combine map-side, never doc×doc.
    Q("text_dup_spans",
      (s, dir) => {
        val sh = Dedup.shingleIndex(t(s, dir, "documents"),
          "doc_id", "text", 10)
        // the index is per-doc DISTINCT, so count(*) IS the doc count
        sh.groupBy("shingle")
          .agg(count(lit(1)).as("n_docs"), min("doc_id").as("first_doc"))
          .filter(col("n_docs") >= 2)
          .select(md5(col("shingle")).as("span_hash"),
            col("n_docs"), col("first_doc"))
          .orderBy("span_hash")
      },
      Some("""WITH sh AS (
                SELECT doc_id, unnest(list_distinct(
                         [array_to_string(t[i:i+9], ' ')
                          for i in range(1, len(t) - 8)])) AS shingle
                FROM (SELECT doc_id,
                             string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS t
                      FROM documents))
              SELECT md5(shingle) AS span_hash, count(*) AS n_docs,
                     min(doc_id) AS first_doc
              FROM sh GROUP BY shingle HAVING count(*) >= 2
              ORDER BY span_hash""")),

    // The quality-filter DECISION pass: compose the scoring signals
    // (length, vocabulary diversity, stopword density) into keep/drop
    // with a first-failing-rule reason column — the exact filter a
    // pre-training pipeline runs before tokenization. One narrow
    // projection; every signal is integer-exact before its single double
    // division, so the threshold comparisons agree across engines.
    Q("doc_quality_filter",
      (s, dir) => {
        val toks = TextFunctions.tokens(col("text"))
        val nTokens = size(toks).cast("long")
        val uniqRatio = size(array_distinct(toks)).cast("double") /
          nTokens.cast("double")
        val stopRatio = TextFunctions.stopwordRatio(toks)
        t(s, dir, "documents")
          .select(col("doc_id"), nTokens.as("n_tokens"),
            round(uniqRatio, 4).as("uniq_ratio"),
            round(stopRatio, 4).as("stop_ratio"),
            (nTokens >= 25 && uniqRatio >= 0.35 && stopRatio <= 0.15).as("keep"),
            when(nTokens < 25, "too_short")
              .when(uniqRatio < 0.35, "repetitive")
              .when(stopRatio > 0.15, "stopword_heavy")
              .otherwise("ok").as("reason"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
                     len(t) AS n_tokens,
                     round(len(list_distinct(t))::DOUBLE / len(t), 4) AS uniq_ratio,
                     round(len(list_filter(t,
                             x -> x IN ('the','a','an','of','and','to','in','is','it','for')))::DOUBLE
                           / len(t), 4) AS stop_ratio,
                     len(t) >= 25
                       AND len(list_distinct(t))::DOUBLE / len(t) >= 0.35
                       AND len(list_filter(t,
                             x -> x IN ('the','a','an','of','and','to','in','is','it','for')))::DOUBLE
                           / len(t) <= 0.15 AS keep,
                     CASE WHEN len(t) < 25 THEN 'too_short'
                          WHEN len(list_distinct(t))::DOUBLE / len(t) < 0.35 THEN 'repetitive'
                          WHEN len(list_filter(t,
                                 x -> x IN ('the','a','an','of','and','to','in','is','it','for')))::DOUBLE
                               / len(t) > 0.15 THEN 'stopword_heavy'
                          ELSE 'ok' END AS reason
              FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
              ORDER BY doc_id""")),

    // CONTAINMENT near-dup: the smaller doc's shingles ≥90% inside the
    // other's — doc-inside-doc duplication (boilerplate wrapping,
    // partial scrapes) that symmetric Jaccard structurally misses.
    // Reuses the shared shingle index; same one-shuffle postings shape.
    Q("doc_dedup_contain",
      (s, dir) => Dedup.containmentPairsFromIndex(
          SharedShingleIndex(s, dir, 3), minContainment = 0.9)
        .select(col("a_id"), col("b_id"), round(col("containment"), 4).as("containment"))
        .orderBy("a_id", "b_id"),
      Some("""WITH sh AS (
                SELECT doc_id, unnest(
                  list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                                 for i in range(1, len(t) - 1)])) AS shingle
                FROM (SELECT doc_id,
                             string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS t
                      FROM documents)),
              sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
              cand AS (
                SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS c
                FROM sh a JOIN sh b
                  ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                GROUP BY 1, 2)
              SELECT a_id, b_id,
                     round(c::DOUBLE / least(sa.n, sb.n), 4) AS containment
              FROM cand
              JOIN sizes sa ON cand.a_id = sa.doc_id
              JOIN sizes sb ON cand.b_id = sb.doc_id
              WHERE c::DOUBLE / least(sa.n, sb.n) >= 0.9
              ORDER BY a_id, b_id""")),

    // Balanced per-stratum sampling: exactly k=5 docs per language,
    // picked by smallest md5 — fixed-SIZE strata (vs
    // doc_sample_stratified's fixed RATES). Rank over the (tiny)
    // per-language hash order; deterministic on any engine.
    Q("doc_sample_balanced",
      (s, dir) => {
        val h = conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
          .cast("long")
        val w = Window.partitionBy("lang").orderBy(h, col("doc_id"))
        t(s, dir, "documents")
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 5)
          .select(col("doc_id"), col("lang"), col("rk").cast("long").as("rk"))
          .orderBy("lang", "rk")
      },
      Some("""SELECT doc_id, lang, rk FROM (
                SELECT doc_id, lang,
                       row_number() OVER (PARTITION BY lang
                         ORDER BY ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT,
                                  doc_id) AS rk
                FROM documents)
              WHERE rk <= 5 ORDER BY lang, rk""")),

    // Domain-mixture sampling to TARGET RATIOS: given mixture weights
    // per language (en:de:fr:es:zh = 4:2:2:1:1 — the training-mix knob a
    // pipeline tunes), derive each domain's keep volume FROM the
    // corpus's own counts (one 5-row aggregation) as the largest total
    // honoring the ratios, then keep rate-proportionally by the
    // md5-bucket convention. All-integer arithmetic end to end
    // (bucket·n < T·w·10⁶), so membership is bit-stable across engines.
    // Scale shape: the counts reduce to |domains| rows and broadcast
    // back; the corpus itself never shuffles — unlike a per-domain
    // row_number sample, which would funnel 100 TB through |domains|
    // window partitions (doc_sample_balanced's shape is only for small
    // strata; this is the whole-corpus form).
    Q("doc_mix_sample",
      (s, dir) => {
        import s.implicits._
        val weights = Seq(("en", 4L), ("de", 2L), ("fr", 2L),
          ("es", 1L), ("zh", 1L)).toDF("lang", "wt")
        val docs = t(s, dir, "documents")
        val counts = docs.groupBy("lang").agg(count(lit(1)).as("n"))
        val rates = counts.join(weights, "lang") // 5 rows
        val tUnits = rates.agg(min(expr("n div wt")).as("t_units")) // 1 row
        val bucket = graft.functions.Hashing
          .md5Bucket(col("doc_id").cast("string"))
        docs.join(broadcast(rates), "lang")
          .crossJoin(broadcast(tUnits))
          .filter(bucket * col("n") < col("t_units") * col("wt") * lit(1000000L))
          .select("doc_id", "lang")
          .orderBy("doc_id")
      },
      Some("""WITH w(lang, wt) AS (VALUES ('en', 4), ('de', 2), ('fr', 2),
                                          ('es', 1), ('zh', 1)),
                counts AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
                t AS (SELECT min(n // wt) AS t_units FROM counts JOIN w USING (lang))
              SELECT d.doc_id, d.lang
              FROM documents d JOIN counts USING (lang) JOIN w USING (lang), t
              WHERE (('0x' || substr(md5(d.doc_id::VARCHAR), 1, 8))::BIGINT % 1000000) * n
                    < t_units * wt * 1000000
              ORDER BY d.doc_id""")),

    // Benchmark DECONTAMINATION: find corpus docs sharing ≥ 3 distinct
    // 5-gram shingles with any doc of the "eval set" (stand-in: doc_id
    // < 20) — the overlap check a training pipeline runs so eval data
    // does not leak into the corpus. Scale shape = the inverted-index
    // join: the EVAL side's shingles broadcast (an eval set is tiny by
    // definition), the corpus side explodes narrowly, one aggregation
    // counts matched shingles per (corpus, eval) pair — never corpus ×
    // eval, never corpus × corpus.
    Q("doc_contamination",
      (s, dir) => {
        val docs = t(s, dir, "documents")
          .repartition(s.sparkContext.defaultParallelism)
        def sh(df: org.apache.spark.sql.DataFrame, idAs: String) =
          df.select(col("doc_id").as(idAs), explode(TextFunctions.shingles(
            TextFunctions.tokens(TextFunctions.normalize(col("text"))), 5)).as("shingle"))
        val evalSh = sh(docs.filter(col("doc_id") < 20), "eval_id")
        val corpusSh = sh(docs.filter(col("doc_id") >= 20), "corpus_id")
        corpusSh.join(broadcast(evalSh), "shingle")
          .groupBy("corpus_id", "eval_id")
          .agg(count(lit(1)).as("n_shared"))
          .filter(col("n_shared") >= 3)
          .orderBy("corpus_id", "eval_id")
      },
      Some("""WITH sh AS (
                SELECT doc_id, unnest(
                  list_distinct([array_to_string(t[i:i+4], ' ')
                                 for i in range(1, len(t) - 3)])) AS shingle
                FROM (SELECT doc_id,
                             string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS t
                      FROM documents))
              SELECT c.doc_id AS corpus_id, e.doc_id AS eval_id,
                     count(*) AS n_shared
              FROM sh c JOIN sh e ON c.shingle = e.shingle
              WHERE c.doc_id >= 20 AND e.doc_id < 20
              GROUP BY corpus_id, eval_id
              HAVING count(*) >= 3
              ORDER BY corpus_id, eval_id""")),

    // Sequence PACKING: assign docs to fixed-token-budget training bins
    // (greedy in-order packing per shard) — the step that turns a
    // curated corpus into model-ready sequences. The shard key is
    // (source, doc_id div 1000), NOT source alone: a window partition
    // must fit one reducer, and a composite shard bounds it at ≤1000
    // docs by construction no matter how large one source grows (real
    // pipelines pack within file shards for exactly this reason). One
    // shuffle on the shard key; bin = floor((cumsum-1)/budget).
    Q("doc_pack",
      // the plan itself is the ONE shared AssemblyQueries.packPlan —
      // doc_pack_emit materializes exactly these bins, and a retuned
      // budget/shard divisor changes both queries together
      (s, dir) => AssemblyQueries.packPlan(t(s, dir, "documents"))
        .select("doc_id", "source", "shard", "n_tok", "bin")
        .orderBy("doc_id"),
      Some("""SELECT doc_id, source, doc_id // 1000 AS shard, n_tok,
                     CAST(floor((cum - 1) / 512) AS BIGINT) AS bin
              FROM (SELECT doc_id, source,
                           len(string_split(text, ' ')) AS n_tok,
                           sum(len(string_split(text, ' '))) OVER
                             (PARTITION BY source, doc_id // 1000 ORDER BY doc_id
                              ROWS UNBOUNDED PRECEDING) AS cum
                    FROM documents)
              ORDER BY doc_id""")),

    // Corpus-wide bigram DOCUMENT frequency (top 50) — shingles() dedups
    // per doc, so the count is "how many docs contain this bigram": the
    // n-gram contamination-check / stop-shingle-discovery primitive (its
    // output is exactly what tunes jaccardPairs' maxShingleDf cap).
    // Shingle explode → one aggregation with map-side combine; top-k caps
    // the output.
    Q("text_bigrams",
      (s, dir) => t(s, dir, "documents")
        // shingling is CPU-heavy narrow work; a single-file fixture gives
        // ONE input partition — spread it before the per-row loop
        .repartition(s.sparkContext.defaultParallelism)
        .select(explode(TextFunctions.shingles(
          TextFunctions.tokens(TextFunctions.normalize(col("text"))), 2)).as("bigram"))
        .groupBy("bigram").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("bigram"))
        .limit(50),
      Some("""SELECT bigram, count(*) AS cnt
              FROM (SELECT unnest(list_distinct([t[i] || ' ' || t[i+1]
                                                 for i in range(1, len(t))])) AS bigram
                    FROM (SELECT string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS t
                          FROM documents))
              GROUP BY bigram ORDER BY cnt DESC, bigram LIMIT 50""")),

    // Per-doc quality metrics: narrow, zero-shuffle, codegen'd.
    Q("text_quality",
      (s, dir) => {
        val toks = TextFunctions.tokens(col("text"))
        t(s, dir, "documents")
          .select(
            col("doc_id"),
            size(toks).cast("long").as("n_tokens"),
            size(array_distinct(toks)).cast("long").as("n_uniq"),
            round(TextFunctions.avgTokenLength(col("text"), toks), 4).as("avg_tok_len"),
            round(TextFunctions.stopwordRatio(toks), 4).as("stop_ratio"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
                     len(string_split(text, ' ')) AS n_tokens,
                     len(list_distinct(string_split(text, ' '))) AS n_uniq,
                     round(length(replace(text, ' ', ''))::DOUBLE
                           / greatest(len(string_split(text, ' ')), 1), 4) AS avg_tok_len,
                     round(len(list_filter(string_split(text, ' '),
                             x -> x IN ('the','a','an','of','and','to','in','is','it','for')))::DOUBLE
                           / greatest(len(string_split(text, ' ')), 1), 4) AS stop_ratio
              FROM documents ORDER BY doc_id""")),

    // Language-ID heuristic (script range + marker stopwords).
    Q("text_langid",
      (s, dir) => t(s, dir, "documents")
        .select(col("doc_id"),
          TextFunctions.langId(col("text"), TextFunctions.tokens(col("text"))).as("lang_pred"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
                     CASE WHEN regexp_matches(text, '[一-鿿]') THEN 'zh'
                          WHEN len(list_intersect(string_split(text,' '),
                                ['der','die','das','und','nicht'])) > 0 THEN 'de'
                          WHEN len(list_intersect(string_split(text,' '),
                                ['el','los','las','una','es'])) > 0 THEN 'es'
                          WHEN len(list_intersect(string_split(text,' '),
                                ['le','les','une','est','et'])) > 0 THEN 'fr'
                          ELSE 'en' END AS lang_pred
              FROM documents ORDER BY doc_id""")),

    // Content fingerprint (md5 of normalized text).
    Q("text_fingerprint",
      (s, dir) => t(s, dir, "documents")
        .select(col("doc_id"), TextFunctions.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
                     md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp
              FROM documents ORDER BY doc_id""")),

    // BPE-ish token counting (alnum runs + single punctuation marks).
    Q("text_token_count",
      (s, dir) => t(s, dir, "documents")
        .select(col("doc_id"), TextFunctions.bpeTokenCount(col("text")).cast("long").as("n_bpe"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
                     len(regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9\s]')) AS n_bpe
              FROM documents ORDER BY doc_id""")),

    // TF-IDF: term frequency × inverse document frequency, top-5 terms
    // per doc. Two aggregations (doc×token, then token df) + a ranking
    // window — the shuffle carries (token, count) partials. Scores are
    // rounded BEFORE ranking so ordering is ulp-stable across engines.
    Q("text_tfidf",
      (s, dir) => tfidfTop5(s, dir, VocabGuard.MaxBroadcastEntries),
      Some("""WITH toks AS (
                SELECT doc_id, unnest(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS token
                FROM documents),
              tf AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY 1, 2),
              dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
              scored AS (
                SELECT doc_id, token,
                       round(tf * ln((SELECT count(*) FROM documents)::DOUBLE / df), 4) AS score
                FROM tf JOIN dfreq USING (token))
              SELECT doc_id, rk, token, score
              FROM (SELECT *, row_number() OVER
                      (PARTITION BY doc_id ORDER BY score DESC, token) AS rk
                    FROM scored)
              WHERE rk <= 5 ORDER BY doc_id, rk""")),

    // Unigram language-model scoring — the cheap LM-based quality signal
    // a curation pipeline runs before anything transformer-shaped: fit a
    // unigram LM on the corpus itself (token → count, one aggregation),
    // then score every document by its mean token log-probability (low =
    // unusual/garbled relative to the corpus). The vocab is zipf-bounded
    // (≪ token instances), so it broadcasts and the doc-token table never
    // shuffles for the join; corpus total rides along as an in-plan 1-row
    // aggregate. One shuffle total (the per-doc fold), linear in tokens.
    Q("text_ngram_lm",
      (s, dir) => ngramLm(s, dir, VocabGuard.MaxBroadcastEntries),
      Some("""WITH toks AS (
                SELECT doc_id, unnest(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS token
                FROM documents),
              vocab AS (SELECT token, count(*)::DOUBLE AS cnt FROM toks GROUP BY 1),
              tot AS (SELECT count(*)::DOUBLE AS total FROM toks)
              SELECT doc_id, count(*) AS n_tokens,
                     round(avg(ln(cnt / total)), 4) AS avg_logp
              FROM toks JOIN vocab USING (token), tot
              GROUP BY doc_id ORDER BY doc_id""")),

    // Interpolated BIGRAM LM perplexity — the CCNet/Wikipedia-reference
    // quality filter proper (text_ngram_lm is the unigram degenerate):
    // p(v|u) = 0.75·c(uv)/c(u·) + 0.25·c(v)/N, per-doc perplexity
    // exp(−mean ln p). The per-BIGRAM log-prob is precomputed once into
    // a compact dictionary (vocab²-bounded, df-capped in practice by the
    // corpus itself) and quantized to 1e-6 micro-longs — the text_bm25
    // trick — so the per-doc SUM is exact integer arithmetic, immune to
    // engine/partition summation order; the only floats are one ln per
    // DICT entry (model-size) and one exp per doc on engine-identical
    // exact inputs. Shapes: two partial-aggregated count passes (bigram,
    // unigram), dictionary broadcasts back onto the bigram stream, one
    // doc-key shuffle for the per-doc sum.
    Q("text_bigram_lm",
      (s, dir) => SharedBigramScores(s, dir)
        .select(col("doc_id"), col("n_bigrams"), col("logp_micro"),
          round(exp(-(col("logp_micro") / lit(1000000.0)) /
            col("n_bigrams")), 4).as("ppl"))
        .orderBy("doc_id"),
      Some(s"""WITH $BigramScoreSql
              SELECT doc_id, n_bigrams, logp_micro,
                     round(exp(-(logp_micro / 1000000.0)
                       / n_bigrams), 4) AS ppl
              FROM sc ORDER BY doc_id""")),

    // CCNet PERPLEXITY BUCKETING — the pipeline stage the bigram LM
    // exists for: per LANGUAGE, docs split into head/middle/tail by the
    // LM score terciles (head = most-reference-like; CCNet keeps head+
    // middle, trains quality-weighted on the mix). The per-doc key is
    // the exact-long floor mean log-prob per bigram (sign-safe floor
    // div, the ts_seasonal move); tercile thresholds come from the
    // at-scale exact-percentile operator (bucketed rank selection,
    // bit-identical to quantile_cont) over the tiny per-lang groups and
    // broadcast back. Reuses the pinned per-doc LM scores — the dict
    // build runs once per fixture across both LM queries.
    Q("doc_ppl_buckets",
      (s, dir) => {
        // projected to the three columns every consumer needs, then
        // lazily checkpointed: the percentile operator re-executes its
        // input once per pass and the final bucket join reads it again —
        // four broadcast-join re-runs of (pinned scores ⋈ documents)
        // collapse to one materialization of a narrow per-doc frame
        val d = SharedBigramScores(s, dir)
          .join(t(s, dir, "documents").select("doc_id", "lang"), "doc_id")
          // Spark `div` and DuckDB integer `//` BOTH truncate toward
          // zero (verified: -7//2 = -3 in DuckDB), so the exact-long
          // mean key agrees at every sign with no correction
          .withColumn("avg_lp", expr("logp_micro div n_bigrams"))
          .select("doc_id", "lang", "avg_lp")
          .localCheckpoint(eager = false)
        val th = graft.operators.WeightedQuantile.exactPercentiles(
          d, "lang", "avg_lp", Seq(1.0 / 3, 2.0 / 3))
        val t33 = th.filter(col("q") === 1.0 / 3)
          .select(col("lang"), col("pctl").as("t33"))
        val t67 = th.filter(col("q") === 2.0 / 3)
          .select(col("lang"), col("pctl").as("t67"))
        d.join(broadcast(t33), "lang").join(broadcast(t67), "lang")
          .select(col("doc_id"), col("lang"), col("avg_lp"),
            when(col("avg_lp") > col("t67"), "head")
              .when(col("avg_lp") > col("t33"), "middle")
              .otherwise("tail").as("bucket"))
          .orderBy("doc_id")
      },
      Some(s"""WITH $BigramScoreSql,
              d AS (SELECT sc.doc_id, doc.lang,
                           CAST(logp_micro // n_bigrams AS BIGINT) AS avg_lp
                    FROM sc JOIN documents doc USING (doc_id)),
              th AS (SELECT lang,
                            quantile_cont(avg_lp, 1.0/3) AS t33,
                            quantile_cont(avg_lp, 2.0/3) AS t67
                     FROM d GROUP BY lang)
              SELECT d.doc_id, d.lang, d.avg_lp,
                     CASE WHEN d.avg_lp > th.t67 THEN 'head'
                          WHEN d.avg_lp > th.t33 THEN 'middle'
                          ELSE 'tail' END AS bucket
              FROM d JOIN th USING (lang)
              ORDER BY d.doc_id""")),

    // INCREMENTAL dedup — how a 100 TB pipeline actually runs: dedup
    // TODAY'S batch (here: doc_id % 10 ≥ 8, the deterministic "new"
    // 20%) against the STANDING corpus without re-pairing the corpus
    // with itself. The new batch's postings BROADCAST only while the
    // increment is genuinely increment-sized — the shape is decided by
    // COUNTING the increment against a documented bound, with a
    // shuffled-join fallback above it (Dedup.incrementalCandidates) —
    // so the standing index is consumed by one narrow pass: no corpus
    // shuffle, no old×old work, cost bounded by |new| × postings
    // overlap. Same Jaccard arithmetic and threshold as
    // doc_dedup_ngram, so the oracle is the same postings join
    // restricted to old×new.
    Q("doc_dedup_incremental",
      (s, dir) => {
        val idx = SharedShingleIndex(s, dir, 3)
        val sizes = idx.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
        // the a-side size table is one row per CORPUS doc, so it joins
        // shuffled against the (candidate-pair-sized) common table; the
        // new-side size table is increment-sized and broadcasts
        Dedup.incrementalCandidates(
            idx.filter(col("doc_id") % 10 < 8),
            idx.filter(col("doc_id") % 10 >= 8),
            knownPostings = Some(SharedIncrementPostings(s, dir, 3)))
          .join(sizes.toDF("a_id", "na"), "a_id")
          .join(broadcast(sizes.filter(col("doc_id") % 10 >= 8)
            .toDF("b_id", "nb")), "b_id")
          .withColumn("jaccard", round(col("c").cast("double") /
            (col("na") + col("nb") - col("c")).cast("double"), 4))
          .filter(col("jaccard") >= 0.8)
          .select("a_id", "b_id", "jaccard")
          .orderBy("a_id", "b_id")
      },
      Some("""WITH sh AS (
                SELECT doc_id, unnest(
                  list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                                 for i in range(1, len(t) - 1)])) AS shingle
                FROM (SELECT doc_id,
                             string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS t
                      FROM documents)),
              sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
              cand AS (
                SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS c
                FROM sh a JOIN sh b ON a.shingle = b.shingle
                WHERE a.doc_id % 10 < 8 AND b.doc_id % 10 >= 8
                GROUP BY 1, 2)
              SELECT a_id, b_id,
                     round(c::DOUBLE / (sa.n + sb.n - c), 4) AS jaccard
              FROM cand
              JOIN sizes sa ON cand.a_id = sa.doc_id
              JOIN sizes sb ON cand.b_id = sb.doc_id
              WHERE round(c::DOUBLE / (sa.n + sb.n - c), 4) >= 0.8
              ORDER BY a_id, b_id""")),

    // Exact dedup: one representative per content-hash group.
    Q("doc_dedup_exact",
      (s, dir) => Dedup.exactDedup(t(s, dir, "documents"), "doc_id", "text")
        .select("keep_id", "n_copies")
        .orderBy("keep_id"),
      Some("""SELECT min(doc_id) AS keep_id, count(*) AS n_copies
              FROM documents
              GROUP BY md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))
              ORDER BY keep_id""")),

    // Exact 3-gram Jaccard near-dup pairs via the shingle inverted index
    // (built once per fixture and shared with doc_dedup_clusters).
    Q("doc_dedup_ngram",
      (s, dir) => SharedJaccardPairs(s, dir, 3, 0.8)
        .select(col("a_id"), col("b_id"), round(col("jaccard"), 4).as("jaccard"))
        .orderBy("a_id", "b_id"),
      Some("""WITH sh AS (
                SELECT doc_id, unnest(
                  list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                                 for i in range(1, len(t) - 1)])) AS shingle
                FROM (SELECT doc_id,
                             string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS t
                      FROM documents)),
              sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
              cand AS (
                SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS c
                FROM sh a JOIN sh b
                  ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                GROUP BY 1, 2)
              SELECT a_id, b_id,
                     round(c::DOUBLE / (sa.n + sb.n - c), 4) AS jaccard
              FROM cand
              JOIN sizes sa ON cand.a_id = sa.doc_id
              JOIN sizes sb ON cand.b_id = sb.doc_id
              WHERE c::DOUBLE / (sa.n + sb.n - c) >= 0.8
              ORDER BY a_id, b_id""")),

    // Duplicate-cluster formation: connected components of the 0.8-Jaccard
    // pair graph, cluster id = min member (keep-one-representative dedup's
    // final step). Engine: iterative min-label propagation (O(diameter)
    // shuffle rounds); oracle: DuckDB recursive-CTE transitive closure —
    // two completely different algorithms, same fixpoint.
    Q("doc_dedup_clusters",
      (s, dir) => Dedup.duplicateClusters(SharedJaccardPairs(s, dir, 3, 0.8))
        .orderBy("doc_id"),
      Some("""WITH RECURSIVE sh AS (
                SELECT doc_id, unnest(
                  list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                                 for i in range(1, len(t) - 1)])) AS shingle
                FROM (SELECT doc_id,
                             string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS t
                      FROM documents)),
              sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
              cand AS (
                SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS c
                FROM sh a JOIN sh b
                  ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                GROUP BY 1, 2),
              pairs AS (
                SELECT a_id, b_id FROM cand
                JOIN sizes sa ON cand.a_id = sa.doc_id
                JOIN sizes sb ON cand.b_id = sb.doc_id
                WHERE c::DOUBLE / (sa.n + sb.n - c) >= 0.8),
              edges(s, d) AS (
                SELECT a_id, b_id FROM pairs
                UNION SELECT b_id, a_id FROM pairs),
              reach(s, d) AS (
                SELECT s, d FROM edges
                UNION
                SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s)
              SELECT s AS doc_id, least(s, min(d)) AS cluster_id
              FROM reach GROUP BY s ORDER BY doc_id""")),

    // The curation END PRODUCT: the deduplicated corpus — every doc that
    // is either untouched by near-dup pairs or its cluster's
    // representative (minimum id). Engine: docs LEFT JOIN the (small)
    // cluster-label table — at scale the labels side holds only docs that
    // appear in a pair, so AQE broadcasts it and the corpus never
    // shuffles. Oracle: the same recursive-CTE closure, anti-filtered.
    Q("doc_dedup_keep",
      (s, dir) => {
        val labels = Dedup.duplicateClusters(SharedJaccardPairs(s, dir, 3, 0.8))
        t(s, dir, "documents")
          .join(labels, Seq("doc_id"), "left")
          .filter(col("cluster_id").isNull || col("cluster_id") === col("doc_id"))
          .select(col("doc_id"), col("n_chars"))
          .orderBy("doc_id")
      },
      Some("""WITH RECURSIVE sh AS (
                SELECT doc_id, unnest(
                  list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                                 for i in range(1, len(t) - 1)])) AS shingle
                FROM (SELECT doc_id,
                             string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS t
                      FROM documents)),
              sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
              cand AS (
                SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS c
                FROM sh a JOIN sh b
                  ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                GROUP BY 1, 2),
              pairs AS (
                SELECT a_id, b_id FROM cand
                JOIN sizes sa ON cand.a_id = sa.doc_id
                JOIN sizes sb ON cand.b_id = sb.doc_id
                WHERE c::DOUBLE / (sa.n + sb.n - c) >= 0.8),
              edges(s, d) AS (
                SELECT a_id, b_id FROM pairs
                UNION SELECT b_id, a_id FROM pairs),
              reach(s, d) AS (
                SELECT s, d FROM edges
                UNION
                SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s),
              labels AS (
                SELECT s AS doc_id, least(s, min(d)) AS cluster_id
                FROM reach GROUP BY s)
              SELECT d.doc_id, d.n_chars
              FROM documents d LEFT JOIN labels l ON d.doc_id = l.doc_id
              WHERE l.doc_id IS NULL OR l.cluster_id = d.doc_id
              ORDER BY d.doc_id""")),

    // Per-language corpus profile — the stratification stats a curation
    // pipeline reads before sampling (doc counts, length distribution).
    // One partial+final hash aggregation on `lang`.
    Q("text_lang_stats",
      (s, dir) => t(s, dir, "documents")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          round(avg(col("n_chars")), 2).as("avg_chars"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"))
        .orderBy("lang"),
      Some("""SELECT lang, count(*) AS n_docs,
                     round(avg(n_chars), 2) AS avg_chars,
                     min(n_chars) AS min_chars, max(n_chars) AS max_chars
              FROM documents GROUP BY lang ORDER BY lang""")),

    // Repetition scoring (the Gopher-style "repeated n-gram fraction"
    // quality signal): per doc, the share of bigram occurrences taken by
    // the single most-frequent bigram, plus the distinct-bigram ratio.
    // ALL bigrams (duplicates kept) explode narrowly; the only shuffle
    // carries (doc_id, bigram) partial counts with map-side combine.
    Q("text_repetition",
      (s, dir) => t(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("doc_id"), explode(TextFunctions.allShingles(
          TextFunctions.tokens(TextFunctions.normalize(col("text"))), 2)).as("bigram"))
        .groupBy("doc_id", "bigram").agg(count(lit(1)).as("cnt"))
        .groupBy("doc_id")
        .agg(sum("cnt").as("n_bigrams"),
          count(lit(1)).as("n_uniq_bigrams"),
          max("cnt").as("top_cnt"))
        .select(col("doc_id"), col("n_bigrams"),
          round(col("top_cnt").cast("double") / col("n_bigrams"), 4).as("top_bigram_frac"),
          round(col("n_uniq_bigrams").cast("double") / col("n_bigrams"), 4).as("uniq_bigram_ratio"))
        .orderBy("doc_id"),
      Some("""WITH bg AS (
                SELECT doc_id, unnest([t[i] || ' ' || t[i+1]
                                       for i in range(1, len(t))]) AS bigram
                FROM (SELECT doc_id,
                             string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS t
                      FROM documents)),
              c AS (SELECT doc_id, bigram, count(*) AS cnt
                    FROM bg GROUP BY doc_id, bigram)
              SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_bigrams,
                     round(max(cnt)::DOUBLE / sum(cnt), 4) AS top_bigram_frac,
                     round(count(*)::DOUBLE / sum(cnt), 4) AS uniq_bigram_ratio
              FROM c GROUP BY doc_id ORDER BY doc_id""")),

    // PII redaction (emails + phone numbers → typed placeholders). The
    // word-salad fixture has no natural PII, so the query splices a
    // deterministic contact line (derived from doc_id, mirrored verbatim
    // by the oracle) into each doc before masking — the masked-text md5
    // then certifies byte-exact span replacement, not just row counts.
    // The operator itself ([[TextFunctions.maskPii]]) is a narrow
    // codegen'd double regexp_replace: zero shuffle, linear in bytes.
    Q("text_pii_mask",
      (s, dir) => {
        val contact = concat(col("text"),
          lit(" contact user"), col("doc_id"), lit("@example.com or +1-555-"),
          lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"))
        t(s, dir, "documents")
          .select(col("doc_id"),
            regexp_count(contact, lit(TextFunctions.EmailRe)).cast("long").as("n_emails"),
            regexp_count(contact, lit(TextFunctions.PhoneRe)).cast("long").as("n_phones"),
            md5(TextFunctions.maskPii(contact)).as("masked_md5"))
          .orderBy("doc_id")
      },
      Some("""WITH injected AS (
                SELECT doc_id,
                       text || ' contact user' || doc_id || '@example.com or +1-555-'
                            || lpad((doc_id % 10000)::VARCHAR, 4, '0') AS c
                FROM documents)
              SELECT doc_id,
                     len(regexp_extract_all(c, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS n_emails,
                     len(regexp_extract_all(c, '\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}')) AS n_phones,
                     md5(regexp_replace(
                           regexp_replace(c, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '[EMAIL]', 'g'),
                           '\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}', '[PHONE]', 'g')) AS masked_md5
              FROM injected ORDER BY doc_id""")),

    // MinHash(16) + LSH(4 bands × 4 rows) candidate pairs.
    Q("doc_dedup_minhash",
      (s, dir) => Dedup.minHashCandidatesFromSignatures(
          SharedMinHashSigs(s, dir, 3, 16), k = 16, bands = 4)
        .orderBy("a_id", "b_id"),
      Some(s"""WITH sh AS (
                SELECT doc_id, unnest(
                  list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                                 for i in range(1, len(t) - 1)])) AS shingle
                FROM (SELECT doc_id,
                             string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS t
                      FROM documents)),
              lane AS (
                SELECT doc_id, ('0x' || substr(md5(shingle), 1, 8))::BIGINT AS h
                FROM sh),
              -- one-hash MinHash: permutation i = (a_i*h + b_i) mod 2^32,
              -- coefficients shared with graft.dedup.Dedup.Perms
              sig AS (
                SELECT doc_id,
                       ${minHashSigSql(k = 16)}
                FROM lane GROUP BY doc_id),
              buckets AS (
                SELECT doc_id, band,
                       CASE band
                         WHEN 0 THEN md5(concat_ws('|', mh0, mh1, mh2, mh3))
                         WHEN 1 THEN md5(concat_ws('|', mh4, mh5, mh6, mh7))
                         WHEN 2 THEN md5(concat_ws('|', mh8, mh9, mh10, mh11))
                         ELSE md5(concat_ws('|', mh12, mh13, mh14, mh15))
                       END AS bkey
                FROM sig, (SELECT unnest([0,1,2,3]) AS band))
              SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
              FROM buckets a JOIN buckets b
                ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
              ORDER BY a_id, b_id""")),

    // Sketch-based Jaccard ESTIMATION on the LSH candidates: fraction of
    // agreeing MinHash lanes (unbiased, stderr √(J(1−J)/16)) — the O(k)
    // per-pair verify that replaces exact intersect/union counting at
    // 100 TB. Signatures are pure integer arithmetic on md5, so both
    // engines produce identical lanes and identical estimates.
    Q("doc_minhash_est",
      (s, dir) => {
        Dedup.minHashJaccardEstimate(SharedMinHashSigs(s, dir, 3, 16),
            k = 16, bands = 4)
          .select(col("a_id"), col("b_id"),
            round(col("jaccard_est"), 4).as("jaccard_est"))
          .orderBy("a_id", "b_id")
      },
      Some(s"""WITH sh AS (
                SELECT doc_id, unnest(
                  list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                                 for i in range(1, len(t) - 1)])) AS shingle
                FROM (SELECT doc_id,
                             string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS t
                      FROM documents)),
              lane AS (
                SELECT doc_id, ('0x' || substr(md5(shingle), 1, 8))::BIGINT AS h
                FROM sh),
              sig AS (
                SELECT doc_id,
                       ${minHashSigSql(k = 16)}
                FROM lane GROUP BY doc_id),
              buckets AS (
                SELECT doc_id, band,
                       CASE band
                         WHEN 0 THEN md5(concat_ws('|', mh0, mh1, mh2, mh3))
                         WHEN 1 THEN md5(concat_ws('|', mh4, mh5, mh6, mh7))
                         WHEN 2 THEN md5(concat_ws('|', mh8, mh9, mh10, mh11))
                         ELSE md5(concat_ws('|', mh12, mh13, mh14, mh15))
                       END AS bkey
                FROM sig, (SELECT unnest([0,1,2,3]) AS band)),
              cand AS (
                SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
                FROM buckets a JOIN buckets b
                  ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id)
              SELECT c.a_id, c.b_id,
                     round((${(0 until 16).map(i =>
                       s"(sa.mh$i = sb.mh$i)::INT").mkString(" + ")}) / 16.0, 4)
                       AS jaccard_est
              FROM cand c
              JOIN sig sa ON c.a_id = sa.doc_id
              JOIN sig sb ON c.b_id = sb.doc_id
              ORDER BY a_id, b_id""")),

    // Fuzzy-dedup verify: exact Levenshtein edit distance computed ONLY on
    // the MinHash-LSH candidate pairs — the candidates→verify composition
    // with the O(len²) DP confined to pairs the cheap index already
    // flagged. Both engines implement unit-cost Levenshtein identically.
    Q("text_edit_distance",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        Dedup.minHashCandidatesFromSignatures(
            SharedMinHashSigs(s, dir, 3, 16), k = 16, bands = 4)
          .join(docs.select(col("doc_id").as("a_id"), col("text").as("ta")), "a_id")
          .join(docs.select(col("doc_id").as("b_id"), col("text").as("tb")), "b_id")
          .select(col("a_id"), col("b_id"),
            // equality fast path before the O(len²) DP: LSH candidates in
            // a dup-heavy corpus are mostly EXACT clones (distance 0 by
            // definition) — measured 74→~10× on the 10× clone-dense sf1
            when(col("ta") === col("tb"), lit(0L))
              .otherwise(levenshtein(col("ta"), col("tb")).cast("long"))
              .as("edit_dist"))
          .orderBy("a_id", "b_id")
      },
      Some(s"""WITH sh AS (
                SELECT doc_id, unnest(
                  list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                                 for i in range(1, len(t) - 1)])) AS shingle
                FROM (SELECT doc_id,
                             string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS t
                      FROM documents)),
              lane AS (
                SELECT doc_id, ('0x' || substr(md5(shingle), 1, 8))::BIGINT AS h
                FROM sh),
              sig AS (
                SELECT doc_id,
                       ${minHashSigSql(k = 16)}
                FROM lane GROUP BY doc_id),
              buckets AS (
                SELECT doc_id, band,
                       CASE band
                         WHEN 0 THEN md5(concat_ws('|', mh0, mh1, mh2, mh3))
                         WHEN 1 THEN md5(concat_ws('|', mh4, mh5, mh6, mh7))
                         WHEN 2 THEN md5(concat_ws('|', mh8, mh9, mh10, mh11))
                         ELSE md5(concat_ws('|', mh12, mh13, mh14, mh15))
                       END AS bkey
                FROM sig, (SELECT unnest([0,1,2,3]) AS band)),
              cand AS (
                SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
                FROM buckets a JOIN buckets b
                  ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id)
              SELECT c.a_id, c.b_id, levenshtein(da.text, db.text) AS edit_dist
              FROM cand c
              JOIN documents da ON da.doc_id = c.a_id
              JOIN documents db ON db.doc_id = c.b_id
              ORDER BY a_id, b_id""")),

    // The FULL fuzzy-dedup pipeline in one declared op: MinHash-LSH
    // candidates → edit-distance VERIFY (≤ 6, the O(len²) DP confined
    // to flagged pairs) → connected components → representative-only
    // corpus. This is the composition a real curation run executes; each
    // stage reuses the shared signature table and the same label
    // propagation as doc_dedup_clusters, so the marginal cost over its
    // pieces is just the verify filter. Oracle = the same candidate SQL
    // + levenshtein threshold + recursive closure + anti-filter.
    Q("doc_dedup_fuzzy_keep",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val verified = Dedup.minHashCandidatesFromSignatures(
            SharedMinHashSigs(s, dir, 3, 16), k = 16, bands = 4)
          .join(docs.select(col("doc_id").as("a_id"), col("text").as("ta")), "a_id")
          .join(docs.select(col("doc_id").as("b_id"), col("text").as("tb")), "b_id")
          .filter(when(col("ta") === col("tb"), lit(0L))
            .otherwise(levenshtein(col("ta"), col("tb")).cast("long")) <= 6)
          .select("a_id", "b_id")
        val labels = Dedup.duplicateClusters(verified)
        docs.join(labels, Seq("doc_id"), "left")
          .filter(col("cluster_id").isNull || col("cluster_id") === col("doc_id"))
          .select(col("doc_id"), col("lang"))
          .orderBy("doc_id")
      },
      Some(s"""WITH RECURSIVE sh AS (
                SELECT doc_id, unnest(
                  list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                                 for i in range(1, len(t) - 1)])) AS shingle
                FROM (SELECT doc_id,
                             string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS t
                      FROM documents)),
              lane AS (
                SELECT doc_id, ('0x' || substr(md5(shingle), 1, 8))::BIGINT AS h
                FROM sh),
              sig AS (
                SELECT doc_id,
                       ${minHashSigSql(k = 16)}
                FROM lane GROUP BY doc_id),
              buckets AS (
                SELECT doc_id, band,
                       CASE band
                         WHEN 0 THEN md5(concat_ws('|', mh0, mh1, mh2, mh3))
                         WHEN 1 THEN md5(concat_ws('|', mh4, mh5, mh6, mh7))
                         WHEN 2 THEN md5(concat_ws('|', mh8, mh9, mh10, mh11))
                         ELSE md5(concat_ws('|', mh12, mh13, mh14, mh15))
                       END AS bkey
                FROM sig, (SELECT unnest([0,1,2,3]) AS band)),
              cand AS (
                SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
                FROM buckets a JOIN buckets b
                  ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
              pairs AS (
                SELECT a_id, b_id FROM cand
                JOIN documents da ON da.doc_id = a_id
                JOIN documents db ON db.doc_id = b_id
                WHERE levenshtein(da.text, db.text) <= 6),
              edges(s, d) AS (
                SELECT a_id, b_id FROM pairs
                UNION SELECT b_id, a_id FROM pairs),
              reach(s, d) AS (
                SELECT s, d FROM edges
                UNION
                SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s),
              labels AS (
                SELECT s AS doc_id, least(s, min(d)) AS cluster_id
                FROM reach GROUP BY s)
              SELECT d.doc_id, d.lang
              FROM documents d LEFT JOIN labels l ON d.doc_id = l.doc_id
              WHERE l.doc_id IS NULL OR l.cluster_id = d.doc_id
              ORDER BY d.doc_id""")),

    // 32-bit SimHash per document (frequency-weighted bit votes).
    Q("doc_dedup_simhash",
      (s, dir) => Dedup.simHash(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id"),
      Some("""WITH tok AS (
                SELECT doc_id, unnest(
                  string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS tok
                FROM documents),
              bits AS (
                SELECT doc_id,
                       ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h,
                       unnest(range(0, 32)) AS b
                FROM tok),
              votes AS (
                SELECT doc_id, b,
                       sum(CASE WHEN (h >> b) % 2 = 1 THEN 1 ELSE -1 END) AS votes
                FROM bits GROUP BY doc_id, b)
              SELECT doc_id,
                     sum(CASE WHEN votes > 0 THEN 1::BIGINT << b ELSE 0 END)::BIGINT AS simhash
              FROM votes GROUP BY doc_id ORDER BY doc_id""")),

    // SimHash near-dup PAIRS via ≥2-shared-chunks pigeonhole banding
    // (r14): the signature splits into maxHamming+2 chunks and pairs
    // equi-join on the C(maxHamming+2, 2) chunk-PAIR keys — guaranteed-
    // total recall (≤ maxHamming differing bits leave ≥ 2 chunks intact),
    // hash-partitioned, never doc×doc, and the per-band key space is
    // SQUARED vs the classic one-shared split (2^16 vs 2^10.7 at h=2 —
    // the r13 decade probe measured the latter saturating at sf1). The
    // oracle is the O(n²) all-pairs SQL — DuckDB re-derives the same
    // answer the brute-force way, proving the banding loses nothing.
    Q("doc_dedup_simhash_pairs",
      (s, dir) => Dedup.simHashPairs(t(s, dir, "documents"), "doc_id", "text",
          maxHamming = 2)
        .select(col("a_id"), col("b_id"), col("hamming").cast("long").as("hamming"))
        .orderBy("a_id", "b_id"),
      Some("""WITH tok AS (
                SELECT doc_id, unnest(
                  string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS tok
                FROM documents),
              bits AS (
                SELECT doc_id,
                       ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h,
                       unnest(range(0, 32)) AS b
                FROM tok),
              votes AS (
                SELECT doc_id, b,
                       sum(CASE WHEN (h >> b) % 2 = 1 THEN 1 ELSE -1 END) AS votes
                FROM bits GROUP BY doc_id, b),
              sh AS (
                SELECT doc_id,
                       sum(CASE WHEN votes > 0 THEN 1::BIGINT << b ELSE 0 END)::BIGINT AS simhash
                FROM votes GROUP BY doc_id)
              SELECT a.doc_id AS a_id, b.doc_id AS b_id,
                     bit_count(xor(a.simhash, b.simhash)::BIT)::BIGINT AS hamming
              FROM sh a, sh b
              WHERE a.doc_id < b.doc_id
                AND bit_count(xor(a.simhash, b.simhash)::BIT) <= 2
              ORDER BY a_id, b_id""")),

    // The WEB-SCALE SimHash pairs configuration (r14): a 64-bit
    // signature under the same ≥2-shared-chunks banding — the chunk-pair
    // key space is 2^(2·64/c) = 2^32 at h = 2 (vs the 32-bit operator's
    // 2^16, whose mean-occupancy capacity tops out at ~1M docs), lifting
    // the banded self-join's capacity to ~68 BILLION docs, with a
    // counted limit-probe guard that fails LOUDLY (remediation dials in
    // the message) instead of silently going quadratic past it. The
    // signature's 64 votes read both 32-bit halves of the SAME token md5
    // the 32-bit operator reads its first half from, so the low half of
    // every signature equals doc_dedup_simhash's output (spec-pinned —
    // the two operators cannot drift). Stricter than the 32-bit pair
    // set by construction: hamming over 64 bits ≥ hamming over the low
    // 32. DuckDB re-derives signatures as two BIGINT halves (the 64-bit
    // value would overflow signed SQL arithmetic at bit 63) and verifies
    // by brute-force all-pairs — proving the banding loses nothing.
    Q("doc_dedup_simhash64_pairs",
      (s, dir) => Dedup.simHashPairs64(t(s, dir, "documents"), "doc_id", "text",
          maxHamming = 2)
        .select(col("a_id"), col("b_id"), col("hamming").cast("long").as("hamming"))
        .orderBy("a_id", "b_id"),
      Some("""WITH tok AS (
                SELECT doc_id, unnest(
                  string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS tok
                FROM documents),
              bits AS (
                SELECT doc_id,
                       ('0x' || substr(md5(tok), 1, 8))::BIGINT AS hlo,
                       ('0x' || substr(md5(tok), 9, 8))::BIGINT AS hhi,
                       unnest(range(0, 32)) AS b
                FROM tok),
              votes AS (
                SELECT doc_id, b,
                       sum(CASE WHEN (hlo >> b) % 2 = 1 THEN 1 ELSE -1 END) AS vlo,
                       sum(CASE WHEN (hhi >> b) % 2 = 1 THEN 1 ELSE -1 END) AS vhi
                FROM bits GROUP BY doc_id, b),
              sh AS (
                SELECT doc_id,
                       sum(CASE WHEN vlo > 0 THEN 1::BIGINT << b ELSE 0 END)::BIGINT AS lo,
                       sum(CASE WHEN vhi > 0 THEN 1::BIGINT << b ELSE 0 END)::BIGINT AS hi
                FROM votes GROUP BY doc_id)
              SELECT a.doc_id AS a_id, b.doc_id AS b_id,
                     (bit_count(xor(a.lo, b.lo)::BIT)
                      + bit_count(xor(a.hi, b.hi)::BIT))::BIGINT AS hamming
              FROM sh a, sh b
              WHERE a.doc_id < b.doc_id
                AND bit_count(xor(a.lo, b.lo)::BIT)
                    + bit_count(xor(a.hi, b.hi)::BIT) <= 2
              ORDER BY a_id, b_id""")),

    // Overlapping token-window CHUNKING (size 32, stride 24 → 8-token
    // overlap) — the doc→training-example splitter every context-window
    // pipeline runs before tokenizer/packing. Pure narrow codegen: the
    // chunk starts come from an in-row `sequence`, the chunk text from
    // `slice` — zero shuffle, zero join; at 100 TB this is a map-only
    // pass whose output order is (doc_id, chunk_idx)-deterministic.
    // (doc_pack is the downstream twin that bins these into fixed-size
    // training rows.)
    Q("doc_chunk",
      (s, dir) => t(s, dir, "documents")
        .select(col("doc_id"),
          TextFunctions.tokens(TextFunctions.normalize(col("text"))).as("toks"))
        .select(col("doc_id"), col("toks"),
          explode(sequence(lit(0), size(col("toks")) - 1, lit(24))).as("start"))
        .select(
          col("doc_id"),
          (col("start") / 24).cast("long").as("chunk_idx"),
          least(lit(32), size(col("toks")) - col("start")).cast("long").as("n_toks"),
          concat_ws(" ", slice(col("toks"), col("start") + 1, lit(32))).as("chunk_text"))
        .orderBy("doc_id", "chunk_idx"),
      Some("""WITH tok AS (
                SELECT doc_id,
                       string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS toks
                FROM documents),
              starts AS (
                SELECT doc_id, toks, unnest(range(0, len(toks), 24)) AS start
                FROM tok)
              SELECT doc_id, (start // 24)::BIGINT AS chunk_idx,
                     least(32, len(toks) - start)::BIGINT AS n_toks,
                     array_to_string(toks[start + 1 : start + 32], ' ') AS chunk_text
              FROM starts ORDER BY doc_id, chunk_idx""")),

    // Windowed token CO-OCCURRENCE with PMI — the collocation/association
    // signal (phrase mining, tokenizer-merge candidates) over a corpus.
    // Pair generation is IN-ROW (each token pairs with the ≤3 tokens
    // after it via slice+transform — no self-join, no posexplode
    // blow-up), so the only shuffles are the two counted aggregations;
    // the corpus-total frame is 1 row and broadcasts. PMI is computed
    // from the same integer counts in both engines with one shared
    // expression shape, rounded to 4 dp; the output ORDERS BY the
    // integer pair count so fp never decides membership.
    Q("text_cooccur",
      (s, dir) => {
        val toks = t(s, dir, "documents")
          .select(TextFunctions.tokens(TextFunctions.normalize(col("text"))).as("toks"))
        val pairs = toks.select(explode(expr(
            """flatten(transform(toks, (x, i) ->
                 transform(slice(toks, i + 2, 3), y ->
                   struct(least(x, y) AS a, greatest(x, y) AS b))))""")).as("p"))
          .select(col("p.a").as("a"), col("p.b").as("b"))
          .groupBy("a", "b").agg(count(lit(1)).as("cnt"))
        val uni = toks.select(explode(col("toks")).as("tok"))
          .groupBy("tok").agg(count(lit(1)).as("c1"))
        val totals = pairs.agg(sum("cnt").as("p_total")).crossJoin(
          uni.agg(sum("c1").as("t_total")))
        pairs
          .join(uni.withColumnRenamed("tok", "a").withColumnRenamed("c1", "ca"), "a")
          .join(uni.withColumnRenamed("tok", "b").withColumnRenamed("c1", "cb"), "b")
          .crossJoin(broadcast(totals))
          .filter(col("cnt") >= 5)
          .select(col("a"), col("b"), col("cnt"),
            round(log(
              (col("cnt").cast("double") * col("t_total") * col("t_total")) /
                (col("p_total").cast("double") * col("ca") * col("cb"))), 4)
              .as("pmi"))
          .orderBy(col("cnt").desc, col("a"), col("b"))
          .limit(100)
      },
      Some("""WITH tok AS (
                SELECT string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS toks
                FROM documents),
              pos AS (
                SELECT toks, unnest(range(1, len(toks) + 1)) AS i FROM tok),
              pr AS (
                SELECT least(toks[i], toks[i + d]) AS a,
                       greatest(toks[i], toks[i + d]) AS b
                FROM pos, (SELECT unnest([1, 2, 3]) AS d)
                WHERE i + d <= len(toks)),
              pairs AS (SELECT a, b, count(*) AS cnt FROM pr GROUP BY a, b),
              uni AS (
                SELECT tok, count(*) AS c1
                FROM (SELECT unnest(toks) AS tok FROM tok) GROUP BY tok),
              totals AS (
                SELECT (SELECT sum(cnt) FROM pairs) AS p_total,
                       (SELECT sum(c1) FROM uni) AS t_total)
              SELECT p.a, p.b, p.cnt,
                     round(ln((p.cnt::DOUBLE * t_total * t_total) /
                              (p_total::DOUBLE * ua.c1 * ub.c1)), 4) AS pmi
              FROM pairs p
              JOIN uni ua ON ua.tok = p.a
              JOIN uni ub ON ub.tok = p.b
              CROSS JOIN totals
              WHERE p.cnt >= 5
              ORDER BY p.cnt DESC, p.a, p.b LIMIT 100""")),

    // 2D skyline (Pareto frontier) curation filter: keep documents not
    // dominated on (distinct-token count, n_chars) — the multi-objective
    // "best docs" selection a curation pipeline runs before sampling.
    // Scale shape: the classic NOT-EXISTS dominance check is O(n²); here
    // the frontier decomposes as (1) per-q group max — one partial-
    // aggregated shuffle, (2) a strictly-greater-q prefix max over the
    // COMPACT distinct-q series (single-partition window over group
    // cardinality, same compact-series justification as
    // ts_sliding_distinct — never over the corpus), (3) a broadcast
    // semi-join back. Duplicate (q, len) points neither dominate each
    // other (no strict inequality) and all survive — exercised by the
    // fixture, which carries a duplicate frontier pair at sf0.001.
    Q("doc_skyline",
      (s, dir) => {
        val pts = t(s, dir, "documents").select(
          col("doc_id"),
          size(array_distinct(TextFunctions.tokens(
            TextFunctions.normalize(col("text"))))).cast("long").as("q"),
          col("n_chars").as("len"))
        val grp = pts.groupBy("q").agg(max("len").as("glen"))
        val w = Window.orderBy(col("q").desc)
          .rowsBetween(Window.unboundedPreceding, -1)
        val kept = grp.withColumn("pmax", max("glen").over(w))
          .filter(col("pmax").isNull || col("glen") > col("pmax"))
          .select(col("q"), col("glen"))
        pts.join(broadcast(kept), Seq("q"))
          .filter(col("len") === col("glen"))
          .select(col("doc_id"), col("q"), col("len"))
          .orderBy(col("q").desc, col("len").desc, col("doc_id"))
      },
      Some("""WITH pts AS (
                SELECT doc_id,
                       len(list_distinct(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' '))) AS q,
                       n_chars AS len
                FROM documents)
              SELECT doc_id, q, len FROM pts a
              WHERE NOT EXISTS (SELECT 1 FROM pts b
                                WHERE b.q >= a.q AND b.len >= a.len
                                  AND (b.q > a.q OR b.len > a.len))
              ORDER BY q DESC, len DESC, doc_id""")),

    // BPE merge learning (tokenizer training): the corpus is scanned
    // ONCE into the word-frequency dict; since r16 the merge loop then
    // runs IN-MEMORY over the counted-guard-collected dict
    // ([[graft.text.Bpe.learnScalable]] — incremental pair index, zero
    // Spark jobs per merge step; top-N-by-frequency sample-then-train
    // beyond the 10M-entry cap), closing the V-sequential-jobs driver
    // bound a 32k-merge vocab would hit under the old per-step
    // collected-argmax loop. ORACLED since r14, and by a STATIC SQL
    // string: the 8 chained iterations replay in DuckDB as CTE triplets
    // (pair-count → deterministic argmax → one-replace() merge rewrite
    // over the space-wrapped encoding — [[TextOracle.bpeTrainSql]]), so
    // the LEARN itself is certified bit-for-bit against an independent
    // engine, not just the apply. BpeSpec additionally proves the
    // learner bit-equal to a local reference implementation on the same
    // dict, plus tie-break determinism.
    Q("text_bpe_train",
      (s, dir) => {
        val merges = SharedBpeMerges(s, dir, 8)
        import s.implicits._
        merges.toDF()
          .select(col("step"), col("left"), col("right"), col("merged"), col("freq"))
          .orderBy("step")
      },
      Some(TextOracle.bpeTrainSql(8))),

    // Tokenizer APPLY — the other half of the train/encode loop and the
    // single most-run op in a training-data pipeline (every document of
    // every crawl snapshot gets tokenized). The corpus-scale shape is
    // encode-the-vocab: the merge replay (a per-word loop, necessarily a
    // UDF) runs over the DISTINCT words only, the (word → subword count)
    // table broadcasts, and the corpus pays one explode + broadcast hash
    // join + partial-aggregated rollup — the merge loop never sees a
    // fact row, and codegen breaks only on the vocab-sized side. Shares
    // the learned merges with text_bpe_train via [[SharedBpeMerges]]
    // (one Lloyd's-style learn per fixture, however many queries replay
    // it). Oracled via generated SQL ([[TextOracle.bpeEncodeSql]]): the
    // LEARNED merges embed as a chained-replace replay over the
    // space-wrapped symbol encoding, so DuckDB re-encodes the whole
    // vocab independently; only the trainer itself stays rows-only.
    // BpeSpec additionally pins encodeWord's merge-order semantics and
    // the concat invariant.
    Q("text_bpe_encode",
      (s, dir) => bpeEncodeStats(s, dir, VocabGuard.MaxBroadcastEntries),
      None,
      oracleGen = Some((s, dir) => TextOracle.bpeEncodeSql(s, dir))),

    // Sorted-neighborhood dedup — the third blocking family alongside the
    // postings index (doc_dedup_ngram) and LSH banding (minhash/simhash):
    // sort once on a normalized key, compare each doc only to its w=2
    // following neighbors, verify with exact 3-gram Jaccard computed
    // IN-ROW on the paired shingle arrays (no postings join at all).
    // Blocking on the key's 2-char prefix keeps every window partition
    // bounded, so at 100 TB this is one range-partitioned sort plus a
    // map-side neighbor compare — the cheapest near-dup pass there is
    // when dups share prefixes (and exactly the recall trade SNM
    // documents: prefix-divergent dups are the miss case). The ≥0.8
    // accept is the integer cross-multiply i·5 ≥ u·4 — no float
    // threshold anywhere.
    Q("doc_dedup_sorted",
      (s, dir) => {
        val base = t(s, dir, "documents")
          .select(col("doc_id"), TextFunctions.normalize(col("text")).as("norm"))
          .select(col("doc_id"),
            substring(col("norm"), 1, 2).as("block"),
            substring(col("norm"), 1, 32).as("sortkey"),
            TextFunctions.shingles(TextFunctions.tokens(col("norm")), 3).as("sh"))
        val w = Window.partitionBy("block").orderBy(col("sortkey"), col("doc_id"))
        val nb = base
          .withColumn("d1", lead("doc_id", 1).over(w))
          .withColumn("s1", lead("sh", 1).over(w))
          .withColumn("d2", lead("doc_id", 2).over(w))
          .withColumn("s2", lead("sh", 2).over(w))
        nb.select(col("doc_id").as("x"), col("sh").as("sx"),
            explode(array(
              struct(col("d1").as("y"), col("s1").as("sy")),
              struct(col("d2").as("y"), col("s2").as("sy")))).as("p"))
          .filter(col("p.y").isNotNull)
          .select(col("x"), col("p.y").as("y"), col("sx"), col("p.sy").as("sy"))
          .filter(size(col("sx")) > 0 && size(col("sy")) > 0)
          .withColumn("i", size(array_intersect(col("sx"), col("sy"))))
          .withColumn("u", size(col("sx")) + size(col("sy")) - col("i"))
          .filter(col("i") * 5 >= col("u") * 4)
          .select(
            least(col("x"), col("y")).as("a_id"),
            greatest(col("x"), col("y")).as("b_id"),
            round(col("i").cast("double") / col("u"), 4).as("jaccard"))
          .orderBy("a_id", "b_id")
      },
      Some("""WITH d AS (SELECT doc_id,
                     trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS norm
                         FROM documents),
              tt AS (SELECT doc_id, norm, string_split(norm, ' ') AS t FROM d),
              sh AS (SELECT doc_id, substr(norm, 1, 32) AS sortkey,
                            substr(norm, 1, 2) AS block,
                            list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                                           for i in range(1, len(t) - 1)]) AS sh
                     FROM tt),
              nb AS (SELECT doc_id, sh,
                            lead(doc_id, 1) OVER w AS d1, lead(sh, 1) OVER w AS s1,
                            lead(doc_id, 2) OVER w AS d2, lead(sh, 2) OVER w AS s2
                     FROM sh
                     WINDOW w AS (PARTITION BY block ORDER BY sortkey, doc_id)),
              pairs AS (
                SELECT doc_id AS x, d1 AS y, sh AS sx, s1 AS sy
                FROM nb WHERE d1 IS NOT NULL
                UNION ALL
                SELECT doc_id, d2, sh, s2 FROM nb WHERE d2 IS NOT NULL),
              j AS (SELECT least(x, y) AS a_id, greatest(x, y) AS b_id,
                           len(list_intersect(sx, sy)) AS i,
                           len(sx) + len(sy) - len(list_intersect(sx, sy)) AS u
                    FROM pairs WHERE len(sx) > 0 AND len(sy) > 0)
              SELECT a_id, b_id, round(CAST(i AS DOUBLE) / u, 4) AS jaccard
              FROM j WHERE i * 5 >= u * 4
              ORDER BY a_id, b_id""")),

    // HTML/boilerplate stripping — the markup-removal pass every web
    // corpus runs BEFORE quality scoring (doc_quality_filter downstream).
    // The fixture has no markup column, so each doc's HTML is synthesized
    // deterministically (title + nav + content-with-inline-tags-and-
    // entities + cookie banner + footer) by IDENTICAL expressions in both
    // engines; the operator (TextFunctions.stripHtml) then line-ifies
    // block closers, strips tags, decodes entities, and drops short
    // boilerplate lines (nav/cookie/footer/title are short; content is
    // long — the classic length heuristic). Pure narrow projection: zero
    // shuffle beyond the deterministic output sort, plan-asserted.
    Q("text_clean_html",
      (s, dir) => {
        val html = concat(
          lit("<html><head><title>Doc "), col("doc_id"),
          lit("</title></head><body><nav><a href=\"/\">Home</a> | " +
            "<a href=\"/about\">About</a></nav>\n<p>"),
          expr("replace(text, ' the ', ' <b>the</b> ')"),
          lit(" &amp; fin</p>\n<div class=\"cookie\">Accept cookies</div>\n" +
            "<footer>&copy; 2026 Example</footer></body></html>"))
        t(s, dir, "documents")
          .select(col("doc_id"), html.as("html"))
          .select(col("doc_id"),
            graft.text.TextFunctions.stripHtml(col("html")).as("clean_text"))
          .withColumn("n_chars_clean", length(col("clean_text")).cast("long"))
          .orderBy("doc_id")
      },
      Some("""WITH raw AS (
                SELECT doc_id,
                       '<html><head><title>Doc ' || doc_id ||
                       '</title></head><body><nav><a href="/">Home</a> | ' ||
                       '<a href="/about">About</a></nav>' || chr(10) || '<p>' ||
                       replace(text, ' the ', ' <b>the</b> ') ||
                       ' &amp; fin</p>' || chr(10) ||
                       '<div class="cookie">Accept cookies</div>' || chr(10) ||
                       '<footer>&copy; 2026 Example</footer></body></html>' AS html
                FROM documents),
              lined AS (SELECT doc_id,
                               regexp_replace(html,
                                 '</(title|p|div|nav|footer|h[1-6]|li)>',
                                 chr(10), 'g') AS s
                        FROM raw),
              untag AS (SELECT doc_id,
                               regexp_replace(s, '<[^>]*>', '', 'g') AS s
                        FROM lined),
              deent AS (SELECT doc_id,
                               replace(replace(replace(replace(replace(replace(s,
                                 '&amp;', '&'), '&lt;', '<'), '&gt;', '>'),
                                 '&quot;', '"'), '&#39;', ''''),
                                 '&nbsp;', ' ') AS s
                        FROM untag),
              debo AS (SELECT doc_id,
                              regexp_replace(s, '(?m)^.{0,19}$\n?', '', 'g') AS s
                       FROM deent),
              clean AS (SELECT doc_id,
                               trim(regexp_replace(s, '\s+', ' ', 'g')) AS clean_text
                        FROM debo)
              SELECT doc_id, clean_text,
                     length(clean_text) AS n_chars_clean
              FROM clean ORDER BY doc_id""")),

    // URL canonicalization + URL-level dedup — corpus curation's cheapest
    // first pass: collapse scheme/host case, default ports, fragments,
    // and tracking params, then the doc_dedup_exact shape on the
    // canonical key. The fixture has no URL column, so raw URLs are
    // synthesized deterministically with exactly the variance the
    // canonicalizer must collapse (host case × default port × tracking
    // params × fragment over a doc_id%100 path): 5 docs per canonical
    // URL at sf0.01. One narrow projection + one hash groupBy — the same
    // shape/scaling as doc_dedup_exact.
    Q("doc_dedup_url",
      (s, dir) => {
        val rawUrl = concat(
          lit("HTTPS://"),
          when(col("doc_id") % 3 === 0, "WWW.Example.COM")
            .when(col("doc_id") % 3 === 1, "www.example.com")
            .otherwise("www.EXAMPLE.com"),
          when(col("doc_id") % 2 === 0, ":443").otherwise(""),
          concat(lit("/articles/"), col("doc_id") % 100),
          when(col("doc_id") % 4 === 0, "?utm_source=feed&utm_campaign=x")
            .when(col("doc_id") % 4 === 1, "?ref=home")
            .otherwise(""),
          when(col("doc_id") % 5 === 0, "#section-2").otherwise(""))
        t(s, dir, "documents")
          .select(col("doc_id"), rawUrl.as("raw_url"))
          .withColumn("canonical_url",
            graft.text.TextFunctions.canonicalUrl(col("raw_url")))
          .groupBy("canonical_url")
          .agg(min("doc_id").as("keeper_doc_id"),
            count(lit(1)).as("n_urls"))
          .orderBy("canonical_url")
      },
      Some("""WITH raw AS (
                SELECT doc_id,
                       'HTTPS://' ||
                       CASE doc_id % 3 WHEN 0 THEN 'WWW.Example.COM'
                                       WHEN 1 THEN 'www.example.com'
                                       ELSE 'www.EXAMPLE.com' END ||
                       CASE WHEN doc_id % 2 = 0 THEN ':443' ELSE '' END ||
                       '/articles/' || (doc_id % 100) ||
                       CASE doc_id % 4 WHEN 0 THEN '?utm_source=feed&utm_campaign=x'
                                       WHEN 1 THEN '?ref=home'
                                       ELSE '' END ||
                       CASE WHEN doc_id % 5 = 0 THEN '#section-2' ELSE '' END AS raw_url
                FROM documents),
              pre AS (SELECT doc_id, raw_url,
                             regexp_extract(raw_url,
                               '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*') AS prefix
                      FROM raw),
              canon AS (
                SELECT doc_id,
                       regexp_replace(lower(prefix), ':(443|80)$', '') ||
                       regexp_replace(
                         replace(
                           regexp_replace(
                             regexp_replace(
                               substr(raw_url, length(prefix) + 1,
                                      length(raw_url)),
                               '#.*', '', 'g'),
                             '([?&])(utm_[a-z]+|ref)=[^&#]*', '\1', 'g'),
                           '?&', '?'),
                         '[?&]+$', '', 'g') AS canonical_url
                FROM pre)
              SELECT canonical_url, min(doc_id) AS keeper_doc_id,
                     count(*) AS n_urls
              FROM canon GROUP BY canonical_url
              ORDER BY canonical_url""")),

    // Duplicated-span REMOVAL — the step after text_dup_spans in the
    // span-level dedup pipeline (Lee et al., "Deduplicating Training
    // Data Makes Language Models Better"): every token covered by a
    // corpus-duplicated 10-gram is cut from every doc EXCEPT the span's
    // keeper (min doc id containing it), so exactly one copy of each
    // duplicated span survives the corpus. Shape: the dup-span table is
    // the text_dup_spans aggregate; covered START positions come from
    // one postings-style join of per-doc indexed shingles against it
    // (shuffles scale with span-occurrence count, never doc×doc); the
    // rewrite is a TOKEN-LEVEL ANTI-JOIN — covered starts expand to
    // covered positions, tokens anti-join them by (doc, position), and
    // docs reassemble with one position-sorted collect. All codegen'd
    // relational ops: the first cut ran an in-row nested higher-order
    // filter instead, and its INTERPRETED O(tokens × covered-starts)
    // lambda ground single-threaded on heavily-duplicated docs — the
    // corpus-rewrite shuffle is the honest, parallel price.
    Q("doc_despan",
      (s, dir) => {
        val n = 10
        // ONE tokenize pass for the whole query: docs backs the dup-span
        // aggregate, the covered-position join, the token anti-join AND
        // the final length frame — without the checkpoint each reference
        // re-ran the regex normalize + split over the corpus (4 passes).
        // The repartition spreads the CPU-heavy tokenize across cores
        // (the shingleIndex contract) before the one materialization.
        val docs = t(s, dir, "documents")
          .repartition(s.sparkContext.defaultParallelism)
          .select(col("doc_id"),
            TextFunctions.tokens(TextFunctions.normalize(col("text"))).as("toks"))
          .localCheckpoint(eager = false)
        // same rows Dedup.shingleIndex(documents, ..., n) produces —
        // distinct n-grams per doc — but derived from the checkpointed
        // token arrays instead of a second corpus tokenize
        val dups = docs
          .select(col("doc_id"),
            explode(TextFunctions.shingles(col("toks"), n)).as("shingle"))
          .groupBy("shingle")
          .agg(count(lit(1)).as("n_docs"), min("doc_id").as("first_doc"))
          .filter(col("n_docs") >= 2)
          .select(col("shingle"), col("first_doc"))
        val coveredPos = docs
          .select(col("doc_id"),
            posexplode(TextFunctions.allShingles(col("toks"), n)))
          .select(col("doc_id"), (col("pos") + 1).as("i"), col("col").as("shingle"))
          .join(dups, "shingle")
          .filter(col("doc_id") =!= col("first_doc"))
          .select(col("doc_id"),
            explode(sequence(col("i"), col("i") + (n - 1))).as("j"))
          .distinct()
        val kept = docs
          .select(col("doc_id"), posexplode(col("toks")))
          .select(col("doc_id"), (col("pos") + 1).as("j"), col("col").as("tk"))
          .join(coveredPos, Seq("doc_id", "j"), "left_anti")
          .groupBy("doc_id")
          .agg(
            concat_ws(" ", expr(
              "transform(array_sort(collect_list(struct(j, tk))), x -> x.tk)"))
              .as("clean_text"),
            count(lit(1)).as("n_kept"))
        docs.select(col("doc_id"), size(col("toks")).cast("long").as("nt"))
          .join(kept, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("clean_text"), lit("")).as("clean_text"),
            coalesce(col("n_kept"), lit(0L)).as("n_kept"),
            (col("nt") - coalesce(col("n_kept"), lit(0L))).as("n_removed"))
          .orderBy("doc_id")
      },
      Some("""WITH d AS (
                SELECT doc_id,
                       string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS t
                FROM documents),
              shd AS (
                SELECT doc_id, unnest(list_distinct(
                         [array_to_string(t[i:i+9], ' ')
                          for i in range(1, len(t) - 8)])) AS shingle
                FROM d),
              dups AS (SELECT shingle, min(doc_id) AS first_doc
                       FROM shd GROUP BY 1 HAVING count(*) >= 2),
              st AS (SELECT doc_id,
                            unnest([{'i': i, 's': array_to_string(t[i:i+9], ' ')}
                                    for i in range(1, len(t) - 8)]) AS u
                     FROM d),
              cov AS (SELECT st.doc_id,
                             list_sort(list_distinct(list(u.i))) AS cov
                      FROM st JOIN dups ON u.s = dups.shingle
                      WHERE st.doc_id <> dups.first_doc
                      GROUP BY st.doc_id),
              fin AS (SELECT d.doc_id, d.t, coalesce(c.cov, []) AS cov
                      FROM d LEFT JOIN cov c USING (doc_id)),
              kept AS (SELECT doc_id, len(t) AS nt,
                              [t[j] for j in range(1, len(t) + 1)
                               if len(list_filter(cov, i -> i <= j AND j <= i + 9)) = 0] AS k
                       FROM fin)
              SELECT doc_id,
                     coalesce(array_to_string(k, ' '), '') AS clean_text,
                     len(k)::BIGINT AS n_kept,
                     (nt - len(k))::BIGINT AS n_removed
              FROM kept ORDER BY doc_id""")),

    // Corpus-level LINE dedup (CCNet / RefinedWeb): every line whose
    // normalized form appears in >= 3 DISTINCT documents is boilerplate
    // and is cut from EVERY doc (no keeper — boilerplate has no content
    // copy worth keeping, unlike doc_despan's span-keeper rule); docs
    // reassemble in order, cardinality unchanged. Fixture docs carry no
    // newlines, so lines are deterministic 10-word windows — exact-clone
    // groups (the fixture's planted dups) produce exactly-equal lines,
    // which is the property corpus-frequency keying needs. Shape: one
    // posexplode + one count-distinct shuffled on the line + one
    // corpus-sized join back + one positional re-collect — linear in
    // total line count, no pair join, no broadcast, the frequency table
    // shards freely. See Dedup.lineDedup for the 100 TB rationale.
    Q("doc_dedup_lines",
      (s, dir) => Dedup.lineDedup(
          t(s, dir, "documents"), "doc_id", "text",
          wordsPerLine = 10, maxDocFreq = 3L)
        .orderBy("doc_id"),
      Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w
                         FROM documents),
              ln AS (SELECT doc_id,
                            unnest([{'pos': i,
                                     'line': array_to_string(w[i*10+1:i*10+10], ' ')}
                                    for i in range(0, (len(w) + 9) // 10)]) AS u
                     FROM d),
              lines AS (SELECT doc_id, u.pos AS pos, u.line AS line,
                               lower(trim(u.line)) AS k
                        FROM ln),
              freq AS (SELECT k, count(DISTINCT doc_id) AS line_df
                       FROM lines GROUP BY 1),
              kept AS (SELECT l.doc_id, l.pos, l.line
                       FROM lines l JOIN freq USING (k)
                       WHERE freq.line_df < 3),
              agg AS (SELECT doc_id,
                             string_agg(line, ' ' ORDER BY pos) AS clean_text,
                             count(*) AS n_kept
                      FROM kept GROUP BY doc_id),
              tot AS (SELECT doc_id, count(*) AS n_lines
                      FROM lines GROUP BY doc_id)
              SELECT t.doc_id,
                     coalesce(a.clean_text, '') AS clean_text,
                     coalesce(a.n_kept, 0)::BIGINT AS n_kept_lines,
                     (t.n_lines - coalesce(a.n_kept, 0))::BIGINT AS n_dropped_lines
              FROM tot t LEFT JOIN agg a USING (doc_id)
              ORDER BY t.doc_id""")),

    // WINNOWING document fingerprints (Schleimer, Wilkerson, Aiken 2003
    // — the MOSS algorithm): hash every 5-gram, slide a w=8 window over
    // the hash sequence, keep each window's MINIMUM — guarantees any
    // shared run of ≥ w+k-1 tokens between two docs shares a
    // fingerprint, at ~2/w the density of the full k-gram set. The
    // local-fingerprint family's third member beside MinHash (global
    // sketch) and SimHash (global bit vector): winnowing localizes, so
    // matching fingerprints point at POSITIONS of overlap, the
    // contamination/plagiarism primitive. Entirely IN-ROW per doc
    // (hash → sliding min → distinct): zero shuffle before the output
    // sort, scales as a narrow pass. Ties need no break rule because
    // fingerprints are VALUES, not positions — equal hashes in a window
    // yield the same minimum either way. Docs shorter than one window
    // emit the minimum of what they have (the k≤|doc|<k+w-1 contract);
    // md5-derived 32-bit hashes keep both engines bit-identical.
    Q("text_winnow",
      (s, dir) =>
        winnowFingerprints(t(s, dir, "documents")).orderBy("doc_id", "fp"),
      Some("""WITH d AS (
                SELECT doc_id,
                       string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS t
                FROM documents),
              h AS (SELECT doc_id,
                           [('0x' || substr(md5(array_to_string(t[i:i+4], ' ')), 1, 8))::BIGINT
                            for i in range(1, len(t) - 3)] AS hs
                    FROM d WHERE len(t) >= 5),
              w AS (SELECT doc_id,
                           list_distinct([list_min(hs[i:i+7])
                                          for i in range(1, greatest(len(hs) - 7, 1) + 1)]) AS fps
                    FROM h WHERE len(hs) >= 1)
              SELECT doc_id, unnest(fps) AS fp
              FROM w ORDER BY doc_id, fp""")),

    // Winnowing MATCH detection — the consumer of text_winnow's
    // fingerprints: doc pairs sharing ≥ 3 winnowed fingerprints, i.e.
    // pairs with at least three distinct ≥ w+k−1-token overlapping
    // runs' worth of evidence. Same inverted-index shape as the n-gram
    // dedup path: pairs generate per FINGERPRINT bucket (cost scales
    // with true-overlap count, never doc×doc), with the hot-fingerprint
    // guard (df ≤ 50) bounding bucket fan-out the way stop-shingle caps
    // do. This is the plagiarism/contamination detector MOSS runs,
    // corpus-scale.
    Q("text_winnow_matches",
      (s, dir) => {
        val fps = winnowFingerprints(t(s, dir, "documents"))
        val rare = fps.groupBy("fp").agg(count(lit(1)).as("df"))
          .filter(col("df") <= 50)
        val bucketed = fps.join(rare.select("fp"), "fp")
        bucketed.as("a").join(bucketed.as("b"), Seq("fp"))
          .filter(col("a.doc_id") < col("b.doc_id"))
          .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
          .agg(count(lit(1)).as("shared_fps"))
          .filter(col("shared_fps") >= 3)
          .orderBy("a_id", "b_id")
      },
      Some("""WITH d AS (
                SELECT doc_id,
                       string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS t
                FROM documents),
              h AS (SELECT doc_id,
                           [('0x' || substr(md5(array_to_string(t[i:i+4], ' ')), 1, 8))::BIGINT
                            for i in range(1, len(t) - 3)] AS hs
                    FROM d WHERE len(t) >= 5),
              w AS (SELECT doc_id,
                           list_distinct([list_min(hs[i:i+7])
                                          for i in range(1, greatest(len(hs) - 7, 1) + 1)]) AS fps
                    FROM h WHERE len(hs) >= 1),
              f AS (SELECT doc_id, unnest(fps) AS fp FROM w),
              rare AS (SELECT fp FROM f GROUP BY fp HAVING count(*) <= 50),
              b AS (SELECT f.doc_id, f.fp FROM f JOIN rare USING (fp))
              SELECT a.doc_id AS a_id, b2.doc_id AS b_id,
                     count(*) AS shared_fps
              FROM b a JOIN b b2 ON a.fp = b2.fp AND a.doc_id < b2.doc_id
              GROUP BY 1, 2 HAVING count(*) >= 3
              ORDER BY a_id, b_id""")),

    // BM25 top-k retrieval — the LEXICAL retrieval twin of the vector
    // family (vec_knn et al.): Lucene-form Okapi BM25 (k1=1.2, b=0.75,
    // idf = ln((N−df+0.5)/(df+0.5)+1)) for a fixed 3-term query over the
    // token postings. Scale shape: tf rows exist only for docs containing
    // a query term (the filter pushes before the tf aggregate), df and
    // the corpus stats broadcast, the one key shuffle joins tf to doc
    // lengths, and the top-20 plans as TakeOrderedAndProject. Float
    // fencing: per-term scores QUANTIZE to 1e-6-unit longs before the
    // per-doc sum (the ts_seasonal trick — engines may sum in any order
    // over exact integers), so the ranking key is bit-stable; ties break
    // on doc_id.
    Q("text_bm25",
      (s, dir) =>
        bm25Scores(t(s, dir, "documents"), Seq("spark", "window", "merge"))
          .orderBy(col("score_micro").desc, col("doc_id"))
          .limit(20),
      Some("""WITH toks AS (
                SELECT doc_id,
                       unnest(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS tok
                FROM documents),
              lens AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
              stats AS (SELECT count(*) AS n_docs,
                               CAST(sum(dl) AS BIGINT) AS total_toks
                        FROM lens),
              tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks
                     WHERE tok IN ('spark', 'window', 'merge') GROUP BY 1, 2),
              dft AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
              sc AS (SELECT tf.doc_id,
                            CAST(round(
                              ln((s.n_docs - dft.df + 0.5) / (dft.df + 0.5) + 1)
                              * ((tf.tf * CAST(2.2 AS DOUBLE)) /
                                 (tf.tf + CAST(1.2 AS DOUBLE) * (0.25 + 0.75 * lens.dl /
                                   (CAST(s.total_toks AS DOUBLE) / s.n_docs))))
                              * 1000000, 0) AS BIGINT) AS tsm
                     FROM tf JOIN dft USING (tok)
                              JOIN lens ON lens.doc_id = tf.doc_id
                              CROSS JOIN stats s)
              SELECT doc_id, CAST(sum(tsm) AS BIGINT) AS score_micro,
                     count(*) AS n_terms
              FROM sc GROUP BY 1
              ORDER BY score_micro DESC, doc_id LIMIT 20""")),

    // Reciprocal-rank fusion (Cormack/Clarke/Büttcher 2009) — the
    // standard hybrid-retrieval combiner: fuse two heterogeneous
    // rankers by 1/(60+rank), score scales never compared. Ranker A is
    // BM25, ranker B a plain tf·idf sum (same quantized-long trick);
    // each contributes its top-100 (ranked by its own bit-stable
    // integer key, doc_id tie-break), the lists FULL-OUTER merge on
    // doc_id, and the fused ordering breaks ties by doc_id. The rank
    // windows run on the already-top-100 frames (≤100 rows — the
    // single-partition sort is serving-sized by construction, never
    // corpus-sized); rrf itself is a fixed two-term double expression,
    // identical bits in both engines.
    Q("text_rank_fusion",
      (s, dir) => {
        val qterms = Seq("spark", "window", "merge")
        val docs = t(s, dir, "documents")
        val wA = Window.orderBy(col("score_micro").desc, col("doc_id"))
        val ra = bm25Scores(docs, qterms)
          .orderBy(col("score_micro").desc, col("doc_id")).limit(100)
          .withColumn("ra", row_number().over(wA))
          .select("doc_id", "ra")
        val toks = docs.select(col("doc_id"),
          explode(TextFunctions.tokens(TextFunctions.normalize(col("text")))).as("tok"))
        val tf = toks.filter(col("tok").isin(qterms: _*))
          .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
        val dft = tf.groupBy("tok").agg(count(lit(1)).as("df"))
        val nd = broadcast(docs.agg(count(lit(1)).as("n_docs")))
        val tfidf = tf.join(broadcast(dft), "tok").crossJoin(nd)
          .withColumn("tsm",
            round(col("tf") * log(col("n_docs").cast("double") / col("df"))
              * lit(1e6), 0).cast("long"))
          .groupBy("doc_id").agg(sum("tsm").as("tscore_micro"))
        val wB = Window.orderBy(col("tscore_micro").desc, col("doc_id"))
        val rb = tfidf
          .orderBy(col("tscore_micro").desc, col("doc_id")).limit(100)
          .withColumn("rb", row_number().over(wB))
          .select("doc_id", "rb")
        ra.join(rb, Seq("doc_id"), "full_outer")
          .withColumn("rrf",
            coalesce(lit(1.0) / (lit(60) + col("ra")), lit(0.0)) +
              coalesce(lit(1.0) / (lit(60) + col("rb")), lit(0.0)))
          .orderBy(col("rrf").desc, col("doc_id")).limit(20)
          .select(col("doc_id"), col("ra"), col("rb"), col("rrf"))
      },
      Some("""WITH toks AS (
                SELECT doc_id,
                       unnest(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS tok
                FROM documents),
              lens AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
              stats AS (SELECT count(*) AS n_docs,
                               CAST(sum(dl) AS BIGINT) AS total_toks
                        FROM lens),
              tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks
                     WHERE tok IN ('spark', 'window', 'merge') GROUP BY 1, 2),
              dft AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
              bm AS (SELECT tf.doc_id,
                            CAST(sum(CAST(round(
                              ln((s.n_docs - dft.df + 0.5) / (dft.df + 0.5) + 1)
                              * ((tf.tf * CAST(2.2 AS DOUBLE)) /
                                 (tf.tf + CAST(1.2 AS DOUBLE) * (0.25 + 0.75 * lens.dl /
                                   (CAST(s.total_toks AS DOUBLE) / s.n_docs))))
                              * 1000000, 0) AS BIGINT)) AS BIGINT) AS score_micro
                     FROM tf JOIN dft USING (tok)
                              JOIN lens ON lens.doc_id = tf.doc_id
                              CROSS JOIN stats s
                     GROUP BY 1),
              ra AS (SELECT doc_id,
                            row_number() OVER (ORDER BY score_micro DESC, doc_id) AS ra
                     FROM (SELECT * FROM bm
                           ORDER BY score_micro DESC, doc_id LIMIT 100)),
              nd AS (SELECT count(*) AS n_docs FROM documents),
              ti AS (SELECT tf.doc_id,
                            CAST(sum(CAST(round(
                              tf.tf * ln(CAST(nd.n_docs AS DOUBLE) / dft.df)
                              * 1000000, 0) AS BIGINT)) AS BIGINT) AS tscore_micro
                     FROM tf JOIN dft USING (tok) CROSS JOIN nd
                     GROUP BY 1),
              rb AS (SELECT doc_id,
                            row_number() OVER (ORDER BY tscore_micro DESC, doc_id) AS rb
                     FROM (SELECT * FROM ti
                           ORDER BY tscore_micro DESC, doc_id LIMIT 100))
              SELECT doc_id, ra, rb,
                     coalesce(CAST(1.0 AS DOUBLE) / (60 + ra), CAST(0.0 AS DOUBLE)) +
                     coalesce(CAST(1.0 AS DOUBLE) / (60 + rb), CAST(0.0 AS DOUBLE)) AS rrf
              FROM ra FULL OUTER JOIN rb USING (doc_id)
              ORDER BY rrf DESC, doc_id LIMIT 20""")),

    // TRAINED quality classifier (GPT-3/LLaMA-style curation filter): a
    // linear model over hashed bag-of-words features — multinomial Naive
    // Bayes with Laplace smoothing, trained on the doc_quality_filter
    // rule's weak labels and applied to every document as a soft score.
    // Training is one partially-aggregated sufficient-statistics pass
    // (per-bucket class counts, ≤128 rows shuffled per partition);
    // scoring is a ZERO-SHUFFLE projection folding each doc's tokens
    // through the broadcast literal weight array (QualityModelSpec
    // asserts no Exchange). All score arithmetic is exact micro-longs,
    // so score_micro/pred_keep are bit-stable; the only doubles are the
    // 129 model-size ln calls, evaluated on engine-identical inputs
    // with a fixed op sequence (two divides then multiply — raw count
    // products would leave 2^53 at corpus scale).
    Q("doc_quality_model",
      (s, dir) => {
        val docs = SharedQualityModels.docs(s, dir)
        val m = SharedQualityModels.nb(s, dir)
        docs.select(col("doc_id"),
            QualityModel.score("ftoks", m).as("score_micro"),
            col("label"))
          .withColumn("pred_keep", col("score_micro") > 0)
          .select("doc_id", "score_micro", "pred_keep", "label")
          .orderBy("doc_id")
      },
      Some(s"""WITH $QualityScoredSql
              SELECT doc_id, score_micro, pred_keep, label
              FROM scored ORDER BY doc_id""")),

    // The classifier's EVALUATION — the measure-before-deploy twin the
    // dedup (doc_dedup_eval) and ANN (vec_ivf_recall) stages already
    // have: confusion counts + precision/recall of the trained model's
    // predictions against the rule labels, the one row a pipeline reads
    // before swapping the learned filter in for the heuristic. One
    // aggregation over the zero-shuffle scoring projection; exact
    // integer counts, single IEEE divisions.
    Q("doc_quality_eval",
      (s, dir) => {
        val docs = SharedQualityModels.docs(s, dir)
        val m = SharedQualityModels.nb(s, dir)
        docs.select((QualityModel.score("ftoks", m) > 0).as("pred"),
            col("label"))
          .agg(
            sum(when(col("pred") && col("label"), 1L).otherwise(0L)).as("tp"),
            sum(when(col("pred") && !col("label"), 1L).otherwise(0L)).as("fp"),
            sum(when(!col("pred") && col("label"), 1L).otherwise(0L)).as("fn"),
            sum(when(!col("pred") && !col("label"), 1L).otherwise(0L)).as("tn"))
          .select(col("tp"), col("fp"), col("fn"), col("tn"),
            round(col("tp").cast("double") /
              greatest(col("tp") + col("fp"), lit(1L)), 4).as("prec"),
            round(col("tp").cast("double") /
              greatest(col("tp") + col("fn"), lit(1L)), 4).as("recall"))
      },
      Some(s"""WITH $QualityScoredSql,
              m AS (SELECT
                      CAST(sum(CASE WHEN pred_keep AND label THEN 1 ELSE 0 END) AS BIGINT) AS tp,
                      CAST(sum(CASE WHEN pred_keep AND NOT label THEN 1 ELSE 0 END) AS BIGINT) AS fp,
                      CAST(sum(CASE WHEN NOT pred_keep AND label THEN 1 ELSE 0 END) AS BIGINT) AS fn,
                      CAST(sum(CASE WHEN NOT pred_keep AND NOT label THEN 1 ELSE 0 END) AS BIGINT) AS tn
                    FROM scored)
              SELECT tp, fp, fn, tn,
                     round(tp::DOUBLE / greatest(tp + fp, 1), 4) AS prec,
                     round(tp::DOUBLE / greatest(tp + fn, 1), 4) AS recall
              FROM m""")),

    // The REFINEMENT's evaluation — the NB row and the gradient-refined
    // LR row side by side, the one table a pipeline reads to decide
    // whether the 3-pass refinement actually bought anything at the
    // keep/drop operating point (the measure-before-deploy discipline:
    // every learned swap in this library ships with its confusion
    // table). Two aggregations over the SAME pinned scored frame (the
    // zero-shuffle scoring projection, once per model); exact integer
    // counts. Oracled via the mixed device: the NB side's weights
    // re-derive closed-form in SQL (QualityScoredSql), the LR side's
    // refined weights embed as the literal table the
    // doc_quality_model_lr oracle already certifies.
    Q("doc_quality_eval_lr",
      (s, dir) => {
        val docs = SharedQualityModels.docs(s, dir)
        Seq("lr" -> SharedQualityModels.lr(s, dir),
            "nb" -> SharedQualityModels.nb(s, dir)).map { case (name, m) =>
          docs.select((QualityModel.score("ftoks", m) > 0).as("pred"),
              col("label"))
            .agg(
              sum(when(col("pred") && col("label"), 1L).otherwise(0L)).as("tp"),
              sum(when(col("pred") && !col("label"), 1L).otherwise(0L)).as("fp"),
              sum(when(!col("pred") && col("label"), 1L).otherwise(0L)).as("fn"),
              sum(when(!col("pred") && !col("label"), 1L).otherwise(0L)).as("tn"))
            .select(lit(name).as("model"), col("tp"), col("fp"), col("fn"),
              col("tn"),
              round(col("tp").cast("double") /
                greatest(col("tp") + col("fp"), lit(1L)), 4).as("prec"),
              round(col("tp").cast("double") /
                greatest(col("tp") + col("fn"), lit(1L)), 4).as("recall"))
        }.reduce(_ unionByName _).orderBy("model")
      },
      None,
      oracleGen = Some((s, dir) => TextOracle.qualityEvalLrSql(s, dir))),

    // CALIBRATION curve (reliability diagram) for the trained filter —
    // the third measurement column of the classifier family (eval gives
    // the operating point, calibration tells you whether the SCORE is
    // trustworthy as a sampling weight): sigmoid of the NB log-odds
    // bucketed into probability deciles, per bucket the mean predicted
    // probability vs the empirical positive rate. NB is famously
    // overconfident — the fixture shows exactly the saturated-edge
    // shape this curve exists to reveal, which is what a pipeline
    // checks before using scores (rather than hard keep/drop) to
    // temperature-sample the corpus. Same zero-shuffle scoring
    // projection as the eval; one ≤10-group aggregation; sigmoid
    // quantized to micro-longs immediately (ln/exp convention), means
    // are exact-long sums divided once.
    Q("doc_quality_calibration",
      (s, dir) => {
        val docs = SharedQualityModels.docs(s, dir)
        val m = SharedQualityModels.nb(s, dir)
        docs.select(QualityModel.score("ftoks", m).as("score_micro"),
            col("label"))
          .withColumn("p_micro",
            round(lit(1e6) / (lit(1.0) +
              exp(-(col("score_micro").cast("double") / lit(1e6)))), 0)
              .cast("long"))
          .withColumn("bucket", least(lit(9L), expr("p_micro div 100000")))
          .groupBy("bucket")
          .agg(count(lit(1)).as("n"),
            round(avg("p_micro"), 0).cast("long").as("mean_pred_micro"),
            round(sum(when(col("label"), 1L).otherwise(0L)).cast("double")
              * lit(1e6) / count(lit(1)), 0).cast("long")
              .as("pos_rate_micro"))
          .orderBy("bucket")
      },
      Some(s"""WITH $QualityScoredSql,
              p AS (SELECT label,
                           CAST(round(1e6 / (1.0 + exp(-(score_micro::DOUBLE / 1e6))), 0) AS BIGINT) AS p_micro
                    FROM scored),
              b AS (SELECT least(9, p_micro // 100000) AS bucket, p_micro, label FROM p)
              SELECT bucket, count(*) AS n,
                     CAST(round(avg(p_micro), 0) AS BIGINT) AS mean_pred_micro,
                     CAST(round(sum(CASE WHEN label THEN 1 ELSE 0 END)::DOUBLE * 1e6 / count(*), 0) AS BIGINT) AS pos_rate_micro
              FROM b GROUP BY bucket ORDER BY bucket""")),

    // Logistic-regression REFINEMENT of the same model: 3 fixed
    // full-batch gradient-descent iterations from the NB initialization,
    // each one pass through the mergeable constant-buffer
    // LogisticGradientAggregator (per-doc residuals quantized to exact
    // micro-longs, so training is bit-deterministic under any
    // partitioning — QualityModelSpec proves 1-partition ≡ 32-partition
    // and that refinement does not worsen the training log-loss). The
    // SCORING is oracled via generated SQL with the refined weights as
    // a literal table over the shared feature CTEs
    // ([[TextOracle.qualityLrSql]]); only the gradient iterations stay
    // outside, parity-spec'd like the PCA family.
    Q("doc_quality_model_lr",
      (s, dir) => {
        val docs = SharedQualityModels.docs(s, dir)
        val m = SharedQualityModels.lr(s, dir)
        docs.select(col("doc_id"),
            QualityModel.score("ftoks", m).as("score_micro"),
            col("label"))
          .withColumn("pred_keep", col("score_micro") > 0)
          .select("doc_id", "score_micro", "pred_keep", "label")
          .orderBy("doc_id")
      },
      None,
      oracleGen = Some((s, dir) => TextOracle.qualityLrSql(s, dir))),

    // END-TO-END CURATION VERDICT — the whole cleanup as ONE declared
    // plan: quality rule → exact-dedup keeper → benchmark
    // decontamination, with a first-failing-stage reason per corpus doc
    // (eval set = doc_id < 20, as in doc_contamination). The point is
    // FUSION: a stage-at-a-time pipeline re-reads the corpus once per
    // stage; declared together, the quality signals and the content
    // fingerprint compute in the SAME scan with the dedup keeper as a
    // window over it (min doc_id per fp — a groupBy+rejoin would
    // rescan the corpus a third time; plan-asserted at 3 scans), the
    // shingle explode is the second corpus pass, and the eval side is
    // a pruned 20-doc scan. Two corpus passes for three stages — at
    // 100 TB "number of corpus passes" is the whole cost model.
    Q("pipeline_curate",
      (s, dir) => {
        val all = t(s, dir, "documents")
        // the verdict's per-doc work (5-gram shingling, md5 fingerprint,
        // quality signals) is CPU-heavy narrow compute; a single-file
        // fixture gives ONE input partition — spread it before the
        // per-row loops (the doc_contamination precedent; an Exchange,
        // not an extra scan, so the 3-scan plan assertion still holds)
        val corpus = all.filter(col("doc_id") >= 20)
          .repartition(s.sparkContext.defaultParallelism)
        val toks = TextFunctions.tokens(col("text"))
        val nTok = size(toks).cast("long")
        val uniq = size(array_distinct(toks)).cast("double") / nTok.cast("double")
        val q = corpus.select(col("doc_id"), nTok.as("n_tokens"),
          (nTok >= 25 && uniq >= 0.35 &&
            TextFunctions.stopwordRatio(toks) <= 0.15).as("q_ok"),
          TextFunctions.fingerprint(col("text")).as("fp"))
          .withColumn("keep_id",
            min("doc_id").over(Window.partitionBy("fp")))
        def sh(df: org.apache.spark.sql.DataFrame, idAs: String) =
          df.select(col("doc_id").as(idAs),
            explode(TextFunctions.shingles(
              TextFunctions.tokens(TextFunctions.normalize(col("text"))), 5))
              .as("shingle"))
        val contam = sh(corpus, "corpus_id")
          .join(broadcast(sh(all.filter(col("doc_id") < 20), "eval_id")),
            "shingle")
          .groupBy("corpus_id", "eval_id").agg(count(lit(1)).as("n_shared"))
          .filter(col("n_shared") >= 3)
          .select(col("corpus_id").as("doc_id")).distinct()
          .withColumn("contam", lit(true))
        q.join(contam, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_tokens"),
            when(!col("q_ok"), "low_quality")
              .when(col("doc_id") =!= col("keep_id"), "exact_dup")
              .when(col("contam"), "contaminated")
              .otherwise("keep").as("reason"),
            (col("q_ok") && col("doc_id") === col("keep_id") &&
              col("contam").isNull).as("keep"))
          .orderBy("doc_id")
      },
      Some("""WITH base AS (
                SELECT doc_id, text, string_split(text, ' ') AS t
                FROM documents WHERE doc_id >= 20),
              q AS (SELECT doc_id, len(t) AS n_tokens,
                           len(t) >= 25
                           AND len(list_distinct(t))::DOUBLE / len(t) >= 0.35
                           AND len(list_filter(t,
                                 x -> x IN ('the','a','an','of','and','to','in','is','it','for')))::DOUBLE
                               / len(t) <= 0.15 AS q_ok,
                           md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp
                    FROM base),
              keeper AS (SELECT fp, min(doc_id) AS keep_id FROM q GROUP BY fp),
              sh AS (SELECT doc_id, unnest(
                       list_distinct([array_to_string(tt[i:i+4], ' ')
                                      for i in range(1, len(tt) - 3)])) AS shingle
                     FROM (SELECT doc_id,
                                  string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS tt
                           FROM documents)),
              contam AS (SELECT DISTINCT corpus_id AS doc_id
                         FROM (SELECT c.doc_id AS corpus_id, e.doc_id AS eval_id
                               FROM sh c JOIN sh e ON c.shingle = e.shingle
                               WHERE c.doc_id >= 20 AND e.doc_id < 20
                               GROUP BY 1, 2 HAVING count(*) >= 3))
              SELECT q.doc_id, q.n_tokens,
                     CASE WHEN NOT q.q_ok THEN 'low_quality'
                          WHEN q.doc_id != k.keep_id THEN 'exact_dup'
                          WHEN ct.doc_id IS NOT NULL THEN 'contaminated'
                          ELSE 'keep' END AS reason,
                     (q.q_ok AND q.doc_id = k.keep_id
                      AND ct.doc_id IS NULL) AS keep
              FROM q JOIN keeper k USING (fp)
              LEFT JOIN contam ct ON ct.doc_id = q.doc_id
              ORDER BY q.doc_id""")),

    // MinHash-LSH banding EVALUATION — the measurement a pipeline runs
    // before committing a 100 TB dedup pass: at (k=16, bands=4), what do
    // the LSH candidates cost (precision: how many verify-joins are
    // wasted on non-dups) and what do they miss (recall vs the exact
    // Jaccard ≥ 0.8 pair set)? The dedup twin of `vec_ivf_recall`:
    // build → dedup → MEASURE completes the lifecycle, and the banding
    // s-curve is the dial this one row tunes. Both pair tables are
    // pair-count-sized (shared fixture pins, no recompute); the compare
    // is a join of two small frames + three scalar counts — never
    // corpus-scale work. All counts exact integers; the two ratios are
    // single IEEE divisions of exact ints, identical in both engines.
    Q("doc_dedup_eval",
      (s, dir) => {
        // the candidate table feeds TWO subtrees (its own count and the
        // tp join): materialize the banding self-join once instead of
        // executing it per consumer (the b0e24a7 shared-frame precedent)
        val cand = Dedup.minHashCandidatesFromSignatures(
          SharedMinHashSigs(s, dir, 3, 16), k = 16, bands = 4)
          .localCheckpoint(eager = false)
        val exact = SharedJaccardPairs(s, dir, 3, 0.8).select("a_id", "b_id")
        val nc = cand.agg(count(lit(1)).as("n_cand"))
        val nt = exact.agg(count(lit(1)).as("n_true"))
        val tp = cand.join(exact, Seq("a_id", "b_id"))
          .agg(count(lit(1)).as("tp"))
        nc.crossJoin(nt).crossJoin(tp)
          .select(col("n_cand"), col("n_true"), col("tp"),
            round(col("tp").cast("double") / greatest(col("n_cand"), lit(1L)), 4)
              .as("prec"),
            round(col("tp").cast("double") / greatest(col("n_true"), lit(1L)), 4)
              .as("recall"))
      },
      Some(s"""WITH sh AS (
                SELECT doc_id, unnest(
                  list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                                 for i in range(1, len(t) - 1)])) AS shingle
                FROM (SELECT doc_id,
                             string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS t
                      FROM documents)),
              lane AS (
                SELECT doc_id, ('0x' || substr(md5(shingle), 1, 8))::BIGINT AS h
                FROM sh),
              sig AS (
                SELECT doc_id,
                       ${minHashSigSql(k = 16)}
                FROM lane GROUP BY doc_id),
              buckets AS (
                SELECT doc_id, band,
                       CASE band
                         WHEN 0 THEN md5(concat_ws('|', mh0, mh1, mh2, mh3))
                         WHEN 1 THEN md5(concat_ws('|', mh4, mh5, mh6, mh7))
                         WHEN 2 THEN md5(concat_ws('|', mh8, mh9, mh10, mh11))
                         ELSE md5(concat_ws('|', mh12, mh13, mh14, mh15))
                       END AS bkey
                FROM sig, (SELECT unnest([0,1,2,3]) AS band)),
              cand AS (
                SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
                FROM buckets a JOIN buckets b
                  ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
              sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
              cnt AS (
                SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS c
                FROM sh a JOIN sh b
                  ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                GROUP BY 1, 2),
              pairs AS (
                SELECT a_id, b_id FROM cnt
                JOIN sizes sa ON cnt.a_id = sa.doc_id
                JOIN sizes sb ON cnt.b_id = sb.doc_id
                WHERE c::DOUBLE / (sa.n + sb.n - c) >= 0.8),
              m AS (SELECT
                      (SELECT count(*) FROM cand) AS n_cand,
                      (SELECT count(*) FROM pairs) AS n_true,
                      (SELECT count(*)
                       FROM cand JOIN pairs USING (a_id, b_id)) AS tp)
              SELECT n_cand, n_true, tp,
                     round(tp::DOUBLE / greatest(n_cand, 1), 4) AS prec,
                     round(tp::DOUBLE / greatest(n_true, 1), 4) AS recall
              FROM m""")),

    // The banding S-CURVE measured — doc_dedup_eval swept over
    // bands ∈ {2, 4, 8} on the SAME 16-lane signatures (rows/band 8, 4,
    // 2): fewer, wider bands demand longer exact-match runs (high
    // precision, low recall); narrower bands the reverse. One row per
    // config is exactly the table a pipeline reads to pick its operating
    // point before a 100 TB dedup run — the dedup twin of
    // vec_ivf_recall's nprobe sweep. The signature table builds once
    // (shared pin); per config the work is one banding self-join over
    // pair-sized frames, never corpus-scale.
    Q("doc_dedup_eval_sweep",
      (s, dir) => {
        val sigs = SharedMinHashSigs(s, dir, 3, 16)
        val exact = SharedJaccardPairs(s, dir, 3, 0.8).select("a_id", "b_id")
          .localCheckpoint(eager = false)
        val nt = exact.agg(count(lit(1)).as("n_true"))
        Seq(2, 4, 8).map { b =>
          val cand = Dedup.minHashCandidatesFromSignatures(sigs, k = 16,
            bands = b).localCheckpoint(eager = false)
          val nc = cand.agg(count(lit(1)).as("n_cand"))
          val tp = cand.join(exact, Seq("a_id", "b_id"))
            .agg(count(lit(1)).as("tp"))
          nc.crossJoin(nt).crossJoin(tp)
            .select(lit(b.toLong).as("bands"), col("n_cand"), col("n_true"),
              col("tp"),
              round(col("tp").cast("double") / greatest(col("n_cand"), lit(1L)), 4)
                .as("prec"),
              round(col("tp").cast("double") / greatest(col("n_true"), lit(1L)), 4)
                .as("recall"))
        }.reduce(_.union(_)).orderBy("bands")
      },
      Some(s"""WITH sh AS (
                SELECT doc_id, unnest(
                  list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                                 for i in range(1, len(t) - 1)])) AS shingle
                FROM (SELECT doc_id,
                             string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS t
                      FROM documents)),
              lane AS (
                SELECT doc_id, ('0x' || substr(md5(shingle), 1, 8))::BIGINT AS h
                FROM sh),
              sig AS (
                SELECT doc_id,
                       ${minHashSigSql(k = 16)}
                FROM lane GROUP BY doc_id),
              ${bandBucketsSql(2, "bk2")},
              ${bandBucketsSql(4, "bk4")},
              ${bandBucketsSql(8, "bk8")},
              c2 AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
                     FROM bk2 a JOIN bk2 b
                       ON a.band = b.band AND a.bkey = b.bkey
                          AND a.doc_id < b.doc_id),
              c4 AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
                     FROM bk4 a JOIN bk4 b
                       ON a.band = b.band AND a.bkey = b.bkey
                          AND a.doc_id < b.doc_id),
              c8 AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
                     FROM bk8 a JOIN bk8 b
                       ON a.band = b.band AND a.bkey = b.bkey
                          AND a.doc_id < b.doc_id),
              sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
              cnt AS (
                SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS c
                FROM sh a JOIN sh b
                  ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                GROUP BY 1, 2),
              pairs AS (
                SELECT a_id, b_id FROM cnt
                JOIN sizes sa ON cnt.a_id = sa.doc_id
                JOIN sizes sb ON cnt.b_id = sb.doc_id
                WHERE c::DOUBLE / (sa.n + sb.n - c) >= 0.8),
              m AS (
                SELECT 2 AS bands,
                       (SELECT count(*) FROM c2) AS n_cand,
                       (SELECT count(*) FROM pairs) AS n_true,
                       (SELECT count(*) FROM c2 JOIN pairs USING (a_id, b_id)) AS tp
                UNION ALL
                SELECT 4,
                       (SELECT count(*) FROM c4),
                       (SELECT count(*) FROM pairs),
                       (SELECT count(*) FROM c4 JOIN pairs USING (a_id, b_id))
                UNION ALL
                SELECT 8,
                       (SELECT count(*) FROM c8),
                       (SELECT count(*) FROM pairs),
                       (SELECT count(*) FROM c8 JOIN pairs USING (a_id, b_id)))
              SELECT CAST(bands AS BIGINT) AS bands, n_cand, n_true, tp,
                     round(tp::DOUBLE / greatest(n_cand, 1), 4) AS prec,
                     round(tp::DOUBLE / greatest(n_true, 1), 4) AS recall
              FROM m ORDER BY bands""")))
}
