package graft.queries

import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.functions.VectorFunctions.cosine_similarity
import graft.similarity.{ProductQuantizer, Similarity}

/** Similarity search over the `embeddings` fixture (dim-64 float vectors):
  * brute-force cosine kNN (the exact baseline), IVF-routed kNN (the scale
  * path), and embedding-cosine near-dup pairs. The DuckDB oracle mirrors
  * the arithmetic with `list_dot_product` — both engines widen float→double
  * and accumulate in array order, so similarities agree bit-for-bit
  * (rounded to 6 decimals for belt-and-braces).
  */
object VectorQueries extends QueryPack {

  /** The probe used by the kNN queries (any fixed corpus row works). */
  private val ProbeId = 42

  /** The probe batch for `vec_knn_batch` (any fixed corpus rows work). */
  private val BatchProbeIds = Seq(7L, 42L, 99L)

  private def probeSql(alias: String): String =
    s"(SELECT embedding AS pv FROM embeddings WHERE vec_id = $ProbeId) $alias"

  /** The planted-clone corpus `vec_near_dup_lsh` (and its eval twin) runs
    * on — the embeddings table plus an exact twin of every even vec_id at
    * id + 100000. ONE definition shared by the query and its oracle
    * generator, so if the planting rule ever changes the corpus-adaptive
    * SRP width ([[Dedup.srpBitsFor]] over this corpus's cardinality)
    * cannot silently diverge between the operator and the oracle's
    * interpolated width.
    */
  private def nearDupLshCorpus(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val base = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    base.unionAll(
      base.filter(col("vec_id") % 2 === 0)
        .select((col("vec_id") + lit(100000L)).as("vec_id"), col("embedding")))
  }

  /** PQ codebook per fixture, memoized: the codebook is a tiny plain
    * value (m·ksub·dsub floats), so the memo pins no Spark state — it
    * just avoids re-running the Lloyd rounds on every query invocation.
    */
  private object SharedPqCodebook {
    private val memo = new SessionMemo[String, ProductQuantizer.Codebook]()
    def apply(s: org.apache.spark.sql.SparkSession, dir: String)
        : ProductQuantizer.Codebook =
      memo(s, dir)(
        ProductQuantizer.fit(graft.Tables.table(s, dir, "embeddings"),
          "vec_id", "embedding", m = 8, ksub = 16, iters = 4, dim = 64))
  }

  /** DuckDB oracle GENERATORS for the learned-constant PQ family
    * ([[graft.queries.Q.oracleGen]]): once the Lloyd fit is done the
    * codebook is plain numbers, so the oracle materializes it — plus
    * the probe's ADC lookup table and the IVF centroids — as literal
    * CTEs and replays the whole search bit-for-bit (the r12
    * `vec_lsh_candidates` move). Numeric conventions, each pinned to
    * the Spark expression it mirrors:
    *
    *  - float → SQL: `Float.toString`/`Double.toString` are shortest
    *    ROUND-TRIP representations, and `CAST('…' AS FLOAT/DOUBLE)` is
    *    correctly-rounded parsing — the literal IS the binary value the
    *    Spark side computed with, no approximation anywhere;
    *  - encode distances: the (x−c)² chain is written out left-assoc in
    *    DOUBLE, the exact op sequence of `aggregate(zip_with(...))` in
    *    [[ProductQuantizer.sqDist]]; argmin ties to the smaller code
    *    via `ORDER BY dd, code` = the struct-min convention;
    *  - ADC estimate: the m LUT lookups sum left-assoc (`reduce(_ + _)`)
    *    and ROUND TO 6 DECIMALS BEFORE ranking, like [[ProductQuantizer
    *    .adcTopK]], so the shortlist cut is ulp-stable across engines;
    *  - cosine routing/assignment (IVF-PQ only): float32 sequential
    *    accumulation via `list_dot_product` on FLOAT[] — the
    *    [[graft.functions.CosineSimilarity]] parity convention every
    *    vec_knn oracle already relies on.
    *
    * Only the FIT stays outside the oracle (ProductQuantizerSpec pins
    * its determinism); everything the query serves with is re-derived
    * by DuckDB from the parquet corpus + the literal constants.
    */
  private object PqOracle {
    private def d(x: Double): String = s"CAST('$x' AS DOUBLE)"
    private def fvec(v: Seq[Float]): String =
      "CAST([" + v.map(x => s"'$x'").mkString(", ") + "] AS FLOAT[])"

    /** m·ksub flat-column codebook rows (sub, code, c1..c_dsub). */
    private def cbCte(cb: ProductQuantizer.Codebook): String = {
      val cols = (1 to cb.dsub).map("c" + _).mkString(", ")
      val rows = for {
        s <- 0 until cb.m
        c <- 0 until cb.ksub
      } yield s"($s, $c, " +
        cb.centroids(s)(c).map(x => d(x.toDouble)).mkString(", ") + ")"
      s"pqcb(sub, code, $cols) AS (VALUES\n  " +
        rows.mkString(",\n  ") + ")"
    }

    /** The probe's m×ksub ADC lookup table, computed with the exact
      * loop of [[ProductQuantizer.adcTopK]] and embedded as literals.
      */
    private def lutCte(cb: ProductQuantizer.Codebook,
        probe: Array[Float]): String = {
      val rows = for {
        s <- 0 until cb.m
        j <- 0 until cb.ksub
      } yield {
        var dd = 0.0
        var i = 0
        while (i < cb.dsub) {
          val diff = probe(s * cb.dsub + i).toDouble -
            cb.centroids(s)(j)(i).toDouble
          dd += diff * diff
          i += 1
        }
        s"($s, $j, ${d(dd)})"
      }
      "lut(sub, code, ld) AS (VALUES\n  " + rows.mkString(",\n  ") + ")"
    }

    /** encode + ADC estimate over `src` (must yield vec_id, embedding):
      * per-subvector squared distances against every codebook cell,
      * argmin code, LUT sum rounded to 6 before any ranking.
      */
    private def encodeCtes(cb: ProductQuantizer.Codebook): String = {
      val chain = (1 to cb.dsub).map { i =>
        val x = s"CAST(v.embedding[cb.sub * ${cb.dsub} + $i] AS DOUBLE)"
        s"($x - cb.c$i) * ($x - cb.c$i)"
      }.mkString("\n                  + ")
      val pivots = (0 until cb.m).map(i =>
        s"max(CASE WHEN c.sub = $i THEN l.ld END) AS l$i").mkString(",\n           ")
      val esum = (0 until cb.m).map("l" + _).mkString(" + ")
      s"""dist AS (
        SELECT v.vec_id, cb.sub, cb.code,
               $chain AS dd
        FROM srcv v CROSS JOIN pqcb cb),
      codes AS (
        SELECT vec_id, sub, code FROM (
          SELECT vec_id, sub, code,
                 row_number() OVER (PARTITION BY vec_id, sub
                                    ORDER BY dd, code) AS rk
          FROM dist) WHERE rk = 1),
      lsum AS (
        SELECT c.vec_id,
           $pivots
        FROM codes c JOIN lut l ON l.sub = c.sub AND l.code = c.code
        GROUP BY c.vec_id),
      est AS (SELECT vec_id, round($esum, 6) AS est_dist FROM lsum)"""
    }

    /** Exact-rerank distance: the dim-length (x−p)² left-assoc chain of
      * [[ProductQuantizer.adcRerank]], probe elements as literals.
      */
    private def rerankExpr(probe: Array[Float]): String =
      probe.indices.map { i =>
        val x = s"CAST(e.embedding[${i + 1}] AS DOUBLE)"
        val p = d(probe(i).toDouble)
        s"($x - $p) * ($x - $p)"
      }.mkString("\n               + ")

    /** Shortlist of `sl` ids by (rounded est, id) from `est`. */
    private def shortCte(name: String, sl: Int): String =
      s"""$name AS (
        SELECT vec_id FROM (
          SELECT vec_id, row_number() OVER (ORDER BY est_dist, vec_id) AS rk
          FROM est) WHERE rk <= $sl)"""

    /** `vec_pq_adc`: full-corpus encode, ADC top-50 shortlist, exact
      * rerank to top-10 — (id, dist).
      */
    def adcSql(s: org.apache.spark.sql.SparkSession, dir: String): String = {
      val cb = SharedPqCodebook(s, dir)
      val probe = SharedProbe(s, dir, ProbeId).toArray
      s"""WITH ${cbCte(cb)},
      ${lutCte(cb, probe)},
      srcv AS (SELECT vec_id, embedding FROM embeddings),
      ${encodeCtes(cb)},
      ${shortCte("short", 50)},
      rer AS (
        SELECT e.vec_id AS id,
               round(${rerankExpr(probe)}, 6) AS dist
        FROM embeddings e JOIN short s ON e.vec_id = s.vec_id)
      SELECT id, dist FROM (
        SELECT id, dist, row_number() OVER (ORDER BY dist, id) AS rk FROM rer)
      WHERE rk <= 10 ORDER BY dist, id"""
    }

    /** `vec_pq_recall`: recall@10 of the two-stage search vs the exact
      * L2 top-10, at the same literal shortlist depths the Spark side
      * sweeps — (shortlist, hits, recall).
      */
    def recallSql(s: org.apache.spark.sql.SparkSession, dir: String)
        : String = {
      val cb = SharedPqCodebook(s, dir)
      val probe = SharedProbe(s, dir, ProbeId).toArray
      val nAll = graft.Tables.table(s, dir, "embeddings").count().toInt
      val depths = Seq(10, 25, 50).filter(_ < nAll)
      val branches = depths.map { sl =>
        s"""${shortCte(s"sh$sl", sl)},
      top$sl AS (
        SELECT id FROM (
          SELECT r.id, row_number() OVER (ORDER BY r.dist, r.id) AS rk
          FROM rer r JOIN sh$sl s ON r.id = s.vec_id) WHERE rk <= 10),
      row$sl AS (
        SELECT CAST($sl AS BIGINT) AS shortlist, count(*) AS hits
        FROM top$sl JOIN truth USING (id))"""
      }
      val unions = (depths.map(sl => s"SELECT * FROM row$sl") :+
        s"SELECT CAST($nAll AS BIGINT) AS shortlist, count(*) AS hits FROM truth")
        .mkString("\n        UNION ALL ")
      s"""WITH ${cbCte(cb)},
      ${lutCte(cb, probe)},
      srcv AS (SELECT vec_id, embedding FROM embeddings),
      ${encodeCtes(cb)},
      rer AS (
        SELECT e.vec_id AS id,
               round(${rerankExpr(probe)}, 6) AS dist
        FROM embeddings e),
      truth AS (
        SELECT id FROM (
          SELECT id, row_number() OVER (ORDER BY dist, id) AS rk FROM rer)
        WHERE rk <= 10),
      ${branches.mkString(",\n      ")}
      SELECT shortlist, CAST(hits AS BIGINT) AS hits,
             round(hits / 10.0, 2) AS recall
      FROM ($unions)
      ORDER BY shortlist"""
    }

    /** `vec_pca_project`: the fitted PCA basis (means + 2 components —
      * driver-side eigen work, deterministic) embeds as literals and
      * DuckDB replays the PROJECTION: x·v − μ·v with the same float32
      * `list_dot_product` accumulation as the codegen'd DotProduct
      * expression (v is cast to float exactly like the Spark literal),
      * μ·v precomputed to the identical double.
      */
    def pcaSql(s: org.apache.spark.sql.SparkSession, dir: String): String = {
      val model = graft.similarity.Pca.fit(
        graft.Tables.table(s, dir, "embeddings"), "embedding",
        dim = 64, k = 2)
      def proj(i: Int): String = {
        val v = model.components(i)
        val vLit = fvec(v.map(_.toFloat))
        val muDotV = model.mu.zip(v).map { case (a, b) => a * b }.sum
        s"round(CAST(list_dot_product(embedding, $vLit) AS DOUBLE)" +
          s" - ${d(muDotV)}, 4)"
      }
      s"""SELECT vec_id, label,
             ${proj(0)} AS pc1,
             ${proj(1)} AS pc2
      FROM embeddings ORDER BY vec_id"""
    }

    /** `vec_knn_ivf_pq`: cosine-route the probe to nprobe=2 literal
      * centroids, re-derive every vector's centroid assignment, ADC
      * over the routed subset only, exact rerank to top-10.
      */
    def ivfPqSql(s: org.apache.spark.sql.SparkSession, dir: String)
        : String = {
      val cb = SharedPqCodebook(s, dir)
      val probe = SharedProbe(s, dir, ProbeId).toArray
      val cents = SharedIvfIndex(s, dir).centroids
      val centRows = cents.map { case (cid, v) => s"($cid, ${fvec(v)})" }
      def cosine(a: String, b: String): String =
        s"list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a))" +
          s" * sqrt(list_dot_product($b, $b)))"
      s"""WITH ${cbCte(cb)},
      ${lutCte(cb, probe)},
      cents(cid, cvec) AS (VALUES
        ${centRows.mkString(",\n        ")}),
      probe AS (SELECT embedding AS pv FROM embeddings
                WHERE vec_id = $ProbeId),
      routed AS (
        SELECT cid FROM (
          SELECT c.cid, ${cosine("c.cvec", "p.pv")} AS sim
          FROM cents c, probe p)
        ORDER BY sim DESC, cid LIMIT 2),
      asg AS (
        SELECT vec_id FROM (
          SELECT e.vec_id, c.cid,
                 row_number() OVER (PARTITION BY e.vec_id ORDER BY
                   ${cosine("e.embedding", "c.cvec")} DESC, c.cid) AS rk
          FROM embeddings e CROSS JOIN cents c) x
        WHERE rk = 1 AND cid IN (SELECT cid FROM routed)),
      srcv AS (
        SELECT e.vec_id, e.embedding
        FROM embeddings e JOIN asg a ON e.vec_id = a.vec_id),
      ${encodeCtes(cb)},
      ${shortCte("short", 50)},
      rer AS (
        SELECT e.vec_id AS id,
               round(${rerankExpr(probe)}, 6) AS dist
        FROM srcv e JOIN short s ON e.vec_id = s.vec_id)
      SELECT id, dist FROM (
        SELECT id, dist, row_number() OVER (ORDER BY dist, id) AS rk FROM rer)
      WHERE rk <= 10 ORDER BY dist, id"""
    }
  }

  /** Probe vectors per (fixture, id), memoized: fetching a probe is one
    * driver-side `.head()` job against the corpus; four queries used to
    * fire it independently per invocation. One fetch per fixture row now
    * serves them all (tiny plain value — dim floats — no Spark state).
    */
  private object SharedProbe {
    private val memo = new SessionMemo[(String, Long), Seq[Float]]()
    def apply(s: org.apache.spark.sql.SparkSession, dir: String, id: Long)
        : Seq[Float] =
      memo(s, (dir, id))(
        graft.Tables.table(s, dir, "embeddings")
          .filter(col("vec_id") === id).select(col("embedding"))
          .head().getSeq[Float](0))
  }

  /** The learned IVF index per fixture: spherical-KMeans centroids plus
    * the corpus labeled and WRITTEN `partitionBy(centroid_id)` — the
    * one-time "index build" a 100 TB deployment runs once and amortizes
    * over every probe. Memoized so Verify/bench pay the build a single
    * time per fixture; the memo holds only the centroids and the root
    * path, so evicting it deletes nothing — the root is a durable
    * artifact that later JVMs reuse.
    */
  private[graft] object SharedIvfIndex {
    final case class Index(centroids: Seq[(Int, Seq[Float])], path: String)
    private val memo = new SessionMemo[String, Index]()
    val K = 8
    // balance bound: a bucket may hold at most 4× the mean (N/K) rows
    // before the index build splits its centroid (Similarity
    // .balancedCentroids); on the uniform fixture nothing splits, so the
    // centroid count stays K and every oracle is unchanged
    val MaxBucketFactor = 4L

    /** Deterministic fixture-derived index root (was a fresh
      * `createTempDirectory` per JVM): Verify and Bench used to rebuild
      * the KMeans fit + partitioned write every process, and a crashed
      * JVM leaked its directory. The build is written ONCE under a path
      * derived from the fixture dir and reused by every later JVM. The
      * `_BUILT` marker now stores a CONTENT fingerprint of the
      * embeddings table (sizes/mtimes), so a fixture regenerated at the
      * same path rebuilds instead of silently reusing a stale index; the
      * build itself is atomic (temp sibling + rename) and file-locked
      * against concurrent JVMs — see [[graft.operators.Artifacts]].
      * This is the 100 TB operational shape: an IVF index is a durable
      * artifact next to the corpus, not per-process scratch.
      */
    private[graft] def indexRoot(dir: String): java.nio.file.Path =
      graft.operators.Artifacts.fixtureRoot(dir, "ivf", s"_k$K")

    def apply(s: org.apache.spark.sql.SparkSession, dir: String): Index =
      memo(s, dir) {
        val root = indexRoot(dir)
        // fingerprint = source data + BUILD PARAMETERS: changing K (or
        // the fit settings) must rebuild, not silently reuse a layout
        // whose partition count disagrees with the new constants
        val fp = graft.operators.Artifacts.tableFingerprint(dir, "embeddings") +
          s"|k=$K|iters=3|dim=64|bal=$MaxBucketFactor|cols=vl"
        graft.operators.Artifacts.ensureBuilt(root, fp) { tmp =>
          val embs = graft.Tables.table(s, dir, "embeddings")
          val cents0 = graft.similarity.KMeans.fit(
            embs, "vec_id", "embedding", k = K, iters = 3, dim = 64)
          // hot-partition balance (ANN analog of join skew): split any
          // centroid whose bucket exceeds MaxBucketFactor× the mean
          // bucket size, so no single partition serves most probes
          val maxRows = math.max(1L, MaxBucketFactor * embs.count() / K)
          val cents = Similarity.balancedCentroids(embs, "vec_id",
            "embedding", cents0, "cid", "cvec", maxRows, dim = 64)
          cents.coalesce(1).write.mode("overwrite")
            .parquet(tmp.resolve("centroids").toString)
          // keepCols carries the filterable metadata into the layout in
          // the same zero-shuffle assignment projection: a serving index
          // that cannot answer "nearest WHERE label = x" forces a corpus
          // join per probe (vec_knn_ivf_filtered reads this)
          Similarity.assignToCentroids(embs, "vec_id", "embedding",
              cents, "cid", "cvec", keepCols = Seq("label"))
            .write.partitionBy("centroid_id").mode("overwrite")
            .parquet(tmp.resolve("corpus").toString)
        }
        val centroids = s.read.parquet(root.resolve("centroids").toString)
          .collect()
          .map(r => (r.getInt(0), r.getSeq[Float](1))).toSeq.sortBy(_._1)
        Index(centroids, root.resolve("corpus").toString)
      }
  }

  /** PQ codes of the IVF-partitioned corpus, materialized ONCE per
    * fixture `partitionBy(centroid_id)` — the second half of the
    * IVF-PQ layout every billion-vector deployment uses: routing prunes
    * to `nprobe` partition directories, and within them the scan reads
    * only the m-byte codes column instead of the raw vectors. Encode is
    * a zero-shuffle literal-codebook projection over the already-built
    * IVF corpus; the artifact is fingerprint-gated and atomic like the
    * index itself ([[graft.operators.Artifacts]]).
    */
  private object SharedIvfPqCodes {
    private val memo = new SessionMemo[String, String]()
    def apply(s: org.apache.spark.sql.SparkSession, dir: String): String =
      memo(s, dir) {
        val ix = SharedIvfIndex(s, dir)
        val cb = SharedPqCodebook(s, dir)
        val root = graft.operators.Artifacts.fixtureRoot(dir, "ivfpq")
        val fp = graft.operators.Artifacts.tableFingerprint(dir, "embeddings") +
          s"|ivfk=${SharedIvfIndex.K}|m=${cb.m}|ksub=${cb.ksub}|iters=4"
        graft.operators.Artifacts.ensureBuilt(root, fp) { tmp =>
          ProductQuantizer.encode(s.read.parquet(ix.path),
              "vec_id", "embedding", cb, keepCols = Seq("centroid_id"))
            .write.partitionBy("centroid_id").mode("overwrite")
            .parquet(tmp.resolve("codes").toString)
        }
        root.resolve("codes").toString
      }
  }

  /** The INCREMENTALLY MAINTAINED twin of [[SharedIvfIndex]] behind
    * `vec_index_append`: the index is built on only the base 90% of the
    * corpus (vec_id % 10 < 9), then the remaining 10% arrives as an
    * ingest batch through [[graft.similarity.IvfMaintenance.append]] —
    * assigned to the EXISTING centroids (no re-fit, no corpus rescan)
    * and parquet-appended under the partition directories, with the
    * bucket-stats sidecar merged incrementally. Serving reads the
    * resulting layout exactly like the rebuilt index would be read;
    * at nprobe = ALL the search is provably brute force over
    * base ∪ appended = the full table, which is what lets the same
    * exact-kNN SQL oracle the whole append pipeline
    * (fit → partition → append → route → scan). Build is
    * fingerprint-gated and atomic like the primary index.
    */
  private[graft] object SharedIvfAppendIndex {
    final case class Index(centroids: Seq[(Int, Seq[Float])], path: String)
    private val memo = new SessionMemo[String, Index]()

    private def root(dir: String): java.nio.file.Path =
      graft.operators.Artifacts.fixtureRoot(dir, "ivfapp", s"_k${SharedIvfIndex.K}")

    def apply(s: org.apache.spark.sql.SparkSession, dir: String): Index =
      memo(s, dir) {
        val r = root(dir)
        val fp = graft.operators.Artifacts.tableFingerprint(dir, "embeddings") +
          s"|k=${SharedIvfIndex.K}|iters=3|dim=64" +
          s"|bal=${SharedIvfIndex.MaxBucketFactor}|split=mod10"
        graft.operators.Artifacts.ensureBuilt(r, fp) { tmp =>
          val embs = graft.Tables.table(s, dir, "embeddings")
          val base = embs.filter(col("vec_id") % 10 < 9)
          val inc = embs.filter(col("vec_id") % 10 >= 9)
          val cents0 = graft.similarity.KMeans.fit(
            base, "vec_id", "embedding", k = SharedIvfIndex.K, iters = 3, dim = 64)
          val maxRows = math.max(1L,
            SharedIvfIndex.MaxBucketFactor * base.count() / SharedIvfIndex.K)
          val cents = Similarity.balancedCentroids(base, "vec_id",
            "embedding", cents0, "cid", "cvec", maxRows, dim = 64)
          cents.coalesce(1).write.mode("overwrite")
            .parquet(tmp.resolve("centroids").toString)
          val corpusPath = tmp.resolve("corpus").toString
          val assignedBase = Similarity.assignToCentroids(base, "vec_id",
            "embedding", cents, "cid", "cvec")
          assignedBase.write.partitionBy("centroid_id").mode("overwrite")
            .parquet(corpusPath)
          graft.similarity.IvfMaintenance.initStats(corpusPath, assignedBase)
          graft.similarity.IvfMaintenance.append(inc, "vec_id", "embedding",
            cents, "cid", "cvec", corpusPath,
            SharedIvfIndex.MaxBucketFactor)
        }
        val centroids = s.read.parquet(r.resolve("centroids").toString)
          .collect()
          .map(row => (row.getInt(0), row.getSeq[Float](1))).toSeq.sortBy(_._1)
        Index(centroids, r.resolve("corpus").toString)
      }
  }

  /** kNN through the learned-centroid IVF index ([[SharedIvfIndex]]):
    * route the probe on the k-row centroid table, then scan only the
    * `nprobe` matching partition directories of the materialized corpus —
    * the filter is a literal `centroid_id IN (…)`, so pruning is STATIC
    * (shows under `PartitionFilters`, asserted in PlanShapeSpec). Shared
    * by the oracled query (nprobe = K ⇒ provably brute force) and the
    * pruning plan assert (nprobe = 2).
    */
  private[graft] def ivfLearnedKnn(s: org.apache.spark.sql.SparkSession,
      dir: String, k: Int, nprobe: Int,
      pred: Option[org.apache.spark.sql.Column] = None)
      : org.apache.spark.sql.DataFrame = {
    val ix = SharedIvfIndex(s, dir)
    val centroids = s.createDataFrame(ix.centroids).toDF("cid", "cvec")
    // nprobe ≤ 0 ⇒ probe EVERY centroid (the brute-force-parity config) —
    // expressed against the actual centroid count, which can exceed K
    // when the balance pass split a hot bucket
    val np = if (nprobe <= 0) ix.centroids.length else nprobe
    // pred = the serving-time metadata predicate (filtered ANN); it lands
    // as a pushed parquet filter composed with the partition pruning
    val corpus = pred.foldLeft(s.read.parquet(ix.path))(_.filter(_))
    Similarity.ivfKnnPruned(corpus, "vec_id", "embedding",
      centroids, "cid", "cvec", typedLit(SharedProbe(s, dir, ProbeId)),
      k, np)
  }

  override val queries: Seq[Q] = Seq(

    // Exact top-10 cosine neighbors of one probe vector: one corpus pass,
    // codegen'd cosine, TakeOrderedAndProject top-k — zero shuffle.
    // RANGE (radius) search — the non-top-k retrieval contract: ALL
    // vectors within a similarity radius, however many there are (dedup
    // thresholds, recall-critical filters). Same single-scan shape as
    // vec_knn but the selection is a pushed filter on the ROUNDED
    // similarity (both engines compare the identical 6-dp double), not
    // a heap — result size is data-dependent by design, zero shuffle.
    Q("vec_range",
      (s, dir) => {
        val probeCol = typedLit(SharedProbe(s, dir, ProbeId))
        t(s, dir, "embeddings")
          .select(col("vec_id"),
            round(cosine_similarity(col("embedding"), probeCol), 6).as("sim"))
          .filter(col("sim") >= 0.3)
          .orderBy(col("sim").desc, col("vec_id"))
      },
      Some(s"""WITH sims AS (
                 SELECT vec_id,
                        round(list_dot_product(embedding, pv)
                              / (sqrt(list_dot_product(embedding, embedding))
                                 * sqrt(list_dot_product(pv, pv))), 6) AS sim
                 FROM embeddings, ${probeSql("p")})
               SELECT vec_id, sim FROM sims WHERE sim >= 0.3
               ORDER BY sim DESC, vec_id""")),

    Q("vec_knn",
      (s, dir) => {
        val embs = t(s, dir, "embeddings")
        val probeCol = typedLit(SharedProbe(s, dir, ProbeId))
        Similarity.bruteForceKnn(embs, "vec_id", "embedding", probeCol, 10)
          .select(col("vec_id"), round(col("sim"), 6).as("sim"))
          .orderBy(col("sim").desc, col("vec_id"))
      },
      Some(s"""SELECT vec_id,
                      round(list_dot_product(embedding, pv)
                            / (sqrt(list_dot_product(embedding, embedding))
                               * sqrt(list_dot_product(pv, pv))), 6) AS sim
               FROM embeddings, ${probeSql("p")}
               ORDER BY list_dot_product(embedding, pv)
                        / (sqrt(list_dot_product(embedding, embedding))
                           * sqrt(list_dot_product(pv, pv))) DESC, vec_id
               LIMIT 10""")),

    // FILTERED ANN — top-k under a metadata predicate ("nearest vectors
    // WHERE label = 3"), the serving pattern real vector stores struggle
    // with (post-filtering an unfiltered top-k under-returns; Spark's
    // relational form just pushes the predicate INTO the scan before the
    // top-k heap — the pre-filtering strategy, exact by construction).
    // Plan: pruned scan (PushedFilters on label) → cosine projection →
    // TakeOrderedAndProject. Zero shuffle, and the filter does strictly
    // less work than the unfiltered query — the selectivity is free.
    Q("vec_knn_filtered",
      (s, dir) => {
        val embs = t(s, dir, "embeddings").filter(col("label") === 3)
        val probeCol = typedLit(SharedProbe(s, dir, ProbeId))
        Similarity.bruteForceKnn(embs, "vec_id", "embedding", probeCol, 10)
          .select(col("vec_id"), round(col("sim"), 6).as("sim"))
          .orderBy(col("sim").desc, col("vec_id"))
      },
      Some(s"""SELECT vec_id,
                      round(list_dot_product(embedding, pv)
                            / (sqrt(list_dot_product(embedding, embedding))
                               * sqrt(list_dot_product(pv, pv))), 6) AS sim
               FROM embeddings, ${probeSql("p")}
               WHERE label = 3
               ORDER BY list_dot_product(embedding, pv)
                        / (sqrt(list_dot_product(embedding, embedding))
                           * sqrt(list_dot_product(pv, pv))) DESC, vec_id
               LIMIT 10""")),

    // FILTERED ANN on the ROUTED layout — the two pruning dimensions
    // composed in one scan: the learned index's partition pruning
    // (PartitionFilters on centroid_id) AND the metadata predicate
    // pushed to parquet (PushedFilters on label, which the layout
    // carries precisely so serving never joins back to the corpus).
    // Oracled at nprobe=ALL (≡ filtered brute force); the plan assertion
    // pins both filter kinds appearing in the one routed scan.
    Q("vec_knn_ivf_filtered",
      (s, dir) => ivfLearnedKnn(s, dir, k = 10, nprobe = 0,
          pred = Some(col("label") === 3)) // 0 ⇒ all (parity with oracle)
        .select(col("vec_id"), round(col("sim"), 6).as("sim"))
        .orderBy(col("sim").desc, col("vec_id")),
      Some(s"""SELECT vec_id,
                      round(list_dot_product(embedding, pv)
                            / (sqrt(list_dot_product(embedding, embedding))
                               * sqrt(list_dot_product(pv, pv))), 6) AS sim
               FROM embeddings, ${probeSql("p")}
               WHERE label = 3
               ORDER BY list_dot_product(embedding, pv)
                        / (sqrt(list_dot_product(embedding, embedding))
                           * sqrt(list_dot_product(pv, pv))) DESC, vec_id
               LIMIT 10""")),

    // IVF path: centroids = first 8 corpus vectors; every vector routes to
    // its argmax-cosine centroid; the probe scans only its centroid's
    // bucket. At 100 TB the corpus is written PARTITIONED BY centroid_id
    // and this becomes partition pruning.
    Q("vec_knn_ivf",
      (s, dir) => {
        val embs = t(s, dir, "embeddings")
        val centroids = embs.filter(col("vec_id") < 8)
          .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
        val probeCol = typedLit(SharedProbe(s, dir, ProbeId))
        val assigned = Similarity.assignToCentroids(
          embs, "vec_id", "embedding", centroids, "cid", "cvec")
        Similarity.ivfKnn(assigned, "vec_id", "embedding",
            centroids, "cid", "cvec", probeCol, 5)
          .select(col("vec_id"), round(col("sim"), 6).as("sim"))
          .orderBy(col("sim").desc, col("vec_id"))
      },
      Some(s"""WITH cents AS (
                 SELECT vec_id AS cid, embedding AS cvec
                 FROM embeddings WHERE vec_id < 8),
               assigned AS (
                 SELECT vec_id, embedding, cid FROM (
                   SELECT e.vec_id, e.embedding, c.cid,
                          row_number() OVER (PARTITION BY e.vec_id
                            ORDER BY list_dot_product(e.embedding, c.cvec)
                                     / (sqrt(list_dot_product(e.embedding, e.embedding))
                                        * sqrt(list_dot_product(c.cvec, c.cvec))) DESC,
                                     c.cid) AS rn
                   FROM embeddings e, cents c)
                 WHERE rn = 1),
               probe_cent AS (
                 SELECT cid FROM cents, ${probeSql("p")}
                 ORDER BY list_dot_product(cvec, pv)
                          / (sqrt(list_dot_product(cvec, cvec))
                             * sqrt(list_dot_product(pv, pv))) DESC, cid
                 LIMIT 1)
               SELECT a.vec_id,
                      round(list_dot_product(a.embedding, pv)
                            / (sqrt(list_dot_product(a.embedding, a.embedding))
                               * sqrt(list_dot_product(pv, pv))), 6) AS sim
               FROM assigned a, probe_cent pc, ${probeSql("p")}
               WHERE a.cid = pc.cid
               ORDER BY list_dot_product(a.embedding, pv)
                        / (sqrt(list_dot_product(a.embedding, a.embedding))
                           * sqrt(list_dot_product(pv, pv))) DESC, a.vec_id
               LIMIT 5""")),

    // IVF with nprobe=2: the recall/latency dial — scan the two nearest
    // centroids' buckets instead of one. At 100 TB this is reading 2/k of
    // the corpus via partition pruning.
    Q("vec_knn_ivf_probe2",
      (s, dir) => {
        val embs = t(s, dir, "embeddings")
        val centroids = embs.filter(col("vec_id") < 8)
          .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
        val probeCol = typedLit(SharedProbe(s, dir, ProbeId))
        val assigned = Similarity.assignToCentroids(
          embs, "vec_id", "embedding", centroids, "cid", "cvec")
        Similarity.ivfKnn(assigned, "vec_id", "embedding",
            centroids, "cid", "cvec", probeCol, 5, nprobe = 2)
          .select(col("vec_id"), round(col("sim"), 6).as("sim"))
          .orderBy(col("sim").desc, col("vec_id"))
      },
      Some(s"""WITH cents AS (
                 SELECT vec_id AS cid, embedding AS cvec
                 FROM embeddings WHERE vec_id < 8),
               assigned AS (
                 SELECT vec_id, embedding, cid FROM (
                   SELECT e.vec_id, e.embedding, c.cid,
                          row_number() OVER (PARTITION BY e.vec_id
                            ORDER BY list_dot_product(e.embedding, c.cvec)
                                     / (sqrt(list_dot_product(e.embedding, e.embedding))
                                        * sqrt(list_dot_product(c.cvec, c.cvec))) DESC,
                                     c.cid) AS rn
                   FROM embeddings e, cents c)
                 WHERE rn = 1),
               probe_cent AS (
                 SELECT cid FROM cents, ${probeSql("p")}
                 ORDER BY list_dot_product(cvec, pv)
                          / (sqrt(list_dot_product(cvec, cvec))
                             * sqrt(list_dot_product(pv, pv))) DESC, cid
                 LIMIT 2)
               SELECT a.vec_id,
                      round(list_dot_product(a.embedding, pv)
                            / (sqrt(list_dot_product(a.embedding, a.embedding))
                               * sqrt(list_dot_product(pv, pv))), 6) AS sim
               FROM assigned a, ${probeSql("p")}
               WHERE a.cid IN (SELECT cid FROM probe_cent)
               ORDER BY list_dot_product(a.embedding, pv)
                        / (sqrt(list_dot_product(a.embedding, a.embedding))
                           * sqrt(list_dot_product(pv, pv))) DESC, a.vec_id
               LIMIT 5""")),

    // The flagship IVF shape: LEARNED spherical-KMeans centroids, corpus
    // materialized partitionBy(centroid_id) once, probes routed with a
    // literal centroid_id IN (…) predicate ⇒ STATIC parquet partition
    // pruning (PartitionFilters, asserted in PlanShapeSpec at nprobe=2) —
    // at 100 TB a probe lists and reads nprobe/k of the data before a
    // single row deserializes. Oracled at nprobe = k, where IVF reads
    // every partition and is PROVABLY identical to brute force — so the
    // exact-kNN SQL is the oracle for the whole learned pipeline
    // (fit → label → partition → route → scan).
    Q("vec_knn_ivf_learned",
      (s, dir) => ivfLearnedKnn(s, dir, k = 10, nprobe = 0) // 0 ⇒ all (parity)
        .select(col("vec_id"), round(col("sim"), 6).as("sim"))
        .orderBy(col("sim").desc, col("vec_id")),
      Some(s"""SELECT vec_id,
                      round(list_dot_product(embedding, pv)
                            / (sqrt(list_dot_product(embedding, embedding))
                               * sqrt(list_dot_product(pv, pv))), 6) AS sim
               FROM embeddings, ${probeSql("p")}
               ORDER BY list_dot_product(embedding, pv)
                        / (sqrt(list_dot_product(embedding, embedding))
                           * sqrt(list_dot_product(pv, pv))) DESC, vec_id
               LIMIT 10""")),

    // Batch-probe kNN: N probes as a BROADCAST table against ONE corpus
    // pass (vs. one driver .head() + full scan per probe), with per-probe
    // top-k as a mergeable bounded aggregation (TopKAggregator) — the
    // shuffle carries ≤ partitions × probes × k rows, never the corpus.
    Q("vec_knn_batch",
      (s, dir) => {
        val embs = t(s, dir, "embeddings")
        val probes = embs.filter(col("vec_id").isin(BatchProbeIds: _*))
          .select(col("vec_id").as("probe_id"), col("embedding").as("pvec"))
        val topk = udaf(new graft.functions.TopKAggregator(5),
          org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[graft.functions.ScoredId]())
        embs.crossJoin(broadcast(probes))
          .groupBy("probe_id")
          .agg(topk(cosine_similarity(col("embedding"), col("pvec")),
            col("vec_id")).as("tk"))
          .select(col("probe_id"), posexplode(col("tk")))
          .select(col("probe_id"), (col("pos") + 1).cast("long").as("rk"),
            col("col.id").as("vec_id"), round(col("col.sim"), 6).as("sim"))
          .orderBy("probe_id", "rk")
      },
      Some(s"""WITH probes AS (
                 SELECT vec_id AS probe_id, embedding AS pvec
                 FROM embeddings WHERE vec_id IN (${BatchProbeIds.mkString(", ")})),
               scored AS (
                 SELECT p.probe_id, e.vec_id,
                        list_dot_product(e.embedding, p.pvec)
                          / (sqrt(list_dot_product(e.embedding, e.embedding))
                             * sqrt(list_dot_product(p.pvec, p.pvec))) AS s
                 FROM embeddings e, probes p)
               SELECT probe_id, rk, vec_id, round(s, 6) AS sim
               FROM (SELECT probe_id, vec_id, s,
                            row_number() OVER (PARTITION BY probe_id
                              ORDER BY s DESC, vec_id) AS rk
                     FROM scored)
               WHERE rk <= 5
               ORDER BY probe_id, rk""")),

    // Multi-table SRP-LSH candidate generation (the sub-linear ANN
    // candidate path; exact verify happens on the candidates only).
    // Hyperplanes are seeded-deterministic but not SQL-mirrorable →
    // rows-only driver check + the determinism/recall ScalaTests.
    // ORACLED since r12: the SRP hyperplanes derive from the md5-bucket
    // convention and each bucket bit is the sign of an EXACT micro-long
    // projection Σ round(x·1e6)·(±1), so DuckDB regenerates planes,
    // buckets, and the candidate join bit-for-bit (previously rows-only
    // — the planes came from a JVM PRNG no other engine could replay).
    Q("vec_lsh_candidates",
      (s, dir) => Similarity.srpCandidates(
          t(s, dir, "embeddings"), "vec_id", "embedding",
          bitsPerTable = 8, tables = 4, dim = 64)
        .orderBy("a_id", "b_id"),
      Some("""WITH planes AS (
                SELECT t.t AS tbl, p.p AS p, d.d AS d,
                       CASE WHEN (('0x' || substr(md5('srp|' || (42 + t.t)
                                    || '|' || p.p || '|' || d.d), 1, 8))::BIGINT
                                  % 1000000) < 500000
                            THEN 1 ELSE -1 END AS s
                FROM range(0, 4) t(t), range(0, 8) p(p), range(0, 64) d(d)),
              q AS (
                SELECT vec_id, i - 1 AS d,
                       CAST(round(CAST(x AS DOUBLE) * 1e6, 0) AS BIGINT) AS qx
                FROM (SELECT vec_id,
                             generate_subscripts(embedding, 1) AS i,
                             unnest(embedding) AS x
                      FROM embeddings)),
              proj AS (
                SELECT q.vec_id, pl.tbl, pl.p, sum(q.qx * pl.s) AS dp
                FROM q JOIN planes pl ON pl.d = q.d
                GROUP BY 1, 2, 3),
              buckets AS (
                SELECT vec_id, tbl,
                       string_agg(CASE WHEN dp >= 0 THEN '1' ELSE '0' END,
                                  '' ORDER BY p) AS bucket
                FROM proj GROUP BY vec_id, tbl)
              SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
              FROM buckets a JOIN buckets b
                ON a.tbl = b.tbl AND a.bucket = b.bucket
                   AND a.vec_id < b.vec_id
              ORDER BY a_id, b_id""")),

    // Symmetric int8 quantization of the embedding column (127/max|x|
    // scale) — the 4× memory/IO cut a 100 TB vector corpus takes before
    // ANN. Pure narrow projection, zero shuffle; exploded to
    // (vec_id, dim_idx, q) for the oracle. Both engines widen float →
    // double, compute the same scale, and use round-half-away-from-zero.
    Q("vec_quantize",
      (s, dir) => t(s, dir, "embeddings")
        .withColumn("mx",
          array_max(expr("transform(embedding, x -> abs(x))")).cast("double"))
        .withColumn("scale",
          when(col("mx") === 0.0, 0.0).otherwise(lit(127.0) / col("mx")))
        .select(col("vec_id"), col("scale"),
          posexplode(col("embedding")).as(Seq("dim_idx", "x")))
        .select(col("vec_id"), col("dim_idx").cast("long").as("dim_idx"),
          round(col("x").cast("double") * col("scale")).cast("long").as("q"))
        .orderBy("vec_id", "dim_idx"),
      Some("""SELECT vec_id, i - 1 AS dim_idx,
                     CAST(round(x * CASE WHEN mx = 0 THEN 0
                                         ELSE 127.0 / mx END) AS BIGINT) AS q
              FROM (SELECT vec_id, generate_subscripts(embedding, 1) AS i,
                           unnest(embedding) AS x,
                           list_max(list_transform(embedding, y -> abs(y)))::DOUBLE AS mx
                    FROM embeddings)
              ORDER BY vec_id, dim_idx""")),

    // Embedding-cosine near-dup pairs: exact blocked triangle join —
    // hash-partitioned equi-join on block-pair keys, no broadcast
    // nested-loop, work spread evenly over B(B+1)/2 reducers.
    Q("vec_near_dup",
      (s, dir) => Dedup.embeddingPairs(t(s, dir, "embeddings"), "vec_id", "embedding",
          minCos = 0.45)
        .select(col("a_id"), col("b_id"), round(col("cos"), 6).as("cos"))
        .orderBy("a_id", "b_id"),
      Some("""SELECT a.vec_id AS a_id, b.vec_id AS b_id,
                     round(list_dot_product(a.embedding, b.embedding)
                           / (sqrt(list_dot_product(a.embedding, a.embedding))
                              * sqrt(list_dot_product(b.embedding, b.embedding))), 6) AS cos
              FROM embeddings a, embeddings b
              WHERE a.vec_id < b.vec_id
                AND list_dot_product(a.embedding, b.embedding)
                    / (sqrt(list_dot_product(a.embedding, a.embedding))
                       * sqrt(list_dot_product(b.embedding, b.embedding))) >= 0.45
              ORDER BY a_id, b_id""")),

    // Embedding near-dup via SRP-LSH candidates → exact cosine verify —
    // the SUB-QUADRATIC near-dup path. [[Dedup.embeddingPairs]] (the
    // vec_near_dup operator above) is exact all-pairs BY DECLARATION:
    // its cost is C(n,2) however cleverly blocked — the honest exact
    // baseline at moderate thresholds (its scaladoc derives why LSH
    // cannot beat n²/2 at cos ≈ 0.45) but the wrong instrument for TRUE
    // near-dup thresholds, where a few SRP tables give near-total recall
    // at candidate volume ≪ n²/2: candidates shuffle on (table, bucket)
    // keys, verify joins vectors back by id — corpus-linear + output.
    // The fixture's embeddings carry no pair above cos 0.7 (near-dup is
    // a clone-regime operator), so the query plants its own clone
    // structure deterministically: every even vec_id gets an exact twin
    // at id + 100000 — identical vectors agree on every SRP sign bit, so
    // each twin pair collides in all 4 tables and recall is CERTAIN,
    // while the base pairs at cos ≈ 0.45 that leak into the candidate
    // set must be rejected by the exact verify (the filter the oracle
    // replays). Same SRP convention as vec_lsh_candidates (md5-derived
    // hyperplane signs, exact micro-long projections), so DuckDB
    // regenerates planes, buckets, candidates, and the verify
    // bit-for-bit.
    Q("vec_near_dup_lsh",
      (s, dir) => {
        Dedup.embeddingPairsViaCandidates(nearDupLshCorpus(s, dir),
            "vec_id", "embedding",
            minCos = 0.999, dim = 64, bitsPerTable = 8, tables = 4)
          .select(col("a_id"), col("b_id"), round(col("cos"), 6).as("cos"))
          .orderBy("a_id", "b_id")
      },
      None,
      // the SRP width is corpus-adaptive (Dedup.srpBitsFor over a counted
      // probe — the anti-saturation dial), so the oracle interpolates the
      // same width at dump time, counting THE SAME corpus frame the query
      // runs on (nearDupLshCorpus — shared helper, no drift possible);
      // everything else is static SQL
      oracleGen = Some { (s, dir) =>
        val n = nearDupLshCorpus(s, dir).count()
        val bits = Dedup.srpBitsFor(n, 8)
        s"""WITH corpus AS (
                SELECT vec_id, embedding FROM embeddings
                UNION ALL
                SELECT vec_id + 100000 AS vec_id, embedding
                FROM embeddings WHERE vec_id % 2 = 0),
              planes AS (
                SELECT t.t AS tbl, p.p AS p, d.d AS d,
                       CASE WHEN (('0x' || substr(md5('srp|' || (42 + t.t)
                                    || '|' || p.p || '|' || d.d), 1, 8))::BIGINT
                                  % 1000000) < 500000
                            THEN 1 ELSE -1 END AS s
                FROM range(0, 4) t(t), range(0, $bits) p(p), range(0, 64) d(d)),
              q AS (
                SELECT vec_id, i - 1 AS d,
                       CAST(round(CAST(x AS DOUBLE) * 1e6, 0) AS BIGINT) AS qx
                FROM (SELECT vec_id,
                             generate_subscripts(embedding, 1) AS i,
                             unnest(embedding) AS x
                      FROM corpus)),
              proj AS (
                SELECT q.vec_id, pl.tbl, pl.p, sum(q.qx * pl.s) AS dp
                FROM q JOIN planes pl ON pl.d = q.d
                GROUP BY 1, 2, 3),
              buckets AS (
                SELECT vec_id, tbl,
                       string_agg(CASE WHEN dp >= 0 THEN '1' ELSE '0' END,
                                  '' ORDER BY p) AS bucket
                FROM proj GROUP BY vec_id, tbl),
              cands AS (
                SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
                FROM buckets a JOIN buckets b
                  ON a.tbl = b.tbl AND a.bucket = b.bucket
                     AND a.vec_id < b.vec_id)
              SELECT c.a_id, c.b_id,
                     round(list_dot_product(ea.embedding, eb.embedding)
                           / (sqrt(list_dot_product(ea.embedding, ea.embedding))
                              * sqrt(list_dot_product(eb.embedding, eb.embedding))),
                           6) AS cos
              FROM cands c
              JOIN corpus ea ON ea.vec_id = c.a_id
              JOIN corpus eb ON eb.vec_id = c.b_id
              WHERE list_dot_product(ea.embedding, eb.embedding)
                    / (sqrt(list_dot_product(ea.embedding, ea.embedding))
                       * sqrt(list_dot_product(eb.embedding, eb.embedding))) >= 0.999
              ORDER BY a_id, b_id"""
      }),

    // SRP-LSH near-dup MEASUREMENT — the dial table for the approximate
    // path (verdict-r14 #3: every other approximate operator carries a
    // measured dial — vec_ivf_recall for nprobe, vec_pq_recall for
    // shortlist, doc_dedup_eval(_sweep) for banding; this is the SRP
    // twin). On the same planted-clone corpus as vec_near_dup_lsh
    // (shared nearDupLshCorpus helper), candidates from tables ∈
    // {2, 4, 6, 8} are scored against the EXACT cos ≥ 0.45 pair set
    // (the vec_near_dup threshold — the moderate-threshold regime where
    // the srpCandidates scaladoc derives that recall is genuinely
    // partial, so the recall column actually moves with the dial; clone
    // pairs at cos = 1.0 collide in every table and anchor the top).
    // Row (tables, bits) = (0, 0) is the EXACT ANCHOR: candidates = all
    // C(n,2) pairs (recall 1.0 by definition, precision = the base
    // rate) — the row a pipeline compares the LSH configs against.
    //
    // TWO dial axes since r16 (verdict-r15 #4): the r15 table showed
    // recall nearly flat 0.888→0.909 from 2→8 tables at the fixed
    // srpBitsFor width — near the cos 0.45 threshold the actionable
    // dial is bits-per-table, so the sweep is now tables ∈ {2,4,6,8} ×
    // bits ∈ {w−2, w, w+2} around the adaptive width w. BOTH axes
    // prefix-nest into ONE bucket build: table t is seeded 42 + t
    // independent of the tables count (candidate sets nest across
    // table prefixes), and plane p's hyperplane depends only on
    // (seed, p, d), so the width-w bucket is the w-PREFIX of the
    // width-(w+2) bucket string — the widest build serves all three
    // widths via substring compares. The self-join runs ONCE at the
    // coarsest (lo) prefix (a superset of every config's candidates),
    // each pair keeps its first colliding table AT EACH width, and all
    // 12 configs fall out of one conditional aggregation. All counts
    // exact ints; the two ratios are single IEEE divisions.
    Q("vec_near_dup_eval",
      (s, dir) => {
        val corpus = nearDupLshCorpus(s, dir).localCheckpoint(eager = false)
        val n = corpus.count()
        val allPairs = n * (n - 1) / 2
        val mid = Dedup.srpBitsFor(n, 8)
        val lo = math.max(mid - 2, 1)
        val hi = mid + 2
        // checkpointed: serves BOTH the n_true count and the left join
        // below (ADVICE r15 — the most expensive leg ran twice)
        val exact = Dedup.embeddingPairs(corpus, "vec_id", "embedding",
            minCos = 0.45)
          .select("a_id", "b_id")
          .localCheckpoint(eager = false)
        val nt = exact.agg(count(lit(1)).as("n_true"))
        val anchor = nt.select(
          lit(0L).as("tables"),
          lit(0L).as("bits"),
          lit(allPairs).as("n_cand"),
          col("n_true"),
          col("n_true").as("tp"),
          round(col("n_true").cast("double") / lit(allPairs.toDouble), 4)
            .as("prec"),
          lit(1.0).as("recall"))
        val buckets = corpus.select(col("vec_id"),
            explode(array((0 until 8).map { t =>
              struct(lit(t).as("tbl"),
                Similarity.srpBucket(col("embedding"),
                  Similarity.signedPlanes(hi, 64, 42L + t)).as("bucket"))
            }: _*)).as("bk"))
          .select(col("vec_id"), col("bk.tbl").as("tbl"),
            col("bk.bucket").as("bucket"))
          .localCheckpoint(eager = false)
        // join once at the coarsest width; finer-width collisions are
        // in-row substring equalities on the joined pair
        val pairFirst = buckets.as("a").join(buckets.as("b"),
            col("a.tbl") === col("b.tbl") &&
              substring(col("a.bucket"), 1, lo) ===
                substring(col("b.bucket"), 1, lo) &&
              col("a.vec_id") < col("b.vec_id"))
          .select(col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id"),
            col("a.tbl").as("tbl"),
            (substring(col("a.bucket"), 1, mid) ===
              substring(col("b.bucket"), 1, mid)).as("m_mid"),
            (col("a.bucket") === col("b.bucket")).as("m_hi"))
          .groupBy("a_id", "b_id")
          .agg(min(col("tbl")).as("ft_lo"),
            min(when(col("m_mid"), col("tbl"))).as("ft_mid"),
            min(when(col("m_hi"), col("tbl"))).as("ft_hi"))
        val flagged = pairFirst
          .join(exact.withColumn("is_true", lit(1L)), Seq("a_id", "b_id"),
            "left")
          .select(col("ft_lo"), col("ft_mid"), col("ft_hi"),
            coalesce(col("is_true"), lit(0L)).as("is_true"))
        val widths = Seq("lo" -> lo, "mid" -> mid, "hi" -> hi)
        val aggCols = widths.flatMap { case (wn, _) =>
          Seq(2, 4, 6, 8).flatMap { t =>
            Seq(
              sum(when(col(s"ft_$wn") < t, 1L).otherwise(0L))
                .as(s"nc_${wn}_$t"),
              sum(when(col(s"ft_$wn") < t, col("is_true")).otherwise(0L))
                .as(s"tp_${wn}_$t"))
          }
        }
        val counts = flagged.agg(aggCols.head, aggCols.tail: _*)
        val stackArgs = widths.flatMap { case (wn, w) =>
          Seq(2, 4, 6, 8).map(t => s"${t}L, ${w}L, nc_${wn}_$t, tp_${wn}_$t")
        }.mkString(", ")
        val rows = counts.select(expr(
            s"stack(12, $stackArgs) as (tables, bits, n_cand, tp)"))
          .crossJoin(nt)
          .select(col("tables"), col("bits"), col("n_cand"), col("n_true"),
            col("tp"),
            round(col("tp").cast("double") / greatest(col("n_cand"), lit(1L)), 4)
              .as("prec"),
            round(col("tp").cast("double") / greatest(col("n_true"), lit(1L)), 4)
              .as("recall"))
        anchor.unionByName(rows).orderBy("tables", "bits")
      },
      None,
      // widths interpolate from the SAME shared corpus helper the query
      // uses (count once at dump time); everything else is static SQL.
      // Planes build once at the WIDEST width; the width sweep is
      // substr-prefix compares — the same prefix-nesting as the Spark
      // side, so both engines read one bucket table.
      oracleGen = Some { (s, dir) =>
        val mid = Dedup.srpBitsFor(nearDupLshCorpus(s, dir).count(), 8)
        val lo = math.max(mid - 2, 1)
        val hi = mid + 2
        s"""WITH corpus AS (
                SELECT vec_id, embedding FROM embeddings
                UNION ALL
                SELECT vec_id + 100000 AS vec_id, embedding
                FROM embeddings WHERE vec_id % 2 = 0),
              planes AS (
                SELECT t.t AS tbl, p.p AS p, d.d AS d,
                       CASE WHEN (('0x' || substr(md5('srp|' || (42 + t.t)
                                    || '|' || p.p || '|' || d.d), 1, 8))::BIGINT
                                  % 1000000) < 500000
                            THEN 1 ELSE -1 END AS s
                FROM range(0, 8) t(t), range(0, $hi) p(p), range(0, 64) d(d)),
              q AS (
                SELECT vec_id, i - 1 AS d,
                       CAST(round(CAST(x AS DOUBLE) * 1e6, 0) AS BIGINT) AS qx
                FROM (SELECT vec_id,
                             generate_subscripts(embedding, 1) AS i,
                             unnest(embedding) AS x
                      FROM corpus)),
              proj AS (
                SELECT q.vec_id, pl.tbl, pl.p, sum(q.qx * pl.s) AS dp
                FROM q JOIN planes pl ON pl.d = q.d
                GROUP BY 1, 2, 3),
              buckets AS (
                SELECT vec_id, tbl,
                       string_agg(CASE WHEN dp >= 0 THEN '1' ELSE '0' END,
                                  '' ORDER BY p) AS bucket
                FROM proj GROUP BY vec_id, tbl),
              truth AS (
                SELECT a.vec_id AS a_id, b.vec_id AS b_id
                FROM corpus a, corpus b
                WHERE a.vec_id < b.vec_id
                  AND list_dot_product(a.embedding, b.embedding)
                      / (sqrt(list_dot_product(a.embedding, a.embedding))
                         * sqrt(list_dot_product(b.embedding, b.embedding))) >= 0.45),
              nn AS (SELECT count(*) AS n FROM corpus),
              tn AS (SELECT count(*) AS n_true FROM truth),
              cfgt(tables) AS (SELECT unnest([2, 4, 6, 8])),
              cfgb(bits) AS (SELECT unnest([$lo, $mid, $hi])),
              cand AS (
                SELECT ct.tables, cb.bits, a.vec_id AS a_id, b.vec_id AS b_id
                FROM cfgt ct
                CROSS JOIN cfgb cb
                JOIN buckets a ON a.tbl < ct.tables
                JOIN buckets b ON b.tbl = a.tbl
                              AND substr(b.bucket, 1, cb.bits)
                                  = substr(a.bucket, 1, cb.bits)
                              AND a.vec_id < b.vec_id
                GROUP BY 1, 2, 3, 4),
              m AS (
                SELECT cand.tables, cand.bits, count(*) AS n_cand,
                       count(t.a_id) AS tp
                FROM cand LEFT JOIN truth t USING (a_id, b_id)
                GROUP BY cand.tables, cand.bits)
              SELECT CAST(0 AS BIGINT) AS tables, CAST(0 AS BIGINT) AS bits,
                     (SELECT n * (n - 1) // 2 FROM nn) AS n_cand,
                     tn.n_true, tn.n_true AS tp,
                     round(tn.n_true::DOUBLE
                           / (SELECT n * (n - 1) // 2 FROM nn), 4) AS prec,
                     CAST(1.0 AS DOUBLE) AS recall
              FROM tn
              UNION ALL
              SELECT CAST(m.tables AS BIGINT), CAST(m.bits AS BIGINT),
                     m.n_cand, tn.n_true, m.tp,
                     round(m.tp::DOUBLE / greatest(m.n_cand, 1), 4) AS prec,
                     round(m.tp::DOUBLE / greatest(tn.n_true, 1), 4) AS recall
              FROM m, tn
              ORDER BY tables, bits"""
      }),

    // Embedding near-dup CLUSTERS: the packed triangle join's pair table
    // fed through the same min-label-propagation connected components the
    // text dedup uses — the full "semantic dedup" composition (pairs →
    // components → pick representatives) on vectors. Pair generation
    // dominates; the label rounds shuffle only rows that appear in a pair.
    Q("vec_embed_clusters",
      (s, dir) => Dedup.duplicateClusters(
          Dedup.embeddingPairs(t(s, dir, "embeddings"), "vec_id", "embedding",
            minCos = 0.45))
        .select(col("doc_id").as("vec_id"), col("cluster_id"))
        .orderBy("vec_id"),
      Some("""WITH RECURSIVE pairs AS (
                SELECT a.vec_id AS a_id, b.vec_id AS b_id
                FROM embeddings a, embeddings b
                WHERE a.vec_id < b.vec_id
                  AND list_dot_product(a.embedding, b.embedding)
                      / (sqrt(list_dot_product(a.embedding, a.embedding))
                         * sqrt(list_dot_product(b.embedding, b.embedding))) >= 0.45),
              edges(s, d) AS (
                SELECT a_id, b_id FROM pairs
                UNION SELECT b_id, a_id FROM pairs),
              reach(s, d) AS (
                SELECT s, d FROM edges
                UNION
                SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s)
              SELECT s AS vec_id, least(s, min(d)) AS cluster_id
              FROM reach GROUP BY s ORDER BY vec_id""")),

    // Product-quantized ANN, full two-stage search: learned m=8 ×
    // ksub=16 codebook (4-bit codes, 64× smaller scan than raw
    // float32), asymmetric-distance SHORTLIST over the codes, exact
    // rerank of the 50 survivors. FULLY ORACLED via a generated SQL
    // ([[PqOracle.adcSql]]): the fitted codebook + probe LUT embed as
    // literal CTEs and DuckDB replays encode/shortlist/rerank
    // bit-for-bit; only the Lloyd fit itself stays outside (its
    // determinism pinned by ProductQuantizerSpec).
    Q("vec_pq_adc",
      (s, dir) => {
        val embs = t(s, dir, "embeddings")
        val probe = SharedProbe(s, dir, ProbeId).toArray
        val cb = SharedPqCodebook(s, dir)
        ProductQuantizer.adcRerank(
          ProductQuantizer.encode(embs, "vec_id", "embedding", cb),
          embs, "vec_id", "embedding", cb, probe, shortlist = 50, k = 10)
      },
      None,
      oracleGen = Some((s, dir) => PqOracle.adcSql(s, dir))),

    // Recall measurement for the PQ dial — the eval op the PQ family
    // was missing (IVF has vec_ivf_recall + vec_ivf_recall_drift; the
    // shortlist depth had no measured curve): recall@10 of the
    // two-stage ADC-shortlist + exact-rerank search vs the EXACT
    // L2 top-10 (same metric as the search — a cosine ground truth
    // would conflate metric disagreement with quantization error), at
    // shortlist ∈ {10, 25, 50, ALL}. The ALL row reranks the whole
    // corpus — provably exact, recall 1.0, the parity anchor inside the
    // result (the vec_ivf_recall convention). ONE codes table and ONE
    // exact top-10 feed every branch (lazy local checkpoints); each
    // shortlist branch reads only the m-byte codes column + ≤shortlist
    // raw rows. The corpus-count anchor is an eval-only corpus rerank —
    // the measurement you run at a sample SF before committing a
    // shortlist depth, not a serving path. Oracled via the generated
    // literal-codebook SQL ([[PqOracle.recallSql]] — truth, every sweep
    // branch, and the recall arithmetic replayed in DuckDB);
    // ProductQuantizerSpec additionally pins monotonicity in shortlist
    // depth, the 1.0 anchor, and determinism.
    Q("vec_pq_recall",
      (s, dir) => {
        val embs = t(s, dir, "embeddings")
        val probe = SharedProbe(s, dir, ProbeId).toArray
        val cb = SharedPqCodebook(s, dir)
        val codes = ProductQuantizer.encode(embs, "vec_id", "embedding", cb)
          .localCheckpoint(eager = false)
        val nAll = embs.count().toInt
        val truth = ProductQuantizer.adcRerank(codes, embs, "vec_id",
            "embedding", cb, probe, shortlist = nAll, k = 10)
          .select("id").localCheckpoint(eager = false)
        // shortlist depths strictly below the ALL anchor: on a fixture
        // with nAll <= 50 the naive Seq(10, 25, 50, nAll) would carry a
        // duplicate — emitting duplicate rows and breaking the spec's
        // strict-monotonicity contract at small scale factors
        Seq(10, 25, 50).filter(_ < nAll).:+(nAll).map { sl =>
          ProductQuantizer.adcRerank(codes, embs, "vec_id", "embedding",
              cb, probe, shortlist = sl, k = 10)
            .select("id")
            .join(truth, "id")
            .agg(count(lit(1)).as("hits"))
            .select(lit(sl.toLong).as("shortlist"), col("hits"),
              round(col("hits") / lit(10.0), 2).as("recall"))
        }.reduce(_ unionByName _).orderBy("shortlist")
      },
      None,
      oracleGen = Some((s, dir) => PqOracle.recallSql(s, dir))),

    // Batched IVF ([[ivfBatchKnn]]): the SERVING shape — many probes per
    // request, each routed to its centroids, answered in ONE statically
    // pruned pass over the union of touched partitions (per-centroid
    // equi-join pairs rows only with the probes that routed there;
    // per-probe top-k is the bounded mergeable TopKAggregator). Declared
    // at nprobe = K, where routing provably keeps every partition and
    // the result is per-probe exact brute force — the vec_knn_batch
    // oracle; the nprobe=2 production shape is plan-asserted in
    // IvfPqSpec (≤ 2·b partitions listed, broadcast join, probe_id-only
    // shuffle).
    Q("vec_knn_ivf_batch",
      (s, dir) => ivfBatchKnn(s, dir, k = 5, nprobe = 0), // 0 ⇒ all (parity)
      Some(s"""WITH probes AS (
                 SELECT vec_id AS probe_id, embedding AS pvec
                 FROM embeddings WHERE vec_id IN (${BatchProbeIds.mkString(", ")})),
               scored AS (
                 SELECT p.probe_id, e.vec_id,
                        list_dot_product(e.embedding, p.pvec)
                          / (sqrt(list_dot_product(e.embedding, e.embedding))
                             * sqrt(list_dot_product(p.pvec, p.pvec))) AS s
                 FROM embeddings e, probes p)
               SELECT probe_id, rk, vec_id, round(s, 6) AS sim
               FROM (SELECT probe_id, vec_id, s,
                            row_number() OVER (PARTITION BY probe_id
                              ORDER BY s DESC, vec_id) AS rk
                     FROM scored)
               WHERE rk <= 5
               ORDER BY probe_id, rk""")),

    // IVF-PQ: the composed billion-scale ANN shape. The probe routes on
    // the k-row centroid table to nprobe=2 literal partition ids; the ADC
    // shortlist scans ONLY those partitions of the materialized CODES
    // table (m bytes/vector — at 100 TB the 64× narrower column is the
    // whole point), and only the ~shortlist survivors touch raw vectors,
    // via a broadcast semi-join against the SAME two partitions of the
    // IVF corpus. Total I/O per probe: nprobe/k of the codes column +
    // shortlist raw rows; zero shuffles (plan-asserted: PartitionFilters
    // on both scans, broadcast join, TakeOrdered). Oracled via the
    // generated SQL ([[PqOracle.ivfPqSql]]: literal centroids route the
    // probe, every vector's assignment re-derives in SQL, then the
    // ADC + rerank replay over the routed subset); IvfPqSpec pins
    // determinism and recall against exact brute force.
    Q("vec_knn_ivf_pq",
      (s, dir) => ivfPqKnn(s, dir, k = 10, nprobe = 2, shortlist = 50),
      None,
      oracleGen = Some((s, dir) => PqOracle.ivfPqSql(s, dir))),

    // Distributed PCA projection: ONE GramAggregator pass reduces the
    // corpus to the d×d second-moment matrix (constant-size mergeable
    // buffer, partial-aggregated — the driver sees sufficient
    // statistics, never rows), the 64×64 eigen work happens driver-side
    // via deterministic power iteration + deflation, and the projection
    // pass is a codegen'd dot_product map — (x−μ)·v computed as
    // x·v − μ·v so no centered copy of the corpus is ever materialized.
    // The PROJECTION is oracled via generated SQL with the fitted basis
    // as literals ([[PqOracle.pcaSql]]); only the eigen work stays
    // outside — PcaSpec pins the fit against a local reference,
    // variance ordering, orthogonality, and the sign convention.
    Q("vec_pca_project",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val model = graft.similarity.Pca.fit(emb, "embedding", dim = 64, k = 2)
        graft.similarity.Pca.project(emb, "embedding", model, Seq("pc1", "pc2"))
          .select(col("vec_id"), col("label"),
            round(col("pc1"), 4).as("pc1"), round(col("pc2"), 4).as("pc2"))
          .orderBy("vec_id")
      },
      None,
      oracleGen = Some((s, dir) => PqOracle.pcaSql(s, dir))),

    // Maximum-inner-product search (recommendation/retrieval scoring):
    // exact top-10 by RAW dot product — the unnormalized ranking cosine
    // gets wrong whenever vector norm carries a popularity/confidence
    // signal. Same shape as vec_knn: one corpus pass, the codegen'd
    // native DotProduct expression (1/3 the flops of the cosine form),
    // TakeOrderedAndProject top-k — zero shuffle.
    Q("vec_mips",
      (s, dir) => {
        val probeCol = typedLit(SharedProbe(s, dir, ProbeId))
        t(s, dir, "embeddings")
          .withColumn("score",
            graft.functions.VectorFunctions.dot_product(col("embedding"), probeCol))
          .orderBy(col("score").desc, col("vec_id"))
          .limit(10)
          .select(col("vec_id"), round(col("score"), 6).as("score"))
      },
      Some(s"""SELECT vec_id,
                      round(CAST(list_dot_product(embedding, pv) AS DOUBLE), 6) AS score
               FROM embeddings, ${probeSql("p")}
               ORDER BY list_dot_product(embedding, pv) DESC, vec_id
               LIMIT 10""")),

    // Incremental IVF maintenance: index built on the base 90%, the new
    // 10% APPENDED by assignment to the standing centroids — no re-fit,
    // no corpus rescan, sidecar bucket stats merged incrementally, a
    // skew-triggered rebalance signal instead of blind per-batch
    // re-clustering (IvfAppendSpec proves the standing files survive
    // byte-identical and append+search ≡ rebuild+search). Served at
    // nprobe = ALL the search covers base ∪ appended = the whole table,
    // so the exact-kNN SQL oracles the entire append pipeline.
    Q("vec_index_append",
      (s, dir) => {
        val ix = SharedIvfAppendIndex(s, dir)
        val centroids = s.createDataFrame(ix.centroids).toDF("cid", "cvec")
        Similarity.ivfKnnPruned(s.read.parquet(ix.path), "vec_id",
            "embedding", centroids, "cid", "cvec",
            typedLit(SharedProbe(s, dir, ProbeId)), 10, ix.centroids.length)
          .select(col("vec_id"), round(col("sim"), 6).as("sim"))
          .orderBy(col("sim").desc, col("vec_id"))
      },
      Some(s"""SELECT vec_id,
                      round(list_dot_product(embedding, pv)
                            / (sqrt(list_dot_product(embedding, embedding))
                               * sqrt(list_dot_product(pv, pv))), 6) AS sim
               FROM embeddings, ${probeSql("p")}
               ORDER BY list_dot_product(embedding, pv)
                        / (sqrt(list_dot_product(embedding, embedding))
                           * sqrt(list_dot_product(pv, pv))) DESC, vec_id
               LIMIT 10""")),

    // Recall measurement for the IVF dial — the eval op an ANN
    // deployment runs before choosing nprobe: recall@10 of the routed
    // search vs exact brute force, at nprobe ∈ {1,2,4,8}. Completes the
    // index lifecycle (build → serve → append → MEASURE). One assigned
    // table feeds all four probes; each candidate set is a pruned scan +
    // top-k heap; the intersection counts are exact integers so recall
    // is bit-stable. nprobe=8 (all partitions) must read 1.0 — the
    // parity anchor inside the result itself.
    Q("vec_ivf_recall",
      (s, dir) => {
        val embs = t(s, dir, "embeddings")
        val centroids = embs.filter(col("vec_id") < 8)
          .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
        val probeCol = typedLit(SharedProbe(s, dir, ProbeId))
        // lazy local checkpoints: the assigned table and the exact
        // top-10 feed all four nprobe branches — without materializing
        // they re-derive per branch (12 scans measured; 100 TB would
        // pay 4 corpus passes for one eval)
        val assigned = Similarity.assignToCentroids(
            embs, "vec_id", "embedding", centroids, "cid", "cvec")
          .localCheckpoint(eager = false)
        val brute = Similarity
          .bruteForceKnn(embs, "vec_id", "embedding", probeCol, 10)
          .select("vec_id")
          .localCheckpoint(eager = false)
        Seq(1, 2, 4, 8).map { np =>
          Similarity.ivfKnn(assigned, "vec_id", "embedding",
              centroids, "cid", "cvec", probeCol, 10, nprobe = np)
            .select("vec_id")
            .join(brute, "vec_id")
            .agg(count(lit(1)).as("hits"))
            .select(lit(np.toLong).as("nprobe"), col("hits"),
              round(col("hits") / lit(10.0), 2).as("recall"))
        }.reduce(_ unionByName _).orderBy("nprobe")
      },
      Some({
        def cos(a: String, b: String) =
          s"""list_dot_product($a, $b)
              / (sqrt(list_dot_product($a, $a))
                 * sqrt(list_dot_product($b, $b)))"""
        val perNp = Seq(1, 2, 4, 8).map { np =>
          s"""pc$np AS (
                SELECT cid FROM cents, ${probeSql("p")}
                ORDER BY ${cos("cvec", "pv")} DESC, cid LIMIT $np),
              iv$np AS (
                SELECT a.vec_id FROM assigned a, ${probeSql("p")}
                WHERE a.cid IN (SELECT cid FROM pc$np)
                ORDER BY ${cos("a.embedding", "pv")} DESC, a.vec_id
                LIMIT 10),
              r$np AS (
                SELECT CAST($np AS BIGINT) AS nprobe,
                       CAST(count(*) AS BIGINT) AS hits
                FROM iv$np JOIN brute USING (vec_id))"""
        }.mkString(",\n")
        s"""WITH cents AS (
                 SELECT vec_id AS cid, embedding AS cvec
                 FROM embeddings WHERE vec_id < 8),
               assigned AS (
                 SELECT vec_id, embedding, cid FROM (
                   SELECT e.vec_id, e.embedding, c.cid,
                          row_number() OVER (PARTITION BY e.vec_id
                            ORDER BY ${cos("e.embedding", "c.cvec")} DESC,
                                     c.cid) AS rn
                   FROM embeddings e, cents c)
                 WHERE rn = 1),
               brute AS (
                 SELECT vec_id FROM embeddings, ${probeSql("p")}
                 ORDER BY ${cos("embedding", "pv")} DESC, vec_id LIMIT 10),
               $perNp
               SELECT nprobe, hits,
                      round(hits / CAST(10.0 AS DOUBLE), 2) AS recall
               FROM (SELECT * FROM r1 UNION ALL SELECT * FROM r2
                     UNION ALL SELECT * FROM r4 UNION ALL SELECT * FROM r8)
               ORDER BY nprobe"""
      })),

    // Index STALENESS measurement — the missing third column of the
    // index lifecycle (build → append → MEASURE DRIFT): recall@10 at
    // nprobe ∈ {1,2,4,8} BEFORE and AFTER an off-distribution append
    // (the 10% ingest batch re-enters NEGATED — a new embedding mode no
    // standing centroid represents — with offset ids, served WITHOUT a
    // re-fit, exactly what vec_index_append does). The drifted phase's
    // recall curve sits strictly below the base curve at the middle
    // nprobe settings because the new mode's neighbors scatter across
    // buckets whose centroids never saw it — the measured decay that
    // justifies needsRebalance's re-cluster signal (IvfAppendSpec pins
    // the skew half of that signal; IvfDriftSpec ties the two). Both
    // phases anchor at recall = 1.0 for nprobe = ALL (provably brute
    // force), which is what lets ONE exact SQL mirror oracle the whole
    // two-phase measurement. Scale shape: per phase, one assigned table
    // and one exact top-10 feed all four probes (lazy local checkpoints,
    // the vec_ivf_recall move) — a 100 TB drift audit pays two corpus
    // passes, not eight.
    Q("vec_ivf_recall_drift",
      (s, dir) => {
        val embs = t(s, dir, "embeddings")
        val centroids = embs.filter(col("vec_id") < 8)
          .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
        val base = embs.select("vec_id", "embedding")
        val aug = base.unionByName(
          embs.filter(col("vec_id") % 10 >= 9)
            .select((col("vec_id") + 1000000L).as("vec_id"),
              transform(col("embedding"), x => -x).as("embedding")))
        val pb = SharedProbe(s, dir, ProbeId)
        def phase(name: String, corpus: org.apache.spark.sql.DataFrame,
            probe: Seq[Float]) = {
          val probeCol = typedLit(probe)
          val assigned = Similarity.assignToCentroids(
              corpus, "vec_id", "embedding", centroids, "cid", "cvec")
            .localCheckpoint(eager = false)
          val brute = Similarity
            .bruteForceKnn(corpus, "vec_id", "embedding", probeCol, 10)
            .select("vec_id")
            .localCheckpoint(eager = false)
          Seq(1, 2, 4, 8).map { np =>
            Similarity.ivfKnn(assigned, "vec_id", "embedding",
                centroids, "cid", "cvec", probeCol, 10, nprobe = np)
              .select("vec_id")
              .join(brute, "vec_id")
              .agg(count(lit(1)).as("hits"))
              .select(lit(name).as("phase"), lit(np.toLong).as("nprobe"),
                col("hits"), round(col("hits") / lit(10.0), 2).as("recall"))
          }.reduce(_ unionByName _)
        }
        // the drifted phase is probed from INSIDE the new mode (the
        // negated probe): that is the traffic an index serves after the
        // corpus shifts, and the traffic the decay shows up on
        phase("base", base, pb)
          .unionByName(phase("drifted", aug, pb.map(x => -x)))
          .orderBy("phase", "nprobe")
      },
      Some({
        def cos(a: String, b: String) =
          s"""list_dot_product($a, $b)
              / (sqrt(list_dot_product($a, $a))
                 * sqrt(list_dot_product($b, $b)))"""
        val phases = Seq(("base", "base_c", "pb"), ("drifted", "aug_c", "pd"))
        val perPhase = phases.map { case (ph, corpus, probe) =>
          val assigned =
            s"""assigned_$ph AS (
                  SELECT vec_id, embedding, cid FROM (
                    SELECT e.vec_id, e.embedding, c.cid,
                           row_number() OVER (PARTITION BY e.vec_id
                             ORDER BY ${cos("e.embedding", "c.cvec")} DESC,
                                      c.cid) AS rn
                    FROM $corpus e, cents c)
                  WHERE rn = 1),
                brute_$ph AS (
                  SELECT vec_id FROM $corpus, $probe
                  ORDER BY ${cos("embedding", "pv")} DESC, vec_id LIMIT 10)"""
          val perNp = Seq(1, 2, 4, 8).map { np =>
            s"""pc_${ph}_$np AS (
                  SELECT cid FROM cents, $probe
                  ORDER BY ${cos("cvec", "pv")} DESC, cid LIMIT $np),
                iv_${ph}_$np AS (
                  SELECT a.vec_id FROM assigned_$ph a, $probe
                  WHERE a.cid IN (SELECT cid FROM pc_${ph}_$np)
                  ORDER BY ${cos("a.embedding", "pv")} DESC, a.vec_id
                  LIMIT 10),
                r_${ph}_$np AS (
                  SELECT '$ph' AS phase, CAST($np AS BIGINT) AS nprobe,
                         CAST(count(*) AS BIGINT) AS hits
                  FROM iv_${ph}_$np JOIN brute_$ph USING (vec_id))"""
          }.mkString(",\n")
          s"$assigned,\n$perNp"
        }.mkString(",\n")
        val unions = phases.flatMap { case (ph, _, _) =>
          Seq(1, 2, 4, 8).map(np => s"SELECT * FROM r_${ph}_$np")
        }.mkString(" UNION ALL ")
        s"""WITH base_c AS (SELECT vec_id, embedding FROM embeddings),
               aug_c AS (
                 SELECT vec_id, embedding FROM base_c
                 UNION ALL
                 SELECT vec_id + 1000000 AS vec_id,
                        list_transform(embedding, x -> -x) AS embedding
                 FROM embeddings WHERE vec_id % 10 >= 9),
               cents AS (SELECT vec_id AS cid, embedding AS cvec
                         FROM embeddings WHERE vec_id < 8),
               pb AS (SELECT embedding AS pv FROM embeddings
                      WHERE vec_id = $ProbeId),
               pd AS (SELECT list_transform(embedding, x -> -x) AS pv
                      FROM embeddings WHERE vec_id = $ProbeId),
               $perPhase
               SELECT phase, nprobe, hits,
                      round(hits / CAST(10.0 AS DOUBLE), 2) AS recall
               FROM ($unions)
               ORDER BY phase, nprobe"""
      })),

    // SemDeDup (Abbas et al. 2023): SEMANTIC dedup = cluster the
    // embedding space, then drop any vector with a higher-priority
    // (smaller-id) neighbor above the cosine threshold WITHIN ITS
    // CLUSTER — the greedy per-cluster rule, no transitive closure.
    // Pair work is blocked by cluster (repartition co-locates buckets;
    // the self-join never crosses them): at corpus scale the CLUSTER
    // COUNT is the dial — SemDeDup runs ~10⁵ clusters so buckets stay
    // bounded and in-bucket pairwise stays tractable; the fixture uses
    // the 8 SQL-expressible fixed centroids so the ORACLE can mirror
    // the assignment exactly (the learned-centroid path is the same
    // code with KMeans.fit centroids — vec_embed_clusters). Threshold
    // 0.45 matches vec_near_dup, so the fixture genuinely drops rows.
    Q("vec_semdedup",
      (s, dir) => {
        val embs = t(s, dir, "embeddings")
        val centroids = embs.filter(col("vec_id") < 8)
          .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
        // materialize the bucketed assignment once: the self-join's two
        // sides and the verdict join otherwise re-scan + re-assign
        val assigned = Similarity.assignToCentroids(
            embs, "vec_id", "embedding", centroids, "cid", "cvec")
          .repartition(col("centroid_id"))
          .localCheckpoint(eager = false)
        val pairsDropped = assigned
          .select(col("centroid_id"), col("vec_id").as("a_id"),
            col("embedding").as("a_emb"))
          .join(assigned.select(col("centroid_id"),
            col("vec_id").as("b_id"), col("embedding").as("b_emb")),
            Seq("centroid_id"))
          .filter(col("a_id") < col("b_id"))
          .filter(cosine_similarity(col("a_emb"), col("b_emb")) >= 0.45)
          .select(col("b_id").as("vec_id")).distinct()
        assigned
          .join(pairsDropped.withColumn("d", lit(1)), Seq("vec_id"), "left")
          .select(col("vec_id"), col("centroid_id").cast("long").as("centroid_id"),
            col("d").isNull.as("kept"))
          .orderBy("vec_id")
      },
      Some("""WITH cents AS (
                 SELECT vec_id AS cid, embedding AS cvec
                 FROM embeddings WHERE vec_id < 8),
               assigned AS (
                 SELECT vec_id, embedding, cid FROM (
                   SELECT e.vec_id, e.embedding, c.cid,
                          row_number() OVER (PARTITION BY e.vec_id
                            ORDER BY list_dot_product(e.embedding, c.cvec)
                                     / (sqrt(list_dot_product(e.embedding, e.embedding))
                                        * sqrt(list_dot_product(c.cvec, c.cvec))) DESC,
                                     c.cid) AS rn
                   FROM embeddings e, cents c)
                 WHERE rn = 1),
               dropped AS (
                 SELECT DISTINCT b.vec_id
                 FROM assigned a JOIN assigned b
                   ON a.cid = b.cid AND a.vec_id < b.vec_id
                 WHERE list_dot_product(a.embedding, b.embedding)
                       / (sqrt(list_dot_product(a.embedding, a.embedding))
                          * sqrt(list_dot_product(b.embedding, b.embedding))) >= 0.45)
               SELECT v.vec_id, CAST(v.cid AS BIGINT) AS centroid_id,
                      d.vec_id IS NULL AS kept
               FROM assigned v LEFT JOIN dropped d ON d.vec_id = v.vec_id
               ORDER BY v.vec_id""")))

  /** Batched IVF serving behind `vec_knn_ivf_batch`: route EVERY probe
    * on the k-row centroid table, explode probes per routed centroid,
    * and make ONE pass over the UNION of touched partitions — the
    * per-centroid equi-join assigns each corpus row only to the probes
    * that routed to its partition, and the per-probe top-k is the same
    * bounded mergeable TopKAggregator as `vec_knn_batch`. At 100 TB a
    * b-probe batch at nprobe=2 reads |∪cids|/k of the corpus ONCE
    * (statically pruned), instead of b full scans or b separate pruned
    * scans over overlapping partitions.
    */
  private[graft] def ivfBatchKnn(s: org.apache.spark.sql.SparkSession,
      dir: String, k: Int, nprobe: Int): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val ix = SharedIvfIndex(s, dir)
    val centroids = s.createDataFrame(ix.centroids).toDF("cid", "cvec")
    val np = if (nprobe <= 0) ix.centroids.length else nprobe // ≤0 ⇒ all
    val routed = BatchProbeIds.flatMap { pid =>
      val v = SharedProbe(s, dir, pid)
      Similarity.routeProbe(centroids, "cid", "cvec", typedLit(v), np)
        .map(c => (pid, c, v))
    }
    val allCids = routed.map(_._2).distinct
    val probesDf = routed.toDF("probe_id", "pcid", "pvec")
    val topk = udaf(new graft.functions.TopKAggregator(k),
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[graft.functions.ScoredId]())
    s.read.parquet(ix.path)
      .filter(col("centroid_id").isin(allCids: _*))
      .join(broadcast(probesDf), col("centroid_id") === col("pcid"))
      .groupBy("probe_id")
      .agg(topk(cosine_similarity(col("embedding"), col("pvec")),
        col("vec_id")).as("tk"))
      .select(col("probe_id"), posexplode(col("tk")))
      .select(col("probe_id"), (col("pos") + 1).cast("long").as("rk"),
        col("col.id").as("vec_id"), round(col("col.sim"), 6).as("sim"))
      .orderBy("probe_id", "rk")
  }

  /** The IVF-PQ composition behind `vec_knn_ivf_pq`, shared with the
    * plan/recall specs so they exercise the exact production shape.
    */
  private[graft] def ivfPqKnn(s: org.apache.spark.sql.SparkSession,
      dir: String, k: Int, nprobe: Int, shortlist: Int)
      : org.apache.spark.sql.DataFrame = {
    val ix = SharedIvfIndex(s, dir)
    val cb = SharedPqCodebook(s, dir)
    val probe = SharedProbe(s, dir, ProbeId).toArray
    val codesPath = SharedIvfPqCodes(s, dir)
    val centroids = s.createDataFrame(ix.centroids).toDF("cid", "cvec")
    val cids = Similarity.routeProbe(centroids, "cid", "cvec",
      typedLit(probe.toSeq), nprobe)
    val prunedCodes = s.read.parquet(codesPath)
      .filter(col("centroid_id").isin(cids: _*))
    val prunedRaw = s.read.parquet(ix.path)
      .filter(col("centroid_id").isin(cids: _*))
    ProductQuantizer.adcRerank(prunedCodes, prunedRaw,
      "vec_id", "embedding", cb, probe, shortlist, k)
  }
}
