package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions.cosine_similarity

/** Approximate-nearest-neighbor search over an `array<float>` embedding
  * column.
  *
  * Shapes:
  *  - [[bruteForceKnn]] — exact top-k for one probe: the probe broadcasts
  *    (it is one row), cosine is a codegen'd expression, and top-k plans as
  *    `TakeOrderedAndProject` (per-partition heap + driver merge of k) — a
  *    single pass over the corpus with zero shuffle. This is the 100 TB
  *    *verification* primitive.
  *  - [[assignToCentroids]] / [[ivfKnn]] — IVF (inverted-file) routing:
  *    corpus vectors are pre-assigned to their nearest centroid (a small
  *    broadcastable table), a probe only scans the `nprobe` closest
  *    centroid partitions. At scale the assignment is computed once and
  *    the corpus is *written partitioned by centroid_id*, so a probe reads
  *    `nprobe/k` of the data — partition pruning does the indexing.
  */
object Similarity {

  /** Exact cosine top-k of `probe` (a 1-row (id, vec) frame) against the
    * corpus. Deterministic: ties broken by id.
    */
  def bruteForceKnn(corpus: DataFrame, idCol: String, vecCol: String,
      probeVec: Column, k: Int): DataFrame =
    corpus
      .withColumn("sim", cosine_similarity(col(vecCol), probeVec))
      .orderBy(col("sim").desc, col(idCol))
      .limit(k)
      .select(col(idCol), col("sim"))

  /** Deterministic ±1 random-hyperplane set for SRP-LSH: plane `p`,
    * dimension `d` gets its sign from the repo-wide md5-bucket
    * convention (`md5("srp|seed|p|d")` first 8 hex digits mod 1e6,
    * < 5e5 → +1) — a pure function any engine reproduces bit-for-bit,
    * no JVM PRNG state, no stored plane matrices. (Previously
    * scala.util.Random(seed), which only the JVM could replay — the
    * change that let vec_lsh_candidates graduate from rows-only to a
    * full DuckDB oracle.)
    */
  def signedPlanes(nPlanes: Int, dim: Int, seed: Long = 42L): Seq[Array[Long]] =
    Seq.tabulate(nPlanes) { p =>
      Array.tabulate(dim) { d =>
        val hex = org.apache.commons.codec.digest.DigestUtils
          .md5Hex(s"srp|$seed|$p|$d").take(8)
        if (java.lang.Long.parseLong(hex, 16) % 1000000L < 500000L) 1L
        else -1L
      }
    }

  /** SRP-LSH bucket key per row: the sign-bit string of `planes.size`
    * signed projections. Cosine-close vectors agree on most sign bits, so
    * they collide with probability (1 - θ/π) per bit. Narrow per-row
    * compute, zero shuffle. `sign(cos(v,p)) == sign(v·p)` (norms are
    * non-negative) and a positive quantization scale preserves the sign,
    * so each bit is the sign of Σ_d round(x_d·1e6)·s_d — EXACT int64
    * arithmetic (the repo's micro-long convention): bit-stable at any
    * accumulation order and reproducible in any engine, where a float
    * dot product's sign could flip near zero under a different
    * summation order.
    */
  def srpBucket(vec: Column, planes: Seq[Array[Long]]): Column =
    concat(planes.map { p =>
      when(graft.functions.VectorFunctions
          .micro_signed_dot(vec, typedLit(p.toSeq)) >= 0L, "1")
        .otherwise("0")
    }: _*)

  /** Multi-table SRP-LSH candidate pairs: `tables` independent bucket
    * keys; rows sharing any bucket are candidates. The shuffle is on
    * (table, bucket) — never doc×doc — and recall rises with table count
    * while each table stays cheap.
    *
    * `dim` is the (fixed) embedding dimensionality — a schema fact the
    * caller knows; taking it as a parameter avoids a driver-side
    * `.head()` job against the corpus just to measure one array.
    *
    * Regime note: per-bit collision probability is `1 - θ/π`, so
    * amplified recall at a given candidate budget depends sharply on the
    * similarity floor. For near-duplicate thresholds (cos ≥ ~0.85,
    * p ≥ 0.82/bit) a handful of tables gives near-total recall at a tiny
    * candidate volume. For moderate thresholds (cos ≈ 0.5, p ≈ 0.65/bit)
    * the tables needed for high recall generate MORE candidate pairs than
    * the exact blocked join ([[graft.dedup.Dedup.embeddingPairs]]) —
    * use that instead there.
    */
  def srpCandidates(corpus: DataFrame, idCol: String, vecCol: String,
      bitsPerTable: Int, tables: Int, dim: Int, seed: Long = 42L): DataFrame = {
    val buckets = corpus.select(
      col(idCol),
      explode(array((0 until tables).map { t =>
        struct(lit(t).as("tbl"),
          srpBucket(col(vecCol),
            signedPlanes(bitsPerTable, dim, seed + t)).as("bucket"))
      }: _*)).as("bk"))
      .select(col(idCol), col("bk.tbl"), col("bk.bucket"))
    buckets.as("a").join(buckets.as("b"), Seq("tbl", "bucket"))
      .filter(col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("a_id"), col(s"b.$idCol").as("b_id"))
      .distinct()
  }

  /** Nearest-centroid assignment as a PURE PROJECTION: the centroid table
    * is small by definition, so it collects to the driver and becomes a
    * literal array of (sim, -cid, cid) structs; `array_max` picks the
    * argmax lexicographically (ties → smallest cid). Zero shuffle, zero
    * join — each corpus partition assigns independently, which is what
    * lets a 100 TB corpus partition-prune by `centroid_id` afterwards.
    */
  def assignToCentroids(corpus: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, cidCol: String, cvecCol: String,
      keepCols: Seq[String] = Nil): DataFrame = {
    val cents: Array[(Int, Seq[Float])] = centroids
      .select(col(cidCol).cast("int"), col(cvecCol))
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1)))
    val scored = array(cents.map { case (cid, cvec) =>
      struct(
        cosine_similarity(col(vecCol), typedLit(cvec)).as("s"),
        lit(-cid).as("negcid"),
        lit(cid).as("cid"))
    }: _*)
    // keepCols carries metadata (e.g. a filterable label) through the
    // same zero-shuffle projection — a join-back would scan the corpus
    // twice for a column it already holds
    corpus.select(col(idCol) +: col(vecCol) +: keepCols.map(col) :+
      array_max(scored).getField("cid").as("centroid_id"): _*)
  }

  /** IVF search: scan only the corpus partitions owned by the probe's
    * `nprobe` nearest centroids, exact top-k within them. `nprobe` is the
    * recall/latency dial — 1 reads a single centroid bucket (fastest,
    * lowest recall); the number of centroids reads everything and
    * reproduces [[bruteForceKnn]] exactly (the property the test pins).
    * The probed-centroid set is a ≤nprobe-row broadcast, so at 100 TB the
    * join is partition pruning over the centroid-partitioned corpus.
    */
  def ivfKnn(assigned: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, cidCol: String, cvecCol: String,
      probeVec: Column, k: Int, nprobe: Int = 1): DataFrame = {
    val probeCentroids = centroids
      .withColumn("__psim", cosine_similarity(col(cvecCol), probeVec))
      .orderBy(col("__psim").desc, col(cidCol))
      .limit(nprobe)
      .select(col(cidCol).as("centroid_id"))
    bruteForceKnn(
      assigned.join(broadcast(probeCentroids), "centroid_id"),
      idCol, vecCol, probeVec, k)
  }

  /** IVF search against a corpus that was WRITTEN
    * `partitionBy("centroid_id")` (the output of [[assignToCentroids]],
    * typically with [[KMeans.fit]]-learned centroids, materialized once).
    * The probe routes on the k-row centroid table — a legitimate
    * driver-side step, same contract as `assignToCentroids` — and the
    * corpus is filtered with a LITERAL `centroid_id IN (…)` predicate, so
    * the parquet scan prunes STATICALLY at planning time:
    * `.explain` shows the predicate under `PartitionFilters` and only
    * `nprobe` of the k partition directories are listed/read. This is the
    * physical realization of the "at 100 TB, IVF = partition pruning"
    * claim: a probe touches `nprobe/k` of the data before a single row
    * is deserialized.
    */
  def ivfKnnPruned(partitionedCorpus: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, cidCol: String, cvecCol: String,
      probeVec: Column, k: Int, nprobe: Int = 1): DataFrame =
    bruteForceKnn(
      partitionedCorpus.filter(col("centroid_id").isin(
        routeProbe(centroids, cidCol, cvecCol, probeVec, nprobe): _*)),
      idCol, vecCol, probeVec, k)

  /** Hot-partition balance for the IVF layout — the ANN analog of join
    * skew: a clustered corpus can drop most of its rows into ONE
    * centroid's partition, and every probe routed there scans it whole,
    * recreating the full-scan cost IVF exists to avoid. This splits any
    * centroid whose bucket exceeds `maxRows` into `ceil(n / maxRows)`
    * sub-centroids learned by a mini spherical-KMeans over just that
    * bucket, then reassigns GLOBALLY and repeats (a split can shift
    * neighboring buckets) until every bucket fits or 4 rounds have run.
    *
    * Driver work per round is one ≤k-row count and one small fit per hot
    * bucket (hot buckets are few by definition); corpus work is one
    * zero-shuffle assignment pass per round plus the bucket-local fit
    * aggregations. The result is a plain (cid, cvec) centroid table —
    * routing, partition pruning, and the nprobe=ALL ⇒ brute-force parity
    * property are untouched because the index is still nothing more than
    * nearest-centroid assignment over the final table.
    *
    * Degenerate corner: a bucket of IDENTICAL vectors cannot be split by
    * centroid routing (every sub-centroid coincides; ties go to the
    * smallest cid) — the 4-round limit bounds the attempt and the oversized
    * bucket survives, which is the honest outcome (such data needs an
    * id-hash sub-split at WRITE time, not a routing change).
    */
  def balancedCentroids(corpus: DataFrame, idCol: String, vecCol: String,
      initial: DataFrame, cidCol: String, cvecCol: String,
      maxRows: Long, dim: Int): DataFrame = {
    val maxRounds = 4
    val fitIters = 3
    val spark = corpus.sparkSession
    def toDf(cs: Seq[(Int, Seq[Float])]): DataFrame =
      spark.createDataFrame(
        spark.sparkContext.parallelize(
          cs.map { case (cid, v) => org.apache.spark.sql.Row(cid, v) }, 1),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("cid",
            org.apache.spark.sql.types.IntegerType),
          org.apache.spark.sql.types.StructField("cvec",
            org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.FloatType)))))
    var cents: Seq[(Int, Seq[Float])] = initial
      .select(col(cidCol).cast("int"), col(cvecCol))
      .collect().map(r => (r.getInt(0), r.getSeq[Float](1))).toSeq.sortBy(_._1)
    var rounds = 0
    var balanced = false
    while (!balanced && rounds < maxRounds) {
      rounds += 1
      val assigned = assignToCentroids(
        corpus, idCol, vecCol, toDf(cents), "cid", "cvec")
      val counts = assigned.groupBy("centroid_id").count()
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      val hot = cents.map(_._1).filter(c => counts.getOrElse(c, 0L) > maxRows)
      if (hot.isEmpty) balanced = true
      else {
        var nextId = cents.map(_._1).max + 1
        val replacements = hot.flatMap { c =>
          val m = math.min(
            math.ceil(counts(c).toDouble / maxRows).toInt, 16)
          val sub = KMeans.fit(assigned.filter(col("centroid_id") === c),
              idCol, vecCol, m, fitIters, dim)
            .collect().map(r => (nextId + r.getInt(0), r.getSeq[Float](1)))
          nextId += m
          sub
        }
        cents = cents.filterNot(c => hot.contains(c._1)) ++ replacements
      }
    }
    toDf(cents)
  }

  /** Route a probe to its `nprobe` nearest centroids — the k-row
    * driver-side routing step every IVF variant shares (the centroid
    * table is k rows by construction; fetching the winners is the same
    * documented contract as `assignToCentroids`). Returned as literal
    * ints so a `centroid_id IN (…)` filter over a
    * `partitionBy("centroid_id")` corpus prunes STATICALLY.
    */
  def routeProbe(centroids: DataFrame, cidCol: String, cvecCol: String,
      probeVec: Column, nprobe: Int): Seq[Int] =
    centroids
      .withColumn("__psim", cosine_similarity(col(cvecCol), probeVec))
      .orderBy(col("__psim").desc, col(cidCol))
      .limit(nprobe)
      .select(col(cidCol).cast("int"))
      .collect().toSeq.map(_.getInt(0))
}
