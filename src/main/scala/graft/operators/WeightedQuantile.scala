package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact weighted quantiles at cluster scale.
  *
  * The textbook formulation (one cumulative-weight window per group, as the
  * declared `agg_weighted_median` query runs) sorts EVERY group in full — fine
  * when group cardinality ≥ cores, but a 3-group × 100 TB corpus funnels the
  * whole table through 3 sort tasks. This operator is the scalable exact
  * variant for that regime:
  *
  *   pass A  per-group (min, max, total weight) — one partial agg;
  *   pass B  per-group weight HISTOGRAM over `buckets` value buckets — a
  *           second partial agg whose shuffle carries ≤ groups×buckets rows;
  *           the quantile's cut bucket and the weight prefix before it come
  *           from a window over that compact histogram;
  *   pass C  sort ONLY the cut bucket's rows (expected n/buckets of the
  *           group) and take the first row whose prefixed running weight
  *           reaches q·total.
  *
  * Three scans instead of one, but no full sort anywhere — scans parallelize,
  * group-local sorts don't. Equal values always land in the same bucket
  * (bucketization is a deterministic monotone function of the value and the
  * group bounds), so the result is tiebreak-free: the first qualifying row's
  * value is the unique lower weighted quantile regardless of how equal values
  * order within the cut bucket. WeightedQuantileSpec proves bit-equality with
  * the windowed formulation.
  *
  * All small frames (bounds, cut buckets, prefixes — one row per group)
  * broadcast; designed for group cardinality ≪ corpus, the exact regime where
  * the windowed form breaks down.
  */
object WeightedQuantile {

  /** Lineage truncation on the TINY per-group frames both operators build
    * (bounds, cut buckets, prefixes: groups × qs rows at most). Without
    * it `bounds` is re-derived by every subtree that references it and
    * the FACT TABLE is re-scanned multiplicatively — measured: 22
    * lineitem scans in agg_weighted_median_bucketed's plan and ~17 when
    * exactPercentiles calls COMPOSE (ts_anomaly_mad), where 3 is what the
    * three-pass algorithm needs. A lazy local checkpoint materializes
    * each small frame once on first use; losing one (executor loss)
    * recomputes a tiny aggregate, never correctness.
    */
  private def tiny(df: DataFrame): DataFrame = df.localCheckpoint(eager = false)

  /** Deterministic monotone bucketization of `value` into `buckets`
    * buckets over the joined group bounds `mn`/`mx`: the mx row clamps
    * into the last bucket, a degenerate (single-value) group collapses
    * into bucket 0.
    */
  private def bucketOf(value: Column, buckets: Int): Column = least(
    lit(buckets - 1),
    floor((value - col("mn")) * buckets /
      when(col("mx") > col("mn"), col("mx") - col("mn")).otherwise(lit(1)))
      .cast("int"))

  /** Lower weighted q-quantile of `valueCol` under `weightCol` per
    * `groupCol`: the smallest value v with cumWeight(≤ v) ≥ q·totalWeight.
    * Output: (groupCol, w_quantile, total_weight).
    */
  def weightedQuantile(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      weightCol: String,
      q: Double = 0.5,
      buckets: Int = 1024): DataFrame = {
    val g = col(groupCol)
    val v = col(valueCol)
    val w = col(weightCol)

    // pass A: group bounds + totals (tiny: one row per group)
    val bounds = tiny(df.groupBy(g).agg(
      min(v).as("mn"), max(v).as("mx"), sum(w).as("totw")))

    val bucketed = df.join(broadcast(bounds), Seq(groupCol))
      .withColumn("bkt", bucketOf(v, buckets))

    // pass B: the compact histogram; cut bucket + prefix from ≤ buckets rows
    val hist = bucketed.groupBy(g, col("bkt")).agg(sum(w).as("hw"))
    val byBkt = Window.partitionBy(g).orderBy("bkt")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val scanned = tiny(hist
      .join(broadcast(bounds.select(g, col("totw"))), Seq(groupCol))
      .withColumn("cum", sum("hw").over(byBkt)))
    val cut = tiny(scanned.filter(col("cum") >= col("totw") * q)
      .groupBy(g).agg(min("bkt").as("cutbkt")))
    val prefix = tiny(scanned.join(broadcast(cut), Seq(groupCol))
      .filter(col("bkt") < col("cutbkt"))
      .groupBy(g).agg(sum("hw").as("prew")))

    // pass C: sort only the cut bucket; value order suffices (see Scaladoc)
    val run = Window.partitionBy(g).orderBy(v)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    bucketed
      .join(broadcast(cut), Seq(groupCol))
      .filter(col("bkt") === col("cutbkt"))
      .join(broadcast(prefix), Seq(groupCol), "left")
      .withColumn("cum", sum(w).over(run) + coalesce(col("prew"), lit(0d)))
      .filter(col("cum") >= col("totw") * q)
      .groupBy(g).agg(
        min(v).as("w_quantile"),
        max(col("totw")).as("total_weight"))
  }

  /** Exact INTERPOLATED percentiles (the `percentile`/`quantile_cont`
    * definition: value at fractional rank r = q·(n−1), linear between the
    * two straddling order statistics) without ever buffering a whole
    * group — the at-scale replacement for `expr("percentile(v, q)")`,
    * whose `ObjectHashAggregate` buffer holds EVERY value of a group (a
    * 100 TB group OOMs one task; ts_trend's slope set grows quadratically
    * with the time span).
    *
    * Same bucket-histogram scheme as [[weightedQuantile]], generalized to
    * rank selection: pass A takes per-group (count, min, max) and turns
    * each q into its two target ranks ⌊r⌋/⌈r⌉; pass B builds the compact
    * per-bucket COUNT histogram (shuffle rows ≤ groups×buckets, constant
    * size) and finds, per target rank, the bucket whose cumulative count
    * straddles it; pass C sorts ONLY those cut buckets (expected n/buckets
    * rows each), reads the order statistics by global rank = bucket prefix
    * + local row_number, and interpolates with Spark Percentile's exact
    * formula, so results are bit-identical to the buffering form
    * (WeightedQuantileSpec proves it). Equal values always bucket
    * together, so rank→value is tiebreak-free.
    *
    * Input rows with null `valueCol` are skipped (the built-in's
    * semantics); a group whose values are ALL null still emits one row
    * per q with a NULL pctl and n=0, matching `percentile()` and DuckDB
    * `quantile_cont` (the all-null keys come free from pass A's
    * null-tolerant count/min/max — no extra scan). Output: one row per
    * (group, q): (groupCol, q, pctl, n) — `n` is the group's non-null
    * count, free from pass A, so callers like ts_trend don't pay a
    * fourth scan for it.
    */
  /** Max TOTAL non-null input rows for which [[exactPercentiles]] takes
    * the single-aggregation buffered path (Spark's own `percentile`,
    * which the bucketed machinery is term-for-term bit-identical to —
    * WeightedQuantileSpec pins the parity). The counted split is the
    * VocabGuard convention — the cheap exact form within a measured
    * bound, the constant-shuffle-row rank selection beyond it — because
    * below the bound the three passes plus their half-dozen broadcast
    * jobs cost more than the one aggregation they avoid. The bound is
    * deliberately SMALL: percentile()'s partial buffers ship the whole
    * value multiset to one reducer per group, so past ~10⁵ values the
    * histogram's parallel passes win back the job overhead (measured:
    * ts_trend's 1.2M-slope input ran 3.4 s buffered vs 1.9 s bucketed,
    * while the 100k-value agg_median ran 0.6 s buffered vs 2.2 s
    * bucketed). 256k values ≈ 2 MB per worst-case group buffer.
    */
  val MaxBufferedValues: Long = 256L * 1024

  def exactPercentiles(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      qs: Seq[Double],
      buckets: Int = 1024,
      bufferedCap: Long = MaxBufferedValues): DataFrame = {
    val g = col(groupCol)
    val v = col(valueCol)
    val in0 = df.select(g, v)
    val in = in0.filter(v.isNotNull)

    // pass A: bounds + per-q target ranks (tiny: groups × qs rows).
    // count(v)/min(v)/max(v) all skip nulls, so scanning in0 gets the
    // all-null groups' keys (n=0, mn/mx NULL) in the same single pass.
    val boundsAll = tiny(in0.groupBy(g).agg(
      count(v).as("n"), min(v).as("mn"), max(v).as("mx")))
    val bounds = boundsAll.filter(col("n") > 0)
    // all-null groups: one NULL-pctl row per q, like percentile()/
    // quantile_cont (they never reach passes B/C — no values to bucket)
    val nullRows = boundsAll.filter(col("n") === 0)
      .select(g, explode(array(qs.map(lit): _*)).as("q"),
        lit(null).cast("double").as("pctl"), col("n"))

    // Counted small-input shortcut (pass A doubles as the probe: it is
    // materialized either way): within `bufferedCap` total values, ONE
    // buffered percentile aggregation replaces passes B/C and their
    // half-dozen broadcast jobs — bit-identical output (Spark Percentile
    // is the interpolation this operator mirrors term for term;
    // WeightedQuantileSpec pins branch parity), same (g, q, pctl, n)
    // schema, all-null groups still arrive via nullRows.
    // bufferedCap <= 0 skips the probe job too — the opt-out for callers
    // whose input is KNOWN to exceed the buffered regime by construction
    // (ts_trend's slope multiset grows quadratically with the time span)
    val totalN =
      if (bufferedCap <= 0) Long.MaxValue
      else boundsAll.agg(coalesce(sum("n"), lit(0L))).collect()(0).getLong(0)
    if (totalN <= bufferedCap) {
      val qsArr = typedlit(qs)
      return in.groupBy(g)
        .agg(percentile(v, qsArr).as("ps"), count(v).as("n"))
        .select(g, col("n"), posexplode(col("ps")))
        .select(g,
          element_at(qsArr, col("pos").cast("int") + 1).as("q"),
          col("col").as("pctl"), col("n"))
        .unionByName(nullRows)
    }

    val ranks = bounds
      .select(g, col("n"), col("mn"), col("mx"),
        explode(array(qs.map(lit): _*)).as("q"))
      .withColumn("r", col("q") * (col("n") - 1))
      .withColumn("k_lo", floor(col("r")).cast("long"))
      .withColumn("k_hi", ceil(col("r")).cast("long"))
    val targets = ranks
      .select(g, explode(array(col("k_lo"), col("k_hi"))).as("k"))
      .distinct()

    val bucketed = in.join(broadcast(bounds), Seq(groupCol))
      .withColumn("bkt", bucketOf(v, buckets))

    // pass B: count histogram; a bucket is CUT iff it straddles a target
    // rank (pre ≤ k < cum) — at most 2·|qs| buckets per group survive.
    // The cut rows CARRY their target rank k (unique per (g, bkt, k) by
    // construction: scanned is unique per (g, bkt), targets per (g, k)),
    // so pass C needs no second targets join to pick the order
    // statistics — one broadcast build fewer than the r17 shape.
    val hist = bucketed.groupBy(g, col("bkt")).agg(count(lit(1)).as("hc"))
    val byBkt = Window.partitionBy(g).orderBy("bkt")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val scanned = hist
      .withColumn("cum", sum("hc").over(byBkt))
      .withColumn("pre", col("cum") - col("hc"))
    val cuts = tiny(scanned.join(broadcast(targets), Seq(groupCol))
      .filter(col("pre") <= col("k") && col("k") < col("cum"))
      .select(g, col("bkt"), col("pre"), col("k")))

    // pass C: sort only the cut buckets; pick the target order
    // statistics. A bucket straddling two target ranks joins twice, so
    // row_number partitions by (g, bkt, k) — each k-copy is a complete
    // copy of the bucket and ranks identically (duplication bounded by
    // 2·|qs| copies); equal values still bucket together, so rank→value
    // stays tiebreak-free.
    val rn = Window.partitionBy(g, col("bkt"), col("k")).orderBy(v)
    val rankValue = tiny(bucketed.select(g, col("bkt"), v)
      .join(broadcast(cuts), Seq(groupCol, "bkt"))
      .withColumn("grank", col("pre") + row_number().over(rn) - 1)
      .filter(col("grank") === col("k"))
      .select(g, col("grank"), v.as("rv")))

    // Spark Percentile's exact interpolation form, mirrored term for term
    // — (⌈r⌉−r)·v_lo + (r−⌊r⌋)·v_hi with an integer-rank short-circuit —
    // because any algebraically equal rewrite (lower + delta·frac,
    // v_lo·(1−f)+v_hi·f) differs in the last ulp on real doubles.
    // The two order statistics attach via ONE melted join (each (g, q)
    // contributes its k_lo and k_hi row, the single rankValue broadcast
    // serves both) and fold back with a tiny per-(g, q) pivot — the r17
    // shape broadcast rankValue twice under two different renames, which
    // defeats exchange reuse and pays two build jobs.
    ranks
      .select(g, col("q"), col("r"), col("n"),
        explode(array(
          struct(lit(0).as("hi"), col("k_lo").as("k")),
          struct(lit(1).as("hi"), col("k_hi").as("k")))).as("t"))
      .select(g, col("q"), col("r"), col("n"),
        col("t.hi").as("hi"), col("t.k").as("k"))
      .join(broadcast(rankValue.withColumnRenamed("grank", "k")),
        Seq(groupCol, "k"))
      .groupBy(g, col("q"))
      .agg(
        max(when(col("hi") === 0, col("rv"))).as("v_lo"),
        max(when(col("hi") === 1, col("rv"))).as("v_hi"),
        max(when(col("hi") === 0, col("k"))).as("k_lo"),
        max(when(col("hi") === 1, col("k"))).as("k_hi"),
        max(col("r")).as("r"), max(col("n")).as("n"))
      .select(g, col("q"),
        when(col("k_lo") === col("k_hi"), col("v_lo"))
          .otherwise(col("v_lo") * (col("k_hi") - col("r")) +
            col("v_hi") * (col("r") - col("k_lo"))).as("pctl"),
        col("n"))
      .unionByName(nullRows)
  }

  /** The textbook one-window formulation — the ≥-cores-groups regime's
    * shape and the spec's equality reference.
    */
  def weightedQuantileWindowed(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      weightCol: String,
      q: Double = 0.5,
      tieBreak: Seq[String] = Nil): DataFrame = {
    val g = col(groupCol)
    val order = col(valueCol) +: tieBreak.map(col)
    val run = Window.partitionBy(g).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("cum", sum(weightCol).over(run))
      .withColumn("totw", sum(weightCol).over(Window.partitionBy(g)))
      .filter(col("cum") >= col("totw") * q)
      .groupBy(g).agg(
        min(valueCol).as("w_quantile"),
        max(col("totw")).as("total_weight"))
  }
}
