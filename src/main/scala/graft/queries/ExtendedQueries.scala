package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.functions.CentroidAggregator
import graft.operators.{BloomPrune, Bucketing, Skew, WeightedQuantile}

/** Breadth beyond the core matrix: theta/range join, as-of join, lag/lead
  * windows, GROUPING SETS via the SQL surface, a typed Aggregator (UDAF),
  * and scalar-function coverage (string/date/math in one query).
  */
object ExtendedQueries extends QueryPack {

  /** The bucketed lineitem/orders pair per (session, fixture), memoized:
    * the one-time "organize the fact tables" write a pipeline runs ONCE
    * and amortizes over every later orderkey join — exactly the
    * [[SharedIvfIndex]] pattern, but for join locality instead of ANN.
    * The write is gated on a content-fingerprinted `_BUILT` marker
    * ([[graft.operators.Artifacts.ensureBuilt]]): a new JVM whose
    * fixture is unchanged pays only a metadata-only
    * [[Bucketing.registerBucketed]] over the existing files — "paid
    * once at ingest" is now literal, not per-process — while a
    * regenerated fixture (new sizes/mtimes) triggers an atomic rebuild.
    */
  /** The events fixture materialized `partitionBy(event_type)` plus a
    * tiny on-disk event-type dimension — the date/tenant-partitioned
    * fact + dim layout every warehouse runs on; built once per fixture
    * (fingerprint-gated, atomic — same contract as
    * [[SharedBucketedTables]]) and shared by `join_dpp`. The dim must be
    * a FILE table, not a local Seq: Spark constant-folds a filtered
    * LocalRelation away, and the dynamic-partition-pruning rule only
    * fires on a surviving selective Filter over the build side.
    */
  private object SharedPartitionedEvents {
    private val memo = new SessionMemo[String, (String, String)]()
    def apply(s: org.apache.spark.sql.SparkSession, dir: String)
        : (String, String) =
      memo(s, dir) {
        val root = graft.operators.Artifacts.fixtureRoot(dir, "evpart")
        val fp = graft.operators.Artifacts.tableFingerprint(dir, "events") +
          "|layout=events+dim" // layout contents are part of the identity
        graft.operators.Artifacts.ensureBuilt(root, fp) { tmp =>
          val ev = graft.Tables.table(s, dir, "events")
          ev.write.partitionBy("event_type").mode("overwrite")
            .parquet(tmp.resolve("events").toString)
          ev.select(col("event_type")).distinct()
            .withColumn("category",
              when(col("event_type").isin("click", "view"), "engagement")
                .when(col("event_type").isin("purchase", "signup"), "conversion")
                .otherwise("ops"))
            .coalesce(1).write.mode("overwrite")
            .parquet(tmp.resolve("dim").toString)
        }
        (root.resolve("events").toString, root.resolve("dim").toString)
      }
  }

  /** Durable per-(event_type, day) KMV sketch bank — the persisted
    * partials behind `agg_sketch_banked`: built once per fixture
    * (fingerprint-gated, atomic publish), kilobytes per day, reusable
    * by any later reach/overlap question without re-touching events.
    */
  private[graft] object SharedSketchBank {
    private val memo = new SessionMemo[String, String]()
    def apply(s: org.apache.spark.sql.SparkSession, dir: String): String =
      memo(s, dir) {
        import graft.functions.Kmv
        val root = graft.operators.Artifacts.fixtureRoot(dir, "kmvbank")
        val fp = graft.operators.Artifacts.tableFingerprint(dir, "events") +
          s"|kmv=${Kmv.K}" // sketch width is part of the identity
        graft.operators.Artifacts.ensureBuilt(root, fp) { tmp =>
          val kmv = Kmv.sketchUdaf()
          graft.Tables.table(s, dir, "events")
            .select(col("event_type"), date_trunc("day", col("ts")).as("day"),
              Kmv.hash64(col("user_id")).as("h"))
            .groupBy(col("event_type"), col("day"))
            .agg(kmv(col("h")).as("sk"))
            .write.mode("overwrite").parquet(tmp.resolve("bank").toString)
        }
        root.resolve("bank").toString
      }
  }

  private object SharedBucketedTables {
    private val memo = new SessionMemo[String, (String, String)]()
    val NumBuckets = 8
    def apply(s: org.apache.spark.sql.SparkSession, dir: String)
        : (String, String) =
      memo(s, dir) {
        val tag = graft.operators.Artifacts.fixtureTag(dir)
        val root = graft.operators.Artifacts.fixtureRoot(dir, "bkt")
        val (liT, ordT) = (s"li_bkt_$tag", s"ord_bkt_$tag")
        val fp = graft.operators.Artifacts
          .tableFingerprint(dir, "lineitem", "orders") +
          s"|buckets=$NumBuckets" // layout params are part of the identity
        graft.operators.Artifacts.ensureBuilt(root, fp) { tmp =>
          // bucketed writes only exist via saveAsTable: write under
          // scratch catalog names pointed at the temp dir, then drop the
          // catalog entries (external ⇒ the files stay for the publish)
          Bucketing.writeBucketed(graft.Tables.table(s, dir, "lineitem"),
            s"${liT}_build", "l_orderkey", NumBuckets,
            Some(tmp.resolve("lineitem").toString))
          Bucketing.writeBucketed(graft.Tables.table(s, dir, "orders"),
            s"${ordT}_build", "o_orderkey", NumBuckets,
            Some(tmp.resolve("orders").toString))
          s.sql(s"DROP TABLE IF EXISTS ${liT}_build")
          s.sql(s"DROP TABLE IF EXISTS ${ordT}_build")
        }
        Bucketing.registerBucketed(s, liT,
          root.resolve("lineitem").toString, "l_orderkey", NumBuckets)
        Bucketing.registerBucketed(s, ordT,
          root.resolve("orders").toString, "o_orderkey", NumBuckets)
        (liT, ordT)
      }
  }

  override val queries: Seq[Q] = Seq(

    // Theta (range) join: fact rows land in value bands via BETWEEN-style
    // predicates. The band table is a handful of constants → broadcast
    // nested-loop join; the fact side never shuffles.
    Q("join_range",
      (s, dir) => {
        import s.implicits._
        val bands = Seq(
          ("low", 0.0, 10.0), ("mid", 10.0, 50.0), ("high", 50.0, 1e9))
          .toDF("band", "lo", "hi")
        t(s, dir, "events")
          .join(broadcast(bands),
            col("value") >= col("lo") && col("value") < col("hi"))
          .groupBy("band")
          .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
          .orderBy("band")
      },
      Some("""SELECT band, count(*) AS n, round(sum(value), 2) AS sum_value
              FROM events
              JOIN (VALUES ('low', 0.0, 10.0), ('mid', 10.0, 50.0),
                           ('high', 50.0, 1e9)) AS bands(band, lo, hi)
                ON value >= lo AND value < hi
              GROUP BY band ORDER BY band""")),

    // As-of join (time-series): for every purchase, the most recent click
    // by the same user at-or-before it. Composed from a running
    // last-non-null window — one shuffle on the key, no range self-join
    // blowup; ordering (ts, event_id) is total so the pick is
    // deterministic.
    Q("join_asof",
      (s, dir) => {
        val w = Window.partitionBy("user_id")
          .orderBy(col("ts"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        t(s, dir, "events")
          .filter(col("event_type").isin("click", "purchase"))
          .withColumn("asof_click_id",
            last(when(col("event_type") === "click", col("event_id")), ignoreNulls = true)
              .over(w))
          .filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"),
            coalesce(col("asof_click_id"), lit(-1L)).as("asof_click_id"))
          .orderBy("event_id")
      },
      Some("""SELECT event_id, user_id, coalesce(asof_click_id, -1) AS asof_click_id
              FROM (SELECT event_id, user_id, event_type,
                           last_value(CASE WHEN event_type = 'click' THEN event_id END IGNORE NULLS)
                             OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS asof_click_id
                    FROM events
                    WHERE event_type IN ('click', 'purchase'))
              WHERE event_type = 'purchase'
              ORDER BY event_id""")),

    // lag/lead/ntile window family over per-user event sequences.
    // Certified on a 1-in-10 user band (same rationale as win_running):
    // identical window physics per band, bounded certified output — the
    // global ORDER BY exists only for the oracle hash and must not sort
    // the world. user_id filter = partition-key filter → pushes below
    // the window to the scan.
    Q("win_lag_lead",
      (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        t(s, dir, "events")
          .filter(col("user_id") % 10 === 0)
          .select(col("event_id"), col("user_id"),
            round(coalesce(lag("value", 1).over(w), lit(-1.0)), 2).as("prev_value"),
            round(coalesce(lead("value", 1).over(w), lit(-1.0)), 2).as("next_value"),
            ntile(4).over(w).cast("long").as("quartile"))
          .orderBy("event_id")
      },
      Some("""SELECT event_id, user_id,
                     round(coalesce(lag(value) OVER w, -1), 2) AS prev_value,
                     round(coalesce(lead(value) OVER w, -1), 2) AS next_value,
                     ntile(4) OVER w AS quartile
              FROM events
              WHERE user_id % 10 = 0
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
              ORDER BY event_id""")),

    // Full-outer join: customers with zero orders and (hypothetical)
    // orphan orders both survive with coalesced keys. The orders side is
    // pre-aggregated to one row per customer, so the outer join is
    // key-unique on both sides — no row-explosion hazard at scale.
    Q("join_outer",
      (s, dir) => {
        val perCust = t(s, dir, "orders")
          .groupBy("o_custkey")
          .agg(count(lit(1)).as("n_orders"),
            round(sum("o_totalprice"), 2).as("tot"))
        t(s, dir, "customer")
          .join(perCust, col("c_custkey") === col("o_custkey"), "full_outer")
          .select(
            coalesce(col("c_custkey"), col("o_custkey")).as("custkey"),
            coalesce(col("n_orders"), lit(0L)).as("n_orders"),
            coalesce(col("tot"), lit(0.0)).as("total_spend"))
          .orderBy("custkey")
      },
      Some("""SELECT coalesce(c_custkey, o_custkey) AS custkey,
                     coalesce(n_orders, 0) AS n_orders,
                     coalesce(tot, 0.0) AS total_spend
              FROM customer
              FULL OUTER JOIN (SELECT o_custkey, count(*) AS n_orders,
                                      round(sum(o_totalprice), 2) AS tot
                               FROM orders GROUP BY o_custkey) o
                ON c_custkey = o_custkey
              ORDER BY custkey""")),

    // RANGE-frame window (time-interval frame, not row-count): per-user
    // trailing-30-minute event count and value sum. Both engines frame on
    // floor-second epochs so the peer sets agree exactly; certified on a
    // 1-in-10 user band like the other full-output window queries.
    Q("win_range_frame",
      (s, dir) => {
        val w = Window.partitionBy("user_id")
          .orderBy(col("ts").cast("long"))
          .rangeBetween(-1800, 0)
        t(s, dir, "events")
          .filter(col("user_id") % 10 === 0)
          .select(col("event_id"), col("user_id"),
            count(lit(1)).over(w).as("n_30m"),
            round(sum("value").over(w), 2).as("sum_30m"))
          .orderBy("event_id")
      },
      Some("""SELECT event_id, user_id,
                     count(*) OVER w AS n_30m,
                     round(sum(value) OVER w, 2) AS sum_30m
              FROM events
              WHERE user_id % 10 = 0
              WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts) // 1000000
                           RANGE BETWEEN 1800 PRECEDING AND CURRENT ROW)
              ORDER BY event_id""")),

    // Statistical aggregates: sample stddev, covariance, correlation —
    // streaming-mergeable moment sketches in both engines; rounded to
    // absorb merge-order ulp differences.
    Q("agg_stats",
      (s, dir) => t(s, dir, "events")
        .groupBy("event_type")
        .agg(
          round(stddev_samp(col("value")), 4).as("sd_value"),
          round(covar_samp(col("value"), col("user_id")), 4).as("cov_vu"),
          round(corr(col("value"), col("user_id")), 4).as("corr_vu"))
        .orderBy("event_type"),
      Some("""SELECT event_type,
                     round(stddev_samp(value), 4) AS sd_value,
                     round(covar_samp(value, user_id), 4) AS cov_vu,
                     round(corr(value, user_id), 4) AS corr_vu
              FROM events GROUP BY event_type ORDER BY event_type""")),

    // GROUPING SETS through the SQL surface (the fourth grouping shape
    // next to groupBy/rollup/cube).
    Q("agg_grouping_sets",
      (s, dir) => {
        t(s, dir, "lineitem").createOrReplaceTempView("lineitem_v")
        s.sql("""SELECT coalesce(l_returnflag, 'ALL') AS rf,
                        coalesce(l_linestatus, 'ALL') AS ls,
                        round(sum(l_extendedprice), 2) AS sum_price
                 FROM lineitem_v
                 GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
                 ORDER BY rf, ls""")
      },
      Some("""SELECT coalesce(l_returnflag, 'ALL') AS rf,
                     coalesce(l_linestatus, 'ALL') AS ls,
                     round(sum(l_extendedprice), 2) AS sum_price
              FROM lineitem
              GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
              ORDER BY rf, ls""")),

    // Typed Aggregator (UDAF): per-label embedding centroid — the k-means
    // update step, constant-size mergeable buffers. Exploded to
    // (label, dim_idx, value) rows for the oracle.
    Q("agg_centroid",
      (s, dir) => {
        import s.implicits._
        val agg = new CentroidAggregator(64)
        t(s, dir, "embeddings")
          .select(col("label"), col("embedding"))
          .as[(Int, Seq[Float])]
          .groupByKey(_._1)
          .mapValues(_._2)
          .agg(agg.toColumn.name("centroid"))
          .toDF("label", "centroid")
          .select(col("label"), posexplode(col("centroid")).as(Seq("dim_idx", "c")))
          .select(col("label"), col("dim_idx").cast("long").as("dim_idx"), round(col("c"), 6).as("c"))
          .orderBy("label", "dim_idx")
      },
      Some("""SELECT label, i - 1 AS dim_idx, round(avg(v), 6) AS c
              FROM (SELECT label, generate_subscripts(embedding, 1) AS i,
                           unnest(embedding) AS v
                    FROM embeddings)
              GROUP BY label, i ORDER BY label, dim_idx""")),

    // Two-stage salted aggregation (manual skew mitigation): a hot group
    // key fans out over 8 salt buckets in stage 1, partials merge in
    // stage 2 — same answer as the direct aggregation (the oracle), 8×
    // the reducers on the hot key.
    Q("agg_salted",
      (s, dir) => Skew.saltedAggregate(
          t(s, dir, "events"),
          keyCols = Seq("event_type"),
          saltSource = col("event_id"),
          buckets = 8,
          partials = Seq(count(lit(1)).as("pn"), sum("value").as("psum")),
          finals = Seq(sum("pn").as("n"), round(sum("psum"), 2).as("sum_value")))
        .orderBy("event_type"),
      Some("""SELECT event_type, count(*) AS n, round(sum(value), 2) AS sum_value
              FROM events GROUP BY event_type ORDER BY event_type""")),

    // Dynamic payloads as Spark 4 VARIANT (SURVEY §1.4's alternative to
    // JSON-string columns): parse once, typed extraction after.
    Q("cdc_variant",
      (s, dir) => t(s, dir, "events")
        .select(col("event_id"),
          try_variant_get(parse_json(col("props")), "$.k", "int").as("k"))
        .orderBy("event_id"),
      Some("""SELECT event_id,
                     CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
              FROM events ORDER BY event_id""")),

    // Pivot (crosstab): event counts per user fanned into one column per
    // event type. Values are enumerated explicitly so the plan is a single
    // aggregation pass (no extra distinct-values job) — the form that
    // scales.
    Q("agg_pivot",
      (s, dir) => t(s, dir, "events")
        .groupBy("user_id")
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy("user_id"),
      Some("""SELECT user_id,
                     count(*) FILTER (WHERE event_type = 'click') AS click,
                     count(*) FILTER (WHERE event_type = 'error') AS error,
                     count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
                     count(*) FILTER (WHERE event_type = 'signup') AS signup,
                     count(*) FILTER (WHERE event_type = 'view') AS view
              FROM events GROUP BY user_id ORDER BY user_id""")),

    // Ordered-statistics aggregation: exact interpolated percentiles
    // (median/p90) via the bucket-histogram rank selection in
    // `WeightedQuantile.exactPercentiles` — bit-identical to
    // `percentile(value, q)` but with constant-size shuffle rows instead
    // of an agg buffer holding every value of the group (the form that
    // OOMs one task per huge group at corpus scale).
    Q("agg_median",
      (s, dir) => graft.operators.WeightedQuantile
        .exactPercentiles(t(s, dir, "events"), "event_type", "value",
          Seq(0.5, 0.9))
        .groupBy("event_type")
        .agg(
          round(max(when(col("q") === 0.5, col("pctl"))), 4).as("median_value"),
          round(max(when(col("q") === 0.9, col("pctl"))), 4).as("p90_value"))
        .orderBy("event_type"),
      Some("""SELECT event_type,
                     round(quantile_cont(value, 0.5), 4) AS median_value,
                     round(quantile_cont(value, 0.9), 4) AS p90_value
              FROM events GROUP BY event_type ORDER BY event_type""")),

    // Array-function coverage over the embedding vectors (exact float
    // comparisons only — no accumulation-order hazards).
    Q("fn_array",
      (s, dir) => t(s, dir, "embeddings")
        .select(
          col("vec_id"),
          size(col("embedding")).cast("long").as("dim"),
          array_max(col("embedding")).as("max_elem"),
          array_min(col("embedding")).as("min_elem"),
          element_at(col("embedding"), 1).as("first_elem"))
        .orderBy("vec_id"),
      Some("""SELECT vec_id, len(embedding) AS dim,
                     list_max(embedding) AS max_elem,
                     list_min(embedding) AS min_elem,
                     embedding[1] AS first_elem
              FROM embeddings ORDER BY vec_id""")),

    // Scalar-function breadth: string/date/math built-ins in one narrow
    // zero-shuffle projection.
    Q("fn_scalar",
      (s, dir) => t(s, dir, "orders")
        .select(
          col("o_orderkey"),
          upper(substring(col("o_orderpriority"), 1, 8)).as("prio"),
          year(col("o_orderdate")).cast("long").as("yr"),
          month(col("o_orderdate")).cast("long").as("mo"),
          datediff(lit("1999-01-01").cast("date"), col("o_orderdate").cast("date")).cast("long").as("days_to_99"),
          round(abs(col("o_totalprice") - 1000.0), 2).as("abs_dev"),
          floor(col("o_totalprice") / 100.0).cast("long").as("price_bucket"),
          concat_ws("-", col("o_orderstatus"), col("o_orderpriority")).as("status_prio"))
        .orderBy("o_orderkey"),
      Some("""SELECT o_orderkey,
                     upper(substr(o_orderpriority, 1, 8)) AS prio,
                     year(o_orderdate) AS yr,
                     month(o_orderdate) AS mo,
                     datediff('day', o_orderdate::DATE, DATE '1999-01-01') AS days_to_99,
                     round(abs(o_totalprice - 1000.0), 2) AS abs_dev,
                     CAST(floor(o_totalprice / 100.0) AS BIGINT) AS price_bucket,
                     o_orderstatus || '-' || o_orderpriority AS status_prio
              FROM orders ORDER BY o_orderkey""")),

    // Distribution windows: quartile bucketing + relative rank in one
    // pass. One shuffle on the partition key; the (c_acctbal, c_custkey)
    // order key is unique per partition, so every engine agrees on the
    // frame and ntile boundaries.
    Q("win_ntile",
      (s, dir) => {
        val w = Window.partitionBy("c_mktsegment")
          .orderBy(col("c_acctbal"), col("c_custkey"))
        t(s, dir, "customer")
          .select(col("c_custkey"), col("c_mktsegment"),
            ntile(4).over(w).cast("long").as("quartile"),
            round(percent_rank().over(w), 6).as("pct_rank"),
            round(cume_dist().over(w), 6).as("cd"))
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey, c_mktsegment,
                     ntile(4) OVER w AS quartile,
                     round(percent_rank() OVER w, 6) AS pct_rank,
                     round(cume_dist() OVER w, 6) AS cd
              FROM customer
              WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
              ORDER BY c_custkey""")),

    // Per-group mode (most frequent value, smallest-first tie-break) —
    // count aggregation + a rank window over the (small) per-group count
    // table, never the raw rows. Explicit tie-break because engines'
    // native mode() leaves ties unspecified.
    Q("agg_mode",
      (s, dir) => {
        val counts = t(s, dir, "events")
          .groupBy("user_id", "event_type").agg(count(lit(1)).as("n"))
        val w = Window.partitionBy("user_id")
          .orderBy(col("n").desc, col("event_type"))
        counts.withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("user_id"), col("event_type").as("mode_event"), col("n"))
          .orderBy("user_id")
      },
      Some("""SELECT user_id, event_type AS mode_event, n FROM (
                SELECT user_id, event_type, count(*) AS n,
                       row_number() OVER (PARTITION BY user_id
                         ORDER BY count(*) DESC, event_type) AS rn
                FROM events GROUP BY user_id, event_type)
              WHERE rn = 1 ORDER BY user_id""")),

    // Skew-mitigated equi-join ([[Skew.saltedJoin]]): the fact side
    // salts on event_id, the dim side replicates once per salt, and the
    // join key becomes (key, salt) — a hot fact key spreads over 8
    // reducers. The oracle is the PLAIN join: salting must be invisible
    // in the result, only in the shuffle layout.
    Q("join_salted",
      (s, dir) => Skew.saltedJoin(
          t(s, dir, "events"),
          t(s, dir, "customer")
            .select(col("c_custkey"), col("c_mktsegment")),
          "user_id", "c_custkey", saltSource = col("event_id"), buckets = 8)
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
        .orderBy("c_mktsegment"),
      Some("""SELECT c_mktsegment, count(*) AS n,
                     round(sum(value), 2) AS sum_value
              FROM events JOIN customer ON user_id = c_custkey
              GROUP BY c_mktsegment ORDER BY c_mktsegment""")),

    // OHLC downsampling (the time-series resample a metrics/feature
    // pipeline runs): 6-hour buckets per event type; open/close are
    // picked by min_by/max_by on the total (ts, event_id) order — one
    // aggregation pass, no window, partials merge map-side.
    Q("ts_downsample",
      (s, dir) => {
        val ord = struct(col("ts"), col("event_id"))
        t(s, dir, "events")
          .withColumn("bucket",
            concat(date_format(col("ts"), "yyyy-MM-dd"), lit(" +"),
              (hour(col("ts")) - pmod(hour(col("ts")), lit(6))).cast("string"),
              lit("h")))
          .groupBy("event_type", "bucket")
          .agg(
            round(min_by(col("value"), ord), 2).as("open"),
            round(max_by(col("value"), ord), 2).as("close"),
            round(min("value"), 2).as("low"),
            round(max("value"), 2).as("high"),
            count(lit(1)).as("n"))
          .orderBy("event_type", "bucket")
      },
      Some("""SELECT event_type,
                     strftime(ts, '%Y-%m-%d')
                       || ' +' || (hour(ts) - hour(ts) % 6) || 'h' AS bucket,
                     round(first(value ORDER BY ts, event_id), 2) AS open,
                     round(last(value ORDER BY ts, event_id), 2) AS close,
                     round(min(value), 2) AS low,
                     round(max(value), 2) AS high,
                     count(*) AS n
              FROM events GROUP BY event_type, bucket
              ORDER BY event_type, bucket""")),

    // UNPIVOT (melt) — the inverse of agg_pivot: wide per-segment stats
    // → long (segment, metric, val) triples via the native unpivot
    // operator (an Expand node: no shuffle beyond the aggregation's).
    Q("agg_unpivot",
      (s, dir) => t(s, dir, "customer")
        .groupBy("c_mktsegment")
        .agg(round(sum("c_acctbal"), 2).as("sum_bal"),
          round(min("c_acctbal"), 2).as("min_bal"),
          round(max("c_acctbal"), 2).as("max_bal"))
        .unpivot(Array(col("c_mktsegment")),
          Array(col("sum_bal"), col("min_bal"), col("max_bal")),
          "metric", "val")
        .orderBy("c_mktsegment", "metric"),
      Some("""WITH agg AS (
                SELECT c_mktsegment,
                       round(sum(c_acctbal), 2) AS sum_bal,
                       round(min(c_acctbal), 2) AS min_bal,
                       round(max(c_acctbal), 2) AS max_bal
                FROM customer GROUP BY c_mktsegment)
              SELECT c_mktsegment, metric, val
              FROM agg UNPIVOT (val FOR metric IN (sum_bal, min_bal, max_bal))
              ORDER BY c_mktsegment, metric""")),

    // Bloom-pruned join ([[BloomPrune.prunedJoin]]): a SELECTIVE dim
    // (1 in 4 customers) builds a Bloom filter that drops non-matching
    // fact rows BEFORE the join shuffle — no false negatives, so the
    // oracle is the PLAIN join and must match exactly; false positives
    // only shuffle rows the join discards.
    Q("join_bloom",
      (s, dir) => BloomPrune.prunedJoin(
          t(s, dir, "events"),
          t(s, dir, "customer")
            .filter(col("c_custkey") % 4 === 1)
            .select(col("c_custkey"), col("c_mktsegment")),
          "user_id", "c_custkey", expectedItems = 10000L, fpp = 0.01)
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
        .orderBy("c_mktsegment"),
      Some("""SELECT c_mktsegment, count(*) AS n,
                     round(sum(value), 2) AS sum_value
              FROM events JOIN customer ON user_id = c_custkey
              WHERE c_custkey % 4 = 1
              GROUP BY c_mktsegment ORDER BY c_mktsegment""")),

    // MERGEABLE sketch reuse (theta/KMV since r17; the HLL register-max
    // variant stays spec-pinned in SketchSpec): build PARTIAL
    // per-(type, day) sketches — the artifacts an incremental pipeline
    // persists at ingest — then answer the per-type distinct-users
    // question by UNIONING sketches, never re-touching the events. At
    // 100 TB this is the difference between re-scanning a year of raw
    // events per dashboard refresh and merging 365 kilobyte-sized
    // sketches; the KMV bottom-k union is LOSSLESS (bottomK(∪ partials)
    // = bottomK(global) — KmvSpec proves array equality), and because
    // the merged sketch is a pure function of the distinct-hash set the
    // DuckDB oracle certifies it the strongest way possible: the SQL
    // computes the GLOBAL sketch directly from raw events, so the hash
    // match IS the cross-engine merge-losslessness theorem, row by row.
    Q("agg_sketch_reuse",
      (s, dir) => {
        val kmv = graft.functions.Kmv.sketchUdaf()
        import graft.functions.Kmv
        val daily = t(s, dir, "events")
          .select(col("event_type"), date_trunc("day", col("ts")).as("day"),
            Kmv.hash64(col("user_id")).as("h"))
          .groupBy(col("event_type"), col("day"))
          .agg(kmv(col("h")).as("sk"))
        daily
          .select(col("event_type"), col("day"), explode(col("sk")).as("h"))
          .groupBy("event_type")
          .agg(kmv(col("h")).as("sk"),
            countDistinct(col("day")).as("n_partials"))
          .select(col("event_type"),
            Kmv.estimate(col("sk")).as("approx_users"), col("n_partials"))
          .orderBy("event_type")
      },
      Some {
        import graft.functions.Kmv
        s"""WITH d AS (SELECT DISTINCT event_type,
                              ${Kmv.hash64Sql("user_id::VARCHAR")} AS h
                       FROM events),
            r AS (SELECT event_type, h,
                         row_number() OVER (PARTITION BY event_type
                                            ORDER BY h) AS rn
                  FROM d),
            keep AS (SELECT event_type, list_sort(list(h)) AS u
                     FROM r WHERE rn <= ${Kmv.Capacity}
                     GROUP BY event_type),
            np AS (SELECT event_type,
                          count(DISTINCT date_trunc('day', ts)) AS n_partials
                   FROM events GROUP BY event_type)
            SELECT k.event_type, ${Kmv.estimateSql("u")} AS approx_users,
                   np.n_partials
            FROM keep k JOIN np USING (event_type)
            ORDER BY event_type"""
      }),

    // BANKED sketches as a durable artifact (new r17): the
    // agg_sketch_reuse partials made persistent — per-(type, day) KMV
    // sketches written ONCE per fixture (fingerprint-gated, atomic —
    // the [[SharedPartitionedEvents]] contract), then a dashboard
    // question ("7-day reach per type, ending at the freshest banked
    // day") answered from the BANK ALONE: the plan scans kilobytes of
    // sketch rows, never events (KmvSpec plan-asserts zero events
    // scans). At 100 TB this is the nightly-ingest + interactive-
    // dashboard split: ingest appends one sketch row per (type, day);
    // every refresh costs O(types × days-in-window × k) regardless of
    // event volume. The window cutoff derives relationally from the
    // bank's own max(day) (broadcast 1-row join — no driver collect),
    // and the oracle recomputes the same window's GLOBAL sketch from
    // raw events, so the hash match again proves merge losslessness.
    Q("agg_sketch_banked",
      (s, dir) => {
        import graft.functions.Kmv
        val kmv = Kmv.sketchUdaf()
        val bank = s.read.parquet(SharedSketchBank(s, dir))
        val maxd = bank.agg(max(col("day")).as("maxd"))
        bank.crossJoin(broadcast(maxd))
          .filter(col("day") >= col("maxd") - expr("INTERVAL 6 DAYS"))
          .select(col("event_type"), col("day"), explode(col("sk")).as("h"))
          .groupBy("event_type")
          .agg(kmv(col("h")).as("sk"), countDistinct(col("day")).as("n_days"))
          .select(col("event_type"),
            Kmv.estimate(col("sk")).as("approx_users_7d"), col("n_days"))
          .orderBy("event_type")
      },
      Some {
        import graft.functions.Kmv
        s"""WITH mx AS (SELECT max(date_trunc('day', ts)) AS maxd FROM events),
            w AS (SELECT event_type, user_id, date_trunc('day', ts) AS day
                  FROM events, mx
                  WHERE date_trunc('day', ts) >= maxd - INTERVAL 6 DAY),
            d AS (SELECT DISTINCT event_type,
                         ${Kmv.hash64Sql("user_id::VARCHAR")} AS h
                  FROM w),
            r AS (SELECT event_type, h,
                         row_number() OVER (PARTITION BY event_type
                                            ORDER BY h) AS rn
                  FROM d),
            keep AS (SELECT event_type, list_sort(list(h)) AS u
                     FROM r WHERE rn <= ${Kmv.Capacity}
                     GROUP BY event_type),
            nd AS (SELECT event_type, count(DISTINCT day) AS n_days
                   FROM w GROUP BY event_type)
            SELECT k.event_type, ${Kmv.estimateSql("u")} AS approx_users_7d,
                   nd.n_days
            FROM keep k JOIN nd USING (event_type)
            ORDER BY event_type"""
      }),

    // Theta-sketch set INTERSECTION (new r17) — the estimator family
    // KMV unlocks that HLL structurally cannot: audience overlap
    // |A ∩ B| between every pair of event types from the SAME bottom-k
    // sketches agg_sketch_reuse banks, never re-touching raw events.
    // Standard theta intersection: θ = min(θ_A, θ_B) where θ_X = h₍ₖ₎
    // of a saturated sketch (2⁶⁰ when exact); both sketches' retained
    // hashes below θ are a uniform sample of each set at the SAME
    // sampling rate θ/2⁶⁰, so |A∩B| ≈ |S_A ∩ S_B ∩ [0,θ)| · 2⁶⁰ / θ —
    // one formula, exact when both sketches are exact. Pure set
    // arithmetic over md5 hashes → the oracle replays it bit-for-bit.
    // Scale shape: the pair join is over 5 sketch rows (one per type),
    // never the corpus; at 10⁴ types it is still a self-join of
    // kilobyte rows.
    Q("agg_sketch_intersect",
      (s, dir) => {
        import graft.functions.Kmv
        val kmv = Kmv.sketchUdaf()
        val sk = t(s, dir, "events")
          .select(col("event_type"), Kmv.hash64(col("user_id")).as("h"))
          .groupBy("event_type")
          .agg(kmv(col("h")).as("sk"))
        def theta(c: Column): Column =
          when(size(c) <= Kmv.K, lit(Kmv.TwoPow60))
            .otherwise(element_at(c, Kmv.K))
        val a = sk.select(col("event_type").as("type_a"), col("sk").as("ska"))
        val b = sk.select(col("event_type").as("type_b"), col("sk").as("skb"))
        a.join(b, col("type_a") < col("type_b"))
          .withColumn("th", least(theta(col("ska")), theta(col("skb"))))
          .withColumn("c", size(array_intersect(
            filter(col("ska"), x => x < col("th")),
            filter(col("skb"), x => x < col("th")))).cast("double"))
          .select(col("type_a"), col("type_b"),
            floor(col("c") * lit(Kmv.TwoPow60.toDouble) /
              col("th").cast("double")).as("approx_common_users"))
          .orderBy("type_a", "type_b")
      },
      Some {
        import graft.functions.Kmv
        s"""WITH d AS (SELECT DISTINCT event_type,
                              ${Kmv.hash64Sql("user_id::VARCHAR")} AS h
                       FROM events),
            r AS (SELECT event_type, h,
                         row_number() OVER (PARTITION BY event_type
                                            ORDER BY h) AS rn,
                         count(*) OVER (PARTITION BY event_type) AS n
                  FROM d),
            keep AS (SELECT event_type, h, rn, n FROM r
                     WHERE rn <= ${Kmv.Capacity}),
            th AS (SELECT event_type,
                          CASE WHEN max(n) <= ${Kmv.K} THEN ${Kmv.TwoPow60}
                               ELSE max(CASE WHEN rn = ${Kmv.K} THEN h END)
                          END AS theta
                   FROM keep GROUP BY event_type),
            pairs AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
                             least(a.theta, b.theta) AS t
                      FROM th a JOIN th b ON a.event_type < b.event_type),
            c AS (SELECT p.type_a, p.type_b, count(*) AS nc
                  FROM pairs p
                  JOIN keep x ON x.event_type = p.type_a AND x.h < p.t
                  JOIN keep y ON y.event_type = p.type_b AND y.h = x.h
                             AND y.h < p.t
                  GROUP BY 1, 2)
            SELECT p.type_a, p.type_b,
                   CAST(floor(CAST(coalesce(c.nc, 0) AS DOUBLE)
                              * ${Kmv.TwoPow60}.0
                              / CAST(p.t AS DOUBLE)) AS BIGINT)
                     AS approx_common_users
            FROM pairs p LEFT JOIN c
              ON c.type_a = p.type_a AND c.type_b = p.type_b
            ORDER BY 1, 2"""
      }),

    // Z-ORDER layout key ([[graft.operators.ZOrder]]): the Morton
    // z-value that clusters a table for 2-D min/max pruning, computed as
    // a pure integer expression tree (shift/mask/add — codegen'd, zero
    // shuffle). The write path and the measured locality/pruning win
    // live in ZOrder.writeZOrdered + ZOrderSpec; this query oracles the
    // curve arithmetic itself bit-for-bit against a textual SQL
    // expansion of the same interleave.
    Q("layout_zorder",
      (s, dir) => {
        import graft.operators.ZOrder
        val x = col("user_id").bitwiseAND(lit(1023L))
        val y = floor(col("value")).cast("long").bitwiseAND(lit(1023L))
        t(s, dir, "events")
          .select(col("event_id"), x.as("x"), y.as("y"),
            ZOrder.zorder2(x, y, bits = 10).as("z"))
          .orderBy("event_id")
      },
      Some {
        val xs = "(user_id & 1023)"
        val ys = "(CAST(floor(value) AS BIGINT) & 1023)"
        s"""SELECT event_id, $xs AS x, $ys AS y,
                   ${graft.operators.ZOrder.zorder2Sql(xs, ys, bits = 10)} AS z
            FROM events ORDER BY event_id"""
      }),

    // Z-ORDER layout EVALUATION — the measurement twin the layout
    // family was missing (dedup/ANN/classifier/packing/PII each have
    // one): quantify the file-skipping a z-clustered layout buys over a
    // linearly-clustered one, analytically from per-file min/max
    // manifests — the decision a table owner reads before paying the
    // re-cluster. Files are modeled as key-prefix ranges (64 z-prefix
    // files vs 64 x-prefix files); per-file (x, y) bounds and row
    // counts derive from ONE corpus pass into a ≤64×64 cell frame, the
    // two layout manifests come off that frame via an in-row explode
    // (no second corpus scan), and three canonical predicates (x band,
    // y band, xy box) probe both manifests with ordinary min/max
    // intersection — exactly the pruning arithmetic the scan planner
    // runs. The expected shape the fixture reproduces: the linear
    // layout prunes x bands well and y bands not at all (every file
    // spans all y); z-order prunes BOTH dimensions at ~√F cost.
    Q("layout_zorder_eval",
      (s, dir) => {
        import graft.operators.ZOrder
        val x = col("user_id").bitwiseAND(lit(1023L))
        val y = floor(col("value")).cast("long").bitwiseAND(lit(1023L))
        val cells = t(s, dir, "events")
          .select(x.as("x"), y.as("y"),
            ZOrder.zorder2(x, y, bits = 10).as("z"))
          .groupBy(shiftright(col("z"), 14).as("fz"),
            shiftright(col("x"), 4).as("fx"))
          .agg(min("x").as("mnx"), max("x").as("mxx"),
            min("y").as("mny"), max("y").as("mxy"),
            count(lit(1)).as("rows"))
        val files = cells
          .select(explode(array(
            struct(lit("zorder").as("layout"), col("fz").as("f")),
            struct(lit("linear").as("layout"), col("fx").as("f")))).as("lf"),
            col("mnx"), col("mxx"), col("mny"), col("mxy"), col("rows"))
          .groupBy(col("lf.layout").as("layout"), col("lf.f").as("f"))
          .agg(min("mnx").as("mnx"), max("mxx").as("mxx"),
            min("mny").as("mny"), max("mxy").as("mxy"),
            sum("rows").as("rows"))
        val preds = s.range(1).select(explode(array(
          struct(lit("x_band").as("pred"),
            lit(96L).as("xlo"), lit(159L).as("xhi"),
            lit(0L).as("ylo"), lit(1023L).as("yhi")),
          struct(lit("y_band").as("pred"),
            lit(0L).as("xlo"), lit(1023L).as("xhi"),
            lit(192L).as("ylo"), lit(255L).as("yhi")),
          struct(lit("xy_box").as("pred"),
            lit(96L).as("xlo"), lit(159L).as("xhi"),
            lit(192L).as("ylo"), lit(255L).as("yhi")))).as("p"))
          .select("p.*")
        val touched = col("mnx") <= col("xhi") && col("mxx") >= col("xlo") &&
          col("mny") <= col("yhi") && col("mxy") >= col("ylo")
        files.crossJoin(broadcast(preds))
          .groupBy("layout", "pred")
          .agg(count(lit(1)).as("n_files"),
            sum(when(touched, 1L).otherwise(0L)).as("files_touched"),
            sum(when(touched, col("rows")).otherwise(0L)).as("rows_touched"))
          .orderBy("layout", "pred")
      },
      Some {
        val xs = "(user_id & 1023)"
        val ys = "(CAST(floor(value) AS BIGINT) & 1023)"
        s"""WITH pts AS (SELECT $xs AS x, $ys AS y,
                                ${graft.operators.ZOrder.zorder2Sql(xs, ys, bits = 10)} AS z
                         FROM events),
               cells AS (SELECT z // 16384 AS fz, x // 16 AS fx,
                                min(x) AS mnx, max(x) AS mxx,
                                min(y) AS mny, max(y) AS mxy,
                                count(*) AS rows
                         FROM pts GROUP BY 1, 2),
               files AS (SELECT layout, f,
                                min(mnx) AS mnx, max(mxx) AS mxx,
                                min(mny) AS mny, max(mxy) AS mxy,
                                CAST(sum(rows) AS BIGINT) AS rows
                         FROM (SELECT 'zorder' AS layout, fz AS f, * FROM cells
                               UNION ALL
                               SELECT 'linear' AS layout, fx AS f, * FROM cells)
                         GROUP BY 1, 2),
               preds AS (SELECT * FROM (VALUES
                           ('x_band', 96, 159, 0, 1023),
                           ('y_band', 0, 1023, 192, 255),
                           ('xy_box', 96, 159, 192, 255))
                         AS t(pred, xlo, xhi, ylo, yhi))
             SELECT layout, pred, count(*) AS n_files,
                    CAST(sum(CASE WHEN mnx <= xhi AND mxx >= xlo
                                   AND mny <= yhi AND mxy >= ylo
                             THEN 1 ELSE 0 END) AS BIGINT) AS files_touched,
                    CAST(sum(CASE WHEN mnx <= xhi AND mxx >= xlo
                                   AND mny <= yhi AND mxy >= ylo
                             THEN rows ELSE 0 END) AS BIGINT) AS rows_touched
             FROM files CROSS JOIN preds
             GROUP BY 1, 2 ORDER BY layout, pred"""
      }),

    // The SAME pruning in the ≥1 MB-filter regime
    // ([[BloomPrune.prunedJoinSubquery]]): the Bloom filter is built
    // in-plan by `bloom_filter_agg` inside an uncorrelated scalar
    // subquery — executor-built, held once in the subquery result,
    // never a plan literal and never on the driver. This is the form
    // that stays correct when the dim has 10⁸ keys and the filter is
    // ~100 MB; sized here at 10⁶ items (~1.2 MB — already past the
    // literal threshold documented on prunedJoin). Oracle = the plain
    // join, proving no false negatives end-to-end.
    Q("join_bloom_inplan",
      (s, dir) => BloomPrune.prunedJoinSubquery(
          t(s, dir, "events"),
          t(s, dir, "customer")
            .filter(col("c_custkey") % 4 === 1)
            .select(col("c_custkey"), col("c_mktsegment")),
          "user_id", "c_custkey", expectedItems = 1000000L)
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
        .orderBy("c_mktsegment"),
      Some("""SELECT c_mktsegment, count(*) AS n,
                     round(sum(value), 2) AS sum_value
              FROM events JOIN customer ON user_id = c_custkey
              WHERE c_custkey % 4 = 1
              GROUP BY c_mktsegment ORDER BY c_mktsegment""")),

    // Multi-way join TREE (TPC-H Q5 shape): lineitem ⋈ orders ⋈ customer
    // ⋈ supplier (with the "local supplier" c_nationkey = s_nationkey
    // condition) ⋈ nation ⋈ region — the join-ORDER workload the 2-table
    // queries don't exercise. Declared joins are all equi-joins, so
    // Catalyst is free to reorder and AQE to pick build sides; the two
    // genuinely small dims broadcast (plan-asserted) and the r_name
    // predicate pushes into the region scan, shrinking the broadcast
    // before it happens. At 100 TB the three fact-side joins shuffle each
    // input ONCE on its join key; nation/region never shuffle at all.
    Q("join_multiway",
      (s, dir) => t(s, dir, "lineitem")
        .join(t(s, dir, "orders")
            .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
              col("o_orderdate") < lit("2000-01-01").cast("timestamp")),
          col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(t(s, dir, "supplier"),
          col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(t(s, dir, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region")),
          col("n_regionkey") === col("r_regionkey"))
        .filter(col("r_name") === "ASIA")
        .groupBy("n_name")
        .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
            .as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("n_name"),
      Some("""SELECT n_name,
                     round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
                     count(*) AS n_items
              FROM customer, orders, lineitem, supplier, nation, region
              WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
                AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
                AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
                AND r_name = 'ASIA'
                AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
                AND o_orderdate < TIMESTAMP '2000-01-01 00:00:00'
              GROUP BY n_name ORDER BY n_name""")),

    // Co-located join on pre-BUCKETED tables ([[SharedBucketedTables]]):
    // lineitem and orders are written ONCE bucketed+sorted on the
    // orderkey (8 buckets), so the join needs NO exchange on either side
    // — at 100 TB the difference between re-shuffling the fact tables on
    // every pipeline run and never shuffling them again (the bucketed
    // write is the one shuffle, paid once at ingest). Zero shuffles below
    // the join is plan-asserted in BucketingSpec; the result is the plain
    // join's, so the oracle is the plain SQL.
    Q("join_bucketed",
      (s, dir) => {
        val (liT, ordT) = SharedBucketedTables(s, dir)
        Bucketing.bucketedJoin(s, liT, ordT, "l_orderkey", "o_orderkey")
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n_items"),
            round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
              .as("revenue"))
          .orderBy("o_orderpriority")
      },
      Some("""SELECT o_orderpriority, count(*) AS n_items,
                     round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
              FROM lineitem JOIN orders ON l_orderkey = o_orderkey
              GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    // Gap filling: densify the hourly series (every type × every hour of
    // the corpus span, via an in-plan min/max + sequence explode — no
    // driver round trip) and forward-fill missing buckets from the last
    // observed value. The spine is |types|×|hours| rows — tiny next to
    // the events — and the fill is one window over it, so the event scan
    // aggregates first and only the compact series shuffles.
    Q("ts_gap_fill",
      (s, dir) => {
        val events = t(s, dir, "events")
        val hourly = events
          .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
          // the filled metric is the hourly SUM, not the mean: fixture
          // values carry 2 decimals, so the sum is a 2-decimal-exact
          // quantity and round(·, 2) is the identity on both engines —
          // a mean divides by the bucket count and systematically lands
          // on .···5 half-way points (1403.37/24 = 58.47375) where the
          // engines' double→decimal rounding paths diverge
          .agg(round(sum("value"), 2).as("v"), count(lit(1)).as("n"))
        val span = events.agg(
          date_trunc("hour", min("ts")).as("mn"),
          date_trunc("hour", max("ts")).as("mx"))
        val spine = events.select("event_type").distinct()
          .crossJoin(broadcast(span))
          .select(col("event_type"),
            explode(sequence(col("mn"), col("mx"), expr("interval 1 hour"))).as("h"))
        val w = Window.partitionBy("event_type").orderBy("h")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        spine.join(hourly, Seq("event_type", "h"), "left")
          .select(col("event_type"),
            date_format(col("h"), "yyyy-MM-dd HH:00").as("bucket"),
            col("v").isNull.as("filled"),
            last(col("v"), ignoreNulls = true).over(w).as("value"),
            coalesce(col("n"), lit(0L)).as("n"))
          .orderBy("event_type", "bucket")
      },
      Some("""WITH hourly AS (
                SELECT event_type, date_trunc('hour', ts) AS h,
                       round(sum(value), 2) AS v, count(*) AS n
                FROM events GROUP BY event_type, h),
              span AS (
                SELECT min(date_trunc('hour', ts)) AS mn,
                       max(date_trunc('hour', ts)) AS mx
                FROM events),
              spine AS (
                SELECT event_type, unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS h
                FROM (SELECT DISTINCT event_type FROM events), span)
              SELECT s.event_type,
                     strftime(s.h, '%Y-%m-%d %H:00') AS bucket,
                     hourly.v IS NULL AS filled,
                     last_value(hourly.v IGNORE NULLS) OVER
                       (PARTITION BY s.event_type ORDER BY s.h
                        ROWS UNBOUNDED PRECEDING) AS value,
                     coalesce(hourly.n, 0) AS n
              FROM spine s LEFT JOIN hourly
                ON s.event_type = hourly.event_type AND s.h = hourly.h
              ORDER BY s.event_type, bucket""")),

    // WEIGHTED median per group — an aggregate Spark has no built-in for
    // (percentile/approx_percentile are unweighted): the lower weighted
    // median is the smallest value whose running weight reaches half the
    // group's total. One windowed cumulative sum over the group-sorted
    // rows (a range-partitioned sort at cluster scale; the group count
    // is tiny so the final agg is trivial), then min-over-qualifying.
    // l_quantity's integer-valued weights keep every cumulative sum
    // exact in ieee754, so the >=-half decision is fp-safe in both
    // engines; (price, orderkey, linenumber) is a unique sort key so the
    // running weights agree row-for-row.
    Q("agg_weighted_median",
      (s, dir) => {
        val w = Window.partitionBy("l_returnflag")
          .orderBy(col("l_extendedprice"), col("l_orderkey"), col("l_linenumber"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        t(s, dir, "lineitem")
          .withColumn("cumw", sum("l_quantity").over(w))
          .withColumn("totw",
            sum("l_quantity").over(Window.partitionBy("l_returnflag")))
          .filter(col("cumw") * 2 >= col("totw"))
          .groupBy("l_returnflag")
          .agg(round(min("l_extendedprice"), 2).as("w_median"),
            round(max("totw"), 1).as("total_weight"))
          .orderBy("l_returnflag")
      },
      Some("""WITH cum AS (
                SELECT l_returnflag, l_extendedprice,
                       sum(l_quantity) OVER
                         (PARTITION BY l_returnflag
                          ORDER BY l_extendedprice, l_orderkey, l_linenumber
                          ROWS UNBOUNDED PRECEDING) AS cumw,
                       sum(l_quantity) OVER (PARTITION BY l_returnflag) AS totw
                FROM lineitem)
              SELECT l_returnflag, round(min(l_extendedprice), 2) AS w_median,
                     round(max(totw), 1) AS total_weight
              FROM cum WHERE cumw * 2 >= totw
              GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // The SCALABLE exact path for the same weighted median: the windowed
    // form above sorts every group in full — with 3 groups that is 3
    // sort tasks however big the table. The two-pass bucketed variant
    // (operators/WeightedQuantile.scala) histograms weights into 1024
    // value buckets (partial agg, ≤ groups×buckets shuffle rows), finds
    // each group's cut bucket on the compact histogram, and sorts ONLY
    // that bucket's rows (~1/1000 of the group). Identical answer by
    // construction — so it shares the windowed oracle SQL verbatim.
    Q("agg_weighted_median_bucketed",
      (s, dir) => WeightedQuantile.weightedQuantile(
          t(s, dir, "lineitem"), "l_returnflag", "l_extendedprice", "l_quantity")
        .select(col("l_returnflag"),
          round(col("w_quantile"), 2).as("w_median"),
          round(col("total_weight"), 1).as("total_weight"))
        .orderBy("l_returnflag"),
      Some("""WITH cum AS (
                SELECT l_returnflag, l_extendedprice,
                       sum(l_quantity) OVER
                         (PARTITION BY l_returnflag
                          ORDER BY l_extendedprice, l_orderkey, l_linenumber
                          ROWS UNBOUNDED PRECEDING) AS cumw,
                       sum(l_quantity) OVER (PARTITION BY l_returnflag) AS totw
                FROM lineitem)
              SELECT l_returnflag, round(min(l_extendedprice), 2) AS w_median,
                     round(max(totw), 1) AS total_weight
              FROM cum WHERE cumw * 2 >= totw
              GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // Interval-overlap COUNT per event_type — the sweep-line form. The
    // r13 sf1 audit measured the previous bucket-blocked self-join at
    // 51× per decade on this count-only output: at fixed time span,
    // colliding pairs per bucket grow quadratically with density, so a
    // query that only COUNTS pairs must never enumerate them. Sweep-line
    // identity instead: a pair of closed intervals is DISJOINT iff the
    // earlier one ends strictly before the later one starts, so
    //   overlaps = C(n,2) − Σ_starts #{ends strictly before that start}
    // — each disjoint pair is counted exactly once (both orderings
    // disjoint would need a_te < b_ts ≤ b_te < a_ts ≤ a_te). The
    // "#ends before each start" rank computes DISTRIBUTED, not via a
    // per-type global sort: endpoints land in hour buckets, a window
    // over (event_type, bucket) — bounded partitions — gives the
    // intra-bucket running end-count with starts ordered BEFORE ends at
    // the same instant (touching endpoints overlap, closed intervals),
    // and the cross-bucket prefix is a per-type cumulative over the
    // TINY (type, bucket) end-count frame, broadcast back. One bounded
    // shuffle + one broadcast — no join of the fact against itself, no
    // pair ever materialized, O(n log n) at any density.
    Q("join_interval",
      (s, dir) => {
        val iv = t(s, dir, "events").select(
          col("event_id"), col("event_type"), col("ts"),
          expr("timestampadd(MINUTE, CAST(floor(value) AS INT), ts)").as("te"))
        val pts = iv.select(col("event_type"), col("ts").as("t"),
            lit(0L).as("is_end"))
          .unionAll(iv.select(col("event_type"), col("te").as("t"),
            lit(1L).as("is_end")))
          .withColumn("bk", date_trunc("hour", col("t")))
        // per-(type, bucket) end totals → exclusive running prefix over
        // the bucket spine (tiny: |types| × |hours| rows)
        val wBk = Window.partitionBy("event_type").orderBy("bk")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val prefix = pts.groupBy("event_type", "bk")
          .agg(sum("is_end").as("ends_in_bk"))
          .withColumn("ends_before_bk",
            sum("ends_in_bk").over(wBk) - col("ends_in_bk"))
          .select("event_type", "bk", "ends_before_bk")
        // intra-bucket running end-count: ROWS frame ordered (t, is_end)
        // — ends at exactly a start's instant sort AFTER it, so only
        // STRICTLY earlier ends are counted (touching pairs overlap)
        val wIn = Window.partitionBy("event_type", "bk")
          .orderBy(col("t"), col("is_end"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        pts.withColumn("ends_running", sum("is_end").over(wIn))
          .filter(col("is_end") === 0L)
          .join(broadcast(prefix), Seq("event_type", "bk"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            sum(col("ends_running") + col("ends_before_bk")).as("d"))
          .select(col("event_type"),
            expr("n * (n - 1) div 2 - d").as("n_overlaps"))
          .orderBy("event_type")
      },
      Some("""WITH iv AS (SELECT event_id, event_type, ts,
                                 ts + to_minutes(CAST(floor(value) AS BIGINT)) AS te
                          FROM events)
              SELECT a.event_type, count(*) AS n_overlaps
              FROM iv a JOIN iv b
                ON a.event_type = b.event_type AND a.event_id < b.event_id
               AND a.ts <= b.te AND b.ts <= a.te
              GROUP BY a.event_type ORDER BY a.event_type""")),

    // Interval-overlap PAIR EMISSION via time-bucket blocking — now the
    // [[graft.operators.IntervalOverlap]] operator (see its scaladoc for
    // the shape: hour-bucket explosion, reporting-bucket dedup without a
    // pair-level distinct, and the r15 counted occupancy guard that
    // REFUSES a hot (type, bucket) key instead of letting one reducer
    // emit d²/2 pairs silently). Each event carries
    // [ts, ts + floor(value) minutes] (whole-second arithmetic so both
    // engines compare identical µs timestamps); bounded to ≥ 60
    // overlapping minutes — the emitting form always ships with a
    // selectivity dial (emit-everything is the sweep-line count query's
    // job to size first).
    Q("join_interval_pairs",
      (s, dir) => {
        val iv = t(s, dir, "events").select(
          col("event_id"), col("event_type"), col("ts"),
          expr("timestampadd(MINUTE, CAST(floor(value) AS INT), ts)").as("te"))
        graft.operators.IntervalOverlap.overlapPairs(iv,
            "event_type", "event_id", "ts", "te", minOverlapMinutes = 60L)
          .orderBy("a_id", "b_id")
      },
      Some("""WITH iv AS (SELECT event_id, event_type, ts,
                                 ts + to_minutes(CAST(floor(value) AS BIGINT)) AS te
                          FROM events)
              SELECT a.event_type,
                     a.event_id AS a_id, b.event_id AS b_id,
                     CAST(floor(date_diff('second',
                            greatest(a.ts, b.ts), least(a.te, b.te)) / 60.0)
                          AS BIGINT) AS ov_minutes
              FROM iv a JOIN iv b
                ON a.event_type = b.event_type AND a.event_id < b.event_id
               AND a.ts <= b.te AND b.ts <= a.te
              WHERE date_diff('second', greatest(a.ts, b.ts),
                              least(a.te, b.te)) >= 3600
              ORDER BY a_id, b_id""")),

    // Pairwise Pearson correlation matrix over the lineitem measures —
    // the feature-audit pass before model training. All six pairs come
    // out of ONE partial-aggregated global pass (each corr is a
    // constant-size mergeable moment sketch), and stack() unpivots the
    // single result row in place — no shuffle beyond the one global
    // aggregate, no per-pair rescans of the fact table. Rounded to
    // absorb merge-order ulps (same convention as agg_stats).
    Q("agg_corr_matrix",
      (s, dir) => t(s, dir, "lineitem")
        .agg(
          round(corr("l_quantity", "l_extendedprice"), 4).as("c_qp"),
          round(corr("l_quantity", "l_discount"), 4).as("c_qd"),
          round(corr("l_quantity", "l_tax"), 4).as("c_qt"),
          round(corr("l_extendedprice", "l_discount"), 4).as("c_pd"),
          round(corr("l_extendedprice", "l_tax"), 4).as("c_pt"),
          round(corr("l_discount", "l_tax"), 4).as("c_dt"))
        .selectExpr(
          """stack(6,
               'quantity|extendedprice', c_qp,
               'quantity|discount', c_qd,
               'quantity|tax', c_qt,
               'extendedprice|discount', c_pd,
               'extendedprice|tax', c_pt,
               'discount|tax', c_dt) AS (pair, r)""")
        .orderBy("pair"),
      Some("""SELECT pair, r FROM (
                SELECT 'quantity|extendedprice' AS pair,
                       round(corr(l_quantity, l_extendedprice), 4) AS r FROM lineitem
                UNION ALL SELECT 'quantity|discount',
                       round(corr(l_quantity, l_discount), 4) FROM lineitem
                UNION ALL SELECT 'quantity|tax',
                       round(corr(l_quantity, l_tax), 4) FROM lineitem
                UNION ALL SELECT 'extendedprice|discount',
                       round(corr(l_extendedprice, l_discount), 4) FROM lineitem
                UNION ALL SELECT 'extendedprice|tax',
                       round(corr(l_extendedprice, l_tax), 4) FROM lineitem
                UNION ALL SELECT 'discount|tax',
                       round(corr(l_discount, l_tax), 4) FROM lineitem)
              ORDER BY pair""")),

    // Shannon entropy of each event type's value distribution (8 fixed
    // buckets) — the information-theoretic profile a curation pipeline
    // uses to flag degenerate/collapsed feature distributions. Two
    // partial-aggregated shuffles over a narrow integer projection
    // collapse the stream to ≤ |types|·8 histogram rows; the per-type
    // totals broadcast back; entropy sums ≤ 8 exact-count ratios.
    Q("agg_entropy",
      (s, dir) => {
        val b = t(s, dir, "events")
          .select(col("event_type"),
            least(floor(col("value") / 25).cast("long"), lit(7L)).as("bucket"))
          .groupBy("event_type", "bucket").agg(count(lit(1)).as("n"))
        val tot = b.groupBy("event_type").agg(sum("n").as("tot"))
        b.join(broadcast(tot), "event_type")
          .groupBy("event_type")
          .agg(round(-sum((col("n") / col("tot")) * log(col("n") / col("tot"))), 4)
            .as("entropy_nats"))
          .orderBy("event_type")
      },
      Some("""WITH b AS (SELECT event_type,
                                least(CAST(floor(value / 25) AS BIGINT), 7) AS bucket,
                                count(*) AS n
                         FROM events GROUP BY 1, 2),
              t AS (SELECT event_type, sum(n) AS tot FROM b GROUP BY 1)
              SELECT event_type,
                     round(-sum((n / tot) * ln(n / tot)), 4) AS entropy_nats
              FROM b JOIN t USING (event_type)
              GROUP BY event_type ORDER BY event_type""")),

    // One-pass column-profiling audit (ANALYZE-style): non-null count,
    // exact distinct count, min/max for three lineitem measures in a
    // SINGLE aggregate — the multi-count-distinct plans as one Expand
    // (3× the narrow projection, never 3 fact scans) feeding one
    // partial-aggregated shuffle; stack() unpivots the 1-row result to
    // a per-column report in place.
    Q("profile_table",
      (s, dir) => t(s, dir, "lineitem")
        .agg(
          count(col("l_quantity")).cast("double").as("nn_q"),
          countDistinct(col("l_quantity")).cast("double").as("nd_q"),
          min("l_quantity").as("mn_q"), max("l_quantity").as("mx_q"),
          count(col("l_discount")).cast("double").as("nn_d"),
          countDistinct(col("l_discount")).cast("double").as("nd_d"),
          min("l_discount").as("mn_d"), max("l_discount").as("mx_d"),
          count(col("l_tax")).cast("double").as("nn_t"),
          countDistinct(col("l_tax")).cast("double").as("nd_t"),
          min("l_tax").as("mn_t"), max("l_tax").as("mx_t"))
        .selectExpr("""stack(3,
            'l_quantity', nn_q, nd_q, mn_q, mx_q,
            'l_discount', nn_d, nd_d, mn_d, mx_d,
            'l_tax', nn_t, nd_t, mn_t, mx_t)
          AS (col_name, n_nonnull, n_distinct, vmin, vmax)""")
        .orderBy("col_name"),
      Some("""SELECT col_name, n_nonnull, n_distinct, vmin, vmax FROM (
                SELECT 'l_quantity' AS col_name,
                       CAST(count(l_quantity) AS DOUBLE) AS n_nonnull,
                       CAST(count(DISTINCT l_quantity) AS DOUBLE) AS n_distinct,
                       min(l_quantity) AS vmin, max(l_quantity) AS vmax
                FROM lineitem
                UNION ALL SELECT 'l_discount', CAST(count(l_discount) AS DOUBLE),
                       CAST(count(DISTINCT l_discount) AS DOUBLE),
                       min(l_discount), max(l_discount) FROM lineitem
                UNION ALL SELECT 'l_tax', CAST(count(l_tax) AS DOUBLE),
                       CAST(count(DISTINCT l_tax) AS DOUBLE),
                       min(l_tax), max(l_tax) FROM lineitem)
              ORDER BY col_name""")),

    // DYNAMIC partition pruning — the runtime complement of the static
    // literal-IN pruning the IVF index uses: the fact lives
    // partitionBy(event_type) ([[SharedPartitionedEvents]]), the filter
    // sits on the DIMENSION side of the join, and Spark derives the
    // fact's partition filter FROM the broadcast at runtime
    // (dynamicpruningexpression over the reused broadcast, plan-
    // asserted) — at 100 TB the fact scan reads 2 of N partition
    // directories without the query ever naming them. The oracle is the
    // post-pruning semantics as a static IN.
    Q("join_dpp",
      (s, dir) => {
        val (factPath, dimPath) = SharedPartitionedEvents(s, dir)
        val fact = s.read.parquet(factPath)
        val dim = s.read.parquet(dimPath)
        fact.join(broadcast(dim.filter(col("category") === "engagement")),
            "event_type")
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
          .orderBy("event_type")
      },
      Some("""SELECT event_type, count(*) AS n, round(sum(value), 2) AS sum_value
              FROM events WHERE event_type IN ('click', 'view')
              GROUP BY event_type ORDER BY event_type""")),

    // CUSUM changepoint score per user — the sequential statistic drift
    // monitors compute over every key's time series. The per-user mean
    // and the running sum of deviations share ONE user_id window
    // partitioning (no join, no second shuffle), the cumulative sum is
    // evaluated sequentially inside each partition frame (bit-identical
    // across engines because the addition order IS the frame order), and
    // per-user series are naturally small, so partition width is bounded
    // however many users exist — the scale axis is key count, which is
    // exactly what a hash shuffle spreads. Flagging compares against an
    // integer threshold far above float noise.
    Q("ts_cusum",
      (s, dir) => {
        val byUser = Window.partitionBy("user_id")
        val seq0 = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        t(s, dir, "events")
          .select(col("user_id"), col("ts"), col("event_id"), col("value"))
          // float-order hazards are fenced out entirely: the one
          // order-dependent float (the partition mean) is rounded to 4 dp,
          // and the deviations are then QUANTIZED to 1e-4 integers so the
          // cumulative sum is exact 64-bit arithmetic — engines are free
          // to sum in any order (DuckDB's segment-tree window vs Spark's
          // sequential fold gave 1e-12 drift on raw doubles) and still
          // agree bit-for-bit
          .withColumn("dev",
            round((col("value") - round(avg("value").over(byUser), 4)) * 10000, 0)
              .cast("long"))
          .withColumn("cum", sum("dev").over(seq0))
          .groupBy("user_id")
          .agg(round(max(abs(col("cum"))) / 10000.0, 3).as("cusum_max"),
            count(lit(1)).as("n_events"))
          .filter(col("cusum_max") > 350)
          .orderBy("user_id")
      },
      Some("""WITH dev AS (
                SELECT user_id, ts, event_id,
                       CAST(round((value - round(avg(value) OVER (PARTITION BY user_id), 4))
                                  * 10000, 0) AS BIGINT) AS dev
                FROM events),
              cum AS (
                SELECT user_id,
                       sum(dev) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS cum
                FROM dev)
              SELECT user_id, round(max(abs(cum)) / 10000.0, 3) AS cusum_max,
                     count(*) AS n_events
              FROM cum GROUP BY user_id
              HAVING round(max(abs(cum)) / 10000.0, 3) > 350
              ORDER BY user_id""")),

    // Robust anomaly detection via median absolute deviation — the
    // outlier filter that survives the outliers it hunts (stddev-based
    // z-scores don't; ts_zscore is the fragile twin). Two exact-median
    // passes (value, then |value − median|) with the ≤5-row per-type
    // medians BROADCAST back between them; each median runs the bucketed
    // rank-selection path (constant-size shuffle rows, no whole-group
    // buffer) with the same interpolated-percentile semantics in both
    // engines, so the 3×MAD cut compares identical doubles.
    Q("ts_anomaly_mad",
      (s, dir) => {
        // the query needs SEVEN passes over (event_type, value) — three
        // per exact-median call plus the final anomaly count — so the
        // narrow two-column projection is checkpointed once and every
        // pass reads the materialization instead of re-scanning the fact
        // table (the projection is the lightweight decision proxy of the
        // two-pass design: ~1% of the event row width)
        val ev = t(s, dir, "events").select("event_type", "value")
          .localCheckpoint(eager = false)
        val med = graft.operators.WeightedQuantile
          .exactPercentiles(ev, "event_type", "value", Seq(0.5))
          .select(col("event_type"), col("pctl").as("med"))
        val mad = graft.operators.WeightedQuantile
          .exactPercentiles(
            ev.join(broadcast(med), "event_type")
              .select(col("event_type"),
                abs(col("value") - col("med")).as("adev")),
            "event_type", "adev", Seq(0.5))
          .select(col("event_type"), col("pctl").as("mad"))
        ev.join(broadcast(med), "event_type").join(broadcast(mad), "event_type")
          .groupBy("event_type")
          .agg(round(first("med"), 3).as("median_value"),
            round(first("mad"), 3).as("mad"),
            sum(when(abs(col("value") - col("med")) > col("mad") * 3, 1L)
              .otherwise(0L)).as("n_anomalies"))
          .orderBy("event_type")
      },
      Some("""WITH med AS (SELECT event_type, quantile_cont(value, 0.5) AS med
                           FROM events GROUP BY 1),
              mad AS (SELECT e.event_type,
                             quantile_cont(abs(e.value - m.med), 0.5) AS mad
                      FROM events e JOIN med m USING (event_type) GROUP BY 1)
              SELECT e.event_type, round(min(m.med), 3) AS median_value,
                     round(min(d.mad), 3) AS mad,
                     CAST(sum(CASE WHEN abs(e.value - m.med) > d.mad * 3
                              THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies
              FROM events e JOIN med m USING (event_type)
                            JOIN mad d USING (event_type)
              GROUP BY 1 ORDER BY e.event_type""")),

    // Decile boundary profile per event type — the distribution summary
    // quality dashboards draw. The decile of each row is pure integer
    // arithmetic over (row_number, partition count) — ceil(10·rn/cnt)
    // with no float rank anywhere, so the bucketing is exact in both
    // engines; both windows share one (event_type → order value) sort
    // and the boundary extraction is a partial-aggregated max.
    Q("win_deciles",
      (s, dir) => {
        val w = Window.partitionBy("event_type").orderBy(col("value"), col("event_id"))
        val all = Window.partitionBy("event_type")
        t(s, dir, "events")
          .select(col("event_type"), col("value"), col("event_id"))
          .withColumn("rn", row_number().over(w))
          .withColumn("cnt", count(lit(1)).over(all))
          .withColumn("decile", expr("(rn * 10L + cnt - 1L) div cnt"))
          .groupBy("event_type", "decile")
          .agg(round(max("value"), 3).as("upper_bound"),
            count(lit(1)).as("n_rows"))
          .orderBy("event_type", "decile")
      },
      Some("""WITH r AS (
                SELECT event_type, value,
                       row_number() OVER (PARTITION BY event_type
                                          ORDER BY value, event_id) AS rn,
                       count(*) OVER (PARTITION BY event_type) AS cnt
                FROM events)
              SELECT event_type,
                     (rn * 10 + cnt - 1) // cnt AS decile,
                     round(max(value), 3) AS upper_bound,
                     count(*) AS n_rows
              FROM r GROUP BY 1, 2 ORDER BY event_type, decile""")),

    // Trailing exponentially-weighted moving average (adjusted EWMA over
    // the last 24 hourly points) — the smoothing pass behind every
    // monitoring dashboard. The fact collapses to the compact hourly
    // series in ONE partial-agg shuffle; the trailing window materializes
    // as a ≤24-element array and the decay fold runs IN-ROW as a
    // higher-order `aggregate` (chronological fold order ⇒ the float
    // sum is sequence-identical in both engines; DuckDB's list_reduce
    // seeds with the first element, which equals folding from 0.0).
    // No pow over unbounded exponents anywhere — the closed-form
    // denominator uses 0.9^m with m ≤ 24, so a decade of history can't
    // overflow/underflow the weights.
    Q("ts_ewma",
      (s, dir) => {
        val hourly = t(s, dir, "events")
          .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour"))
          .agg(sum("value").as("x"))
        val frame = Window.partitionBy("event_type").orderBy("hour")
          .rowsBetween(-23, Window.currentRow)
        val seq0 = Window.partitionBy("event_type").orderBy("hour")
        val all = Window.partitionBy("event_type")
        hourly
          .withColumn("l", collect_list("x").over(frame))
          .withColumn("rn", row_number().over(seq0))
          .withColumn("cnt", count(lit(1)).over(all))
          .filter(col("rn") === col("cnt")) // report the latest smoothed point
          .select(col("event_type"),
            date_format(col("hour"), "yyyy-MM-dd HH:mm:ss").as("hour"),
            col("rn").cast("long").as("n_hours"),
            round(
              expr("aggregate(l, CAST(0.0 AS DOUBLE), (acc, x) -> acc * 0.9 + x)") /
                ((lit(1.0) - pow(lit(0.9), size(col("l")))) / 0.1), 3).as("ewma"))
          .orderBy("event_type")
      },
      Some("""WITH hourly AS (
                SELECT event_type, date_trunc('hour', ts) AS hour,
                       sum(value) AS x
                FROM events GROUP BY 1, 2),
              ew AS (
                SELECT event_type, hour,
                       list(x) OVER (PARTITION BY event_type ORDER BY hour
                                     ROWS BETWEEN 23 PRECEDING AND CURRENT ROW) AS l,
                       row_number() OVER (PARTITION BY event_type ORDER BY hour) AS rn,
                       count(*) OVER (PARTITION BY event_type) AS cnt
                FROM hourly)
              SELECT event_type, strftime(hour, '%Y-%m-%d %H:%M:%S') AS hour,
                     rn AS n_hours,
                     round(list_reduce(l, (acc, x) -> acc * 0.9 + x)
                           / ((1 - pow(0.9, len(l))) / 0.1), 3) AS ewma
              FROM ew WHERE rn = cnt ORDER BY event_type""")),

    // Lagged cross-correlation between the click and purchase hourly
    // series (does engagement lead conversion, and by how many hours?).
    // The fact collapses to ONE compact hourly grid in a single
    // conditional-sum shuffle; the lag alignment and the four corr
    // moments then run over ~700 rows whatever the corpus size — the
    // lead windows share one global-hour sort, which is fine precisely
    // BECAUSE the series is time-bounded, not corpus-bounded.
    Q("ts_xcorr",
      (s, dir) => {
        val grid = t(s, dir, "events")
          .filter(col("event_type").isin("click", "purchase"))
          .groupBy(date_trunc("hour", col("ts")).as("hour"))
          .agg(
            sum(when(col("event_type") === "click", col("value")).otherwise(0.0))
              .as("x"),
            sum(when(col("event_type") === "purchase", col("value")).otherwise(0.0))
              .as("y"))
        val w = Window.orderBy("hour")
        grid
          .withColumn("y1", lead("y", 1).over(w))
          .withColumn("y2", lead("y", 2).over(w))
          .withColumn("y3", lead("y", 3).over(w))
          .agg(
            round(corr("x", "y"), 4).as("lag0"),
            round(corr("x", "y1"), 4).as("lag1"),
            round(corr("x", "y2"), 4).as("lag2"),
            round(corr("x", "y3"), 4).as("lag3"))
      },
      Some("""WITH grid AS (
                SELECT date_trunc('hour', ts) AS hour,
                       sum(CASE WHEN event_type = 'click' THEN value ELSE 0 END) AS x,
                       sum(CASE WHEN event_type = 'purchase' THEN value ELSE 0 END) AS y
                FROM events WHERE event_type IN ('click', 'purchase')
                GROUP BY 1),
              lagged AS (
                SELECT x, y,
                       lead(y, 1) OVER (ORDER BY hour) AS y1,
                       lead(y, 2) OVER (ORDER BY hour) AS y2,
                       lead(y, 3) OVER (ORDER BY hour) AS y3
                FROM grid)
              SELECT round(corr(x, y), 4) AS lag0,
                     round(corr(x, y1), 4) AS lag1,
                     round(corr(x, y2), 4) AS lag2,
                     round(corr(x, y3), 4) AS lag3
              FROM lagged""")),

    // Theil–Sen trend estimate per event type — the outlier-robust
    // slope (median of all pairwise slopes) that least-squares isn't.
    // The all-pairs stage looks quadratic but runs on the COMPACT hourly
    // series: ~700 points per type at every corpus scale, so the pair
    // count is fixed by the time span, not the row count — collapsing
    // first is exactly what makes a robust estimator affordable at
    // 100 TB. Slopes are identical rational arithmetic in both engines;
    // the median uses the same interpolated-percentile semantics as
    // agg_median.
    Q("ts_trend",
      (s, dir) => {
        // the hourly series is COMPACT (|types| × time-span rows at every
        // corpus scale) but sits under a fact scan + aggregation; the
        // percentile operator below re-executes its input once per pass
        // (bounds, histogram, cut-bucket sort), so a lazy local checkpoint
        // here trades three fact scans for one + two re-explodes of the
        // tiny materialized series
        val hourly = t(s, dir, "events")
          .groupBy(col("event_type"),
            expr("unix_timestamp(date_trunc('hour', ts)) div 3600").as("h"))
          .agg(round(sum("value"), 4).as("v"))
          .localCheckpoint(eager = false)
        val a = hourly.select(col("event_type"), col("h").as("h1"), col("v").as("v1"))
        val b = hourly.select(col("event_type"), col("h").as("h2"), col("v").as("v2"))
        // the b-side is the compact series itself — BROADCAST it so the
        // pair stage parallelizes over (type, h1) rows instead of
        // landing all pairs of a type on one of |types| shuffle
        // partitions (the 5-key join skew this query would otherwise
        // have; same cure as join_salted, but free because one side is
        // tiny by construction)
        val slopes = a.join(broadcast(b), Seq("event_type"))
          .filter(col("h1") < col("h2"))
          .select(col("event_type"),
            ((col("v2") - col("v1")) / (col("h2") - col("h1"))).as("slope"))
        // the slope median runs the bucketed rank-selection path: the
        // slope multiset grows QUADRATICALLY with the time span (~3.8 B
        // per type for a 10-year corpus), exactly the regime where a
        // buffer-everything percentile agg OOMs its task; `n` rides along
        // from the operator's bounds pass for free
        // bufferedCap = 0: the slope multiset is quadratic in the time
        // span by construction — always beyond the buffered regime, so
        // skip the counted probe's extra job and go straight to the
        // bucketed rank selection
        graft.operators.WeightedQuantile
          .exactPercentiles(slopes, "event_type", "slope", Seq(0.5),
            bufferedCap = 0)
          .select(col("event_type"),
            round(col("pctl"), 4).as("theil_sen_slope"),
            col("n").as("n_pairs"))
          .orderBy("event_type")
      },
      Some("""WITH hourly AS (
                SELECT event_type,
                       epoch(date_trunc('hour', ts)) // 3600 AS h,
                       round(sum(value), 4) AS v
                FROM events GROUP BY 1, 2),
              slopes AS (
                SELECT a.event_type, (b.v - a.v) / (b.h - a.h) AS slope
                FROM hourly a JOIN hourly b
                  ON a.event_type = b.event_type AND a.h < b.h)
              SELECT event_type,
                     round(quantile_cont(slope, 0.5), 4) AS theil_sen_slope,
                     count(*) AS n_pairs
              FROM slopes GROUP BY 1 ORDER BY event_type""")),

    // Hour-of-day SEASONAL DECOMPOSITION per type — the deseasonalization
    // pass behind every telemetry anomaly pipeline (a spike at 9am means
    // nothing until the 9am baseline is subtracted). The seasonal profile
    // (24 × |types| rows) aggregates from the COMPACT hourly series and
    // broadcasts back onto it; the fact table shuffles once, for the
    // hourly collapse. Float order is fenced the ts_cusum way, one step
    // further: hourly values quantize to exact 1e-4 integers AND the
    // profile mean is grid-quantized by exact long division (truncating
    // in BOTH engines at every sign — see the seas_l comment),
    // so every output lands ON the 1e-4 grid and the final
    // 4-dp round can never sit at a half boundary (the raw-mean version
    // diverged at exactly one: 137.10875).
    Q("ts_seasonal",
      (s, dir) => {
        val hourly = t(s, dir, "events")
          .groupBy(col("event_type"),
            expr("unix_timestamp(date_trunc('hour', ts)) div 3600").as("h"))
          .agg(round(sum("value"), 4).as("v"))
          .withColumn("v_l", round(col("v") * 10000, 0).cast("long"))
          .withColumn("hod", col("h") % 24)
        val profile = hourly.groupBy("event_type", "hod")
          .agg(sum("v_l").as("s_sum"), count(lit(1)).as("s_cnt"))
        hourly.join(broadcast(profile), Seq("event_type", "hod"))
          // exact long division: Spark `div` and DuckDB integer `//`
          // BOTH truncate toward zero (verified: -7//2 = -3 in DuckDB;
          // its // floors nothing, even on doubles), so the engines
          // agree at every sign — no positivity assumption needed
          .withColumn("seas_l", expr("s_sum div s_cnt"))
          .select(col("event_type"), col("h"), col("v"),
            round(col("seas_l") / 10000.0, 4).as("seasonal"),
            round((col("v_l") - col("seas_l")) / 10000.0, 4).as("resid"))
          .orderBy("event_type", "h")
      },
      Some("""WITH hourly AS (
                SELECT event_type,
                       CAST(epoch(date_trunc('hour', ts)) // 3600 AS BIGINT) AS h,
                       round(sum(value), 4) AS v
                FROM events GROUP BY 1, 2),
              q AS (SELECT event_type, h, v,
                           CAST(round(v * 10000, 0) AS BIGINT) AS v_l,
                           h % 24 AS hod
                    FROM hourly),
              profile AS (SELECT event_type, hod,
                                 (sum(v_l)::BIGINT // count(*)) AS seas_l
                          FROM q GROUP BY 1, 2)
              SELECT q.event_type, q.h, q.v,
                     round(p.seas_l / 10000.0, 4) AS seasonal,
                     round((q.v_l - p.seas_l) / 10000.0, 4) AS resid
              FROM q JOIN profile p USING (event_type, hod)
              ORDER BY q.event_type, q.h""")),

    // Per-type OLS trend + next-hour forecast over the hourly series —
    // the least-squares twin of ts_trend's robust Theil–Sen (OLS is the
    // cheap default; Theil–Sen is what you run when outliers poison it).
    // Closed-form from five EXACT integer sums (x centered to the
    // series start so x·y products stay far inside 2^53; values
    // quantized to 1e-4 longs): the only doubles are the final
    // numerator/denominator ratio, evaluated in one fixed op sequence in
    // both engines. One fact shuffle (the hourly collapse); everything
    // after runs on ≤720 rows per type.
    Q("ts_forecast_ols",
      (s, dir) => {
        val byType = Window.partitionBy("event_type")
        val xy = t(s, dir, "events")
          .groupBy(col("event_type"),
            expr("unix_timestamp(date_trunc('hour', ts)) div 3600").as("h"))
          .agg(round(sum("value"), 4).as("v"))
          .withColumn("y", round(col("v") * 10000, 0).cast("long"))
          .withColumn("x", col("h") - min("h").over(byType))
        val sums = xy.groupBy("event_type").agg(
          count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
          sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"),
          max("x").as("xmax"))
        sums.select(col("event_type"), col("n").as("n_hours"),
            ((col("n").cast("double") * col("sxy").cast("double") -
              col("sx").cast("double") * col("sy").cast("double")) /
              (col("n").cast("double") * col("sxx").cast("double") -
                col("sx").cast("double") * col("sx").cast("double")))
              .as("b"))
          .join(sums.select(col("event_type"), col("sy"), col("sx"), col("n"),
            col("xmax")), "event_type")
          .select(col("event_type"), col("n_hours"),
            round(col("b") / 10000.0, 4).as("slope_per_hour"),
            round(((col("sy").cast("double") - col("b") * col("sx").cast("double"))
              / col("n").cast("double") + col("b") * (col("xmax") + 1).cast("double"))
              / 10000.0, 4).as("forecast_next"))
          .orderBy("event_type")
      },
      Some("""WITH hourly AS (
                SELECT event_type,
                       epoch(date_trunc('hour', ts)) // 3600 AS h,
                       round(sum(value), 4) AS v
                FROM events GROUP BY 1, 2),
              xy AS (SELECT event_type,
                            CAST(round(v * 10000, 0) AS BIGINT) AS y,
                            h - min(h) OVER (PARTITION BY event_type) AS x
                     FROM hourly),
              sums AS (SELECT event_type, count(*) AS n,
                              sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy,
                              sum(x * y)::BIGINT AS sxy,
                              sum(x * x)::BIGINT AS sxx,
                              max(x) AS xmax
                       FROM xy GROUP BY 1),
              fit AS (SELECT event_type, n, sx, sy, xmax,
                             (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
                             (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS b
                      FROM sums)
              SELECT event_type, n AS n_hours,
                     round(b / 10000.0, 4) AS slope_per_hour,
                     round(((CAST(sy AS DOUBLE) - b * CAST(sx AS DOUBLE))
                            / CAST(n AS DOUBLE)
                            + b * CAST(xmax + 1 AS DOUBLE)) / 10000.0, 4)
                       AS forecast_next
              FROM fit ORDER BY event_type""")))
}
