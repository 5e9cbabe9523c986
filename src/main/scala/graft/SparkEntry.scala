package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.cdc.ChangeEvents
import graft.functions.ExtJson.ext_json_canonical
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** The local session every main runs on: `local[n]` with `n` shuffle
    * partitions, where `n` is `SPARK_GRAFT_CPUS` (4 when unset: Verify's
    * dumps are compared with exact floats, so their partitioning stays
    * fixed), the UTC session time zone that [[Tables.table]] requires,
    * no UI and WARN logging. `conf` pairs are applied last, so they
    * override these defaults.
    */
  def localSession(conf: (String, String)*): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val defaults = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    val spark = conf.foldLeft(defaults) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** All declared engine capabilities, one [[graft.queries.Q]] each. */
  def allQueries: Seq[Q] =
    CdcQueries.queries ++ RelationalQueries.queries ++ ExtendedQueries.queries ++
      TextQueries.queries ++ VectorQueries.queries ++ MultimodalQueries.queries ++
      GraphQueries.queries ++ AssemblyQueries.queries ++
      GovernanceQueries.queries

  /** Flagship: the reference's full relay hot path (main.go:103-155) as a
    * batch pipeline on sf0.001 — synthesize the change-stream envelope from
    * the `events` fixture, then run [[ChangeEvents.relay]]: op filter →
    * topic routing → Connect key envelope → ExtJSON value.
    */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val events = Tables.table(spark, dir, "events")
    val envelope = events.select(
      col("event_id").cast("string").as("_id"),
      // error plays the invalidate role: relay must dead-letter it (§2.2)
      when(col("event_type") === "signup", "insert")
        .when(col("event_type") === "purchase", "update")
        .when(col("event_type") === "click", "replace")
        .when(col("event_type") === "view", "update")
        .otherwise("invalidate").as("operationType"),
      ext_json_canonical(col("ts")).as("clusterTime"),
      struct(lit("app").as("db"), col("event_type").as("coll")).as("ns"),
      ext_json_canonical(struct(col("user_id").as("_id"))).as("documentKey"),
      ext_json_canonical(struct(
        col("event_id"), col("user_id"), col("value"), col("props"))).as("fullDocument"),
      lit(null).cast("string").as("updateDescription"))
    ChangeEvents.relay(envelope)
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    allQueries.map(q => q.name -> q.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    allQueries.flatMap(q => q.oracle.map(sql => q.name -> sql)).toMap

  /** The full oracle map for one (session, fixture): the static SQL
    * plus the GENERATED oracles whose literal CTEs carry learned
    * constants (PQ codebook, IVF centroids, the probe's ADC lookup
    * table) materialized from the same fixture — see
    * [[graft.queries.Q.oracleGen]]. Verify dumps THIS map, so the
    * learned-constant queries get full rows/schema/hash certification
    * instead of a rows-only check.
    *
    * `only` restricts WHICH generators run, not just which rows survive:
    * the generated oracles pay real fits (PQ Lloyd, IVF build, PCA, BPE
    * learn, LR training) plus corpus scans, so a targeted Verify run
    * must not execute generators for queries it is not dumping.
    */
  def oracleSqlFor(spark: SparkSession, dir: String,
      only: Option[Set[String]] = None): Map[String, String] = {
    val wanted = allQueries.filter(q => only.forall(_.contains(q.name)))
    wanted.flatMap(q => q.oracle.map(q.name -> _)).toMap ++
      wanted.flatMap(q => q.oracleGen.map(g => q.name -> g(spark, dir)))
  }
}
