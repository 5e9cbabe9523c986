package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

/** Fixture-table loaders (TESTDATA.md): one parquet file per table under
  * an sf directory. Kept trivial on purpose — the scan is the plan leaf
  * Catalyst pushes filters/projections into.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    // events.ts is parquet TIMESTAMP(MICROS, isAdjustedToUTC=false) in
    // every fixture and arrives as TIMESTAMP_NTZ; the session timezone is
    // pinned to UTC everywhere (Bench/Verify/tests), so the cast to
    // TIMESTAMP is a value-exact re-tag, matching DuckDB's naive read.
    // The loader reads with the caller's session as it is and changes
    // none of its settings: a TIMESTAMP(NANOS) file fails with Spark's
    // own error.
    val df = spark.read.parquet(s"$dir/$name.parquet")
    if (name == "events")
      df.schema("ts").dataType match {
        case TimestampNTZType =>
          // The NTZ→TIMESTAMP cast is value-exact ONLY under a UTC
          // session; a session built without the pin would silently
          // shift every ts by the host offset. Fail loudly instead.
          // Accept any zero-offset fixed zone (UTC, Etc/UTC, GMT, Z,
          // +00:00 all normalize to ZoneOffset.UTC rules) — the cast is
          // exact under all of them, not just the literal string "UTC".
          val zone = java.time.ZoneId
            .of(spark.conf.get("spark.sql.session.timeZone"))
            .normalized()
          require(zone == java.time.ZoneOffset.UTC,
            "graft.Tables requires a UTC session timezone " +
              "(the events.ts NTZ->TIMESTAMP cast is only value-exact under UTC)")
          df.withColumn("ts", col("ts").cast(TimestampType))
        case _ => df
      }
    else df
  }
}
