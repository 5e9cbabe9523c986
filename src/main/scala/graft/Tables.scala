package graft

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructType, TimestampNTZType, TimestampType}

/** Fixture-table loaders (TESTDATA.md): one parquet table per name under
  * an sf directory, a single file or a directory of part files. The scan
  * stays the plan leaf Catalyst pushes filters/projections into; its
  * schema comes from one parquet footer read on the driver, so a load
  * runs no Spark job.
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
    val df = readParquet(spark, s"$dir/$name.parquet")
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

  /** `spark.read.parquet(path)` without its schema-inference job: the
    * schema is read from one footer on the driver with the call Spark's
    * inference task makes (Spark's own row metadata wins when present;
    * binaryAsString, int96AsTimestamp, inferTimestampNTZ and nanosAsLong
    * come from the caller's session). `path` is a parquet file or a
    * directory of part files; as with `mergeSchema` off, the first data
    * file in sorted order speaks for the directory.
    */
  private[graft] def readParquet(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(footerSchema(spark, path)).parquet(path)

  private def footerSchema(spark: SparkSession, path: String): StructType = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new Path(path)
    // a file lists as itself; _SUCCESS, _metadata and .crc files are skipped
    val file = p.getFileSystem(conf).listStatus(p)
      .filter(s => s.isFile && !"_.".contains(s.getPath.getName.head))
      .sortBy(_.getPath.toString)
      .headOption
      .getOrElse(throw new java.io.FileNotFoundException(s"no parquet data file under $path"))
    val footer = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(file, conf), ParquetMetadataConverter.SKIP_ROW_GROUPS)
    ParquetFileFormat.readSchemaFromFooter(new Footer(file.getPath, footer),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
  }
}
