package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Bucketed-table utilities: pre-shuffle fact tables ONCE at write time so
  * every later equi-join/aggregation on the bucket key is co-located and
  * shuffle-free — at 100 TB the difference between an hourly pipeline
  * re-shuffling 100 TB per join and one that never shuffles it again.
  *
  * Buckets also pin join parallelism (`numBuckets` tasks), so pick it for
  * the target cluster, not the laptop: ~2–4× executor count, sized so one
  * bucket of the largest table fits in executor memory.
  */
object Bucketing {

  /** Write `df` as a bucketed+sorted table on `key` — managed (under the
    * session warehouse) by default, or EXTERNAL at `path` so the bucketed
    * files live next to the corpus like any other curated artifact (the
    * bucket spec itself is catalog metadata either way; a new application
    * re-registers the table over the same files).
    */
  def writeBucketed(df: DataFrame, table: String, key: String,
      numBuckets: Int, path: Option[String] = None): Unit = {
    val w = df.write
      .mode(SaveMode.Overwrite)
      .bucketBy(numBuckets, key)
      .sortBy(key)
      .format("parquet")
    path.fold(w)(p => w.option("path", p)).saveAsTable(table)
  }

  /** Register `table` over EXISTING bucketed parquet files at `path`
    * (written earlier by [[writeBucketed]], possibly by another JVM).
    * The bucket spec is catalog metadata only — the data files already
    * carry their bucket id in the file name — so re-registration is a
    * metadata-only operation: no read, no write, no shuffle. This is how
    * a new application adopts the one-time bucketed organization instead
    * of re-paying the write.
    */
  def registerBucketed(spark: SparkSession, table: String, path: String,
      key: String, numBuckets: Int): Unit = {
    val qt = quoteId(table)
    // idempotent: if an identical registration already exists, leave it
    // alone — no DROP, so a concurrent reader of the same catalog name
    // never races a teardown. Only a MISMATCHED spec is re-registered;
    // the check covers bucket AND sort columns, location, and the
    // current files' schema, so a stale entry (fixture schema changed at
    // the same path) refreshes instead of silently serving old metadata.
    // The files' schema comes from a footer read, with no Spark job.
    val fileSchema = graft.Tables.readParquet(spark, path).schema
    val cat = spark.sessionState.catalog
    val id = org.apache.spark.sql.catalyst.TableIdentifier(table)
    if (cat.tableExists(id)) {
      val m = cat.getTableMetadata(id)
      val sameSpec = m.bucketSpec.exists(b =>
        b.numBuckets == numBuckets && b.bucketColumnNames == Seq(key) &&
          b.sortColumnNames == Seq(key)) &&
        normalizePath(m.location.getPath) == normalizePath(path) &&
        m.schema.map(f => (f.name, f.dataType)) ==
          fileSchema.map(f => (f.name, f.dataType))
      if (sameSpec) return
      spark.sql(s"DROP TABLE IF EXISTS $qt") // external: files survive
    }
    val schema = fileSchema.toDDL
    spark.sql(
      s"""CREATE TABLE IF NOT EXISTS $qt ($schema) USING parquet
         |CLUSTERED BY (${quoteId(key)}) SORTED BY (${quoteId(key)})
         |INTO $numBuckets BUCKETS
         |LOCATION '${path.replace("'", "\\'")}'""".stripMargin)
  }

  /** Backtick-quote a SQL identifier (escaping embedded backticks). */
  private def quoteId(id: String): String = s"`${id.replace("`", "``")}`"

  private def normalizePath(p: String): String =
    java.nio.file.Paths.get(p).toAbsolutePath.normalize.toString

  /** Join two tables previously bucketed on the same key with the same
    * bucket count: plans as a sort-merge join with NO exchange on either
    * side.
    */
  def bucketedJoin(spark: SparkSession, leftTable: String, rightTable: String,
      leftKey: String, rightKey: String): DataFrame =
    spark.table(leftTable).join(spark.table(rightTable),
      spark.table(leftTable)(leftKey) === spark.table(rightTable)(rightKey))
}
