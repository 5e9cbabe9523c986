package graft.operators

import org.apache.spark.sql.SparkSession

/** Small-file compaction — the operational complement of every
  * streaming parquet sink in this engine (the relay's parquet sink
  * and [[graft.streaming.MergeSink]] both emit one file batch per
  * epoch): periodically rewrite a directory of many small files into
  * few right-sized ones, so the 100 TB table a year of micro-batches
  * builds doesn't degrade every later scan with per-file open/footer
  * costs and a metadata-bound driver.
  *
  * The target file count comes from the parquet FOOTERS (row counts
  * read without touching data pages), so the only full pass over the
  * data is the rewrite itself. The rewrite is one narrow job: read →
  * `repartition(ceil(rows / rowsPerFile))` → write to a temp sibling →
  * crash-safe swap ([[Artifacts.publish]]: the previous version is
  * renamed aside, never deleted before the new one is in place). A
  * round-robin repartition is deliberate: compaction must not assume
  * any key, and the exchange it pays is the point of the operation (it
  * runs off the hot path, at a cadence chosen so its cost amortizes
  * over the scans it speeds up). Callers that DO have a layout key
  * should compact through [[ZOrder.writeZOrdered]] or
  * [[Bucketing.writeBucketed]] instead and get clustering for the same
  * rewrite. NOTE: Hive-style partition columns (`k=v` subdirectories)
  * are read as data columns and the rewrite flattens the layout —
  * compact partitioned tables per-partition, or re-`partitionBy` on
  * write.
  */
object Compaction {

  /** All parquet data files under `p`, recursively (epoch sinks nest
    * `batch=N`/topic subdirectories).
    */
  private def parquetFiles(p: java.nio.file.Path): Seq[java.nio.file.Path] = {
    import scala.jdk.CollectionConverters._
    val s = java.nio.file.Files.walk(p)
    try s.iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
    finally s.close()
  }

  /** Total row count from the parquet footers — metadata only, no data
    * pages read.
    */
  private def footerRows(spark: SparkSession,
      files: Seq[java.nio.file.Path]): Long =
    files.map { f =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f.toString),
        spark.sparkContext.hadoopConfiguration)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getRecordCount finally r.close()
    }.sum

  /** Rewrite the parquet directory at `path` into files of ~
    * `rowsPerFile` rows. Returns (filesBefore, filesAfter).
    *
    * Safety: the whole read→rewrite→swap runs under the directory's
    * writer lock ([[Artifacts.withDirLock]] — the same lock the
    * streaming MERGE sink takes per micro-batch), so a concurrent
    * locked writer cannot append a file between the snapshot and the
    * swap and have it silently dropped; writers that do NOT take the
    * lock (a live relay epoch sink) must be quiesced during compaction.
    * Before the destructive swap the rewrite is verified: the rewritten
    * footers must account for exactly the snapshot's rows, else the
    * temp output is discarded and the original left untouched.
    */
  def compact(spark: SparkSession, path: String, rowsPerFile: Long)
      : (Int, Int) = {
    val dir = java.nio.file.Paths.get(path)
    Artifacts.withDirLock(dir) {
      Artifacts.recoverSwap(dir) // repair a crashed previous compaction
      val before = parquetFiles(dir)
      val rows = footerRows(spark, before)
      val target = math.max(1, math.ceil(rows.toDouble / rowsPerFile).toInt)
      Artifacts.publish(dir) { next =>
        spark.read.parquet(path)
          .repartition(target).write.mode("overwrite").parquet(next.toString)
        val rewritten = footerRows(spark, parquetFiles(next))
        if (rewritten != rows)
          throw new IllegalStateException(
            s"compaction of $path rewrote $rewritten rows but snapshot had " +
              s"$rows; aborting before swap (original left untouched)")
      }
      (before.size, parquetFiles(dir).size)
    }
  }
}
