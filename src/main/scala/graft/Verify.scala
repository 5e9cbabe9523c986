package graft
import java.nio.file.{Files, Paths}

import graft.functions.{ExtJsonCanonical, Utf8Sink}

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [comma-separated query names] — the optional
    // third arg restricts the dump (dev iteration); the driver passes two.
    val sfDir = args(0)
    val outDir = args(1)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    // the SQL front door rides the protocol run: injection failures
    // (a renamed class, a builder that stopped resolving) fail the
    // round loudly instead of rotting between SqlSurfaceSpec runs
    val spark = SparkEntry.localSession("spark.sql.extensions" -> "graft.GraftExtensions")
    // shared-JVM belt: builder config is skipped when getOrCreate reuses
    // a session — attach + assert so the loud-failure goal always holds
    GraftFunctions.ensureAttached(spark)
    new java.io.File(outDir).mkdirs()
    // A typo'd name in `only` would otherwise be silently dropped by the
    // filters below — an empty dump that reads as "nothing to do".
    only.foreach { names =>
      val unknown = names -- SparkEntry.queries.keySet
      if (unknown.nonEmpty)
        System.err.println(
          s"[verify] WARNING: unknown query name(s): ${unknown.toSeq.sorted.mkString(", ")}")
    }
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // every key and SQL text goes through the relay's JSON string
    // escaper, so a tab or CR in an oracle cannot break json.load
    val json = new Utf8Sink
    json.byte('{')
    SparkEntry.oracleSqlFor(spark, sfDir, only).zipWithIndex.foreach { case ((k, v), i) =>
      if (i > 0) json.byte(',')
      ExtJsonCanonical.escape(json, k)
      json.byte(':')
      ExtJsonCanonical.escape(json, v)
    }
    json.byte('}')
    Files.write(Paths.get(s"$outDir/oracle_sql.json"), json.toUTF8String.getBytes)
    spark.stop()
  }
}
