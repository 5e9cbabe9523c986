package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{GraftFunctions, SparkEntry}
import graft.queries.SessionMemo

/** The batch query engine: a fixed set of declared queries, each with a
  * DuckDB oracle, run in timed passes after an untimed pass that writes
  * every output for the oracle check (done by `run.py` once the JVM has
  * exited).
  */
object Lake {

  /** One query per family: rel, ts, cdc, vec, mm, and the curation
    * pipeline, whose plan also runs the text (tokens, quality signals)
    * and doc-dedup (fingerprint, shingle join) operators. Within a family
    * the query that costs least on sf0.01, cold and warm, so that a run
    * stays short; graph queries are left out for the same reason.
    */
  val QuerySet: Seq[String] = Seq(
    "rel_q6", "ts_tumble", "cdc_latest_state", "vec_knn", "mm_image_stats",
    "pipeline_curate")

  final case class Sizes(setups: Int, minPasses: Int, maxPasses: Int)
  val Full = Sizes(setups = 4, minPasses = 2, maxPasses = 40)
  val Smoke = Sizes(setups = 2, minPasses = 1, maxPasses = 1)

  def run(ctx: Ctx, sz: Sizes, sfDir: String): Result = {
    val spark = ctx.spark
    val declared = SparkEntry.allQueries.map(q => q.name -> q).toMap
    val missing = QuerySet.filterNot(n => declared.get(n).exists(_.oracle.isDefined))
    require(missing.isEmpty, s"queries without a static oracle: ${missing.mkString(", ")}")
    val rng = new SplittableRandom(ctx.seed)
    /** The seed fixes the order of the queries within each pass. */
    def order(): Seq[String] = Gen.shuffle(rng, QuerySet)
    val failedQueries = mutable.Set.empty[String]
    val outDir = ctx.work.resolve("lake_out")
    def runQuery(s: SparkSession, name: String, pass: Int)(write: DataFrame => Unit): Unit =
      try Trace.span(s"queries.$name", pass)(write(declared(name).fn(s, sfDir)))
      catch { case e: Exception =>
        System.err.println(s"[perfbench] $name failed: ${e.getMessage}")
        failedQueries += name
      }

    // untimed pass: every output lands as parquet for the oracle check
    order().foreach(name => runQuery(spark, name, 0)(
      _.coalesce(1).write.mode("overwrite").parquet(outDir.resolve(name).toString)))
    val oracle = SparkEntry.oracleSqlFor(spark, sfDir, Some(QuerySet.toSet))
    Files.write(outDir.resolve("oracle_sql.json"), oracle.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }.mkString("{", ",", "}")
      .getBytes(StandardCharsets.UTF_8))
    SessionMemo.evictAll(spark)

    // set-up of a lake session: a new session over the shared context,
    // with the graft functions and the fixture tables as views
    val setups = (1 to sz.setups).map { i =>
      Trace.span("lake.setup", i)(Setup.time(GraftFunctions.attach(spark.newSession(), sfDir)))
    }

    val perQuery = mutable.ArrayBuffer.empty[Map[String, Double]]
    val m0 = Clock.nanos()
    while (perQuery.size < sz.maxPasses &&
        (perQuery.size < sz.minPasses || Clock.nanos() - m0 < ctx.seconds * 1e9)) {
      val p = perQuery.size + 1
      perQuery += ctx.meter("lake.pass", p) {
        order().map { name =>
          val t0 = Clock.nanos()
          runQuery(spark, name, p)(_.write.format("noop").mode("overwrite").save())
          name -> (Clock.nanos() - t0) / 1e9
        }.toMap
      }
      SessionMemo.evictAll(spark)
    }
    ctx.note(s"lake_queries: ${perQuery.size} timed passes of ${QuerySet.size} queries on $sfDir " +
      s"after one untimed output pass; outputs in $outDir")
    // a query that fails fails in every pass: count each of its runs
    val rounds = perQuery.size + 1
    Result(
      correct = true,
      attempted = QuerySet.size * rounds, failed = failedQueries.size * rounds,
      setups = setups,
      detail = QuerySet.map(n => s"queries.${n}_s" -> Stats.median(perQuery.map(_(n)).toSeq)).toMap,
      failedNames = failedQueries.toSeq.sorted)
  }
}
