package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

final case class Ctx(spark: SparkSession, work: Path, seed: Long, seconds: Int,
    trace: Boolean) {
  val meter = new Meter(spark)
  val notes = mutable.ArrayBuffer.empty[String]
  def note(s: String): Unit = notes += s
}

/** A workload's outcome: operation counts, its set-ups, and (traced runs
  * only) its own layer figures, which go to the trace file and to context
  * lines.
  */
final case class Result(correct: Boolean, attempted: Long, failed: Long,
    setups: Seq[Setup], detail: Map[String, Double] = Map.empty,
    failedNames: Seq[String] = Nil)

/** One benchmark run in one JVM:
  * `perfbench.Main <workload> <seed> <seconds> <trace 0|1> <workDir> <smoke 0|1> <sfDir>`.
  * Prints one `PERFBENCH_RESULT {...}` line; `run.py` adds the lake
  * oracle check and prints the final result. Every workload reports the
  * same metrics: `setup_s`, the median CPU seconds (net of steal, as in
  * `Meter`) of its set-ups, and the per-operation figures of `Meter`.
  */
object Main {
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, workS, smokeS, sfDir) = args
    val work = Paths.get(workS).toAbsolutePath
    val smoke = smokeS == "1"
    val slots = math.max(1, Runtime.getRuntime.availableProcessors - 1)
    val spark = SparkSession.builder()
      .master(s"local[$slots]")
      .config("spark.sql.shuffle.partitions", slots.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.GraftFunctions.ensureAttached(spark)
    val ctx = Ctx(spark, work, seedS.toLong, secondsS.toInt, traceS == "1")
    ctx.note(f"spark session ready ${Clock.sinceJvmStart()}%.1f s after JVM start")
    Trace.enabled = ctx.trace
    val gc0 = Clock.gcMillis()
    if (workload == "train") { // loads the classes the build's class-data archive keeps
      Relay.backlog(ctx, Relay.Smoke)
      Lake.run(ctx, Lake.Smoke, sfDir)
      spark.stop()
      return
    }
    val r = workload match {
      case "relay_live" => Relay.live(ctx, if (smoke) Relay.Smoke else Relay.Full)
      case "relay_backlog" => Relay.backlog(ctx, if (smoke) Relay.Smoke else Relay.Full)
      case "lake_queries" => Lake.run(ctx, if (smoke) Lake.Smoke else Lake.Full, sfDir)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val gcMs = Clock.gcMillis() - gc0
    ctx.meter.close()
    val metrics = ctx.meter.metrics + ("setup_s" -> Stats.median(r.setups.map(_.netCpuS)))
    val layers = ctx.meter.layers
    if (ctx.trace) {
      Trace.write(work.getParent.resolve("trace").resolve(s"$workload-seed${ctx.seed}.jsonl"),
        layers ++ r.detail)
      r.detail.toSeq.sortBy(_._1).foreach { case (k, v) => ctx.note(f"layer $k: $v%.6g") }
    }
    spark.stop()
    def obj(m: Map[String, Double]): String = m.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }.mkString("{", ",", "}")
    val context = ctx.notes.toSeq ++ Seq(
      f"$workload: ${ctx.meter.ops.size} timed operations, medians: wall time " +
        f"${ctx.meter.wallMs}%.1f ms, CPU time before netting out steal ${ctx.meter.rawCpuMs}%.1f ms, " +
        f"host steal ${100 * ctx.meter.steal}%.2f%%",
      r.setups.map(s => f"${s.cpuS}%.2f").mkString(s"$workload: set-ups took ", ", ", " s of CPU") +
        r.setups.map(s => f"${s.wallS}%.2f").mkString(" and ", ", ", " s of wall time") +
        r.setups.map(s => f"${100 * s.steal}%.1f").mkString(" at ", ", ", " % host steal"),
      s"jvm gc time during the workload: $gcMs ms",
      s"spark task slots: $slots of ${Runtime.getRuntime.availableProcessors} cpus",
      s"jvm max heap: ${Runtime.getRuntime.maxMemory >> 20} MiB")
    println("PERFBENCH_RESULT " +
      s"""{"correct":${r.correct},"attempted":${r.attempted},"failed":${r.failed},""" +
      s""""metrics":${obj(metrics)},"layers":${obj(layers)},""" +
      s""""failed_names":${r.failedNames.map(Json.str).mkString("[", ",", "]")},""" +
      s""""context":${context.map(Json.str).mkString("[", ",", "]")}}""")
  }
}
