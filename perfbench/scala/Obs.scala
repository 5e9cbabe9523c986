package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.perfbench.ListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Clocks and counters the benchmark reads around its calls into the
  * program. Nothing here touches program code.
  */
object Clock {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def nanos(): Long = System.nanoTime()

  /** CPU time of the whole JVM (all threads, GC and JIT included). */
  def cpuNanos(): Long = os.getProcessCpuTime

  def gcMillis(): Long = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum
  }

  /** Steal and total jiffies of all the host's cpus (`/proc/stat`);
    * zeros where that file cannot be read.
    */
  def stealJiffies(): (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val v = try src.getLines().next().trim.split("\\s+").drop(1).take(8).map(_.toLong)
      finally src.close()
      (v(7), v.sum)
    } catch { case _: Exception => (0L, 0L) }

  /** The share of the interval since `from` that the host's cpus lost to
    * steal (time the VM's vCPUs were runnable but not run).
    */
  def stealShare(from: (Long, Long)): Double = {
    val (s, t) = stealJiffies()
    if (t > from._2) (s - from._1).toDouble / (t - from._2) else 0.0
  }

  /** Seconds since this JVM started. */
  def sinceJvmStart(): Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
}

/** The JVM's CPU seconds and wall seconds of one set-up, and the host's
  * steal share over it; `netCpuS` is the CPU time net of steal (see
  * `Meter`).
  */
final case class Setup(cpuS: Double, wallS: Double, steal: Double) {
  def netCpuS: Double = cpuS * (1 - steal)
}

object Setup {
  def time(body: => Unit): Setup = {
    val s0 = Clock.stealJiffies()
    val c0 = Clock.cpuNanos()
    val t0 = Clock.nanos()
    body
    Setup((Clock.cpuNanos() - c0) / 1e9, (Clock.nanos() - t0) / 1e9, Clock.stealShare(s0))
  }
}

object Stats {
  /** Linear-interpolated percentile (q in [0, 1]) of a non-empty sample. */
  def pct(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.floor.toInt
    val hi = pos.ceil.toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = pct(xs, 0.5)
}

/** Spans recorded around the benchmark's own calls into each layer. Off
  * unless `--trace 1`; spans stay in memory and are written once at the
  * end, so tracing adds no I/O to the measured loop.
  */
object Trace {
  final case class Span(id: Int, parent: Int, op: Long, name: String,
      startNs: Long, endNs: Long)

  @volatile var enabled = false
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Int]] { override def initialValue() = Nil }
  private var nextId = 1

  def span[T](name: String, op: Long)(body: => T): T =
    if (!enabled) body
    else {
      val id = synchronized { nextId += 1; nextId }
      val parent = stack.get.headOption.getOrElse(0)
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get.tail)
        synchronized { spans += Span(id, parent, op, name, t0, t1) }
      }
    }

  def all: Seq[Span] = synchronized(spans.toList)

  /** Span duration minus the part its direct children cover. */
  def selfNanos(s: Span, children: Seq[Span]): Long =
    (s.endNs - s.startNs) - children.map(c => c.endNs - c.startNs).sum

  def write(path: Path, extra: Map[String, Double]): Unit = {
    val byParent = all.groupBy(_.parent)
    val lines = all.sortBy(_.startNs).map { s =>
      val self = selfNanos(s, byParent.getOrElse(s.id, Nil))
      s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":${Json.str(s.name)},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"self_ns":$self}"""
    }
    val counts = extra.toSeq.sortBy(_._1)
      .map { case (k, v) => s"""{"count":${Json.str(k)},"value":$v}""" }
    Files.createDirectories(path.getParent)
    Files.write(path, (lines ++ counts).mkString("", "\n", "\n")
      .getBytes(StandardCharsets.UTF_8))
  }
}

/** Job and task counts of the batch engine, summed as the listener bus
  * delivers them. Slots in the order of `Meter.EngineNames`.
  */
final class EngineCounter extends SparkListener {
  private val c = new Array[Long](6)

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized { c(0) += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    c(1) += 1
    Option(e.taskMetrics).foreach { m =>
      c(2) += m.executorCpuTime
      c(3) += m.inputMetrics.recordsRead
      c(4) += m.outputMetrics.bytesWritten
      c(5) += m.shuffleWriteMetrics.bytesWritten
    }
  }

  def snapshot(): Vector[Long] = synchronized(c.toVector)
}

/** The timed operations of a run (a live batch, a backlog drain or a
  * lake pass), with the JVM's CPU time and the engine's counts for each.
  * Every workload reports the same metrics from it, each a median over
  * the run's operations.
  *
  * CPU times are taken net of the host's steal: on the shared VMs this
  * benchmark was built on, the JVM's CPU clock kept running while the
  * host held its vCPUs, so the same drain read 5.6 s of CPU at 1 % steal
  * and 7.8 s at 25 %, about 1 / (1 - steal) as much. Each operation's CPU
  * time is scaled by (1 - the steal share of the host's cpus during it).
  */
final class Meter(spark: SparkSession) {
  final case class Op(wallMs: Double, rawCpuMs: Double, steal: Double, engine: Vector[Long]) {
    def cpuMs: Double = rawCpuMs * (1 - steal)
    def taskCpuMs: Double = engine(2) / 1e6 * (1 - steal)
  }

  private val counter = new EngineCounter
  spark.sparkContext.addSparkListener(counter)
  val ops = mutable.ArrayBuffer.empty[Op]

  /** Runs one timed operation. The listener bus is drained before and
    * after it, outside the timed window, so the operation's tasks and
    * only those are counted with it.
    */
  def apply[T](name: String, id: Long)(body: => T): T = {
    ListenerBus.drain(spark.sparkContext)
    val e0 = counter.snapshot()
    val s0 = Clock.stealJiffies()
    val c0 = Clock.cpuNanos()
    val t0 = Clock.nanos()
    val r = Trace.span(name, id)(body)
    val t1 = Clock.nanos()
    val c1 = Clock.cpuNanos()
    val steal = Clock.stealShare(s0)
    ListenerBus.drain(spark.sparkContext)
    ops += Op((t1 - t0) / 1e6, (c1 - c0) / 1e6, steal,
      counter.snapshot().zip(e0).map { case (a, b) => a - b })
    r
  }

  def close(): Unit = spark.sparkContext.removeSparkListener(counter)

  private def med(f: Op => Double): Double = Stats.median(ops.map(f).toSeq)

  def wallMs: Double = med(_.wallMs)
  def rawCpuMs: Double = med(_.rawCpuMs)
  def steal: Double = med(_.steal)

  /** End-to-end: the JVM's CPU time (all threads) per operation, net of
    * steal.
    */
  def metrics: Map[String, Double] = Map("cpu_ms_per_op" -> med(_.cpuMs))

  /** Per layer: the Spark tasks (executor side) against everything else
    * in the JVM (the driver: planning, source listing, offset and commit
    * logs, sink commits, plus GC and JIT), and the engine's counts.
    */
  def layers: Map[String, Double] = Map(
    "driver.cpu_ms_per_op" -> med(o => o.cpuMs - o.taskCpuMs),
    "tasks.cpu_ms_per_op" -> med(_.taskCpuMs),
    "jobs.per_op" -> med(_.engine(0).toDouble),
    "tasks.per_op" -> med(_.engine(1).toDouble),
    "tasks.input_records_per_op" -> med(_.engine(3).toDouble),
    "tasks.output_bytes_per_op" -> med(_.engine(4).toDouble),
    "tasks.shuffle_bytes_per_op" -> med(_.engine(5).toDouble))
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
}
