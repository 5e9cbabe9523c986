package graft.operators

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** Durable derived-artifact management for the `Shared*` caches (IVF
  * index, bucketed tables): a derived artifact lives next to the corpus
  * under a deterministic root, is rebuilt only when the SOURCE data
  * actually changed, and is published atomically so a crash or a
  * concurrent builder can never hand a partial build to a reader.
  *
  *  - **Content fingerprint**: the `_BUILT` marker stores an MD5 over
  *    the source files' (name, size, mtime). A fixture regenerated at
  *    the same path changes the fingerprint, so the stale index is
  *    rebuilt instead of silently reused; an unchanged fixture is reused
  *    across JVM runs (Verify, Bench, tests all skip the build).
  *  - **Atomic publish**: builds land in a temp sibling directory and are
  *    renamed into place (same filesystem ⇒ atomic). A reader either
  *    sees the complete previous build or the complete new one — never a
  *    half-written corpus. A crashed build leaves only a temp sibling,
  *    swept (under the file lock) by the next [[ensureBuilt]] that
  *    reaches the build path — including one hard-killed mid-build.
  *  - **Cross-process exclusion**: a file lock around check-then-build
  *    means concurrent JVMs (driver Verify racing a test run) serialize;
  *    the loser re-checks the marker and reuses the winner's build. A
  *    per-lock-file monitor prevents the same process from overlapping
  *    its own file lock (which would throw) while letting UNRELATED
  *    artifacts build concurrently.
  *
  * The same swap publishes the streaming sinks' parquet SNAPSHOTS
  * (MergeSink, AggSink, SketchBankSink, [[Compaction]]): each reads
  * through [[readSnapshot]] and replaces through [[publish]], both under
  * [[withDirLock]] — the replace-by-swap that makes a replayed epoch an
  * idempotent overwrite.
  */
object Artifacts {

  /** Per-path JVM monitors: unrelated artifacts build concurrently; only
    * two in-process builders of the SAME artifact serialize (an
    * overlapping FileChannel lock on one file would throw).
    */
  private val pathMonitors =
    new java.util.concurrent.ConcurrentHashMap[Path, Object]

  private def monitorFor(p: Path): Object =
    pathMonitors.computeIfAbsent(p.toAbsolutePath.normalize, _ => new Object)

  /** Hex of the first 6 bytes of md5(`dir`): names the artifacts of one
    * fixture directory.
    */
  def fixtureTag(dir: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes(UTF_8)).take(6).map("%02x".format(_)).mkString

  /** Root of the durable artifact `name` derived from the fixture at
    * `dir`: `<java.io.tmpdir>/graft_<name>_<fixtureTag(dir)><suffix>`,
    * where `suffix` (such as `_k16`) names build parameters that get a
    * root of their own.
    */
  def fixtureRoot(dir: String, name: String, suffix: String = ""): Path =
    Paths.get(sys.props("java.io.tmpdir"), s"graft_${name}_${fixtureTag(dir)}$suffix")

  /** MD5 fingerprint of the given source files' identity, size and
    * mtime — cheap (no content read), changes whenever the driver
    * regenerates a fixture in place. The identity is the path RELATIVE
    * to `base` (when given), so two tables' part files with the same
    * basename stay distinguishable; mtime is taken at nanosecond
    * granularity so an in-place regeneration within one millisecond
    * still changes the fingerprint.
    */
  def fingerprint(files: Seq[Path], base: Option[Path] = None): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    files.sortBy(_.toString).foreach { p =>
      val id = base.fold(p.getFileName.toString)(b =>
        b.toAbsolutePath.normalize.relativize(p.toAbsolutePath.normalize).toString)
      val mtime = Files.getLastModifiedTime(p)
        .to(java.util.concurrent.TimeUnit.NANOSECONDS)
      md.update(s"$id ${Files.size(p)} $mtime\n".getBytes(UTF_8))
    }
    md.digest().map("%02x".format(_)).mkString
  }

  /** Fingerprint of fixture tables under `dir` (each either a single
    * parquet file or a directory of part files).
    */
  def tableFingerprint(dir: String, tables: String*): String = {
    import scala.jdk.CollectionConverters._
    val files = tables.flatMap { tbl =>
      val p = java.nio.file.Paths.get(dir, s"$tbl.parquet")
      if (Files.isDirectory(p)) {
        val s = Files.list(p)
        try s.iterator().asScala.toSeq finally s.close()
      } else Seq(p)
    }
    fingerprint(files.toSeq, Some(java.nio.file.Paths.get(dir)))
  }

  /** Ensure a complete artifact with fingerprint `fp` exists at `root`,
    * running `build(tmpDir)` only when the marker is absent or stale.
    * On return, `root/_BUILT` contains `fp` and the artifact is whole.
    */
  def ensureBuilt(root: Path, fp: String)(build: Path => Unit): Unit = {
    val parent = root.getParent
    val lockFile = parent.resolve(s"${root.getFileName}.lock")
    monitorFor(lockFile).synchronized {
      if (!upToDate(root, fp)) {
        Files.createDirectories(parent)
        withFileLock(lockFile) {
          if (!upToDate(root, fp)) { // re-check: another JVM may have built
            // sweep temp siblings a hard-killed builder left behind (a
            // SIGKILL skips the finally below) — safe under the lock: no
            // other builder of THIS artifact can be mid-build right now
            sweepStaleBuilds(parent, root.getFileName.toString)
            val tmp = Files.createTempDirectory(parent, s"${root.getFileName}.build")
            try {
              build(tmp)
              Files.write(tmp.resolve("_BUILT"), fp.getBytes(UTF_8))
              swapInto(root, tmp)
            } finally deleteRecursively(tmp) // no-op if the move happened
          }
        }
      }
    }
  }

  /** Serialize mutators of the directory `dir` within and across JVMs —
    * the writer-exclusion contract shared by the streaming sinks
    * (MergeSink, AggSink, SketchBankSink) and [[Compaction.compact]], so
    * a compaction can never lose a file a concurrent micro-batch
    * appended between its snapshot and its swap.
    */
  def withDirLock[A](dir: Path)(body: => A): A = {
    val abs = dir.toAbsolutePath.normalize
    val parent = abs.getParent
    Files.createDirectories(parent)
    val lockFile = parent.resolve(s"${abs.getFileName}.dirlock")
    monitorFor(lockFile).synchronized(withFileLock(lockFile)(body))
  }

  private def sweepStaleBuilds(parent: Path, name: String): Unit = {
    import scala.jdk.CollectionConverters._
    val s = Files.list(parent)
    try s.iterator().asScala
      .filter(_.getFileName.toString.startsWith(s"$name.build"))
      .toSeq.foreach(deleteRecursively)
    finally s.close()
  }

  /** Replace the directory at `target` with the fully-built `next`,
    * CRASH-SAFELY: the previous version is renamed aside first — never
    * deleted before the replacement is in place — so the data always
    * exists under `target` or `target.old` at every instant. The only
    * non-atomic window is between the two renames (microseconds, not
    * the length of a recursive delete); a crash there is repaired by
    * [[recoverSwap]] on the next read. Compare with the naive
    * delete-then-move, where a crash mid-delete loses the table
    * entirely and readers race a long teardown.
    */
  def swapInto(target: Path, next: Path): Unit = {
    val old = target.resolveSibling(s"${target.getFileName}.old")
    deleteRecursively(old) // leftover aside-copy from a previous crash
    if (Files.exists(target))
      Files.move(target, old, StandardCopyOption.ATOMIC_MOVE)
    Files.move(next, target, StandardCopyOption.ATOMIC_MOVE)
    deleteRecursively(old)
  }

  /** The swap-managed parquet snapshot at `dir` after [[recoverSwap]],
    * or an empty frame of `schema` when none has been published yet.
    * Call under [[withDirLock]].
    */
  def readSnapshot(spark: SparkSession, dir: Path, schema: StructType): DataFrame = {
    recoverSwap(dir)
    if (Files.exists(dir)) spark.read.parquet(dir.toString)
    else spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
  }

  /** Replace the snapshot at `dir` with what `write` puts in the sibling
    * `<dir>.next`, through [[swapInto]]. A stale `.next` a crashed writer
    * left is deleted first; if `write` throws, `.next` is deleted and
    * `dir` is left untouched. Call under [[withDirLock]].
    */
  def publish(dir: Path)(write: Path => Unit): Unit = {
    val next = dir.resolveSibling(s"${dir.getFileName}.next")
    deleteRecursively(next)
    try {
      write(next)
      swapInto(dir, next)
    } finally deleteRecursively(next) // no-op if the move happened
  }

  /** Repair the one non-atomic [[swapInto]] window: if a crash left
    * `target` absent with its `.old` aside-copy present, restore it.
    * Call before reading a swap-managed directory.
    */
  def recoverSwap(target: Path): Unit = {
    val old = target.resolveSibling(s"${target.getFileName}.old")
    if (!Files.exists(target) && Files.exists(old))
      Files.move(old, target, StandardCopyOption.ATOMIC_MOVE)
  }

  private def upToDate(root: Path, fp: String): Boolean = {
    val marker = root.resolve("_BUILT")
    Files.exists(marker) &&
      new String(Files.readAllBytes(marker), UTF_8) == fp
  }

  private def withFileLock[A](lockFile: Path)(body: => A): A = {
    val ch = java.nio.channels.FileChannel.open(lockFile,
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.WRITE)
    try {
      val lock = ch.lock()
      try body finally lock.release()
    } finally ch.close()
  }

  /** Best-effort recursive delete; tolerates a vanishing tree. */
  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => try Files.deleteIfExists(f) catch {
          case _: java.io.IOException => ()
        })
      finally s.close()
    }
}
