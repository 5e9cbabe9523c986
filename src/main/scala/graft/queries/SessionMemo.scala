package graft.queries

import java.lang.ref.WeakReference
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.concurrent.TrieMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** A per-SparkSession memo with automatic eviction — the shared backing
  * for every `Shared*` fixture/index cache in the query packs.
  * Driver-side values (codebooks, merge tables, paths) use a plain
  * `new SessionMemo`; shared DataFrames use [[SessionMemo.frames]], the
  * one owner of the pin policy (persist, unpersist on eviction, drop in
  * [[SessionMemo.evictAll]]), so no query names a storage level or an
  * evictor.
  *
  * The round-3 memos were plain `TrieMap`s keyed on
  * `identityHashCode(session)`: bounded per fixture, fine for bench/
  * Verify lifetimes, but a long-lived multi-tenant driver that opens and
  * closes sessions would accumulate pinned plans forever. Eviction
  * mechanisms, none on the hot path:
  *
  *  - **Explicit [[evict]]**: the API a multi-tenant driver calls when it
  *    retires a session. This is the only mechanism that can fire for
  *    DataFrame-valued memos on a CHILD session of a live shared
  *    context: a cached Dataset strongly references its session (so the
  *    weak ref below never clears while the entry lives), and
  *    `sparkContext.isStopped` stays false until the whole application
  *    ends — automatic detection is structurally impossible there.
  *  - **Weak session tracking**: the memo itself never holds a strong
  *    reference to the session. Each `apply` sweeps sessions that have
  *    been GC'd (possible when cached values don't reference the
  *    session, e.g. plain probe vectors) or whose SparkContext has
  *    stopped, running `onEvict` (typically `DataFrame.unpersist`) on
  *    their cached values.
  *  - **Application-end listener**: one `SparkListener` per distinct
  *    SparkContext drops every entry the moment the context stops — the
  *    cached plans are unusable from then on anyway.
  *
  * Sessions are identified by a memo-assigned UNIQUE tag (monotonic
  * counter held in a weak-keyed map), not `identityHashCode`: hash codes
  * can be reused by a new session after GC and can collide between two
  * live sessions — either would let one session's entries alias
  * another's. A tag is never reused, so a stale entry can only ever be
  * swept, never adopted.
  *
  * Values are held in lazily-forced cells, so a concurrent first access
  * computes at most ONCE — `TrieMap.getOrElseUpdate` may race two cell
  * allocations, but only the winning cell is ever forced; the loser is
  * discarded unforced (nothing persisted, nothing to leak). `onEvict`
  * runs only on cells that were actually forced, and AT LEAST once, not
  * exactly once: an evict racing a thread inside `compute` can fire the
  * evictor from both the sweep and the self-evict re-check in `apply` —
  * evictors must be idempotent (unpersist and delete-if-exists are; a
  * refcount decrement would not be).
  */
final class SessionMemo[K, V] private (
    onEvict: V => Unit,
    /** True for memos whose values PIN EXECUTOR STORAGE (persisted
      * DataFrames): only these participate in [[SessionMemo.evictAll]] —
      * driver-side-only values (codebooks, merge tables, paths, probe
      * vectors) occupy no storage pool, so evicting them between bench
      * families would buy nothing and cost a rebuild.
      */
    val pinsExecutorStorage: Boolean,
    /** Applied once to each computed value before it is stored
      * ([[SessionMemo.frames]] persists it here).
      */
    pin: V => V) {

  def this(onEvict: V => Unit = (_: V) => (),
      pinsExecutorStorage: Boolean = false) =
    this(onEvict, pinsExecutorStorage, (v: V) => v)

  /** Lazily-forced value cell: at most one compute, evictable only if
    * actually forced. (An eviction racing a thread inside `compute`
    * skips the in-flight value here; `apply` re-checks after forcing and
    * self-evicts the orphan, so nothing persisted escapes `onEvict`.)
    */
  private final class Cell(f: () => V) {
    @volatile private var forced = false
    lazy val value: V = { val v = f(); forced = true; v }
    def ifForced: Option[V] = if (forced) Some(value) else None
  }

  private val entries = TrieMap[(Int, K), Cell]()
  /** One weak ref per session tag, for staleness sweeps. */
  private val sessions = TrieMap[Int, WeakReference[SparkSession]]()
  /** session → unique tag; weak keys so the map never pins a session. */
  private val tags = new java.util.WeakHashMap[SparkSession, Integer]()
  private val nextTag = new AtomicInteger(0)
  /** Contexts that already carry our application-end listener. */
  private val hookedContexts = TrieMap[Int, Unit]()

  // Publish to the global registry only AFTER every field above is
  // initialized: registering first would leak a half-constructed `this`,
  // and a concurrent SessionMemo.evictAll could NPE inside evict() on
  // the not-yet-assigned maps.
  SessionMemo.register(this)

  private def tagOf(s: SparkSession): Int = tags.synchronized {
    val t = tags.get(s)
    if (t != null) t.intValue
    else {
      val fresh = nextTag.incrementAndGet()
      tags.put(s, fresh)
      fresh
    }
  }

  def apply(s: SparkSession, key: K)(compute: => V): V = {
    hookContext(s)
    sweep()
    // register AFTER the sweep: a tag is unique to this session object,
    // so a sweep can never remove the registration a concurrent apply
    // just made for a DIFFERENT live session (the identityHashCode-keyed
    // version had exactly that race).
    val tag = tagOf(s)
    sessions.putIfAbsent(tag, new WeakReference(s))
    val k = (tag, key)
    val cell = entries.getOrElseUpdate(k, new Cell(() => pin(compute)))
    val v = cell.value
    // An evict()/sweep() racing this thread inside `compute` removes the
    // entry while the compute still finishes — without this re-check the
    // value (e.g. a persisted DataFrame) would be handed out with nobody
    // left to run onEvict on it, ever. If OUR cell is no longer the
    // stored one (evicted, or replaced by a post-evict recompute),
    // self-evict the value we produced; the caller still gets a correct
    // value, just an uncached one.
    if (!entries.get(k).exists(_ eq cell)) {
      try onEvict(v)
      catch { case scala.util.control.NonFatal(_) => () }
    }
    v
  }

  /** Drop every entry of `s`, running `onEvict` on the computed values —
    * the call a multi-tenant driver makes when it retires a session
    * (e.g. right before abandoning a `newSession()` child). Safe to call
    * twice; a later `apply` on the same session simply recomputes.
    */
  def evict(s: SparkSession): Unit = {
    val t = tags.synchronized(tags.get(s))
    if (t != null) evictSession(t.intValue)
  }

  /** Evict entries of sessions that are gone (GC'd or context stopped).
    * Cheap — proportional to distinct sessions seen, not entries — and
    * safe to call from anywhere.
    */
  def sweep(): Unit =
    sessions.foreach { case (tag, ref) =>
      val s = ref.get()
      if (s == null || s.sparkContext.isStopped) evictSession(tag)
    }

  private def evictSession(tag: Int): Unit = {
    sessions.remove(tag)
    entries.keys.filter(_._1 == tag).foreach { k =>
      entries.remove(k).foreach { cell =>
        cell.ifForced.foreach { v =>
          try onEvict(v)
          catch { case scala.util.control.NonFatal(_) => () } // best-effort
        }
      }
    }
  }

  private def hookContext(s: SparkSession): Unit = {
    val sc = s.sparkContext
    hookedContexts.getOrElseUpdate(System.identityHashCode(sc), {
      sc.addSparkListener(new SparkListener {
        override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit =
          sweep()
      })
    })
  }

  /** Live entry count — observability for the eviction tests. */
  def pinned: Int = entries.size

  /** Live entry count for one session. */
  def pinnedFor(s: SparkSession): Int = {
    val t = tags.synchronized(tags.get(s))
    if (t == null) 0 else entries.count(_._1._1 == t.intValue)
  }
}

object SessionMemo {
  /** The standard evictor for memoized persisted DataFrames: unpin the
    * plan if its context is still alive (a stopped context already
    * dropped every cached block).
    */
  val unpersistDf: DataFrame => Unit = df =>
    if (!df.sparkSession.sparkContext.isStopped) df.unpersist(blocking = false)

  /** A memo of shared per-fixture frames: each computed frame is
    * persisted at `MEMORY_AND_DISK`, unpersisted ([[unpersistDf]]) on
    * eviction, and dropped by [[evictAll]].
    */
  def frames[K]: SessionMemo[K, DataFrame] =
    new SessionMemo[K, DataFrame](unpersistDf, pinsExecutorStorage = true,
      _.persist(StorageLevel.MEMORY_AND_DISK))

  /** Weak registry of every memo instance, so a harness can drop ALL of a
    * session's pins at once without knowing which query packs exist.
    * Weak refs: the registry must never keep an otherwise-dead memo (and
    * its entries) alive.
    */
  private val registry =
    TrieMap[Int, WeakReference[SessionMemo[_, _]]]()
  private val nextId = new AtomicInteger(0)

  private def register(m: SessionMemo[_, _]): Unit =
    registry.put(nextId.incrementAndGet(), new WeakReference(m))

  /** Evict `s`'s entries from every live STORAGE-PINNING memo. The bench
    * calls this between query families: with 170 queries in one JVM,
    * dozens of accumulated MEMORY_AND_DISK pins (shingle/pair/minhash
    * indexes, adjacency lists, decoded frames) otherwise squeeze the
    * storage pool and late families pay eviction + recompute churn.
    * Per-family eviction bounds the live pin set to one family's
    * fixtures — the steady state a real per-job cluster run would see.
    * Driver-side-only memos (no executor storage) are left alone.
    */
  def evictAll(s: SparkSession): Unit =
    registry.foreach { case (id, ref) =>
      ref.get() match {
        case null                       => registry.remove(id)
        case m if m.pinsExecutorStorage => m.evict(s)
        case _                          => ()
      }
    }
}
