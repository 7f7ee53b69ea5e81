package graft

import java.lang.ref.WeakReference
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.SparkSession

/** Per-session memo of expensive derived state (trained indexes, dedup
  * pair/cluster frames, fingerprint tables) with an explicit LIFECYCLE —
  * the production split where an ingest pipeline trains/encodes once and
  * every query reads the shared artifact, without the JVM-lifetime pin a
  * bare static map would be.
  *
  * One entry per (session, data path, name) slot. An entry is dropped —
  * and its storage released via the caller's `release` hook — when:
  *
  *   1. its DATA CHANGES: the slot stores a cheap fingerprint of the
  *      table directory (file count, total bytes, max mtime); a lookup
  *      whose fingerprint differs releases the stale value and
  *      recomputes, so regenerated testdata can never be served stale;
  *   2. its SESSION ENDS: `endSession(spark)` (the hook a long-lived
  *      host calls when retiring a session) releases everything the
  *      session memoized;
  *   3. its CONTEXT STOPS: a SparkListener registered once per
  *      SparkContext purges that context's entries on application end
  *      (their block-manager storage died with the context);
  *   4. it goes IDLE: entries unused for `graft.memo.ttlSeconds`
  *      (default 1800, captured at creation) are released by the sweep
  *      that runs on every lookup — the boundedness guarantee for a
  *      long-lived JVM serving many short sessions that never call
  *      `endSession`.
  *
  * Lookups are optimistic (get / putIfAbsent, no lock held while the
  * value computes): concurrent first lookups may compute twice and the
  * loser releases its copy, and a memoized compute may itself consult
  * the memo (no `computeIfAbsent` re-entrancy hazard — see the
  * "Recursive update" note at TextSuite.DedupShared).
  *
  * DEPENDENCY RECORDING, for the plan memo ([[PlanMemo]]): inside
  * [[recorded]], every slot a lookup on this thread consults (read-plan
  * entries and RestMemo/SessionMemo memos, nested lookups included) is
  * recorded with the entry it held. Such a set of [[Dep]]s stays
  * [[current]] while every slot still holds that entry over an unchanged
  * fingerprint. A memoized plan is a [[slot]] of its own, so it shares
  * the lifecycle above (rules 2-4; it holds no data, so there is nothing
  * to release), and its validity is its dependencies' and its confs'.
  * A compute runs with the plan-build job tag ([[BuildTag]]) cleared, so
  * the jobs a memo compute launches are the memo's, not the build's.
  */
object SessionMemo {

  private[graft] final class Entry(
      val fp: String,
      val paths: Seq[String],
      val sessionRef: WeakReference[SparkSession],
      val ttlMillis: Long,
      val value: AnyRef,
      val release: () => Unit) {
    @volatile var lastAccess: Long = System.currentTimeMillis()
    def contextStopped: Boolean = sessionRef.get() match {
      case null => true // session GC'd: nothing can query this entry again
      case s => s.sparkContext.isStopped
    }
  }

  private val entries = new ConcurrentHashMap[String, Entry]()
  private val hookedContexts =
    ConcurrentHashMap.newKeySet[Integer]()

  private def sessionKey(s: SparkSession): String =
    org.apache.spark.sql.GraftColumnBridge.sessionKey(s)

  /** Cheap change-detection fingerprint of a data directory (or file):
    * regular-file count, total bytes, max mtime. On a cluster the same
    * role is played by a snapshot/commit id in the key.
    *
    * The recursive walk is NOT paid per lookup: its result is cached
    * behind a SHALLOW signature — the path's own (mtime, size) plus
    * each direct child's (name, mtime, size), ONE directory listing —
    * and re-walked when that signature changes OR when the cached walk
    * is older than [[FpWalkTtlMillis]]. The shallow signature alone
    * catches every flat-table rewrite and every single-level-partition
    * change immediately (POSIX bumps a directory's mtime on entry
    * create/delete/rename); a change buried ≥2 directory levels down
    * (a multi-level-partitioned table) moves no direct-child entry, so
    * the TTL bounds its staleness at a few seconds instead of forever.
    * Net cost: one O(direct-entries) listing per lookup, one O(files)
    * walk per table per TTL window — not per query.
    */
  def fingerprint(path: String): String = {
    val sh = shallowSignature(path)
    // MONOTONIC clock for the staleness bound: a backward wall-clock
    // step (NTP) under currentTimeMillis would extend the blind window
    // for changes ≥2 levels below the table root indefinitely
    val now = System.nanoTime()
    val cur = fpCache.get(path)
    if (cur != null && cur.shallow == sh &&
        now - cur.walkedAtNanos < FpWalkTtlMillis * 1000000L)
      cur.fp
    else {
      val fp = deepFingerprint(path)
      fpCache.put(path, FpEntry(sh, fp, now))
      fp
    }
  }

  /** Upper bound on how long a cached deep fingerprint may be served
    * without re-walking (the staleness bound for changes the shallow
    * signature cannot see — ≥2 levels below the table root). Var so
    * specs asserting no-rewalk behavior can pin it above their own
    * runtime instead of racing the wall clock on a loaded host.
    */
  private[graft] var FpWalkTtlMillis = 10000L

  private final case class FpEntry(shallow: String, fp: String,
      walkedAtNanos: Long)

  private val fpCache = new ConcurrentHashMap[String, FpEntry]()

  /** Deep-walk count — spec hook asserting lookups with unchanged data
    * do not re-walk the tree. Atomic: concurrent fingerprint() calls
    * (streams sharing one JVM) must not lose increments under a
    * read-modify-write race.
    */
  private val _deepWalks = new java.util.concurrent.atomic.AtomicLong(0L)
  def deepWalks: Long = _deepWalks.get()

  private def shallowSignature(path: String): String = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) "absent"
    else {
      val self = java.nio.file.Files.getLastModifiedTime(p).toMillis
      if (!java.nio.file.Files.isDirectory(p))
        s"f:$self:${java.nio.file.Files.size(p)}"
      else {
        val sb = new StringBuilder(s"d:$self")
        val stream = java.nio.file.Files.list(p)
        try {
          val it = stream.sorted().iterator()
          while (it.hasNext) {
            val f = it.next()
            val sz =
              if (java.nio.file.Files.isRegularFile(f))
                java.nio.file.Files.size(f)
              else -1L
            sb.append('|').append(f.getFileName.toString).append(':')
              .append(java.nio.file.Files.getLastModifiedTime(f).toMillis)
              .append(':').append(sz)
          }
        } finally stream.close()
        sb.toString()
      }
    }
  }

  private def deepFingerprint(path: String): String = {
    _deepWalks.incrementAndGet()
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) s"absent"
    else {
      var n = 0L; var bytes = 0L; var mtime = 0L
      val stream = java.nio.file.Files.walk(p)
      try {
        val it = stream.iterator()
        while (it.hasNext) {
          val f = it.next()
          if (java.nio.file.Files.isRegularFile(f)) {
            n += 1
            bytes += java.nio.file.Files.size(f)
            val t = java.nio.file.Files.getLastModifiedTime(f).toMillis
            if (t > mtime) mtime = t
          }
        }
      } finally stream.close()
      s"$n:$bytes:$mtime"
    }
  }

  /** Look up (or compute and remember) the value for this session's
    * (dataPath, what) slot. `release` frees the value's distributed
    * storage when the entry is evicted (see the lifecycle rules above).
    */
  def getOrCompute[T <: AnyRef](s: SparkSession, dataPath: String,
      what: String)(compute: => T)(release: T => Unit): T =
    getOrCompute(s, Seq(dataPath), what)(compute)(release)

  /** Multi-source variant: the slot is keyed AND fingerprinted over
    * EVERY contributing table directory (ADVICE r14 — a memo whose
    * compute unions several tables but keys on one of them is served
    * stale when any of the others regenerates). A single-path call is
    * the one-element case.
    */
  def getOrCompute[T <: AnyRef](s: SparkSession, dataPaths: Seq[String],
      what: String)(compute: => T)(release: T => Unit): T = {
    sweep(System.currentTimeMillis())
    hookContext(s)
    val k = slotKey(s, dataPaths, what)
    val fp = dataPaths.map(fingerprint).mkString("|")
    val cur = entries.get(k)
    if (cur != null && cur.fp == fp) {
      cur.lastAccess = System.currentTimeMillis()
      record(k, cur)
      cur.value.asInstanceOf[T]
    } else {
      if (cur != null && entries.remove(k, cur)) safeRelease(cur)
      val ttl = ttlOf(s)
      // memoized builds run OUTSIDE any active cacheScope: their persists
      // are long-lived memo state owned by this lifecycle, and must not
      // be drained when a scoped caller (a micro-batch loop) exits
      val v = Graft.withoutCacheScope(untagged(s)(compute))
      val e = new Entry(fp, dataPaths, new WeakReference(s), ttl, v,
        () => release(v))
      val prev = entries.putIfAbsent(k, e)
      if (prev == null) { record(k, e); v }
      else if (prev.fp == fp) {
        safeRelease(e); record(k, prev); prev.value.asInstanceOf[T]
      }
      else { entries.put(k, e); safeRelease(prev); record(k, e); v }
    }
  }

  private def slotKey(s: SparkSession, dataPaths: Seq[String],
      what: String): String =
    s"${sessionKey(s)}:${dataPaths.mkString("\u0000")}:$what"

  private def ttlOf(s: SparkSession): Long = math.max(1L,
    (try s.conf.get("graft.memo.ttlSeconds", "1800").toLong
     catch { case _: Throwable => 1800L }) * 1000L)

  /** One slot a [[recorded]] body consulted: its key and the entry it
    * held at the time.
    */
  private[graft] final case class Dep(key: String, entry: Entry) {
    def isReadPlan: Boolean = key.endsWith(":read-plan")
  }

  private val recorders =
    ThreadLocal.withInitial[List[java.util.ArrayList[Dep]]](() => Nil)

  private def record(k: String, e: Entry): Unit =
    recorders.get().foreach(_.add(Dep(k, e)))

  /** Run `body` and return what it made with every slot it consulted on
    * this thread, in lookup order, each once. Recordings nest: a lookup
    * is recorded in every recording open on the thread.
    */
  private[graft] def recorded[T](body: => T): (T, Seq[Dep]) = {
    val buf = new java.util.ArrayList[Dep]()
    val outer = recorders.get()
    recorders.set(buf :: outer)
    val v = try body finally recorders.set(outer)
    import scala.jdk.CollectionConverters._
    (v, buf.asScala.toSeq.distinct)
  }

  /** Record `deps` in the recordings open on this thread, as if the slots
    * had been consulted again (a plan hit inside an outer build).
    */
  private[graft] def recordAll(deps: Seq[Dep]): Unit =
    deps.foreach(d => record(d.key, d.entry))

  /** True when every dep's slot still holds the recorded entry over an
    * unchanged fingerprint; then their idle clocks restart, so the TTL
    * sweep never releases what a memoized plan still reads.
    */
  private[graft] def current(deps: Seq[Dep]): Boolean = {
    val ok = deps.forall { d =>
      (entries.get(d.key) eq d.entry) &&
        d.entry.paths.map(fingerprint).mkString("|") == d.entry.fp
    }
    if (ok) {
      val now = System.currentTimeMillis()
      deps.foreach(_.entry.lastAccess = now)
    }
    ok
  }

  /** The value of this session's (dataPath, what) slot when `valid`
    * accepts it; a rejected value is dropped. Unlike [[getOrCompute]], no
    * fingerprint is kept: `valid` decides. Runs the sweep first.
    */
  private[graft] def slot[P <: AnyRef](s: SparkSession, dataPath: String,
      what: String)(valid: P => Boolean): Option[P] = {
    val now = System.currentTimeMillis()
    sweep(now)
    val k = slotKey(s, Seq(dataPath), what)
    entries.get(k) match {
      case null => None
      case e if valid(e.value.asInstanceOf[P]) =>
        e.lastAccess = now
        Some(e.value.asInstanceOf[P])
      case e => entries.remove(k, e); None
    }
  }

  /** Store `value` in this session's (dataPath, what) slot for [[slot]]. */
  private[graft] def putSlot(s: SparkSession, dataPath: String, what: String,
      value: AnyRef): Unit = {
    hookContext(s)
    entries.put(slotKey(s, Seq(dataPath), what),
      new Entry("", Nil, new WeakReference(s), ttlOf(s), value, () => ()))
  }

  /** Drop (and release) every entry, of any session, whose value `p`
    * accepts.
    */
  private[graft] def dropWhere(p: AnyRef => Boolean): Unit = {
    val it = entries.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next().getValue
      if (p(e.value)) { it.remove(); safeRelease(e) }
    }
  }

  /** SparkContext local property naming the plan builds open on the
    * thread (comma-separated tokens); [[PlanMemo]] counts the jobs that
    * carry it.
    */
  private[graft] val BuildTag = "graft.plan.builds"

  /** Run `body` with [[BuildTag]] cleared on this thread. */
  private def untagged[T](s: SparkSession)(body: => T): T = {
    val sc = s.sparkContext
    val tag = sc.getLocalProperty(BuildTag)
    if (tag == null) body
    else {
      sc.setLocalProperty(BuildTag, null)
      try body finally sc.setLocalProperty(BuildTag, tag)
    }
  }

  /** Release and drop everything `s` memoized — the session-retirement
    * hook for a long-lived JVM hosting many sessions.
    */
  def endSession(s: SparkSession): Unit = {
    val prefix = sessionKey(s) + ":"
    val it = entries.entrySet().iterator()
    while (it.hasNext) {
      val kv = it.next()
      if (kv.getKey.startsWith(prefix)) { it.remove(); safeRelease(kv.getValue) }
    }
  }

  /** Entry keys currently held for `s` (inspection hook for specs). */
  def keysFor(s: SparkSession): Seq[String] = {
    val prefix = sessionKey(s) + ":"
    import scala.jdk.CollectionConverters._
    entries.keySet().asScala.filter(_.startsWith(prefix)).toSeq.sorted
  }

  def size: Int = entries.size()

  /** Age bound for fingerprint-cache entries of paths that stopped
    * being queried (active paths refresh walkedAtNanos on every re-walk,
    * at most [[FpWalkTtlMillis]] apart, so only abandoned paths age
    * out). Var so specs can exercise eviction without a wall-clock wait.
    */
  private[graft] var FpCacheMaxAgeNanos: Long = 3600L * 1000000000L

  /** Drop idle/dead entries. Public with an explicit `now` so specs can
    * exercise the TTL path without a wall-clock wait.
    */
  def sweep(now: Long): Unit = {
    val it = entries.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next().getValue
      if (e.contextStopped) it.remove() // storage died with the context
      else if (now - e.lastAccess > e.ttlMillis) { it.remove(); safeRelease(e) }
    }
    // fingerprint entries for abandoned paths would otherwise accrete
    // forever in a long-lived JVM serving many distinct table dirs
    val nn = System.nanoTime()
    val fit = fpCache.entrySet().iterator()
    while (fit.hasNext)
      if (nn - fit.next().getValue.walkedAtNanos > FpCacheMaxAgeNanos)
        fit.remove()
  }

  private def safeRelease(e: Entry): Unit =
    if (!e.contextStopped) {
      try e.release() catch { case _: Throwable => () }
    }

  /** Once per SparkContext: purge its entries when the application ends
    * (covers hosts that stop the context without calling endSession).
    */
  private def hookContext(s: SparkSession): Unit = {
    val sc = s.sparkContext
    val id = Integer.valueOf(System.identityHashCode(sc))
    if (hookedContexts.add(id)) {
      sc.addSparkListener(new SparkListener {
        override def onApplicationEnd(end: SparkListenerApplicationEnd): Unit = {
          hookedContexts.remove(id)
          val it = entries.entrySet().iterator()
          while (it.hasNext) if (it.next().getValue.contextStopped) it.remove()
        }
      })
    }
  }
}
