package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}

/** AT-REST persistence under [[SessionMemo]] (VERDICT r12 #2): the
  * expensive derived state the session memo holds — trained ANN
  * quantizers and codes, dedup pair tables and closures, the BPE merge
  * table, media fingerprint tables — written once as parquet sidecars
  * keyed by (content fingerprint of the source data, engine code
  * stamp, memo name), and RELOADED by later sessions instead of
  * rebuilt. This is the production posture "indexes are built at
  * ingest" taken literally: the first session after an ingest pays the
  * build; every session after that pays a parquet read of the (much
  * smaller) derived state.
  * On a cluster the sidecar directory is a table path next to the
  * corpus and the fingerprint is the snapshot/commit id.
  *
  * Layering: each entry is still a [[SessionMemo]] slot (same lifecycle
  * — release on data change, session end, context stop, idle TTL); only
  * the COMPUTE changes, to try-load-then-build-and-save. The sidecar
  * carries the source fingerprint in its manifest, so a regenerated
  * corpus invalidates the at-rest copy exactly like it invalidates the
  * in-session one. Writers stage into a temp dir, move the current
  * sidecar ASIDE, and atomically move the staged one into place —
  * delete-free swap, so a reader sees a complete sidecar except in the
  * instant between the two moves (or mid-read of the aside'd copy as
  * it is reaped); either race, like a corrupt sidecar, falls through
  * the reader's catch-all to a rebuild — fallback-safe rather than
  * fully atomic.
  *
  * The sidecar key mixes a CONTENT SAMPLE (head/tail bytes of every
  * source file) into SessionMemo's (count, bytes, mtime) fingerprint:
  * a same-size rewrite within mtime granularity would serve the
  * in-session memo stale only until session end, but an at-rest copy
  * indefinitely (ADVICE r13) — the sample closes all but
  * same-head-same-tail rewrites; the production path (snapshot/commit
  * id as the key) avoids the question entirely.
  *
  * [[outcomes]] records built-vs-reloaded per memo for the bench
  * artifact's `memo_rest` section — the disclosure that makes a cold
  * window's builds phase attributable (a reloading run's "builds" are
  * parquet reads, and the artifact says so).
  */
object RestMemo {

  /** Base directory for sidecars; conf `graft.memo.restDir`. The
    * default lives on the same tmpfs as the shuffle dirs — surviving
    * session restarts (the point) though not reboots; production
    * points it at durable storage next to the corpus. PER-USER by
    * default and created 0700, and [[loadOrBuild]] refuses sidecars
    * not owned by the current user: a fixed world-shared path would
    * let another local user pre-plant sidecars that load as derived
    * index/dedup state (ADVICE r13).
    */
  def restDir(s: SparkSession): String = {
    val dflt = defaultRestDir
    try s.conf.get("graft.memo.restDir", dflt)
    catch { case _: Throwable => dflt }
  }

  private[graft] def defaultRestDir: String =
    "/dev/shm/graft-rest-" +
      sys.props.getOrElse("user.name", "anon").replaceAll("[^A-Za-z0-9._-]", "_")

  /** Create `base` owner-only (0700). Applied to the configured dir
    * too — a pre-existing dir keeps its permissions, but the ownership
    * check below refuses its sidecars unless we own them.
    */
  private def ensureBase(base: Path): Unit =
    if (!Files.exists(base)) {
      import java.nio.file.attribute.PosixFilePermissions
      try Files.createDirectories(base,
        PosixFilePermissions.asFileAttribute(
          PosixFilePermissions.fromString("rwx------")))
      catch { case _: java.lang.UnsupportedOperationException =>
        Files.createDirectories(base) } // non-POSIX fs: best effort
    }

  private def ownedByUs(p: Path): Boolean =
    try Files.getOwner(p).getName == sys.props.getOrElse("user.name", "")
    catch { case _: Throwable => false }

  /** Memo name → "built" | "reloaded", for THIS JVM since the last
    * [[drainOutcomes]] — Bench drains per section.
    */
  private val outcomes = new ConcurrentHashMap[String, String]()

  def drainOutcomes(): Map[String, String] = {
    import scala.jdk.CollectionConverters._
    val snap = outcomes.asScala.toMap
    outcomes.clear()
    snap
  }

  /** Sidecar location: one dir per (memo name, source-path hash) — the
    * name is the human-readable key, the hash disambiguates identical
    * memo names over different source dirs (sf0.1 vs sf1). Multi-source
    * memos hash the joined path list, so adding a source moves the
    * sidecar (and orphans the old one — harmless tmpfs litter).
    */
  private def sideDir(s: SparkSession, dataPaths: Seq[String],
      what: String): Path =
    Paths.get(restDir(s),
      what.replaceAll("[^A-Za-z0-9._-]", "_") + "-" +
        Integer.toHexString(scala.util.hashing.MurmurHash3.stringHash(
          dataPaths.mkString("\u0000"))))

  /** The engine's code stamp, folded into every sidecar fingerprint so
    * that a rebuilt engine rebuilds its memos instead of reloading the
    * answers of the code that wrote them: for a jar its size and mtime,
    * for a class directory its file count and max mtime (walked once
    * per JVM). An unlocatable code source stamps "unknown".
    */
  private lazy val engineStamp: String =
    try {
      val loc = Paths.get(getClass.getProtectionDomain.getCodeSource
        .getLocation.toURI)
      if (Files.isRegularFile(loc))
        s"jar:${Files.size(loc)}:${Files.getLastModifiedTime(loc).toMillis}"
      else {
        var n = 0L; var mtime = 0L
        val stream = Files.walk(loc)
        try stream.filter(f => Files.isRegularFile(f)).forEach { f =>
          n += 1
          mtime = math.max(mtime, Files.getLastModifiedTime(f).toMillis)
        } finally stream.close()
        s"classes:$n:$mtime"
      }
    } catch { case _: Throwable => "unknown" }

  /** Replaces [[engineStamp]] when set — specs simulate a rebuilt
    * engine with it. */
  private[graft] var CodeStampOverride: Option[String] = None

  private def codeStamp: String = CodeStampOverride.getOrElse(engineStamp)

  /** Sidecar-keying fingerprint: [[SessionMemo.fingerprint]] (file
    * count, total bytes, max mtime) extended with a content sample —
    * the first and last 64 bytes of every regular file under `path`,
    * folded into one hash. Paid once per memo resolution (not per
    * query); closes the same-size-rewrite-within-mtime-granularity
    * staleness window for at-rest state (ADVICE r13).
    */
  private[graft] def restFingerprint(path: String): String = {
    val base = SessionMemo.fingerprint(path)
    val p = Paths.get(path)
    if (!Files.exists(p)) return base
    var h = 0x9747b28c
    try {
      val stream = Files.walk(p)
      try {
        val it = stream.filter(f => Files.isRegularFile(f)).sorted().iterator()
        val buf = new Array[Byte](64)
        while (it.hasNext) {
          val f = it.next()
          val ch = java.nio.channels.FileChannel.open(f)
          try {
            val sz = ch.size()
            def sample(off: Long): Unit = {
              val bb = java.nio.ByteBuffer.wrap(buf)
              var pos = off
              while (bb.hasRemaining && pos < sz) {
                val n = ch.read(bb, pos)
                if (n < 0) pos = sz else pos += n
              }
              h = scala.util.hashing.MurmurHash3.bytesHash(
                java.util.Arrays.copyOf(buf, bb.position()), h)
            }
            sample(0L)
            if (sz > 64) sample(sz - 64)
          } finally ch.close()
        }
      } finally stream.close()
    } catch { case _: Throwable => () } // unreadable file: keep the base walk
    base + ":" + Integer.toHexString(h)
  }

  private final case class Manifest(fp: String, parts: Seq[String],
      meta: Map[String, String])

  private def readManifest(dir: Path): Option[Manifest] = {
    val f = dir.resolve("_GRAFT_REST")
    if (!Files.isRegularFile(f)) None
    else {
      val lines = new String(Files.readAllBytes(f), UTF_8).split("\n").toSeq
      val kv = lines.filter(_.contains("=")).map { l =>
        val i = l.indexOf('='); (l.substring(0, i), l.substring(i + 1)) }
      val fp = kv.collectFirst { case ("fp", v) => v }
      fp.map(Manifest(_,
        kv.collect { case ("part", v) => v },
        kv.collect { case (k, v) if k.startsWith("meta.") =>
          k.stripPrefix("meta.") -> v }.toMap))
    }
  }

  /** Core load-or-build. `parts(v)` decomposes the built value into
    * named frames + scalar meta for the sidecar; `reassemble` rebuilds
    * the value from reloaded frames (each already read, NOT yet
    * truncated/localized — the caller picks the in-memory form).
    */
  private def loadOrBuild[T <: AnyRef](s: SparkSession,
      dataPaths: Seq[String], what: String)(build: => T)(
      parts: T => (Seq[(String, DataFrame)], Map[String, String]),
      reassemble: (Map[String, DataFrame], Map[String, String]) => T): T = {
    // every contributing source dir is folded into the key (ADVICE
    // r14): a multi-source memo fingerprinted on one path would serve
    // a stale sidecar indefinitely after any OTHER source regenerates;
    // the engine's code stamp makes a rebuilt engine rebuild its memos
    val fp = dataPaths.map(restFingerprint).mkString("|") + "#" + codeStamp
    val dir = sideDir(s, dataPaths, what)
    val loaded: Option[T] =
      try readManifest(dir).filter(_ => ownedByUs(dir))
        .filter(_.fp == fp).map { m =>
        // bare reads: a sidecar is read once per session, at reload
        val frames = m.parts.map(p =>
          p -> s.read.parquet(dir.resolve(p).toString)).toMap
        reassemble(frames, m.meta)
      } catch { case _: Throwable => None } // corrupt/racing sidecar → rebuild
    loaded match {
      case Some(v) =>
        outcomes.put(what, "reloaded"); v
      case None =>
        val v = build
        try save(dir, fp, parts(v)) catch { case e: Throwable =>
          System.err.println(s"[rest-memo] save $what failed: ${e.getMessage}") }
        outcomes.put(what, "built")
        v
    }
  }

  private def save(dir: Path, fp: String,
      p: (Seq[(String, DataFrame)], Map[String, String])): Unit = {
    val (frames, meta) = p
    ensureBase(dir.getParent)
    val tag = java.util.UUID.randomUUID().toString.take(8)
    val tmp = dir.resolveSibling(dir.getFileName.toString + ".tmp-" + tag)
    frames.foreach { case (name, df) =>
      df.write.mode("overwrite").parquet(tmp.resolve(name).toString) }
    val manifest = (Seq(s"fp=$fp") ++ frames.map("part=" + _._1) ++
      meta.toSeq.sorted.map { case (k, v) => s"meta.$k=$v" }).mkString("\n")
    Files.write(tmp.resolve("_GRAFT_REST"), manifest.getBytes(UTF_8))
    // move-aside-then-swap (VERDICT r13 wrong-#2 retired the
    // delete-then-move window): the old sidecar is renamed aside, the
    // staged one atomically moved in, THEN the aside copy reaped — no
    // reader ever sees a half-written dir, and the no-sidecar window
    // shrinks to the instant between the two moves
    val aside = dir.resolveSibling(dir.getFileName.toString + ".old-" + tag)
    try {
      if (Files.exists(dir)) Files.move(dir, aside,
        StandardCopyOption.ATOMIC_MOVE)
      Files.move(tmp, dir, StandardCopyOption.ATOMIC_MOVE)
      deleteRecursively(aside)
    } catch { case _: Throwable => // lost a concurrent race: keep theirs
      deleteRecursively(tmp)
      try if (Files.exists(aside) && !Files.exists(dir))
        Files.move(aside, dir, StandardCopyOption.ATOMIC_MOVE)
      catch { case _: Throwable => () }
      deleteRecursively(aside)
    }
  }

  private def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val stream = Files.walk(p)
      try stream.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => { Files.deleteIfExists(f); () })
      finally stream.close()
    }

  /** One-DataFrame memo, lineage-truncated in memory either way (the
    * dedup pairs/closures and cell-assignment form). `build` returns a
    * plain plan; the memo truncates it eagerly (Graft.truncate) on the
    * build path, and the reload path reads the sidecar and truncates it
    * into the identical in-memory form. Released via
    * [[Graft.releaseTruncated]] by the SessionMemo lifecycle. The build
    * and its truncation run inside one [[Graft.cacheScope]]: what the
    * build persists through [[Graft.trackedPersist]] (e.g. MinHash's
    * shingle-set cache, a corpus its branches share) is released once
    * the truncated value exists, instead of staying cached behind the
    * memo for the rest of the session.
    *
    * The sidecar key carries the engine's code stamp, so a rebuilt
    * engine rebuilds. Within one engine build, two different computes
    * still need two `what` tags (m14-pairs → m14-pairs-v2): the
    * fingerprint otherwise sees the same source data and code.
    *
    * In a [[Graft.oneSlot]] session the memo holds the truncated frame
    * followed by `coalesce(1)`, built or reloaded alike, so the queries
    * over it add no exchange of their own.
    */
  def frame(s: SparkSession, dataPath: String, what: String)(
      build: => DataFrame): DataFrame =
    frame(s, Seq(dataPath), what)(build)

  /** Multi-source [[frame]]: keyed and fingerprinted over EVERY
    * contributing table directory — required whenever `build` reads
    * more than one source (ADVICE r14; a single-path key leaves the
    * sidecar stale forever when one of the OTHER sources regenerates:
    * verify-vs-oracle runs would catch it, bench runs would not).
    */
  def frame(s: SparkSession, dataPaths: Seq[String], what: String)(
      build: => DataFrame): DataFrame =
    SessionMemo.getOrCompute(s, dataPaths, what) {
      Graft.oneSlotFrame(loadOrBuild(s, dataPaths, what)(
        Graft.cacheScope(truncated(build)))(
        v => (Seq("data" -> v), Map.empty), (fs, _) => truncated(fs("data"))))
    }(Graft.releaseTruncated)

  /** Collected-LITERAL memo (the IvfShared quantizer form): the value
    * is a LocalRelation of bounded algorithm state (O(√n·dim) centroid
    * rows), so joins against it broadcast trivially and nothing needs
    * releasing. Reload reads the sidecar and re-collects into the same
    * literal form.
    */
  def literalFrame(s: SparkSession, dataPath: String, what: String)(
      build: => DataFrame): DataFrame =
    SessionMemo.getOrCompute(s, dataPath, what) {
      loadOrBuild(s, Seq(dataPath), what)(build)(
        v => (Seq("data" -> v), Map.empty),
        (fs, _) => localize(s, fs("data")))
    }(_ => ())

  /** Re-collect a (bounded) frame into a LocalRelation literal. */
  private def localize(s: SparkSession, df: DataFrame): DataFrame = {
    import scala.jdk.CollectionConverters._
    s.createDataFrame(df.collect().toSeq.asJava, df.schema)
  }

  /** Multi-frame memo for composite index values (PqIndex/IvfPqIndex):
    * `parts` names each constituent frame and whether its reloaded form
    * should be a literal (bounded codebooks/centroids) or truncated
    * (codes/corpus); `meta` carries the scalars; `reassemble` rebuilds
    * the case class.
    */
  def multi[T <: AnyRef](s: SparkSession, dataPath: String, what: String)(
      build: => T)(
      parts: T => (Seq[(String, DataFrame)], Map[String, String]),
      reassemble: (Map[String, DataFrame], Map[String, String]) => T)(
      release: T => Unit): T =
    SessionMemo.getOrCompute(s, dataPath, what) {
      loadOrBuild(s, Seq(dataPath), what)(build)(parts, reassemble)
    }(release)

  /** Eager truncation: the in-memory form of [[frame]] values, and the
    * reload helper for data-sized [[multi]] parts.
    */
  def truncated(df: DataFrame): DataFrame = Graft.truncate(df, eager = true)

  /** Reload helper for [[multi]] reassemblers: literal form for bounded
    * frames.
    */
  def literal(s: SparkSession, df: DataFrame): DataFrame = localize(s, df)

  // --- marker-based reuse for caller-written derived COPIES -------------
  // The layout memos (sorted/z-ordered/bloom/bucketed lineitem copies)
  // write their at-rest artifact themselves; RestMemo only supplies the
  // fingerprint bookkeeping through [[copy]], and the caller re-runs its
  // (cheap) evidence query either way so the bench artifact's
  // layout_skip section stays populated in reloading runs too.

  private val CopyMarker = "_GRAFT_REST_SRC"

  /** PER-USER base for the caller-written layout copies (the
    * sorted/z-ordered/bloom/bucketed lineitem artifacts) — the
    * [[defaultRestDir]] posture applied to the last world-shared tmpfs
    * surface (ADVICE r14): under a fixed /dev/shm/graft-layout another
    * local user could pre-create and OWN the directory the write path
    * operates in; here the base is user-suffixed and created 0700.
    * Created on every call (cheap stat when it exists) so callers can
    * path-build directly off the return value.
    */
  def layoutDir(): String = {
    val base = Paths.get("/dev/shm/graft-layout-" +
      sys.props.getOrElse("user.name", "anon")
        .replaceAll("[^A-Za-z0-9._-]", "_"))
    ensureBase(base)
    base.toString
  }

  /** Reuse-or-write for caller-written copies: each `src -> path` pair
    * is fresh when `path` carries a marker of `src`'s current contents
    * under tag `what`. When every pair is fresh nothing is written;
    * otherwise `write` runs and every marker is stamped. The outcome is
    * recorded under `what`. True when the copies were reused.
    */
  def copy(what: String, copies: Seq[(String, String)])(
      write: => Unit): Boolean = {
    val fresh = copies.forall { case (src, path) => freshCopy(src, path, what) }
    if (!fresh) {
      write
      copies.foreach { case (src, path) => stampCopy(src, path, what) }
    }
    outcomes.put(what, if (fresh) "reloaded" else "built")
    fresh
  }

  private def freshCopy(srcPath: String, path: String, tag: String): Boolean =
    try {
      val f = Paths.get(path, CopyMarker)
      Files.isRegularFile(f) && ownedByUs(Paths.get(path)) &&
        new String(Files.readAllBytes(f), UTF_8) ==
          restFingerprint(srcPath) + ":" + tag
    } catch { case _: Throwable => false }

  private def stampCopy(srcPath: String, path: String, tag: String): Unit =
    try Files.write(Paths.get(path, CopyMarker),
      (restFingerprint(srcPath) + ":" + tag).getBytes(UTF_8))
    catch { case e: Throwable =>
      System.err.println(s"[rest-memo] stamp $path failed: ${e.getMessage}") }
}
