package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Session factory + table access for the graft engine.
  *
  * Design notes (100 TB posture): `local[<cores>]` is the test harness;
  * every conf here is also what we'd set on a real cluster except the
  * master and the shuffle-partition count (which would scale with cores).
  */
object Graft {

  /** The session every main and spec builds: [[builder]] → WARN logs →
    * [[tune]]. AQE on (skew joins / partition coalescing), UTC timezone
    * to match the DuckDB oracle, nanos-as-long so the `events` table
    * (parquet TIMESTAMP(NANOS)) is readable. Sized by `SPARK_GRAFT_CPUS`,
    * or the JVM's available processors when that is unset; `confs` go
    * onto the builder (a main's `key=value` arguments, see [[splitArgs]]).
    */
  def session(master: String = s"local[$cpus]", shufflePartitions: Int = cpus,
      confs: Seq[(String, String)] = Nil): SparkSession = {
    val spark = confs.foldLeft(builder(master, shufflePartitions)) {
      case (b, (k, v)) => b.config(k, v)
    }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    tune(spark)
  }

  private def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS")
    .fold(Runtime.getRuntime.availableProcessors)(_.toInt)

  /** A main's arguments split into session confs — every `key=value`
    * token, for [[session]] — and the positional rest, in order. A token
    * with an empty key fails, naming the token.
    */
  private[graft] def splitArgs(args: Seq[String])
      : (Seq[(String, String)], Seq[String]) = {
    val (confs, positional) = args.partition(_.contains('='))
    (confs.map { t =>
      val i = t.indexOf('=')
      require(i > 0, s"session conf token '$t' has an empty key")
      t.take(i) -> t.drop(i + 1)
    }, positional)
  }

  /** Shuffle/spill dir: tmpfs when available. The host's disk writes at
    * ~10-20 MB/s (and is shared — external load shows up as roaming
    * multi-second stalls in shuffle-heavy stages); /dev/shm makes local
    * shuffle RAM-speed, which is the honest analogue of a cluster's
    * NVMe shuffle volumes.
    */
  private lazy val localDir: String = {
    val shm = new java.io.File("/dev/shm")
    if (shm.isDirectory && shm.canWrite) "/dev/shm/graft-spark"
    else System.getProperty("java.io.tmpdir")
  }

  /** The fully-configured builder. Every session MUST be built through
    * this (not a bare SparkSession.builder()): some of these
    * confs are static on this build — tune()'s runtime set silently
    * no-ops for them, and a bare session then hits e.g. the ICU stall
    * below at a random first lower()/upper() evaluation.
    */
  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession
      .builder()
      .master(master)
      .appName("graft")
      .config("spark.local.dir", localDir)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // ICU case mapping (Spark 4 default) stalls ~2-3 min on first
      // lower()/upper(): CollationAwareUTF8String.<clinit> warms up ICU
      // breakiterators through the flat 400-jar classloader. ASCII data
      // → JVM case mapping is value-identical and instant.
      .config("spark.sql.icu.caseMappings.enabled", "false")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")

  /** Ensure an existing session (e.g. the driver-provided one in Verify)
    * carries the runtime-settable confs our queries rely on, and has the
    * native vector expressions registered.
    */
  def tune(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    try spark.conf.set("spark.sql.icu.caseMappings.enabled", "false")
    catch { case _: org.apache.spark.sql.AnalysisException => () } // static conf on some builds
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    graft.expressions.VectorExpressions.register(spark)
    graft.functions.SqlSurface.register(spark)
    spark
  }

  /** True when the session runs one task at a time
    * (`defaultParallelism <= 1`, e.g. `local[1]`). Such a session has one
    * shuffle partition too, so every `Exchange` would move all rows into
    * the one partition they were already in, at the cost of a separate
    * AQE job and a shuffle write and read. [[read]], [[RestMemo]]'s
    * truncated frames and [[ensureParallelism]] hand such a session
    * `coalesce(1)` frames instead: their `SinglePartition` meets every
    * distribution an aggregate, sort or join asks for (all but a
    * broadcast), and a coalesce is narrow, so each query runs as one
    * stage.
    */
  def oneSlot(spark: SparkSession): Boolean =
    spark.sparkContext.defaultParallelism <= 1

  /** `df.coalesce(1)` in a [[oneSlot]] session, `df` itself otherwise. */
  private[graft] def oneSlotFrame(df: DataFrame): DataFrame =
    if (oneSlot(df.sparkSession)) df.coalesce(1) else df

  /** Spread an under-partitioned DataFrame to the session's parallelism.
    *
    * Parquet partitioning is BYTE-based (maxPartitionBytes): a few MB of
    * short documents arrive as ONE partition, and any CPU-dense stage
    * fused onto that scan (shingling, MinHash/SimHash signatures, regex)
    * runs single-threaded regardless of cores. At 100 TB the scan is
    * already thousands of partitions and this is a no-op (no shuffle);
    * on small inputs the one-time shuffle is trivially cheap. The
    * explicit partition count is deliberately NOT AQE-coalescible.
    *
    * In a [[oneSlot]] session there is nothing to spread: the frame comes
    * back as `df.coalesce(1)`, never `repartition(1)`. The coalesce is
    * kept, not dropped: its `SinglePartition` is what lets the
    * aggregates above it skip their exchanges; a bare `df` gives each
    * band aggregate its own.
    *
    * Decided from PLAN METADATA only (optimizer size estimate vs the
    * byte-splitter's partition size) — never `df.rdd`: compiling the RDD
    * under AQE builds a separate physical plan and, for inputs containing
    * shuffles, eagerly materializes query stages the subsequent
    * repartition plan would NOT reuse (double execution).
    */
  def ensureParallelism(df: DataFrame): DataFrame =
    if (oneSlot(df.sparkSession)) df.coalesce(1)
    else {
      val target = df.sparkSession.sparkContext.defaultParallelism
      val perPartition =
        df.sparkSession.sessionState.conf.filesMaxPartitionBytes
      val estBytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
      if (estBytes < BigInt(perPartition) * target) df.repartition(target) else df
    }

  /** Scoped release of operator-INTERNAL transient persists.
    *
    * Operators like `Dedup.minhashNearDups` persist intermediates
    * (shingle-hash sets, signatures) that only live for the duration of
    * one logical computation. A caller that runs such operators
    * repeatedly in a long-lived session (the DocStream micro-batch loop)
    * must release exactly those intermediates afterwards — a session-wide
    * `catalog.clearCache()` would also evict caches and memo state owned
    * by OTHER streams/queries sharing the session.
    *
    * `cacheScope { body }` collects every [[trackedPersist]] the current
    * thread performs inside `body` and unpersists them (through the
    * CacheManager — `Dataset.unpersist`, so no stale plan entries tax
    * later analysis) when the scope exits. The caller is responsible for
    * materializing its results (eager truncate / write) BEFORE the scope
    * closes. Scopes are thread-local: concurrent streams each release
    * only their own intermediates. Outside any scope, [[trackedPersist]]
    * is a plain `persist` — batch callers keep today's semantics.
    */
  def cacheScope[T](body: => T): T = {
    val prev = cacheScopeTL.get()
    val coll = new java.util.ArrayList[DataFrame]()
    cacheScopeTL.set(coll)
    try body
    finally {
      cacheScopeTL.set(prev)
      coll.forEach { df =>
        try df.unpersist(false) catch { case _: Throwable => () }
      }
    }
  }

  /** Persist `df`, registering it with the innermost active
    * [[cacheScope]] on this thread (plain persist when none is active).
    */
  def trackedPersist(df: DataFrame,
      level: org.apache.spark.storage.StorageLevel =
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK): DataFrame = {
    val p = df.persist(level)
    val coll = cacheScopeTL.get()
    if (coll != null) coll.add(p)
    p
  }

  private val cacheScopeTL = new ThreadLocal[java.util.ArrayList[DataFrame]]()

  /** Run `body` with any active [[cacheScope]] suspended — used by
    * SessionMemo so a memoized build triggered inside someone else's
    * scope doesn't get its long-lived state released at scope exit.
    */
  def withoutCacheScope[T](body: => T): T = {
    val prev = cacheScopeTL.get()
    cacheScopeTL.set(null)
    try body finally cacheScopeTL.set(prev)
  }

  /** Truncate a DataFrame's lineage — the iterative-algorithm /
    * session-memo primitive (dupClusters rounds, MMR rounds, the shared
    * dedup/PQ memos).
    *
    * Default mode is `localCheckpoint`: blocks live in executor storage,
    * no filesystem round-trip — right for local[*] and for clusters
    * without preemption. Local checkpoints are deliberately
    * NON-RELIABLE: losing an executor makes the truncated plan
    * unrecoverable and fails the job. When `graft.checkpoint.dir` is
    * set, lineage is truncated with a RELIABLE `checkpoint()` against
    * that directory instead (HDFS/object storage on a real cluster), so
    * executor loss at 100×-with-preemption scale recomputes from the
    * checkpoint files rather than killing the job. Same plan either
    * way — the conf only picks the durability of the cut point.
    */
  def truncate(df: DataFrame, eager: Boolean = true): DataFrame = {
    val s = df.sparkSession
    val dir =
      try s.conf.get("graft.checkpoint.dir", "") catch { case _: Throwable => "" }
    if (dir.isEmpty) df.localCheckpoint(eager)
    else {
      val sc = s.sparkContext
      // setCheckpointDir mints a fresh UUID subdir per call — only
      // (re)apply when the conf actually changed
      if (!sc.getCheckpointDir.exists(_.contains(dir))) sc.setCheckpointDir(dir)
      df.checkpoint(eager)
    }
  }

  /** The checkpointed RDDs backing a truncated DataFrame (plan-walk for
    * `LogicalRDD` leaves) — used to release their storage on memo
    * eviction and by specs asserting the checkpoint mode.
    */
  def truncatedRdds(df: DataFrame): Seq[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }

  /** Release the block-manager storage of a truncated DataFrame (no-op
    * for reliable checkpoints, whose files the context cleaner owns).
    */
  def releaseTruncated(df: DataFrame): Unit =
    truncatedRdds(df).foreach { r =>
      try r.unpersist(false) catch { case _: Throwable => () }
    }

  /** Read a parquet table through the session's READ-PLAN memo: the
    * analyzed relation (file listing + footer schema) is built once per
    * (session, path) and reused by every later query — metadata reuse
    * only, never data or results: every query still scans parquet. A
    * bare `spark.read.parquet` re-lists the directory and launches a
    * footer-schema job on EVERY call (70–85 ms of driver work per call
    * on a 32-core host, measured before this memo).
    *
    * The entry lives in [[SessionMemo]], keyed by path and validated by
    * [[SessionMemo.fingerprint]]: a rewrite of the directory REPLACES
    * the entry (one entry per path, however often it is rewritten); a
    * flat or single-level-partitioned rewrite is seen at once, a change
    * ≥2 levels down within `FpWalkTtlMillis`. Entries die with the
    * session (SessionMemo's lifecycle rules). In a [[oneSlot]] session
    * the memoized plan is the read followed by `coalesce(1)`.
    */
  def read(spark: SparkSession, path: String): DataFrame =
    SessionMemo.getOrCompute(spark, path, "read-plan")(
      oneSlotFrame(spark.read.parquet(path)))(_ => ())

  /** Read one testdata table, `$dir/$name.parquet`, through [[read]]. */
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    tune(spark)
    val df = read(spark, s"$dir/$name.parquet")
    if (name == "events")
      // Surface ts as TIMESTAMP_NTZ (naive, like every other testdata
      // timestamp) so outputs compare tz-free against the oracle. The
      // stored encoding has varied across testdata generations — raw
      // nanos longs (TIMESTAMP(NANOS) via legacy.parquet.nanosAsLong)
      // or a proper TIMESTAMP_MICROS column — so branch on the dtype
      // actually read rather than assuming either. For the nanos-long
      // form, `div` (integral division): `/` would go through double and
      // lose precision above 2^53 (epoch-nanos is ~1.7e18).
      df.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          df.withColumn("ts",
            timestamp_micros(expr("ts div 1000")).cast("timestamp_ntz"))
        case _ => df.withColumn("ts", col("ts").cast("timestamp_ntz"))
      }
    else df
  }
}
