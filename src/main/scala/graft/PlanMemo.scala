package graft

import java.nio.file.Paths
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd,
  SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, GraftPlanBridge, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{CurrentCatalog, CurrentDatabase,
  CurrentDate, CurrentTime, CurrentTimeZone, CurrentTimestamp, CurrentUser, Expression,
  LocalTimestamp, Now}
import org.apache.spark.sql.catalyst.plans.logical
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Session PLAN memo: each declared query's analyzed and optimized
  * logical plan, kept per (session, query, dir). A repeat of a query over
  * unchanged inputs skips analysis and optimization and gets a fresh
  * DataFrame over the kept plans ([[GraftPlanBridge.replay]]), which is
  * physically planned and executed anew: metadata reuse only, like the
  * read-plan memo. Physical plans, broadcasts, subquery results, shuffle
  * outputs and cached data are never reused.
  *
  * The plan is a [[SessionMemo]] slot (dropped at session end, context
  * stop or idle TTL). A lookup hits while
  *   - every slot the build consulted (read-plan entries and memos,
  *     recorded by [[SessionMemo.recorded]]) still holds the same entry
  *     over an unchanged fingerprint, and
  *   - the session's runtime confs equal those the plan was built under.
  * A hit restarts its dependencies' idle clocks.
  *
  * A build is memoized only when nothing else can have shaped its plan
  * (fail closed: when in doubt, rebuild). Otherwise it is rebuilt on
  * every call and reported `uncacheable:<reason>`:
  *   - `leaf:<node>`: every leaf must be a `LogicalRelation` whose root
  *     paths are recorded read-plan entries (or that a recorded memo's
  *     value holds over the paths its fingerprint covers), a `LogicalRDD`
  *     a recorded memo's value holds, or a literal (`LocalRelation`,
  *     `OneRowRelation`, `Range`, a CTE reference); a bare `spark.read` is
  *     not;
  *   - `folded:<fn>`: an expression the optimizer folds from the clock or
  *     the catalog (current date, time, time zone, user or database);
  *   - `observed-metrics`: a `Dataset.observe`, whose metrics reach their
  *     `Observation` only through the build;
  *   - `cached-data`: an `InMemoryRelation` in the optimized plan;
  *   - `construction-jobs`: a Spark job launched while building, outside
  *     a memo compute (its inputs are no recorded dependency; jobs inside
  *     a compute are the memo's); `jobs-unconfirmed` when that count
  *     could not be read back in time;
  *   - `conf-changed`: the build changed a runtime conf;
  *   - `optimization-failed`, `not-classic`.
  * An input that is none of these is a hidden input and must drop the
  * plans itself ([[dropAll]]; `OsmFixture.withRoot` does).
  *
  * On a miss the plan is optimized when the query is built rather than
  * at its first action; the caller's DataFrame keeps that plan, so
  * nothing is optimized twice.
  */
object PlanMemo {

  private final class Plan(val analyzed: logical.LogicalPlan,
      val optimized: logical.LogicalPlan, val encoder: Encoder[Row],
      val deps: Seq[SessionMemo.Dep], val confs: Map[String, String])

  /** Query name → `hit` | `built` | `uncacheable:<reason>` of its last
    * lookup in this JVM since the last [[drainOutcomes]].
    */
  private val outcomes = new ConcurrentHashMap[String, String]()

  def drainOutcomes(): Map[String, String] = {
    import scala.jdk.CollectionConverters._
    val snap = outcomes.asScala.toMap
    outcomes.clear()
    snap
  }

  /** `fn` behind the memo, under the query name `name`. */
  def memoized(name: String, fn: (SparkSession, String) => DataFrame)
      : (SparkSession, String) => DataFrame =
    (s, dir) => lookup(s, name, dir)(fn(s, dir))

  /** The memoized plan of (`s`, `name`, `dir`) as a fresh DataFrame, or
    * `build`'s DataFrame, memoized when it qualifies.
    */
  def lookup(s: SparkSession, name: String, dir: String)(
      build: => DataFrame): DataFrame = {
    val what = s"plan:$name"
    val confs = s.conf.getAll
    SessionMemo.slot[Plan](s, dir, what)(p =>
        p.confs == confs && SessionMemo.current(p.deps)) match {
      case Some(p) =>
        SessionMemo.recordAll(p.deps)
        outcomes.put(name, "hit")
        GraftPlanBridge.replay(s, p.analyzed, p.optimized, p.encoder)
      case None =>
        val sc = s.sparkContext
        hookContext(sc)
        val token = nextToken.incrementAndGet().toString
        jobCounts.put(token, new AtomicInteger(0))
        try {
          val outer = sc.getLocalProperty(SessionMemo.BuildTag)
          sc.setLocalProperty(SessionMemo.BuildTag,
            if (outer == null) token else s"$outer,$token")
          val (df, deps) =
            try SessionMemo.recorded(build)
            finally sc.setLocalProperty(SessionMemo.BuildTag, outer)
          verdict(s, df, deps, confs, jobsOutsideMemos(sc, token)) match {
            case Right(optimized) =>
              SessionMemo.putSlot(s, dir, what, new Plan(
                df.queryExecution.analyzed, optimized, df.encoder, deps, confs))
              outcomes.put(name, "built")
            case Left(why) => outcomes.put(name, s"uncacheable:$why")
          }
          df
        } finally jobCounts.remove(token)
    }
  }

  /** Drop every session's memoized plans: the hook for an input that is
    * neither a recorded dependency nor a conf.
    */
  def dropAll(): Unit = SessionMemo.dropWhere(_.isInstanceOf[Plan])

  /** The optimized plan when the build qualifies, else the reason. The
    * cheap checks run first; the job count, which waits for the listener
    * bus, runs last.
    */
  private def verdict(s: SparkSession, df: DataFrame, deps: Seq[SessionMemo.Dep],
      confs: Map[String, String], jobs: => Option[Int])
      : Either[String, logical.LogicalPlan] = {
    def check(ok: Boolean, why: => String) = Either.cond(ok, (), why)
    for {
      _ <- check(GraftPlanBridge.replayable(s, df), "not-classic")
      _ <- check(s.conf.getAll == confs, "conf-changed")
      analyzed = df.queryExecution.analyzed
      _ <- leafReason(analyzed, deps).toLeft(())
      _ <- contentReason(analyzed).toLeft(())
      optimized <-
        try Right(df.queryExecution.optimizedPlan)
        catch { case NonFatal(_) => Left("optimization-failed") }
      _ <- check(optimized.collectWithSubqueries {
        case m: InMemoryRelation => m }.isEmpty, "cached-data")
      _ <- jobs match {
        case Some(0) => Right(())
        case Some(_) => Left("construction-jobs")
        case None => Left("jobs-unconfirmed")
      }
    } yield optimized
  }

  private def leafReason(plan: logical.LogicalPlan,
      deps: Seq[SessionMemo.Dep]): Option[String] = {
    val readPaths = deps.filter(_.isReadPlan).flatMap(_.entry.paths)
      .map(norm).toSet
    // the leaves each recorded memo's value holds, with the paths its
    // fingerprint covers
    lazy val owned = deps.filterNot(_.isReadPlan).flatMap { d =>
      val paths = d.entry.paths.map(norm).toSet
      frames(d.entry.value).flatMap(_.queryExecution.analyzed.collectLeaves())
        .map(_ -> paths)
    }
    plan.collectWithSubqueries { case l: logical.LeafNode => l }.find {
      case r: LogicalRelation => r.relation match {
        case h: HadoopFsRelation =>
          val roots = h.location.rootPaths.map(p => norm(p.toString))
          !(roots.forall(readPaths) || owned.exists {
            case (l: LogicalRelation, paths) =>
              (l.relation eq h) && roots.forall(paths)
            case _ => false
          })
        case _ => true
      }
      case r: LogicalRDD => !owned.exists {
        case (l: LogicalRDD, _) => l.rdd.id == r.rdd.id
        case _ => false
      }
      case _: logical.LocalRelation | _: logical.OneRowRelation |
           _: logical.Range | _: logical.CTERelationRef => false
      case _ => true
    }.map(l => s"leaf:${l.nodeName}")
  }

  private def contentReason(plan: logical.LogicalPlan): Option[String] =
    plan.collectWithSubqueries {
      case _: logical.CollectMetrics => Seq("observed-metrics")
      case p => p.expressions.flatMap(_.collect {
        case e if foldedAtOptimization(e) => s"folded:${e.prettyName}"
      })
    }.flatten.headOption

  /** What `ComputeCurrentTime` and `ReplaceCurrentLike` replace with
    * literals when the plan is optimized.
    */
  private def foldedAtOptimization(e: Expression): Boolean = e match {
    case _: CurrentTimestamp | _: Now | _: LocalTimestamp | _: CurrentDate |
         _: CurrentTime | _: CurrentTimeZone | _: CurrentDatabase |
         _: CurrentCatalog | _: CurrentUser => true
    case _ => false
  }

  /** Every DataFrame inside a memo value (a frame, or a case class or
    * collection holding frames).
    */
  private def frames(v: Any): Iterator[DataFrame] = v match {
    case d: Dataset[_] => Iterator(d.toDF())
    case p: Product => p.productIterator.flatMap(frames)
    case i: Iterable[_] => i.iterator.flatMap(frames)
    case _ => Iterator.empty
  }

  private def norm(p: String): String =
    Paths.get(new Path(p).toUri.getPath).toAbsolutePath.normalize.toString

  // --- jobs a build launches outside memo computes --------------------
  // Every job launched under a build carries its token in the
  // SessionMemo.BuildTag local property (memo computes clear it). After
  // the build a BuildEnd marker is posted behind those jobs' start
  // events, so once the listener has seen the marker it has counted them.

  private val nextToken = new AtomicLong(0L)
  private val jobCounts = new ConcurrentHashMap[String, AtomicInteger]()
  private val ends = new ConcurrentHashMap[String, CountDownLatch]()

  private[graft] final case class BuildEnd(token: String)
    extends SparkListenerEvent

  /** The build's job count, or None when the marker does not arrive. */
  private def jobsOutsideMemos(sc: SparkContext, token: String): Option[Int] = {
    val end = new CountDownLatch(1)
    ends.put(token, end)
    try {
      GraftPlanBridge.post(sc, BuildEnd(token))
      if (end.await(10, TimeUnit.SECONDS)) Some(jobCounts.get(token).get) else None
    } finally ends.remove(token)
  }

  private val hookedContexts = ConcurrentHashMap.newKeySet[Integer]()

  /** Once per SparkContext, and before any caller posts a marker: a
    * context is marked hooked only after its listener is added.
    */
  private def hookContext(sc: SparkContext): Unit = {
    val id = Integer.valueOf(System.identityHashCode(sc))
    if (!hookedContexts.contains(id)) hookedContexts.synchronized {
      if (!hookedContexts.contains(id)) { addListener(sc, id); hookedContexts.add(id) }
    }
  }

  private def addListener(sc: SparkContext, id: Integer): Unit =
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(SessionMemo.BuildTag)))
          .foreach(_.split(',').foreach(t =>
            Option(jobCounts.get(t)).foreach(_.incrementAndGet())))
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case BuildEnd(t) => Option(ends.get(t)).foreach(_.countDown())
        case _ => ()
      }
      override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit = {
        hookedContexts.remove(id); ()
      }
    })
}
