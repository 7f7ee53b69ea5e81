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
  LocalTimestamp, Now, PlanExpression}
import org.apache.spark.sql.catalyst.plans.logical
import org.apache.spark.sql.execution.{CollectMetricsExec, LogicalRDD, QueryExecution,
  SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec,
  ResultQueryStageExec}
import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}

/** Session PLAN memo: each declared query's analyzed and optimized
  * logical plan, kept per (session, query, dir). A repeat of a query over
  * unchanged inputs skips analysis and optimization.
  *   - When the executed plan of the miss holds no data (see
  *     [[holdsData]]), the slot keeps it, and each repeat gets a fresh
  *     DataFrame that runs that plan again ([[GraftPlanBridge.rerun]],
  *     outcome `rerun`): no physical planning, and the plan's scans, read
  *     metadata and final adaptive plan are reused. Every execution still
  *     builds its own RDD chain and reads its scans anew.
  *   - Otherwise the repeat gets a fresh DataFrame over the kept logical
  *     plans ([[GraftPlanBridge.replay]], outcome `hit`), which is
  *     physically planned and executed anew.
  * Nothing that holds data is kept: shuffle outputs, broadcast relations,
  * subquery results, observed metrics and cached data are never reused.
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
  * On a miss the plan is optimized and physically planned when the query
  * is built rather than at its first action; the caller's DataFrame keeps
  * those plans, so nothing is planned twice. The slot's executed plan is
  * the caller's own, so a miss and its reruns share one executed plan.
  */
object PlanMemo {

  /** `executed`: the miss's query execution, kept only when its executed
    * plan holds no data.
    */
  private final class Plan(val analyzed: logical.LogicalPlan,
      val optimized: logical.LogicalPlan, val encoder: Encoder[Row],
      val deps: Seq[SessionMemo.Dep], val confs: Map[String, String],
      val executed: Option[QueryExecution])

  /** Query name → `rerun` | `hit` | `built` | `uncacheable:<reason>` of
    * its last lookup in this JVM since the last [[drainOutcomes]].
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
        p.executed match {
          case Some(qe) =>
            outcomes.put(name, "rerun")
            GraftPlanBridge.rerun(s, qe, p.encoder)
          case None =>
            outcomes.put(name, "hit")
            GraftPlanBridge.replay(s, p.analyzed, p.optimized, p.encoder)
        }
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
              val qe = df.queryExecution
              SessionMemo.putSlot(s, dir, what, new Plan(qe.analyzed, optimized,
                df.encoder, deps, confs, Some(qe).filter(dataFree)))
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

  /** The executed plan the (`s`, `name`, `dir`) slot keeps for reruns, if
    * any (inspection hook for specs).
    */
  private[graft] def keptPlan(s: SparkSession, name: String,
      dir: String): Option[SparkPlan] =
    SessionMemo.slot[Plan](s, dir, s"plan:$name")(_ => true)
      .flatMap(_.executed).map(_.executedPlan)

  /** True when `qe`'s executed plan, planned now if the caller has not
    * yet, holds no data; false when planning fails.
    */
  private def dataFree(qe: QueryExecution): Boolean =
    try !holdsData(qe.executedPlan) catch { case NonFatal(_) => false }

  /** True when `plan` holds data that a later execution of the same plan
    * object would reuse or that would outlive its execution: an exchange
    * (shuffle output or broadcast relation), a query stage over one, a
    * subquery (scalar, IN, dynamic pruning or runtime bloom filter; its
    * result is kept), cached data or observed metrics. Looks through the
    * adaptive wrapper (its input plan and its current plan, which before
    * the first execution is the initial plan with its exchanges, after
    * it the final plan with its stages) and through every subquery.
    */
  private def holdsData(plan: SparkPlan): Boolean = {
    def nodes(p: SparkPlan): Iterator[SparkPlan] = Iterator(p) ++ (p match {
      case a: AdaptiveSparkPlanExec =>
        nodes(a.inputPlan) ++ nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case _ => (p.children ++ p.subqueries).iterator.flatMap(nodes)
    })
    nodes(plan).exists {
      case _: Exchange | _: ReusedExchangeExec | _: InMemoryTableScanExec |
           _: CollectMetricsExec => true
      case q: QueryStageExec => !q.isInstanceOf[ResultQueryStageExec]
      case p => p.expressions.exists(_.exists(_.isInstanceOf[PlanExpression[_]]))
    }
  }

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
