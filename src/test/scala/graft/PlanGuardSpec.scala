package graft

import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}
import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec}

/** Physical-plan regression guard over the ENTIRE declared query surface:
  * a CartesianProduct or BroadcastNestedLoopJoin may only appear with a
  * PROVABLY BOUNDED side — a scalar aggregate (no grouping keys), an
  * explicit limit, or a literal table. Those are the legitimate O(n·k)
  * patterns (scalar-threshold joins, fixed-k centroid/quantizer tables,
  * weight tables); anything else means a join lost its equi-condition
  * and became the O(n·m) pair product that is instantly fatal at 100 TB
  * even though a small-SF correctness run still passes. The per-query
  * specs pin the plans we WANT (broadcasts, TakeOrdered, pushdown); this
  * spec pins the shape we must never regress into.
  *
  * Only plans are built — nothing executes. Queries whose DataFrame
  * CONSTRUCTION already runs driver-coordinated jobs (label-propagation
  * loops, Lloyd iterations, the Bloom sketch build) are skipped:
  * planning them would execute the expensive part of the query inside
  * the suite. Their scale shapes are asserted by their own specs.
  */
class PlanGuardSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  // construction executes jobs (iterative/collected driver state; x7
  // joined this set when the x7/x18/x27/x28 family moved to the shared
  // eagerly-checkpointed pairs memo, TextSuite.DedupShared)
  private val constructionRunsJobs = Set(
    "x7_minhash_neardups", "x18_dup_clusters", "x27_leakage_safe_split",
    "x28_dedup_apply", "x29_bloom_incremental", "v8_ivf_kmeans_topk",
    "v20_knn_graph_clusters", "x38_curation_pipeline",
    "m5_media_dedup_clusters")

  // bounded exceptions the TREE cannot prove (cardinality facts, not
  // plan-node facts):
  //   v5 — the exact parity witness joins the members of ONE quantizer
  //     cell on id1 < id2 alone; the bound is the cell-membership
  //     filter;
  //   v2 — the brute-force baseline broadcasts a query side filtered to
  //     vec_id < 5: at most 5 rows at ANY corpus size (unique key), but
  //     a Filter node carries no cardinality bound
  //   v14 — MMR's retrieval stage is the same v2 shape (query side
  //     filtered to vec_id < 3); everything downstream is per-query
  //     bounded (topM candidates, topM² pairs)
  //   v16 — filtered ANN is the v2 shape again (5 broadcast queries);
  //     the label predicate further prunes the scored side
  //   v17 — the recall audit's exact arm is the v2 shape over 20
  //     broadcast queries; the IVF arm is cell-blocked
  //   v18/v19 — same shape as v17: the exact arm broadcasts the 20
  //     filtered query rows; the PQ/IVFADC arms scan codes via
  //     equi-joins only
  //   v25 — v19's shape with the refine tail: the exact arm broadcasts
  //     the 20 filtered query rows; the refine re-score joins the
  //     ≤ topK·refine shortlist by equi-key
  //   v26 — BOTH sides of the a_id < b_id pair join are the same
  //     vec_id < 20 slice (≤ 190 pairs at any corpus size); the
  //     projection itself is per-row
  private val boundedBySemantics =
    Set("v5_cosine_neardups", "v2_cosine_topk", "v14_mmr_rerank",
      "v16_filtered_ann_topk", "v17_ann_recall_audit",
      "v18_pq_recall_audit", "v19_ivfpq_recall_audit",
      "v25_ivfpqr_recall_audit", "v26_jl_projection")

  /** Flatten across the wrappers AQE puts between logical operators. */
  private def flatten(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => p +: flatten(a.executedPlan)
    case q: QueryStageExec => p +: flatten(q.plan)
    case r: ReusedExchangeExec => p +: flatten(r.child)
    case _ => p +: p.children.flatMap(flatten)
  }

  /** A subtree whose row count is bounded independent of input scale. */
  private def bounded(p: SparkPlan): Boolean = flatten(p).exists {
    case a: HashAggregateExec => a.groupingExpressions.isEmpty
    case a: SortAggregateExec => a.groupingExpressions.isEmpty
    case a: ObjectHashAggregateExec => a.groupingExpressions.isEmpty
    case _: GlobalLimitExec | _: TakeOrderedAndProjectExec |
         _: CollectLimitExec | _: LocalTableScanExec => true
    // the blocking-family SUPERS table: a Filter whose condition holds
    // the pmod seed-rank rule (lrk = pmod(rank, nCells) < nSuper ∧
    // id-rank < tables·nCells) — tables·√nCells rows at any corpus
    // size. The distributed quantizer (round 10) replaced the Limit
    // node the tree used to prove this bound; the dedicated
    // blocking-quantizer guard test pins the full hint-level shape.
    // Matched on the exact supers shape — pmod(rank) LESS-THAN a
    // LITERAL (the lrk < nSuper rule), conjoined with a plain
    // rank < LITERAL bound (the tables·nCells cut) on the SAME
    // column — not any Pmod occurrence, so an unrelated query
    // filtering on pmod can't silently satisfy the generic
    // pair-product guard (ADVICE r10). The rank column's NAME is
    // deliberately unchecked: under the dense-id fast path the rule
    // rewrites onto the id column itself (rank == id).
    case f: FilterExec => {
      import org.apache.spark.sql.catalyst.expressions.{
        LessThan, Literal, Pmod}
      val pmodRefs = f.condition.collect {
        case LessThan(l, _: Literal)
            if l.exists(_.isInstanceOf[Pmod]) => l.references
      }.flatten
      pmodRefs.nonEmpty && f.condition.collect {
        case LessThan(l, _: Literal)
            if !l.exists(_.isInstanceOf[Pmod]) => l.references
      }.flatten.exists(pmodRefs.contains)
    }
    case _ => false
  }

  test("every Cartesian/nested-loop join has a provably bounded side") {
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot { case (n, _) =>
        constructionRunsJobs(n) || boundedBySemantics(n) }
      .flatMap { case (name, fn) =>
        // a query that cannot be built is an offender of its own; it must
        // not hide the plan checks of the queries after it
        try flatten(fn(spark, sfDir).queryExecution.executedPlan).collect {
          case j: BroadcastNestedLoopJoinExec
              if !bounded(j.buildSide match {
                case BuildLeft => j.left
                case BuildRight => j.right
              }) => s"$name: unbounded BroadcastNestedLoopJoin"
          case j: CartesianProductExec
              if !bounded(j.left) && !bounded(j.right) =>
            s"$name: unbounded CartesianProduct"
        }
        catch { case e: Exception =>
          Seq(s"$name: construction failed: ${e.getMessage}") }
      }
    assert(offenders.isEmpty,
      s"pair products without a bounded side:\n${offenders.mkString("\n")}")
  }

  test("a second construction of o*, m* and p14-p16 in one session launches no Spark job") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val names = SparkEntry.queries.keys.toSeq.sorted.filter(n =>
      n.matches("o\\d+_.*") || n.matches("m\\d+[a-z]?_.*") ||
        n.matches("p1[456]_.*"))
    assert(names.count(_.startsWith("o")) == 19 &&
      names.exists(_.startsWith("m")) && names.count(_.startsWith("p")) == 3,
      s"query selection drifted: $names")
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      // the first construction may build fixtures, layouts and memos;
      // every later one must find its read plans and memos in the session
      val offenders = names.flatMap { n =>
        val fn = SparkEntry.queries(n)
        fn(spark, sfDir)
        org.apache.spark.ListenerBusProbe.drain(sc)
        val before = jobs.get()
        fn(spark, sfDir)
        org.apache.spark.ListenerBusProbe.drain(sc)
        val ran = jobs.get() - before
        if (ran == 0) None else Some(s"$n: $ran job(s)")
      }
      assert(offenders.isEmpty,
        s"second construction launched jobs:\n${offenders.mkString("\n")}")
    } finally sc.removeSparkListener(listener)
  }

  test("blocking-family quantizer: no broadcast hint or seed funnel on linear-nCells state") {
    // Round-9 verdict finding #1 retired: under the linear cellsFor rule
    // (nCells ∝ n — pair-generating blocking) the quantizer build must
    // keep seeds AND leaves distributed. Asserted on the OPTIMIZED
    // LOGICAL plan of the three blocking entry points (the v7/v10/v15/
    // v20/v21/v23 substrate — their declared queries consume these
    // builds directly or via session memos):
    //   1. no Limit node anywhere — the old orderBy(id).limit(t·nCells)
    //      seed funnel was a TakeOrdered whose driver merge is O(n·dim)
    //      under the linear rule;
    //   2. no LocalRelation — no collected centroid literal;
    //   3. every broadcast-HINTED join side is the √nCells supers table
    //      (identified by its pmod-rank filter, the lrk < nSuper rule) —
    //      tables·√nCells rows, broadcastable at any corpus size. The
    //      physical planner may still broadcast other sides at spec
    //      scale under its bounded autoBroadcastJoinThreshold; that is
    //      size-capped adaptivity, not linear state, so the HINT level
    //      is what this guard pins.
    // (Construction runs one thin agg job per build — the seed-density
    // guard, the trainSlice precedent — cheap at this SF.)
    import org.apache.spark.sql.catalyst.expressions.Pmod
    import org.apache.spark.sql.catalyst.plans.logical.{
      Filter => LFilter, GlobalLimit, Join => LJoin, LocalLimit,
      LocalRelation, LogicalPlan, BROADCAST}
    import org.apache.spark.sql.functions.col
    val emb = Graft.table(spark, sfDir, "embeddings")
    val n = emb.count()
    val nc = graft.operators.Similarity.cellsFor(n)
    val plans: Seq[(String, org.apache.spark.sql.DataFrame)] = Seq(
      "multiQuantizerCells" -> graft.operators.Similarity
        .multiQuantizerCells(emb, "vec_id", "embedding", nc, 2, 4),
      "cosineNearDupsIvfCross" -> graft.operators.Similarity
        .cosineNearDupsIvfCross(emb, emb.filter(col("vec_id") % 7 === 0),
          "vec_id", "embedding", 0.3, nc, 2, 4),
      "semanticDropIds" -> graft.operators.Similarity
        .semanticDropIds(emb, "vec_id", "embedding", 0.5, nc))
    plans.foreach { case (nm, df) =>
      val lp = df.queryExecution.optimizedPlan
      assert(lp.collect { case g: GlobalLimit => g
                          case l: LocalLimit => l }.isEmpty,
        s"$nm: TakeOrdered/limit seed funnel present in the plan")
      assert(lp.collect { case l: LocalRelation => l }.isEmpty,
        s"$nm: collected literal (LocalRelation) present in the plan")
      val hintedSides: Seq[LogicalPlan] = lp.collect {
        case j: LJoin =>
          Seq(j.hint.leftHint -> j.left, j.hint.rightHint -> j.right)
            .collect { case (Some(h), side)
                if h.strategy.contains(BROADCAST) => side }
      }.flatten
      hintedSides.foreach { side =>
        val isSupers = side.collectFirst {
          case f: LFilter if f.condition.exists(_.isInstanceOf[Pmod]) => f
        }.isDefined
        assert(isSupers,
          s"$nm: broadcast-hinted side is not the √nCells supers table:\n$side")
      }
    }
  }

  test("v21: no shuffle exchange carries more than one embedding payload") {
    // The cross-corpus near-dup dedup must stay THIN: candidate-pair
    // duplicate elimination aggregates (index_id, batch_id, simd) rows,
    // and vectors re-attach only to threshold survivors — so no exchange
    // anywhere in the plan may carry BOTH pair members' embeddings
    // (~520 B/candidate at 64 dims; far worse at production widths).
    // One array column per exchange (an assignment/re-attach row) is the
    // allowed width class. Broadcast exchanges (bounded centroid state)
    // are exempt by construction.
    val df = SparkEntry.queries("v21_cosine_neardups_cross")(spark, sfDir)
    val offenders = flatten(df.queryExecution.executedPlan).collect {
      case e: ShuffleExchangeExec
          if e.output.count(
            _.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType]) > 1 =>
        e.output.map(a => s"${a.name}:${a.dataType.simpleString}")
          .mkString("[", ", ", "]")
    }
    assert(offenders.isEmpty,
      s"v21 exchanges carrying multiple vector payloads:\n${offenders.mkString("\n")}")
  }

  test("x8's executed plan has no join and no InMemoryRelation") {
    val df = SparkEntry.queries("x8_simhash_neardups")(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan
    assert(!flatten(plan).exists {
      case _: BaseJoinExec | _: InMemoryTableScanExec => true
      case _ => false
    }, plan)
    val logical = df.queryExecution.optimizedPlan
    assert(logical.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
      case m: InMemoryRelation => m
    }.isEmpty, logical)
    // the band Generate runs in generated code: no transform lambda
    // anywhere, and the (band, block) posexplode sits in a codegen stage
    val nodes = flatten(plan)
    assert(!nodes.exists(_.expressions.exists(_.exists(
      _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.ArrayTransform]))), plan)
    def isBand(p: SparkPlan) = p match {
      case g: GenerateExec => g.generatorOutput.map(_.name) == Seq("band", "block")
      case _ => false
    }
    // a codegen stage's own operators: its subtree down to InputAdapters
    def fused(p: SparkPlan): Seq[SparkPlan] = p match {
      case _: InputAdapter => Nil
      case _ => p +: p.children.flatMap(fused)
    }
    val compiled = nodes.collect { case w: WholeStageCodegenExec => fused(w.child) }.flatten
    assert(nodes.exists(isBand), plan)
    assert(nodes.filter(isBand).forall(g => compiled.exists(_ eq g)), plan)
  }

  test("x7's memo build leaves no cached intermediates behind") {
    val dir = java.nio.file.Files.createTempDirectory("graft-rest-spec").toString
    val fresh = Graft.tune(spark.newSession())
    fresh.conf.set("graft.memo.restDir", dir)
    val cache = fresh.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    spark.catalog.clearCache()
    try {
      SparkEntry.queries("x7_minhash_neardups")(fresh, sfDir).collect()
      assert(RestMemo.drainOutcomes().get("minhash-pairs").contains("built"))
      assert(cache.isEmpty, "the build's cached intermediates outlived it")
    } finally SessionMemo.endSession(fresh)
  }
}
