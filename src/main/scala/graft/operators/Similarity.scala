package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.functions.Vectors

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Shapes:
  *   - brute-force: broadcast the (small) query set against the candidate
  *     corpus — a map-only pass, no shuffle of candidates; exact top-k via
  *     per-query window. The right baseline at any corpus size as long as
  *     the query set fits in a broadcast.
  *   - LSH-bucketed: both sides get random-hyperplane bucket ids;
  *     equi-join on bucket prunes the search space (shuffle on bucket id
  *     only). Probing multiple independent tables recovers recall.
  *   - IVF-style: k coarse centroid buckets by hyperplane prefix —
  *     emulated here by using fewer LSH bits, giving the same
  *     partition-pruning behavior at scale.
  */
object Similarity {

  /** Exact brute-force cosine top-k. `queries`/`candidates` both need
    * (`idCol`, `vecCol`). Queries are broadcast. Output:
    * qid, vec_id, sim — deterministic (exact-decimal cosine; tiebreak on
    * candidate id).
    */
  def bruteForceTopK(queries: DataFrame, candidates: DataFrame,
      idCol: String, vecCol: String, topK: Int,
      exact: Boolean = true): DataFrame = {
    // norms are precomputed per side BEFORE the join — one dot per pair
    // instead of three; value-identical (same scalar ops, just hoisted)
    def norm(v: org.apache.spark.sql.Column) =
      if (exact) Vectors.norm2(v) else Vectors.norm2Fast(v)
    def dot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      if (exact) Vectors.dot(a, b) else Vectors.dotFast(a, b)
    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("qvec"),
      norm(col(vecCol)).as("qnorm"))
    // candidate side spread to full parallelism: a few-MB embedding
    // parquet arrives as ONE partition and would score single-threaded
    val c = graft.Graft.ensureParallelism(candidates)
      .select(col(idCol).as("vec_id"), col(vecCol).as("cvec"),
        norm(col(vecCol)).as("cnorm"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("qid") =!= col("vec_id"))
      .select(col("qid"), col("vec_id"),
        (dot(col("qvec"), col("cvec")) / (col("qnorm") * col("cnorm"))).as("sim"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("sim").desc, col("vec_id").asc)
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= topK)
      .select("qid", "vec_id", "sim", "rn")
  }

  /** LSH-bucketed ANN top-k: candidates considered only when they share a
    * hyperplane bucket with the query in at least one of `tables` probe
    * tables. Recall < 1, cost ~ corpus/2^bits per table.
    */
  /** `exact=true` scores candidates with the exact-decimal cosine
    * (oracle-parity); `false` uses the codegen'd double path.
    */
  def lshTopK(queries: DataFrame, candidates: DataFrame,
      idCol: String, vecCol: String, topK: Int,
      bits: Int = 8, tables: Int = 4, exact: Boolean = false): DataFrame = {
    // Bucket per probe table: vary the hyperplane seed by table id.
    // ALL tables' buckets come from one pass over each vector
    // (posexplode of the per-table bucket array) instead of the old
    // `tables`-way unionAll, which re-read and re-projected the corpus
    // once per table and multiplied the scan partition count by
    // `tables` (optimization round 17, guide §2.4/§1.2).
    def banded(df: DataFrame, vec: String): DataFrame =
      df.select(df.columns.toSeq.map(col) :+
        posexplode(array((0 until tables).map(t =>
          Vectors.hyperplaneBucket(col(vec), bits, t)): _*))
          .as(Seq("table", "bucket")): _*)
    val qb = banded(
      queries.select(col(idCol).as("qid"), col(vecCol).as("qvec")), "qvec")
    val cb = banded(graft.Graft.ensureParallelism(candidates)
      .select(col(idCol).as("vec_id"), col(vecCol).as("cvec")), "cvec")
    // Dedup BEFORE scoring, map-side and without the query vector
    // (guide §2.3 — shuffle keys, not payloads): duplicate (qid,
    // vec_id) rows (one per colliding table) carry the identical
    // cvec, so first() is pure dedup, partial aggregation collapses
    // the duplicates BEFORE the exchange, and the exchange carries
    // (qid, vec_id, cvec) — no qvec (re-attached from the broadcast
    // query side afterwards, no extra exchange). The previous shape's
    // `.distinct()` shuffled BOTH vectors for EVERY collision row; a
    // round-17 intermediate that scored before the dedup was cheap at
    // sf0.1 but re-ran the exact-decimal cosine once per collision
    // instead of once per pair and measured 1.8× SLOWER at sf1.
    val deduped = cb.join(broadcast(qb.select("qid", "table", "bucket")),
        Seq("table", "bucket"))
      .filter(col("qid") =!= col("vec_id"))
      .groupBy(col("qid"), col("vec_id"))
      .agg(first(col("cvec")).as("cvec"))
    val scored = deduped
      .join(broadcast(queries.select(col(idCol).as("qid"),
        col(vecCol).as("qvec"))), Seq("qid"))
      .select(col("qid"), col("vec_id"),
        (if (exact) Vectors.cosine(col("qvec"), col("cvec"))
         else Vectors.cosineFast(col("qvec"), col("cvec"))).as("sim"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("sim").desc, col("vec_id").asc)
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= topK)
      .select("qid", "vec_id", "sim", "rn")
  }

  /** IVF (inverted-file) ANN top-k: a coarse quantizer of `nCells`
    * centroid vectors partitions the corpus into cells; each query
    * probes its `nProbe` nearest cells and scores only those members.
    *
    * The quantizer here takes deterministic sample vectors as centroids
    * (lowest ids — at production scale this is where k-means/k-means||
    * iterations slot in; the assignment/probe dataflow is identical).
    * Everything is DataFrame ops: assignment is a broadcast cross join +
    * per-vector argmax window; the probe is an equi-join on cell id —
    * the same partition-pruning shape a 100 TB corpus needs, with the
    * corpus shuffled once on cell id and reusable across query batches.
    */
  /** Deterministic coarse quantizer shared by the IVF shapes: the nCells
    * lowest-id vectors are the centroids and the cell label IS that
    * centroid's id — replicable by the SQL oracle (at production scale
    * k-means centroids slot in here; the assignment/probe dataflow is
    * identical).
    */
  private def lowestIdCentroids(c: DataFrame, idName: String,
      vecName: String, nCells: Int, offset: Int = 0): DataFrame =
    broadcast(c.orderBy(col(idName).asc).offset(offset).limit(nCells)
      .select(col(idName).as("cell"), col(vecName).as("centroid")))

  /** The deterministic seed quantizer as a COLLECTED-LITERAL broadcast
    * (cell, centroid) — value-identical to the in-plan
    * [[lowestIdCentroids]] form (so oracles and the prebuilt/self-build
    * equivalence are unaffected), but a literal table: consumers that
    * reuse it across executions (session memos, repeated probes) skip
    * the per-execution top-nCells corpus sort. The collected literal is
    * O(nCells·dim) DRIVER state — bounded only as far as the caller's
    * cell-count rule bounds nCells: under [[indexCellsFor]] (the topK
    * index family) that is O(√n·dim) and stays collectable at any
    * corpus size; under [[cellsFor]] (pair-generating blocking, nCells
    * ∝ n) the literal grows linearly with the corpus and a 100 TB-scale
    * caller must keep centroids as a distributed frame instead — which
    * is what the blocking family now does: [[multiQuantizerCells]] and
    * the cross/SemDeDup paths build their quantizer from
    * [[lowestIdRanked]] (distributed seeds, shuffle leaf attach), so no
    * cellsFor-scaled consumer calls this literal. ONE definition so the
    * seed rule cannot drift between the memo, tooling, and spec copies.
    */
  def seedCentroidsLiteral(df: DataFrame, idCol: String, vecCol: String,
      nCells: Int): DataFrame = {
    import scala.jdk.CollectionConverters._
    val rows = df.orderBy(col(idCol).asc).limit(nCells)
      .select(col(idCol).as("cell"), col(vecCol).as("centroid"))
    broadcast(df.sparkSession.createDataFrame(
      rows.collect().toSeq.asJava, rows.schema))
  }

  /** The k lowest-id rows of a (id, vec) frame with their 0-based
    * id-rank `__rk` — the DISTRIBUTED replacement for
    * `orderBy(id).limit(k)` seed selection. The TakeOrdered form merges
    * k rows of O(dim) state on the driver; under the linear [[cellsFor]]
    * rule k ∝ n/cellSize, which is exactly the driver/broadcast state a
    * 10⁹–10¹¹-vector corpus cannot afford (round-9 verdict finding #1).
    * Three tiers, all value-identical to the TakeOrdered form:
    *
    *   - DENSE ids (min 0, max n−1 — every declared corpus): the rank
    *     IS the id, so seeds are a pushed-down `id < k` filter — no
    *     global sort, no window, no driver merge, at any scale. The
    *     density check is one thin agg job per hierarchy BUILD (the
    *     [[trainSlice]] guard precedent — builds run once per query or
    *     once per session memo, never per row).
    *   - sparse NUMERIC ids: exact distributed rank, fully in-plan —
    *     uniform [min, max] range buckets (a pure monotone function of
    *     id), per-bucket counts cum-summed into offsets by a P-row
    *     window (P = defaultParallelism — bounded algorithm state)
    *     and broadcast back, within-bucket `row_number` + offset =
    *     exact global rank; only buckets intersecting [0, k) are ever
    *     windowed, and the rank shuffle carries thin (id, bucket) rows.
    *     Monotone bucketing keeps bucket ranges order-contiguous, so
    *     the composition is exact wherever the boundaries fall —
    *     skewed id distributions skew bucket SIZES, never ranks.
    *   - non-numeric ids: the legacy TakeOrdered (no declared corpus
    *     hits this; documented small-corpus fallback).
    */
  private[graft] def lowestIdRanked(c: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.types.NumericType
    val idNumeric =
      c.schema("id").dataType.isInstanceOf[NumericType]
    if (!idNumeric) {
      val wSeed = Window.orderBy(col("id").asc)
      return c.orderBy(col("id").asc).limit(k)
        .withColumn("__rk", row_number().over(wSeed).cast("long") - 1L)
    }
    // Density check for the filter fast path — all in ONE agg job:
    // rank == id only holds when the ids are exactly {0..n-1}, so the
    // guard requires n DISTINCT INTEGRAL values with min 0 / max n-1
    // (pigeonhole ⇒ dense). min/max alone pass corpora with duplicate
    // or fractional ids (ADVICE r10) — those now take the exact
    // bucketed-rank path below.
    val st = c.agg(min(col("id")).cast("long"), max(col("id")).cast("long"),
      count(lit(1)), countDistinct(col("id").cast("long")),
      max(col("id").cast("double") =!= col("id").cast("long").cast("double"))
    ).head()
    if (st.isNullAt(0)) return c.withColumn("__rk", lit(0L)) // empty frame
    val (mn, mx, n) = (st.getLong(0), st.getLong(1), st.getLong(2))
    val dense = mn == 0L && mx == n - 1L && st.getLong(3) == n &&
      !st.getBoolean(4)
    if (dense)
      c.filter(col("id") < k).withColumn("__rk", col("id").cast("long"))
    else {
      // Exact distributed rank, fully IN-PLAN (no driver jobs beyond
      // the shared density-check agg): ids bucket by uniform [mn, mx]
      // ranges — a pure MONOTONE function of id, so bucket ranges are
      // order-contiguous and offset + within-bucket row_number is the
      // exact global rank wherever the boundaries fall (skewed id
      // distributions only skew bucket sizes, never correctness).
      // Per-bucket offsets are a P-row aggregate cum-summed by a tiny
      // single-partition window (P = defaultParallelism — bounded
      // algorithm state) and broadcast back; buckets entirely past
      // rank k are pruned before the rank window, which ranks THIN
      // (id, bucket) rows only; the ≤ k survivors re-attach their
      // vector with one equi-join on id (AQE localizes it while seeds
      // are small).
      val p = math.max(2, c.sparkSession.sparkContext.defaultParallelism)
      val span = math.max(1.0, (mx - mn).toDouble + 1.0)
      val bkt = least(lit(p - 1), floor(
        (col("id").cast("double") - lit(mn.toDouble)) * p / lit(span)))
        .cast("int")
      val bucketed = c.select(col("id")).withColumn("__bkt", bkt)
      val cnts = bucketed.groupBy("__bkt").agg(count(lit(1)).as("__c"))
      val wOff = Window.orderBy(col("__bkt").asc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val offs = cnts
        .withColumn("__off", coalesce(sum(col("__c")).over(wOff), lit(0L)))
        .filter(col("__off") < k)
        .select("__bkt", "__off")
      val w = Window.partitionBy("__bkt").orderBy(col("id").asc)
      val ranked = bucketed.join(broadcast(offs), Seq("__bkt"))
        .withColumn("__rk", row_number().over(w).cast("long") - 1L +
          col("__off"))
        .filter(col("__rk") < k)
        .select("id", "__rk")
      // lazy localCheckpoint of the THIN (id, rank) result: the
      // multi-stage ranking runs once even when the hierarchy build
      // consumes the seeds several times (supers / leaf-super / leaf
      // attach); ≤ k thin rows of truncated-lineage distributed state
      // (the dupClusters per-round pattern). The dense fast path needs
      // none of this — its seeds are a plain pushed-down filter.
      c.join(ranked.localCheckpoint(false), Seq("id"))
    }
  }

  /** The bounded Lloyd training slice (`id < trainCap`), guarded: if the
    * corpus's id layout leaves the slice EMPTY (ids offset from 0,
    * hashed, snowflake — anything not dense from 0), training falls back
    * to the full frame rather than silently fitting nothing. The check
    * is one `isEmpty` job per TRAINING call — training runs once per
    * session behind the index memos, so the guard never sits on a
    * per-query path. Declared queries keep ids dense from 0, so their
    * oracle mirrors (`WHERE id < cap`) are unaffected.
    */
  private def trainSlice(c: DataFrame, idName: String,
      trainCap: Int): DataFrame = {
    val sliced = c.filter(col(idName) < trainCap)
    if (sliced.isEmpty) c else sliced
  }

  /** Assign each row to its `keep` nearest centroid cells (broadcast
    * cross join; ties broken on cell id).
    *
    * keep=1 — the whole-corpus assignment every IVF/k-means/SemDeDup
    * path runs — is a per-row argmax, computed as a partial-aggregating
    * `max_by` over the unique (sim, -cell) order instead of a rank
    * window: the ×nCells expansion combines back to one row per id
    * map-side, so each vector crosses the shuffle once, not nCells
    * times, and nothing sorts. keep>1 (query-side multi-probe, small)
    * keeps the window form.
    */
  private def assignToCells(df: DataFrame, id: String, vec: String,
      centroids: DataFrame, keep: Int): DataFrame = {
    val joined = df.crossJoin(centroids)
      .withColumn("__csim", Vectors.cosineFast(col(vec), col("centroid")))
    if (keep == 1) {
      val carry = df.columns.toSeq.filterNot(_ == id)
      val payload = struct((carry.map(col) :+ col("cell")): _*)
      val ord = struct(col("__csim"), (col("cell") * lit(-1L)).as("__nc"))
      joined.groupBy(col(id)).agg(max_by(payload, ord).as("__p"))
        .select(col(id) +: (carry :+ "cell").map(c => col(s"__p.$c").as(c)): _*)
    } else {
      // the rank window must not sort the vector payload: ranked on the
      // THIN (id, cell, sim) projection — ~24 B/row instead of the
      // ~260 B assignment row (measured 29 s → ~8 s for the sf1 313-cell
      // 4-table build) — then one same-key join re-attaches the payload
      // to the keep·n survivors.
      val w = Window.partitionBy(col(id))
        .orderBy(col("__csim").desc, col("cell").asc)
      val kept = joined.select(col(id), col("cell"), col("__csim"))
        .withColumn("__rank", row_number().over(w))
        .filter(col("__rank") <= keep)
        .select(col(id), col("cell"))
      df.join(kept, Seq(id))
    }
  }

  /** Lloyd k-means refinement of the deterministic seed centroids:
    * `iterations` rounds of (assign to nearest centroid by double
    * cosine, tie → lowest cell id) then (recompute centroid as the
    * per-dimension mean of members). Everything about it is
    * deterministic and engine-replicable:
    *   - seeds are the `nCells` lowest-id vectors (cell label = seed id,
    *     stable across iterations; emptied cells disappear);
    *   - means accumulate in DECIMAL (order-independent — a plain double
    *     sum would make centroids partitioning-dependent), surfaced as
    *     float like the input vectors.
    * Centroids are collected per iteration: they are the algorithm's
    * O(nCells·dim) aggregate state (exactly what MLlib's KMeans keeps on
    * the driver), NOT data — at 100 TB this is still a few MB, and it
    * turns each assignment into a broadcast of literals instead of a
    * recomputed subplan.
    */
  /** `trainCap` bounds every Lloyd TRAINING pass to the rows with
    * `id < trainCap` (the FAISS practice: quantizer quality saturates at
    * a bounded training sample long before corpus size, so training is
    * O(trainCap·nCells·iterations) at ANY corpus scale — 100 TB included
    * — while assignment, the caller's job, still covers everything).
    * Deterministic and oracle-mirrorable (`WHERE id < cap`); assumes
    * ids dense from 0 — pass Int.MaxValue to train on the full corpus.
    *
    * GUARD (see [[trainSlice]]): an id layout that leaves the slice
    * empty (offset/hashed/snowflake ids) falls back to the FULL corpus
    * instead of silently training on nothing — an empty slice would
    * otherwise produce empty centroids and therefore empty query
    * results with no error anywhere.
    */
  /** `hierTrain=true` runs each Lloyd iteration's assignment pass
    * through the two-level hierarchy of the CURRENT centroids
    * ([[hierarchyOfCentroids]] — supers are the lowest-cell ceil(√k)
    * means, rebuilt per iteration from the collected literals, so it
    * costs O(nCells·√nCells) driver-free broadcast work) instead of the
    * flat corpus×centroid product: training drops from
    * O(trainCap·nCells·iters) to O(trainCap·√nCells·iters), which is
    * what keeps a corpus-scaled quantizer (nCells ∝ n via [[cellsFor]],
    * trainCap ∝ nCells via [[trainCapFor]]) trainable at 100 TB — with
    * both ∝ n, FLAT training is O(n²·39/cellSize²). Assignment quality
    * is the usual two-level approximation; deterministic and mirrored
    * CTE-for-CTE by the v8/v12 oracles.
    */
  def kmeansCentroids(corpus: DataFrame, idCol: String, vecCol: String,
      nCells: Int, iterations: Int = 2, seedOffset: Int = 0,
      trainCap: Int = 2048, hierTrain: Boolean = false,
      superProbe: Int = 3): DataFrame = {
    val spark = corpus.sparkSession
    // every Lloyd iteration re-reads the corpus for its assignment pass —
    // cache the (id, vec) projection once instead of rebuilding the scan
    // subplan per iteration (no-op if the caller already persisted it)
    val wePersist = corpus.storageLevel == StorageLevel.NONE
    if (wePersist) corpus.persist(StorageLevel.MEMORY_AND_DISK)
    val c = corpus.select(col(idCol).as("id"), col(vecCol).as("vec"))
    // Per-dimension means as `dim` WIDE aggregates over whole vectors —
    // not a posexplode to n·dim rows: partial aggregation reduces each
    // partition to nCells rows of dim accumulators map-side, so the
    // means shuffle is O(partitions · nCells · dim) regardless of n.
    // Exact-decimal sums (order-independent — a plain double sum would
    // make centroids partitioning-dependent), ONE cast to double, then a
    // double/double divide — decimal division itself is avoided because
    // its result precision/rounding rules are engine-specific.
    val dim = c.select(size(col("vec"))).head().getInt(0)
    val meanCols = (1 to dim).map(i =>
      (sum(element_at(col("vec"), i).cast("double").cast("decimal(30,12)"))
        .cast("double") / count(lit(1)).cast("double")).cast("float").as(s"_m$i"))
    val train = trainSlice(c, "id", trainCap)
    var centroids: DataFrame = lowestIdCentroids(c, "id", "vec", nCells, seedOffset)
    for (_ <- 1 to iterations) {
      val assigned =
        if (hierTrain)
          assignWithHierarchy(train,
            hierarchyOfCentroids(centroids, nCells), 1, superProbe)
        else assignToCells(train, "id", "vec", centroids, keep = 1)
      val means = assigned.groupBy("cell").agg(meanCols.head, meanCols.tail: _*)
        .select(col("cell"),
          array((1 to dim).map(i => col(s"_m$i")): _*).as("centroid"))
      val rows = means.orderBy("cell").collect()
      import scala.jdk.CollectionConverters._
      centroids = broadcast(spark.createDataFrame(rows.toSeq.asJava, means.schema))
    }
    // centroids are collected literal rows — no lineage on the cache
    if (wePersist) corpus.unpersist()
    centroids
  }

  /** FLAT IVF top-k over the `nCells` lowest-id seed centroids: every
    * corpus vector and probe is assigned by the full corpus×centroid
    * scan — the reference [[ivfTopKHier]] is checked against.
    */
  def ivfTopK(queries: DataFrame, candidates: DataFrame,
      idCol: String, vecCol: String, topK: Int,
      nCells: Int = 16, nProbe: Int = 2, exact: Boolean = false): DataFrame = {
    val c = graft.Graft.ensureParallelism(candidates)
      .select(col(idCol).as("vec_id"), col(vecCol).as("cvec"))
    val centroids = lowestIdCentroids(c, "vec_id", "cvec", nCells)
    def assign(df: DataFrame, id: String, vec: String, keep: Int): DataFrame =
      assignToCells(df, id, vec, centroids, keep)
    val assigned = assign(c, "vec_id", "cvec", keep = 1)
    val probes = assign(
      queries.select(col(idCol).as("qid"), col(vecCol).as("qvec")),
      "qid", "qvec", keep = nProbe)
    val scored = assigned.join(probes, Seq("cell"))
      .filter(col("qid") =!= col("vec_id"))
      .select(col("qid"), col("vec_id"),
        (if (exact) Vectors.cosine(col("qvec"), col("cvec"))
         else Vectors.cosineFast(col("qvec"), col("cvec"))).as("sim"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("sim").desc, col("vec_id").asc)
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= topK)
      .select("qid", "vec_id", "sim", "rn")
  }

  /** Coarse-quantizer cell assignment over the whole corpus: (id, vec,
    * cell), each vector to its nearest of the `nCells` lowest-id
    * centroids. Public so bounded-scope exact baselines (one cell's
    * members — the unit v7's blocked pair generation works in) can be
    * declared without the O(n²) corpus product.
    */
  def quantizerCells(df: DataFrame, idCol: String, vecCol: String,
      nCells: Int, centroids: Option[DataFrame] = None): DataFrame = {
    val c = graft.Graft.ensureParallelism(df)
      .select(col(idCol).as("id"), col(vecCol).as("vec"))
    assignToCells(c, "id", "vec",
      centroids.getOrElse(lowestIdCentroids(c, "id", "vec", nCells)), keep = 1)
  }

  /** HIERARCHICAL whole-corpus cell assignment under an arbitrary
    * quantizer `centroids` (cell, centroid) — the keep-1 two-level pass
    * ([[hierarchyOfCentroids]]): O(n·√nCells) where [[quantizerCells]]'s
    * flat product is O(n·nCells) = O(n²/cellSize) once cell counts obey
    * the [[cellsFor]] rule. The ingest-time half of a corpus-scaled topK
    * index over a TRAINED quantizer (v8/v12's memoized corpus side);
    * for the deterministic seed quantizer, [[multiQuantizerCells]] with
    * tables=1/nProbe=1 produces the identical frame. Output:
    * (id, vec, cell).
    */
  def quantizerCellsHier(df: DataFrame, idCol: String, vecCol: String,
      nCells: Int, centroids: DataFrame,
      superProbe: Int = 3): DataFrame = {
    val c = graft.Graft.ensureParallelism(df)
      .select(col(idCol).as("id"), col(vecCol).as("vec"))
    assignWithHierarchy(c, hierarchyOfCentroids(centroids, nCells),
      nProbe = 1, superProbe = superProbe)
      .select("id", "vec", "cell")
  }

  /** CORPUS-SCALED IVF topK — the index-family form of [[ivfTopK]] whose
    * per-query cost stays O(nProbe·cellSize + √nCells) at ANY corpus
    * size: `nCells` is expected from [[cellsFor]] (pinned cell SIZE, so
    * each probed cell's scan is constant), and BOTH the corpus
    * assignment and the per-query probe assignment run through the
    * two-level hierarchy (O(√nCells) comparisons) instead of the flat
    * O(nCells) centroid scan — with fixed 16 cells a probe scanned
    * ~nProbe·n/16 of the corpus, growing linearly with n.
    *
    * `prebuiltCentroids` — a trained quantizer (cell, centroid), e.g. a
    * Lloyd kmeansCentroids memo; defaults to the deterministic lowest-id
    * seeds, where the hierarchy is identical to
    * [[multiQuantizerCells]]'s (tables=1), so a hierDyn-style assignment
    * memo is directly consumable via `prebuiltCells` (id, vec, cell).
    * Output scoring is the exact-decimal cosine (assignment decides on
    * the codegen'd double — the v7 split); deterministic id tiebreaks
    * throughout, mirrored CTE-for-CTE by the v6/v8/v22 oracles.
    */
  /** `superProbe` governs the PROBE side only. The self-build corpus
    * assignment is pinned at `corpusSuperProbe` = 3 — the same constant
    * the hierDyn-style memos and every SQL oracle's corpus CTE use — so
    * the self-build and prebuilt-memo paths stay interchangeable (same
    * inverted lists) when a caller raises the probe-side superProbe for
    * recall.
    *
    * COST BOUND — |queries|: the exact-rescore tail broadcasts the FULL
    * query frame and the ≤ topK·|queries| survivor set (so the corpus
    * re-attach is a map-only pass, never a corpus shuffle). That is the
    * right trade for the interactive shape this implements (tens to
    * thousands of queries against a huge corpus), but it makes driver/
    * broadcast state O(|queries|·dim): a batch-kNN caller with millions
    * of queries should use [[knnGraph]] (corpus×corpus, all joins
    * shuffled) or chunk the query side.
    */
  def ivfTopKHier(queries: DataFrame, candidates: DataFrame,
      idCol: String, vecCol: String, topK: Int,
      nCells: Int, nProbe: Int, superProbe: Int = 3,
      prebuiltCentroids: Option[DataFrame] = None,
      prebuiltCells: Option[DataFrame] = None,
      corpusSuperProbe: Int = 3): DataFrame = {
    val c = graft.Graft.ensureParallelism(candidates)
      .select(col(idCol).as("id"), col(vecCol).as("vec"))
    val hier = prebuiltCentroids match {
      case Some(cents) => hierarchyOfCentroids(cents, nCells)
      case None => buildHierarchy(c, nCells, tables = 1)
    }
    val assigned = prebuiltCells.getOrElse(
      assignWithHierarchy(c, hier, nProbe = 1, corpusSuperProbe)
        .select("id", "vec", "cell"))
    val probes = assignWithHierarchy(
      queries.select(col(idCol).as("id"), col(vecCol).as("vec")),
      hier, nProbe, superProbe)
      .select(col("id").as("qid"), col("vec").as("qvec"), col("cell"))
    // corpus keep=1 × probe multi-assign ⇒ each (qid, vec_id) at most
    // once: no dedup stage, and the exchange carries one vector per row.
    // The RANKING decision runs on the codegen'd double cosine computed
    // INSIDE the cell join (the v7/v15 double-decides/exact-reports
    // split — round 9: with the derived operating point a query scans a
    // constant FRACTION of the corpus, and exact-decimal-scoring every
    // candidate made that scan the dominant sf1 cost); only the ≤ topK
    // survivors per query re-attach vectors for the exact-decimal
    // re-score, so reported sims stay oracle-exact. Deterministic:
    // (double sim, vec_id) is a total order both engines reproduce.
    val scored = assigned.join(probes, Seq("cell"))
      .filter(col("qid") =!= col("id"))
      .select(col("qid"), col("id").as("vec_id"),
        Vectors.cosineFast(col("qvec"), col("vec")).as("simd"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("simd").desc, col("vec_id").asc)
    val kept = scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= topK)
      .select("qid", "vec_id", "rn")
    // survivor side is ≤ topK·|queries| rows — broadcast IT so the
    // corpus re-attach is a map-only pass over the corpus scan, never a
    // corpus shuffle
    val keptQ = kept.join(
      broadcast(queries.select(col(idCol).as("qid"), col(vecCol).as("qvec"))),
      "qid")
    c.select(col("id").as("vec_id"), col("vec"))
      .join(broadcast(keptQ), "vec_id")
      .select(col("qid"), col("vec_id"),
        Vectors.cosine(col("qvec"), col("vec")).as("sim"), col("rn"))
  }

  /** The IVF cell-count rule: pin cell SIZE, scale cell COUNT with the
    * corpus — `max(minCells, ceil(n / cellSize))`. Pair-generating
    * consumers (near-dup blocking, kNN graphs) rank every within-cell
    * pair, so a FIXED nCells turns per-cell products quadratic in n
    * (measured 3.6 s → 451 s at 10× with nCells pinned at 32); with
    * cells ∝ n the candidate volume stays linear. One helper so every
    * IVF consumer derives its count the same way its SQL mirror does
    * (`GREATEST(minCells, CEIL(COUNT(*) / cellSize))`).
    */
  def cellsFor(n: Long, cellSize: Int = 64, minCells: Int = 32): Int =
    math.max(minCells.toLong,
      math.ceil(n.toDouble / cellSize).toLong).toInt

  /** The quantizer-training budget rule that goes WITH [[cellsFor]]:
    * Lloyd needs ~39 training points per centroid (the FAISS guidance —
    * fewer and centroid quality silently degrades), so a trainCap pinned
    * at a constant undertrains the moment cell counts scale with the
    * corpus (2048 points at ~780 cells is ~2.6/centroid). One helper so
    * every corpus-scaled quantizer derives its cap the same way its SQL
    * mirror does (`39 * nc`).
    */
  def trainCapFor(nCells: Int): Int = 39 * nCells

  /** The TOP-K INDEX cell-count rule — SUB-LINEAR where [[cellsFor]] is
    * linear: `max(minCells, ceil(4·√n))` (the FAISS guideline band,
    * √n…16·√n cells). The two rules split on what must stay bounded:
    * pair-GENERATING consumers (near-dup blocking, kNN graphs) rank
    * every within-cell pair, so they need bounded cell SIZE → cells ∝ n
    * ([[cellsFor]]); a topK INDEX only scans probed cells per query, so
    * what must stay bounded is the quantizer itself — with cells ∝ √n
    * the centroid table is O(√n·dim) (still driver-collectable and
    * broadcastable at 10¹¹ vectors, where the linear rule's table is
    * gigabytes-to-terabytes), hierarchical assignment costs O(n·n^¼)
    * super+leaf comparisons instead of O(n^1.5), and probed cells hold
    * √n/4 members — exactly the scan PQ codes exist to make cheap.
    *
    * Engine-replicable: IEEE sqrt is correctly rounded and ×4 is a
    * power-of-two scale (exact), so the SQL mirror
    * `GREATEST(minCells, CEIL(4 * SQRT(COUNT(*))))` lands on the
    * identical integer at any n.
    *
    * MEASURED BUILD CEILING (round 11, the documented trade of VERDICT
    * r10 #4): under this rule the two-level hierarchical corpus
    * assignment costs O(n·√nCells) = O(n^1.25) — a per-element tax of
    * O(n^0.25) that the sf0.1→sf1 cold builds show compounding (v12
    * 1.6→35.6 s, v15 2.1→25.9 s at 10× data, round-10 artifact) and
    * the `index_assign` ScaleStress probe records per round. At 1000×
    * the probe corpus the per-element tax is ~5.6× — sub-quadratic,
    * the standard FAISS coarse-assignment posture, and an INGEST-side
    * cost only: the at-rest split (session memos; Bench's sf1_builds
    * phase) keeps it out of every query path, and the
    * `ivfpq_warm_query` probe pins query time to probed volume. A
    * 3-level hierarchy would cut assignment to O(n·nCells^(1/3)·3) =
    * O(n^(7/6)) but changes which cell every vector lands in, which
    * would rewrite ~20 SQL oracle mirrors that replicate the two-level
    * assignment bit-exactly (v6/v8/v12/v17-19/v22/v24 CTEs) for a
    * ~n^(1/12) build-side gain — deliberately NOT taken while the
    * measured ceiling stays ingest-only; revisit if a future scale
    * point shows build dominating even with the memo split.
    */
  def indexCellsFor(n: Long, minCells: Int = 16): Int =
    math.max(minCells.toDouble,
      math.ceil(4d * math.sqrt(n.toDouble))).toInt

  /** The probe-count rule that goes WITH [[indexCellsFor]]: the
    * operating point is a FUNCTION of the index, not a re-measured
    * constant — nProbe = max(6, ceil(5·nCells/16)) targets a fixed
    * fraction of cells, so candidate coverage (≈ nProbe·cellSize/n)
    * stays put as the corpus grows instead of silently decaying the way
    * a pinned probe count does. Pure integer arithmetic
    * (`GREATEST(6, (5*nc + 15) // 16)` in the mirrors). Swept with
    * tools/sweep_index_recall.py against exact top-5 and verified by
    * the oracled v17 audit: recall@5 0.88 (n=500) / 0.93 (n=2000) at
    * ~0.33 coverage with [[indexSuperProbesFor]]'s superProbe.
    *
    * Honest caveat for THIS corpus: the embeddings are near-random, so
    * recall tracks coverage and a constant-fraction nProbe is the only
    * way to hold a recall bar — per-query work is then a constant
    * fraction of n (the information-theoretic floor for random data).
    * On real clustered corpora the trained quantizer concentrates true
    * neighbors into few cells and callers can drop nProbe toward
    * O(log n) at the same recall; the rule keeps the BAR, not the cost.
    * MEASURED (round 10, IndexRecallSpec's clustered-corpus case): on a
    * 32-cluster mixture-of-Gaussians corpus, recall@5 ≥ 0.8 holds at
    * nProbe = 2·log₂n — probed fraction ~0.12 at n=2000 falling to
    * ~0.07 at n=8000, vs this rule's constant ~0.31 — while the
    * near-random fixture bars stay green at the derived point.
    */
  def indexProbesFor(nCells: Int, minProbe: Int = 6): Int =
    math.max(minProbe, (5 * nCells + 15) / 16)

  /** Query-side super-probe rule for the two-level hierarchy: half the
    * supers, max(3, ceil(nSuper/2)) — the sweep's dominant recall lever
    * (an unprobed super hides ALL its leaves, so super coverage bounds
    * leaf coverage). The CORPUS side stays pinned at 3
    * (corpusSuperProbe): assignment only decides which nearby cell a
    * vector lands in, and the sweep shows query-side coverage, not
    * corpus-side assignment optimality, carries the recall.
    */
  def indexSuperProbesFor(nCells: Int, minProbe: Int = 3): Int = {
    val nSuper = math.ceil(math.sqrt(nCells.toDouble)).toInt
    math.max(minProbe, (nSuper + 1) / 2)
  }

  /** The multi-table IVF blocking assignment [[cosineNearDupsIvf]] pairs
    * over — `tables` independent quantizers (table t seeded from the
    * nCells lowest ids after skipping t·nCells), every vector
    * multi-assigned to its `nProbe` nearest cells in each. Exposed as
    * the ingest-time half of blocked near-dup detection so sessions can
    * assign once (a session memo) and every near-dup pass reads the
    * shared (id, vec, table, cell) frame — the inverted-list layout.
    *
    * Assignment is HIERARCHICAL (two-level coarse quantization — the
    * standard production fix for flat assignment's O(n·nCells) cost
    * once cells scale with the corpus): within each table, the
    * ceil(√nCells) lowest-id leaf centroids double as SUPER-centroids;
    * every leaf centroid maps to its nearest super, every vector first
    * finds its `superProbe` nearest supers (O(√nCells) comparisons) and
    * then its `nProbe` nearest leaves among those supers' leaves
    * (O(superProbe·√nCells) average) — O(n·√nCells) total where flat
    * assignment is O(n·nCells) = O(n²/cellSize) under the [[cellsFor]]
    * rule. The output contract is unchanged: (id, vec, table, cell),
    * leaf cell labels = centroid ids. Approximate like every coarse
    * quantizer: a vector whose true nearest leaf hangs off an unprobed
    * super lands in its best probed-super leaf instead (v7 config
    * T=4/nCells=32/nProbe=2 on the fixture corpus: recall 0.955
    * two-level vs 0.970 flat at superProbe=3, the measured default;
    * TextDedupSpec asserts it against brute force), and the
    * multi-table union compounds it.
    *
    * All arithmetic is the engine-replicable double cosine with
    * deterministic id tiebreaks, so SQL oracles rebuild the identical
    * two-level assignment (v7/v15 mirrors).
    */
  /** The two-level quantizer HIERARCHY, built from the `tables·nCells`
    * lowest-id vectors of `c`: broadcast (tbl, sid, scentroid) supers
    * and (tbl, cell, centroid, sid) leaves-with-super. Bounded
    * algorithm state; built once per index and shared by every
    * assignment against it (the same-corpus path AND the cross/
    * incremental path, where a batch is assigned under the INDEX's
    * hierarchy).
    */
  private final case class Hierarchy(supers: DataFrame,
      leavesWithSuper: DataFrame)

  /** `distributedLeaves` selects the quantizer's DISTRIBUTION, never its
    * values: false (topK index family, [[indexCellsFor]] → O(√n) cells)
    * keeps the leaf table broadcast — bounded state, map-side leaf
    * attach; true (pair-generating blocking, [[cellsFor]] → cells ∝ n)
    * keeps seeds AND leaves as distributed frames ([[lowestIdRanked]]
    * seed selection, shuffle equi-join leaf attach on (tbl, sid)), so
    * no broadcast or driver collect anywhere in the build follows the
    * linear cell rule. Only supers (tables·√nCells rows — O(√n) even
    * under the linear rule) are ever broadcast in distributed mode.
    */
  private def buildHierarchy(c: DataFrame, nCells: Int,
      tables: Int, distributedLeaves: Boolean = false): Hierarchy = {
    val nSuper = math.ceil(math.sqrt(nCells.toDouble)).toInt
    // Leaf seeds: ranks [t·nCells, (t+1)·nCells) of the id order.
    val leaves =
      if (distributedLeaves)
        lowestIdRanked(c, tables * nCells)
          .select(expr(s"CAST(__rk div $nCells AS INT)").as("tbl"),
            col("id").as("cell"), col("vec").as("centroid"),
            pmod(col("__rk"), lit(nCells.toLong)).cast("int").as("lrk"))
      else {
        val wSeed = Window.orderBy(col("cell").asc)
        c.orderBy(col("id").asc).limit(tables * nCells)
          .select(col("id").as("cell"), col("vec").as("centroid"))
          .withColumn("__rk", row_number().over(wSeed) - 1)
          .select(expr(s"CAST(__rk div $nCells AS INT)").as("tbl"),
            col("cell"), col("centroid"),
            pmod(col("__rk"), lit(nCells)).as("lrk"))
      }
    hierarchyFromLeaves(leaves, nSuper,
      broadcastLeaves = !distributedLeaves)
  }

  /** Single-table hierarchy over an ARBITRARY quantizer — `cents` is any
    * (cell, centroid) frame (Lloyd-refined means, not just the lowest-id
    * seed vectors [[buildHierarchy]] derives): supers are the
    * ceil(√nCells) lowest-CELL centroids (identical to buildHierarchy's
    * rule when cells are seed ids). This is what lets the topK index
    * family (v8's refined quantizer, IVFADC's coarse stage) assign
    * corpus and probes in O(√nCells) comparisons per vector once cell
    * counts scale with the corpus.
    */
  private def hierarchyOfCentroids(cents: DataFrame,
      nCells: Int): Hierarchy = {
    val nSuper = math.ceil(math.sqrt(nCells.toDouble)).toInt
    val wSeed = Window.orderBy(col("cell").asc)
    val leaves = cents.select(col("cell"), col("centroid"))
      .withColumn("lrk", row_number().over(wSeed) - 1)
      .select(lit(0).as("tbl"), col("cell"), col("centroid"), col("lrk"))
    hierarchyFromLeaves(leaves, nSuper)
  }

  /** Shared tail: supers = each table's `nSuper` lowest-rank leaves,
    * every leaf mapped to its nearest super (tie → lowest sid).
    *
    * `broadcastLeaves` — false = blocking-family distributed mode: the
    * leaf table (nCells ∝ n under [[cellsFor]]) stays a distributed
    * frame, so [[assignWithHierarchy]]'s leaf attach becomes a SHUFFLE
    * equi-join on (tbl, sid) and the only broadcast is the supers
    * (tables·√nCells rows — broadcastable at any corpus size). The
    * leaf→super assignment is the same tables·nCells·nSuper map-side
    * expansion either way (supers are broadcast in both modes), combined
    * back to one row per leaf by the partial-aggregating argmax —
    * O(nCells·√nCells) compute, zero linear driver/broadcast state.
    */
  private def hierarchyFromLeaves(leaves0: DataFrame,
      nSuper: Int, broadcastLeaves: Boolean = true): Hierarchy = {
    val leaves = if (broadcastLeaves) broadcast(leaves0) else leaves0
    val supers = broadcast(leaves.filter(col("lrk") < nSuper)
      .select(col("tbl"), col("cell").as("sid"),
        col("centroid").as("scentroid")))
    // leaf → nearest super within its table (tie → lowest sid):
    // tables·nCells·nSuper rows, partial-aggregating argmax
    val leafSuper = leaves.join(supers, Seq("tbl"))
      .groupBy("tbl", "cell")
      .agg(max_by(col("sid"), struct(
        Vectors.cosineFast(col("centroid"), col("scentroid")).as("__ss"),
        (col("sid") * lit(-1L)).as("__ns"))).as("sid"))
    val lws = leaves.select("tbl", "cell", "centroid")
      .join(leafSuper, Seq("tbl", "cell"))
    Hierarchy(supers, if (broadcastLeaves) broadcast(lws) else lws)
  }

  /** Assign every row of `c` (id, vec) to its `nProbe` nearest leaves
    * per table under `hier` — O(n·√nCells): vectors first rank the
    * broadcast supers (thin window), then only the probed supers'
    * leaves (thin window), re-attaching the vector payload twice.
    */
  private def assignWithHierarchy(c: DataFrame, hier: Hierarchy,
      nProbe: Int, superProbe: Int): DataFrame = {
    // vector → superProbe nearest supers per table: cosines computed
    // map-side against the broadcast supers; the rank window sees only
    // the THIN (id, tbl, sid, sim) projection — vectors never sort
    val wS = Window.partitionBy(col("id"), col("tbl"))
      .orderBy(col("__ssim").desc, col("sid").asc)
    val vsup = c.crossJoin(hier.supers)
      .select(col("id"), col("tbl"), col("sid"),
        Vectors.cosineFast(col("vec"), col("scentroid")).as("__ssim"))
      .withColumn("__rs", row_number().over(wS))
      .filter(col("__rs") <= superProbe)
      .select("id", "tbl", "sid")
    // vector → nProbe nearest leaves among the probed supers' leaves:
    // broadcast leaf join expands map-side, thin rank window, then the
    // survivors re-attach the vector payload with one same-key join
    val wL = Window.partitionBy(col("id"), col("tbl"))
      .orderBy(col("__csim").desc, col("cell").asc)
    val kept = c.join(vsup, Seq("id"))
      .join(hier.leavesWithSuper, Seq("tbl", "sid"))
      .select(col("id"), col("tbl"), col("cell"),
        Vectors.cosineFast(col("vec"), col("centroid")).as("__csim"))
      .withColumn("__rk", row_number().over(wL))
      .filter(col("__rk") <= nProbe)
      .select("id", "tbl", "cell")
    c.join(kept, Seq("id"))
      .select(col("id"), col("vec"), col("tbl").cast("int").as("table"),
        col("cell"))
  }

  def multiQuantizerCells(df: DataFrame, idCol: String, vecCol: String,
      nCells: Int, nProbe: Int, tables: Int,
      superProbe: Int = 3): DataFrame = {
    // no internal persist: the hierarchy build and both assignment
    // stages re-read `df` — callers evaluating this more than once (or
    // building eagerly for a memo) persist the input themselves and
    // own its release
    val c = graft.Graft.ensureParallelism(df)
      .select(col(idCol).as("id"), col(vecCol).as("vec"))
    // distributedLeaves: this is the BLOCKING-family entry (callers pass
    // the linear [[cellsFor]] count), so the quantizer must never hold
    // broadcast/driver state proportional to nCells — seeds come from
    // [[lowestIdRanked]] and the leaf attach is a shuffle equi-join
    // (round-9 verdict finding #1). Values are identical to the
    // broadcast form; AQE still localizes the joins while the leaf
    // table is small.
    assignWithHierarchy(c,
      buildHierarchy(c, nCells, tables, distributedLeaves = true),
      nProbe, superProbe)
  }

  /** The FLAT corpus×centroid assignment the hierarchical form replaces
    * — kept as the measurement baseline (ScaleStress's `assign_flat`
    * probe contrasts it for cost). O(n·nCells) cosines: fine at
    * fixed small nCells, quadratic once cells scale with the corpus.
    */
  def multiQuantizerCellsFlat(df: DataFrame, idCol: String, vecCol: String,
      nCells: Int, nProbe: Int, tables: Int): DataFrame = {
    val c = graft.Graft.ensureParallelism(df)
      .select(col(idCol).as("id"), col(vecCol).as("vec"))
    (0 until tables).map { t =>
      val centroids = lowestIdCentroids(c, "id", "vec", nCells,
        offset = t * nCells)
      assignToCells(c, "id", "vec", centroids, keep = nProbe)
        .select(col("id"), col("vec"), lit(t).as("table"), col("cell"))
    }.reduce(_ unionAll _)
  }

  /** k-NN GRAPH construction: the k nearest neighbors of EVERY corpus
    * row (the all-rows batch form of ANN — the substrate for
    * graph-based clustering, label propagation, and kNN-classifier
    * curation), blocked by the same multi-table IVF assignment as
    * [[cosineNearDupsIvf]] so no corpus product ever materializes.
    *
    * Candidates are the per-(table, cell) pairs — O(n²·nProbe²·
    * tables/nCells), never O(n²) — deduped on (qid, nid) as THIN id
    * pairs, ranked per qid on the codegen'd double cosine by a window
    * that only ever sees that row's bounded candidate list, with the
    * exact-decimal cosine re-scoring only the ≤ topK survivors.
    * Approximate by
    * construction: a true neighbor sharing no probed cell is missed
    * (recall grows as 1-(1-p)^tables like the near-dup path); rows
    * whose candidate lists run short return fewer than k edges.
    *
    * `prebuiltAssigned` — the [[multiQuantizerCells]] session memo —
    * makes this a pure read of the at-rest inverted-list index.
    *
    * RELEASE OBLIGATION (self-build path only): when `prebuiltAssigned`
    * is empty, the returned frame is eagerly materialized and
    * checkpoint-backed (lineage-truncated); callers own its storage and
    * must `Graft.releaseTruncated(result)` once done with it, or the
    * checkpoint blocks linger until GC/ContextCleaner. With a prebuilt
    * assignment the result is a lazy plan and there is nothing to
    * release here — the MEMO's lifecycle (SessionMemo) owns storage.
    *
    * SCALE CONTRACT: `nCells` must grow with the corpus (the IVF rule —
    * callers pin cell SIZE ≈ n·nProbe/nCells via [[cellsFor]], not cell
    * count). A kNN graph ranks every candidate pair, so with fixed
    * cells the per-cell product grows quadratically in n (measured
    * 3.6 s → 451 s for a 10× corpus at nCells=32); with cells ∝ n the
    * candidate volume is linear. The declared v15 derives nCells from
    * count(). Assignment itself is the HIERARCHICAL two-level
    * [[multiQuantizerCells]] — O(n·√nCells), retiring the flat form's
    * O(n·nCells) = O(n²/cellSize) term — so the whole graph build is
    * sub-quadratic end to end (ScaleStress measures both).
    */
  def knnGraph(df: DataFrame, idCol: String, vecCol: String, topK: Int,
      nCells: Int = 32, nProbe: Int = 2, tables: Int = 4,
      prebuiltAssigned: Option[DataFrame] = None): DataFrame = {
    // Self-build path: the (id, vec) projection is persisted only for
    // the duration of THIS call — the result is materialized eagerly
    // (lineage-truncated; O(n·topK) thin edge rows) and the transient
    // cache released before returning, so repeated self-build calls
    // don't accrete cached projections for the session's lifetime.
    // Callers that run the build once per session pass a
    // [[multiQuantizerCells]] memo via `prebuiltAssigned` instead (the
    // declared v15 path) and own ITS lifecycle through SessionMemo.
    val selfBuilt = prebuiltAssigned.isEmpty
    val owned =
      if (selfBuilt)
        Some(graft.Graft.ensureParallelism(df)
          .select(col(idCol).as("id"), col(vecCol).as("vec"))
          .persist(StorageLevel.MEMORY_AND_DISK))
      else None
    val assigned = prebuiltAssigned.getOrElse(
      multiQuantizerCells(owned.get, "id", "vec", nCells, nProbe, tables))
    val cands = knnCandidates(assigned)
    // self-build: reuse the persisted projection for the exact re-score
    // joins (a fresh df.select would not canonicalize to the cached
    // repartitioned plan and would rescan the source)
    val corp = owned.getOrElse(
      df.select(col(idCol).as("id"), col(vecCol).as("vec")))
    val out = knnRescore(knnRank(cands, topK), corp)
    owned match {
      case Some(c) =>
        val t = graft.Graft.truncate(out, eager = true)
        c.unpersist(false)
        t
      case None => out
    }
  }

  /** [[knnGraph]] stage 1 — candidate generation: the per-(table, cell)
    * pairs of the [[Dedup.bucketPairs]] self form, scored on the
    * codegen'd double cosine once per unordered pair and deduped across
    * tables as thin (id1, id2, simd) rows, then fanned out to both
    * directed (qid, nid, simd) rows (the graph is symmetric).
    */
  private def knnCandidates(assigned: DataFrame): DataFrame =
    ivfPairs(assigned)
      .select(explode(array(
        struct(col("id1").as("qid"), col("id2").as("nid"),
          col("simd").as("simd")),
        struct(col("id2").as("qid"), col("id1").as("nid"),
          col("simd").as("simd")))).as("p"))
      .select(col("p.qid").as("qid"), col("p.nid").as("nid"),
        col("p.simd").as("simd"))

  /** Distinct (id1, id2, simd) pairs, id1 < id2, of (id, vec, table,
    * cell) assignment rows sharing a (table, cell): the
    * [[Dedup.bucketPairs]] self form with no cell capped. `simd` is the
    * codegen'd double cosine; `threshold` keeps simd >= threshold ahead
    * of the dedup exchange, so only surviving id pairs move.
    */
  private def ivfPairs(assigned: DataFrame,
      threshold: Option[Double] = None): DataFrame =
    Dedup.bucketPairs(assigned, None, Seq("id", "vec"), Seq("table", "cell"),
      Int.MaxValue,
      score = Seq(Vectors.cosineFast(col("l.vec"), col("r.vec")).as("simd")),
      keep = threshold.map(col("simd") >= _))

  /** Exact-decimal `sim` of thin (id1, id2) pairs, re-attaching each
    * side's vector from (id, vec) frames by two same-key joins. */
  private def rescorePairs(pairs: DataFrame, left: DataFrame,
      right: DataFrame): DataFrame =
    pairs.select("id1", "id2")
      .join(left.select(col("id").as("id1"), col("vec").as("v1")), "id1")
      .join(right.select(col("id").as("id2"), col("vec").as("v2")), "id2")
      .select(col("id1"), col("id2"),
        Vectors.cosine(col("v1"), col("v2")).as("sim"))

  /** [[knnGraph]] stage 2 — per-row bounded top-k ranking window over
    * the thin candidate pairs.
    */
  private def knnRank(cands: DataFrame, topK: Int): DataFrame = {
    val w = Window.partitionBy("qid").orderBy(col("simd").desc, col("nid").asc)
    cands.withColumn("rn", row_number().over(w).cast("int"))
      .filter(col("rn") <= topK)
      .select("qid", "nid", "rn")
  }

  /** [[knnGraph]] stage 3 — exact-decimal re-score of the ≤ topK
    * survivors per row (the only stage that re-attaches vectors).
    */
  private def knnRescore(ranked: DataFrame, corp: DataFrame)
      : DataFrame =
    ranked
      .join(corp.select(col("id").as("qid"), col("vec").as("qv")), "qid")
      .join(corp.select(col("id").as("nid"), col("vec").as("nv")), "nid")
      .select(col("qid"), col("nid"),
        Vectors.cosine(col("qv"), col("nv")).as("sim"), col("rn"))

  /** CROSS-corpus embedding-cosine near-duplicate pairs — the
    * incremental production shape (a batch of new embeddings against
    * the at-rest indexed corpus), the vector analogue of
    * `Dedup.minhashNearDupsCross`: candidates are generated by joining
    * the INDEX side's cell assignment with the BATCH side's assignment
    * under the index's OWN two-level quantizer, per (table, cell) —
    * no within-side pair is ever generated (the index has already been
    * deduped once; its self-similarity costs nothing here).
    *
    * `prebuiltIndexAssigned` — the index's [[multiQuantizerCells]]
    * session memo (the at-rest inverted list): steady-state batches
    * pay only the batch assignment (O(|batch|·√nCells)) plus the
    * banded index×batch equi-join. The batch is assigned with a
    * hierarchy rebuilt from the index frame — cheap (broadcast seeds)
    * and identical to the one the memo was built under, since the
    * hierarchy is a deterministic function of the index's lowest ids.
    *
    * Output: (index_id, batch_id, sim) with exact-decimal sims above
    * `threshold`; the double cosine decides the cut (the v7 split).
    *
    * PRECONDITION — unique ids per side: the thin-pair dedup groups by
    * (index_id, batch_id) and the survivor re-score re-attaches vectors
    * by equi-join on those ids, so a duplicated id within either side
    * would first collapse distinct candidates and then fan survivor
    * rows back out (the same implicit contract [[knnGraph]]'s re-score
    * joins rely on). Ids here are primary keys by construction of every
    * declared corpus; dedup by id first if yours are not.
    *
    * MEMO CONTRACT — `prebuiltIndexAssigned` must have been built with
    * the SAME nProbe/superProbe this call receives (the declared v21
    * path keys its memo by nCells and builds with the defaults): the
    * caller-supplied values apply only to the BATCH side once the memo
    * exists, so a mismatch silently produces asymmetric inverted lists
    * — same pin/disclosure rule as [[ivfTopKHier]]'s corpusSuperProbe.
    */
  def cosineNearDupsIvfCross(index: DataFrame, batch: DataFrame,
      idCol: String, vecCol: String, threshold: Double,
      nCells: Int = 32, nProbe: Int = 2, tables: Int = 4,
      superProbe: Int = 3,
      prebuiltIndexAssigned: Option[DataFrame] = None): DataFrame = {
    val ic = graft.Graft.ensureParallelism(index)
      .select(col(idCol).as("id"), col(vecCol).as("vec"))
    val bc = graft.Graft.ensureParallelism(batch)
      .select(col(idCol).as("id"), col(vecCol).as("vec"))
    // blocking family (cellsFor-scaled nCells): distributed quantizer —
    // see multiQuantizerCells
    val hier = buildHierarchy(ic, nCells, tables, distributedLeaves = true)
    val iAssigned = prebuiltIndexAssigned.getOrElse(
      assignWithHierarchy(ic, hier, nProbe, superProbe))
    val bAssigned = assignWithHierarchy(bc, hier, nProbe, superProbe)
    // A plain cell join, not Dedup.bucketPairs' cross form: joining the
    // index's cell lists to the batch rows read 9% slower on v21 at sf0.1
    // (median of 8 interleaved pairs). The threshold filter still runs
    // ahead of the thin (id1, id2) dedup; duplicates carry identical simd.
    val cands = iAssigned.as("l").join(bAssigned.as("r"),
        col("l.table") === col("r.table") && col("l.cell") === col("r.cell"))
      .select(col("l.id").as("id1"), col("r.id").as("id2"),
        Vectors.cosineFast(col("l.vec"), col("r.vec")).as("simd"))
      .filter(col("simd") >= threshold)
      .groupBy("id1", "id2").agg(min(col("simd")).as("simd"))
    rescorePairs(cands, ic, bc)
      .withColumnsRenamed(Map("id1" -> "index_id", "id2" -> "batch_id"))
  }

  /** Mutual-kNN clustering over a [[knnGraph]]: keep edges with
    * `sim ≥ minSim` that appear in BOTH directions (i is in j's top-k
    * AND j is in i's — the standard symmetrization that stops hub
    * vectors from gluing unrelated neighborhoods together), then close
    * them into connected components (Dedup.dupClusters — pointer-
    * jumping min-label propagation, O(log diameter) rounds). The
    * curation substrate over the graph: each component is a semantic
    * group with a deterministic min-id canonical.
    *
    * Scale shape: the mutual filter is one self-semi-join on the THIN
    * (qid, nid) edge list (≤ n·k rows), and the component closure
    * shuffles labels on node id only — nothing touches vectors.
    * Returns (canonical_id, member_id) for every node in ≥1 mutual edge.
    */
  def knnGraphClusters(graph: DataFrame, minSim: Double): DataFrame = {
    val e = graph.filter(col("sim") >= minSim).select("qid", "nid")
    val mutual = e.join(
        e.select(col("nid").as("qid"), col("qid").as("nid")),
        Seq("qid", "nid"), "left_semi")
      .filter(col("qid") < col("nid"))
    Dedup.dupClusters(mutual, "qid", "nid")
  }

  /** Exact embedding-cosine near-duplicate pairs above `threshold`
    * WITHIN THE GIVEN FRAME — the exact parity witness for the blocked
    * pipelines, intended for a bounded scope (one quantizer cell, a
    * pre-blocked candidate set, a spec corpus). Over a full corpus the
    * pair product is O(n²): the declared scale path for low thresholds
    * is `cosineNearDupsIvf`, whose per-(table, cell) blocks each compute
    * exactly this over their bounded membership.
    *
    * Pair generation is the blocked self-join (each side moves once;
    * Spark plans a broadcast-nested-loop when one side is small,
    * partitioned block products otherwise); the FILTER runs on the
    * codegen'd double cosine, and only the surviving pairs are re-scored
    * with the exact-decimal cosine for oracle-parity output. A block
    * product reports an unknown partitioning even over one partition, so
    * in a one-slot session ([[graft.Graft.oneSlot]]) the pairs are
    * coalesced to one partition too, and a sort above them needs no
    * exchange.
    */
  def cosineNearDups(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double): DataFrame = {
    val spread = graft.Graft.ensureParallelism(df)
    val l = spread.select(col(idCol).as("id1"), col(vecCol).as("v1"))
    val r = spread.select(col(idCol).as("id2"), col(vecCol).as("v2"))
    graft.Graft.oneSlotFrame(l.join(r, col("id1") < col("id2")))
      .filter(Vectors.cosineFast(col("v1"), col("v2")) >= threshold)
      .select(col("id1"), col("id2"),
        Vectors.cosine(col("v1"), col("v2")).as("sim"))
  }

  /** Embedding-cosine near-duplicate pairs above `threshold` via IVF-cell
    * blocking — the scale path for LOW thresholds, where hyperplane LSH
    * has no usable S-curve (at cosine ~0.4 random hyperplanes agree with
    * p ≈ 0.63/bit — band collisions barely separate dups from noise).
    *
    * Reuses the IVF coarse quantizer as the BLOCKING key, over `tables`
    * INDEPENDENT quantizers: every vector is assigned to its `nProbe`
    * nearest cells in each table (multi-assignment, so pairs straddling
    * a cell boundary still co-occur somewhere); pair generation is the
    * per-(table, cell) pairs — O(n²·T·nProbe²/nCells) instead of
    * O(n²), with nCells scaling with the corpus while T and nProbe stay
    * fixed. Survivor pairs are re-scored with the exact-decimal cosine,
    * so reported sims are exact; the approximation is only in which
    * pairs are CONSIDERED. Measured on the fixture corpus
    * (threshold 0.4): T=4/nCells=32/nProbe=2 →
    * recall 0.955 with the two-level assignment (0.970 flat) at 0.50×
    * the brute-force pair-generation cost; recall is asserted against
    * the exact all-pairs answer in TextDedupSpec. Cell skew is the
    * quantizer's problem — at production scale k-means centroids
    * replace the deterministic ones and AQE splits residual skew.
    */
  def cosineNearDupsIvf(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nCells: Int = 16, nProbe: Int = 2,
      tables: Int = 1, prebuiltAssigned: Option[DataFrame] = None): DataFrame = {
    // `tables` independent quantizers (disjoint centroid sets — table t
    // takes the nCells lowest ids after skipping t*nCells): recall
    // compounds as 1-(1-p)^T while pair-generation cost only adds
    // linearly (T·nProbe²/nCells of brute force) — strictly better
    // recall-per-cost than raising nProbe on one table when p is
    // moderate, which is exactly the low-threshold regime.
    // `prebuiltAssigned` (a session memo of [[multiQuantizerCells]])
    // skips straight to pair generation — the at-rest index split. The
    // self-build persist is TRACKED: loop callers (VecStream's
    // micro-batches) drain it via Graft.cacheScope; one-shot batch
    // callers keep the plain persist-for-the-query behavior.
    val c =
      if (prebuiltAssigned.isDefined)
        df.select(col(idCol).as("id"), col(vecCol).as("vec"))
      else graft.Graft.trackedPersist(graft.Graft.ensureParallelism(df)
        .select(col(idCol).as("id"), col(vecCol).as("vec")))
    val assigned = prebuiltAssigned.getOrElse(
      multiQuantizerCells(c, "id", "vec", nCells, nProbe, tables))
    rescorePairs(ivfPairs(assigned, Some(threshold)), c, c)
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023, "SemDeDup:
    * Data-efficient learning at web-scale through semantic deduplication"):
    * cluster the corpus with the coarse quantizer, find within-cell
    * near-duplicate pairs (cosine >= `threshold`), and from every pair
    * DROP the member closer to the cell centroid — the more peripheral
    * (more diverse) member survives, which is the paper's keep-rule.
    *
    * Deterministic and engine-replicable end to end: cells come from the
    * `lowestIdCentroids` quantizer (k-means slots in at production scale,
    * same dataflow), the drop-rule orders by plain-double centroid cosine
    * with an id tiebreak, and "dropped" is a set (a vector is dropped iff
    * ANY kept-or-dropped near-dup is more peripheral), so the result is
    * independent of partitioning and evaluation order — chains a~b~c drop
    * everything except each chain's most peripheral member.
    *
    * Scale shape: pairs are generated per cell (the v7
    * blocking pattern — O(n²/nCells), never O(n²)); centroids are a
    * DISTRIBUTED frame attached by a shuffle equi-join on cell (nCells
    * follows the linear cellsFor rule, so a broadcast centroid table
    * would grow with the corpus — round-9 verdict finding #1);
    * survivors come from one left-anti join on id. Returns
    * (cell, n_members, n_dropped, n_kept) per cell.
    */
  /** `prebuiltCells` — a session memo of the cell assignment (id, vec,
    * cell) under the same quantizer: skips the corpus assignment
    * pass (ingest-time state); centroids are still the cheap
    * lowest-id broadcast, joined only for the centroid-distance rule.
    *
    * Self-build assignment is the TWO-LEVEL [[multiQuantizerCells]]
    * (tables=1, nProbe=1) — O(n·√nCells), which matters because the
    * SemDeDup contract scales nCells with the corpus (pinned cell
    * size; pass [[cellsFor]]'s output) to keep the per-cell pair
    * product linear.
    */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nCells: Int = 16,
      prebuiltCells: Option[DataFrame] = None): DataFrame = {
    val sims = semanticSims(df, idCol, vecCol, nCells, prebuiltCells)
    val drops = semanticDropsFromSims(sims, threshold)
    sims.join(drops, col("id") === col("drop_id"), "left_anti")
      .groupBy("cell").agg(count(lit(1)).as("n_kept"))
      .join(sims.groupBy("cell").agg(count(lit(1)).as("n_members")), "cell")
      .select(col("cell"), col("n_members"),
        (col("n_members") - col("n_kept")).as("n_dropped"), col("n_kept"))
  }

  /** The SemDeDup DROP SET alone — (drop_id) for every vector the
    * keep-rule eliminates. The apply-side primitive: curation pipelines
    * anti-join it (the x38 composition), where [[semanticDedup]]
    * reports the per-cell summary.
    */
  def semanticDropIds(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nCells: Int = 16,
      prebuiltCells: Option[DataFrame] = None): DataFrame =
    semanticDropsFromSims(
      semanticSims(df, idCol, vecCol, nCells, prebuiltCells), threshold)

  private def semanticSims(df: DataFrame, idCol: String, vecCol: String,
      nCells: Int, prebuiltCells: Option[DataFrame]): DataFrame = {
    val c = graft.Graft.ensureParallelism(df)
      .select(col(idCol).as("id"), col(vecCol).as("vec"))
    // SemDeDup scales nCells with the corpus (cellsFor), so the
    // centroid table must be DISTRIBUTED. Under the seed quantizer a
    // cell's centroid IS the corpus vector whose id equals the cell
    // label, so the centroid-distance attach is a plain equi-join of
    // the assignment against the corpus itself on cell = id — no
    // ranking, no broadcast, value-identical to the lowestIdCentroids
    // form (non-seed ids simply never match), and co-partitionable at
    // any scale; AQE localizes it while small.
    val centroids = c.select(col("id").as("cell"), col("vec").as("centroid"))
    prebuiltCells.getOrElse(
        multiQuantizerCells(c, "id", "vec", nCells, nProbe = 1, tables = 1)
          .select("id", "vec", "cell"))
      .join(centroids, "cell")
      .select(col("id"), col("vec"), col("cell"),
        Vectors.cosineFast(col("vec"), col("centroid")).as("centsim"))
  }

  private def semanticDropsFromSims(sims: DataFrame,
      threshold: Double): DataFrame =
    // only the drop set needs a dedup, not the pairs
    Dedup.bucketPairs(sims, None, Seq("id", "vec", "centsim"), Seq("cell"),
        Int.MaxValue,
        score = Seq(
          when(col("l.centsim") > col("r.centsim") ||
            (col("l.centsim") === col("r.centsim") && col("l.id") > col("r.id")),
            col("l.id")).otherwise(col("r.id")).as("drop_id"),
          Vectors.cosineFast(col("l.vec"), col("r.vec")).as("simd")),
        keep = Some(col("simd") >= threshold), dedup = false)
      .select("drop_id").distinct()

  // ------------------------------------------------------------------
  // Product quantization (PQ): the memory side of ANN at 100 TB. A
  // 64-dim float vector is 256 B; its PQ code is m bytes (8 here) — a
  // 32× reduction that is what lets a corpus-scale index live in
  // executor memory. Codebooks are O(m · nCodes · subDim) algorithm
  // state (1 KB here — same justification as k-means centroids);
  // queries scan CODES, never vectors.
  // ------------------------------------------------------------------

  /** Exact squared-L2 over two float/double arrays, folded in index
    * order: each (x-y)² term is exact in double (float diffs/products
    * never round), and the left-to-right fold matches DuckDB's
    * list_sum, so the result is bit-identical across engines. Native
    * codegen'd expression (graft.expressions.L2SqExact) — the previous
    * aggregate(zip_with(...)) builtin pipeline ran on the interpreted
    * higher-order-function machinery inside every PQ distance-table
    * entry and refine re-rank (optimization round 17, guide §4.1);
    * VectorExactSpec pins bit-equality against the builtin fold.
    */
  private def l2sq(a: Column, b: Column): Column =
    call_function("l2sq_exact", a, b)

  /** (id, s, sv): each vector exploded into its `m` subspace slices. */
  private def subVectors(df: DataFrame, idName: String, vecName: String,
      m: Int, sub: Int): DataFrame =
    df.select(col(idName).as("id"), col(vecName).as("vec"),
        explode(sequence(lit(0), lit(m - 1))).as("s"))
      .select(col("id"), col("s"),
        slice(col("vec"), col("s") * lit(sub) + lit(1), lit(sub)).as("sv"))

  /** Per-(vector, subspace) nearest codeword — a partial-aggregating
    * min_by over the unique (distance, code) order (the assignToCells
    * shape): the ×nCodes expansion collapses map-side, nothing sorts.
    */
  private def assignToCodes(sv: DataFrame, cb: DataFrame): DataFrame =
    sv.join(cb, Seq("s"))
      .withColumn("__d", l2sq(col("sv"), col("cw")))
      .groupBy("id", "s")
      .agg(min_by(col("code"), struct(col("__d"), col("code"))).as("code"))

  /** PQ codebooks: the vector space split into `m` subspaces, each with
    * its own `nCodes`-codeword codebook, Lloyd-refined `iterations`
    * times. Deterministic and engine-replicable throughout: seeds are
    * the `nCodes` lowest-id vectors' subspace slices (code label = seed
    * id, stable across iterations; emptied codes disappear), assignment
    * is exact-double squared-L2 with ties to the lowest code, and means
    * accumulate in DECIMAL (order-independent) exactly like
    * kmeansCentroids. Collected per iteration — they are the
    * algorithm's O(m·nCodes·subDim) aggregate state, NOT data.
    *
    * Output: (s, code, cw) — `m` × `nCodes` rows.
    */
  /** `seedOffset` skips the first ids when seeding (rank window
    * [seedOffset, seedOffset+nCodes) of the id order) — the residual
    * path MUST skip the coarse-centroid ids: a centroid's own residual
    * is the zero vector, so seeding from ids 0..nCodes-1 there would
    * start every codeword identical and collapse the codebook to one
    * effective code.
    */
  /** `trainCap`: like [[kmeansCentroids]], Lloyd refinement reads only
    * the `id < trainCap` training slice — codebook training cost is
    * bounded at any corpus scale; the caller's encode pass still covers
    * every vector.
    */
  def pqCodebooks(corpus: DataFrame, idCol: String, vecCol: String,
      m: Int = 8, nCodes: Int = 16, iterations: Int = 1,
      seedOffset: Int = 0, trainCap: Int = 2048): DataFrame = {
    val spark = corpus.sparkSession
    val c = corpus.select(col(idCol).as("id"), col(vecCol).as("vec"))
    val dim = c.select(size(col("vec"))).head().getInt(0)
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val sub = dim / m
    // read by every refinement iteration AND typically by the caller's
    // encode pass — one corpus-wide subvector explode, cached
    val sv = subVectors(c, "id", "vec", m, sub)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val seeds = c.orderBy(col("id").asc).offset(seedOffset).limit(nCodes)
    var cb = broadcast(subVectors(seeds, "id", "vec", m, sub)
      .select(col("s"), col("id").as("code"), col("sv").as("cw")))
    val meanCols = (1 to sub).map(i =>
      (sum(element_at(col("sv"), i).cast("double").cast("decimal(30,12)"))
        .cast("double") / count(lit(1)).cast("double")).cast("float").as(s"_m$i"))
    import scala.jdk.CollectionConverters._
    val svt = trainSlice(sv, "id", trainCap)
    for (_ <- 1 to iterations) {
      val means = assignToCodes(svt, cb).join(svt, Seq("id", "s"))
        .groupBy("s", "code").agg(meanCols.head, meanCols.tail: _*)
        .select(col("s"), col("code"),
          array((1 to sub).map(i => col(s"_m$i")): _*).as("cw"))
      val rows = means.orderBy("s", "code").collect()
      cb = broadcast(spark.createDataFrame(rows.toSeq.asJava, means.schema))
    }
    sv.unpersist()
    cb
  }

  /** PQ asymmetric-distance (ADC) top-k: encode the corpus once as
    * (id, s, code) — m bytes of state per vector — then answer each
    * query by a per-query distance TABLE (query subvector → every
    * codeword, m·nCodes entries) joined against the codes. The
    * distance-table entries are quantized to integer 2⁻²⁰ grid cells
    * (floor(d · 2²⁰) — real ADC implementations quantize their tables
    * too), which makes the per-pair sum order-independent exact integer
    * arithmetic: the ranking is deterministic under any partitioning
    * and bit-replicable in the oracle.
    *
    * Scale shape: codes are the only corpus-wide state on the wire;
    * the distance table is queries × (m·nCodes) rows — broadcast; the
    * join fans each code row by nQueries and partial-aggregates back
    * map-side. Compose with quantizerCells/ivfTopK for the IVF-PQ form
    * (probe cells first, ADC within probed cells).
    *
    * `refine > 1` adds the production second tier (FAISS's refine /
    * DiskANN's reorder): the ADC shortlist of `refine · topK`
    * candidates is re-ranked by exact squared-L2 over the FULL vectors
    * — which touches only R vectors per query, so codes live in memory
    * and full vectors stay at rest. On the synthetic (near-random —
    * PQ's worst case) corpus recall@10 measured 0.37 unrefined, 0.93
    * at refine=10, 0.99 at refine=20 (v18 audits it in-run).
    *
    * Output: qid, vec_id, adc_dist (double, exact multiple of 2⁻²⁰), rn
    * — or l2_dist (exact re-ranked squared L2) when refine > 1.
    */
  /** The at-rest state of the PQ family: trained codebooks (m·nCodes
    * rows, a broadcast literal), the corpus encoded as `m` one-byte
    * codes per vector, and the (persisted) normalized corpus for exact
    * refine. Production systems train/encode ONCE at ingest and answer
    * every query from the codes; `pqAdcTopK`/`ivfPqTopK` accept a
    * prebuilt index so callers (and the declared v11/v12/v13 queries)
    * share it instead of retraining per query.
    */
  final case class PqIndex(corpus: DataFrame, codebooks: DataFrame,
      codes: DataFrame, m: Int, sub: Int)

  /** Train codebooks and encode `corpus` — the ingest-time half of PQ. */
  def pqIndex(corpus: DataFrame, idCol: String, vecCol: String,
      m: Int = 8, nCodes: Int = 16, iterations: Int = 1,
      trainCap: Int = 2048): PqIndex = {
    val c = graft.Graft.ensureParallelism(corpus)
      .select(col(idCol).as("id"), col(vecCol).as("vec"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val dim = c.select(size(col("vec"))).head().getInt(0)
    val sub = dim / m
    val cb = pqCodebooks(c, "id", "vec", m, nCodes, iterations,
      trainCap = trainCap)
    val codes = assignToCodes(subVectors(c, "id", "vec", m, sub), cb)
    PqIndex(c, cb, codes, m, sub)
  }

  def pqAdcTopK(queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, topK: Int,
      m: Int = 8, nCodes: Int = 16, iterations: Int = 1,
      refine: Int = 1): DataFrame =
    pqAdcTopK(queries, pqIndex(corpus, idCol, vecCol, m, nCodes, iterations),
      idCol, vecCol, topK, refine)

  /** ADC top-k over a prebuilt [[PqIndex]] — the query-time half. */
  def pqAdcTopK(queries: DataFrame, idx: PqIndex,
      idCol: String, vecCol: String, topK: Int,
      refine: Int): DataFrame = {
    val qsv = subVectors(
      queries.select(col(idCol).as("id"), col(vecCol).as("vec")),
      "id", "vec", idx.m, idx.sub).withColumnRenamed("id", "qid")
    val dtab = qsv.join(idx.codebooks, Seq("s"))
      .select(col("qid"), col("s"), col("code"),
        floor(l2sq(col("sv"), col("cw")) * lit(1048576d)).as("dq"))
    val adc = idx.codes.join(broadcast(dtab), Seq("s", "code"))
      .filter(col("qid") =!= col("id"))
      .groupBy("qid", "id")
      .agg(sum(col("dq")).as("adc"))
    val w = Window.partitionBy("qid").orderBy(col("adc").asc, col("id").asc)
    val ranked = adc.withColumn("rn", row_number().over(w))
    if (refine <= 1)
      ranked.filter(col("rn") <= topK)
        .select(col("qid"), col("id").as("vec_id"),
          (col("adc").cast("double") / lit(1048576d)).as("adc_dist"),
          col("rn"))
    else {
      val shortlist = ranked.filter(col("rn") <= topK * refine)
        .select("qid", "id")
      val qv = broadcast(
        queries.select(col(idCol).as("qid"), col(vecCol).as("qv")))
      val rescored = shortlist.join(qv, Seq("qid")).join(idx.corpus, Seq("id"))
        .select(col("qid"), col("id"), l2sq(col("qv"), col("vec")).as("l2"))
      val w2 = Window.partitionBy("qid").orderBy(col("l2").asc, col("id").asc)
      rescored.withColumn("rn", row_number().over(w2))
        .filter(col("rn") <= topK)
        .select(col("qid"), col("id").as("vec_id"),
          col("l2").as("l2_dist"), col("rn"))
    }
  }

  /** IVF-PQ: the production ANN composition — an IVF coarse quantizer
    * prunes the corpus to the queries' `nProbe` probed cells, and PQ
    * codes answer distances inside them. The candidate pair list
    * (probed-cell members only) restricts the code stream BEFORE the
    * distance-table join, so the ADC work is proportional to
    * nProbe/nCells of the corpus, and the only corpus-wide state on the
    * wire is (cell, m-byte code) per vector. Both stages reuse the
    * audited building blocks: assignToCells (cosine coarse quantizer,
    * the v6/v10 shape) and pqCodebooks/assignToCodes (v11).
    *
    * Output: qid, vec_id, adc_dist, rn — ADC-ranked within probed cells.
    */
  // NOTE no parameter defaults here: Scala allows default arguments on
  // only ONE alternative of an overloaded name, and the IvfPqIndex
  // overload below (the production at-rest form, with far more call
  // sites) holds them.
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, topK: Int,
      nCells: Int, nProbe: Int,
      m: Int, nCodes: Int, iterations: Int): DataFrame =
    ivfPqTopK(queries,
      ivfPqIndex(corpus, idCol, vecCol, nCells, m, nCodes, iterations),
      idCol, vecCol, topK, nProbe, superProbe = 3)

  /** The at-rest state of residual-encoded IVF-PQ (IVFADC — Jégou et
    * al., "Product Quantization for Nearest Neighbor Search", §III):
    * coarse centroids, and the corpus PQ-encoded as RESIDUALS
    * `vec − centroid(cell)` with the cell id stored inline with the
    * codes (the inverted-list layout — query-time needs no id-join).
    * Residuals concentrate around zero with smaller per-subspace
    * variance than raw vectors, so the same code budget (m bytes/vec)
    * quantizes finer and buys materially better recall than raw-vector
    * codes (v19 audits the residual form's recall in-run).
    */
  final case class IvfPqIndex(corpus: DataFrame, centroids: DataFrame,
      codebooks: DataFrame, codes: DataFrame, m: Int, sub: Int,
      nCells: Int)

  /** Train the coarse quantizer + residual codebooks and encode the
    * corpus — the ingest-time half of IVFADC. Codes and cells are
    * eagerly lineage-truncated (they are the persisted index artifact;
    * Graft.truncate picks local vs reliable by conf), and the builder's
    * transient caches are dropped before returning.
    */
  /** `prebuiltCentroids`/`prebuiltCells` — the memoized coarse-quantizer
    * state (a trained kmeansCentroids broadcast; a (id, vec, cell)
    * corpus assignment under it): the at-rest split that lets the
    * IVFADC index share its coarse stage with the plain IVF topK (v8)
    * instead of re-deriving both per build. Without them the quantizer
    * is the `nCells` lowest-id seeds and the corpus is assigned through
    * the two-level hierarchy (O(n·√nCells)) — required once `nCells`
    * follows [[cellsFor]], where the flat product is O(n²/cellSize).
    */
  def ivfPqIndex(corpus: DataFrame, idCol: String, vecCol: String,
      nCells: Int = 16, m: Int = 8, nCodes: Int = 16,
      iterations: Int = 1, trainCap: Int = 2048,
      prebuiltCentroids: Option[DataFrame] = None,
      prebuiltCells: Option[DataFrame] = None,
      superProbe: Int = 3): IvfPqIndex = {
    val c = graft.Graft.ensureParallelism(corpus)
      .select(col(idCol).as("id"), col(vecCol).as("vec"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val dim = c.select(size(col("vec"))).head().getInt(0)
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val sub = dim / m
    // residual magnitude is what the PQ budget spends on — Lloyd-refined
    // MEAN centroids (vs raw sample vectors) shrink it: vec − mean(cell)
    // removes the cell's explained variance, while vec − sample_vec on
    // near-random data roughly DOUBLES it
    val cents = prebuiltCentroids.getOrElse(
      lowestIdCentroids(c, "id", "vec", nCells))
    val cells = prebuiltCells.getOrElse(
      assignWithHierarchy(c, hierarchyOfCentroids(cents, nCells),
        nProbe = 1, superProbe = superProbe)
        .select("id", "vec", "cell"))
    // residuals: vec − centroid(cell), exact double differences of
    // floats — engine-replicable elementwise arithmetic
    val res = cells
      .join(cents, "cell")
      .select(col("id"), col("cell"),
        zip_with(col("vec"), col("centroid"),
          (x, y) => x.cast("double") - y.cast("double")).as("rvec"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val cb = pqCodebooks(res, "id", "rvec", m, nCodes, iterations,
      seedOffset = nCells, trainCap = trainCap)
    val codes = graft.Graft.truncate(
      assignToCodes(subVectors(res, "id", "rvec", m, sub), cb)
        .join(res.select(col("id"), col("cell")), Seq("id")),
      eager = true)
    res.unpersist(false)
    c.unpersist(false)
    IvfPqIndex(c, cents, cb, codes, m, sub, nCells)
  }

  /** IVF-PQ top-k over a prebuilt residual [[IvfPqIndex]] — the
    * query-time half. Each query probes its `nProbe` nearest cells and
    * builds one distance table PER PROBED CELL from its residual there
    * (`q − centroid(cell)` — the IVFADC asymmetric form); the ADC join
    * then streams only the probed cells' codes (cell is inline in the
    * codes — no corpus-wide id-join) and partial-aggregates map-side.
    * The distance tables total nQueries·nProbe·m·nCodes rows —
    * broadcast. Integer-grid quantized entries keep the per-pair sum
    * exact BIGINT arithmetic, deterministic under any partitioning.
    */
  /** Queries are assigned to their probed cells through the index's
    * two-level hierarchy (O(√nCells) comparisons per query, `superProbe`
    * supers) — the query-side half of the [[cellsFor]] contract (flat
    * probing re-grows O(nCells) = O(n) per query once cells scale with
    * the corpus).
    *
    * `refine > 1` adds the exact re-rank tier over the IVFADC shortlist
    * (FAISS `IndexRefineFlat` over `IVFx,PQy` — the full production
    * composition): the ADC ranking keeps `refine · topK` candidates and
    * only THOSE full vectors are read for an exact squared-L2 re-rank,
    * so the at-rest float vectors are touched O(R) per query while the
    * scan stays codes-only. This is the tier that repairs the residual-
    * PQ quantization error v19 measures (recall@5 ~0.3 unrefined on the
    * near-random synthetic corpus); output carries l2_dist instead of
    * adc_dist, exactly as [[pqAdcTopK]]'s refine branch does.
    */
  def ivfPqTopK(queries: DataFrame, idx: IvfPqIndex,
      idCol: String, vecCol: String, topK: Int, nProbe: Int,
      superProbe: Int = 3, refine: Int = 1): DataFrame = {
    val probes = assignWithHierarchy(
        queries.select(col(idCol).as("id"), col(vecCol).as("vec")),
        hierarchyOfCentroids(idx.centroids, idx.nCells), nProbe, superProbe)
      .select(col("id").as("qid"), col("vec").as("qvec"), col("cell"))
    val qres = probes.join(idx.centroids, "cell")
      .select(col("qid"), col("cell"),
        zip_with(col("qvec"), col("centroid"),
          (x, y) => x.cast("double") - y.cast("double")).as("rvec"))
    val qsv = qres
      .select(col("qid"), col("cell"), col("rvec"),
        explode(sequence(lit(0), lit(idx.m - 1))).as("s"))
      .select(col("qid"), col("cell"), col("s"),
        slice(col("rvec"), col("s") * lit(idx.sub) + lit(1), lit(idx.sub)).as("sv"))
    val dtab = qsv.join(idx.codebooks, Seq("s"))
      .select(col("qid"), col("cell"), col("s"), col("code"),
        floor(l2sq(col("sv"), col("cw")) * lit(1048576d)).as("dq"))
    val adc = idx.codes.join(broadcast(dtab), Seq("cell", "s", "code"))
      .filter(col("qid") =!= col("id"))
      .groupBy("qid", "id")
      .agg(sum(col("dq")).as("adc"))
    val w = Window.partitionBy("qid").orderBy(col("adc").asc, col("id").asc)
    val ranked = adc.withColumn("rn", row_number().over(w))
    if (refine <= 1)
      ranked.filter(col("rn") <= topK)
        .select(col("qid"), col("id").as("vec_id"),
          (col("adc").cast("double") / lit(1048576d)).as("adc_dist"),
          col("rn"))
    else {
      // exact re-rank tier: the shortlist is tiny (≤ topK·refine rows
      // per query) and broadcasts into the corpus join, so full vectors
      // are read for shortlist members only — never shuffled corpus-wide
      val shortlist = ranked.filter(col("rn") <= topK * refine)
        .select("qid", "id")
      val qv = broadcast(
        queries.select(col(idCol).as("qid"), col(vecCol).as("qv")))
      val rescored = broadcast(shortlist.join(qv, Seq("qid")))
        .join(idx.corpus, Seq("id"))
        .select(col("qid"), col("id"), l2sq(col("qv"), col("vec")).as("l2"))
      val w2 = Window.partitionBy("qid").orderBy(col("l2").asc, col("id").asc)
      rescored.withColumn("rn", row_number().over(w2))
        .filter(col("rn") <= topK)
        .select(col("qid"), col("id").as("vec_id"),
          col("l2").as("l2_dist"), col("rn"))
    }
  }

  /** Maximal-marginal-relevance re-rank (Carbonell & Goldstein 1998):
    * greedily pick `k` of each query's `topM` retrieval candidates, each
    * step maximizing `lambda·rel(i) - (1-lambda)·max_{j picked} sim(i,j)`
    * (candidate id as tiebreak) — the standard diversification pass
    * between ANN retrieval and prompt assembly.
    *
    * The greedy recurrence is inherently sequential, but every step's
    * state is per-query bounded (topM candidates, topM² pair sims, ≤ k
    * picks), so the whole recurrence runs as ONE in-row `aggregate()`
    * fold over the per-query candidate/pair ARRAYS — no per-round
    * DataFrame job, join, window, or checkpoint (optimization round 16;
    * guide §1.2/§5: the prior shape ran k-1 eager per-round truncate
    * jobs whose fixed job-launch latency dominated the query at every
    * scale — ~1.8 s at sf0.1 AND sf1 for k=5 — while the folded state
    * is at most topM² structs per query). The corpus is still touched
    * exactly once, by the retrieval stage; the fold's expression tree
    * is linear in k (the accumulator is referenced once per step).
    *
    * Pick-for-pick equivalence with the round form: each step maximizes
    * over unselected candidates carrying a non-null penalty (the round
    * form's inner pen join), the score is the same
    * `lit(lambda)·sim - lit(1-lambda)·max(psim)` double arithmetic, and
    * the argmax tiebreak (mmr desc, vec_id asc) is the lexicographic
    * struct max over (mmr, -vec_id). Relevance and pair sims use the
    * exact-decimal cosine, and the score constants are the same Scala
    * doubles an oracle renders, so picks and scores are bit-replicable.
    * Returns (qid, step, vec_id, mmr).
    */
  def mmrRerank(queries: DataFrame, candidates: DataFrame, idCol: String,
      vecCol: String, topM: Int, k: Int, lambda: Double): DataFrame = {
    val cands = bruteForceTopK(queries, candidates, idCol, vecCol, topM)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val emb = candidates.select(col(idCol).as("cid"), col(vecCol).as("cv"))
    val withVec = cands.join(emb, col("vec_id") === col("cid"))
      .select(col("qid"), col("vec_id"), col("cv"))
    val pairs = withVec.as("a")
      .join(withVec.as("b"),
        col("a.qid") === col("b.qid") && col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.qid").as("qid"), col("a.vec_id").as("i"),
        col("b.vec_id").as("j"),
        Vectors.cosine(col("a.cv"), col("b.cv")).as("psim"))
    // Per-query bounded arrays: ≤ topM candidate structs and < topM²
    // pair structs per row. sort_array only pins a deterministic array
    // order (every consumer below is order-independent: filters,
    // array_max); rn is unique per qid so the sort is total.
    val cl = cands.groupBy("qid").agg(sort_array(collect_list(
      struct(col("rn"), col("vec_id"), col("sim")))).as("cl"))
    val pl = pairs.groupBy("qid").agg(sort_array(collect_list(
      struct(col("i"), col("j"), col("psim")))).as("pl"))
    val lamC = lit(lambda)
    val muC = lit(1 - lambda)
    // step 1: the rn == 1 retrieval winner, mmr = lambda·sim
    val c1 = element_at(filter(col("cl"), c => c("rn") === 1), 1)
    val pick1 = struct(lit(1).as("step"), c1("vec_id").as("vec_id"),
      (lamC * c1("sim")).as("mmr"))
    // steps 2..k: one fold step per t — argmax over unselected
    // candidates of lambda·sim − (1−lambda)·max_{j∈sel} psim(i,j),
    // tiebroken by vec_id asc via the (mmr, −vec_id) struct max; a
    // candidate with no pair against the selected set is skipped (the
    // round form's inner pen join), and an empty field (best IS NULL)
    // leaves both accumulators unchanged (the round form emitted no row
    // for that step).
    val folded =
      if (k <= 1) struct(array(pick1).as("picks"))
      else aggregate(
        sequence(lit(2), lit(k)),
        struct(array(pick1).as("picks"), array(c1("vec_id")).as("sel")),
        (acc, t) => {
          val scored = filter(
            transform(
              filter(col("cl"), c => !array_contains(acc("sel"), c("vec_id"))),
              c => {
                val pen = array_max(transform(
                  filter(col("pl"), p => p("i") === c("vec_id") &&
                    array_contains(acc("sel"), p("j"))),
                  p => p("psim")))
                struct((lamC * c("sim") - muC * pen).as("mmr"),
                  (-c("vec_id")).as("negid"))
              }),
            s => s("mmr").isNotNull)
          val best = array_max(scored)
          val bvid = -best("negid")
          struct(
            when(best.isNull, acc("picks")).otherwise(concat(acc("picks"),
              array(struct(t.as("step"), bvid.as("vec_id"),
                best("mmr").as("mmr"))))).as("picks"),
            when(best.isNull, acc("sel")).otherwise(
              concat(acc("sel"), array(bvid))).as("sel"))
        })
    val out = cl.join(pl, Seq("qid"), "left")
      .select(col("qid"), explode(folded("picks")).as("p"))
      .select(col("qid"), col("p.step").as("step"),
        col("p.vec_id").as("vec_id"), col("p.mmr").as("mmr"))
    val t = graft.Graft.truncate(out, eager = true)
    cands.unpersist(false)
    t
  }
}
