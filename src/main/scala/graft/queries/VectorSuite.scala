package graft.queries

import org.apache.spark.sql.functions._

import graft.Graft.table
import graft.functions.Vectors
import graft.operators.Similarity

/** Similarity-search queries over the `embeddings` table.
  *
  * EVERY query here has a full SQL-mirror oracle, the approximate ones
  * included: cosine outputs use exact DECIMAL dot products (order-
  * independent, bit-identical in DuckDB), and the LSH/IVF variants'
  * hyperplanes/quantizers are engine-replicable integer arithmetic the
  * oracle rebuilds in plain SQL — the APPROXIMATION itself is checked,
  * not just row counts.
  */
object VectorSuite {

  /** The PQ family's codebook size, feeding BOTH the Spark builders and
    * the SQL mirrors (declared before `queries`, which reads it).
    * 64 codewords per subspace is the profiled recall optimum at the
    * same at-rest budget — codes store as one byte per subspace either
    * way (6-bit vs 4-bit codewords packed), and recall@10 measured
    * 0.262 (nCodes=16) → 0.372 (nCodes=64) unrefined on the
    * worst-case near-random corpus, 0.93 at refine=10. Training cost
    * (4× the assignment work) is paid once per session by the PqShared /
    * IvfPqShared memos.
    */
  private final val PqCodes = 64

  /** Bounded quantizer-training sample (the FAISS practice): every Lloyd
    * pass — coarse k-means and PQ codebooks — trains on the `vec_id <
    * TrainCap` slice only, so training cost is corpus-size-independent.
    * ONE constant feeding both the Spark operators and the SQL mirrors
    * (at every tested SF the corpus fits under the cap, so the mirrors
    * stay value-identical with or without it — the filter is mirrored
    * anyway so the oracle replicates the ENGINE, not just its output
    * here). Encoding/assignment always covers the full corpus.
    */
  private final val TrainCap = 2048

  /** Per-(session, dir) memo of the PQ index (m=8, nCodes=[[PqCodes]],
    * one Lloyd iteration over the embeddings corpus) shared by v11/v13 — the
    * at-rest train-once/encode-once state every PQ query in production
    * reads. Codes AND the normalized corpus are lineage-truncated
    * (Graft.truncate) so the memoized frames survive the bench's
    * per-query `clearCache()` and the refine path (v13) reads truncated
    * state instead of re-scanning parquet; deterministic training +
    * fixed inputs ⇒ identical results to per-query retraining.
    * Lifecycle (eviction on session end / data change / idle TTL) is
    * SessionMemo's.
    */
  private object PqShared {
    import graft.{Graft, RestMemo}
    def index(s: org.apache.spark.sql.SparkSession, dir: String): Similarity.PqIndex =
      RestMemo.multi(s, s"$dir/embeddings.parquet", "pq-index-v1")({
        val idx = Similarity.pqIndex(table(s, dir, "embeddings"),
          "vec_id", "embedding", m = 8, nCodes = PqCodes, iterations = 1,
          trainCap = TrainCap)
        val t = idx.copy(
          codes = Graft.truncate(idx.codes, eager = true),
          corpus = Graft.truncate(idx.corpus, eager = true))
        // the builder's internal MEMORY_AND_DISK persist of the corpus is
        // superseded by the truncated copy — drop the CacheManager entry
        idx.corpus.unpersist(false)
        t
      })(
        // at-rest decomposition: codes + normalized corpus are the
        // data-sized index artifact; codebooks are bounded (m·nCodes
        // rows) and reload as a literal
        t => (Seq("corpus" -> t.corpus, "codebooks" -> t.codebooks,
          "codes" -> t.codes),
          Map("m" -> t.m.toString, "sub" -> t.sub.toString)),
        (fs, meta) => Similarity.PqIndex(
          corpus = RestMemo.truncated(fs("corpus")),
          codebooks = RestMemo.literal(s, fs("codebooks")),
          codes = RestMemo.truncated(fs("codes")),
          m = meta("m").toInt, sub = meta("sub").toInt)) { t =>
        Graft.releaseTruncated(t.codes)
        Graft.releaseTruncated(t.corpus)
      }
  }

  /** Per-(session, dir) memo of the INDEX-SCALED Lloyd coarse quantizer
    * (2 iterations, nCells from Similarity.indexCellsFor — 4·√n, the
    * sub-linear topK rule — trainCap from Similarity.trainCapFor: ~39
    * training points per centroid, the FAISS rule a fixed 2048 cap
    * silently breaks once cells scale) that v8 and the IVFADC index
    * (v12/v19) read — trained once per session (the ingest split).
    * Training assignment is HIERARCHICAL (hierTrain=true):
    * O(trainCap·√nCells) per iteration. The value is a broadcast of
    * collected literal centroid rows — O(√n·dim) algorithm state under
    * the index rule, driver-collectable at any corpus size — nothing
    * to release.
    */
  private object IvfShared {
    import graft.RestMemo
    def kmeansDyn(s: org.apache.spark.sql.SparkSession, dir: String,
        nCells: Int): org.apache.spark.sql.DataFrame =
      RestMemo.literalFrame(s, s"$dir/embeddings.parquet",
          s"ivf-kmeans-dyn$nCells") {
        Similarity.kmeansCentroids(table(s, dir, "embeddings"),
          "vec_id", "embedding", nCells, iterations = 2,
          trainCap = Similarity.trainCapFor(nCells), hierTrain = true)
      }

    /** The deterministic SEED quantizer (the nCells lowest-id vectors)
      * as a per-session COLLECTED-LITERAL broadcast — without it, every
      * v6/v17/v22 execution re-derives the seeds with a top-nCells sort
      * over the corpus and rebuilds the hierarchy from that plan
      * (several jobs of pure fixed overhead per query). Bounded
      * algorithm state (nCells·dim floats ≤ ~80 KB at sf1); identical
      * values to the in-plan form, so the oracles are untouched.
      */
    def seedDyn(s: org.apache.spark.sql.SparkSession, dir: String,
        nCells: Int): org.apache.spark.sql.DataFrame =
      RestMemo.literalFrame(s, s"$dir/embeddings.parquet",
          s"ivf-seed-dyn$nCells") {
        Similarity.seedCentroidsLiteral(table(s, dir, "embeddings"),
          "vec_id", "embedding", nCells)
      }
  }

  /** Per-(session, dir) memos of the corpus CELL ASSIGNMENTS — the other
    * half of IVF's ingest-time state. Training the quantizer is cheap
    * (or already memoized above); what every IVF-family query used to
    * re-pay per execution is the corpus×centroids assignment pass.
    * Production builds the inverted lists once at index time; these
    * memos are that split: (id, vec, cell) frames, lineage-truncated so
    * they survive cache clears, released via SessionMemo's lifecycle.
    *   - `seed16`: the deterministic 16-cell seed quantizer — read by
    *     v5 (the bounded one-cell parity witness) only;
    *   - `kmeansDynCells`: the corpus under the index-scaled (4·√n)
    *     Lloyd-refined quantizer (IvfShared.kmeansDyn), assigned
    *     HIERARCHICALLY — v8's corpus side and the IVFADC (v12/v19)
    *     inverted lists (probes still assign per query);
    *   - `multiDyn`: the 4-table nProbe-2 two-level blocking assignment
    *     v7/v15/v23 pair over, keyed by the corpus-scaled (linear —
    *     they are pair generators) nCells;
    *   - `hierDyn`: the single-table keep-1 two-level assignment, keyed
    *     by nCells: the v6/v22 topK inverted lists share one entry at
    *     indexCellsFor's 4·√n, while v10's SemDeDup cells keep their
    *     own entry at the linear cellsFor rule (within-cell pair
    *     generation needs bounded cell SIZE, a topK index a bounded
    *     quantizer — two rules, two entries, one assignment pass each).
    */
  private object CellsShared {
    import graft.{Graft, RestMemo}
    import org.apache.spark.sql.{DataFrame, SparkSession}
    private def memo(s: SparkSession, dir: String, what: String)(
        build: => DataFrame): DataFrame =
      RestMemo.frame(s, s"$dir/embeddings.parquet", what)(
        Graft.truncate(build, eager = true))
    def seed16(s: SparkSession, dir: String): DataFrame =
      memo(s, dir, "ivf-cells16-seed")(
        Similarity.quantizerCells(table(s, dir, "embeddings"),
          "vec_id", "embedding", nCells = 16))
    def kmeansDynCells(s: SparkSession, dir: String, nCells: Int): DataFrame =
      memo(s, dir, s"ivf-cells-kmeans-dyn$nCells-hier3")(
        Similarity.quantizerCellsHier(table(s, dir, "embeddings"),
          "vec_id", "embedding", nCells,
          centroids = IvfShared.kmeansDyn(s, dir, nCells)))
    /** The 4-table nProbe-2 TWO-LEVEL blocking assignment at any cell
      * count — one memo entry per (session, dir, nCells); v7 and v15
      * derive the same corpus-scaled nCells (Similarity.cellsFor), so
      * they SHARE this entry (one assignment pass per session).
      */
    def multiDyn(s: SparkSession, dir: String, nCells: Int): DataFrame =
      RestMemo.frame(s, s"$dir/embeddings.parquet",
          s"ivf-cells${nCells}x4-probe2-hier3") {
        // the assignment branches each read the corpus — persist it
        // for the one eager build, drop the transient cache after
        val emb = table(s, dir, "embeddings")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val t = Graft.truncate(
          Similarity.multiQuantizerCells(emb, "vec_id", "embedding",
            nCells = nCells, nProbe = 2, tables = 4),
          eager = true)
        emb.unpersist(false)
        t
      }
    /** Single-table keep-1 two-level assignment (the SemDeDup cell
      * build at corpus-scaled nCells) — (id, vec, cell), v10's memo.
      */
    def hierDyn(s: SparkSession, dir: String, nCells: Int): DataFrame =
      RestMemo.frame(s, s"$dir/embeddings.parquet",
          s"ivf-cells${nCells}-hier3") {
        val emb = table(s, dir, "embeddings")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val t = Graft.truncate(
          Similarity.multiQuantizerCells(emb, "vec_id", "embedding",
            nCells = nCells, nProbe = 1, tables = 1)
            .select("id", "vec", "cell"),
          eager = true)
        emb.unpersist(false)
        t
      }
  }

  /** Per-(session, dir) memo of the v20 mutual-kNN cluster table —
    * graph build reads the shared multiDyn assignment, and the
    * component closure (iterative label propagation, one job per
    * round) runs ONCE per session: the grouping layer is ingest-time
    * state exactly like the text side's DedupShared.clusters (x18).
    */
  private object GraphClustersShared {
    import graft.{Graft, RestMemo}
    def clusters(s: org.apache.spark.sql.SparkSession,
        dir: String): org.apache.spark.sql.DataFrame =
      RestMemo.frame(s, s"$dir/embeddings.parquet",
          "knn-graph-clusters-sim0.4") {
        val emb = table(s, dir, "embeddings")
        val nc = Similarity.cellsFor(emb.count())
        // The GRAPH is materialized before the closure: the mutual
        // filter references it twice (self semi-join) and the component
        // loop once more — an un-truncated graph plan re-runs the whole
        // blocked build per reference.
        val g = Graft.truncate(
          Similarity.knnGraph(emb, "vec_id", "embedding", topK = 5,
            nCells = nc, nProbe = 2, tables = 4,
            prebuiltAssigned = Some(CellsShared.multiDyn(s, dir, nc))),
          eager = true)
        try Graft.truncate(Similarity.knnGraphClusters(g, minSim = 0.4),
          eager = true)
        finally Graft.releaseTruncated(g)
      }
  }

  /** Per-(session, dir) memo of v21's AT-REST index assignment — the
    * (id, vec, table, cell) inverted list of the vec_id < 400 index
    * slice under its own two-level quantizer. This is the declared
    * production split for cross-corpus incremental dedup: the index is
    * assigned once at ingest; each batch pays only its own assignment
    * plus the banded index×batch equi-join.
    */
  private object CrossShared {
    import graft.{Graft, RestMemo}
    def idxAssigned(s: org.apache.spark.sql.SparkSession, dir: String,
        nCells: Int): org.apache.spark.sql.DataFrame =
      RestMemo.frame(s, s"$dir/embeddings.parquet",
          s"v21-idx-assigned$nCells") {
        val idx = table(s, dir, "embeddings").filter(col("vec_id") < 400)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val t = Graft.truncate(
          Similarity.multiQuantizerCells(idx, "vec_id", "embedding",
            nCells = nCells, nProbe = 2, tables = 4),
          eager = true)
        idx.unpersist(false)
        t
      }
  }

  /** Per-(session, dir) memo of the residual-encoded IVF-PQ index
    * (IVFADC) v12/v19 read — coarse centroids + residual codebooks +
    * cell-inline codes, trained/encoded once per session. The coarse
    * stage is SHARED with v8: the corpus-scaled Lloyd quantizer
    * (IvfShared.kmeansDyn) and its hierarchical corpus assignment
    * (CellsShared.kmeansDynCells) arrive prebuilt, so the IVFADC build
    * pays only residuals + codebooks + encoding. Codes are
    * lineage-truncated by the builder; release drops their storage
    * (the shared coarse memos have their own lifecycle entries).
    */
  private object IvfPqShared {
    import graft.{Graft, RestMemo}
    def index(s: org.apache.spark.sql.SparkSession, dir: String): Similarity.IvfPqIndex =
      RestMemo.multi(s, s"$dir/embeddings.parquet", "ivfpq-index-dyn")({
        val emb = table(s, dir, "embeddings")
        val nc = Similarity.indexCellsFor(emb.count())
        Similarity.ivfPqIndex(emb,
          "vec_id", "embedding", nCells = nc, m = 8, nCodes = PqCodes,
          iterations = 1, trainCap = TrainCap,
          prebuiltCentroids = Some(IvfShared.kmeansDyn(s, dir, nc)),
          prebuiltCells = Some(CellsShared.kmeansDynCells(s, dir, nc)))
      })(
        // sidecar: codes are the data-sized artifact; centroids and
        // codebooks are bounded and reload as literals; corpus is a
        // PLAIN PLAN over the source table (the builder unpersists its
        // transient cache before returning), so it is rebuilt, not
        // stored — persisting it would duplicate the embeddings table
        t => (Seq("centroids" -> t.centroids, "codebooks" -> t.codebooks,
          "codes" -> t.codes),
          Map("m" -> t.m.toString, "sub" -> t.sub.toString,
            "nCells" -> t.nCells.toString)),
        (fs, meta) => Similarity.IvfPqIndex(
          corpus = Graft.ensureParallelism(table(s, dir, "embeddings"))
            .select(col("vec_id").as("id"), col("embedding").as("vec")),
          centroids = RestMemo.literal(s, fs("centroids")),
          codebooks = RestMemo.literal(s, fs("codebooks")),
          codes = RestMemo.truncated(fs("codes")),
          m = meta("m").toInt, sub = meta("sub").toInt,
          nCells = meta("nCells").toInt)) {
        t => Graft.releaseTruncated(t.codes)
      }
  }

  /** Force every per-session index/cluster memo for `dir`, timed per
    * item — Bench's `sf1_builds` section (VERDICT r10 #1): running the
    * builds up front and charging them here makes the per-query bench
    * numbers measure WARM query time, generalizing the v20_split
    * pattern to the whole index family. `go` is a deadline check — an
    * item skipped for time is returned with value -1.0 and its memo is
    * then built lazily by the first family member that needs it (the
    * old charging, honestly degraded). Ordered cheap-to-expensive so a
    * partial phase still warms the most entries. nCells derivations
    * replicate the query call sites exactly (same memo keys).
    */
  private[graft] def prebuild(s: org.apache.spark.sql.SparkSession,
      dir: String, go: () => Boolean): Seq[(String, Double)] = {
    val emb = table(s, dir, "embeddings")
    val n = emb.count()
    val nIdx = Similarity.indexCellsFor(n)          // v6/v8/v12/v22/v23
    val nPair = Similarity.cellsFor(n)              // v7/v15/v20/v26
    val nSem = Similarity.cellsFor(n, cellSize = 128, minCells = 16) // v10
    val nCross = Similarity.cellsFor(               // v21's index slice
      emb.filter(col("vec_id") < 400).count())
    val items: Seq[(String, () => Unit)] = Seq(
      "vec_cells_seed16" -> (() => { CellsShared.seed16(s, dir); () }),
      "vec_seed_quantizer" -> (() => { IvfShared.seedDyn(s, dir, nIdx); () }),
      "vec_kmeans_quantizer" -> (() => { IvfShared.kmeansDyn(s, dir, nIdx); () }),
      "vec_cells_index" -> (() => { CellsShared.hierDyn(s, dir, nIdx); () }),
      "vec_cells_kmeans" -> (() => { CellsShared.kmeansDynCells(s, dir, nIdx); () }),
      "vec_cells_sem" -> (() => { CellsShared.hierDyn(s, dir, nSem); () }),
      "vec_cross_index" -> (() => { CrossShared.idxAssigned(s, dir, nCross); () }),
      "vec_cells_blocking" -> (() => { CellsShared.multiDyn(s, dir, nPair); () }),
      "vec_pq_index" -> (() => { PqShared.index(s, dir); () }),
      "vec_ivfpq_index" -> (() => { IvfPqShared.index(s, dir); () }),
      "vec_knn_graph_clusters" -> (() => { GraphClustersShared.clusters(s, dir); () }))
    graft.Prebuild.timed(items, go)
  }

  // DuckDB: exact-decimal dot product of two 64-dim FLOAT lists.
  private def sqlDot(a: String, b: String): String =
    s"CAST(list_sum(list_transform(range(1, 65), i -> CAST(CAST($a[i] AS DOUBLE) AS DECIMAL(18,7)) * CAST(CAST($b[i] AS DOUBLE) AS DECIMAL(18,7)))) AS DOUBLE)"
  private def sqlCos(a: String, b: String): String =
    s"(${sqlDot(a, b)} / (sqrt(${sqlDot(a, a)}) * sqrt(${sqlDot(b, b)})))"

  // DuckDB: plain-double cosine — mirrors the codegen'd cosine_sim used
  // for FILTERING/assignment (sign/threshold decisions only; outputs are
  // re-scored with the exact-decimal form).
  private def sqlDotD(a: String, b: String): String =
    s"list_sum(list_transform(range(1, 65), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))"
  private def sqlCosD(a: String, b: String): String =
    s"(${sqlDotD(a, b)} / (sqrt(${sqlDotD(a, a)}) * sqrt(${sqlDotD(b, b)})))"

  /** DuckDB mirror of graft.expressions.HyperplaneImpl.bucket: the
    * hyperplane weights come from an exact-integer LCG mod 2^31 followed
    * by a power-of-two division (exact in double), so the buckets are
    * bit-identical across engines.
    */
  private def sqlBucket(v: String, tbl: String, bits: Int): String = {
    val M = "2147483648"
    val key = s"(($tbl) * 1000003 + i * 4096 + (d - 1))"
    val mixed = s"((((($key % $M) * 2654435761 + 2654435769) % $M) * 2654435761 + 40503) % $M)"
    s"""CAST(list_sum(list_transform(range(0, $bits), i ->
      |  CASE WHEN list_sum(list_transform(range(1, 65), d ->
      |      CAST($v[d] AS DOUBLE) * (CAST($mixed AS DOUBLE) / 2147483648.0 - 0.5))) >= 0
      |    THEN CAST(1 AS BIGINT) << CAST(i AS INT) ELSE CAST(0 AS BIGINT) END)) AS BIGINT)""".stripMargin
  }

  /** DuckDB mirror of the two-level (hierarchical) multi-table coarse
    * quantizer assignment `Similarity.multiQuantizerCells` runs —
    * O(n·√nCells) instead of flat O(n·nCells). Expects a prior CTE
    * `nc(v)` holding the cell count; emits ns → ranked → cent → sup →
    * leafmap → vsup → assigned, where `assigned` is (vec_id, vec, tbl,
    * cell): table t's leaves are ranks [t·nc, (t+1)·nc) of the id
    * order, its supers the ceil(√nc) lowest of those, every leaf maps
    * to its nearest super, every vector probes its `superProbe` nearest
    * supers and keeps its `nProbe` nearest leaves among them — all on
    * the plain-double cosine with id tiebreaks, bit-replicating the
    * Spark assignment.
    */
  private def sqlHierAssigned(tables: Int, nProbe: Int,
      superProbe: Int = 3): String =
    sqlHierCentroids(tables) + ",\n" +
      sqlHierAssign(nProbe = nProbe, superProbe = superProbe)

  // All multi-referenced / pipeline-stage CTEs in the vector mirrors are
  // AS MATERIALIZED: DuckDB (1.0) INLINES plain CTEs per reference, so a
  // deep trunk like the IVFADC mirror (Lloyd → hierarchy → assignment →
  // residuals → codebooks → encoding → per-(query,cell) ADC) re-expands
  // its upstream tree at every reference — the exponential plan growth
  // that OOM'd the round-8 v12 oracle. Materialization evaluates each
  // stage once into a temp (every stage here is small — O(n·m) rows at
  // most), which bounds both work and memory; values are unchanged.

  /** The hierarchy half: ns/ranked/cent/sup/leafmap from `seedSrc`'s
    * lowest ids (expects a prior `nc(v)` CTE). */
  private def sqlHierCentroids(tables: Int,
      seedSrc: String = "embeddings"): String =
    s"""ns AS MATERIALIZED (SELECT CAST(CEIL(SQRT(v)) AS BIGINT) AS v FROM nc),
    |ranked AS MATERIALIZED (
    |  SELECT vec_id AS cell, embedding AS centroid,
    |    row_number() OVER (ORDER BY vec_id ASC) - 1 AS rk
    |  FROM $seedSrc),
    |cent AS MATERIALIZED (
    |  SELECT CAST(rk // (SELECT v FROM nc) AS BIGINT) AS tbl, cell, centroid,
    |    rk % (SELECT v FROM nc) AS lrk
    |  FROM ranked WHERE rk < $tables * (SELECT v FROM nc)),
    |sup AS MATERIALIZED (
    |  SELECT tbl, cell AS sid, centroid AS scentroid FROM cent
    |  WHERE lrk < (SELECT v FROM ns)),
    |leafmap AS MATERIALIZED (
    |  SELECT tbl, cell, sid FROM (
    |    SELECT c.tbl, c.cell, s.sid, row_number() OVER (
    |      PARTITION BY c.tbl, c.cell
    |      ORDER BY ${sqlCosD("c.centroid", "s.scentroid")} DESC, s.sid ASC) AS rk
    |    FROM cent c JOIN sup s ON s.tbl = c.tbl) WHERE rk = 1)"""
      .stripMargin

  /** The assignment half: `{prefix}vsup` / `{prefix}assigned` for the
    * rows of `vecSrc` under the hierarchy CTEs above — the cross/
    * incremental mirrors assign a batch under the INDEX's hierarchy by
    * calling this twice with different sources and prefixes.
    * `nProbe`/`superProbe` splice verbatim: pass an Int literal or a
    * scalar-subquery string like `(SELECT v FROM np)` for the DERIVED
    * operating points ([[graft.operators.Similarity.indexProbesFor]]).
    */
  private def sqlHierAssign(vecSrc: String = "embeddings",
      prefix: String = "", nProbe: Any, superProbe: Any = 3): String =
    s"""${prefix}vsup AS MATERIALIZED (
    |  SELECT vec_id, tbl, sid FROM (
    |    SELECT e.vec_id, s.tbl, s.sid, row_number() OVER (
    |      PARTITION BY e.vec_id, s.tbl
    |      ORDER BY ${sqlCosD("e.embedding", "s.scentroid")} DESC, s.sid ASC) AS rk
    |    FROM $vecSrc e CROSS JOIN sup s) WHERE rk <= $superProbe),
    |${prefix}assigned AS MATERIALIZED (
    |  SELECT vec_id, vec, tbl, cell FROM (
    |    SELECT e.vec_id, e.embedding AS vec, lm.tbl, lm.cell, row_number() OVER (
    |      PARTITION BY e.vec_id, lm.tbl
    |      ORDER BY ${sqlCosD("e.embedding", "c.centroid")} DESC, lm.cell ASC) AS rk
    |    FROM ${prefix}vsup v
    |    JOIN $vecSrc e ON e.vec_id = v.vec_id
    |    JOIN leafmap lm ON lm.tbl = v.tbl AND lm.sid = v.sid
    |    JOIN cent c ON c.tbl = lm.tbl AND c.cell = lm.cell) WHERE rk <= $nProbe)"""
      .stripMargin

  /** The CORPUS-SCALED INDEX cell-count CTE — mirrors
    * [[graft.operators.Similarity.indexCellsFor]] (nc ∝ 4·√n, the
    * sub-linear topK-index rule; sqrt is correctly-rounded IEEE and ×4
    * a power-of-two scale, so both engines land on the same integer).
    */
  private val sqlNcIndex: String =
    """nc AS MATERIALIZED (
    |  SELECT GREATEST(16, CAST(CEIL(4 * SQRT(COUNT(*))) AS BIGINT)) AS v
    |  FROM embeddings)""".stripMargin

  /** Derived probe-count CTEs (expect prior nc/ns): np mirrors
    * [[graft.operators.Similarity.indexProbesFor]] and sp mirrors
    * [[graft.operators.Similarity.indexSuperProbesFor]] — pure BIGINT
    * arithmetic, so the operating point is a FUNCTION of the corpus in
    * both engines rather than a pinned constant.
    */
  private val sqlNpSp: String =
    """np AS MATERIALIZED (SELECT GREATEST(6, (5 * v + 15) // 16) AS v FROM nc),
    |sp AS MATERIALIZED (SELECT GREATEST(3, (v + 1) // 2) AS v FROM ns)""".stripMargin

  /** Single-table hierarchy CTEs over an ARBITRARY (cell, centroid)
    * source CTE (Lloyd means — the from-seed-ids form is
    * sqlHierCentroids): `{p}sup` = the ceil(√nc) lowest-cell centroids,
    * `{p}leaf` = every centroid's nearest super (tie → lowest sid).
    * Expects prior `nc(v)`/`ns(v)` CTEs. Mirrors
    * Similarity.hierarchyOfCentroids.
    */
  private def sqlHier1(cents: String, p: String): String =
    s"""${p}sup AS MATERIALIZED (
    |  SELECT cell AS sid, centroid AS scentroid FROM (
    |    SELECT cell, centroid, row_number() OVER (ORDER BY cell ASC) AS rk
    |    FROM $cents) WHERE rk <= (SELECT v FROM ns)),
    |${p}leaf AS MATERIALIZED (
    |  SELECT cell, sid FROM (
    |    SELECT c.cell, s.sid, row_number() OVER (
    |      PARTITION BY c.cell
    |      ORDER BY ${sqlCosD("c.centroid", "s.scentroid")} DESC, s.sid ASC) AS rk
    |    FROM $cents c CROSS JOIN ${p}sup s) WHERE rk = 1)""".stripMargin

  /** Hierarchical assignment of `vecSrc` rows (vec_id, embedding) under
    * the `{p}sup`/`{p}leaf` hierarchy over `cents`: emits `{q}vsup` and
    * `{q}asg` (vec_id, vec, cell), keeping `keep` nearest leaves among
    * the `superProbe` probed supers' leaves — bit-replicating
    * Similarity.assignWithHierarchy under hierarchyOfCentroids
    * (double cosines, id/cell tiebreaks).
    */
  /** `keep`/`superProbe` splice verbatim — Int literal or a derived
    * scalar-subquery string (see [[sqlNpSp]]). */
  private def sqlHier1Assign(cents: String, p: String, vecSrc: String,
      q: String, keep: Any, superProbe: Any = 3): String =
    s"""${q}vsup AS MATERIALIZED (
    |  SELECT vec_id, sid FROM (
    |    SELECT e.vec_id, s.sid, row_number() OVER (
    |      PARTITION BY e.vec_id
    |      ORDER BY ${sqlCosD("e.embedding", "s.scentroid")} DESC, s.sid ASC) AS rk
    |    FROM $vecSrc e CROSS JOIN ${p}sup s) WHERE rk <= $superProbe),
    |${q}asg AS MATERIALIZED (
    |  SELECT vec_id, vec, cell FROM (
    |    SELECT e.vec_id, e.embedding AS vec, lm.cell, row_number() OVER (
    |      PARTITION BY e.vec_id
    |      ORDER BY ${sqlCosD("e.embedding", "c.centroid")} DESC, lm.cell ASC) AS rk
    |    FROM ${q}vsup v
    |    JOIN $vecSrc e ON e.vec_id = v.vec_id
    |    JOIN ${p}leaf lm ON lm.sid = v.sid
    |    JOIN $cents c ON c.cell = lm.cell) WHERE rk <= $keep)""".stripMargin

  /** The corpus-scaled two-iteration Lloyd trunk (the v8/v12 coarse
    * stage): nc-scaled lowest-id seeds, the trainCap = 39·nc slice
    * (Similarity.trainCapFor), HIERARCHICAL per-iteration train
    * assignment (sqlHier1 over the current means), DECIMAL(30,12)
    * per-dimension means — emits ns/seedc/ktrain/…/cent2. Expects a
    * prior `nc(v)` CTE.
    */
  private def sqlLloydDyn: String = {
    val means = (1 to 64).map(i =>
      s"CAST(CAST(SUM(CAST(CAST(vec[$i] AS DOUBLE) AS DECIMAL(30,12))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS FLOAT)").mkString(", ")
    s"""ns AS MATERIALIZED (SELECT CAST(CEIL(SQRT(v)) AS BIGINT) AS v FROM nc),
    |seedc AS MATERIALIZED (
    |  SELECT vec_id AS cell, embedding AS centroid FROM (
    |    SELECT vec_id, embedding, row_number() OVER (ORDER BY vec_id ASC) AS rk
    |    FROM embeddings) WHERE rk <= (SELECT v FROM nc)),
    |ktrain AS MATERIALIZED (
    |  SELECT vec_id, embedding FROM embeddings
    |  WHERE vec_id < 39 * (SELECT v FROM nc)),
    |${sqlHier1("seedc", "h1")},
    |${sqlHier1Assign("seedc", "h1", "ktrain", "t1", 1)},
    |kc1 AS MATERIALIZED (SELECT cell, [$means] AS centroid FROM t1asg GROUP BY cell),
    |${sqlHier1("kc1", "h2")},
    |${sqlHier1Assign("kc1", "h2", "ktrain", "t2", 1)},
    |cent2 AS MATERIALIZED (SELECT cell, [$means] AS centroid FROM t2asg GROUP BY cell)"""
      .stripMargin
  }

  /** The v10 SemDeDup DROP SET, exposed for cross-suite composition
    * (x38's curation pipeline): the same shared hierDyn cells memo and
    * the same drop rule, as (drop_id) rows.
    */
  private[queries] def semDrops(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val emb = table(s, dir, "embeddings")
    val nc = Similarity.cellsFor(emb.count(), cellSize = 128, minCells = 16)
    Similarity.semanticDropIds(emb, "vec_id", "embedding",
      threshold = 0.4, nCells = nc,
      prebuiltCells = Some(CellsShared.hierDyn(s, dir, nc)))
  }

  /** The v10 mirror through its `drops` CTE (nc → hierarchy → sims →
    * drops), for embedding in cross-suite oracles. Emits CTEs only —
    * no leading WITH, no final SELECT.
    */
  private[queries] def sqlSemDropsCtes: String =
    s"""nc AS (
    |  SELECT GREATEST(16, CAST(CEIL(COUNT(*) / 128.0) AS BIGINT)) AS v
    |  FROM embeddings),
    |${sqlHierCentroids(tables = 1)},
    |${sqlHierAssign(nProbe = 1)},
    |sims AS (
    |  SELECT a.vec_id, a.vec, a.cell, ${sqlCosD("a.vec", "c.centroid")} AS centsim
    |  FROM assigned a JOIN cent c ON a.cell = c.cell),
    |drops AS (
    |  SELECT DISTINCT CASE WHEN l.centsim > r.centsim
    |      OR (l.centsim = r.centsim AND l.vec_id > r.vec_id)
    |    THEN l.vec_id ELSE r.vec_id END AS drop_id
    |  FROM sims l JOIN sims r ON l.cell = r.cell AND l.vec_id < r.vec_id
    |  WHERE ${sqlCosD("l.vec", "r.vec")} >= 0.4)""".stripMargin

  /** The full v15 kNN-graph mirror (two-level assignment + per-cell
    * candidates + double-cosine ranking + exact re-score) — also
    * embedded whole as the `graph` CTE of the v20 clustering oracle.
    */
  private def sqlKnnGraphQuery: String =
    s"""WITH nc AS (
        |  SELECT GREATEST(32, CAST(CEIL(COUNT(*) / 64.0) AS BIGINT)) AS v
        |  FROM embeddings),
        |${sqlHierAssigned(tables = 4, nProbe = 2)},
        |cands AS (
        |  SELECT DISTINCT l.vec_id AS qid, r.vec_id AS nid
        |  FROM assigned l JOIN assigned r
        |    ON l.tbl = r.tbl AND l.cell = r.cell AND l.vec_id <> r.vec_id),
        |scored AS (
        |  SELECT c.qid, c.nid,
        |    ${sqlCosD("q.embedding", "n.embedding")} AS simd
        |  FROM cands c
        |  JOIN embeddings q ON q.vec_id = c.qid
        |  JOIN embeddings n ON n.vec_id = c.nid),
        |rankedk AS (
        |  SELECT qid, nid, row_number() OVER (
        |    PARTITION BY qid ORDER BY simd DESC, nid ASC) AS rn
        |  FROM scored)
        |SELECT k.qid, k.nid, ${sqlCos("q.embedding", "n.embedding")} AS sim,
        |  CAST(k.rn AS INT) AS rn
        |FROM rankedk k
        |JOIN embeddings q ON q.vec_id = k.qid
        |JOIN embeddings n ON n.vec_id = k.nid
        |WHERE k.rn <= 5
        |ORDER BY qid, rn""".stripMargin

  /** Queries that read per-session memoized index state (PqShared /
    * IvfShared / IvfPqShared / CellsShared) — disclosed in the bench
    * artifact so warm per-query numbers aren't mistaken for standalone
    * query cost: the first family member executed pays the build.
    */
  val memoShared: Set[String] = Set(
    "v5_cosine_neardups", "v6_ivf_ann_topk", "v7_cosine_neardups_ivf",
    "v8_ivf_kmeans_topk", "v10_semantic_dedup", "v11_pq_adc_topk",
    "v12_ivfpq_topk", "v13_pq_refine_topk", "v15_knn_graph",
    "v17_ann_recall_audit", "v18_pq_recall_audit",
    "v19_ivfpq_recall_audit", "v20_knn_graph_clusters",
    "v21_cosine_neardups_cross", "v22_filtered_ivf_topk",
    "v23_knn_label_audit", "v24_ivfpq_refine_topk",
    "v25_ivfpqr_recall_audit")

  val queries: Map[String, Q] = Map(

    // --- vector norms (sanity + exercises the decimal dot) ------------
    "v1_norms" -> Q(
      (s, dir) =>
        table(s, dir, "embeddings")
          .filter(col("vec_id") < 100)
          .select(col("vec_id"), Vectors.norm2(col("embedding")).as("l2norm"))
          .orderBy("vec_id"),
      Some(s"""SELECT vec_id, sqrt(${sqlDot("embedding", "embedding")}) AS l2norm
        |FROM embeddings WHERE vec_id < 100 ORDER BY vec_id""".stripMargin),
      "L2 norms via exact-decimal self-dot (zip_with/aggregate expressions)"),

    // --- brute-force cosine top-k -------------------------------------
    "v2_cosine_topk" -> Q(
      (s, dir) => {
        val emb = table(s, dir, "embeddings")
        val q = emb.filter(col("vec_id") < 5)
        Similarity.bruteForceTopK(q, emb, "vec_id", "embedding", topK = 5)
          .orderBy("qid", "rn")
      },
      Some(s"""WITH q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings WHERE vec_id < 5),
        |scored AS (
        |  SELECT q.qid, e.vec_id, ${sqlCos("q.qvec", "e.embedding")} AS sim
        |  FROM embeddings e CROSS JOIN q WHERE q.qid <> e.vec_id),
        |ranked AS (
        |  SELECT qid, vec_id, sim, row_number() OVER (
        |    PARTITION BY qid ORDER BY sim DESC, vec_id ASC) AS rn
        |  FROM scored)
        |SELECT qid, vec_id, sim, CAST(rn AS INT) AS rn FROM ranked WHERE rn <= 5
        |ORDER BY qid, rn""".stripMargin),
      "Brute-force cosine top-k: broadcast queries, map-only scoring, window top-k"),

    // --- per-label centroid similarity (agg over vectors) -------------
    "v3_label_centroid_sim" -> Q(
      (s, dir) => {
        val emb = table(s, dir, "embeddings")
        // mean vector per label with exact decimal accumulation:
        // sum each dimension as decimal, divide by count (double).
        val summed = emb.groupBy("label")
          .agg(
            count(lit(1)).as("n"),
            array(
              (0 until 64).map(i =>
                sum(element_at(col("embedding"), i + 1).cast("double")
                  .cast("decimal(18,7)")).cast("double")): _*).as("sumvec"))
        summed.select(col("label"), col("n"),
            transform(col("sumvec"), x => x / col("n").cast("double")).as("centroid"))
          .select(col("label"), col("n"),
            round(Vectors.dotFast(col("centroid"), col("centroid")), 6).as("centroid_sq"))
          .orderBy("label")
      },
      Some {
        val sums = (1 to 64).map(i =>
          s"CAST(SUM(CAST(CAST(embedding[$i] AS DOUBLE) AS DECIMAL(18,7))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)").mkString(", ")
        s"""WITH cent AS (
          |  SELECT label, COUNT(*) AS n, [$sums] AS centroid
          |  FROM embeddings GROUP BY label)
          |SELECT label, n,
          |  round(list_sum(list_transform(range(1, 65), i -> centroid[i] * centroid[i])), 6) AS centroid_sq
          |FROM cent ORDER BY label""".stripMargin
      },
      "Per-label centroid (IVF coarse-quantizer build step), exact decimal sums"),

    // --- LSH-bucketed ANN: full SQL mirror oracle ---------------------
    // The hyperplanes are engine-replicable (integer LCG — see
    // HyperplaneImpl), so the oracle reproduces the exact same buckets,
    // candidate sets, and rankings — the APPROXIMATION ITSELF is checked,
    // not just row counts.
    "v4_lsh_ann_topk" -> Q(
      (s, dir) => {
        val emb = table(s, dir, "embeddings")
        val q = emb.filter(col("vec_id") < 5)
        Similarity.lshTopK(q, emb, "vec_id", "embedding", topK = 5,
            bits = 6, tables = 4, exact = true)
          .orderBy("qid", "rn")
      },
      Some {
        val bq = sqlBucket("qvec", "tt.t", 6)
        val bc = sqlBucket("e.embedding", "tt.t", 6)
        s"""WITH q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings WHERE vec_id < 5),
          |qb AS (SELECT qid, qvec, tt.t AS tbl, $bq AS bucket
          |       FROM q, (SELECT unnest(range(0, 4)) AS t) tt),
          |cb AS (SELECT e.vec_id, e.embedding AS cvec, tt.t AS tbl, $bc AS bucket
          |       FROM embeddings e, (SELECT unnest(range(0, 4)) AS t) tt),
          |pairs AS (
          |  SELECT DISTINCT qid, vec_id, qvec, cvec
          |  FROM cb JOIN qb ON cb.tbl = qb.tbl AND cb.bucket = qb.bucket
          |  WHERE qid <> vec_id),
          |scored AS (SELECT qid, vec_id, ${sqlCos("qvec", "cvec")} AS sim FROM pairs),
          |ranked AS (
          |  SELECT qid, vec_id, sim, row_number() OVER (
          |    PARTITION BY qid ORDER BY sim DESC, vec_id ASC) AS rn
          |  FROM scored)
          |SELECT qid, vec_id, sim, CAST(rn AS INT) AS rn FROM ranked WHERE rn <= 5
          |ORDER BY qid, rn""".stripMargin
      },
      "Random-hyperplane LSH ANN: bucket equi-join prunes the scan; multi-probe recall"),

    // --- IVF ANN: full SQL mirror oracle ------------------------------
    // INDEX-SCALED: nCells from Similarity.indexCellsFor (4·√n — the
    // sub-linear topK rule, so the quantizer stays O(√n·dim)
    // driver/broadcast state at ANY corpus size where the round-8
    // linear n/128 rule grew it with the corpus), and the operating
    // point is DERIVED, not pinned: nProbe/superProbe from
    // indexProbesFor/indexSuperProbesFor target a fixed cell fraction
    // so candidate coverage holds as n grows. Corpus assignment is the
    // shared hierDyn memo (one two-level pass per session, also v22's
    // inverted list); probes assign through the same O(√nCells)
    // hierarchy. Recall at the derived operating point is the v17
    // audit's output (0.88 at n=500 / 0.93 at n=2000, asserted ≥ 0.8
    // at two scale factors by IndexRecallSpec).
    "v6_ivf_ann_topk" -> Q(
      (s, dir) => {
        val emb = table(s, dir, "embeddings")
        val nc = Similarity.indexCellsFor(emb.count())
        val q = emb.filter(col("vec_id") < 5)
        Similarity.ivfTopKHier(q, emb, "vec_id", "embedding", topK = 5,
            nCells = nc, nProbe = Similarity.indexProbesFor(nc),
            superProbe = Similarity.indexSuperProbesFor(nc),
            prebuiltCentroids = Some(IvfShared.seedDyn(s, dir, nc)),
            prebuiltCells = Some(CellsShared.hierDyn(s, dir, nc)))
          .orderBy("qid", "rn")
      },
      Some(s"""WITH $sqlNcIndex,
        |${sqlHierCentroids(tables = 1)},
        |${sqlHierAssign(nProbe = 1)},
        |$sqlNpSp,
        |qsrc AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5),
        |${sqlHierAssign(vecSrc = "qsrc", prefix = "q",
            nProbe = "(SELECT v FROM np)", superProbe = "(SELECT v FROM sp)")},
        |scored AS (
        |  SELECT q.vec_id AS qid, a.vec_id, ${sqlCosD("q.vec", "a.vec")} AS simd
        |  FROM assigned a JOIN qassigned q ON q.tbl = a.tbl AND q.cell = a.cell
        |  WHERE q.vec_id <> a.vec_id),
        |rankedk AS (
        |  SELECT qid, vec_id, row_number() OVER (
        |    PARTITION BY qid ORDER BY simd DESC, vec_id ASC) AS rn
        |  FROM scored)
        |SELECT k.qid, k.vec_id, ${sqlCos("qe.embedding", "ce.embedding")} AS sim,
        |  CAST(k.rn AS INT) AS rn
        |FROM rankedk k
        |JOIN embeddings qe ON qe.vec_id = k.qid
        |JOIN embeddings ce ON ce.vec_id = k.vec_id
        |WHERE k.rn <= 5
        |ORDER BY qid, rn""".stripMargin),
      "IVF coarse-quantizer ANN at index-scaled (4·sqrt n) nCells: " +
        "hierarchical corpus + probe assignment, derived probe counts, " +
        "double-decides/exact-reports ranking"),

    // --- exact cosine near-dups, bounded scope (parity witness) -------
    // The FLAGSHIP low-threshold near-dup query is v7's IVF-cell
    // blocking below; this query is the exact PARITY WITNESS on the unit
    // v7 works in — the members of ONE quantizer cell (the lowest-
    // labeled of 16). A cell is O(n/nCells) and nCells scales with the
    // corpus at production, so the declared pair product stays bounded;
    // the full-corpus O(n²) brute force remains spec-only (the
    // TextDedupSpec recall measurement for v7 compares against it).
    "v5_cosine_neardups" -> Q(
      (s, dir) => {
        val cells = CellsShared.seed16(s, dir)
        val target = cells.agg(min(col("cell")).as("cell"))
        val members = cells.join(broadcast(target), "cell")
        Similarity.cosineNearDups(members, "id", "vec", threshold = 0.4)
          .orderBy("id1", "id2")
      },
      Some(s"""WITH cent AS (
        |  SELECT vec_id AS cell, embedding AS centroid FROM embeddings
        |  ORDER BY vec_id ASC LIMIT 16),
        |assigned AS (
        |  SELECT vec_id, vec, cell FROM (
        |    SELECT e.vec_id, e.embedding AS vec, c.cell, row_number() OVER (
        |      PARTITION BY e.vec_id
        |      ORDER BY ${sqlCosD("e.embedding", "c.centroid")} DESC, c.cell ASC) AS rk
        |    FROM embeddings e CROSS JOIN cent c) WHERE rk <= 1),
        |m AS (
        |  SELECT vec_id, vec FROM assigned
        |  WHERE cell = (SELECT MIN(cell) FROM assigned)),
        |pairs AS (
        |  SELECT a.vec_id AS id1, b.vec_id AS id2, a.vec AS v1, b.vec AS v2
        |  FROM m a JOIN m b ON a.vec_id < b.vec_id)
        |SELECT id1, id2, ${sqlCos("v1", "v2")} AS sim
        |FROM pairs WHERE ${sqlCosD("v1", "v2")} >= 0.4
        |ORDER BY id1, id2""".stripMargin),
      "Embedding-cosine near-dups, exact within one quantizer cell " +
        "(bounded parity witness; v7 is the corpus-scale path)"),

    // --- IVF-blocked low-threshold near-dups (v5's scale path) --------
    // Pair generation is per-(table, cell) over 4 independent
    // quantizers (multi-assigned to the 2 nearest cells in each), never
    // the O(n²) corpus product — measured recall 0.955 at 0.50× the
    // brute-force pair-generation cost on this corpus with the
    // two-level assignment (flat was 0.970). nCells scales with the corpus (Similarity.cellsFor — the
    // same rule as v15, so both share one multiDyn assignment memo),
    // and the assignment is the hierarchical O(n·√nCells) quantizer.
    // The oracle rebuilds the identical two-level quantizers,
    // assignments, per-cell pairs, double-cosine threshold cut, and
    // exact-decimal re-score in SQL.
    "v7_cosine_neardups_ivf" -> Q(
      (s, dir) => {
        val emb = table(s, dir, "embeddings")
        val nc = Similarity.cellsFor(emb.count())
        Similarity.cosineNearDupsIvf(emb, "vec_id",
            "embedding", threshold = 0.4, nCells = nc, nProbe = 2,
            tables = 4,
            prebuiltAssigned = Some(CellsShared.multiDyn(s, dir, nc)))
          .orderBy("id1", "id2")
      },
      Some(s"""WITH nc AS (
        |  SELECT GREATEST(32, CAST(CEIL(COUNT(*) / 64.0) AS BIGINT)) AS v
        |  FROM embeddings),
        |${sqlHierAssigned(tables = 4, nProbe = 2)},
        |pairs AS (
        |  SELECT DISTINCT l.vec_id AS id1, r.vec_id AS id2,
        |    l.vec AS v1, r.vec AS v2
        |  FROM assigned l JOIN assigned r
        |    ON l.tbl = r.tbl AND l.cell = r.cell AND l.vec_id < r.vec_id)
        |SELECT id1, id2, ${sqlCos("v1", "v2")} AS sim
        |FROM pairs WHERE ${sqlCosD("v1", "v2")} >= 0.4
        |ORDER BY id1, id2""".stripMargin),
      "IVF-cell-blocked cosine near-dups: two-level multi-table " +
        "per-cell pairs + exact re-score"),

    // --- IVF ANN with k-means refined centroids -----------------------
    // The quantizer is 2 Lloyd iterations from the deterministic seeds
    // at INDEX-SCALED nCells (Similarity.indexCellsFor — 4·√n, the
    // sub-linear topK rule) with trainCap = 39·nCells
    // (Similarity.trainCapFor — the FAISS ~39-points-per-
    // centroid rule a pinned 2048 cap breaks once cells scale): assign
    // (double cosine through the TWO-LEVEL hierarchy of the current
    // means — O(trainCap·√nCells)/iteration) then per-dimension mean
    // (exact-decimal accumulation → one cast to double → double divide →
    // float), all engine-replicable. Corpus and probes assign through
    // the same hierarchy (shared kmeansDynCells memo; the IVFADC index
    // v12/v19 reads the identical coarse state). The oracle re-runs both
    // iterations — hierarchies included — in SQL and must land on the
    // identical centroids, cells, candidate sets, and ranking.
    "v8_ivf_kmeans_topk" -> Q(
      (s, dir) => {
        val emb = table(s, dir, "embeddings")
        val nc = Similarity.indexCellsFor(emb.count())
        val q = emb.filter(col("vec_id") < 5)
        Similarity.ivfTopKHier(q, emb, "vec_id", "embedding", topK = 5,
            nCells = nc, nProbe = Similarity.indexProbesFor(nc),
            superProbe = Similarity.indexSuperProbesFor(nc),
            prebuiltCentroids = Some(IvfShared.kmeansDyn(s, dir, nc)),
            prebuiltCells = Some(CellsShared.kmeansDynCells(s, dir, nc)))
          .orderBy("qid", "rn")
      },
      Some(s"""WITH $sqlNcIndex,
        |$sqlLloydDyn,
        |$sqlNpSp,
        |${sqlHier1("cent2", "hc")},
        |${sqlHier1Assign("cent2", "hc", "embeddings", "ca", 1)},
        |qsrc AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5),
        |${sqlHier1Assign("cent2", "hc", "qsrc", "pa",
            "(SELECT v FROM np)", "(SELECT v FROM sp)")},
        |scored AS (
        |  SELECT p.vec_id AS qid, a.vec_id, ${sqlCosD("p.vec", "a.vec")} AS simd
        |  FROM caasg a JOIN paasg p ON p.cell = a.cell
        |  WHERE p.vec_id <> a.vec_id),
        |ranked AS (
        |  SELECT qid, vec_id, row_number() OVER (
        |    PARTITION BY qid ORDER BY simd DESC, vec_id ASC) AS rn
        |  FROM scored)
        |SELECT k.qid, k.vec_id, ${sqlCos("qe.embedding", "ce.embedding")} AS sim,
        |  CAST(k.rn AS INT) AS rn
        |FROM ranked k
        |JOIN embeddings qe ON qe.vec_id = k.qid
        |JOIN embeddings ce ON ce.vec_id = k.vec_id
        |WHERE k.rn <= 5
        |ORDER BY qid, rn""".stripMargin),
      "IVF ANN with Lloyd centroids at index-scaled (4·sqrt n) nCells: " +
        "hierarchical training/corpus/probe assignment, derived probes, " +
        "trainCap = 39·nCells"),

    // --- SemDeDup-style semantic dedup ---------------------------------
    // The named web-scale curation shape (Abbas et al. 2023): quantizer
    // cells, within-cell near-dup pairs, drop the pair member CLOSER to
    // the cell centroid so the more diverse member survives. nCells
    // scales with the corpus (Similarity.cellsFor at cell size 128 —
    // per-cell pair volume is the cost, and a fixed count would revert
    // quadratic at 100× data) and the assignment is the two-level
    // hierarchical quantizer. The oracle rebuilds the identical
    // two-level cells, centroid similarities, drop set, and per-cell
    // survivor counts in SQL; pair generation is per-cell (the v7
    // blocking shape), never O(n²).
    "v10_semantic_dedup" -> Q(
      (s, dir) => {
        val emb = table(s, dir, "embeddings")
        val nc = Similarity.cellsFor(emb.count(), cellSize = 128,
          minCells = 16)
        Similarity.semanticDedup(emb, "vec_id",
            "embedding", threshold = 0.4, nCells = nc,
            prebuiltCells = Some(CellsShared.hierDyn(s, dir, nc)))
          .orderBy("cell")
      },
      Some(s"""WITH $sqlSemDropsCtes
        |SELECT s.cell, COUNT(*) AS n_members,
        |  CAST(SUM(CASE WHEN d.drop_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
        |  CAST(SUM(CASE WHEN d.drop_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
        |FROM sims s LEFT JOIN drops d ON s.vec_id = d.drop_id
        |GROUP BY s.cell ORDER BY cell""".stripMargin),
      "SemDeDup semantic dedup: quantizer cells, within-cell near-dups, " +
        "keep the most-peripheral member"),

    // --- int8 quantization fidelity ------------------------------------
    // Symmetric per-vector int8 storage (4x smaller at rest/on the wire);
    // the oracled output is the fidelity CONTRACT: cosine between each
    // vector and its int8 round-trip, min per label, all >= 0.995. The
    // round-trip arithmetic (max-abs scale, floor(x/s + 0.5) half-up
    // rounding, plain-double cosine in index order) is bit-identical in
    // DuckDB, so min_fidelity hash-matches exactly.
    "v9_quantized_fidelity" -> Q(
      (s, dir) => {
        val e = table(s, dir, "embeddings").filter(col("vec_id") < 500)
          .withColumn("scale", Vectors.i8Scale(col("embedding")))
          .withColumn("deq", Vectors.i8RoundTrip(col("embedding"), col("scale")))
          .withColumn("fid", Vectors.cosineFast(col("embedding"), col("deq")))
        e.groupBy("label")
          .agg(count(lit(1)).as("n"),
            round(min(col("fid")), 9).as("min_fidelity"),
            (min(col("fid")) >= 0.995d).as("all_ok"))
          .orderBy("label")
      },
      Some(s"""WITH q AS (
        |  SELECT vec_id, label, embedding,
        |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale
        |  FROM embeddings WHERE vec_id < 500),
        |d AS (
        |  SELECT label,
        |    list_transform(embedding, x -> floor(CAST(x AS DOUBLE) / scale + 0.5) * scale) AS deq,
        |    embedding
        |  FROM q)
        |SELECT label, COUNT(*) AS n,
        |  round(MIN(${sqlCosD("embedding", "deq")}), 9) AS min_fidelity,
        |  MIN(${sqlCosD("embedding", "deq")}) >= 0.995 AS all_ok
        |FROM d GROUP BY label ORDER BY label""".stripMargin),
      "int8 embedding quantization with an oracle-checked cosine-fidelity contract"),

    // --- product-quantization ADC top-k --------------------------------
    // The memory side of corpus-scale ANN (Jégou et al., "Product
    // Quantization for Nearest Neighbor Search"): 8 subspaces × 64
    // codewords turn each 256 B vector into 8 bytes of codes (32×), and
    // queries scan CODES via a per-query distance table, never vectors.
    // Everything is engine-replicable: squared-L2 terms are exact in
    // double, codebook means accumulate in DECIMAL (the v8 Lloyd
    // machinery per subspace), and distance-table entries are quantized
    // to the integer 2^-20 grid — the ADC sum is exact BIGINT
    // arithmetic, so ranks hash-match bit-for-bit.
    "v11_pq_adc_topk" -> Q(
      (s, dir) => {
        val emb = table(s, dir, "embeddings")
        val q = emb.filter(col("vec_id") < 5)
        Similarity.pqAdcTopK(q, PqShared.index(s, dir), "vec_id",
            "embedding", topK = 5, refine = 1)
          .orderBy("qid", "rn")
      },
      Some(s"""WITH $sqlPqCtes
        |$sqlPqAdcRanked
        |SELECT qid, vec_id, CAST(adc AS DOUBLE) / 1048576 AS adc_dist,
        |  CAST(rn AS INT) AS rn
        |FROM ranked WHERE rn <= 5
        |ORDER BY qid, rn""".stripMargin),
      s"PQ ADC top-k: 8x$PqCodes codebooks (one Lloyd refinement), 8-byte codes, " +
        "integer-quantized distance tables — 32x memory reduction for corpus-scale ANN"),

    // --- IVF-PQ top-k (residual encoding — IVFADC) ----------------------
    // The production ANN composition (FAISS IVF*,PQ* / Jégou et al.
    // §III): the IVF coarse quantizer prunes to nProbe/nCells of the
    // corpus, and PQ codes quantize RESIDUALS `vec − centroid(cell)` —
    // residuals concentrate around zero with smaller per-subspace
    // variance, so the same 8-byte code budget buys materially better
    // recall than raw-vector codes (v19 audits it). Each
    // query builds one distance table per probed cell from its residual
    // there (the asymmetric IVFADC form). The coarse stage is the
    // INDEX-SCALED Lloyd quantizer v8 declares — same nCells
    // (indexCellsFor, 4·√n), same trainCap (39·nCells), same
    // hierarchical train/corpus assignment, SHARED
    // kmeansDyn/kmeansDynCells memos — probes assign hierarchically
    // (hierProbes) at the DERIVED indexProbesFor/indexSuperProbesFor
    // operating point, the coverage-holding rule of the family. The oracle
    // rebuilds BOTH stages end to end: the v8 Lloyd CTEs, hierarchical
    // cell assignment, residual computation, residual codebook training
    // (one DECIMAL-mean Lloyd refinement), corpus encoding,
    // per-(query, cell) distance tables, and the exact-BIGINT ADC ranks.
    "v12_ivfpq_topk" -> Q(
      (s, dir) => {
        val emb = table(s, dir, "embeddings")
        val q = emb.filter(col("vec_id") < 5)
        val idx = IvfPqShared.index(s, dir)
        Similarity.ivfPqTopK(q, idx, "vec_id",
            "embedding", topK = 5,
            nProbe = Similarity.indexProbesFor(idx.nCells),
            hierProbes = true,
            superProbe = Similarity.indexSuperProbesFor(idx.nCells))
          .orderBy("qid", "rn")
      },
      Some(s"""WITH ${sqlIvfPqCtes(5)}
        |SELECT qid, vec_id, CAST(adc AS DOUBLE) / 1048576 AS adc_dist,
        |  CAST(rn AS INT) AS rn
        |FROM ranked WHERE rn <= 5
        |ORDER BY qid, rn""".stripMargin),
      "IVFADC top-k: coarse cells prune to nProbe/nCells, PQ codes " +
        "quantize residuals vec-centroid(cell) — better recall at the " +
        "same 8-byte code budget"),

    // --- PQ + exact refine ----------------------------------------------
    // The two-tier memory design ANN runs in production (FAISS refine /
    // DiskANN reorder): the in-memory PQ codes produce a topK·refine
    // shortlist, and only those full vectors are read for an exact
    // squared-L2 re-rank. On this synthetic (near-random — PQ's
    // worst case) corpus recall@10 measured 0.37
    // unrefined → 0.93 at refine=10 → 0.99 at refine=20. Exact-double
    // L2 folds in index order on both engines, so the refined ranking
    // hash-matches bit-for-bit.
    "v13_pq_refine_topk" -> Q(
      (s, dir) => {
        val emb = table(s, dir, "embeddings")
        val q = emb.filter(col("vec_id") < 5)
        Similarity.pqAdcTopK(q, PqShared.index(s, dir), "vec_id",
            "embedding", topK = 5, refine = 10)
          .orderBy("qid", "rn")
      },
      Some(s"""WITH $sqlPqCtes
        |$sqlPqAdcRanked,
        |short AS (SELECT qid, vec_id FROM ranked WHERE rn <= 50),
        |resc AS (
        |  SELECT sh.qid, sh.vec_id, ${sqlL2Full("qe.embedding", "ce.embedding")} AS l2
        |  FROM short sh
        |  JOIN embeddings qe ON qe.vec_id = sh.qid
        |  JOIN embeddings ce ON ce.vec_id = sh.vec_id),
        |rr AS (
        |  SELECT qid, vec_id, l2, row_number() OVER (
        |    PARTITION BY qid ORDER BY l2 ASC, vec_id ASC) AS rn
        |  FROM resc)
        |SELECT qid, vec_id, l2 AS l2_dist, CAST(rn AS INT) AS rn
        |FROM rr WHERE rn <= 5
        |ORDER BY qid, rn""".stripMargin),
      "PQ shortlist + exact re-rank (the FAISS-refine two-tier design): " +
        "recall@10 0.37 -> 0.93 at refine=10 on the worst-case corpus"),

    // --- IVFADC + exact refine (the FULL production composition) -------
    // What FAISS ships as `IndexRefineFlat(IVFx,PQy)` and DiskANN calls
    // reorder: v12's residual IVF-PQ produces the shortlist (coarse
    // cells prune the scan, 8-byte codes answer ADC distances), and
    // only the topK·refine shortlist members' FULL vectors are read for
    // an exact squared-L2 re-rank. This is the tier that repairs the
    // residual-quantization error v19 measures (recall@5 ~0.3
    // unrefined) while keeping the scan codes-only and the float
    // vectors at rest — O(refine·topK) vector reads per query. Same
    // shared IvfPqShared index, same derived hierarchical operating
    // point as v12; the oracle composes the complete IVFADC CTE trunk
    // with the v13 refine tail, and the exact-double L2 re-rank
    // hash-matches bit-for-bit.
    "v24_ivfpq_refine_topk" -> Q(
      (s, dir) => {
        val emb = table(s, dir, "embeddings")
        val q = emb.filter(col("vec_id") < 5)
        val idx = IvfPqShared.index(s, dir)
        Similarity.ivfPqTopK(q, idx, "vec_id", "embedding", topK = 5,
            nProbe = Similarity.indexProbesFor(idx.nCells),
            hierProbes = true,
            superProbe = Similarity.indexSuperProbesFor(idx.nCells),
            refine = 10)
          .orderBy("qid", "rn")
      },
      Some(s"""WITH ${sqlIvfPqCtes(5)},
        |short AS (SELECT qid, vec_id FROM ranked WHERE rn <= 50),
        |resc AS (
        |  SELECT sh.qid, sh.vec_id, ${sqlL2Full("qe.embedding", "ce.embedding")} AS l2
        |  FROM short sh
        |  JOIN embeddings qe ON qe.vec_id = sh.qid
        |  JOIN embeddings ce ON ce.vec_id = sh.vec_id),
        |rr AS (
        |  SELECT qid, vec_id, l2, row_number() OVER (
        |    PARTITION BY qid ORDER BY l2 ASC, vec_id ASC) AS rn
        |  FROM resc)
        |SELECT qid, vec_id, l2 AS l2_dist, CAST(rn AS INT) AS rn
        |FROM rr WHERE rn <= 5
        |ORDER BY qid, rn""".stripMargin),
      "IVFADC shortlist + exact re-rank (FAISS IndexRefineFlat over " +
        "IVF,PQ — the full production ANN composition): coarse prune, " +
        "codes-only ADC scan, O(refine*topK) full-vector reads per query"),

    // --- MMR diversified re-rank ----------------------------------------
    // The diversification pass between retrieval and prompt assembly
    // (Carbonell & Goldstein 1998): greedily pick 5 of each query's 20
    // retrieval candidates, each step maximizing
    // 0.7·rel - 0.3·max(sim to already-picked). The greedy recurrence is
    // sequential by nature, so both engines unroll the same 5 bounded
    // steps — Spark as k tiny joins over per-query-bounded state (the
    // corpus is touched once, by retrieval), DuckDB as k generated CTE
    // stages. Scores use the exact-decimal cosine and literal-identical
    // double constants, so every pick and score hash-matches.
    "v14_mmr_rerank" -> Q(
      (s, dir) => {
        val emb = table(s, dir, "embeddings")
        val q = emb.filter(col("vec_id") < 3)
        Similarity.mmrRerank(q, emb, "vec_id", "embedding",
            topM = 20, k = 5, lambda = 0.7)
          .orderBy("qid", "step")
      },
      Some {
        val lam = 0.7
        val mu = 1 - lam // rendered from the SAME Scala double Spark uses
        val steps = (2 to 5).map { t =>
          s"""pen$t AS (
          |  SELECT p.qid, p.i AS vec_id, MAX(p.psim) AS pen
          |  FROM pairs p JOIN sel_all_${t - 1} s ON s.qid = p.qid AND s.vec_id = p.j
          |  GROUP BY p.qid, p.i),
          |mmr$t AS (
          |  SELECT c.qid, c.vec_id, $lam * c.sim - $mu * pen.pen AS mmr
          |  FROM cands c JOIN pen$t pen USING (qid, vec_id)
          |  WHERE NOT EXISTS (SELECT 1 FROM sel_all_${t - 1} s
          |    WHERE s.qid = c.qid AND s.vec_id = c.vec_id)),
          |sel$t AS (
          |  SELECT qid, vec_id, mmr FROM (
          |    SELECT qid, vec_id, mmr, row_number() OVER (
          |      PARTITION BY qid ORDER BY mmr DESC, vec_id ASC) AS rn
          |    FROM mmr$t) WHERE rn = 1),
          |sel_all_$t AS (SELECT qid, vec_id FROM sel_all_${t - 1}
          |  UNION ALL SELECT qid, vec_id FROM sel$t),""".stripMargin
        }.mkString("\n")
        val branches = (1 to 5).map(t =>
          s"SELECT qid, CAST($t AS INT) AS step, vec_id, mmr FROM sel$t")
          .mkString("\nUNION ALL\n")
        s"""WITH q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings WHERE vec_id < 3),
        |scored AS (
        |  SELECT q.qid, e.vec_id, ${sqlCos("q.qvec", "e.embedding")} AS sim
        |  FROM embeddings e CROSS JOIN q WHERE q.qid <> e.vec_id),
        |cands AS (
        |  SELECT * FROM (
        |    SELECT qid, vec_id, sim, row_number() OVER (
        |      PARTITION BY qid ORDER BY sim DESC, vec_id ASC) AS rn
        |    FROM scored) WHERE rn <= 20),
        |cand_vecs AS (
        |  SELECT c.qid, c.vec_id, e.embedding AS cv
        |  FROM cands c JOIN embeddings e ON e.vec_id = c.vec_id),
        |pairs AS (
        |  SELECT a.qid, a.vec_id AS i, b.vec_id AS j, ${sqlCos("a.cv", "b.cv")} AS psim
        |  FROM cand_vecs a JOIN cand_vecs b
        |    ON a.qid = b.qid AND a.vec_id <> b.vec_id),
        |sel1 AS (SELECT qid, vec_id, $lam * sim AS mmr FROM cands WHERE rn = 1),
        |sel_all_1 AS (SELECT qid, vec_id FROM sel1),
        |$steps
        |picked AS (
        |$branches)
        |SELECT qid, step, vec_id, mmr FROM picked
        |ORDER BY qid, step""".stripMargin
      },
      "MMR diversified top-5 of 20 retrieval candidates (lambda=0.7): " +
        "k unrolled greedy steps, per-query-bounded state, exact scores"),

    // --- k-NN graph over the whole corpus ------------------------------
    // The all-rows batch form of ANN (the substrate for graph
    // clustering / label propagation / kNN-classifier curation): every
    // row's 5 nearest neighbors, candidates blocked by the v7-style
    // 4-table nProbe-2 IVF assignment. nCells SCALES WITH THE CORPUS
    // (Similarity.cellsFor: max(32, ceil(n/64)) — cell size pinned at
    // ~n·nProbe/nCells ≈ 128 members), because a kNN graph ranks EVERY
    // candidate pair: with fixed cells the per-cell product grows
    // quadratically (measured: 3.6 s at sf0.1 → 451 s at sf1 with
    // nCells pinned at 32; linear again once cells scale). The
    // assignment itself is the TWO-LEVEL hierarchical quantizer
    // (O(n·√nCells) — the flat corpus×centroid pass would be
    // O(n²/cellSize) once cells scale), mirrored CTE-for-CTE by the
    // oracle. v7 derives the same nCells, so both share one
    // CellsShared.multiDyn assignment memo per session.
    "v15_knn_graph" -> Q(
      (s, dir) => {
        val emb = table(s, dir, "embeddings")
        val nc = Similarity.cellsFor(emb.count())
        Similarity.knnGraph(emb, "vec_id",
            "embedding", topK = 5, nCells = nc, nProbe = 2, tables = 4,
            prebuiltAssigned = Some(CellsShared.multiDyn(s, dir, nc)))
          .orderBy("qid", "rn")
      },
      Some(sqlKnnGraphQuery),
      "kNN graph for every corpus row: IVF-blocked candidates, exact " +
        "re-score, per-row bounded ranking window"),

    // --- attribute-filtered ANN ---------------------------------------
    // Production retrieval is almost never unfiltered: the predicate
    // (here label = 2) is applied BEFORE scoring, so the scan prunes to
    // the qualifying slice (pushed to parquet) and the score/rank cost
    // is proportional to the filtered corpus, not the full one. Filter-
    // then-search is exact over the slice; at selectivities where the
    // slice still needs an index, the same predicate composes with the
    // IVF path (cells carry the filter column).
    "v16_filtered_ann_topk" -> Q(
      (s, dir) => {
        val emb = table(s, dir, "embeddings")
        val q = emb.filter(col("vec_id") < 5)
        Similarity.bruteForceTopK(q,
            emb.filter(col("label") === 2), "vec_id", "embedding", topK = 5)
          .orderBy("qid", "rn")
      },
      Some(s"""WITH q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings WHERE vec_id < 5),
        |scored AS (
        |  SELECT q.qid, e.vec_id, ${sqlCos("q.qvec", "e.embedding")} AS sim
        |  FROM embeddings e CROSS JOIN q
        |  WHERE e.label = 2 AND q.qid <> e.vec_id),
        |ranked AS (
        |  SELECT qid, vec_id, sim, row_number() OVER (
        |    PARTITION BY qid ORDER BY sim DESC, vec_id ASC) AS rn
        |  FROM scored)
        |SELECT qid, vec_id, sim, CAST(rn AS INT) AS rn FROM ranked WHERE rn <= 5
        |ORDER BY qid, rn""".stripMargin),
      "Attribute-filtered ANN: predicate pushed to the scan before " +
        "scoring — cost proportional to the qualifying slice"),

    // --- ANN recall audit (the x35 pattern for vectors) ----------------
    // The measurement that decides whether an index's recall is good
    // enough to skip exact search, AS a first-class declared query:
    // IVF top-5 in v6's EXACT configuration (index-scaled 4·√n nCells,
    // shared hierDyn cells memo, hierarchical probes) scored against
    // the brute-force exact top-5 over 20 query rows. The round-9
    // operating point is DERIVED — nProbe = indexProbesFor(nc),
    // superProbe = indexSuperProbesFor(nc) — so it tracks the corpus
    // instead of decaying as a pinned constant would (the round-8
    // pinned nProbe=6/sp=4 point measured 0.83/0.89 at nc=16; the
    // derived point measures 0.88 at sf0.01 (n=500, nc=90, np=29,
    // sp=5) and 0.93 at sf0.1 (n=2000, nc=179, np=56, sp=7), swept in
    // tools/sweep_index_recall.py, asserted ≥ 0.8 at both scale
    // factors by IndexRecallSpec, and re-measured by every verify run).
    // Per-query n_hit/recall — both pipelines are existing mirrors, so
    // the oracle composes them and replays the same semi-join count.
    "v17_ann_recall_audit" -> Q(
      (s, dir) => {
        val emb = table(s, dir, "embeddings")
        val nc = Similarity.indexCellsFor(emb.count())
        val q = emb.filter(col("vec_id") < 20)
        val exact = Similarity.bruteForceTopK(q, emb, "vec_id",
            "embedding", topK = 5).select("qid", "vec_id")
        val approx = Similarity.ivfTopKHier(q, emb, "vec_id", "embedding",
            topK = 5, nCells = nc, nProbe = Similarity.indexProbesFor(nc),
            superProbe = Similarity.indexSuperProbesFor(nc),
            prebuiltCentroids = Some(IvfShared.seedDyn(s, dir, nc)),
            prebuiltCells = Some(CellsShared.hierDyn(s, dir, nc)))
          .select("qid", "vec_id")
        val hits = exact.join(approx, Seq("qid", "vec_id"), "left_semi")
          .groupBy("qid").agg(count(lit(1)).as("n_hit"))
        q.select(col("vec_id").as("qid"))
          .join(hits, Seq("qid"), "left")
          .select(col("qid"), lit(5L).as("n_exact"),
            coalesce(col("n_hit"), lit(0L)).as("n_hit"),
            (coalesce(col("n_hit"), lit(0L)).cast("double") / 5.0)
              .as("recall"))
          .orderBy("qid")
      },
      Some(s"""WITH q AS (
        |  SELECT vec_id AS qid, embedding AS qvec FROM embeddings
        |  WHERE vec_id < 20),
        |bscored AS (
        |  SELECT q.qid, e.vec_id, ${sqlCos("q.qvec", "e.embedding")} AS sim
        |  FROM embeddings e CROSS JOIN q WHERE q.qid <> e.vec_id),
        |exact AS (
        |  SELECT qid, vec_id FROM (
        |    SELECT qid, vec_id, row_number() OVER (
        |      PARTITION BY qid ORDER BY sim DESC, vec_id ASC) AS rn
        |    FROM bscored) WHERE rn <= 5),
        |$sqlNcIndex,
        |${sqlHierCentroids(tables = 1)},
        |${sqlHierAssign(nProbe = 1)},
        |$sqlNpSp,
        |qsrc AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 20),
        |${sqlHierAssign(vecSrc = "qsrc", prefix = "q",
            nProbe = "(SELECT v FROM np)", superProbe = "(SELECT v FROM sp)")},
        |iscored AS (
        |  SELECT p.vec_id AS qid, a.vec_id, ${sqlCosD("p.vec", "a.vec")} AS simd
        |  FROM assigned a JOIN qassigned p ON p.tbl = a.tbl AND p.cell = a.cell
        |  WHERE p.vec_id <> a.vec_id),
        |approx AS (
        |  SELECT qid, vec_id FROM (
        |    SELECT qid, vec_id, row_number() OVER (
        |      PARTITION BY qid ORDER BY simd DESC, vec_id ASC) AS rn
        |    FROM iscored) WHERE rn <= 5),
        |hits AS (
        |  SELECT e.qid, COUNT(*) AS n_hit
        |  FROM exact e JOIN approx a ON a.qid = e.qid AND a.vec_id = e.vec_id
        |  GROUP BY e.qid)
        |SELECT q.qid, CAST(5 AS BIGINT) AS n_exact,
        |  CAST(COALESCE(h.n_hit, 0) AS BIGINT) AS n_hit,
        |  CAST(COALESCE(h.n_hit, 0) AS DOUBLE) / 5.0 AS recall
        |FROM q LEFT JOIN hits h ON h.qid = q.qid
        |ORDER BY q.qid""".stripMargin),
      "ANN recall audit as a declared query: IVF top-5 vs the exact " +
        "top-5 per query — the measurement that licenses skipping " +
        "exact search"),

    // --- PQ-refine recall audit (v17's pattern down the index ladder) ---
    // The recall claim behind v13's two-tier design (ADC shortlist ->
    // exact re-rank) as an oracled artifact: PQ top-5 at refine=10
    // (exactly v13's configuration, same shared PqShared index) scored
    // against the brute-force exact cosine top-5 over 20 query rows.
    // Both pipelines are existing mirrors — the oracle composes the PQ
    // trunk (qid < 20) with the v13 refine tail and the v2 brute-force
    // CTEs, and replays the same semi-join hit count. The top-k sets
    // compare by ID, so the metric difference (ADC/L2 vs cosine) is
    // part of what is audited:
    // on unit-normalized-ish synthetic embeddings L2 and cosine rank
    // near-identically, and recall quantifies the rest.
    "v18_pq_recall_audit" -> Q(
      (s, dir) => {
        val emb = table(s, dir, "embeddings")
        val q = emb.filter(col("vec_id") < 20)
        val exact = Similarity.bruteForceTopK(q, emb, "vec_id",
            "embedding", topK = 5).select("qid", "vec_id")
        val approx = Similarity.pqAdcTopK(q, PqShared.index(s, dir),
            "vec_id", "embedding", topK = 5, refine = 10)
          .select("qid", "vec_id")
        val hits = exact.join(approx, Seq("qid", "vec_id"), "left_semi")
          .groupBy("qid").agg(count(lit(1)).as("n_hit"))
        q.select(col("vec_id").as("qid"))
          .join(hits, Seq("qid"), "left")
          .select(col("qid"), lit(5L).as("n_exact"),
            coalesce(col("n_hit"), lit(0L)).as("n_hit"),
            (coalesce(col("n_hit"), lit(0L)).cast("double") / 5.0)
              .as("recall"))
          .orderBy("qid")
      },
      Some(s"""WITH bq AS (
        |  SELECT vec_id AS qid, embedding AS qvec FROM embeddings
        |  WHERE vec_id < 20),
        |bscored AS (
        |  SELECT bq.qid, e.vec_id, ${sqlCos("bq.qvec", "e.embedding")} AS sim
        |  FROM embeddings e CROSS JOIN bq WHERE bq.qid <> e.vec_id),
        |exact AS (
        |  SELECT qid, vec_id FROM (
        |    SELECT qid, vec_id, row_number() OVER (
        |      PARTITION BY qid ORDER BY sim DESC, vec_id ASC) AS rn
        |    FROM bscored) WHERE rn <= 5),
        |${sqlPqCtes(20)}
        |$sqlPqAdcRanked,
        |short AS (SELECT qid, vec_id FROM ranked WHERE rn <= 50),
        |resc AS (
        |  SELECT sh.qid, sh.vec_id, ${sqlL2Full("qe.embedding", "ce.embedding")} AS l2
        |  FROM short sh
        |  JOIN embeddings qe ON qe.vec_id = sh.qid
        |  JOIN embeddings ce ON ce.vec_id = sh.vec_id),
        |approx AS (
        |  SELECT qid, vec_id FROM (
        |    SELECT qid, vec_id, row_number() OVER (
        |      PARTITION BY qid ORDER BY l2 ASC, vec_id ASC) AS rn
        |    FROM resc) WHERE rn <= 5),
        |hits AS (
        |  SELECT e.qid, COUNT(*) AS n_hit
        |  FROM exact e JOIN approx a ON a.qid = e.qid AND a.vec_id = e.vec_id
        |  GROUP BY e.qid)
        |SELECT bq.qid, CAST(5 AS BIGINT) AS n_exact,
        |  CAST(COALESCE(h.n_hit, 0) AS BIGINT) AS n_hit,
        |  CAST(COALESCE(h.n_hit, 0) AS DOUBLE) / 5.0 AS recall
        |FROM bq LEFT JOIN hits h ON h.qid = bq.qid
        |ORDER BY bq.qid""".stripMargin),
      "PQ-refine recall audit as a declared query: v13's ADC+exact-" +
        "re-rank top-5 vs the exact top-5 — the recall ladder " +
        "(0.37 unrefined -> ~0.93 at refine=10) as an oracled artifact"),

    // --- IVFADC recall audit (completes the ladder: v17 IVF, v18 PQ) ---
    // The remaining rung: residual-encoded IVF-PQ (v12's exact
    // configuration — the index-scaled 4·√n coarse quantizer,
    // hierarchical probes at the derived indexProbesFor operating
    // point) against the exact top-5 over the same 20 query rows.
    // Honestly reported no-refine floor: measured mean recall@5 0.39
    // at sf0.01 / 0.29 at sf0.1 (up from 0.36/0.22 at round-8's pinned
    // nProbe=3 — coverage helps, but PQ quantization error still
    // dominates, v11's unrefined floor is 0.37); the production fix is
    // the refine tier, whose ladder v18 records (~0.87-0.93 at
    // refine=10). With this, every
    // declared index family carries its own oracled recall artifact —
    // the number that decides whether the index is fit to replace
    // exact search at its operating point.
    "v19_ivfpq_recall_audit" -> Q(
      (s, dir) => {
        val emb = table(s, dir, "embeddings")
        val q = emb.filter(col("vec_id") < 20)
        val exact = Similarity.bruteForceTopK(q, emb, "vec_id",
            "embedding", topK = 5).select("qid", "vec_id")
        val idx = IvfPqShared.index(s, dir)
        val approx = Similarity.ivfPqTopK(q, idx,
            "vec_id", "embedding", topK = 5,
            nProbe = Similarity.indexProbesFor(idx.nCells),
            hierProbes = true,
            superProbe = Similarity.indexSuperProbesFor(idx.nCells))
          .select("qid", "vec_id")
        val hits = exact.join(approx, Seq("qid", "vec_id"), "left_semi")
          .groupBy("qid").agg(count(lit(1)).as("n_hit"))
        q.select(col("vec_id").as("qid"))
          .join(hits, Seq("qid"), "left")
          .select(col("qid"), lit(5L).as("n_exact"),
            coalesce(col("n_hit"), lit(0L)).as("n_hit"),
            (coalesce(col("n_hit"), lit(0L)).cast("double") / 5.0)
              .as("recall"))
          .orderBy("qid")
      },
      Some(s"""WITH bq AS (
        |  SELECT vec_id AS qid, embedding AS qvec FROM embeddings
        |  WHERE vec_id < 20),
        |bscored AS (
        |  SELECT bq.qid, e.vec_id, ${sqlCos("bq.qvec", "e.embedding")} AS sim
        |  FROM embeddings e CROSS JOIN bq WHERE bq.qid <> e.vec_id),
        |exact AS (
        |  SELECT qid, vec_id FROM (
        |    SELECT qid, vec_id, row_number() OVER (
        |      PARTITION BY qid ORDER BY sim DESC, vec_id ASC) AS rn
        |    FROM bscored) WHERE rn <= 5),
        |${sqlIvfPqCtes(20)},
        |approx AS (SELECT qid, vec_id FROM ranked WHERE rn <= 5),
        |hits AS (
        |  SELECT e.qid, COUNT(*) AS n_hit
        |  FROM exact e JOIN approx a ON a.qid = e.qid AND a.vec_id = e.vec_id
        |  GROUP BY e.qid)
        |SELECT bq.qid, CAST(5 AS BIGINT) AS n_exact,
        |  CAST(COALESCE(h.n_hit, 0) AS BIGINT) AS n_hit,
        |  CAST(COALESCE(h.n_hit, 0) AS DOUBLE) / 5.0 AS recall
        |FROM bq LEFT JOIN hits h ON h.qid = bq.qid
        |ORDER BY bq.qid""".stripMargin),
      "IVFADC recall audit as a declared query: v12's residual IVF-PQ " +
        "top-5 vs the exact top-5 — completes the oracled recall " +
        "ladder (v17 IVF, v18 PQ-refine, v19 IVFADC)"),

    // --- IVFADC+refine recall audit (the ladder's top rung) ------------
    // v19 honestly records that unrefined IVFADC recall@5 is ~0.3-0.4
    // on this corpus (PQ quantization error dominates); v24 adds the
    // production fix — the exact re-rank tier. This audit measures that
    // the REPAIR actually lands: v24's exact configuration (same shared
    // index, same derived operating point, refine=10) against the
    // brute-force exact top-5 over the same 20 query rows. Recall is
    // now bounded by coarse-probe coverage alone (the shortlist's exact
    // re-rank removes quantization loss within probed cells), so the
    // measured number is the coverage the derived indexProbesFor rule
    // buys — asserted >= 0.8 at two scale factors by IndexRecallSpec,
    // the same licensing bar v17 set for the plain IVF index.
    "v25_ivfpqr_recall_audit" -> Q(
      (s, dir) => {
        val emb = table(s, dir, "embeddings")
        val q = emb.filter(col("vec_id") < 20)
        val exact = Similarity.bruteForceTopK(q, emb, "vec_id",
            "embedding", topK = 5).select("qid", "vec_id")
        val idx = IvfPqShared.index(s, dir)
        val approx = Similarity.ivfPqTopK(q, idx,
            "vec_id", "embedding", topK = 5,
            nProbe = Similarity.indexProbesFor(idx.nCells),
            hierProbes = true,
            superProbe = Similarity.indexSuperProbesFor(idx.nCells),
            refine = 10)
          .select("qid", "vec_id")
        val hits = exact.join(approx, Seq("qid", "vec_id"), "left_semi")
          .groupBy("qid").agg(count(lit(1)).as("n_hit"))
        q.select(col("vec_id").as("qid"))
          .join(hits, Seq("qid"), "left")
          .select(col("qid"), lit(5L).as("n_exact"),
            coalesce(col("n_hit"), lit(0L)).as("n_hit"),
            (coalesce(col("n_hit"), lit(0L)).cast("double") / 5.0)
              .as("recall"))
          .orderBy("qid")
      },
      Some(s"""WITH bq AS (
        |  SELECT vec_id AS qid, embedding AS qvec FROM embeddings
        |  WHERE vec_id < 20),
        |bscored AS (
        |  SELECT bq.qid, e.vec_id, ${sqlCos("bq.qvec", "e.embedding")} AS sim
        |  FROM embeddings e CROSS JOIN bq WHERE bq.qid <> e.vec_id),
        |exact AS (
        |  SELECT qid, vec_id FROM (
        |    SELECT qid, vec_id, row_number() OVER (
        |      PARTITION BY qid ORDER BY sim DESC, vec_id ASC) AS rn
        |    FROM bscored) WHERE rn <= 5),
        |${sqlIvfPqCtes(20)},
        |short AS (SELECT qid, vec_id FROM ranked WHERE rn <= 50),
        |resc AS (
        |  SELECT sh.qid, sh.vec_id, ${sqlL2Full("qe.embedding", "ce.embedding")} AS l2
        |  FROM short sh
        |  JOIN embeddings qe ON qe.vec_id = sh.qid
        |  JOIN embeddings ce ON ce.vec_id = sh.vec_id),
        |approx AS (
        |  SELECT qid, vec_id FROM (
        |    SELECT qid, vec_id, row_number() OVER (
        |      PARTITION BY qid ORDER BY l2 ASC, vec_id ASC) AS rn
        |    FROM resc) WHERE rn <= 5),
        |hits AS (
        |  SELECT e.qid, COUNT(*) AS n_hit
        |  FROM exact e JOIN approx a ON a.qid = e.qid AND a.vec_id = e.vec_id
        |  GROUP BY e.qid)
        |SELECT bq.qid, CAST(5 AS BIGINT) AS n_exact,
        |  CAST(COALESCE(h.n_hit, 0) AS BIGINT) AS n_hit,
        |  CAST(COALESCE(h.n_hit, 0) AS DOUBLE) / 5.0 AS recall
        |FROM bq LEFT JOIN hits h ON h.qid = bq.qid
        |ORDER BY bq.qid""".stripMargin),
      "IVFADC+refine recall audit: v24's exact configuration vs the " +
        "exact top-5 — the ladder's top rung, showing the refine tier " +
        "repairs v19's ~0.3 unrefined floor to coarse-coverage-bounded " +
        "recall"),

    // --- Johnson-Lindenstrauss random projection + fidelity audit ------
    // The dimensionality-reduction stage of an embedding pipeline:
    // project 64 → 16 dims with deterministic Achlioptas ±1 signs (the
    // same engine-replicable 31-bit LCG the hyperplane-LSH machinery
    // uses, thresholded instead of scaled), and AUDIT the angle
    // distortion the JL lemma prices at ~1/√16: per anchor vector, the
    // mean |cos₆₄(a,b) − cos₁₆(pa,pb)| over all 190 pairs of the first
    // 20 vectors. Projection is a pure per-row expression — no shuffle,
    // no state, 4× cheaper per comparison — which is why it's the
    // prefilter space ahead of exact re-scoring. Parity: projected
    // vectors are bit-identical (exact ±double terms, order-identical
    // in-row folds), plain-double cosines match the cosineFast/sqlCosD
    // precedent, and per-pair errors are floored onto the integer 2⁻²⁰
    // grid before the cross-row SUM (the HUGEINT-safe exact-BIGINT
    // pattern), so even the error statistics hash-match.
    "v26_jl_projection" -> Q(
      (s, dir) => {
        val emb = table(s, dir, "embeddings")
        val e = emb.filter(col("vec_id") < 20)
          .select(col("vec_id"), col("embedding"),
            graft.functions.Vectors.jlProject(
              col("embedding"), outDim = 16, inDim = 64, seed = 7).as("p"))
        val a = e.select(col("vec_id").as("a_id"),
          col("embedding").as("av"), col("p").as("ap"))
        val b = e.select(col("vec_id").as("b_id"),
          col("embedding").as("bv"), col("p").as("bp"))
        val pairs = a.join(b, col("a_id") < col("b_id"))
          .select(col("a_id"),
            floor(abs(
              graft.functions.Vectors.cosineFast(col("av"), col("bv")) -
                graft.functions.Vectors.cosineFast(col("ap"), col("bp"))) *
              lit(1048576d)).cast("long").as("errq"))
        pairs.groupBy("a_id")
          .agg(count(lit(1)).as("n_pairs"), sum(col("errq")).as("err_sum"))
          .select(col("a_id"), col("n_pairs"), col("err_sum"),
            (col("err_sum").cast("double") /
              (col("n_pairs") * lit(1048576L)).cast("double"))
              .as("mean_abs_err"))
          .orderBy("a_id")
      },
      Some {
        val sign = "CASE WHEN (((((7 * 1000003 + j * 4096 + (d - 1)) " +
          "% 2147483648) * 2654435761 + 2654435769) % 2147483648) " +
          "* 2654435761 + 40503) % 2147483648 >= 1073741824 " +
          "THEN CAST(1.0 AS DOUBLE) ELSE CAST(-1.0 AS DOUBLE) END"
        def dp16(x: String, y: String) =
          s"list_sum(list_transform(range(1, 17), i -> $x[i] * $y[i]))"
        def cos16(x: String, y: String) =
          s"(${dp16(x, y)} / (sqrt(${dp16(x, x)}) * sqrt(${dp16(y, y)})))"
        s"""WITH e AS MATERIALIZED (
        |  SELECT vec_id, embedding,
        |    list_transform(range(0, 16), j ->
        |      list_sum(list_transform(range(1, 65), d ->
        |        CAST(embedding[d] AS DOUBLE) * ($sign)))) AS p
        |  FROM embeddings WHERE vec_id < 20),
        |pairs AS (
        |  SELECT a.vec_id AS a_id,
        |    CAST(FLOOR(ABS(${sqlCosD("a.embedding", "b.embedding")}
        |      - ${cos16("a.p", "b.p")}) * 1048576) AS BIGINT) AS errq
        |  FROM e a JOIN e b ON a.vec_id < b.vec_id)
        |SELECT a_id, COUNT(*) AS n_pairs,
        |  CAST(SUM(errq) AS BIGINT) AS err_sum,
        |  CAST(SUM(errq) AS DOUBLE) / (COUNT(*) * 1048576) AS mean_abs_err
        |FROM pairs GROUP BY a_id ORDER BY a_id""".stripMargin
      },
      "JL random projection 64->16 (deterministic Achlioptas signs) " +
        "with an oracled angle-distortion audit — the cheap prefilter " +
        "space ahead of exact re-scoring"),

    // --- mutual-kNN graph clustering (the curation layer over v15) -----
    // What the kNN graph is FOR: semantic grouping. Edges with sim >=
    // 0.4 kept only when mutual (i in j's top-5 AND j in i's — kills
    // hub-vector chaining), closed into connected components with a
    // min-id canonical — the same components machinery the text side
    // ships (x18), here over the vector graph. The oracle embeds the
    // complete v15 mirror as its `graph` CTE, replays the mutual
    // semi-join, and closes components with the recursive CTE; cluster
    // membership and sizes hash-match.
    "v20_knn_graph_clusters" -> Q(
      (s, dir) =>
        GraphClustersShared.clusters(s, dir)
          .groupBy("canonical_id")
          .agg(count(lit(1)).as("n_members"))
          .orderBy("canonical_id"),
      Some(s"""WITH RECURSIVE graph AS (
        |$sqlKnnGraphQuery
        |),
        |m AS (
        |  SELECT g1.qid AS a, g1.nid AS b
        |  FROM graph g1
        |  JOIN graph g2 ON g2.qid = g1.nid AND g2.nid = g1.qid
        |  WHERE g1.sim >= 0.4 AND g2.sim >= 0.4 AND g1.qid < g1.nid),
        |edges AS (
        |  SELECT a, b FROM m
        |  UNION ALL SELECT b, a FROM m),
        |reach AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
        |comp AS (
        |  SELECT a AS member_id, LEAST(a, MIN(b)) AS canonical_id
        |  FROM reach GROUP BY a)
        |SELECT canonical_id, CAST(COUNT(*) AS BIGINT) AS n_members
        |FROM comp GROUP BY canonical_id
        |ORDER BY canonical_id""".stripMargin),
      "Mutual-kNN clustering over the v15 graph: sim>=0.4 mutual edges " +
        "-> connected components -> per-cluster sizes (the curation " +
        "grouping layer)"),

    // --- cross-corpus incremental near-dups (the x30 shape for vectors) -
    // The steady-state production question: which NEW embeddings
    // near-duplicate the at-rest indexed corpus? Candidates join the
    // index's cell assignment with the batch's assignment under the
    // INDEX's own two-level quantizer — index-side self-pairs cost
    // nothing (already deduped once), and a steady-state batch pays
    // only O(|batch|·√nCells) assignment plus the banded equi-join.
    // The oracle rebuilds the index hierarchy once and runs the
    // assignment CTEs twice (index + batch sources), mirroring the
    // same cross-only pair generation, double-cosine cut, and
    // exact-decimal re-score.
    "v21_cosine_neardups_cross" -> Q(
      (s, dir) => {
        val emb = table(s, dir, "embeddings")
        val idx = emb.filter(col("vec_id") < 400)
        val bat = emb.filter(col("vec_id") >= 400)
        val nc = Similarity.cellsFor(idx.count())
        Similarity.cosineNearDupsIvfCross(idx, bat, "vec_id", "embedding",
            threshold = 0.4, nCells = nc, nProbe = 2, tables = 4,
            prebuiltIndexAssigned = Some(CrossShared.idxAssigned(s, dir, nc)))
          .orderBy("index_id", "batch_id")
      },
      Some(s"""WITH idx AS (
        |  SELECT vec_id, embedding FROM embeddings WHERE vec_id < 400),
        |bat AS (
        |  SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 400),
        |nc AS (
        |  SELECT GREATEST(32, CAST(CEIL(COUNT(*) / 64.0) AS BIGINT)) AS v
        |  FROM idx),
        |${sqlHierCentroids(tables = 4, seedSrc = "idx")},
        |${sqlHierAssign(vecSrc = "idx", prefix = "i", nProbe = 2)},
        |${sqlHierAssign(vecSrc = "bat", prefix = "b", nProbe = 2)},
        |cands AS (
        |  SELECT l.vec_id AS index_id, r.vec_id AS batch_id,
        |    MIN(${sqlCosD("l.vec", "r.vec")}) AS simd
        |  FROM iassigned l JOIN bassigned r
        |    ON l.tbl = r.tbl AND l.cell = r.cell
        |  GROUP BY l.vec_id, r.vec_id),
        |pairs AS (
        |  SELECT c.index_id, c.batch_id, i.embedding AS v1, b.embedding AS v2
        |  FROM cands c
        |  JOIN idx i ON i.vec_id = c.index_id
        |  JOIN bat b ON b.vec_id = c.batch_id
        |  WHERE c.simd >= 0.4)
        |SELECT index_id, batch_id, ${sqlCos("v1", "v2")} AS sim
        |FROM pairs
        |ORDER BY index_id, batch_id""".stripMargin),
      "Cross-corpus incremental embedding near-dups: batch assigned " +
        "under the index's two-level quantizer, index x batch cell " +
        "join only — no within-side pairs")

    ,
    // --- attribute-filtered IVF ANN (v16 at index scale) ---------------
    // v16 filters then scans exactly; at selectivities where the
    // qualifying slice still needs an index, the predicate composes
    // with the inverted list instead: the at-rest cell assignment
    // CARRIES the filter column, the predicate prunes the assigned
    // list BEFORE the probe join, and scoring touches only qualifying
    // members of probed cells. Same shared INDEX-SCALED (4·√n) hierDyn
    // cells memo and derived probe counts as v6 — the filter is a view
    // over the index, not a second index. (v10 keeps its own
    // linear-cells hierDyn entry: SemDeDup generates within-cell pairs,
    // so IT needs bounded cell size, not a bounded quantizer.)
    "v22_filtered_ivf_topk" -> Q(
      (s, dir) => {
        val emb = table(s, dir, "embeddings")
        val nc = Similarity.indexCellsFor(emb.count())
        val q = emb.filter(col("vec_id") < 5)
        val labeled = CellsShared.hierDyn(s, dir, nc)
          .join(emb.select(col("vec_id").as("id"), col("label")), "id")
          .filter(col("label") === 2)
          .select("id", "vec", "cell")
        Similarity.ivfTopKHier(q, emb, "vec_id", "embedding", topK = 5,
            nCells = nc, nProbe = Similarity.indexProbesFor(nc),
            superProbe = Similarity.indexSuperProbesFor(nc),
            prebuiltCentroids = Some(IvfShared.seedDyn(s, dir, nc)),
            prebuiltCells = Some(labeled))
          .orderBy("qid", "rn")
      },
      Some(s"""WITH $sqlNcIndex,
        |${sqlHierCentroids(tables = 1)},
        |${sqlHierAssign(nProbe = 1)},
        |$sqlNpSp,
        |lassigned AS (
        |  SELECT a.vec_id, a.vec, a.tbl, a.cell
        |  FROM assigned a JOIN embeddings e ON e.vec_id = a.vec_id
        |  WHERE e.label = 2),
        |qsrc AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5),
        |${sqlHierAssign(vecSrc = "qsrc", prefix = "q",
            nProbe = "(SELECT v FROM np)", superProbe = "(SELECT v FROM sp)")},
        |scored AS (
        |  SELECT q.vec_id AS qid, a.vec_id, ${sqlCosD("q.vec", "a.vec")} AS simd
        |  FROM lassigned a JOIN qassigned q ON q.tbl = a.tbl AND q.cell = a.cell
        |  WHERE q.vec_id <> a.vec_id),
        |rankedk AS (
        |  SELECT qid, vec_id, row_number() OVER (
        |    PARTITION BY qid ORDER BY simd DESC, vec_id ASC) AS rn
        |  FROM scored)
        |SELECT k.qid, k.vec_id, ${sqlCos("qe.embedding", "ce.embedding")} AS sim,
        |  CAST(k.rn AS INT) AS rn
        |FROM rankedk k
        |JOIN embeddings qe ON qe.vec_id = k.qid
        |JOIN embeddings ce ON ce.vec_id = k.vec_id
        |WHERE k.rn <= 5
        |ORDER BY qid, rn""".stripMargin),
      "Attribute-filtered IVF ANN at index-scaled nCells: the predicate " +
        "prunes the at-rest cell assignment before the probe join — " +
        "filter composed with the index, not a rescan"),

    // --- kNN label audit (classifier-style curation over the graph) ----
    // The other thing a kNN graph is for: label QUALITY. Every row's
    // predicted label is the similarity-weighted majority of its 5
    // graph neighbors; rows whose neighbors outvote their own label are
    // the mislabeled/boundary candidates a curation pass reviews. Vote
    // weights are the exact sims quantized to the integer 2⁻²⁰ grid
    // (the ADC pattern), so the per-(row, label) vote sums are exact
    // BIGINT arithmetic — deterministic under any partitioning and
    // bit-replicable in the oracle, where a cross-row double sum would
    // not be. Ties → lowest label. Reads the same v15 graph dataflow
    // (shared multiDyn assignment memo).
    "v23_knn_label_audit" -> Q(
      (s, dir) => {
        val emb = table(s, dir, "embeddings")
        val nc = Similarity.cellsFor(emb.count())
        val g = Similarity.knnGraph(emb, "vec_id", "embedding", topK = 5,
          nCells = nc, nProbe = 2, tables = 4,
          prebuiltAssigned = Some(CellsShared.multiDyn(s, dir, nc)))
        val votes = g
          .join(emb.select(col("vec_id").as("nid"),
            col("label").as("nlabel")), "nid")
          .withColumn("w", floor(col("sim") * lit(1048576d)).cast("long"))
          .groupBy("qid", "nlabel")
          .agg(sum(col("w")).as("wsum"), count(lit(1)).as("nv"))
        val pred = votes.groupBy("qid")
          .agg(max_by(col("nlabel"),
              struct(col("wsum"), (col("nlabel") * lit(-1L)).as("__nl")))
            .as("pred_label"),
            sum(col("nv")).as("n_neighbors"))
        emb.select(col("vec_id").as("qid"), col("label").as("own_label"))
          .join(pred, Seq("qid"), "left")
          .select(col("qid"), col("own_label"),
            coalesce(col("pred_label"), lit(-1L)).as("pred_label"),
            coalesce(col("n_neighbors"), lit(0L)).as("n_neighbors"),
            (coalesce(col("pred_label"), lit(-1L)) === col("own_label"))
              .as("agree"))
          .orderBy("qid")
      },
      Some(s"""WITH graph AS (
        |$sqlKnnGraphQuery
        |),
        |votes AS (
        |  SELECT g.qid, e.label AS nlabel,
        |    CAST(SUM(CAST(FLOOR(g.sim * 1048576) AS BIGINT)) AS BIGINT) AS wsum,
        |    COUNT(*) AS nv
        |  FROM graph g JOIN embeddings e ON e.vec_id = g.nid
        |  GROUP BY g.qid, e.label),
        |pred AS (
        |  SELECT qid, nlabel AS pred_label, nn AS n_neighbors FROM (
        |    SELECT qid, nlabel,
        |      CAST(SUM(nv) OVER (PARTITION BY qid) AS BIGINT) AS nn,
        |      row_number() OVER (
        |        PARTITION BY qid ORDER BY wsum DESC, nlabel ASC) AS rk
        |    FROM votes) WHERE rk = 1)
        |SELECT q.vec_id AS qid, q.label AS own_label,
        |  COALESCE(p.pred_label, -1) AS pred_label,
        |  CAST(COALESCE(p.n_neighbors, 0) AS BIGINT) AS n_neighbors,
        |  (COALESCE(p.pred_label, -1) = q.label) AS agree
        |FROM embeddings q LEFT JOIN pred p ON p.qid = q.vec_id
        |ORDER BY qid""".stripMargin),
      "kNN label audit: similarity-weighted neighbor majority vs own " +
        "label (integer-grid vote sums) — the mislabel/boundary " +
        "curation signal over the v15 graph")
  )

  // ---- shared DuckDB mirrors of the PQ pipeline (v11/v12/v13) ----------

  /** Exact squared-L2 between 8-dim subvectors, folded in index order. */
  private def sqlL2Sub(a: String, b: String): String =
    s"list_sum(list_transform(range(1, 9), i -> " +
      s"(CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE)) * " +
      s"(CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE))))"

  /** Exact squared-L2 between full 64-dim vectors (the refine metric). */
  private def sqlL2Full(a: String, b: String): String =
    s"list_sum(list_transform(range(1, 65), i -> " +
      s"(CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE)) * " +
      s"(CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE))))"

  private def sqlPqAssign(cbName: String, src: String = "sv"): String =
    s"""SELECT id, s, code FROM (
    |    SELECT sv.id, sv.s, cb.code, row_number() OVER (
    |      PARTITION BY sv.id, sv.s
    |      ORDER BY ${sqlL2Sub("sv.sv", "cb.cw")} ASC, cb.code ASC) AS rk
    |    FROM $src sv JOIN $cbName cb USING (s)) WHERE rk = 1""".stripMargin

  /** The PQ trunk: subvectors, lowest-id seed codebooks, one
    * DECIMAL-mean Lloyd refinement, corpus codes, and the per-query
    * integer-quantized distance table (queries = vec_id < `maxQid`).
    */
  private def sqlPqCtes: String = sqlPqCtes(5)

  private def sqlPqCtes(maxQid: Int): String = {
    val means = (1 to 8).map(i =>
      s"CAST(CAST(SUM(CAST(CAST(sv[$i] AS DOUBLE) AS DECIMAL(30,12))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS FLOAT)").mkString(", ")
    s"""ss AS MATERIALIZED (SELECT unnest(range(0, 8)) AS s),
    |sv AS MATERIALIZED (
    |  SELECT vec_id AS id, s, list_slice(embedding, s * 8 + 1, (s + 1) * 8) AS sv
    |  FROM embeddings CROSS JOIN ss),
    |svt AS MATERIALIZED (SELECT * FROM sv WHERE id < $TrainCap),
    |seeds AS MATERIALIZED (
    |  SELECT vec_id, embedding FROM embeddings ORDER BY vec_id ASC LIMIT $PqCodes),
    |cb0 AS MATERIALIZED (
    |  SELECT s, vec_id AS code, list_slice(embedding, s * 8 + 1, (s + 1) * 8) AS cw
    |  FROM seeds CROSS JOIN ss),
    |a1 AS MATERIALIZED (${sqlPqAssign("cb0", "svt")}),
    |cb1 AS MATERIALIZED (
    |  SELECT s, code, [$means] AS cw
    |  FROM a1 JOIN svt USING (id, s) GROUP BY s, code),
    |codes AS MATERIALIZED (${sqlPqAssign("cb1")}),
    |dtab AS MATERIALIZED (
    |  SELECT q.id AS qid, cb.s, cb.code,
    |    CAST(FLOOR(${sqlL2Sub("q.sv", "cb.cw")} * 1048576) AS BIGINT) AS dq
    |  FROM sv q JOIN cb1 cb USING (s) WHERE q.id < $maxQid),""".stripMargin
  }

  /** The IVFADC trunk (v12's full mirror, shared with the v19 recall
    * audit): the INDEX-SCALED Lloyd coarse quantizer (nc from
    * [[sqlNcIndex]] — the 4·√n topK-index rule — feeding sqlLloydDyn,
    * the exact CTEs v8 mirrors, since the engine shares the
    * kmeansDyn/kmeansDynCells memos between them), HIERARCHICAL corpus
    * assignment, DERIVED probe counts ([[sqlNpSp]] — queries keep np
    * nearest cells among sp probed supers), residuals
    * vec − centroid(cell), residual codebooks (seeded past the nc
    * coarse-centroid ids), cell-inline corpus codes, per-(query, cell)
    * distance tables (queries = vec_id < `maxQid`), and the
    * exact-BIGINT ADC ranks. Every stage is AS MATERIALIZED — DuckDB
    * re-inlines plain CTEs per reference, and this trunk's references
    * to its own upstream stages made the un-materialized round-8 form
    * blow past the driver's DuckDB memory. Emits CTEs nc … ranked — no
    * leading WITH, no final SELECT.
    */
  private def sqlIvfPqCtes(maxQid: Int): String = {
    val means = (1 to 8).map(i =>
      s"CAST(CAST(SUM(CAST(CAST(sv[$i] AS DOUBLE) AS DECIMAL(30,12))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS FLOAT)").mkString(", ")
    def assign(cbName: String, src: String = "sv") =
      s"""SELECT id, s, code FROM (
      |    SELECT sv.id, sv.s, cb.code, row_number() OVER (
      |      PARTITION BY sv.id, sv.s
      |      ORDER BY ${sqlL2Sub("sv.sv", "cb.cw")} ASC, cb.code ASC) AS rk
      |    FROM $src sv JOIN $cbName cb USING (s)) WHERE rk = 1""".stripMargin
    s"""$sqlNcIndex,
    |$sqlLloydDyn,
    |$sqlNpSp,
    |${sqlHier1("cent2", "hc")},
    |${sqlHier1Assign("cent2", "hc", "embeddings", "cc", 1)},
    |cells AS MATERIALIZED (SELECT vec_id AS id, vec, cell FROM ccasg),
    |res AS MATERIALIZED (
    |  SELECT cl.id, cl.cell,
    |    list_transform(range(1, 65), i ->
    |      CAST(cl.vec[i] AS DOUBLE) - CAST(c.centroid[i] AS DOUBLE)) AS rvec
    |  FROM cells cl JOIN cent2 c ON c.cell = cl.cell),
    |ss AS MATERIALIZED (SELECT unnest(range(0, 8)) AS s),
    |sv AS MATERIALIZED (
    |  SELECT id, s, list_slice(rvec, s * 8 + 1, (s + 1) * 8) AS sv
    |  FROM res CROSS JOIN ss),
    |seeds AS MATERIALIZED (
    |  SELECT vec_id FROM (
    |    SELECT vec_id, row_number() OVER (ORDER BY vec_id ASC) AS rk
    |    FROM embeddings)
    |  WHERE rk > (SELECT v FROM nc)
    |    AND rk <= (SELECT v FROM nc) + $PqCodes),
    |svt AS MATERIALIZED (SELECT * FROM sv WHERE id < $TrainCap),
    |cb0 AS MATERIALIZED (
    |  SELECT s, sv.id AS code, sv.sv AS cw
    |  FROM sv JOIN seeds ON seeds.vec_id = sv.id),
    |a1 AS MATERIALIZED (${assign("cb0", "svt")}),
    |cb1 AS MATERIALIZED (
    |  SELECT s, code, [$means] AS cw
    |  FROM a1 JOIN svt USING (id, s) GROUP BY s, code),
    |codes AS MATERIALIZED (${assign("cb1")}),
    |qsrc AS MATERIALIZED (
    |  SELECT vec_id, embedding FROM embeddings WHERE vec_id < $maxQid),
    |${sqlHier1Assign("cent2", "hc", "qsrc", "pp",
        "(SELECT v FROM np)", "(SELECT v FROM sp)")},
    |probes AS MATERIALIZED (SELECT vec_id AS qid, cell FROM ppasg),
    |qres AS MATERIALIZED (
    |  SELECT p.qid, p.cell,
    |    list_transform(range(1, 65), i ->
    |      CAST(q.embedding[i] AS DOUBLE) - CAST(c.centroid[i] AS DOUBLE)) AS rvec
    |  FROM probes p
    |  JOIN embeddings q ON q.vec_id = p.qid
    |  JOIN cent2 c ON c.cell = p.cell),
    |qsv AS MATERIALIZED (
    |  SELECT qid, cell, s, list_slice(rvec, s * 8 + 1, (s + 1) * 8) AS sv
    |  FROM qres CROSS JOIN ss),
    |dtab AS MATERIALIZED (
    |  SELECT qid, qsv.cell, cb.s, cb.code,
    |    CAST(FLOOR(${sqlL2Sub("qsv.sv", "cb.cw")} * 1048576) AS BIGINT) AS dq
    |  FROM qsv JOIN cb1 cb USING (s)),
    |adc AS MATERIALIZED (
    |  SELECT d.qid, c.id AS vec_id, CAST(SUM(d.dq) AS BIGINT) AS adc
    |  FROM codes c
    |  JOIN cells cl ON cl.id = c.id
    |  JOIN dtab d ON d.cell = cl.cell AND d.s = c.s AND d.code = c.code
    |  WHERE d.qid <> c.id GROUP BY d.qid, c.id),
    |ranked AS MATERIALIZED (
    |  SELECT qid, vec_id, adc, row_number() OVER (
    |    PARTITION BY qid ORDER BY adc ASC, vec_id ASC) AS rn
    |  FROM adc)""".stripMargin
  }

  /** Full-corpus ADC sum + rank (the v11 tail; v13 re-ranks its top 50). */
  private def sqlPqAdcRanked: String =
    """adc AS (
    |  SELECT d.qid, c.id AS vec_id, CAST(SUM(d.dq) AS BIGINT) AS adc
    |  FROM codes c JOIN dtab d ON d.s = c.s AND d.code = c.code
    |  WHERE d.qid <> c.id GROUP BY d.qid, c.id),
    |ranked AS (
    |  SELECT qid, vec_id, adc, row_number() OVER (
    |    PARTITION BY qid ORDER BY adc ASC, vec_id ASC) AS rn
    |  FROM adc)""".stripMargin
}
