package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Bench, Graft, SparkEntry}
import graft.Json.{num, obj}
import graft.functions.Text
import graft.operators.{Dedup, Similarity}

/** Scale-stress harness for the dedup operators: multiply the documents
  * corpus by `m` deterministic copies whose token spaces are disjoint
  * (every token gets a per-copy suffix), so the near-dup structure grows
  * LINEARLY (each copy keeps its own dup pairs, no cross-copy
  * similarity) — then measure whether operator wall-clock grows
  * near-linearly too. A superlinear blowup here means a shape that dies
  * at 100 TB (megabuckets, O(n²) candidate sets).
  *
  * Usage: runMain graft.tools.ScaleStress [sfDir] [copies... | probes |
  *          bpelocal] [key=value ... session confs]
  */
object ScaleStress {

  def corpus(spark: SparkSession, sfDir: String, m: Int): DataFrame = {
    val base = Graft.table(spark, sfDir, "documents")
      .select("doc_id", "text")
    val copies = spark.range(0, m).select(col("id").as("copy"))
    base.crossJoin(copies)
      .select(
        (col("doc_id") + col("copy") * 1000000L).as("doc_id"),
        // per-copy token suffix → token spaces of different copies are
        // disjoint; within-copy shingle structure (and dup pairs) intact
        regexp_replace(col("text"), lit("(\\S+)"),
          concat(lit("$1_c"), col("copy").cast("string"))).as("text"))
      // The broadcast crossJoin inherits the parquet side's partitioning
      // (ONE ~5MB partition) — byte-cheap but CPU-dense text rows would
      // then run every signature stage single-threaded. Same lesson at
      // 100 TB: partition CPU-dense text stages by ROW COUNT (repartition
      // after scan / lower maxPartitionBytes), not by bytes.
      .repartition(spark.sparkContext.defaultParallelism * 2)
  }

  def main(args: Array[String]): Unit = {
    val (confs, pos) = Graft.splitArgs(args.toSeq)
    val sfDir = pos.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = Graft.session(confs = confs)
    pos.drop(1) match {
      // just the machine-readable artifact rows (the thing Bench emits
      // per round), printed and written to SCALE_LAST.json
      case Seq("probes") => println(writeProbes(spark, sfDir))
      // just the driver-local trainer measurement
      case Seq("bpelocal") => println("{" + bpeTrainLocalJson(spark, sfDir) + "}")
      case Seq() => stress(spark, sfDir, Seq(1, 10, 100))
      case ms => stress(spark, sfDir, ms.map(_.toInt))
    }
    spark.stop()
  }

  /** The stress runs: every dedup operator on the `m`-copy corpus, then
    * semantic dedup and MMR on `m`-copy embeddings (m ≤ 10), timed.
    */
  private def stress(spark: SparkSession, sfDir: String, ms: Seq[Int]): Unit = {
    def t(name: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = f
      println(f"[stress] $name%-36s ${(System.nanoTime() - t0) / 1e9}%8.2f s  rows=$n")
    }

    ms.foreach { m =>
      // Materialize the synthetic corpus BEFORE timing: the regex-mutate
      // generator would otherwise be re-executed by every plan branch
      // that references the docs (sets side of the verify join, both
      // sides of self-joins) and dominate the measurement.
      val docs = corpus(spark, sfDir, m)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nDocs = docs.count()
      println(s"\n=== m=$m  (${nDocs} docs) ===")
      t(s"exact_dedup m=$m")(
        Dedup.exactGroups(docs, "doc_id", "text").count())
      t(s"minhash_neardups m=$m")(
        Dedup.minhashNearDups(docs, "doc_id", "text",
          k = 32, bands = 16, shingleSize = 3, threshold = 0.5).count())
      t(s"simhash_neardups m=$m")(
        Dedup.simhashNearDups(docs, "doc_id", "text", maxHamming = 16).count())
      // Two-lane 124-bit variant at the equivalent relative radius: the
      // single-lane radius-16 noise term (~1e-5·n²) is what goes
      // superlinear above ~100k docs; at ~1e-8·n² the pair count here
      // must stay ~linear in m (planted dups only) through these sizes.
      t(s"simhash128_neardups m=$m")(
        Dedup.simhashNearDups128(docs, "doc_id", "text", maxHamming = 32).count())
      // Planted-stopword stress for the capped n-gram Jaccard: every doc
      // gets the same 4-token boilerplate tail (shared across copies →
      // its shingles have df = nDocs). With the cap those shingles are
      // excluded from candidate generation, so pair counts stay LINEAR in
      // m; uncapped this would be the O(n²) join the cap exists to kill.
      val boiler = docs.select(col("doc_id"),
        concat(col("text"), lit(" zzb0 zzb1 zzb2 zzb3")).as("text"))
      t(s"ngram_jaccard_capped m=$m")(
        Dedup.ngramJaccardPairs(boiler, "doc_id", "text", shingleSize = 3,
          threshold = 0.5, maxDocFreq = 256).count())
      // x22 shape on the same boilerplate corpus: the document-frequency
      // join-back is 1:1 per (doc, shingle) occurrence — a ubiquitous
      // shingle (df = nDocs) adds count-table rows, never pairs, so
      // wall-clock must stay near-linear in m with no cap needed.
      t(s"dup_ngram_coverage m=$m") {
        val sets = boiler.select(col("doc_id"),
            explode(array_distinct(Text.wordShingles(col("text"), 3))).as("sh"))
          .select(col("doc_id"), md5(col("sh")).as("f"))
        sets
          .withColumn("df", count(lit(1)).over(
            org.apache.spark.sql.expressions.Window.partitionBy("f")))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_shingles"),
            sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_dup"))
          .count()
      }
      // x36/x37 shape: duplicate-span extraction is one (md5, id, pos)
      // row per token + a combinable count-distinct per fingerprint +
      // per-document merge windows. Disjoint copy token spaces keep
      // each copy's span structure intact, so span counts are exactly
      // linear in m and wall-clock must track them — superlinear drift
      // here would mean the fingerprint groupBy or the islands window
      // stopped combining map-side.
      t(s"dup_spans m=$m")(
        Dedup.dupSpans(docs, "doc_id", "text", width = 8).count())
      // NOT count(): the final left join's right side is an aggregate
      // keyed by id, so Catalyst proves it non-expanding and ELIMINATES
      // it for a bare count — sum(n_removed) forces the real pipeline
      t(s"dedup_spans_keep_first m=$m")(
        Dedup.dedupSpansKeepFirst(docs, "doc_id", "text", width = 8)
          .agg(sum(col("n_removed"))).head().getLong(0))
      spark.catalog.clearCache()
    }

    // v10 shape: semantic dedup is per-cell quadratic, and the documented
    // contract is nCells ∝ corpus size. Scale the embeddings corpus with
    // per-copy circular rotation (an isometry — within-copy cosines exact,
    // cross-copy ~random) and the quantizer with it: wall-clock should
    // stay near-linear. The assignment pass is O(n·nCells) cosines — at
    // production nCells this is where k-means|| + hierarchical assignment
    // slot in; the stress documents the dataflow staying bounded.
    ms.filter(_ <= 10).foreach { m =>
      val emb = embCorpus(spark, sfDir, m)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val n = emb.count()
      println(s"\n=== embeddings m=$m  (${n} vectors) ===")
      t(s"semantic_dedup m=$m nCells=${16 * m}")(
        Similarity.semanticDedup(emb, "vec_id", "embedding",
          threshold = 0.4, nCells = 16 * m).count())
      // v14 shape: MMR with FIXED queries (copy 0's vec_id < 3) over a
      // growing corpus. The corpus is touched exactly once, by the
      // retrieval top-M; every greedy round is per-query bounded (topM
      // candidates, topM² pair sims) and localCheckpoint-truncated, so
      // wall-clock must track the retrieval scan — near-linear in m with
      // a constant rounds overhead, NOT the 2^k re-derivation the
      // untruncated loop had.
      t(s"mmr_rerank m=$m")(
        Similarity.mmrRerank(emb.filter(col("vec_id") < 3), emb,
          "vec_id", "embedding", topM = 20, k = 5, lambda = 0.7).count())
      spark.catalog.clearCache()
    }
  }

  /** Write SCALE_LAST.json — [[probeJson]], with the cold-session
    * reload evidence of [[restReloadJson]] spliced in when `restReload`
    * (Bench's warm session; it ends the session's memos) — and return it.
    */
  private[graft] def writeProbes(spark: SparkSession, sfDir: String, decade: Boolean = true,
      restReload: Boolean = false): String = {
    val json0 = probeJson(spark, sfDir, decade = decade)
    val json =
      if (!restReload) json0
      else try json0.dropRight(1) + s""","rest_reload":${restReloadJson(spark, sfDir)}}"""
      catch { case e: Throwable =>
        System.err.println(s"[scale] rest_reload skipped: ${e.getMessage}")
        json0
      }
    java.nio.file.Files.write(java.nio.file.Paths.get("SCALE_LAST.json"),
      (json + "\n").getBytes("UTF-8"))
    json
  }

  /** Machine-readable scale probes — the ScaleStress linearity
    * measurements as a per-round ARTIFACT (SCALE_rN.json) instead of
    * README prose, so a scale regression is caught by diffing artifacts.
    * Each probe runs at two corpus multipliers and reports wall-clock +
    * result-row growth ratios against the size ratio:
    *   - span ops (x36/x37 shapes): rows and time must track m;
    *   - simhash128: pair count exactly linear in m (disjoint copies);
    *   - assign_hier vs assign_flat: the two-level corpus assignment at
    *     [[Similarity.cellsFor]]-scaled nCells against the flat
    *     baseline — flat grows ~size_ratio² (O(n·nCells) with cells ∝
    *     n), hier must stay well under it (O(n·√nCells));
    *   - knn_graph: the full v15 build at scaled cells — near-linear;
    *   - topk_hier_query: per-query probe cost under the prebuilt
    *     index-scaled quantizer at the derived operating point;
    *   - index_quantizer_state: collected centroid rows under
    *     [[Similarity.indexCellsFor]] — rows_ratio ≈ √size_ratio is the
    *     O(√n) driver-state demonstration;
    *   - blocking_bcast_state: largest BroadcastExchange row count in
    *     the cellsFor-scaled blocking assignment with auto-broadcast
    *     disabled — rows_ratio ≈ √size_ratio shows the distributed
    *     quantizer's only broadcast is the supers table (round 10);
    *   - ivfpq_warm_query / knn_graph_warm (round 11): the at-rest
    *     ingest/query split measured — index/assignment built OUTSIDE
    *     the timer, query time must track probed volume (≈ linear in
    *     size_ratio), not the build's superlinear growth;
    *   - index_assign (round 11): the hierarchical corpus assignment
    *     under [[Similarity.indexCellsFor]] — the measured O(n^1.25)
    *     build exponent the scaladoc ceiling documents.
    *
    * Round 12 (VERDICT r11 #3): when `decade` is set, the three at-rest
    * claims — ivfpq_warm_query, topk_hier_query, index_quantizer_state —
    * get a THIRD size point at 16·mLarge (size_ratio 64 with the
    * defaults), and every probe with ≥2 sizes reports least-squares
    * FITTED exponents (`time_exponent`, `rows_exponent` of the log-log
    * fit) alongside the min/max ratios — a single ratio can't pin the
    * growth law; three points a decade apart can. ScaleExponentSpec
    * asserts the contract (< 0.5 time exponent for warm queries, ~0.5
    * rows exponent for the O(√n) state).
    * Returns one JSON object (probes array + ratios + exponents).
    */
  /** The driver-local-BPE-at-production-merge-counts measurement (see
    * the call site in [[probeJson]] for the crossover rationale):
    * `"bpe_train_local":{...}` as a JSON fragment.
    */
  def bpeTrainLocalJson(spark: SparkSession, sfDir: String,
      rounds: Int = 1024): String = {
    // The fixture prose has a TINY vocabulary (31 distinct words at
    // every SF — training merges it to completion after ~90 rounds),
    // so a production-merge-count probe ENRICHES the token space
    // deterministically: each (word, doc_id % 256) pair becomes a
    // 12-char md5-hex word — a vocabulary in the thousands over a
    // 16-symbol alphabet, with merge structure for 1024+ real rounds.
    // Merge-loop cost is a function of vocabulary size and round
    // count, not of which bytes the words hold, so the measured
    // merges/s transfers to real corpora with Heaps-law vocabularies.
    val docs = Graft.table(spark, sfDir, "documents")
      .select(col("doc_id"),
        concat_ws(" ", transform(split(col("text"), " "),
          w => substring(md5(concat(w, (col("doc_id") % 256).cast("string"))),
            1, 12))).as("text"))
    val t0 = System.nanoTime()
    val trained = graft.operators.Bpe.trainLocal(docs, "text", rounds, 16)
    val sec = (System.nanoTime() - t0) / 1e9
    val merges = trained.merges.size
    s""""bpe_train_local":{"rounds":$rounds,"merges":$merges,""" +
      s""""sec":${num(sec)},""" +
      s""""merges_per_sec":${num(merges / math.max(1e-9, sec))},""" +
      s""""total_words":${trained.totalWords}}"""
  }

  def probeJson(spark: SparkSession, sfDir: String,
      mSmall: Int = 1, mLarge: Int = 4, decade: Boolean = true): String = {
    final case class P(name: String, m: Int, n: Long, rows: Long, sec: Double)
    val out = scala.collection.mutable.ArrayBuffer[P]()
    var record = true
    def run(name: String, m: Int, n: Long)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val r = f
      if (record)
        out += P(name, m, n, r, (System.nanoTime() - t0) / 1e9)
    }
    // (m, record): the first mSmall pass is an UNTIMED warm-up — codegen
    // and JIT warming otherwise inflate the small-size numbers and the
    // growth ratios read sub-linear even for linear operators. Each
    // timed size runs TWICE and the pairing below keeps the min per
    // (probe, m): this host's roaming external stalls otherwise land in
    // a single probe time and fake a 5-10× "regression" in the ratios.
    val passes = Seq((mSmall, false), (mSmall, true), (mLarge, true),
      (mSmall, true), (mLarge, true))
    passes.foreach { case (m, rec) =>
      record = rec
      val docs = corpus(spark, sfDir, m)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val n = docs.count()
      run("dup_spans", m, n)(
        Dedup.dupSpans(docs, "doc_id", "text", width = 8).count())
      // sum(n_removed), not count(): a bare count lets Catalyst prune
      // the final join and measure nothing (653d617's probe-fix lesson)
      run("dedup_spans_keep_first", m, n)(
        Dedup.dedupSpansKeepFirst(docs, "doc_id", "text", width = 8)
          .agg(coalesce(sum(col("n_removed")), lit(0L))).head().getLong(0))
      run("simhash128_neardups", m, n)(
        Dedup.simhashNearDups128(docs, "doc_id", "text", maxHamming = 32)
          .count())
      docs.unpersist(false)
      spark.catalog.clearCache()
    }
    passes.foreach { case (m, rec) =>
      record = rec
      val emb = embCorpus(spark, sfDir, m)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val n = emb.count()
      val nc = Similarity.cellsFor(n)
      run("assign_hier", m, n)(
        Similarity.multiQuantizerCells(emb, "vec_id", "embedding",
          nCells = nc, nProbe = 2, tables = 4).count())
      run("assign_flat", m, n)(
        Similarity.multiQuantizerCellsFlat(emb, "vec_id", "embedding",
          nCells = nc, nProbe = 2, tables = 4).count())
      run("knn_graph", m, n) {
        val g = Similarity.knnGraph(emb, "vec_id", "embedding", topK = 5,
          nCells = nc, nProbe = 2, tables = 4)
        val rows = g.count()
        graft.Graft.releaseTruncated(g)
        rows
      }
      // Blocking-family BROADCAST-STATE probe (the round-10 distributed
      // quantizer's "Done" condition): with the auto-broadcast
      // thresholds disabled — so the size-capped adaptive conversions
      // that legitimately localize small shuffles at spec scale can't
      // mask the design — the only broadcast left in the
      // cellsFor-scaled assignment is the HINTED supers table. rows =
      // the largest BroadcastExchange's numOutputRows: at size_ratio 4
      // the artifact must show rows_ratio ≈ 2 (tables·√nCells — O(√n)
      // broadcast state while nCells itself grows linearly); the
      // round-9 leaf-table broadcast would read 4.
      run("blocking_bcast_state", m, n) {
        import org.apache.spark.sql.execution.SparkPlan
        import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
        import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec}
        val conf = spark.conf
        val prev = conf.get("spark.sql.autoBroadcastJoinThreshold")
        // getOption, NOT get-with-fallback: the adaptive threshold's
        // default is "fall back to the static one" — restoring a read
        // fallback VALUE pins it explicitly and silently decouples the
        // two for the rest of the session (bit AqeSkewSpec once
        // ScaleExponentSpec ran this probe in the shared test JVM)
        val prevA = conf.getOption("spark.sql.adaptive.autoBroadcastJoinThreshold")
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        try {
          // cellSize 8 / minCells 4: at probe sizes the default rule
          // sits on its minCells floor (nCells flat → any state reads
          // ratio 1); the tighter cell size puts both probe points in
          // the LINEAR regime the rule has at production n, which is
          // the regime the broadcast-state claim is about
          val ncb = Similarity.cellsFor(n, cellSize = 8, minCells = 4)
          val df = Similarity.multiQuantizerCells(emb, "vec_id",
            "embedding", ncb, nProbe = 2, tables = 4)
          // drive THIS QueryExecution (df.count() would build its own,
          // leaving these metrics unpopulated)
          df.queryExecution.toRdd.count()
          def flat(p: SparkPlan): Seq[SparkPlan] = p match {
            case a: AdaptiveSparkPlanExec => p +: flat(a.executedPlan)
            case q: QueryStageExec => p +: flat(q.plan)
            case r: ReusedExchangeExec => p +: flat(r.child)
            case _ => p +: p.children.flatMap(flat)
          }
          flat(df.queryExecution.executedPlan).collect {
            case e: BroadcastExchangeExec =>
              e.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
          }.foldLeft(0L)(math.max)
        } finally {
          conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
          prevA match {
            case Some(v) =>
              conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", v)
            case None =>
              conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
          }
        }
      }
      // topK QUERY cost under the INDEX-SCALED (4·√n) quantizer at the
      // round-9 DERIVED operating point: seed quantizer + corpus
      // assignment are prebuilt OUTSIDE the timer (the at-rest ingest
      // split every declared query memoizes), so the timed work is
      // probe assignment (O(√nCells)) + the coverage-fraction candidate
      // scan.
      locally {
        val ncq = Similarity.indexCellsFor(n)
        val cents = Similarity.seedCentroidsLiteral(emb, "vec_id",
          "embedding", ncq)
        val cells = Similarity.quantizerCellsHier(emb, "vec_id",
            "embedding", ncq, cents)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        cells.count()
        run("topk_hier_query", m, n)(
          Similarity.ivfTopKHier(emb.filter(col("vec_id") < 5), emb,
            "vec_id", "embedding", topK = 5, nCells = ncq,
            nProbe = Similarity.indexProbesFor(ncq),
            superProbe = Similarity.indexSuperProbesFor(ncq),
            prebuiltCentroids = Some(cents),
            prebuiltCells = Some(cells)).count())
        cells.unpersist(false)
        // Driver-state growth probe (the round-9 rule split's "Done"
        // condition): rows = the quantizer's collected centroid count
        // under indexCellsFor, sec = the literal's collect cost. At
        // size_ratio 4 the artifact must show rows_ratio ≈ 2 (O(√n)
        // driver/broadcast state) — the linear rule's would be 4.
        run("index_quantizer_state", m, n) {
          Similarity.seedCentroidsLiteral(emb, "vec_id", "embedding",
            Similarity.indexCellsFor(n)).count()
        }
      }
      emb.unpersist(false)
      spark.catalog.clearCache()
    }
    // WARM-QUERY probes (VERDICT r10 #3): the at-rest ingest/query
    // split, measured — each index is built OUTSIDE the timer (exactly
    // what the declared queries' session memos and Bench's sf1 builds
    // phase do), then the query runs twice per size (min per (probe, m)
    // via the pairing below):
    //   - ivfpq_warm_query: the v12 shape — 5 probes against the IVFADC
    //     index at the derived operating point. Probed volume is
    //     nProbe·cellSize ≈ coverage·n, so time_ratio must track
    //     size_ratio (linear in probed volume, NOT the build's n^1.25);
    //   - knn_graph_warm: the v15 shape — graph build from the PREBUILT
    //     blocking assignment (pair generation + rank), time_ratio ≈
    //     size_ratio under bounded cell size;
    //   - index_assign: the measured HIERARCHICAL-ASSIGNMENT exponent
    //     (VERDICT r10 #4) — corpus assignment under the indexCellsFor
    //     quantizer, design O(n·√nCells) = O(n^1.25): recorded so the
    //     scaladoc's documented ceiling is an artifact number.
    Seq(mSmall, mLarge).foreach { m =>
      record = true
      val emb = embCorpus(spark, sfDir, m)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val n = emb.count()
      val ncq = Similarity.indexCellsFor(n)
      val idx = Similarity.ivfPqIndex(emb, "vec_id", "embedding",
        nCells = ncq, m = 8, nCodes = 64, iterations = 1,
        trainCap = 2048, hierAssign = true) // untimed: the ingest half
      (1 to 2).foreach { _ =>
        run("ivfpq_warm_query", m, n)(
          Similarity.ivfPqTopK(emb.filter(col("vec_id") < 5), idx,
            "vec_id", "embedding", topK = 5,
            nProbe = Similarity.indexProbesFor(ncq), hierProbes = true,
            superProbe = Similarity.indexSuperProbesFor(ncq)).count())
      }
      graft.Graft.releaseTruncated(idx.codes)
      val ncp = Similarity.cellsFor(n)
      val assigned = Similarity.multiQuantizerCells(emb, "vec_id",
          "embedding", nCells = ncp, nProbe = 2, tables = 4)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      assigned.count() // untimed: the ingest half
      (1 to 2).foreach { _ =>
        run("knn_graph_warm", m, n) {
          val g = Similarity.knnGraph(emb, "vec_id", "embedding",
            topK = 5, nCells = ncp, nProbe = 2, tables = 4,
            prebuiltAssigned = Some(assigned))
          val rows = g.count()
          graft.Graft.releaseTruncated(g)
          rows
        }
      }
      assigned.unpersist(false)
      locally {
        val cents = Similarity.seedCentroidsLiteral(emb, "vec_id",
          "embedding", ncq)
        (1 to 2).foreach { _ =>
          run("index_assign", m, n)(
            Similarity.quantizerCellsHier(emb, "vec_id", "embedding",
              ncq, cents).count())
        }
      }
      emb.unpersist(false)
      spark.catalog.clearCache()
    }
    // DECADE size point (VERDICT r11 #3): the three at-rest claims get a
    // third point at 16·mLarge so the fitted exponent spans ~two decades
    // of corpus size instead of resting on one ratio. Warm repeats ×2
    // (min per (probe, m) below); index/assignment builds stay OUTSIDE
    // the timers, exactly like the m_small/m_large points.
    if (decade) {
      record = true
      val m = mLarge * 16
      val emb = embCorpus(spark, sfDir, m)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val n = emb.count()
      val ncq = Similarity.indexCellsFor(n)
      val idx = Similarity.ivfPqIndex(emb, "vec_id", "embedding",
        nCells = ncq, m = 8, nCodes = 64, iterations = 1,
        trainCap = 2048, hierAssign = true) // untimed: the ingest half
      (1 to 2).foreach { _ =>
        run("ivfpq_warm_query", m, n)(
          Similarity.ivfPqTopK(emb.filter(col("vec_id") < 5), idx,
            "vec_id", "embedding", topK = 5,
            nProbe = Similarity.indexProbesFor(ncq), hierProbes = true,
            superProbe = Similarity.indexSuperProbesFor(ncq)).count())
      }
      graft.Graft.releaseTruncated(idx.codes)
      locally {
        val cents = Similarity.seedCentroidsLiteral(emb, "vec_id",
          "embedding", ncq)
        val cells = Similarity.quantizerCellsHier(emb, "vec_id",
            "embedding", ncq, cents)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        // the ingest half — but the decade point also TIMES it as
        // index_assign (VERDICT r11 residual: re-measure the documented
        // O(n^1.25) assignment ceiling at each new scale point), which
        // costs nothing extra: the persist materializes either way and
        // the query timers below start after it
        run("index_assign", m, n)(cells.count())
        (1 to 2).foreach { _ =>
          run("topk_hier_query", m, n)(
            Similarity.ivfTopKHier(emb.filter(col("vec_id") < 5), emb,
              "vec_id", "embedding", topK = 5, nCells = ncq,
              nProbe = Similarity.indexProbesFor(ncq),
              superProbe = Similarity.indexSuperProbesFor(ncq),
              prebuiltCentroids = Some(cents),
              prebuiltCells = Some(cells)).count())
        }
        cells.unpersist(false)
      }
      run("index_quantizer_state", m, n) {
        Similarity.seedCentroidsLiteral(emb, "vec_id", "embedding",
          Similarity.indexCellsFor(n)).count()
      }
      emb.unpersist(false)
      spark.catalog.clearCache()
    }
    // REGION-family growth probe (round 14): synthetic cloud-texture
    // BMPs (the cperc generator accepts arbitrary ids) → regionDHash
    // (R=7 windows/image) → regionNearDupsSig at the PRODUCTION
    // banding config (bands=4 → 16-bit blocks, radius 3 — the m17
    // fixture's 8-bit/radius-7 config is the exact-recall DEMO shape;
    // at scale the wide blocks keep buckets near-empty so the R× rows
    // per band do NOT quadratically inflate candidates). rows = the
    // reported pair count (unrelated textures → ~0 at radius 3: a
    // growing value here would be the quadratic-noise signal); the
    // time covers encode+decode+hash+banding end to end.
    Seq((mSmall, false), (mSmall, true), (mLarge, true)).foreach {
      case (m, rec) =>
        record = rec
        val n = 512L * m
        run("region_pairs", m, n) {
          import spark.implicits._
          val assets = spark.range(0L, n, 1L, 16).mapPartitions(_.map { id =>
            val (w, h, px) =
              graft.pipelines.MultimodalFixture.cpercBasePixels(id)
            graft.operators.Multimodal.Asset(id, "image",
              graft.sources.MediaBinary.encodeBmp(w, h, px))
          })
          val sigs = graft.operators.Multimodal.regionDHash(assets).toDF()
            .select(col("asset_id").as("id"), col("dhash").as("sig"))
          Dedup.regionNearDupsSig(sigs, maxHamming = 3,
            maxBucketSize = 256, bands = 4).count()
        }
        spark.catalog.clearCache()
    }
    // STREAMING CROP-GATE ingest probe (round 15 — VERDICT r14 #8:
    // region_pairs pins the batch operator's growth; this pins the
    // STREAM gate's): AssetStream.Crop.ingestBatch driven directly (its
    // semantics are batch-deterministic — the stream only schedules
    // it) over 4 equal batches of synthetic cloud-texture BMPs at two
    // corpus sizes, at the PRODUCTION radius 3 (the region_pairs
    // posture; the fixture gates run the radius-7 exact-recall DEMO
    // config, where smooth unrelated textures coincidentally quarantine
    // a few % — measured before this pin). sec times the LAST batch —
    // the one that pays the banded index×batch join against the
    // fullest accumulated index — end to end (encode+decode+hash+
    // within-batch clusters+cross join+both sink writes); rows = the
    // at-rest index's region rows after ingest, which must grow
    // LINEARLY at R=7 rows per novel image.
    def streamIngestProbe(name: String)(
        ingest: (DataFrame, Long, String, String) => Unit): Unit =
      Seq((mSmall, false), (mSmall, true), (mLarge, true)).foreach {
        case (m, rec) =>
          record = rec
          val batches = 4
          val perBatch = 128L * m
          val n = batches * perBatch
          val tmp = java.nio.file.Files.createTempDirectory(name)
          val indexDir = tmp.resolve("index").toString
          val quarDir = tmp.resolve("quar").toString
          import spark.implicits._
          def batchDf(b: Int): DataFrame =
            spark.range(b * perBatch, (b + 1) * perBatch, 1, 16)
              .mapPartitions(_.map { id =>
                val (w, h, px) =
                  graft.pipelines.MultimodalFixture.cpercBasePixels(id)
                graft.operators.Multimodal.Asset(id, "image",
                  graft.sources.MediaBinary.encodeBmp(w, h, px))
              }).toDF("asset_id", "media_type", "media")
          (0 until batches - 1).foreach { b =>
            ingest(batchDf(b), b.toLong, indexDir, quarDir)
          }
          run(name, m, n) {
            ingest(batchDf(batches - 1), (batches - 1).toLong, indexDir,
              quarDir)
            spark.read.parquet(indexDir).count()
          }
          spark.catalog.clearCache()
          try {
            val stream = java.nio.file.Files.walk(tmp)
            try stream.sorted(java.util.Comparator.reverseOrder())
              .forEach(f => { java.nio.file.Files.deleteIfExists(f); () })
            finally stream.close()
          } catch { case _: Throwable => () }
      }
    streamIngestProbe("cropstream_ingest")((b, id, idx, q) =>
      graft.streaming.AssetStream.Crop.ingestBatch(b, id, idx, q,
        maxHamming = 3))
    // STREAMING ORIENTATION-GATE ingest probe (round 16 — VERDICT r15
    // #5: cropstream_ingest pins the crop gate's growth; this pins the
    // rotation/flip gate's). Same scaffold and production radius 3;
    // the at-rest index must grow at EXACTLY R=8 orientation rows per
    // novel image (every cperc surface has w ≥ 68, h ≥ 36 — all 8
    // dihedral orientations pass the sub-grid gate), so rows_exponent
    // must read 1.0. The orientation family's min is over an 8×8
    // cross product per candidate pair, but candidates are still
    // (band, block) bucket collisions over 8 B sigs — pixels never
    // leave the decode scan, the cropstream posture.
    streamIngestProbe("orientstream_ingest")((b, id, idx, q) =>
      graft.streaming.AssetStream.Orient.ingestBatch(b, id, idx, q,
        maxHamming = 3))
    // BPE per-round marginal cost at FIXED vocabulary (VERDICT r12 #5):
    // the copies here share the token space (plain id-shifted
    // duplicates — deliberately NOT corpus()'s per-copy token suffix,
    // which grows the vocabulary linearly), so the training state is
    // IDENTICAL at both sizes. sec = (4-round train − 1-round train)/3,
    // subtracting the corpus-linear word-count pass both runs share;
    // rows = the final symbol-table size (the training state). Flat
    // time_ratio + rows_ratio 1 is the measured form of Bpe.train's
    // scaladoc claim that round cost is vocabulary-bound, not
    // corpus-bound — merge COUNT, not data size, is what the
    // driver-local crossover addresses.
    Seq((mSmall, false), (mSmall, true), (mLarge, true)).foreach {
      case (m, rec) =>
        record = rec
        val base = Graft.table(spark, sfDir, "documents")
          .select("doc_id", "text")
        val copies = spark.range(0, m).select(col("id").as("copy"))
        val docs = base.crossJoin(copies)
          .select((col("doc_id") + col("copy") * 1000000L).as("doc_id"),
            col("text"))
          .repartition(spark.sparkContext.defaultParallelism * 2)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val n = docs.count()
        val t1start = System.nanoTime()
        val r1 = graft.operators.Bpe.train(docs, "text", 1, 16)
        val t1 = (System.nanoTime() - t1start) / 1e9
        graft.Graft.releaseTruncated(r1.syms)
        val t4start = System.nanoTime()
        val r4 = graft.operators.Bpe.train(docs, "text", 4, 16)
        val t4 = (System.nanoTime() - t4start) / 1e9
        val vocabSyms = r4.syms.count()
        graft.Graft.releaseTruncated(r4.syms)
        if (record)
          out += P("bpe_round_cost", m, n, vocabSyms,
            math.max(0.0, t4 - t1) / 3)
        docs.unpersist(false)
        spark.catalog.clearCache()
    }
    // assignment-only extra size (4·mLarge): the flat form's O(n·nCells)
    // = O(n²/cellSize) term is buried under fixed overhead at small n —
    // at 16× the hier-vs-flat separation is visible in the ratios
    // (probe pairing below compares each probe's min-m vs max-m rows)
    (1 to 2).foreach { _ =>
      record = true
      val m = mLarge * 4
      val emb = embCorpus(spark, sfDir, m)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val n = emb.count()
      val nc = Similarity.cellsFor(n)
      run("assign_hier", m, n)(
        Similarity.multiQuantizerCells(emb, "vec_id", "embedding",
          nCells = nc, nProbe = 2, tables = 4).count())
      run("assign_flat", m, n)(
        Similarity.multiQuantizerCellsFlat(emb, "vec_id", "embedding",
          nCells = nc, nProbe = 2, tables = 4).count())
      emb.unpersist(false)
      spark.catalog.clearCache()
    }
    // DRIVER-LOCAL BPE trainer at production-ish merge counts (VERDICT
    // r13 #4): Bpe.trainLocal over the sf corpus vocabulary at
    // rounds=1024 — the distributed word-count pass plus the bounded
    // vocabulary collect plus 1024 in-process merge passes, ZERO
    // per-round Spark jobs. Recorded next to bpe_round_cost so the
    // crossover is a measured artifact: relational cost = sec/round
    // (bpe_round_cost.sec_*), local cost = merges/s here; the local
    // form wins as soon as rounds × relational-sec/round exceeds this
    // one-shot total. merges < rounds means the vocabulary merged to
    // completion first (recorded as-is, not padded).
    val bpeLocalSection = "," + bpeTrainLocalJson(spark, sfDir)
    // least-squares slope of y against x — the log-log growth exponent
    def slope(pts: Seq[(Double, Double)]): Double = {
      val k = pts.size
      val mx = pts.map(_._1).sum / k
      val my = pts.map(_._2).sum / k
      val varx = pts.map(p => (p._1 - mx) * (p._1 - mx)).sum
      if (varx <= 0) 0.0
      else pts.map(p => (p._1 - mx) * (p._2 - my)).sum / varx
    }
    val rows = out.groupBy(_.name).toSeq.sortBy(_._1).map { case (name, ps0) =>
      // min per (probe, m) across the repeated timed passes
      val ps = ps0.groupBy(_.m).values.map(_.minBy(_.sec)).toSeq.sortBy(_.n)
      val s = ps.head
      val l = ps.last
      val sizeR = l.n.toDouble / math.max(1L, s.n)
      val timeR = l.sec / math.max(1e-9, s.sec)
      val rowsR = l.rows.toDouble / math.max(1L, s.rows)
      // fitted growth exponents over ALL size points (2 or 3): time and
      // result rows against corpus size, log-log
      val timeExp = slope(ps.map(p =>
        (math.log(p.n.toDouble), math.log(math.max(1e-9, p.sec)))))
      val rowsExp = slope(ps.map(p =>
        (math.log(p.n.toDouble), math.log(math.max(1.0, p.rows.toDouble)))))
      s"""{"probe":"$name","n_small":${s.n},"n_large":${l.n},""" +
        s""""rows_small":${s.rows},"rows_large":${l.rows},""" +
        s""""sec_small":${num(s.sec)},"sec_large":${num(l.sec)},""" +
        s""""size_ratio":${num(sizeR)},"time_ratio":${num(timeR)},""" +
        s""""rows_ratio":${num(rowsR)},"n_points":${ps.size},""" +
        s""""time_exponent":${num(timeExp)},"rows_exponent":${num(rowsExp)}}"""
    }
    s"""{"probes":[${rows.mkString(",")}],"m_small":$mSmall,""" +
      s""""m_large":$mLarge,"decade":$decade$bpeLocalSection,"sf":"$sfDir"}"""
  }

  /** Cold-session RELOAD probe (VERDICT r12 #2 done-condition): the
    * declared v12/m11 queries timed in three states — session-warm,
    * then after `SessionMemo.endSession` (the fresh-session simulation:
    * every in-session memo dropped, the fingerprint-keyed RestMemo
    * sidecars still at rest), then session-warm again. cold_reload ≈
    * warm_after (a parquet read of the derived state, NOT the index
    * rebuild the pre-round-13 cold path paid) is the artifact evidence
    * that "indexes are built at ingest" now holds across sessions.
    * Run AFTER the bench query passes — endSession drops the whole
    * session's memo set.
    */
  def restReloadJson(spark: SparkSession, sfDir: String): String = {
    // a query that throws reads -1.0, never a time
    def time(name: String): Double =
      Bench.timeCount(spark, sfDir, SparkEntry.queries(name)).fold(
        msg => { System.err.println(s"[rest-reload] $name failed: $msg"); -1.0 }, t => t)
    val qs = Seq("v12_ivfpq_topk", "m11_perceptual_neardups")
    val warmBefore = qs.map(q => q -> time(q)).toMap
    // fresh-session simulation; the at-rest sidecars survive it
    graft.SessionMemo.endSession(spark)
    spark.catalog.clearCache()
    obj(qs.map { q =>
      val reload = time(q)
      q -> obj(Seq("warm_before" -> num(warmBefore(q)),
        "cold_reload" -> num(reload), "warm_after" -> num(time(q))))
    })
  }

  /** m deterministic copies of the embeddings table, each circularly
    * rotated by its copy index (rotation is an isometry: within-copy
    * cosine structure preserved exactly, cross-copy similarity ~random).
    */
  def embCorpus(spark: SparkSession, sfDir: String, m: Int): DataFrame = {
    val base = Graft.table(spark, sfDir, "embeddings")
      .select("vec_id", "embedding")
    val copies = spark.range(0, m).select(col("id").as("copy"))
    base.crossJoin(copies)
      .select(
        (col("vec_id") + col("copy") * 10000000L).as("vec_id"),
        expr("""transform(embedding,
          (x, i) -> element_at(embedding,
            CAST((i + copy) % size(embedding) AS INT) + 1))""").as("embedding"))
      .repartition(spark.sparkContext.defaultParallelism * 2)
  }
}
