package graft

import org.apache.spark.sql.functions._

import graft.operators.Similarity

/** The round-9 index-family contracts: the DERIVED operating point
  * (indexCellsFor / indexProbesFor / indexSuperProbesFor — functions of
  * the corpus, not re-measured constants) must hold the recall bar at
  * MULTIPLE scale factors, and the quantizer state must grow O(√n), not
  * O(n) (the round-8 linear rule's driver-collect ceiling).
  */
class IndexRecallSpec extends SparkSpec {

  /** Mean recall@5 of the v6-configured index (derived operating point,
    * self-built — no cross-dir memo coupling in the spec) against the
    * exact brute-force top-5 over the first 20 query ids of `dir`.
    */
  private def recallAt(dir: String): Double = {
    val emb = Graft.table(spark, dir, "embeddings")
    val nc = Similarity.indexCellsFor(emb.count())
    val q = emb.filter(col("vec_id") < 20)
    val exact = Similarity.bruteForceTopK(q, emb, "vec_id", "embedding",
      topK = 5, exact = false).select("qid", "vec_id")
    val approx = Similarity.ivfTopKHier(q, emb, "vec_id", "embedding",
        topK = 5, nCells = nc, nProbe = Similarity.indexProbesFor(nc),
        superProbe = Similarity.indexSuperProbesFor(nc))
      .select("qid", "vec_id")
    val hit = exact.join(approx, Seq("qid", "vec_id"), "left_semi").count()
    hit.toDouble / exact.count()
  }

  test("derived operating point holds recall >= 0.8 at two scale factors") {
    // n = 500 (nc=90, np=29, sp=5) and n = 2000 (nc=179, np=56, sp=7):
    // the point is that NOTHING here is pinned — every parameter is a
    // function of count() — and the bar still clears at both corpus
    // sizes (engine-measured 0.88 / 0.93; the oracled v17 re-measures
    // per verify run). A pinned nProbe passes one SF and decays at the
    // next; the derived rule is what makes the audit a contract.
    val r001 = recallAt("/root/testdata/sf0.01")
    assert(r001 >= 0.8, s"recall@5 at n=500 below bar: $r001")
    val r01 = recallAt("/root/testdata/sf0.1")
    assert(r01 >= 0.8, s"recall@5 at n=2000 below bar: $r01")
    assert(r01 >= r001 - 0.1,
      s"recall must not decay materially with corpus growth: $r001 -> $r01")
  }

  test("indexCellsFor grows O(sqrt n): quantizer state stays collectable") {
    // The growth-rate probe behind the round-9 rule split: a 100×
    // corpus must grow the index quantizer ~10×, not 100× (the linear
    // cellsFor rule is for pair-generating blocking only). Checked over
    // five decades so the asymptotic rate, not a small-n artifact, is
    // what passes.
    for (n <- Seq(1e4, 1e6, 1e8, 1e10).map(_.toLong)) {
      val c1 = Similarity.indexCellsFor(n)
      val c100 = Similarity.indexCellsFor(100 * n)
      val ratio = c100.toDouble / c1
      assert(ratio <= 10.01, s"indexCellsFor not O(sqrt n): $n -> ratio $ratio")
      assert(ratio >= 9.9, s"unexpectedly sub-sqrt growth at $n: $ratio")
      // and the linear rule stays linear — the two rules must not merge
      // (checked only where cellsFor's Int cell count is representable;
      // past ~10^11 rows the linear rule is exactly the thing the index
      // rule exists to replace)
      if (100 * n / 64 < Int.MaxValue) {
        val p1 = Similarity.cellsFor(n)
        val p100 = Similarity.cellsFor(100 * n)
        assert(p100.toDouble / p1 > 99.0, "cellsFor must stay linear")
      }
    }
    // At 10^11 vectors (the ~100 TB regime at 1 KB/doc) the quantizer
    // is ~1.3M cells × 64 dims × 4 B ≈ 320 MB — large but collectable/
    // broadcastable; the linear rule's would be ~400 GB.
    assert(Similarity.indexCellsFor(100000000000L) < 1300000)
  }

  test("derived probe counts track the index: fixed fraction, floors hold") {
    // The operating point is a FUNCTION: coverage (np/nc) pinned near
    // 5/16 and sp near half the supers at any index size, with small-n
    // floors — so recall holds by construction rather than by per-SF
    // re-measurement.
    for (nc <- Seq(16, 90, 179, 566, 4000, 1265000)) {
      val np = Similarity.indexProbesFor(nc)
      val sp = Similarity.indexSuperProbesFor(nc)
      val ns = math.ceil(math.sqrt(nc.toDouble)).toInt
      assert(np >= 6 && sp >= 3)
      if (nc >= 32) {
        val frac = np.toDouble / nc
        assert(frac >= 5.0 / 16 && frac <= 5.0 / 16 + 1.0 / nc + 1e-9,
          s"np fraction drifted at nc=$nc: $frac")
        assert(sp == math.max(3, (ns + 1) / 2), s"sp rule broke at nc=$nc")
      }
    }
  }

  /** Mean recall@5 of the IVFADC pipeline (v12's configuration,
    * self-built) at `refine`, against the exact top-5 over the first 20
    * query ids — the measurement behind v24/v25: the exact re-rank tier
    * must repair the residual-PQ quantization loss v19 records, leaving
    * recall bounded by coarse-probe coverage alone.
    */
  private def ivfadcRecallAt(dir: String, refine: Int): Double = {
    val emb = Graft.table(spark, dir, "embeddings")
    val nc = Similarity.indexCellsFor(emb.count())
    val sp = Similarity.indexSuperProbesFor(nc)
    val q = emb.filter(col("vec_id") < 20)
    val exact = Similarity.bruteForceTopK(q, emb, "vec_id", "embedding",
      topK = 5, exact = false).select("qid", "vec_id")
    val cents = Similarity.kmeansCentroids(emb, "vec_id", "embedding", nc,
      iterations = 2, trainCap = Similarity.trainCapFor(nc),
      hierTrain = true)
    val idx = Similarity.ivfPqIndex(emb, "vec_id", "embedding",
      nCells = nc, m = 8, nCodes = 64, iterations = 1, trainCap = 2048,
      prebuiltCentroids = Some(cents), superProbe = sp)
    val approx = Similarity.ivfPqTopK(q, idx, "vec_id", "embedding",
        topK = 5, nProbe = Similarity.indexProbesFor(nc),
        superProbe = sp, refine = refine)
      .select("qid", "vec_id")
    val hit = exact.join(approx, Seq("qid", "vec_id"), "left_semi").count()
    hit.toDouble / exact.count()
  }

  /** Deterministic mixture-of-Gaussians embedding corpus — the
    * CLUSTERED fixture the fixture parquets don't provide (their
    * embeddings are near-random, which forces the constant-fraction
    * probe rule). k isotropic Gaussian clusters on unit-norm centers,
    * cluster by `id % k` so any id-prefix training slice covers every
    * cluster; per-id seeded Random keeps generation deterministic and
    * partition-independent (public-knowledge synthesis, the GenOsm
    * skew-witness pattern).
    */
  private def clusteredEmb(n: Int, k: Int, dim: Int = 64,
      sigma: Double = 0.08): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val centers = Array.tabulate(k) { c =>
      val r = new java.util.Random(0xC0FFEEL + c)
      val v = Array.fill(dim)(r.nextGaussian())
      val nrm = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / nrm).toFloat)
    }
    spark.range(n.toLong).map { id =>
      val r = new java.util.Random(1234567L + id)
      val v = centers((id % k).toInt)
        .map(x => x + (sigma * r.nextGaussian()).toFloat)
      (id, v)
    }.toDF("vec_id", "embedding")
  }

  test("clustered corpus: recall bar holds at O(log n) probes — sub-constant coverage") {
    // indexProbesFor's doc claims clustered data lets nProbe drop
    // toward O(log n) at the same recall (the trained quantizer
    // concentrates true neighbors into few cells, so probed-cell
    // coverage stops being the binding constraint). The fixture
    // corpora are near-random, so round 9 left the claim unmeasured —
    // this case MEASURES it: on a 32-cluster mixture-of-Gaussians
    // corpus, a Lloyd-trained quantizer at the derived cell count holds
    // recall@5 ≥ 0.8 with nProbe = 2·log₂n — a PROBED FRACTION that
    // falls from ~0.12 (n=2000) to ~0.07 (n=8000) while the
    // constant-fraction rule sits at ~0.33 — and the near-random bars
    // above stay green, so the rule keeps the bar where data gives no
    // structure and callers can cash the O(log n) cost when it does.
    def recallAt(n: Int): (Double, Double) = {
      val emb = clusteredEmb(n, k = 32)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      emb.count()
      val nc = Similarity.indexCellsFor(n)
      val sp = Similarity.indexSuperProbesFor(nc)
      val npLog = math.max(6,
        2 * (64 - java.lang.Long.numberOfLeadingZeros(n - 1L).toInt))
      val q = emb.filter(col("vec_id") < 20)
      val exact = Similarity.bruteForceTopK(q, emb, "vec_id", "embedding",
        topK = 5, exact = false).select("qid", "vec_id")
      val cents = Similarity.kmeansCentroids(emb, "vec_id", "embedding",
        nc, iterations = 2, trainCap = Similarity.trainCapFor(nc),
        hierTrain = true)
      val approx = Similarity.ivfTopKHier(q, emb, "vec_id", "embedding",
          topK = 5, nCells = nc, nProbe = npLog, superProbe = sp,
          prebuiltCentroids = Some(cents))
        .select("qid", "vec_id")
      val hit = exact.join(approx, Seq("qid", "vec_id"), "left_semi").count()
      val r = hit.toDouble / exact.count()
      emb.unpersist(false)
      (r, npLog.toDouble / nc)
    }
    val (r1, f1) = recallAt(2000)
    val (r2, f2) = recallAt(8000)
    assert(r1 >= 0.8, s"clustered recall@5 below bar at n=2000: $r1")
    assert(r2 >= 0.8, s"clustered recall@5 below bar at n=8000: $r2")
    assert(f2 < f1, s"probed fraction must SHRINK with n: $f1 -> $f2")
    assert(f1 < 5.0 / 16 && f2 < 0.5 * 5.0 / 16,
      s"log-probe coverage must sit well under the constant-fraction " +
        s"rule: $f1, $f2 vs ${5.0 / 16}")
  }

  test("refine tier repairs IVFADC recall at two scale factors") {
    // The v24/v25 contract: unrefined IVFADC recall@5 sits near the
    // v19-measured ~0.3-0.4 floor (residual-PQ quantization error), and
    // refine=10 lifts it to the coarse-coverage bound — the same band
    // the plain-IVF audit (v17) clears. Both legs of the ladder are
    // asserted at two corpus sizes so the contract is scale-stable,
    // not a one-SF accident.
    for (dir <- Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1")) {
      val unrefined = ivfadcRecallAt(dir, refine = 1)
      val refined = ivfadcRecallAt(dir, refine = 10)
      assert(refined >= 0.8, s"refined recall below bar at $dir: $refined")
      assert(refined >= unrefined + 0.3,
        s"refine tier must materially repair recall at $dir: " +
          s"$unrefined -> $refined")
    }
  }
}
