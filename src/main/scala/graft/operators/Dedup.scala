package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.functions.Text

/** Deduplication operators for document and media corpora, in the
  * shuffle-minimal shapes that survive a 100 TB corpus on a real
  * cluster:
  *   - exact: one hash-groupBy on a 128-bit fingerprint (only
  *     (fingerprint, id) pairs move, never text);
  *   - near-dup — MinHash, SimHash, perceptual Hamming, two-lane,
  *     temporal, span-temporal and region signatures: each operator is
  *     one call to the private banded-candidate core [[bandJoin]] plus
  *     its own verify step. The core bands the signatures into buckets
  *     and collects each bucket ONCE into a list of at most `cap`
  *     entries (`capped_collect`: a mega-bucket of more than `cap` rows
  *     is dropped, and no bucket ever holds more than cap + 1 entries in
  *     memory). The self form pairs inside each list (id1 < id2, at most
  *     cap·(cap−1)/2 pairs per bucket, no join); the cross form joins
  *     the index side's lists to the batch side at bucket level (index ×
  *     batch only). It then filters on the score ahead of the dedup
  *     exchange and deduplicates the pairs, so the candidate policy
  *     lives in one place. Only ids and signatures shuffle; text and
  *     media never move;
  *   - n-gram Jaccard and contamination: exact set similarity via
  *     explode + equi-join on shingle hashes, under a shingle-frequency
  *     cap (`capBuckets`, the same row-count rule);
  *   - span removal, clustering and incremental new-row filters.
  */
object Dedup {

  /** Exact dedup: keep the smallest `idCol` per identical (normalized)
    * `textCol`. Returns the surviving rows of `df`.
    */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = Window.partitionBy(Text.fingerprint(col(textCol))).orderBy(col(idCol).asc)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Exact-dup groups: fingerprint → (canonical id, dup count). */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(Text.fingerprint(col(textCol)).as("fingerprint"))
      .agg(min(col(idCol)).as("canonical_id"), count(lit(1)).as("n_dups"))

  /** MinHash signatures: one row per doc with array<long> signature of
    * length `k` over `shingleSize`-token shingles. Docs with no shingle
    * (fewer tokens than shingleSize) are dropped.
    */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
      k: Int = 32, shingleSize: Int = 3): DataFrame = {
    val sh = Text.wordShingles(col(textCol), shingleSize)
    graft.Graft.ensureParallelism(df)
      .select(col(idCol).as("id"), sh.as("shingles"))
      .filter(size(col("shingles")) > 0)
      .select(col("id"), Text.minhashSignature(col("shingles"), k).as("sig"))
  }

  /** Drop rows belonging to (keys)-groups larger than `cap` — the
    * shingle-frequency cap of [[ngramJaccardPairs]] /
    * [[crossCorpusOverlap]], whose exploded streams feed an equi-join
    * on the shingle and a per-doc kept count. ([[bandJoin]] caps inside
    * its bucket aggregate instead.)
    *
    * Implemented as a partial-aggregating `groupBy(keys).count` plus a
    * semi-join, NOT a `COUNT(*) OVER (PARTITION BY keys)` window: the
    * window form shuffles AND SORTS the entire exploded stream just to
    * count it, with zero map-side reduction. The aggregate's shuffle is
    * the distinct-keys-per-mapper residue (tiny), and the semi-join's
    * hash exchange of `df` on `keys` is the same exchange the downstream
    * same-key self-join needs — AQE reuses it, so the fat stream still
    * moves only once and never sorts. Shuffle volume is what dominates
    * LSH candidate generation at scale.
    */
  private def capBuckets(df: DataFrame, keys: Seq[String],
      cap: Int): DataFrame = {
    val ok = df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("__c"))
      .filter(col("__c") <= cap)
      .select(keys.map(col): _*)
    df.join(ok, keys, "left_semi")
  }

  /** The banded-candidate core: banding, then [[bucketPairs]] — bucket
    * cap, candidate pairs, the score filter and the pair dedup — in one
    * place for every near-dup operator.
    *
    * Each side is exploded into one row per band — `band` is an array
    * of bucket values evaluated per row, posexploded into (band, block)
    * next to the `carry` columns (`carry` starts with `id`) — and the
    * banded rows go to [[bucketPairs]] with `keys` (by default
    * (band, block)) as the bucket.
    */
  private[graft] def bandJoin(index: DataFrame, batch: Option[DataFrame],
      carry: Seq[String], band: Column, cap: Int,
      keys: Seq[String] = Seq("band", "block"), capBatch: Boolean = false,
      score: Seq[Column] = Nil, keep: Option[Column] = None,
      dedup: Boolean = true): DataFrame = {
    def banded(df: DataFrame): DataFrame =
      df.select(carry.map(col) :+ posexplode(band).as(Seq("band", "block")): _*)
    bucketPairs(banded(index), batch.map(banded), carry, keys, cap,
      capBatch, score, keep, dedup)
  }

  /** Candidate pairs of rows that already carry their bucket `keys`
    * columns — banded signatures, or the IVF family's (table, cell)
    * assignment rows.
    *
    * Each side is grouped ONCE on `keys` into bucket lists:
    * `capped_collect` of the `carry` struct (`carry` starts with `id`),
    * NULL for a bucket of more than `cap` rows (the cap counts rows, so
    * several rows of one id — region windows, slots — count
    * separately). A bucket's memory is bounded at cap + 1 entries on
    * the map side and in the merge, however large the bucket; capped
    * buckets are dropped (`cap = Int.MaxValue` caps none). Candidates
    * are rows sharing every key column:
    *   - self form (`batch = None`): no join. Each list is sorted by id
    *     and expanded in place into its (i < j) pairs — at most
    *     cap·(cap−1)/2 per bucket — keeping l.id < r.id, so a pair is
    *     emitted once per shared bucket and same-id rows never pair;
    *   - cross form: index × batch collisions only, no within-side
    *     pair. The index side's lists (always capped — it is the
    *     unbounded side at scale) join the batch side at bucket level:
    *     the batch rows, or with `capBatch` the batch side's own capped
    *     lists (at most cap² pairs per bucket).
    * The expanded sides are struct columns `l` and `r` (the carry
    * columns, `l` from the index side) next to the bucket `keys`; output
    * is (id1, id2, score...) with id1 = l.id, and `score` reads the
    * sides as `l.<col>` / `r.<col>` and the bucket by key name. `keep`
    * filters AHEAD of the dedup exchange: a pair colliding in several
    * buckets yields duplicate rows with identical deterministic scores,
    * so filter-then-distinct equals distinct-then-filter while the
    * exchange moves only survivors (39.9k → 241 rows on x8c at sf0.1).
    * `dedup = false` leaves the duplicated rows to the caller — MinHash
    * defers its distinct past the signature-estimate cut.
    */
  private[graft] def bucketPairs(index: DataFrame, batch: Option[DataFrame],
      carry: Seq[String], keys: Seq[String], cap: Int,
      capBatch: Boolean = false, score: Seq[Column] = Nil,
      keep: Option[Column] = None, dedup: Boolean = true): DataFrame = {
    val entry = struct(carry.map(col): _*)
    def lists(df: DataFrame, name: String, minSize: Int): DataFrame =
      df.groupBy(keys.map(col): _*)
        .agg(call_function("capped_collect", entry, lit(cap)).as(name))
        .filter(size(col(name)) >= minSize)
    def expand(df: DataFrame, cols: Column*): DataFrame =
      df.select(keys.map(col) ++ cols: _*)
    val sides = batch match {
      case None =>
        // sorted by id (the struct's first field): entry i pairs with
        // the entries after it, so l.id <= r.id
        val sorted = expand(lists(index, "ls", 2), sort_array(col("ls")).as("ls"))
        val left = expand(sorted, col("ls"), posexplode(col("ls")).as(Seq("i", "l")))
        expand(left, col("l"),
            explode(slice(col("ls"), col("i") + 2, size(col("ls")))).as("r"))
          .filter(col("l.id") < col("r.id"))
      case Some(b) if capBatch =>
        val both = lists(index, "ls", 1).join(lists(b, "rs", 1), keys)
        expand(expand(both, explode(col("ls")).as("l"), col("rs")),
          col("l"), explode(col("rs")).as("r"))
      case Some(b) =>
        val both = lists(index, "ls", 1).join(expand(b, entry.as("r")), keys)
        expand(both, explode(col("ls")).as("l"), col("r"))
    }
    val pairs = sides
      .select(Seq(col("l.id").as("id1"), col("r.id").as("id2")) ++ score: _*)
    val kept = keep.fold(pairs)(pairs.filter)
    if (dedup) kept.distinct() else kept
  }

  /** Cross-form output names: (id1, id2) → (index_id, batch_id). */
  private def asCross(pairs: DataFrame): DataFrame =
    pairs.withColumnsRenamed(Map("id1" -> "index_id", "id2" -> "batch_id"))

  // The band builders below spell out one element per band in an
  // `array(...)` of plain expressions, so the band Generate runs inside
  // whole-stage codegen (a `transform` lambda would keep it interpreted).

  /** `bits`-bit block `b` of the long column `sig`. */
  private def block(sig: String, b: Int, bits: Int): Column =
    shiftright(col(sig), b * bits).bitwiseAND(lit((1L << bits) - 1))

  /** Bucket values of a 64-bit `sig` cut into `bands` equal blocks
    * (64/bands bits each). Pigeonhole: a pair at Hamming distance
    * d <= bands - 1 has at least one clean block, so banded Hamming
    * recall is EXACT whenever the radius is <= bands - 1 and no bucket
    * hit the cap.
    */
  private def hammingBand(bands: Int): Column = {
    require(bands >= 2 && 64 % bands == 0, s"bands must divide 64: $bands")
    array((0 until bands).map(block("sig", _, 64 / bands)): _*)
  }

  /** Two-lane SimHash bucket values: 8 × 16-bit blocks, bands 0–3 from
    * `siga`, 4–7 from `sigb`. The first four are exactly
    * `hammingBand(4)` over siga, which is what lets one banding pass
    * serve both lanes in [[simhashNearDupsAgreement]].
    */
  private def twoLaneBand: Column =
    array((0 until 4).map(block("siga", _, 16)) ++
      (0 until 4).map(block("sigb", _, 16)): _*)

  /** MinHash bucket values: the signature cut into `bands` slices of
    * k/bands components, each slice hashed with its band number. */
  private def minhashBand(k: Int, bands: Int): Column = {
    val rowsPerBand = k / bands
    array((0 until bands).map(b =>
      hash(slice(col("sig"), b * rowsPerBand + 1, rowsPerBand), lit(b))): _*)
  }

  /** MinHash's (id, set, sig) frame — ONE tokenize+shingle pass: the
    * distinct shingle-hash sets serve both the signature
    * (minhash_from_hashes is bit-identical to the string-shingle
    * signature — same XXH64 per shingle) and the exact verify.
    * Shingling is the CPU-dominant stage of the pipeline. One combined
    * cache (two chained persists made the second materialization a
    * barrier reading the first); consumers column-prune the cached
    * batches (optimization round 17, guide §1.2/§5). trackedPersist:
    * the DocStream micro-batch loop drains it through Graft.cacheScope.
    */
  private def minhashSets(df: DataFrame, idCol: String, textCol: String,
      k: Int, shingleSize: Int): DataFrame =
    graft.Graft.trackedPersist(shingleSets(df, idCol, textCol, shingleSize)
      .withColumn("sig",
        call_function("minhash_from_hashes", col("set"), lit(k))))

  /** Per-doc distinct `shingleSize`-token shingle HASHES (id, set) —
    * 8 B per shingle, so text never moves past the scan. Docs with no
    * shingle are dropped. */
  private def shingleSets(df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int): DataFrame =
    graft.Graft.ensureParallelism(df)
      .select(col(idCol).as("id"),
        array_distinct(call_function("word_shingle_hashes",
          col(textCol), lit(shingleSize))).as("set"))
      .filter(size(col("set")) > 0)

  /** MinHash two-stage verification of band-duplicated candidates
    * (id1, id2) against the [[minhashSets]] frames of their sides:
    *   1. ESTIMATE Jaccard from the signatures (matching components / k
    *      — k long compares, no shingle materialization), cut at
    *      threshold/2, then the deferred distinct: deduplicating the few
    *      survivors is far cheaper than deduplicating the full candidate
    *      stream;
    *   2. EXACT Jaccard (array_intersect over the 64-bit shingle-hash
    *      sets — 8 B per shingle instead of the string, ~5× less join
    *      volume; equal to the string-set value up to intra-pair
    *      collision P ≈ |set|²/2^64 ≈ 1e-15) for the survivors only.
    * Stage 1 drops the vast majority of candidates at ~1% of the cost
    * of an exact intersection; the loose threshold/2 cut keeps the miss
    * probability for true near-dups small.
    */
  private def minhashVerify(cands: DataFrame, left: DataFrame,
      right: DataFrame, k: Int, threshold: Double): DataFrame = {
    val estimated = cands
      .join(left.select(col("id").as("id1"), col("sig").as("sig1")), "id1")
      .join(right.select(col("id").as("id2"), col("sig").as("sig2")), "id2")
      .withColumn("est", Text.minhashEstimate(col("sig1"), col("sig2"), k))
      .filter(col("est") >= threshold / 2)
      .select("id1", "id2", "est")
      .distinct()
      .select("id1", "id2")
    exactJaccard(estimated, left, right, threshold)
  }

  /** EXACT Jaccard of candidate pairs (id1, id2) over the (id, set)
    * shingle-hash sets of their sides, kept at >= `threshold`. */
  private def exactJaccard(pairs: DataFrame, left: DataFrame,
      right: DataFrame, threshold: Double): DataFrame =
    pairs
      .join(left.select(col("id").as("id1"), col("set").as("set1")), "id1")
      .join(right.select(col("id").as("id2"), col("set").as("set2")), "id2")
      .withColumn("inter", size(array_intersect(col("set1"), col("set2"))))
      .withColumn("uni", size(col("set1")) + size(col("set2")) - col("inter"))
      .withColumn("jaccard", col("inter").cast("double") /
        greatest(col("uni"), lit(1)).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("id1", "id2", "jaccard")

  /** Full MinHash near-dedup: [[minhashSets]] → banding of the
    * signature into `bands` bands of k/bands components (capped at 256
    * docs per bucket: a mega-bucket means the band value carries almost
    * no information while contributing O(c²) pairs) → [[minhashVerify]].
    * Output (id1, id2, jaccard) with id1 < id2 and EXACT Jaccard >=
    * `threshold`.
    */
  def minhashNearDups(df: DataFrame, idCol: String, textCol: String,
      k: Int = 32, bands: Int = 8, shingleSize: Int = 3,
      threshold: Double = 0.8): DataFrame = {
    val sets = minhashSets(df, idCol, textCol, k, shingleSize)
    minhashVerify(bandJoin(sets, None, Seq("id"), minhashBand(k, bands), 256,
      dedup = false), sets, sets, k, threshold)
  }

  /** Cross-corpus [[minhashNearDups]]: (index_id, batch_id, jaccard)
    * with EXACT Jaccard >= `threshold` — the incremental production
    * shape (a new crawl against the indexed corpus). The [[bandJoin]]
    * cross form generates index × batch candidates only, so the index's
    * self-similarity (typically most near-dup pairs — it was deduped
    * once already) costs nothing; within-batch dedup is a separate
    * batch-local step (x18/x28). Unlike the Hamming-family cross forms,
    * BOTH sides are capped, bounding any band value's cross product at
    * cap².
    */
  def minhashNearDupsCross(index: DataFrame, batch: DataFrame,
      idCol: String, textCol: String, k: Int = 32, bands: Int = 8,
      shingleSize: Int = 3, threshold: Double = 0.8,
      maxBucketSize: Int = 256): DataFrame = {
    val iSets = minhashSets(index, idCol, textCol, k, shingleSize)
    val bSets = minhashSets(batch, idCol, textCol, k, shingleSize)
    asCross(minhashVerify(bandJoin(iSets, Some(bSets), Seq("id"),
      minhashBand(k, bands), maxBucketSize, capBatch = true, dedup = false),
      iSets, bSets, k, threshold))
  }

  /** SimHash near-dup candidate pairs: 62-bit signature over
    * `shingleSize`-token shingles, banded into 4×16-bit blocks (docs
    * within Hamming distance <= 3 share at least one block by
    * pigeonhole); verified by Hamming <= `maxHamming`.
    *
    * Scale note: a FIXED Hamming radius accretes birthday-effect chance
    * pairs as the corpus grows — with 62-bit signatures, P(hamming<=16)
    * for unrelated docs is ~1e-5, so expected noise pairs grow ~n²·1e-5
    * (measured superlinear past ~100k docs in ScaleStress). For large
    * corpora tighten maxHamming toward the pigeonhole bound (<=3) or
    * widen the signature.
    */
  def simhashNearDups(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, maxBucketSize: Int = 256,
      shingleSize: Int = 3): DataFrame = {
    val sigs = graft.Graft.ensureParallelism(df).select(col(idCol).as("id"),
      Text.simhash64(col(textCol), shingleSize).as("sig"))
    hammingNearDupsSig(sigs, maxHamming, maxBucketSize, bands = 4)
  }

  private def hammingPairs(index: DataFrame, batch: Option[DataFrame],
      maxHamming: Int, cap: Int, bands: Int): DataFrame = {
    val band = hammingBand(bands)
    bandJoin(index, batch, Seq("id", "sig"), band, cap,
      score = Seq(Text.hamming64(col("l.sig"), col("r.sig")).as("hamming")),
      keep = Some(col("hamming") <= maxHamming))
  }

  /** Banded Hamming near-dup pairs over PRECOMPUTED 64-bit signatures —
    * the machinery behind [[simhashNearDups]] (text) and m11's
    * perceptual image dHash: any 64-bit similarity-preserving signature
    * feeds the same [[bandJoin]]. Input: (id, sig); output: (id1, id2,
    * hamming) with id1 < id2 and hamming <= `maxHamming`.
    *
    * Candidates share a (band, block) bucket of [[hammingBand]]; recall
    * is pigeonhole-exact whenever maxHamming <= bands - 1 — m11 runs
    * bands=8/radius-7 on that contract (so its DuckDB oracle can demand
    * the complete pair set), while the text default (bands=4, 16-bit
    * blocks, radius 3) keeps the same guarantee with production bucket
    * cardinality (2^16 values/band; 8-bit blocks would mega-bucket a
    * large corpus).
    */
  def hammingNearDupsSig(sigs: DataFrame, maxHamming: Int = 3,
      maxBucketSize: Int = 256, bands: Int = 4): DataFrame =
    hammingPairs(sigs, None, maxHamming, maxBucketSize, bands)

  /** The [[bandJoin]] cross form of [[hammingNearDupsSig]] (the
    * streaming perceptual-dedup ingest): (index_id, batch_id, hamming),
    * index side capped. */
  def hammingNearDupsSigCross(index: DataFrame, batch: DataFrame,
      maxHamming: Int = 3, maxBucketSize: Int = 256,
      bands: Int = 4): DataFrame =
    asCross(hammingPairs(index, Some(batch), maxHamming, maxBucketSize, bands))

  /** Wide-signature SimHash near-dups: TWO independent 62-bit lanes
    * (124 signature bits total), banded into 8×16-bit blocks (4 per
    * lane), verified by SUMMED Hamming distance <= `maxHamming`.
    *
    * This retires the recall-radius/birthday-noise tension of the
    * single-lane radius-16 variant: radius 32 over 124 bits sits at the
    * same relative radius as 16 over 62 (recall for a pair with bit-flip
    * rate p ≈ 0.2 is BETTER — the wider binomial concentrates, P(h<=32)
    * ≈ 0.93 vs ≈ 0.85 single-lane), while the unrelated-pair noise term
    * drops from P(h<=16|62) ≈ 1e-5 to P(h<=32|124) ≈ 6e-8, and only
    * ~10% of those chance-near pairs also collide in one of the 8
    * blocks — reported noise ≈ 1e-8·n²/2 pairs, ~3 orders below the
    * single-lane variant (flat in practice to ~10M docs; ScaleStress
    * measures the growth).
    */
  def simhashNearDups128(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 32, maxBucketSize: Int = 256,
      shingleSize: Int = 3): DataFrame =
    simhashNearDups128Sig(
      graft.Graft.ensureParallelism(df).select(col(idCol).as("id"),
        // BOTH lanes from one tokenize+shingle pass (simhash64both —
        // optimization round 17, guide §1.2 per-task work): the separate
        // simhash64/simhash64b expressions each re-split and re-build
        // the shingle strings, which is over half the signature cost.
        Text.simhash64both(col(textCol), shingleSize).as("sig2"))
        .select(col("id"), col("sig2").getItem(0).as("siga"),
          col("sig2").getItem(1).as("sigb")),
      maxHamming, maxBucketSize)

  private def laneAHamming: Column = Text.hamming64(col("l.siga"), col("r.siga"))
  private def wideHamming: Column =
    laneAHamming + Text.hamming64(col("l.sigb"), col("r.sigb"))

  /** [[simhashNearDups128]] over PRECOMPUTED two-lane signatures —
    * input (id, siga, sigb). Factored out so callers that already hold
    * the signature frame (x35's dedup-agreement audit shares one
    * signature scan across its lanes) skip the text pass entirely.
    */
  def simhashNearDups128Sig(sigs: DataFrame,
      maxHamming: Int = 32, maxBucketSize: Int = 256): DataFrame =
    bandJoin(sigs, None, Seq("id", "siga", "sigb"),
      twoLaneBand, maxBucketSize, score = Seq(wideHamming.as("hamming")),
      keep = Some(col("hamming") <= maxHamming))

  /** BOTH SimHash lanes' near-dup pair sets from ONE [[bandJoin]] pass
    * — the dedup-agreement audit's shape (x35). Input (id, siga, sigb);
    * output (lane, id1, id2) with lane ∈ {'a', 'wide'}: 'a' = lane-A
    * radius `maxHammingA` pairs (exactly [[hammingNearDupsSig]] over
    * siga, bands = 4), 'wide' = two-lane summed-radius `maxHammingWide`
    * pairs (exactly [[simhashNearDups128Sig]]).
    *
    * Exactness: [[twoLaneBand]]'s bands 0–3 are lane A's 4×16-bit
    * banding — same band ids, same block values — so the (band, block)
    * groups for band < 4 are row-identical to the single-lane banding
    * and ONE cap yields both lanes' capped streams exactly. The A lane
    * keeps pairs colliding in a band < 4 within `maxHammingA`; the wide
    * lane keeps pairs colliding anywhere within `maxHammingWide` —
    * bit-identical to the two independent pipelines (TextDedupSpec pins
    * this) at half the banding and bucket-list stages, and the bucket
    * aggregate's exchange is shared between the two output branches
    * (optimization round 17, guide §2.4). Each lane filters ahead of
    * its own dedup exchange, the [[bandJoin]] rule.
    */
  def simhashNearDupsAgreement(sigs: DataFrame, maxHammingA: Int = 3,
      maxHammingWide: Int = 32, maxBucketSize: Int = 256): DataFrame = {
    val joined = bandJoin(sigs, None,
      Seq("id", "siga", "sigb"), twoLaneBand, maxBucketSize,
      score = Seq(col("band"), laneAHamming.as("ha"),
        wideHamming.as("hw")),
      dedup = false)
    def lane(name: String, keep: Column): DataFrame =
      joined.filter(keep)
        .select(lit(name).as("lane"), col("id1"), col("id2"))
        .distinct()
    lane("a", col("band") < 4 && col("ha") <= maxHammingA)
      .unionByName(lane("wide", col("hw") <= maxHammingWide))
  }

  /** Banded Hamming pairs verified against per-asset signature arrays —
    * the temporal, span-temporal and region families. `slotted` bands
    * on (slot, band, block), so a pair must collide on the SAME slot;
    * otherwise on (band, block) across rows. `arrays` builds (id, arr)
    * per side and `score` compares two assets' arrays; pairs scoring <=
    * `maxHamming` are kept as (id1, id2, <name>). Per-asset state is
    * bounded (k slots, R regions, S spans × k slots) and only
    * (id, slot/region, 8 B sig) rows shuffle — media never leaves its
    * scan.
    *
    * The self form persists its signatures: the bucket lists and both
    * verify arrays read them, and the signature computation is the
    * plan's only CPU-heavy stage. trackedPersist, not a bare persist:
    * micro-batch callers (the stream gates) wrap each batch in
    * Graft.cacheScope and drain tracked intermediates at batch end; a
    * plain persist would accrete one orphaned cached frame per
    * micro-batch. Cross forms read their inputs once per consumer and
    * persist nothing.
    */
  private def arrayPairs(index: DataFrame, batch: Option[DataFrame],
      maxHamming: Int, cap: Int, bands: Int, slotted: Boolean, name: String)(
      arrays: DataFrame => DataFrame,
      score: (Column, Column) => Column): DataFrame = {
    val band = hammingBand(bands)
    val sigs = if (batch.isEmpty) graft.Graft.trackedPersist(index) else index
    val (carry, keys) =
      if (slotted) (Seq("id", "slot", "sig"), Seq("slot", "band", "block"))
      else (Seq("id", "sig"), Seq("band", "block"))
    bandJoin(sigs, batch, carry, band, cap, keys)
      .join(arrays(sigs).select(col("id").as("id1"), col("arr").as("a1")), "id1")
      .join(arrays(batch.getOrElse(sigs))
        .select(col("id").as("id2"), col("arr").as("a2")), "id2")
      .withColumn(name, score(col("a1"), col("a2")))
      .filter(col(name) <= maxHamming)
      .select(col("id1"), col("id2"), col(name))
  }

  /** A group's (slot, sig) rows as a slot-ordered array. */
  private def slotList: Column =
    sort_array(collect_list(struct(col("slot"), col("sig"))))

  /** Worst aligned slot of two slot arrays. zip_with pads the shorter
    * side with nulls; a null (padded slot or null signature) scores 65
    * (> any real distance), so it surfaces as a non-match instead of
    * array_max silently skipping it. */
  private def slotMax(a: Column, b: Column): Column =
    array_max(zip_with(a, b, (x, y) =>
      coalesce(Text.hamming64(x.getField("sig"), y.getField("sig")), lit(65L))))

  /** Minimum of `f` over the cross product of two arrays. */
  private def crossMin(a: Column, b: Column)(f: (Column, Column) => Column): Column =
    array_min(flatten(transform(a, x => transform(b, y => f(x, y))))).cast("long")

  private def temporalPairs(index: DataFrame, batch: Option[DataFrame],
      maxHamming: Int, cap: Int, bands: Int): DataFrame =
    arrayPairs(index, batch, maxHamming, cap, bands, slotted = true,
      "max_hamming")(_.groupBy(col("id")).agg(slotList.as("arr")),
      (a, b) => when(size(a) === size(b), slotMax(a, b)))

  /** Banded Hamming near-dup pairs over MULTI-SLOT 64-bit signatures —
    * the temporal extension of [[hammingNearDupsSig]] for video
    * (m14: one [[graft.operators.Multimodal.videoDHash]] frame hash
    * per sampled slot). Input: (id, slot, sig); output: (id1, id2)
    * with id1 < id2, for pairs with equal slot counts where EVERY
    * aligned slot is within `maxHamming` — the whole-clip near-dup
    * semantic (a re-encode / rescale of the same clip perturbs every
    * frame a little; unrelated clips differ a lot in at least one frame
    * — measured on the m14 corpus: planted re-encode pairs' worst slot
    * ≤ 8 bits, unrelated pairs' worst slot ≥ 25). Since round 14 the
    * upstream [[graft.operators.Multimodal.videoDHash]] samples slots
    * at fixed fractions of DURATION and always emits k of them, so
    * re-encodes at a DIFFERENT FRAME RATE (the m18 frame-duplicated
    * upsample) align slot-for-slot on content time; the equal-slot-count
    * guard remains for direct callers feeding differing slot counts
    * (different k — different signatures, never comparable).
    *
    * Candidates are (slot, band, block) bucket collisions — a pair
    * must collide on the SAME slot, so buckets stay small. Pigeonhole
    * recall is EXACT when maxHamming ≤ bands - 1: an all-slots pair
    * has (in particular) slot 0 within the radius, that slot has a
    * clean block, and the pair is a candidate — so the m14 oracle can
    * demand the complete pair set. The default bands=16 (4-bit blocks)
    * buys the radius-15 pigeonhole at fixture bucket cardinality;
    * production keeps wider blocks at a tighter radius (the
    * hammingNearDupsSig trade).
    */
  def temporalNearDupsSig(sigs: DataFrame, maxHamming: Int = 15,
      maxBucketSize: Int = 256, bands: Int = 16): DataFrame =
    temporalPairs(sigs, None, maxHamming, maxBucketSize, bands)
      .select(col("id1"), col("id2"))

  /** The [[bandJoin]] cross form of [[temporalNearDupsSig]] (the
    * streaming video ingest): (index_id, batch_id, max_hamming), where
    * max_hamming is the worst aligned slot; index side capped. */
  def temporalNearDupsSigCross(index: DataFrame, batch: DataFrame,
      maxHamming: Int = 15, maxBucketSize: Int = 256,
      bands: Int = 16): DataFrame =
    asCross(temporalPairs(index, Some(batch), maxHamming, maxBucketSize, bands))

  /** Banded Hamming near-dup pairs over SPAN-FAMILY MULTI-SLOT
    * signatures — [[temporalNearDupsSig]]'s all-aligned-slots rule
    * composed with [[regionNearDupsSig]]'s min-over-cross-product rule
    * (m20: trim-robust video). Input: (id, span, slot, sig) from
    * [[graft.operators.Multimodal.videoSpanDHash]] — every emitted
    * span carries exactly k slots; output (id1, id2, min_hamming) for
    * pairs where SOME span pair's WORST aligned slot is within
    * `maxHamming` (min over the span cross product of the per-span-pair
    * slot maximum — a trimmed re-upload matches through its full span
    * against the base's aligned sub-span, slot for slot).
    *
    * Candidates are (slot, band, block) bucket collisions WITHOUT the
    * span id (the regionNearDupsSig rule: the matching span pair has
    * DIFFERENT span ids on the two sides). Pigeonhole recall stays
    * EXACT at maxHamming ≤ bands − 1: the minimizing span pair's slot
    * 0 is within the radius, has a clean block, and both rows land in
    * that (slot=0, band, block) bucket. Per-asset verify state is
    * bounded at S·k hashes (≤ S²·k popcounts per candidate). The S×
    * band-row and ≤S² candidate-volume factors are the m17 patch-hash
    * trade restated in time; production uses wider blocks at a tighter
    * radius (the hammingNearDupsSig bucket-cardinality trade).
    */
  def spanTemporalNearDupsSig(sigs: DataFrame, maxHamming: Int = 15,
      maxBucketSize: Int = 256, bands: Int = 16): DataFrame =
    arrayPairs(sigs, None, maxHamming, maxBucketSize, bands, slotted = true,
      "min_hamming")(
      // per-asset span arrays of slot-ordered signatures
      _.groupBy(col("id"), col("span")).agg(slotList.as("fr"))
        .groupBy(col("id")).agg(collect_list(col("fr")).as("arr")),
      crossMin(_, _)(slotMax))

  private def regionPairs(index: DataFrame, batch: Option[DataFrame],
      maxHamming: Int, cap: Int, bands: Int): DataFrame =
    arrayPairs(index, batch, maxHamming, cap, bands, slotted = false,
      "min_hamming")(_.groupBy(col("id")).agg(collect_list(col("sig")).as("arr")),
      crossMin(_, _)(Text.hamming64))

  /** Banded Hamming near-dup pairs over MULTI-REGION 64-bit signatures
    * — the CROP-ROBUST extension of [[hammingNearDupsSig]] (m17: one
    * [[graft.operators.Multimodal.regionDHash]] hash per overlapping
    * window of the fixed family). Input: (id, sig) with ONE ROW PER
    * REGION WINDOW (the region id itself is not needed — the verify
    * step minimizes over the full cross product); output:
    * (id1, id2, min_hamming) with id1 < id2, for pairs whose MINIMUM
    * Hamming distance over the REGION CROSS PRODUCT is within
    * `maxHamming` — ANY one aligned-content window pair suffices (a
    * crop reproduces one of the original's windows exactly, so the
    * minimum hits 0 while every same-region comparison drifts far).
    *
    * Candidates are (band, block) bucket collisions WITHOUT the region
    * id in the key: the matching window pair of a crop has DIFFERENT
    * region ids on the two sides (crop's full window 0 vs original's
    * center window 1), so banding must collide across regions.
    * Pigeonhole recall stays EXACT when maxHamming ≤ bands - 1: the
    * minimizing region pair has a clean block, both rows land in that
    * (band, block) bucket, and the pair is a candidate. Per-asset
    * verify state is bounded at R region hashes (R=7 — the cross
    * product is ≤ 49 popcounts per candidate). Production keeps 16-bit
    * bands at a tighter radius (the hammingNearDupsSig
    * bucket-cardinality trade) — R× the rows per band of the
    * single-hash path, the standard patch-hash cost.
    */
  def regionNearDupsSig(sigs: DataFrame, maxHamming: Int = 7,
      maxBucketSize: Int = 256, bands: Int = 8): DataFrame =
    regionPairs(sigs, None, maxHamming, maxBucketSize, bands)

  /** The [[bandJoin]] cross form of [[regionNearDupsSig]] (the
    * streaming CROP gate: a cropped repost of an indexed image matches
    * through the region cross product where the single-hash gate is
    * blind): (index_id, batch_id, min_hamming), index side capped. */
  def regionNearDupsSigCross(index: DataFrame, batch: DataFrame,
      maxHamming: Int = 7, maxBucketSize: Int = 256,
      bands: Int = 8): DataFrame =
    asCross(regionPairs(index, Some(batch), maxHamming, maxBucketSize, bands))

  /** Exact n-gram Jaccard for pairs above `threshold`, two-stage:
    *
    *   1. CANDIDATES — explode per-doc distinct shingle HASHES (8 B each;
    *      text never moves) and drop shingles whose document frequency
    *      exceeds `maxDocFreq` — the ubiquitous-shingle cap, the same
    *      mega-bucket guard every LSH candidate generator here routes
    *      through. Equi-join the capped stream on shingle → distinct
    *      (id1, id2) candidate pairs. The cap bounds per-shingle join
    *      fan-out at O(maxDocFreq²); without it a single stopword shingle
    *      present in c docs contributes O(c²) pairs (10¹² rows from one
    *      boilerplate phrase in a 1M-doc corpus).
    *   2. VERIFY — join candidates back to the FULL per-doc hashed
    *      shingle sets and compute the exact Jaccard (array_intersect):
    *      the cap decides which pairs are CONSIDERED, never the value.
    *
    * A pair whose EVERY common shingle appears in more than `maxDocFreq`
    * docs is not reported; at any useful threshold such pairs share only
    * boilerplate. `maxDocFreq <= 0` disables the cap (full exact answer —
    * viable only on a pre-blocked candidate scope). Jaccard over 64-bit
    * hash sets equals the string-set value (collision P ≈ |set|²/2^64).
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, threshold: Double = 0.5,
      maxDocFreq: Int = 1000): DataFrame = {
    val sets = shingleSets(df, idCol, textCol, shingleSize)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val exploded = sets.select(col("id"), explode(col("set")).as("sh"))
    // The capped exploded stream is deliberately NOT persisted
    // (optimization round 17, guide §5): it is docs×shingles rows — the
    // widest stream of the pipeline, a spill bomb at corpus scale — and
    // its three consumers get it cheaply anyway: the self-join's l/r
    // sides share one exchange (identical subtree, ReusedExchange), and
    // the per-doc kept-count below re-runs only the explode+cap from the
    // `sets` cache. Same-window min-of-N measured the persist as pure
    // overhead (sf0.1 1.91→1.80 s, sf1 4.54→3.80 s without it).
    val capped =
      if (maxDocFreq > 0) capBuckets(exploded, Seq("sh"), maxDocFreq)
      else exploded
    // Candidate pairs with their CAPPED-intersection count — a thin
    // (id1, id2, ci) aggregate over the equi-join, no arrays moved.
    val l = capped.as("l")
    val r = capped.as("r")
    val ci = l.join(r, col("l.sh") === col("r.sh") && col("l.id") < col("r.id"))
      .groupBy(col("l.id").as("id1"), col("r.id").as("id2"))
      .agg(count(lit(1)).as("ci"))
    // PROVABLE upper bound on each pair's true Jaccard before any array
    // touches the wire: shared shingles are either df<=cap (all counted
    // in ci) or capped out of BOTH docs (at most min of the two docs'
    // capped-out counts), and inter <= min(|set1|, |set2|) always. Pairs
    // whose bound misses `threshold` are dropped HERE — at web scale the
    // candidate stream is dominated by pairs sharing a handful of
    // shingles, and this cut spares them the exact-verify join of full
    // shingle arrays (the stage that dominated x6). With the cap
    // disabled ci IS the true intersection and the bound is exact.
    val docStats = sets.select(col("id"), size(col("set")).cast("long").as("sz"))
      .join(capped.groupBy("id").agg(count(lit(1)).as("__kept")), Seq("id"), "left")
      .select(col("id"), col("sz"),
        (col("sz") - coalesce(col("__kept"), lit(0L))).as("dropped"))
    val bounded = ci
      .join(docStats.select(col("id").as("id1"), col("sz").as("sz1"),
        col("dropped").as("d1")), "id1")
      .join(docStats.select(col("id").as("id2"), col("sz").as("sz2"),
        col("dropped").as("d2")), "id2")
      .withColumn("__mi", least(col("ci") + least(col("d1"), col("d2")),
        least(col("sz1"), col("sz2"))))
      .filter(col("__mi").cast("double") /
        (col("sz1") + col("sz2") - col("__mi")).cast("double") >= threshold)
      .select("id1", "id2")
    // Exact verification (full sets) only for pairs that can still pass.
    exactJaccard(bounded, sets, sets, threshold)
  }

  /** Boilerplate span removal — the within-document half of dedup
    * (Lee et al., "Deduplicating Training Data Makes Language Models
    * Better"): strip the token SPANS that repeat across the corpus
    * (headers, footers, navigation, license blocks) and keep the unique
    * prose around them. A token is removed iff any `shingleSize`-token
    * shingle covering it occurs in >= `minDf` distinct documents.
    *
    * Scale shape: only (128-bit window fingerprint, doc, position) rows
    * shuffle;
    * the high-df fingerprint table after the cut is vocabulary-bounded
    * (broadcastable — boilerplate is by definition a small set of
    * frequent spans), text moves once through the final doc-keyed join,
    * and reconstruction is a position-indexed array filter with no
    * per-token shuffle.
    *
    * Output: id, n_tokens, n_removed, cleaned (kept tokens in order,
    * space-joined).
    */
  def stripBoilerplateSpans(df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, minDf: Int = 4): DataFrame = {
    val base = df.select(col(idCol).as("id"),
      Text.tokens(col(textCol)).as("toks"))
    // Two-seed XXH64 window fingerprint (see windowFingerprints): 16
    // fixed bytes on the wire instead of a 32-char md5 hex string, no
    // digest/hex per shingle (optimization round 17, guide §2.3/§4.1).
    val shing = windowFingerprints(df, idCol, textCol, shingleSize)
    val hiDf = shing.select("id", "f1", "f2").distinct()
      .groupBy("f1", "f2").agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf)
      .select("f1", "f2")
    // collect_set is itself a (partial-aggregating, map-side) dedup, so
    // no distinct() ahead of it: the covered-position stream moves
    // through ONE exchange keyed by id instead of an extra (id, p)
    // distinct exchange first (guide §2.4; optimization round 17).
    val covered = shing.join(hiDf, Seq("f1", "f2"))
      .select(col("id"),
        explode(sequence(col("b"), col("b") + lit(shingleSize - 1))).as("p"))
      .groupBy("id").agg(collect_set(col("p")).as("cov"))
    base.join(covered, Seq("id"), "left")
      .select(col("id"),
        size(col("toks")).cast("long").as("n_tokens"),
        coalesce(size(col("cov")), lit(0)).cast("long").as("n_removed"),
        array_join(expr(
          "filter(toks, (t, i) -> cov IS NULL OR NOT array_contains(cov, i + 1))"),
          " ").as("cleaned"))
  }

  /** Eval-set contamination check: for each document in `eval`, the
    * `train` documents sharing at least `minShared` distinct
    * `shingleSize`-token shingles, with the overlap fraction relative to
    * the eval doc's full shingle set.
    *
    * Same scale shape as `ngramJaccardPairs`: per-doc distinct shingle
    * HASHES move (8 B each, text never shuffles), the train-side explode
    * is document-frequency capped (a boilerplate shingle in `c` train
    * docs would otherwise fan out c rows per eval shingle — and capped
    * shingles are exactly the ones that are no contamination EVIDENCE),
    * and the join is a shingle equi-join, never a corpus product. The
    * eval side is typically a benchmark suite — small enough that its
    * exploded stream broadcasts.
    *
    * Output: eval_id, train_id, n_shared (capped shingles only),
    * overlap_frac = n_shared / |eval doc's full shingle set|.
    */
  def crossCorpusOverlap(train: DataFrame, eval: DataFrame,
      idCol: String, textCol: String, shingleSize: Int = 3,
      minShared: Int = 2, maxDocFreq: Int = 1000): DataFrame = {
    def sets(df: DataFrame) = shingleSets(df, idCol, textCol, shingleSize)
    // capBuckets consumes the exploded train stream TWICE (the df-count
    // aggregate and the semi-join left side), and shingle hashing is the
    // CPU-dominant stage — so the train side is persisted. Round 16
    // cached the EXPLODED (id, sh) stream; that materializes
    // docs×shingles ROWS (the widest stream of the pipeline — a spill
    // bomb at 100 TB, and the driver measured x12 1.72 s vs ≤1.37 s
    // before it landed). Round 17 narrows the cache to the per-doc hash
    // SETS: same hashes, ~shingles-per-doc× fewer rows, and each
    // consumer re-runs only the cheap explode from cache (guide
    // §1.2/§5; same-window min-of-4 at sf0.1: exploded persist 1.63 s,
    // no persist 1.35 s, set persist 1.22 s). No persist at all when
    // maxDocFreq <= 0 — the stream then has a single consumer and the
    // cache would be pure write overhead (ADVICE r16).
    val tSets =
      if (maxDocFreq > 0)
        graft.Graft.trackedPersist(sets(train), StorageLevel.MEMORY_AND_DISK)
      else sets(train)
    val tExploded = tSets.select(col("id"), explode(col("set")).as("sh"))
    val tCapped =
      if (maxDocFreq > 0) capBuckets(tExploded, Seq("sh"), maxDocFreq)
      else tExploded
    val eSets = sets(eval).persist(StorageLevel.MEMORY_AND_DISK)
    val eExploded = eSets.select(col("id").as("eval_id"), explode(col("set")).as("sh"))
    tCapped.join(eExploded, "sh")
      .filter(col("id") =!= col("eval_id"))
      .groupBy(col("eval_id"), col("id").as("train_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .join(eSets.select(col("id").as("eval_id"),
        size(col("set")).cast("long").as("__esz")), "eval_id")
      .select(col("eval_id"), col("train_id"), col("n_shared"),
        (col("n_shared").cast("double") / col("__esz").cast("double"))
          .as("overlap_frac"))
  }

  /** Connected components over near-dup pairs: (canonical_id, member_id)
    * for every doc in at least one pair, canonical = min id in the
    * component. The step a training pipeline actually needs after pair
    * generation — KEEP canonical, DROP the other members — since
    * near-dup relations chain (A≈B, B≈C with A,C below threshold must
    * still dedup to one survivor).
    *
    * Min-label propagation: each round every node takes the min of its
    * own and its neighbors' labels — one equi-join + one groupBy per
    * round, labels and edges only ever shuffle on node id, no
    * driver-side graph state. Each node's PREVIOUS label rides through
    * the same groupBy (min over the own-tagged rows), so the convergence
    * check is a filter-count on the round's persisted output — the one
    * action that also materializes the cache. One Spark job per round,
    * not a propagate job plus a separate old-vs-new comparison join.
    *
    * Each round ALSO pointer-jumps (label doubling): every node takes
    * its label's label via a labels-on-labels equi-join, so label paths
    * double their reach each round and convergence is O(log diameter),
    * not O(diameter) — a 64-node chain closes in 8 rounds (reach
    * 2^(round-1), plus one no-change round) where plain neighbor
    * propagation needs 64 and would blow the cap (TextDedupSpec pins
    * this). Near-dup
    * clusters are near-cliques (diameter ~2-3) where both forms cost
    * the same 2-3 rounds; the doubling is what makes adversarial
    * long-chain graphs safe at web scale. The iteration cap FAILS
    * rather than returning a partial clustering.
    */
  def dupClusters(pairs: DataFrame, id1: String = "id1", id2: String = "id2",
      maxIter: Int = 20): DataFrame = {
    // both edge directions from ONE scan of the (expensive) pair plan
    val edges = pairs.select(explode(array(
        struct(col(id1).as("src"), col(id2).as("dst")),
        struct(col(id2).as("src"), col(id1).as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // lineage is TRUNCATED each round (lazy, materialized by the
    // convergence count — still one job per round): each round
    // references the previous one three times (own rows, neighbor join,
    // pointer jump), so an un-truncated plan would grow 3^rounds nodes
    // and drown the driver in canonicalization long before the
    // executors see data. Graft.truncate picks local vs reliable
    // checkpointing by `graft.checkpoint.dir`.
    var labels = graft.Graft.truncate(
      edges.select(col("src").as("node")).distinct()
        .withColumn("lbl", col("node")),
      eager = false)
    var iter = 0
    var done = false
    try {
    while (!done && iter < maxIter) {
      val fromNbr = edges.join(labels, edges("dst") === labels("node"))
        .select(edges("src").as("node"), col("lbl"), lit(false).as("own"))
      // pointer jump: node -> lbl -> lbl's lbl (labels only ever hold
      // node ids, so the inner self-join is total). Skipped in round 1,
      // where labels are still the identity and the jump is a no-op.
      val withPtr =
        if (iter == 0) labels.select(col("node"), col("lbl"), lit(true).as("own"))
        else {
          val viaPtr = labels.as("a")
            .join(labels.as("b"), col("a.lbl") === col("b.node"))
            .select(col("a.node").as("node"), col("b.lbl").as("lbl"),
              lit(false).as("own"))
          labels.select(col("node"), col("lbl"), lit(true).as("own"))
            .unionByName(viaPtr)
        }
      val next = graft.Graft.truncate(
        withPtr
          .unionByName(fromNbr)
          .groupBy("node").agg(min("lbl").as("lbl"),
            min(when(col("own"), col("lbl"))).as("__old")),
        eager = false)
      // if the materializing count dies mid-flight, release THIS round's
      // partially-written checkpoint blocks here (the outer catch only
      // sees `labels`, still the previous round at that point)
      val changed =
        try next.filter(col("lbl") =!= col("__old")).count()
        catch { case t: Throwable =>
          graft.Graft.releaseTruncated(next); throw t }
      // the count materialized `next`; round t-1's checkpoint blocks are
      // now unreferenced — release them (Dataset.unpersist would be a
      // CacheManager no-op for a checkpointed frame)
      graft.Graft.releaseTruncated(labels)
      labels = next
      done = changed == 0
      iter += 1
    }
    require(done, s"dupClusters did not converge in $maxIter rounds")
    } catch { case t: Throwable =>
      // failure paths (executor loss mid-count, the non-convergence
      // require) must release the CURRENT round's checkpoint blocks too
      // — on success they back the returned frame, but nothing holds
      // them after a throw; loop callers (streaming micro-batches)
      // would otherwise accrete one orphaned checkpoint per retry
      graft.Graft.releaseTruncated(labels)
      throw t
    // and the edges cache is released on EVERY path (the old
    // session-wide clearCache safety net is gone by design)
    } finally edges.unpersist()
    labels.select(col("lbl").as("canonical_id"), col("node").as("member_id"))
  }

  /** Apply a clustering: drop every non-canonical member (anti-join on
    * the cluster losers — docs in no cluster pass through untouched).
    */
  def keepCanonical(df: DataFrame, idCol: String,
      clusters: DataFrame): DataFrame =
    df.join(
      clusters.filter(col("canonical_id") =!= col("member_id"))
        .select(col("member_id").as(idCol)),
      Seq(idCol), "left_anti")

  /** Bloom-prefiltered incremental dedup: the rows of `batch` whose
    * `keyCol` does NOT appear in `index`, exactly — the Bloom sketch
    * only routes rows, it never decides membership.
    *
    *   1. BUILD — one distributed aggregation over the index keys
    *     (`xxhash64` → `putLong`, merged bitwise-OR) collects the sketch
    *     to the driver. Like the k-means centroids, the collected state
    *     is O(sketch bits), not O(rows): ~1.2 bits · n · ln(1/fpp)/ln²2,
    *     i.e. ~180 MiB for 10⁹ index keys at fpp 0.03. In production the
    *     sketch is a persisted SIDECAR of the snapshot — built once per
    *     index update, loaded for every batch, so steady-state runs skip
    *     the index scan entirely.
    *   2. PREFILTER — `BloomFilterMightContain` over the broadcast
    *     sketch literal (codegen'd, no UDF) splits the batch:
    *     definitely-new rows (the overwhelming majority when dup rate is
    *     low) bypass the join COMPLETELY — their full-width rows never
    *     shuffle.
    *   3. VERIFY — only might-contain rows (true dups + the fpp
    *     fraction) anti-join the index keys. This join shuffles ~
    *     (dupRate + fpp)·|batch| thin rows instead of the whole batch;
    *     the index side ships only its pruned key column.
    *
    * Equivalent to `batch.join(index, keyCol, "left_anti")` for every
    * sketch content — false positives are re-checked by the join, and
    * false negatives cannot exist. Output column order is `batch`'s.
    */
  def incrementalNewRows(index: DataFrame, batch: DataFrame,
      keyCol: String, expectedItems: Long = 1000000L,
      fpp: Double = 0.03): DataFrame = {
    // the key projection feeds BOTH the sketch build and the verify
    // anti-join — persist it so a derived key (e.g. an md5 fingerprint
    // over full text) is computed once, not per consumer
    val keyed = index.select(col(keyCol)).persist(StorageLevel.MEMORY_AND_DISK)
    val sketch = keyed.select(xxhash64(col(keyCol)).as("__k"))
      .stat.bloomFilter("__k", expectedItems, fpp)
    val bytes = {
      val bos = new java.io.ByteArrayOutputStream()
      sketch.writeTo(bos)
      bos.toByteArray
    }
    val maybe = org.apache.spark.sql.GraftColumnBridge
      .mightContainLong(bytes, xxhash64(col(keyCol)))
    val definitelyNew = batch.filter(!maybe)
    val verified = batch.filter(maybe)
      .join(keyed.distinct(), Seq(keyCol), "left_anti")
    definitelyNew.unionByName(verified)
  }

  /** Every `width`-token window of every document, fingerprinted:
    * (id, b, f1, f2) where `b` is the 1-based start position and
    * (f1, f2) a two-seed XXH64 128-bit-class fingerprint of the
    * space-joined window (word_window_fp128 — joint collision P ≈ 2⁻¹²⁸
    * per pair, the md5 class). One row per token position — linear in
    * corpus size; only 16 fixed fingerprint bytes + two ints ever
    * shuffle. Was md5-hex: a 32-char string per token position was both
    * the widest shuffle of the span pipelines (x36 sf1 profile: 90.4 MB
    * partial-agg exchange, 1 s GC) and a cryptographic digest + hex
    * encode per window (guide §2.3 narrower types / §4.1 per-task work;
    * optimization round 17).
    */
  private def windowFingerprints(df: DataFrame, idCol: String,
      textCol: String, width: Int): DataFrame =
    df.select(col(idCol).as("id"),
        posexplode(call_function("word_window_fp128",
          col(textCol), lit(width))).as(Seq("i0", "fp")))
      .select(col("id"), (col("i0") + 1).as("b"),
        col("fp").getField("f1").as("f1"), col("fp").getField("f2").as("f2"))

  /** Cross-document duplicate-SPAN extraction — the window-granular form
    * of exact-substring dedup (Lee et al., "Deduplicating Training Data
    * Makes Language Models Better", arXiv:2107.06499 §2.2, replacing the
    * suffix array with fixed-width fingerprinted windows): a window whose
    * fingerprint occurs in ≥2 distinct documents is duplicated text, and
    * overlapping/adjacent duplicated windows merge (gaps-and-islands)
    * into maximal per-document spans.
    *
    * Differs from [[stripBoilerplateSpans]] (high-df boilerplate, df ≥
    * minDf, removes every occurrence) in threshold (any cross-doc
    * duplicate), window width (wider ⇒ chance n-gram collisions are
    * negligible) and output (maximal merged spans, not coverage).
    *
    * Scale shape: the duplicated-fingerprint filter is a combinable
    * groupBy (count-distinct-id per fingerprint — partial aggregation
    * absorbs hot boilerplate fingerprints), the islands merge is a
    * window function partitioned by document, and the candidate join is
    * a fingerprint equi-join. Text never shuffles; no document pair is
    * ever materialized.
    *
    * Output: id, span_start (1-based token pos), span_end, span_tokens.
    */
  def dupSpans(df: DataFrame, idCol: String, textCol: String,
      width: Int = 8): DataFrame = {
    val wins = windowFingerprints(df, idCol, textCol, width)
    // "occurs in >= 2 DISTINCT documents" as min(id) <> max(id): exactly
    // count_distinct(id) >= 2 for non-null ids, but a plain combinable
    // min/max aggregate — ONE exchange of (f, id-extremes) instead of
    // count_distinct's two-stage distinct expansion (partial keys (f,id)
    // → exchange → exchange by f), which was the widest shuffle of the
    // x36 pipeline (optimization round 16, guide §2.4: plan went
    // 3 Exchange → 2).
    val dupF = wins.groupBy("f1", "f2")
      .agg(min(col("id")).as("__mn"), max(col("id")).as("__mx"))
      .filter(col("__mn") =!= col("__mx")).select("f1", "f2")
    mergeSpans(wins.join(dupF, Seq("f1", "f2")), width)
      .select(col("id"), col("s").cast("long").as("span_start"),
        col("e").cast("long").as("span_end"),
        (col("e") - col("s") + 1).cast("long").as("span_tokens"))
  }

  /** Gaps-and-islands merge of per-document `width`-token windows
    * (id, b) into maximal disjoint spans (id, g, s, e). */
  private def mergeSpans(wins: DataFrame, width: Int): DataFrame = {
    val byPos = Window.partitionBy("id").orderBy("b")
    val preceding = byPos.rowsBetween(Window.unboundedPreceding, -1)
    wins.select(col("id"), col("b"), (col("b") + lit(width - 1)).as("e"))
      .withColumn("newSpan",
        when(col("b") > coalesce(max(col("e")).over(preceding), lit(-1L)) + 1,
          1).otherwise(0))
      .withColumn("g", sum(col("newSpan")).over(byPos))
      .groupBy(col("id"), col("g"))
      .agg(min(col("b")).as("s"), max(col("e")).as("e"))
  }

  /** Keep-first-occurrence duplicate-span REMOVAL (the apply side of
    * [[dupSpans]], with Lee et al.'s all-but-one semantics): for every
    * window fingerprint occurring ≥2 times anywhere in the corpus
    * (cross- OR within-document), the globally first occurrence — min
    * (id, position) — survives; every other occurrence's token range is
    * deleted and the document re-assembled from the surviving tokens.
    *
    * The keeper is an associative min over the (id, position) STRUCT
    * (lexicographic — the "globally first" order itself), NOT a
    * row_number window over the fingerprint: a boilerplate fingerprint
    * present in millions of documents would make that window a
    * single-task skew point, while min() combines map-side. The struct
    * form has no packing bound — any document length, any id range
    * (the earlier packed id·2²⁰+pos key silently corrupted keeper
    * election past 2²⁰ tokens per document).
    *
    * Removed coverage is held as merged SPANS per document (the
    * [[dupSpans]] gaps-and-islands merge over the non-keeper windows),
    * so per-document aggregation state is ∝ span count, not removed-
    * token count — a boilerplate-heavy 1M-token document carries a few
    * span structs, not a million-entry position set, and only
    * (id, window-start) rows ever shuffle.
    *
    * Output: id, n_tokens, n_removed (token positions deleted), cleaned.
    */
  def dedupSpansKeepFirst(df: DataFrame, idCol: String, textCol: String,
      width: Int = 8): DataFrame = {
    val base = df.select(col(idCol).as("id"),
      Text.tokens(col(textCol)).as("toks"))
    val wins = windowFingerprints(df, idCol, textCol, width)
    val keeper = wins
      .groupBy("f1", "f2")
      .agg(count(lit(1)).as("n"),
        min(struct(col("id"), col("b"))).as("keep"))
      .filter(col("n") >= 2)
      .select("f1", "f2", "keep")
    // non-keeper occurrences as (b, e) windows — one row per removed
    // WINDOW (never per token position), merged per document into
    // maximal disjoint spans exactly like dupSpans
    val removedWins = wins.join(keeper, Seq("f1", "f2"))
      .filter(struct(col("id"), col("b")) =!= col("keep"))
    val spans = mergeSpans(removedWins, width)
      .groupBy("id")
      .agg(collect_list(struct(col("s"), col("e"))).as("spans"),
        sum(col("e") - col("s") + 1).as("n_rm"))
    base.join(spans, Seq("id"), "left")
      .select(col("id"),
        size(col("toks")).cast("long").as("n_tokens"),
        coalesce(col("n_rm"), lit(0L)).cast("long").as("n_removed"),
        array_join(expr(
          "filter(toks, (t, i) -> spans IS NULL OR NOT exists(spans," +
            " sp -> i + 1 >= sp.s AND i + 1 <= sp.e))"),
          " ").as("cleaned"))
  }
}
