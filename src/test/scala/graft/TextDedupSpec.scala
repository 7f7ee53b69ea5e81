package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.Text
import graft.operators.{Dedup, Similarity}

/** Behavior tests for the text-analysis and dedup/similarity operators. */
class TextDedupSpec extends SparkSpec {
  import spark.implicits._

  private val corpus = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2L, "the quick brown fox jumps over the lazy dog near the river bank today"), // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy dog near the river bend today"), // near dup of 1
    (4L, "completely different content about database query engines and optimizers"),
    (5L, "THE QUICK  BROWN fox jumps over the lazy dog near the river bank today")) // case/ws dup of 1
    .toDF("doc_id", "text")

  test("tokens / shingles / counts") {
    val r = Seq("  a b  c ").toDF("t")
      .select(Text.tokenCount(col("t")).as("n"),
        Text.wordShingles(col("t"), 2).as("sh")).collect()(0)
    assert(r.getLong(0) == 3)
    assert(r.getSeq[String](1) == Seq("a b", "b c"))
    val empty = Seq("").toDF("t")
      .select(Text.tokenCount(col("t"))).collect()(0).getLong(0)
    assert(empty == 0)
  }

  test("tokenChunks: full coverage, stride starts, short tail") {
    val text = (1 to 100).map(i => s"t$i").mkString(" ")
    val chunks = Seq(text).toDF("t")
      .select(Text.tokenChunks(col("t"), 64, 48).as("c"))
      .collect()(0).getSeq[String](0)
    assert(chunks.length == 2)
    assert(chunks(0).split(" ").length == 64)
    assert(chunks(0).split(" ").head == "t1")
    assert(chunks(1).split(" ").head == "t49") // stride 48
    assert(chunks(1).split(" ").last == "t100") // tail covered, short
    val one = Seq("a b c").toDF("t")
      .select(Text.tokenChunks(col("t"), 64, 48).as("c"))
      .collect()(0).getSeq[String](0)
    assert(one == Seq("a b c"))
  }

  test("bpeTokens: GPT-2 pre-tokenizer splits, unicode-aware") {
    val r = Seq("Hello, world's 42 cafés!").toDF("t")
      .select(Text.bpeTokens(col("t")).as("toks"),
        Text.bpeTokenCount(col("t")).as("n")).collect()(0)
    assert(r.getSeq[String](0) ==
      Seq("Hello", ",", " world", "'s", " 42", " cafés", "!"))
    assert(r.getLong(1) == 7L)
    val empty = Seq("").toDF("t")
      .select(Text.bpeTokenCount(col("t"))).collect()(0).getLong(0)
    assert(empty == 0L)
  }

  test("dupClusters: chained pairs collapse to one component, min id canonical") {
    // components: {1,2,3} via chain 1-2, 2-3 (no 1-3 pair!) and {7,9}
    val pairs = Seq((1L, 2L), (2L, 3L), (9L, 7L)).toDF("id1", "id2")
    val clusters = Dedup.dupClusters(pairs)
    val got = clusters.orderBy("canonical_id", "member_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((1L, 1L), (1L, 2L), (1L, 3L), (7L, 7L), (7L, 9L)))
    // apply step: survivors = canonicals + untouched docs
    val docs = Seq(1L, 2L, 3L, 5L, 7L, 9L).toDF("doc_id")
    val kept = Dedup.keepCanonical(docs, "doc_id", clusters)
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 5L, 7L))
  }

  test("charNgrams") {
    val r = Seq("abcd").toDF("t")
      .select(Text.charNgrams(col("t"), 3)).collect()(0).getSeq[String](0)
    assert(r == Seq("abc", "bcd"))
  }

  test("fingerprint normalizes case and whitespace") {
    val fps = corpus.select(Text.fingerprint(col("text")).as("f"))
      .collect().map(_.getString(0))
    assert(fps(0) == fps(1))
    assert(fps(0) == fps(4)) // case/whitespace-insensitive
    assert(fps(0) != fps(2))
  }

  test("exact dedup keeps min id per fingerprint") {
    val kept = Dedup.exact(corpus, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == Seq(1L, 3L, 4L)) // 2 (exact dup) and 5 (case/ws dup) dropped
  }

  test("minhash signature: identical texts → identical signatures") {
    val sigs = Dedup.minhashSignatures(corpus, "doc_id", "text", k = 16,
      shingleSize = 2).collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sigs(1L) == sigs(2L))
    assert(sigs(1L) != sigs(4L)) // different content → different signature
    // near-dup shares most minhash components
    // 1 vs 3 jaccard = 11/15 ≈ 0.73 → E[shared] ≈ 11.7/16, loose bound
    // for the k=16 variance
    val shared = sigs(1L).zip(sigs(3L)).count { case (a, b) => a == b }
    assert(shared >= 6, s"only $shared/16 minhash components shared")
  }

  test("minhash near-dups finds the near-dup pair") {
    val pairs = Dedup.minhashNearDups(corpus, "doc_id", "text", k = 16,
      bands = 8, shingleSize = 2, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L))) // exact dup
    assert(pairs.contains((1L, 3L)) || pairs.contains((2L, 3L))) // near dup
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L)) // unrelated doc
  }

  test("simhash: identical → hamming 0; near dup → small hamming") {
    val sigs = corpus.select(col("doc_id"), Text.simhash64(col("text")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(1L) == sigs(2L))
    val near = java.lang.Long.bitCount(sigs(1L) ^ sigs(3L))
    val far = java.lang.Long.bitCount(sigs(1L) ^ sigs(4L))
    assert(near < far, s"near=$near far=$far")
  }

  test("simhash128: two-lane pipeline finds dup + near-dup, skips unrelated") {
    // lanes must be INDEPENDENT families: identical texts agree on both,
    // unrelated texts must not be near on the summed distance
    val sigs = corpus.select(col("doc_id"),
        Text.simhash64(col("text")).as("a"), Text.simhash64b(col("text")).as("b"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(sigs(1L) == sigs(2L))
    assert(sigs(1L)._1 != sigs(1L)._2) // lanes differ on the same text
    val pairs = Dedup.simhashNearDups128(corpus, "doc_id", "text",
        maxHamming = 32, shingleSize = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("simhashNearDupsAgreement equals the two independent pipelines") {
    // the fused one-banding form (x35's shape) must emit EXACTLY the
    // pair sets of hammingNearDupsSig(laneA) and simhashNearDups128
    val sigs = corpus.select(col("doc_id").as("id"),
      Text.simhash64both(col("text"), 2).as("s2"))
      .select(col("id"), col("s2").getItem(0).as("siga"),
        col("s2").getItem(1).as("sigb"))
    val fused = Dedup.simhashNearDupsAgreement(sigs,
        maxHammingA = 3, maxHammingWide = 32)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val laneA = Dedup.hammingNearDupsSig(
        sigs.select(col("id"), col("siga").as("sig")), maxHamming = 3)
      .collect().map(r => ("a", r.getLong(0), r.getLong(1))).toSet
    val wide = Dedup.simhashNearDups128(corpus, "doc_id", "text",
        maxHamming = 32, shingleSize = 2)
      .collect().map(r => ("wide", r.getLong(0), r.getLong(1))).toSet
    assert(fused == (laneA ++ wide),
      s"fused=$fused laneA=$laneA wide=$wide")
    spark.catalog.clearCache()
  }

  test("ngram jaccard: exact value for known pair") {
    val pairs = Dedup.ngramJaccardPairs(corpus.filter(col("doc_id") <= 3),
      "doc_id", "text", shingleSize = 2, threshold = 0.1)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs((1L, 2L)) == 1.0) // identical
    // docs 1 vs 3: 14 tokens → 13 distinct bigrams each; one word differs
    // ("bank"→"bend") → 2 bigrams differ: inter=11, union=15
    assert(math.abs(pairs((1L, 3L)) - 11.0 / 15.0) < 1e-12)
  }

  test("ngram jaccard: ubiquitous-shingle cap drops boilerplate-only pairs") {
    // 40 docs share ONLY a boilerplate sentence (df=40 for its shingles);
    // one true dup pair (100, 101) shares rare shingles. With the cap at
    // 10 the boilerplate shingles generate no candidates, so the O(40²)
    // boilerplate pair set vanishes while the true pair survives with its
    // EXACT Jaccard (verify stage uses the full sets, cap or not).
    val boiler = "standard legal disclaimer footer text"
    val docs = ((1 to 40).map(i =>
      (i.toLong, s"unique content number$i alpha$i beta$i gamma$i $boiler")) ++
      Seq((100L, "the quick brown fox jumps high"),
          (101L, "the quick brown fox jumps high")))
      .toDF("doc_id", "text")
    val capped = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      shingleSize = 3, threshold = 0.05, maxDocFreq = 10)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(capped.keySet == Set((100L, 101L)))
    assert(capped((100L, 101L)) == 1.0)
    // uncapped control: the boilerplate pairs DO clear the low threshold
    val uncapped = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      shingleSize = 3, threshold = 0.05, maxDocFreq = 0).count()
    assert(uncapped > 100, s"expected O(40^2) boilerplate pairs, got $uncapped")
  }

  test("brute-force cosine top-k: self-similar vectors rank first") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(0.0f, 0.9f, 0.1f))).toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(
      vecs.filter(col("vec_id") === 0L), vecs, "vec_id", "embedding", 2)
      .collect().map(r => (r.getLong(1), r.getInt(3)))
    assert(top.head._1 == 1L) // most similar to [1,0,0] is [0.9,0.1,0]
  }

  test("ivf top-k finds the brute-force nearest neighbor for most queries") {
    val emb = Graft.table(spark, "/root/testdata/sf0.001", "embeddings")
    val q = emb.filter(col("vec_id") < 10)
    val bf = Similarity.bruteForceTopK(q, emb, "vec_id", "embedding", 1, exact = false)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ivf = Similarity.ivfTopK(q, emb, "vec_id", "embedding", 1,
        nCells = 8, nProbe = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ivf.keySet == bf.keySet) // every query answered
    val recall = bf.count { case (qid, nn) => ivf.get(qid).contains(nn) }
    assert(recall >= 4, s"ivf top-1 recall $recall/10 too low")
  }

  test("x7 oracle margin: no corpus pair has Jaccard in the LSH marginal band") {
    // x7's exact-Jaccard SQL is a TRUE oracle for the MinHash+LSH
    // pipeline only because every true pair sits far above the band
    // recall knee: a pair at j≈0.5 has ~1% chance of sharing no band and
    // ~0.2% of failing the stage-1 estimate cut. Pin the corpus outside
    // the marginal band [0.45, 0.65) so regenerated testdata that breaks
    // the oracle's premise fails HERE with a clear message.
    val docs = Graft.table(spark, "/root/testdata/sf0.01", "documents")
    val marginal = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        shingleSize = 3, threshold = 0.45, maxDocFreq = 0)
      .filter(col("jaccard") < 0.65).count()
    assert(marginal == 0,
      s"$marginal doc pairs with exact Jaccard in [0.45, 0.65) — " +
        "x7's exact-SQL oracle premise no longer holds for this corpus")
  }

  test("ivf-blocked cosine near-dups: subset of exact answer, high recall") {
    val emb = Graft.table(spark, "/root/testdata/sf0.001", "embeddings")
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select("id1", "id2").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairSet(
      Similarity.cosineNearDups(emb, "vec_id", "embedding", threshold = 0.4))
    // declared v7 parameters: 4 independent quantizer tables × 32 cells,
    // probe 2 — measured recall 0.97 at 0.50× brute-force pair generation
    val blocked = pairSet(Similarity.cosineNearDupsIvf(
      emb, "vec_id", "embedding", threshold = 0.4, nCells = 32, nProbe = 2,
      tables = 4))
    assert(blocked.subsetOf(exact)) // blocking can only MISS pairs, never invent
    assert(exact.nonEmpty, "fixture corpus should contain near-dup pairs")
    val recall = blocked.size.toDouble / exact.size
    assert(recall >= 0.9, s"IVF-blocked recall $recall too low " +
      s"(${blocked.size}/${exact.size} pairs)")
  }

  test("langid picks argmax marker language deterministically") {
    val df = Seq("der die das und der", "le les des est", "xyzzy").toDF("text")
      .withColumn("toks", Text.tokens(col("text")))
      .select(Text.langIdFromTokens(col("toks")).as("l"))
    assert(df.collect().map(_.getString(0)).toSeq == Seq("de", "fr", "und"))
  }

  test("cluster-keyed split cannot straddle a near-dup pair; naive split does") {
    // ids 123 and 999 land on OPPOSITE sides of the rate-0.5 LCG split
    // (123→eval, 999→train, verified constants), and their texts are
    // near-duplicates — the exact leakage a doc-hash split produces.
    val dup = "the quick brown fox jumps over the lazy dog near the river bank today"
    val docs = Seq(
      (123L, dup), (999L, dup.replace("bank", "bend")),
      (500L, "completely different content about database query engines and optimizers"))
      .toDF("doc_id", "text")
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      shingleSize = 3, threshold = 0.5)
    val clusters = Dedup.dupClusters(pairs)
    def sideOf(keyCol: org.apache.spark.sql.Column) = when(
      expr(s"((((${"gk"} % 2147483648) * 2654435761 + 2654435769) % 2147483648) * 2654435761 + 40503) % 2147483648") <
        lit(0.5) * lit(2147483648.0), "train").otherwise("eval")
    val naive = docs.withColumn("gk", col("doc_id"))
      .withColumn("side", sideOf(col("gk")))
    val safe = docs.join(clusters, docs("doc_id") === clusters("member_id"), "left")
      .withColumn("gk", coalesce(col("canonical_id"), col("doc_id")))
      .withColumn("side", sideOf(col("gk")))
    def straddles(df: org.apache.spark.sql.DataFrame): Long = df
      .join(pairs, df("doc_id") === pairs("id1"))
      .join(df.select(col("doc_id").as("d2"), col("side").as("side2")),
        col("id2") === col("d2"))
      .filter(col("side") =!= col("side2")).count()
    assert(straddles(naive) >= 1, "naive split must demonstrate the leak")
    assert(straddles(safe) == 0, "cluster-keyed split must never straddle")
  }

  test("semanticDedup keeps the most-peripheral member of a near-dup chain") {
    // One cell (nCells=1, centroid = vec of lowest id = id 0). Cosine to
    // centroid decreases 0 > 1 > 2; all three are pairwise near-dups at
    // the threshold, so the SemDeDup keep-rule must retain ONLY the most
    // peripheral (id 2). id 9 is orthogonal: never a near-dup, kept.
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(0.95f, 0.05f)),
      (2L, Array(0.90f, 0.10f)),
      (9L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.semanticDedup(vecs, "vec_id", "embedding",
        threshold = 0.99, nCells = 1)
      .collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[Long]("n_members") == 4)
    assert(r.getAs[Long]("n_dropped") == 2) // ids 0 and 1
    assert(r.getAs[Long]("n_kept") == 2) // ids 2 and 9
  }

  test("incrementalNewRows equals the plain anti-join at any fpp") {
    val index = (0L until 200L).map(i => s"k$i").toDF("f")
    // batch: 150 dups of the index, 100 genuinely new keys, one
    // batch-internal pair (both new — BOTH survive: batch-internal
    // dedup is the caller's window, not this operator's job)
    val batch = ((50L until 200L) ++ (1000L until 1100L) ++ Seq(1000L))
      .zipWithIndex.map { case (k, i) => (i.toLong, s"k$k") }
      .toDF("doc_id", "f")
    val expected = batch.join(index, Seq("f"), "left_anti")
      .select("doc_id", "f") // USING join fronts the key; compare in batch order
      .orderBy("doc_id").collect().toSeq
    // fpp 0.01 (verify path nearly empty) and a deliberately tiny,
    // saturated sketch (expectedItems=10 → high fp rate → most rows
    // routed through the verify join): identical results either way
    for (fpp <- Seq(0.01, 0.3); items <- Seq(10L, 10000L)) {
      val got = Dedup.incrementalNewRows(index, batch, "f",
          expectedItems = items, fpp = fpp)
        .orderBy("doc_id").collect().toSeq
      assert(got == expected, s"fpp=$fpp items=$items")
    }
  }

  // Cross forms against their self forms: cross(index, batch) must equal
  // self(index ∪ batch) restricted to index × batch pairs while no cap
  // binds. Index ids sort below batch ids, so id1 < id2 puts every
  // cross pair of the self form in (index_id, batch_id) order.
  private def flipped(sig: Long, bits: Seq[Int]): Long =
    bits.foldLeft(sig)((s, b) => s ^ (1L << b))

  /** Index ids 1..12, batch ids 13..24. An even batch id j re-encodes
    * index j-12 (a few flipped bits per signature row), an odd one is
    * unrelated; batch 13 is near index 1, and index 2 is a within-index
    * near-dup of index 1 that only the self form may report. `rows`
    * signatures per id (regions or slots); `near` maps an index row to
    * its re-encode. */
  private def crossCorpus(rows: Int, near: (Long, scala.util.Random) => Long)
      : Seq[(Long, Int, Long)] = {
    val r = new scala.util.Random(11)
    val base = (0 to 12).map(_ => Seq.fill(rows)(r.nextLong()))
    (1 to 24).flatMap { id =>
      val sigs =
        if (id == 2) base(1).map(flipped(_, Seq(5)))
        else if (id <= 12) base(id)
        else if (id == 13) base(1).map(flipped(_, Seq(9)))
        else if (id % 2 == 0) base(id - 12).map(near(_, r))
        else Seq.fill(rows)(r.nextLong())
      sigs.zipWithIndex.map { case (s, slot) => (id.toLong, slot, s) }
    }
  }

  private def splitCorpus(rows: Seq[(Long, Int, Long)], cols: String*) = {
    val df = rows.toDF("id", "slot", "sig").select(cols.map(col): _*)
    (df, df.filter(col("id") <= 12), df.filter(col("id") > 12))
  }

  private def pairSet(df: DataFrame, width: Int): Set[Seq[Any]] =
    df.collect().map(_.toSeq.take(width)).toSet

  private val crossFamilies: Seq[(String,
      () => (DataFrame, DataFrame, DataFrame), DataFrame => DataFrame,
      (DataFrame, DataFrame) => DataFrame, Int)] = Seq(
    ("minhashNearDupsCross",
      () => (corpus, corpus.filter($"doc_id" <= 2), corpus.filter($"doc_id" >= 3)),
      Dedup.minhashNearDups(_, "doc_id", "text", k = 32, bands = 16,
        threshold = 0.5),
      Dedup.minhashNearDupsCross(_, _, "doc_id", "text", k = 32,
        bands = 16, threshold = 0.5), 3),
    ("hammingNearDupsSigCross",
      () => splitCorpus(crossCorpus(1,
        (s, r) => flipped(s, Seq.fill(3)(r.nextInt(64)))), "id", "sig"),
      Dedup.hammingNearDupsSig(_, maxHamming = 3),
      Dedup.hammingNearDupsSigCross(_, _, maxHamming = 3), 3),
    // half the re-encode's regions are 2-bit edits of the original's,
    // the rest are fresh: the min over the region product still matches
    ("regionNearDupsSigCross",
      () => splitCorpus(crossCorpus(3,
        (s, r) => if (r.nextBoolean()) flipped(s, Seq(3, 40)) else r.nextLong()),
        "id", "sig"),
      Dedup.regionNearDupsSig(_, maxHamming = 7),
      Dedup.regionNearDupsSigCross(_, _, maxHamming = 7), 3),
    // every slot within 4 bits; the self form reports (id1, id2) only
    ("temporalNearDupsSigCross",
      () => splitCorpus(crossCorpus(4,
        (s, r) => flipped(s, Seq.fill(4)(r.nextInt(64)))), "id", "slot", "sig"),
      Dedup.temporalNearDupsSig(_, maxHamming = 15),
      Dedup.temporalNearDupsSigCross(_, _, maxHamming = 15), 2))

  for ((name, data, self, cross, width) <- crossFamilies)
    test(s"$name equals the cross subset of union near-dups") {
      val (union, index, batch) = data()
      val maxIndexId = index.agg(max(col(index.columns.head))).head().getLong(0)
      val expected = pairSet(self(union), width).filter { p =>
        p(0).asInstanceOf[Long] <= maxIndexId &&
          p(1).asInstanceOf[Long] > maxIndexId
      }
      val got = pairSet(cross(index, batch), width)
      assert(got == expected)
      assert(got.nonEmpty)
      spark.catalog.clearCache()
    }

  test("cross forms cap the index side; MinHash caps both sides") {
    // index: ids 1-3 carry X, id 4 carries Y; batch: id 21 carries X,
    // ids 22-24 carry Y. At cap 2 X's buckets are over the cap on the
    // index side and Y's on the batch side.
    val (x, y) = (0x0123456789ABCDEFL, 0x7EDCBA9876543210L)
    val owners = Seq(1L -> x, 2L -> x, 3L -> x, 4L -> y,
      21L -> x, 22L -> y, 23L -> y, 24L -> y)
    val all = Set(Seq(1L, 21L), Seq(2L, 21L), Seq(3L, 21L),
      Seq(4L, 22L), Seq(4L, 23L), Seq(4L, 24L))
    val yOnly = all.filter(_.head == 4L)
    def split(df: DataFrame) = (df.filter(col(df.columns.head) < 21),
      df.filter(col(df.columns.head) >= 21))
    // one row per id (Hamming, region) or four slots per id (temporal),
    // slot s carrying the owner's signature rotated by s
    val single = split(owners.toDF("id", "sig"))
    val slotted = split(owners.flatMap { case (id, s) =>
      (0 until 4).map(slot => (id, slot, java.lang.Long.rotateLeft(s, slot)))
    }.toDF("id", "slot", "sig"))
    val text = split(owners.map { case (id, s) =>
      (id, if (s == x) "alpha beta gamma delta epsilon zeta eta theta"
        else "one two three four five six seven eight") }.toDF("doc_id", "text"))
    val families: Seq[(String, (DataFrame, DataFrame),
        (DataFrame, DataFrame, Int) => DataFrame, Set[Seq[Long]])] = Seq(
      ("hamming", single,
        Dedup.hammingNearDupsSigCross(_, _, maxHamming = 3, _), yOnly),
      ("region", single,
        Dedup.regionNearDupsSigCross(_, _, maxHamming = 7, _), yOnly),
      ("temporal", slotted,
        Dedup.temporalNearDupsSigCross(_, _, maxHamming = 15, _), yOnly),
      ("minhash", text, (i: DataFrame, b: DataFrame, cap: Int) =>
        Dedup.minhashNearDupsCross(i, b, "doc_id", "text", k = 32,
          bands = 16, threshold = 0.5, maxBucketSize = cap), Set.empty))
    for ((name, (index, batch), cross, capped) <- families) {
      def at(cap: Int) = cross(index, batch, cap).collect()
        .map(r => Seq(r.getLong(0), r.getLong(1))).toSet
      assert(at(256) == all, s"$name: a cap of 256 binds nowhere")
      assert(at(2) == capped, s"$name at cap 2")
    }
    spark.catalog.clearCache()
  }

  test("incrementalNewRows bloom bypass: zero index hits never join") {
    // disjoint key spaces: with fpp 1e-6 over 26 keys the sketch routes
    // (essentially) every batch row through the no-join branch; the
    // result must still be the full batch
    val index = ('a' to 'z').map(c => s"old_$c").toDF("f")
    val batch = (0L until 50L).map(i => (i, s"new_$i")).toDF("doc_id", "f")
    val out = Dedup.incrementalNewRows(index, batch, "f",
      expectedItems = 26L, fpp = 0.000001)
    assert(out.count() == 50L)
  }

  test("dupClusters: pointer jumping closes a 64-node chain within the cap") {
    // a pure path graph 0-1-2-...-63: plain neighbor propagation needs
    // 64 rounds (> maxIter) — label doubling closes it in 8
    val chain = (0L until 63L).map(i => (i, i + 1)).toDF("id1", "id2")
    val out = Dedup.dupClusters(chain)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.length == 64)
    assert(out.forall(_._1 == 0L)) // one component, canonical = min id
    assert(out.map(_._2).sorted.toSeq == (0L until 64L).toSeq)
  }

  test("stripBoilerplateSpans: shared header removed, unique prose kept") {
    // 4 docs share the leading 3-token header (df=4 >= minDf), doc 5 is
    // fully unique; bodies are pairwise distinct so no body shingle
    // reaches the cut
    val docs = Seq(
      (1L, "SITE NAV MENU alpha beta gamma delta"),
      (2L, "SITE NAV MENU epsilon zeta eta theta"),
      (3L, "SITE NAV MENU iota kappa lambda mu"),
      (4L, "SITE NAV MENU nu xi omicron pi"),
      (5L, "entirely unique prose with no repeats at all"))
      .toDF("doc_id", "text")
    val out = Dedup.stripBoilerplateSpans(docs, "doc_id", "text",
        shingleSize = 3, minDf = 4)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(1L) == ((7L, 3L, "alpha beta gamma delta")))
    assert(out(2L) == ((7L, 3L, "epsilon zeta eta theta")))
    assert(out(5L) == ((8L, 0L, "entirely unique prose with no repeats at all")))
    // a doc that is ALL boilerplate cleans to the empty string
    val all = Seq(1L, 2L, 3L, 4L).map(i => (i, "SITE NAV MENU")).toDF("doc_id", "text")
    val cleaned = Dedup.stripBoilerplateSpans(all, "doc_id", "text", 3, 4)
      .collect().map(r => (r.getLong(2), r.getString(3)))
    assert(cleaned.forall(_ == ((3L, ""))))
  }

  test("pqAdcTopK: codes collapse identical vectors; ADC ranks clusters exactly") {
    // 4 clusters of 5 identical vectors (cluster = id % 4, so the 4
    // lowest-id seeds hit one cluster each); each subspace separates
    // all 4 clusters, so no code empties out
    val vecs = (0L until 20L).map { id =>
      val k = (id % 4).toInt
      (id, Array.tabulate(16)(i => if (i % 4 == k) 2f else 0f))
    }.toDF("vec_id", "embedding")
    val cb = Similarity.pqCodebooks(vecs, "vec_id", "embedding",
      m = 4, nCodes = 4, iterations = 1)
    assert(cb.count() == 16) // m x nCodes, none emptied
    val q = vecs.filter($"vec_id" === 0)
    val out = Similarity.pqAdcTopK(q, vecs, "vec_id", "embedding", topK = 5,
        m = 4, nCodes = 4, iterations = 1)
      .orderBy("rn").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    // same-cluster members at ADC 0 (id order), then the nearest other
    // cluster's lowest id at exactly 2^2 * 2 per subspace * 4 = 32.0
    assert(out.toSeq == Seq((0L, 4L, 0.0, 1), (0L, 8L, 0.0, 2),
      (0L, 12L, 0.0, 3), (0L, 16L, 0.0, 4), (0L, 1L, 32.0, 5)))
  }

  test("pqAdcTopK refine: exact L2 re-rank of the ADC shortlist") {
    val vecs = (0L until 20L).map { id =>
      val k = (id % 4).toInt
      (id, Array.tabulate(16)(i => if (i % 4 == k) 2f else 0f))
    }.toDF("vec_id", "embedding")
    val q = vecs.filter($"vec_id" === 0)
    val out = Similarity.pqAdcTopK(q, vecs, "vec_id", "embedding", topK = 5,
        m = 4, nCodes = 4, iterations = 1, refine = 2)
      .orderBy("rn").collect()
      .map(r => (r.getLong(1), r.getDouble(2), r.getInt(3)))
    // identical vectors re-rank at exact L2 0; nearest other cluster at
    // the true squared distance (2² × 2 per subspace × 4 = 32.0)
    assert(out.toSeq == Seq((4L, 0.0, 1), (8L, 0.0, 2), (12L, 0.0, 3),
      (16L, 0.0, 4), (1L, 32.0, 5)))
  }

  test("PqIndex round-trips through parquet: codes at rest answer queries") {
    // the production split pqIndex exists for: train/encode at ingest,
    // PERSIST the codebooks + codes, answer later queries from the
    // reloaded state without touching full vectors (except refine)
    val vecs = (0L until 20L).map { id =>
      val k = (id % 4).toInt
      (id, Array.tabulate(16)(i => if (i % 4 == k) 2f else 0f))
    }.toDF("vec_id", "embedding")
    val idx = Similarity.pqIndex(vecs, "vec_id", "embedding",
      m = 4, nCodes = 4, iterations = 1)
    val tmp = java.nio.file.Files.createTempDirectory("pq_at_rest")
    idx.codebooks.write.mode("overwrite").parquet(s"$tmp/codebooks.parquet")
    idx.codes.write.mode("overwrite").parquet(s"$tmp/codes.parquet")
    val reloaded = Similarity.PqIndex(
      vecs.select($"vec_id".as("id"), $"embedding".as("vec")),
      spark.read.parquet(s"$tmp/codebooks.parquet"),
      spark.read.parquet(s"$tmp/codes.parquet"), idx.m, idx.sub)
    val q = vecs.filter($"vec_id" === 0)
    def run(i: Similarity.PqIndex, refine: Int) =
      Similarity.pqAdcTopK(q, i, "vec_id", "embedding", topK = 5, refine)
        .orderBy("rn").collect()
        .map(r => (r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq
    assert(run(reloaded, 1) == run(idx, 1))
    assert(run(reloaded, 2) == run(idx, 2)) // refine touches full vectors
  }

  test("ivfPqTopK: nProbe=1 prunes candidates to the query's cell") {
    val vecs = (0L until 20L).map { id =>
      val k = (id % 4).toInt
      (id, Array.tabulate(16)(i => if (i % 4 == k) 2f else 0f))
    }.toDF("vec_id", "embedding")
    val q = vecs.filter($"vec_id" === 0)
    val out = Similarity.ivfPqTopK(q, vecs, "vec_id", "embedding", topK = 10,
        nCells = 4, nProbe = 1, m = 4, nCodes = 4, iterations = 1)
      .orderBy("rn").collect()
      .map(r => (r.getLong(1), r.getDouble(2), r.getInt(3)))
    // only cluster-0 members are candidates (4 after the self filter),
    // even with topK=10 — the probed-cell restriction is doing the work
    assert(out.toSeq == Seq((4L, 0.0, 1), (8L, 0.0, 2), (12L, 0.0, 3), (16L, 0.0, 4)))
  }

  test("chunkFingerprintDoc: media near-dup via chunk-fingerprint sets") {
    import graft.operators.Multimodal
    // 4 KiB payloads; b = a with the first KiB overwritten; c unrelated
    val a = Array.tabulate[Byte](4096)(i => (i % 251).toByte)
    val b = a.clone(); (0 until 1024).foreach(i => b(i) = 0x5a.toByte)
    val c = Array.tabulate[Byte](4096)(i => ((i * 7 + 3) % 249).toByte)
    val assets = Seq((1L, a), (2L, b), (3L, c)).toDF("doc_id", "media")
    val docs = assets.select($"doc_id",
      Multimodal.chunkFingerprintDoc($"media", 1024).as("chunks"))
    // 4 chunks per asset: a vs b share 3 of 5 distinct → jaccard 0.6
    val nChunks = docs.select(size(split($"chunks", " "))).collect().map(_.getInt(0))
    assert(nChunks.forall(_ == 4))
    val pairs = Dedup.minhashNearDups(docs, "doc_id", "chunks",
        k = 32, bands = 16, shingleSize = 1, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.toSeq == Seq((1L, 2L, 0.6)))
  }

  test("mmrRerank: diversification beats a near-duplicate runner-up") {
    // q along axis 0. A (id 1) and A' (id 2) are IDENTICAL and most
    // relevant (rel 0.95); B (id 3) is less relevant (0.8) but diverse
    // (sim(A,B) = 0.76). At lambda=0.5: step 2 scores
    // A': 0.5*0.95 - 0.5*1.0 = -0.025 < B: 0.5*0.8 - 0.5*0.76 = 0.02,
    // so MMR picks A, B, A' where plain top-k orders A, A', B.
    val s2 = math.sqrt(1 - 0.95 * 0.95).toFloat
    val vecs = Seq(
      (0L, Array(1f, 0f, 0f, 0f)),
      (1L, Array(0.95f, s2, 0f, 0f)),
      (2L, Array(0.95f, s2, 0f, 0f)),
      (3L, Array(0.8f, 0f, 0.6f, 0f))).toDF("vec_id", "embedding")
    val out = Similarity.mmrRerank(vecs.filter($"vec_id" === 0), vecs,
        "vec_id", "embedding", topM = 3, k = 3, lambda = 0.5)
      .orderBy("step").collect()
      .map(r => (r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(out.map(t => (t._1, t._2)).toSeq == Seq((1, 1L), (2, 3L), (3, 2L)))
    assert(math.abs(out(0)._3 - 0.475) < 1e-6)
    assert(math.abs(out(1)._3 - 0.02) < 1e-6)
    assert(math.abs(out(2)._3 - (-0.025)) < 1e-6)
  }

  test("x33/x34 declared queries survive degenerate docs (empty, 1-token)") {
    // the testdata corpus has no empty/1-token docs, so the queries'
    // guards (empty-token arrays -> no bigrams; tiny strata -> alloc 0)
    // are pinned here on a staged documents table with exactly those
    val stage = java.nio.file.Files.createTempDirectory("docs_edge").toString
    val docs = Seq(
      (0L, "", "en", "web", 0L), // held-out, empty: contributes no bigrams
      (10L, "solo", "en", "web", 4L), // held-out, 1 token: no bigrams
      (20L, "a b a b c", "en", "web", 9L), // held-out, scored
      (1L, "a b c a b", "en", "web", 9L), // train
      (2L, "b c a", "de", "web", 5L), // train
      (3L, "", "de", "web", 0L)) // train, empty
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.write.mode("overwrite").parquet(s"$stage/documents.parquet")
    val lm = SparkEntry.all("x33_lm_surprisal").fn(spark, stage).collect()
    // only doc 20 emits rows: train bigrams {a b:2, b c:2, c a:2}, V=3
    // (tokens a,b,c). doc 20 bigrams: a b, b a, a b, b c.
    assert(lm.map(_.getLong(0)).toSeq == Seq(20L))
    assert(lm(0).getLong(1) == 4L) // n_bigrams
    assert(lm(0).getLong(2) == 1L) // n_oov: only "b a" unseen
    val strat = SparkEntry.all("x34_stratified_sample").fn(spark, stage)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // n=6, target=0: every stratum allocates 0 -> no output rows at all
    assert(strat.isEmpty)
  }

  test("largestRemainderAlloc: integer-exact Hamilton apportionment") {
    import graft.operators.Sampling
    // n = 101, target = 101 div 20 = 5. Floors: 70*5/101=3 (rem 47),
    // 20*5/101=0 (rem 100), 11*5/101=0 (rem 55). Leftover 2 goes to the
    // two largest remainders (b, then c) -> allocs 3/1/1, sum exactly 5.
    val counts = Seq(("a", 70L), ("b", 20L), ("c", 11L)).toDF("lang", "n_g")
    val alloc = Sampling.largestRemainderAlloc(counts, "lang", "n_g", 20L)
      .orderBy("lang").collect().map(r => (r.getString(0), r.getLong(2)))
    assert(alloc.toSeq == Seq(("a", 3L), ("b", 1L), ("c", 1L)))
    // degenerate budget: target 0 -> all-zero allocation, not negative
    val zero = Sampling.largestRemainderAlloc(counts, "lang", "n_g", 200L)
      .collect().map(_.getLong(2))
    assert(zero.toSeq == Seq(0L, 0L, 0L))
  }

  test("stratifiedPick: exact k-smallest hashHex32 per stratum, prefilter-safe") {
    import graft.operators.Sampling
    def mix(id: Long): String = {
      val d = java.security.MessageDigest.getInstance("MD5")
      d.digest(id.toString.getBytes("UTF-8"))
        .take(4).map(b => f"${b & 0xff}%02x").mkString
    }
    val rows = (0L until 400L).map(i => (if (i % 4 == 0) "en" else "de", i))
    val df = rows.toDF("lang", "doc_id")
    val counts = df.groupBy("lang").agg(count(lit(1)).as("n_g"))
    val alloc = Sampling.largestRemainderAlloc(counts, "lang", "n_g", 10L)
    val picked = Sampling.stratifiedPick(df, "lang", "doc_id", alloc)
      .select("lang", "doc_id").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    // expected: per stratum, the alloc ids with smallest (mix31, id)
    val allocMap = alloc.collect().map(r => (r.getString(0), r.getLong(2))).toMap
    assert(allocMap.values.sum == 40L) // 400 div 10, exactly
    val expected = rows.groupBy(_._1).toSeq.flatMap { case (lang, rs) =>
      rs.sortBy { case (_, id) => (mix(id), id) }
        .take(allocMap(lang).toInt).map { case (_, id) => (lang, id) }
    }.toSet
    assert(picked == expected)
  }

  test("dupSpans: cross-doc shared run merges to one maximal span") {
    // docs 1/2 share the 10-token run s1..s10 (3 overlapping width-8
    // windows each -> ONE merged span); doc 3 repeats a run WITHIN
    // itself only (count distinct docs = 1 -> no cross-doc span);
    // doc 4 shares nothing.
    val shared = (1 to 10).map(i => s"s$i").mkString(" ")
    val docs = Seq(
      (1L, s"a1 a2 a3 a4 a5 a6 a7 a8 a9 a10 x y z $shared"),
      (2L, s"b1 b2 $shared b3 b4 b5 b6 b7 b8 b9 b10"),
      (3L, "r1 r2 r3 r4 r5 r6 r7 r8 r1 r2 r3 r4 r5 r6 r7 r8"),
      (4L, "entirely unrelated prose with no overlap at all whatsoever here"))
      .toDF("doc_id", "text")
    val spans = Dedup.dupSpans(docs, "doc_id", "text", width = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2))
    // doc 1: s1..s10 at positions 14..23; doc 2: at positions 3..12
    assert(spans.toSeq == Seq((1L, 14L, 23L, 10L), (2L, 3L, 12L, 10L)))
  }

  test("dupSpans: a 1-token gap keeps two spans apart; contiguity merges") {
    val runA = (1 to 8).map(i => s"p$i").mkString(" ")
    val runB = (1 to 8).map(i => s"q$i").mkString(" ")
    val gapped = Seq(
      (1L, s"$runA gap $runB"),
      (2L, s"u1 u2 u3 $runA u4 u5 u6 $runB u7"))
      .toDF("doc_id", "text")
    val g = Dedup.dupSpans(gapped, "doc_id", "text", width = 8)
      .filter(col("id") === 1L)
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(g.sorted.toSeq == Seq((1L, 8L), (10L, 17L))) // two spans
    val contiguous = Seq(
      (1L, s"$runA $runB"),
      (2L, s"w1 w2 w3 $runA w4 w5 w6 $runB w7"))
      .toDF("doc_id", "text")
    val c = Dedup.dupSpans(contiguous, "doc_id", "text", width = 8)
      .filter(col("id") === 1L)
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(c.toSeq == Seq((1L, 16L))) // adjacent runs merge
  }

  test("dedupSpansKeepFirst: globally-first occurrence survives, later stripped") {
    val shared = (1 to 8).map(i => s"s$i").mkString(" ")
    val docs = Seq(
      (1L, s"a1 a2 $shared a3"),
      (2L, s"b1 $shared b2 b3"),
      (3L, "r1 r2 r3 r4 r5 r6 r7 r8 r1 r2 r3 r4 r5 r6 r7 r8"))
      .toDF("doc_id", "text")
    val out = Dedup.dedupSpansKeepFirst(docs, "doc_id", "text", width = 8)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    // doc 1 holds the keeper (min id) -> untouched
    assert(out(1L) == ((11L, 0L, s"a1 a2 $shared a3")))
    // doc 2's occurrence (positions 2..9) stripped
    assert(out(2L) == ((11L, 8L, "b1 b2 b3")))
    // doc 3: WITHIN-doc repeat — second copy (positions 9..16) stripped
    assert(out(3L) == ((16L, 8L, "r1 r2 r3 r4 r5 r6 r7 r8")))
  }

  test("dedupSpansKeepFirst: keeper election is exact past 2^20 tokens per doc") {
    // doc 1 carries the duplicated phrase at a position ABOVE 2^20, doc 2
    // carries it at position 2. "Globally first" = min (id, pos) → doc 1
    // keeps, doc 2 strips. The retired packed key id·2²⁰+pos compared
    // 1·2²⁰+(2²⁰+93) > 2·2²⁰+2 here and silently elected doc 2 — the
    // struct MIN must not.
    val nFill = (1 << 20) + 100
    val shared = (1 to 8).map(i => s"s$i").mkString(" ")
    val bigDoc = new StringBuilder
    (1 to nFill).foreach { i => bigDoc.append('f').append(i).append(' ') }
    bigDoc.append(shared)
    val docs = Seq(
      (1L, bigDoc.toString),
      (2L, s"b1 $shared b2"))
      .toDF("doc_id", "text")
    val out = Dedup.dedupSpansKeepFirst(docs, "doc_id", "text", width = 8)
      .select("id", "n_tokens", "n_removed")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(out(1L) == (((nFill + 8).toLong, 0L)),
      "the globally-first occurrence (doc 1, past the 2^20 boundary) must survive")
    assert(out(2L) == ((10L, 8L)),
      "doc 2's later occurrence must be the one stripped")
  }

  test("span ops on the real corpus: disjoint maximal spans, removal arithmetic") {
    val docs = Graft.table(spark, "/root/testdata/sf0.001", "documents")
    val spans = Dedup.dupSpans(docs, "doc_id", "text", width = 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(spans.nonEmpty, "the synthetic corpus plants shared runs")
    spans.groupBy(_._1).values.foreach { ss =>
      val sorted = ss.sortBy(_._2)
      sorted.foreach { case (_, b, e, n) =>
        assert(e >= b && n == e - b + 1 && n >= 8) }
      sorted.sliding(2).filter(_.length == 2).foreach { w =>
        assert(w(1)._2 > w(0)._3 + 1,
          "adjacent/overlapping spans must have merged")
      }
    }
    val rem = Dedup.dedupSpansKeepFirst(docs, "doc_id", "text", width = 8)
      .select(col("n_tokens"), col("n_removed"),
        size(split(col("cleaned"), " ")).as("nc"),
        length(col("cleaned")).as("len"))
      .collect()
    assert(rem.exists(_.getLong(1) > 0), "some occurrences must be stripped")
    rem.foreach { r =>
      val (nt, nr) = (r.getLong(0), r.getLong(1))
      assert(nr <= nt)
      val actual = if (r.getInt(3) == 0) 0L else r.getInt(2).toLong
      assert(actual == nt - nr,
        s"cleaned token count $actual != n_tokens($nt) - n_removed($nr)")
    }
  }

  test("multiQuantizerCells invariants: per-(row, table) probe count, leaf membership, cellsFor rule") {
    val emb = Graft.table(spark, "/root/testdata/sf0.001", "embeddings")
    val nCells = 16; val nProbe = 2; val tables = 3
    val a = Similarity.multiQuantizerCells(emb, "vec_id", "embedding",
      nCells, nProbe, tables).collect()
    val n = emb.count()
    // every (row, table) appears with EXACTLY nProbe distinct cells
    // (corpus >> tables·nCells here, so no table runs short of leaves)
    val byRowTable = a.groupBy(r => (r.getLong(0), r.getInt(2)))
    assert(byRowTable.size == n * tables)
    byRowTable.values.foreach { rows =>
      assert(rows.map(_.getLong(3)).distinct.length == nProbe)
    }
    // cell labels are ids from the table's own leaf seed range:
    // ranks [t*nCells, (t+1)*nCells) of the id order = ids t*16..t*16+15
    // (embeddings ids are dense from 0 in this fixture)
    a.foreach { r =>
      val (t, cell) = (r.getInt(2), r.getLong(3))
      assert(cell >= t * nCells && cell < (t + 1) * nCells,
        s"cell $cell outside table $t's leaf range")
    }
    // the cellsFor rule: pinned floor, then ceil(n/cellSize)
    assert(Similarity.cellsFor(100) == 32)
    assert(Similarity.cellsFor(20000) == 313)
    assert(Similarity.cellsFor(1000, cellSize = 128, minCells = 16) == 16)
    assert(Similarity.cellsFor(100000, cellSize = 128, minCells = 16) == 782)
  }

  test("lowestIdRanked: sparse/offset ids reproduce the TakeOrdered seed rule distributedly") {
    val emb = Graft.table(spark, "/root/testdata/sf0.001", "embeddings")
    // ids offset and gapped (1000 + 3·vec_id) — NOT dense from 0, so
    // the bucket-rank fallback runs (approx-quantile split points +
    // per-bucket offsets; O(P) driver state), which must reproduce the
    // orderBy(id).limit(k) seed semantics EXACTLY
    val sparse = emb.select((col("vec_id") * 3 + 1000).as("id"),
      col("embedding").as("vec"))
    val k = 40
    val got = Similarity.lowestIdRanked(sparse, k)
      .select("id", "__rk").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val want = sparse.orderBy(col("id")).limit(k).collect()
      .map(_.getLong(0)).sorted.zipWithIndex
      .map { case (id, i) => (id, i.toLong) }
    assert(got.toSeq == want.toSeq,
      "distributed rank must equal the TakeOrdered rule on sparse ids")
    // and a hierarchy built over the sparse ids still assigns every
    // (row, table) its nProbe cells, with cell labels from the table's
    // own seed rank range — the dense fast path is an optimization,
    // never a semantic precondition
    val nCells = 16; val tables = 2; val nProbe = 2
    val a = Similarity.multiQuantizerCells(sparse, "id", "vec",
      nCells, nProbe, tables).collect()
    val n = sparse.count()
    assert(a.length == n * tables * nProbe)
    a.foreach { r =>
      val (t, cell) = (r.getInt(2), r.getLong(3))
      assert(cell >= 1000 + 3 * (t * nCells) &&
        cell < 1000 + 3 * ((t + 1) * nCells) && (cell - 1000) % 3 == 0,
        s"cell $cell outside table $t's sparse leaf range")
    }
  }

  test("knnGraphClusters: mutual filter breaks hub chaining; components close chains") {
    // Geometry: a "hub" h at the bisector of two tight groups A={1,2}
    // and B={5,6}. With topK=1 every A/B member picks its own partner,
    // but h's nearest is in A while A's members prefer each other — the
    // h→A edge is one-directional and the MUTUAL filter must drop it,
    // leaving {1,2} and {5,6} as separate components with h unclustered.
    val vecs = Seq(
      (1L, Array(1.0f, 0.02f)),
      (2L, Array(1.0f, 0.03f)),
      (5L, Array(0.02f, 1.0f)),
      (6L, Array(0.03f, 1.0f)),
      (9L, Array(0.75f, 0.75f))) // hub: equidistant-ish from both groups
      .toDF("vec_id", "embedding")
    val g = Similarity.knnGraph(vecs, "vec_id", "embedding", topK = 1,
      nCells = 1, nProbe = 1, tables = 1)
    val clusters = Similarity.knnGraphClusters(g, minSim = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(clusters == Set((1L, 1L), (1L, 2L), (5L, 5L), (5L, 6L)),
      s"mutual-kNN components wrong: $clusters")
    // sanity: the hub DID have an out-edge above the sim floor — it was
    // the mutuality, not the threshold, that excluded it
    val hubEdges = g.filter(col("qid") === 9L && col("sim") >= 0.5).count()
    assert(hubEdges == 1L, "hub must have a one-directional edge")
    // self-build knnGraph returns checkpoint-backed state — callers own it
    Graft.releaseTruncated(g)
  }

  test("knnGraph: every row gets neighbors; nearest is brute-force-correct for most") {
    val emb = Graft.table(spark, "/root/testdata/sf0.001", "embeddings")
    val gdf = Similarity.knnGraph(emb, "vec_id", "embedding", topK = 3,
        nCells = 8, nProbe = 2, tables = 2)
    val g = gdf.collect()
    Graft.releaseTruncated(gdf) // self-build path: caller owns the checkpoint
    val byQ = g.groupBy(_.getLong(0))
    assert(byQ.size == 500) // every corpus row has at least one edge
    assert(g.forall(_.getInt(3) <= 3))
    // spot-check top-1 agreement with brute force on the first 10 rows
    val q = emb.filter(col("vec_id") < 10)
    val bf = Similarity.bruteForceTopK(q, emb, "vec_id", "embedding", 1,
        exact = false)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val top1 = byQ.view.filterKeys(_ < 10).mapValues(
      _.minBy(_.getInt(3)).getLong(1)).toMap
    val agree = bf.count { case (qid, nn) => top1.get(qid).contains(nn) }
    assert(agree >= 6, s"knnGraph top-1 agreement $agree/10 too low")
  }
}
