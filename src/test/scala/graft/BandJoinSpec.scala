package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.expressions.CappedCollect
import graft.functions.{Text, Vectors}
import graft.operators.Dedup

/** The near-dup core's bucket lists: `capped_collect`'s row-count cap
  * across partial buffers, `Dedup.bandJoin`'s self and cross forms
  * against a plain-Scala brute force (x8's join-free plan is pinned in
  * PlanGuardSpec), and its pair core `Dedup.bucketPairs` on the IVF
  * family's (table, cell) assignment rows against a theta join.
  */
class BandJoinSpec extends SparkSpec {
  import spark.implicits._

  test("capped_collect: a bucket of exactly cap rows is kept; one whose overflow appears only in the merge is dropped") {
    val cap = 3
    val rows = Seq.fill(cap)("exact") ++ Seq.fill(cap + 1)("merged") ++
      Seq.fill(10)("big")
    val df = rows.zipWithIndex.toDF("k", "v").repartition(3)
    // "merged" is spread so that no partition alone holds more than cap
    // of its rows: its overflow shows only when partial buffers merge
    val perPart = df.groupBy(spark_partition_id().as("p"), col("k")).count()
      .filter(col("k") === "merged").collect().map(_.getLong(2))
    assert(df.rdd.getNumPartitions == 3)
    assert(perPart.length >= 2 && perPart.forall(_ <= cap), perPart.toSeq)
    val got = df.groupBy("k")
      .agg(call_function("capped_collect", col("v"), lit(cap)).as("l"))
      .collect().map(r => r.getString(0) -> Option(r.getSeq[Int](1)).map(_.sorted))
      .toMap
    assert(got("exact") == Some(rows.indices.filter(rows(_) == "exact")))
    assert(got("merged").isEmpty)
    assert(got("big").isEmpty)
  }

  test("capped_collect holds at most cap + 1 entries through update, merge and serialization") {
    val agg = CappedCollect(BoundReference(0, IntegerType, nullable = false),
      Literal(3))
    var a = agg.createAggregationBuffer()
    (1 to 10).foreach(i => a = agg.update(a, InternalRow(i)))
    assert(a.length == 4 && agg.eval(a) == null)
    var b = agg.createAggregationBuffer()
    (1 to 2).foreach(i => b = agg.update(b, InternalRow(i)))
    val merged = agg.merge(agg.deserialize(agg.serialize(b)), a)
    assert(merged.length == 4 && agg.eval(merged) == null)
    var c = agg.createAggregationBuffer()
    (1 to 3).foreach(i => c = agg.update(c, InternalRow(i)))
    assert(agg.eval(agg.deserialize(agg.serialize(c))) != null)
  }

  // --- bandJoin against a brute force --------------------------------
  private val bands = 8

  private def blocks(sig: Long): Seq[(Int, Long)] =
    (0 until bands).map(b => (b, (sig >>> (8 * b)) & 0xFFL))

  private val band: Column = transform(sequence(lit(0), lit(bands - 1)),
    b => call_function("shiftright", col("sig"), b * 8).bitwiseAND(lit(0xFFL)))

  private val score = Seq(Text.hamming64(col("l.sig"), col("r.sig")).as("hamming"))

  private case class Case(rows: Seq[(Long, Long)], cap: Int, radius: Int,
      split: Long)

  /** Ids 1..n with 1-3 rows each; a row's signature is 0 (short docs
    * hash to 0: a mega-bucket in every band), a few bits away from an
    * earlier row's (a planted near pair), or random. */
  private val cases: Gen[Case] = for {
    n <- Gen.choose(8, 24)
    perId <- Gen.listOfN(n, Gen.choose(1, 3))
    kinds <- Gen.listOfN(perId.sum, Gen.frequency(2 -> 0, 3 -> 1, 5 -> 2))
    seeds <- Gen.listOfN(perId.sum, Gen.long)
    flips <- Gen.listOfN(perId.sum, Gen.listOfN(3, Gen.choose(0, 63)))
    cap <- Gen.oneOf(2, 3, 5, 256)
    radius <- Gen.oneOf(6, 64)
  } yield {
    val ids = perId.zipWithIndex.flatMap { case (k, i) => Seq.fill(k)(i + 1L) }
    val sigs = ids.indices.foldLeft(Vector.empty[Long]) { (acc, i) =>
      acc :+ (kinds(i) match {
        case 0 => 0L
        case 1 if acc.nonEmpty =>
          flips(i).foldLeft(acc((seeds(i) & 0xFFFF).toInt % acc.length))(
            (s, b) => s ^ (1L << b))
        case _ => seeds(i)
      })
    }
    Case(ids.zip(sigs), cap, radius, (n / 2).toLong)
  }

  private def counts(rows: Seq[(Long, Long)]): Map[(Int, Long), Int] =
    rows.flatMap(r => blocks(r._2)).groupBy(identity).map { case (k, v) => k -> v.size }

  /** (id1, id2, hamming) for every left × right row pair sharing a
    * bucket that neither capped side holds more than `cap` rows of. */
  private def brute(left: Seq[(Long, Long)], right: Seq[(Long, Long)],
      ok: ((Int, Long)) => Boolean, radius: Int, self: Boolean): Set[(Long, Long, Long)] =
    (for {
      (i1, s1) <- left
      (i2, s2) <- right
      if !self || i1 < i2
      if blocks(s1).toSet.intersect(blocks(s2).toSet).exists(ok)
      h = java.lang.Long.bitCount(s1 ^ s2).toLong
      if h <= radius
    } yield (i1, i2, h)).toSet

  private def run(df: DataFrame): Set[(Long, Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  private def frame(rows: Seq[(Long, Long)]): DataFrame =
    rows.toDF("id", "sig").repartition(3)

  test("bandJoin self and cross forms, at both capBatch settings, equal a brute force") {
    (0 until 12).foreach { trial =>
      val c = cases(Gen.Parameters.default, Seed(trial.toLong)).get
      val keep = Some(col("hamming") <= c.radius)
      def join(index: Seq[(Long, Long)], batch: Option[Seq[(Long, Long)]],
          capBatch: Boolean) =
        run(Dedup.bandJoin(frame(index), batch.map(frame), Seq("id", "sig"),
          band, c.cap, capBatch = capBatch, score = score, keep = keep))
      val all = counts(c.rows)
      assert(join(c.rows, None, capBatch = false) ==
        brute(c.rows, c.rows, all(_) <= c.cap, c.radius, self = true),
        s"self form, trial $trial ($c)")
      val (index, batch) = c.rows.partition(_._1 <= c.split)
      val (ci, cb) = (counts(index), counts(batch))
      for (capBatch <- Seq(false, true)) {
        val ok = (k: (Int, Long)) =>
          ci(k) <= c.cap && (!capBatch || cb(k) <= c.cap)
        assert(join(index, Some(batch), capBatch) ==
          brute(index, batch, ok, c.radius, self = false),
          s"cross form capBatch=$capBatch, trial $trial ($c)")
      }
    }
  }

  // --- bucketPairs on vector (table, cell) buckets -------------------
  private case class VecCase(rows: Seq[(Long, Seq[Float], Int, Long)],
      threshold: Double, split: Long)

  /** Ids 1..n, each with a 4-dim vector (a few are near copies of an
    * earlier one) assigned to `probes` distinct cells of 2-4 in each of
    * `tables` tables: with so few cells, many pairs share a cell in
    * several tables. */
  private val vecCases: Gen[VecCase] = for {
    n <- Gen.choose(6, 20)
    tables <- Gen.choose(1, 3)
    nCells <- Gen.choose(2, 4)
    probes <- Gen.choose(1, 2)
    vecs <- Gen.listOfN(n, Gen.listOfN(4, Gen.choose(-1f, 1f)))
    copies <- Gen.listOfN(n, Gen.frequency(3 -> false, 1 -> true))
    cells <- Gen.listOfN(n * tables, Gen.pick(math.min(probes, nCells), 0L until nCells))
    threshold <- Gen.oneOf(-1.0, 0.0, 0.6)
  } yield {
    val vs = vecs.indices.foldLeft(Vector.empty[Seq[Float]]) { (acc, i) =>
      acc :+ (if (copies(i) && acc.nonEmpty) acc(i / 2).map(_ * 1.01f) else vecs(i))
    }
    val rows = for {
      i <- 0 until n; t <- 0 until tables; c <- cells(i * tables + t).toSeq
    } yield ((i + 1).toLong, vs(i), t, c + 10L * t)
    VecCase(rows, threshold, (n / 2).toLong)
  }

  test("bucketPairs self and cross forms on (table, cell) buckets equal a deduped theta join") {
    val simd = Vectors.cosineFast(col("l.vec"), col("r.vec")).as("simd")
    def frame(rows: Seq[(Long, Seq[Float], Int, Long)]): DataFrame =
      rows.toDF("id", "vec", "table", "cell").repartition(3)
    def reference(l: DataFrame, r: DataFrame, self: Boolean,
        threshold: Double): Set[Row3] = {
      val on = col("l.table") === col("r.table") && col("l.cell") === col("r.cell")
      rows3(l.as("l").join(r.as("r"), if (self) on && col("l.id") < col("r.id") else on)
        .select(col("l.id").as("id1"), col("r.id").as("id2"), simd)
        .filter(col("simd") >= threshold).distinct()).toSet
    }
    (0 until 12).foreach { trial =>
      val c = vecCases(Gen.Parameters.default, Seed(trial.toLong)).get
      def core(index: DataFrame, batch: Option[DataFrame]): Seq[Row3] =
        rows3(Dedup.bucketPairs(index, batch, Seq("id", "vec"),
          Seq("table", "cell"), Int.MaxValue, score = Seq(simd),
          keep = Some(col("simd") >= c.threshold)))
      val all = frame(c.rows)
      val self = core(all, None)
      assert(self.distinct.size == self.size, s"duplicate self pair, trial $trial")
      assert(self.toSet == reference(all, all, self = true, c.threshold),
        s"self form, trial $trial ($c)")
      val (index, batch) = c.rows.partition(_._1 <= c.split)
      val cross = core(frame(index), Some(frame(batch)))
      assert(cross.distinct.size == cross.size, s"duplicate cross pair, trial $trial")
      assert(cross.toSet ==
        reference(frame(index), frame(batch), self = false, c.threshold),
        s"cross form, trial $trial ($c)")
    }
  }

  private type Row3 = (Long, Long, Double)
  private def rows3(df: DataFrame): Seq[Row3] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
}
