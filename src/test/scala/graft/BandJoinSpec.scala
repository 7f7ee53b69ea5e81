package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.expressions.CappedCollect
import graft.functions.Text
import graft.operators.Dedup

/** The near-dup core's bucket lists: `capped_collect`'s row-count cap
  * across partial buffers, and `Dedup.bandJoin`'s self and cross forms
  * against a plain-Scala brute force (x8's join-free plan is pinned in
  * PlanGuardSpec).
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
}
