package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.queries.OsmQueries
import graft.shape.OsmShape
import graft.sources.OsmXml
import graft.tools.GenOsm

/** The GenOsm → OsmXml (explicit schema) → OsmShape → capstone-query
  * path at small scale. The SAME code runs at 243k elements in
  * OsmFixture for the o1..o13 oracles; this spec pins the generator's
  * planted invariants fast (2.3k elements).
  */
class OsmScaleSpec extends SparkSpec {

  private val nNodes = 2000
  private val nWays = 300

  private lazy val dir = Files.createTempDirectory("osmscale").toString
  private lazy val xml = s"$dir/synth.osm"
  private lazy val docs = {
    GenOsm.write(xml, nNodes, nWays)
    OsmShape.shape(
      OsmXml.nodes(spark, xml, Some(OsmXml.nodeSchema)),
      OsmXml.ways(spark, xml, Some(OsmXml.waySchema))).cache()
  }

  test("generator is deterministic and shaper keeps every element") {
    assert(docs.count() == nNodes + nWays)
    val xml2 = s"$dir/synth2.osm"
    GenOsm.write(xml2, nNodes, nWays)
    assert(java.util.Arrays.equals(
      Files.readAllBytes(java.nio.file.Paths.get(xml)),
      Files.readAllBytes(java.nio.file.Paths.get(xml2))))
  }

  test("type counts split nodes/ways exactly") {
    val byType = OsmQueries.countsByType(docs).collect()
      .map(r => r.getString(r.fieldIndex("type")) -> r.getLong(r.fieldIndex("count")))
      .toMap
    assert(byType == Map("node" -> nNodes.toLong, "way" -> nWays.toLong))
  }

  test("planted hubs are the top referenced nodes with expected fan-in") {
    val top = OsmQueries.mostReferencedNodes(docs, 3).collect()
      .map(r => r.getString(0) -> r.getLong(1))
    assert(top.map(_._1).toSeq ==
      GenOsm.hubIds.map(_.toString)) // 1000000, 1000001, 1000002
    // i%2 / i%3 / i%5 over 300 ways
    assert(top(0)._2 == 150L && top(1)._2 == 100L && top(2)._2 == 60L)
  }

  test("address routing: postcodes/cities exist, deeper addr keys dropped") {
    assert(OsmQueries.postcodes(docs).count() > 0)
    assert(OsmQueries.cities(docs).count() > 0)
    // addr:street:name never reaches the address struct or the tag map
    assert(docs.filter(col("tags")("street:name").isNotNull).count() == 0)
    // dirty suffixes were expanded by the shaper (F3: no bare 'St' tail)
    assert(docs.filter(col("address.street").rlike(" (St|Rd|Ave|Blvd)\\.?$"))
      .count() == 0)
  }

  test("promoted keys queryable: amenities, banks, cuisines, dow, ages") {
    assert(OsmQueries.topAmenities(docs).count() > 0)
    val banks = OsmQueries.topBanks(docs).collect()
    assert(banks.nonEmpty && banks.forall(_.getLong(1) > 0))
    assert(OsmQueries.topCuisines(docs).count() > 0)
    val dows = OsmQueries.editsByDayOfWeek(docs).collect()
      .map(_.getAs[Number](0).longValue)
    assert(dows.forall(d => d >= 1 && d <= 7))
    val Array(age) = OsmQueries.editAgeStats(docs, "2015-01-01 00:00:00").collect()
    val (newest, oldest) = (age.getDouble(0), age.getDouble(1))
    assert(newest > 300 && oldest < 2600 && newest < oldest) // 2008..2014 data
    assert(age.getLong(2) == nNodes + nWays)
  }

  test("San Francisco census: the reference's commented asserts hold end-to-end") {
    // The reference pins its real-run numbers in commented asserts:
    // 1,510,907 nodes / 117,911 ways (mapparser.py:29-36), 5,925,339
    // tags (tags.py:56-59), 1,120 contributors (users.py:34) — ~6× the
    // 243k metro fixture. This case runs the FULL path — GenOsm (exact
    // tag census via the feedback controller, forced user coverage,
    // proportional 27.2% contributor skew) → OsmXml explicit-schema
    // parse → OsmShape → o-suite queries — at that census and asserts
    // all four counts plus the query invariants at scale. /dev/shm
    // keeps the ~490 MB XML off the slow shared disk.
    val sfDir = "/dev/shm/graft-osm-sf"
    val sfXml = s"$sfDir/synth.osm"
    GenOsm.write(sfXml, GenOsm.sfNodes, GenOsm.sfWays,
      nUsers = GenOsm.sfUsers, targetTags = Some(GenOsm.sfTags),
      coverUsers = true)
    val nodes = OsmXml.nodes(spark, sfXml, Some(OsmXml.nodeSchema))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ways = OsmXml.ways(spark, sfXml, Some(OsmXml.waySchema))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // tags.py:56-59 — raw <tag> census over both element kinds
      val nTags = nodes.select(coalesce(size(col("tag")), lit(0)).as("s"))
        .unionAll(ways.select(coalesce(size(col("tag")), lit(0)).as("s")))
        .agg(sum("s")).head().getLong(0)
      assert(nTags == GenOsm.sfTags, s"tag census: $nTags")
      val sfDocs = OsmShape.shape(nodes, ways)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        // mapparser.py:29-36 — element census through the shaper
        val byType = sfDocs.groupBy(col("type")).count().collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        assert(byType == Map("node" -> GenOsm.sfNodes.toLong,
          "way" -> GenOsm.sfWays.toLong), s"type census: $byType")
        // users.py:34 — contributor census + the planted 27.2% skew
        val users = OsmQueries.topContributors(sfDocs, GenOsm.sfUsers + 5)
          .collect()
        assert(users.length == GenOsm.sfUsers, s"users: ${users.length}")
        val topShare = users.map(_.getLong(1)).max.toDouble /
          (GenOsm.sfNodes + GenOsm.sfWays)
        assert(topShare > 0.25 && topShare < 0.30,
          s"contributor skew off the reference's 27.2%: $topShare")
        // o-suite invariants at SF scale: planted hub fan-in
        // (117,911 ways: i%2 / i%3 / i%5), key classes, addresses
        val top = OsmQueries.mostReferencedNodes(sfDocs, 3).collect()
          .map(r => r.getString(0) -> r.getLong(1))
        assert(top.map(_._1).toSeq == GenOsm.hubIds.map(_.toString))
        assert(top(0)._2 == 58956L && top(1)._2 == 39304L &&
          top(2)._2 == 23583L, s"hub fan-in: ${top.mkString(",")}")
        assert(OsmQueries.topAmenities(sfDocs).count() > 0)
        assert(OsmQueries.postcodes(sfDocs).count() > 0)
        val classes = OsmQueries.keyClassCensus(
          nodes.select(col("tag")).unionAll(ways.select(col("tag"))))
          .collect().map(r => r.getString(0)).toSet
        assert(classes == Set("lower", "lower_colon", "problemchars", "other"))
      } finally sfDocs.unpersist(false)
    } finally { nodes.unpersist(false); ways.unpersist(false) }
  }

  test("raw key census sees all four key classes") {
    val tagged = Seq(
      OsmXml.nodes(spark, xml, Some(OsmXml.nodeSchema)).select(col("tag")),
      OsmXml.ways(spark, xml, Some(OsmXml.waySchema)).select(col("tag")))
      .reduce(_ unionAll _)
    val classes = OsmQueries.keyClassCensus(tagged).collect()
      .map(r => r.getString(0)).toSet
    assert(classes == Set("lower", "lower_colon", "problemchars", "other"))
  }
}
