package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipelines.OsmFixture

/** The 12 capstone queries (README.md:868-1242) oracle-checked AT SCALE:
  * OsmFixture shapes the ~50 MB synthetic extract (243,046 elements —
  * the reference's real input size, README.md:874) to parquet once, and
  * each o* query + its DuckDB mirror read that same parquet. This is
  * what finally exercises the XML source + OsmShape at the reference's
  * input scale; example.osm (43 lines) only pins the golden semantics.
  *
  * The fixture is sf-independent (one metro extract, not a TPC-H scale
  * ladder), so query fns ignore sfDir and the mirrors use the fixture's
  * absolute path — the driver's DuckDB runs on the same machine.
  */
object OsmSuite {

  /** Pinned "now" for the edit-age stats (F20 determinism rule). */
  val nowIso = "2015-01-01 00:00:00"

  private def docs(s: SparkSession): DataFrame = {
    OsmFixture.ensure(s)
    graft.Graft.tune(s)
    graft.Graft.read(s, OsmFixture.docsPath)
  }
  private def rawTags(s: SparkSession): DataFrame = {
    OsmFixture.ensure(s)
    graft.Graft.tune(s)
    graft.Graft.read(s, OsmFixture.rawTagsPath)
  }

  private def D = s"read_parquet('${OsmFixture.docsPath}/*.parquet')"
  private def RT = s"read_parquet('${OsmFixture.rawTagsPath}/*.parquet')"

  val queries: Map[String, Q] = Map(

    // --- README.md:874 — total document count ------------------------
    "o1_doc_count" -> Q(
      (s, _) => docs(s).agg(count(lit(1)).as("n")),
      Some(s"SELECT COUNT(*) AS n FROM $D"),
      "OSM capstone: db.sfbay.find().count() at the reference's 243k-element scale"),

    // --- README.md:888 — distinct editors -----------------------------
    "o2_distinct_users" -> Q(
      (s, _) => docs(s).agg(countDistinct(col("created.user")).as("n")),
      Some(s"SELECT COUNT(DISTINCT created['user']) AS n FROM $D"),
      "OSM capstone: len(db.sfbay.distinct('created.user')) — dotted path distinct"),

    // --- README.md:896-903 — $group by element type -------------------
    "o3_counts_by_type" -> Q(
      (s, _) => OsmQueries.countsByType(docs(s)),
      Some(s"""SELECT type, COUNT(*) AS "count" FROM $D
        |GROUP BY type ORDER BY "count" DESC, type ASC""".stripMargin),
      "OSM capstone: counts by node/way type"),

    // --- README.md:911-925 — top contributors -------------------------
    "o4_top_contributors" -> Q(
      (s, _) => OsmQueries.topContributors(docs(s), 3),
      Some(s"""SELECT created['user'] AS "user", COUNT(*) AS "count" FROM $D
        |GROUP BY 1 ORDER BY "count" DESC, "user" ASC LIMIT 3""".stripMargin),
      "OSM capstone: top-3 contributors ($group on created.user + $sort/$limit)"),

    // --- README.md:976-991 — $unwind node_refs, most-referenced -------
    "o5_most_referenced" -> Q(
      (s, _) => OsmQueries.mostReferencedNodes(docs(s), 3),
      Some(s"""SELECT ref, COUNT(*) AS "count"
        |FROM (SELECT UNNEST(node_refs) AS ref FROM $D)
        |GROUP BY ref ORDER BY "count" DESC, ref ASC LIMIT 3""".stripMargin),
      "OSM capstone: $unwind node_refs → most-referenced nodes (planted hubs)"),

    // --- README.md:1056-1065 — postcode histogram ---------------------
    "o6_postcodes" -> Q(
      (s, _) => OsmQueries.postcodes(docs(s)),
      Some(s"""SELECT address['postcode'] AS postcode, COUNT(*) AS "count" FROM $D
        |WHERE address['postcode'] IS NOT NULL
        |GROUP BY 1 ORDER BY "count" DESC, postcode ASC""".stripMargin),
      "OSM capstone: $exists postcode histogram (dirty CA-prefixed variants kept)"),

    // --- README.md:1101-1111 — city histogram -------------------------
    "o7_cities" -> Q(
      (s, _) => OsmQueries.cities(docs(s)),
      Some(s"""SELECT address['city'] AS city, COUNT(*) AS "count" FROM $D
        |WHERE address['city'] IS NOT NULL
        |GROUP BY 1 ORDER BY "count" DESC, city ASC""".stripMargin),
      "OSM capstone: city histogram (case-variant 'oakland' kept, like the reference)"),

    // --- README.md:1140-1150 — top amenities --------------------------
    "o8_top_amenities" -> Q(
      (s, _) => OsmQueries.topAmenities(docs(s), 10),
      Some(s"""SELECT amenity, COUNT(*) AS "count" FROM $D
        |WHERE amenity IS NOT NULL
        |GROUP BY 1 ORDER BY "count" DESC, amenity ASC LIMIT 10""".stripMargin),
      "OSM capstone: top-10 amenities"),

    // --- README.md:1169-1179 — top banks ------------------------------
    "o9_top_banks" -> Q(
      (s, _) => OsmQueries.topBanks(docs(s), 10),
      Some(s"""SELECT name, COUNT(*) AS "count" FROM $D
        |WHERE amenity = 'bank' AND name IS NOT NULL
        |GROUP BY 1 ORDER BY "count" DESC, name ASC LIMIT 10""".stripMargin),
      "OSM capstone: $match amenity=bank + $group name"),

    // --- README.md:1186-1196 — top cuisines ---------------------------
    "o10_top_cuisines" -> Q(
      (s, _) => OsmQueries.topCuisines(docs(s), 10),
      Some(s"""SELECT cuisine, COUNT(*) AS "count" FROM $D
        |WHERE amenity = 'restaurant' AND cuisine IS NOT NULL
        |GROUP BY 1 ORDER BY "count" DESC, cuisine ASC LIMIT 10""".stripMargin),
      "OSM capstone: restaurant cuisines"),

    // --- README.md:1208-1223 — $dayOfWeek histogram -------------------
    "o11_edits_by_dow" -> Q(
      (s, _) => docs(s)
        .groupBy(dayofweek(col("created.timestamp")).cast("long").as("dayOfWeek"))
        .agg(count(lit(1)).as("count"))
        .orderBy(col("dayOfWeek").asc),
      Some(s"""SELECT dayofweek(created['timestamp']) + 1 AS dayOfWeek,
        |  COUNT(*) AS "count"
        |FROM $D GROUP BY 1 ORDER BY dayOfWeek""".stripMargin),
      "OSM capstone: $dayOfWeek edit histogram, 1=Sunday"),

    // --- README.md:1231-1242 — edit age stats, pinned now -------------
    "o12_edit_age_stats" -> Q(
      (s, _) => OsmQueries.editAgeStats(docs(s), nowIso),
      Some(s"""SELECT
        |  MIN((epoch_ms(TIMESTAMP '$nowIso') - epoch_ms(created['timestamp'])) / 86400000.0) AS newest,
        |  MAX((epoch_ms(TIMESTAMP '$nowIso') - epoch_ms(created['timestamp'])) / 86400000.0) AS oldest,
        |  COUNT(*) AS n
        |FROM $D""".stripMargin),
      "OSM capstone: edit age in days vs pinned now ($subtract/$divide, F20)"),

    // --- geospatial extension: grid-cell density over pos --------------
    // The reference stores pos=[lat,lon] (README.md:580) but never
    // queries it; this is the density query a user of the shaped
    // collection would run. Pure double arithmetic → exact mirror.
    "o14_grid_density" -> Q(
      (s, _) => docs(s).filter(col("type") === "node")
        .groupBy(
          graft.operators.Geo.cell(col("pos")(0), 0.02).as("cell_lat"),
          graft.operators.Geo.cell(col("pos")(1), 0.02).as("cell_lon"))
        .agg(count(lit(1)).as("count"))
        .orderBy(col("count").desc, col("cell_lat").asc, col("cell_lon").asc)
        .limit(20),
      Some(s"""SELECT CAST(FLOOR(pos[1] / 0.02) AS BIGINT) AS cell_lat,
        |  CAST(FLOOR(pos[2] / 0.02) AS BIGINT) AS cell_lon,
        |  COUNT(*) AS "count"
        |FROM $D WHERE type = 'node'
        |GROUP BY 1, 2 ORDER BY "count" DESC, cell_lat ASC, cell_lon ASC
        |LIMIT 20""".stripMargin),
      "Geo extension: 0.02-degree grid-cell density of nodes (top 20 cells)"),

    // --- geospatial extension: grid-blocked box join -------------------
    // Spark side: Geo.boxJoin (cell equi-join candidates + exact box
    // verify — never a cross join). DuckDB mirrors with the plain
    // inequality join; both produce the identical pair set.
    "o15_nearby_restaurants" -> Q(
      (s, _) => {
        val nodes = docs(s).filter(col("type") === "node")
        val banks = nodes.filter(col("amenity") === "bank")
          .select(col("id").as("b_id"), col("pos")(0).as("b_lat"),
            col("pos")(1).as("b_lon"))
        val rests = nodes.filter(col("amenity") === "restaurant")
          .select(col("id").as("r_id"), col("pos")(0).as("r_lat"),
            col("pos")(1).as("r_lon"))
        graft.operators.Geo.boxJoin(banks, rests,
            "b_lat", "b_lon", "r_lat", "r_lon", 0.01)
          .groupBy("b_id").agg(count(lit(1)).as("n_nearby"))
          .orderBy(col("n_nearby").desc, col("b_id").asc)
          .limit(20)
      },
      Some(s"""WITH b AS (SELECT id AS b_id, pos[1] AS b_lat, pos[2] AS b_lon
        |  FROM $D WHERE type = 'node' AND amenity = 'bank'),
        |r AS (SELECT id AS r_id, pos[1] AS r_lat, pos[2] AS r_lon
        |  FROM $D WHERE type = 'node' AND amenity = 'restaurant')
        |SELECT b_id, COUNT(*) AS n_nearby
        |FROM b JOIN r ON abs(b_lat - r_lat) <= 0.01 AND abs(b_lon - r_lon) <= 0.01
        |GROUP BY b_id ORDER BY n_nearby DESC, b_id ASC LIMIT 20""".stripMargin),
      "Geo extension: restaurants within a 0.01-degree box of each bank " +
        "(grid-blocked candidates + exact verify vs DuckDB's direct theta join)"),

    // --- skew extension: salted exact distinct count -------------------
    // The fixture reproduces the reference's real skew (top contributor
    // owns ~27% of docs, README.md:923). countDistinct state for that
    // key cannot be split by partial aggregation; Skew.saltedDistinctCount
    // spreads it over hash(value)-derived sub-keys. Result is EXACT —
    // the oracle is the plain COUNT(DISTINCT).
    "o16_salted_distinct_changesets" -> Q(
      (s, _) => {
        val d = docs(s).select(col("created.user").as("user"),
          col("created.changeset").as("changeset"))
        graft.operators.Skew.saltedDistinctCount(d, "user", "changeset", 32)
          .orderBy(col("n_distinct").desc, col("user").asc)
          .limit(5)
      },
      Some(s"""SELECT created['user'] AS "user",
        |  COUNT(DISTINCT created['changeset']) AS n_distinct
        |FROM $D GROUP BY 1
        |ORDER BY n_distinct DESC, "user" ASC LIMIT 5""".stripMargin),
      "Skew extension: top-5 users by distinct changesets via salted " +
        "two-phase distinct (exact; hot key's state spread over 32 sub-keys)"),

    // --- skew extension: salted equi-join ------------------------------
    // Join the skewed fact (27% of rows share one user) to a per-user
    // dim with the hot key spread over 16 salts. Row multiplicity is
    // unchanged, so the oracle is the plain join.
    "o17_salted_hot_join" -> Q(
      (s, _) => {
        val d = docs(s).select(col("id"), col("created.user").as("user"),
          col("created.timestamp").as("ts"))
        val dim = d.groupBy("user").agg(min("ts").as("first_ts"))
        graft.operators.Skew.saltedJoin(d, dim, "user", Seq("id"), 16)
          .filter(col("ts") < col("first_ts") + expr("INTERVAL 30 DAYS"))
          .groupBy("user").agg(count(lit(1)).as("n_early"))
          .orderBy(col("n_early").desc, col("user").asc)
          .limit(10)
      },
      Some(s"""WITH d AS (SELECT id, created['user'] AS u,
        |    created['timestamp'] AS ts FROM $D),
        |dim AS (SELECT u, MIN(ts) AS first_ts FROM d GROUP BY 1)
        |SELECT d.u AS "user", COUNT(*) AS n_early
        |FROM d JOIN dim ON d.u = dim.u
        |WHERE d.ts < dim.first_ts + INTERVAL 30 DAY
        |GROUP BY 1 ORDER BY n_early DESC, "user" ASC LIMIT 10""".stripMargin),
      "Skew extension: docs within 30 days of each user's first edit — " +
        "salted equi-join (hot key over 16 salts), oracle = plain join"),

    // --- §1.3's load-bearing mapping: $exists on the OPEN TAG TAIL -----
    // Promoted columns answer $exists with IS NOT NULL; every OTHER tag
    // key lives in `tags map<string,string>` and $exists becomes
    // map_contains_key — this query exercises exactly that surface
    // (presence test + value extraction on the map), which no promoted-
    // column query touches.
    "o18_tail_exists" -> Q(
      (s, _) =>
        docs(s).filter(map_contains_key(col("tags"), "building"))
          .groupBy(col("type"),
            element_at(col("tags"), "source").isNotNull.as("has_source"))
          .agg(count(lit(1)).as("count"))
          .orderBy(col("type").asc, col("has_source").asc),
      Some(s"""SELECT type, (tags['source'])[1] IS NOT NULL AS has_source,
        |  COUNT(*) AS "count"
        |FROM $D WHERE list_contains(map_keys(tags), 'building')
        |GROUP BY 1, 2 ORDER BY type ASC, has_source ASC""".stripMargin),
      "$exists on the open tag tail (tags map): presence + extraction, " +
        "the SURVEY §1.3 dynamic-document mapping"),

    // --- skew extension: sketch-then-verify heavy hitters --------------
    // Top-k contributors WITHOUT shuffling one row per distinct key:
    // Misra-Gries summaries (capacity 1024 → guarantee bar n/1024 ≈ 237
    // docs) generate candidates, an exact recount of only those keys
    // ranks them. Exact whenever the k-th user clears the bar — here the
    // 5th-heaviest has ~900 docs, a ~4x margin — so the oracle is the
    // plain groupBy top-k.
    "o19_mg_heavy_hitters" -> Q(
      (s, _) => {
        val d = docs(s).select(col("created.user").as("user"))
        graft.operators.HeavyHitters.exactTopK(d, "user", 5, 1024)
      },
      Some(s"""SELECT created['user'] AS "user", COUNT(*) AS "count" FROM $D
        |GROUP BY 1 ORDER BY "count" DESC, "user" ASC LIMIT 5""".stripMargin),
      "Skew extension: top-5 contributors via Misra-Gries candidates + " +
        "exact recount (bounded-state sketch, no per-distinct-key shuffle)"),

    // --- mapparser.py:16-21 / tags.py — raw tag-key census -------------
    "o13_key_census" -> Q(
      (s, _) => OsmQueries.keyClassCensus(rawTags(s)),
      Some(s"""SELECT CASE
        |    WHEN regexp_matches(t['_k'], '^([a-z]|_)*$$') THEN 'lower'
        |    WHEN regexp_matches(t['_k'], '^([a-z]|_)*:([a-z]|_)*$$') THEN 'lower_colon'
        |    WHEN regexp_matches(t['_k'], '[=\\+/&<>;''"\\?%#$$@,\\. \\t\\r\\n]') THEN 'problemchars'
        |    ELSE 'other' END AS cls,
        |  COUNT(*) AS "count"
        |FROM (SELECT UNNEST(tag) AS t FROM $RT)
        |GROUP BY 1 ORDER BY cls""".stripMargin),
      "OSM capstone: tags.py key_type census over RAW (pre-shaping) tag arrays"))
}
