package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.pipelines.{Arachnids, Autos, Cities, Feeds}
import graft.queries.CityQueries
import graft.sinks.Sinks
import graft.sources.{ArticleXml, DirtyCsv, Html, MultiDocXml}

/** Infobox pipelines + remaining sources/sinks, on recreated fixtures
  * (SURVEY §5.1 golden shapes: processing.py:118-142, autos.py,
  * name.py:55-57, area.py:64-67, 02/process.py:79-97).
  */
class PipelinesSpec extends SparkSpec {

  private def res(name: String) = getClass.getResource(s"/$name").getPath

  test("S4 dbpedia scan skips the 3 metadata pseudo-rows by content") {
    val df = DirtyCsv.readDbpedia(spark, res("arachnids.csv"))
    assert(df.count() == 3)
  }

  test("arachnid cleaning (processing.py:58-105)") {
    val docs = Arachnids.clean(
      DirtyCsv.readDbpedia(spark, res("arachnids.csv"))).cache()
    val argiope = docs.filter(col("uri").contains("Argiope")).collect()(0)
    assert(argiope.getAs[scala.collection.Seq[String]]("synonym") ==
      Seq("Epeira argentata", "Aranea argentata"))
    assert(argiope.getAs[Row]("classification").getAs[String]("kingdom") == "Animal")
    // name NULL + label "(spider)" suffix → label minus qualifier
    val heteropoda = docs.filter(col("uri").contains("Heteropoda")).collect()(0)
    assert(heteropoda.getAs[String]("name") == "Heteropoda venatoria")
    // whitespace-padded synonym becomes single-element trimmed array
    val latrodectus = docs.filter(col("uri").contains("Latrodectus")).collect()(0)
    assert(latrodectus.getAs[scala.collection.Seq[String]]("synonym") == Seq("Latrodectus mactans"))
    assert(latrodectus.getAs[Row]("classification").getAs[String]("class") == null)
  }

  test("J1/K6 binomialAuthority broadcast update join (04/update.py)") {
    import spark.implicits._
    val docs = Arachnids.clean(DirtyCsv.readDbpedia(spark, res("arachnids.csv")))
    val lookup = Seq(("Argiope argentata", "Fabricius, 1775")).toDF("label", "authority")
    val updated = Arachnids.addBinomialAuthority(docs, lookup)
    val got = updated.select(col("label"),
      col("classification.binomialAuthority").as("ba"))
      .collect().map(r => r.getString(0) -> Option(r.getString(1))).toMap
    assert(got("Argiope argentata").contains("Fabricius, 1775"))
    assert(got("Latrodectus mactans").isEmpty)
  }

  test("autos cleaning: units, paren strip, year expansion (04/autos.py)") {
    val cars = Autos.clean(DirtyCsv.readDbpedia(spark, res("autos.csv"))).cache()
    val porsche = cars.filter(col("name") === "Porsche 911").collect()(0)
    // mm-scale dims (<0.01) multiplied by 1000; weight kg→tonnes
    val dims = porsche.getAs[Row]("dimensions")
    assert(math.abs(dims.getAs[Double]("length") - 4.499) < 1e-9)
    assert(math.abs(dims.getAs[Double]("weight") - 1.38) < 1e-9)
    assert(porsche.getAs[scala.collection.Seq[String]]("assembly") == Seq("Stuttgart", "Germany"))
    assert(porsche.getAs[scala.collection.Seq[Int]]("productionYears") == Seq(1963, 1964, 1965))
    val audi = cars.filter(col("name") === "Audi A4").collect()(0)
    // multi-range years: sorted starts zipped with sorted ends
    assert(audi.getAs[scala.collection.Seq[Int]]("modelYears") ==
      Seq(1995, 1996, 2001, 2002, 2003))
    assert(audi.getAs[Row]("dimensions").getAs[Double]("length") == 4.703)
    val bad = cars.filter(col("name") === "Bad Car").collect()(0)
    assert(bad.getAs[scala.collection.Seq[String]]("assembly") == null)
    assert(bad.getAs[scala.collection.Seq[Int]]("modelYears") == null)
  }

  test("cities: validity split, clean, type audit (03-data-quality)") {
    val raw = DirtyCsv.readDbpedia(spark, res("cities.csv"))
    // non-dbpedia row already filtered by the scan; validity flags rest
    val flagged = Cities.validity(raw)
    // Chennai (1639) and Vilnius (1387) fall outside [1886,2014]
    assert(flagged.filter(col("is_valid")).count() == 3)
    val audit = Cities.typeAudit(raw, Seq("areaLand", "populationTotal"))
      .collect()(0)
    assert(audit.getSeq[String](0).toSet == Set("NULL", "list", "float"))
    assert(audit.getSeq[String](1).toSet == Set("int"))
    val cleaned = Cities.clean(raw).cache()
    val shahpur = cleaned.filter(col("lat") === 27.1).collect()(0)
    assert(shahpur.getAs[String]("name") == "Shahpur")
    assert(shahpur.getAs[scala.collection.Seq[String]]("isPartOf") == Seq("Uttar Pradesh", "Awadh"))
    assert(shahpur.getAs[Double]("areaLand") == 5.5166e7) // longest candidate
  }

  test("lesson-05 city pipelines (05-analyzing-data)") {
    val cities = Cities.clean(
      DirtyCsv.readDbpedia(spark, res("cities.csv"))).cache()
    val top = CityQueries.mostCommonCityName(cities).collect()(0)
    assert(top.getString(0) == "Shahpur" && top.getLong(1) == 2L)
    // lon∈[75,80] excludes Chennai (80.27): UP×2, Awadh×1, TN×1
    val region = CityQueries.regionWithMostCities(cities).collect()(0)
    assert(region.getString(0) == "Uttar Pradesh" && region.getLong(1) == 2L)
    // unwind-first variant (countrywide): UP×2 ties TN×2 → name tiebreak
    val uf = CityQueries.regionsWithMostCitiesUnwindFirst(cities, "India", 1)
      .collect()(0)
    assert(uf.getString(0) == "Tamil Nadu" && uf.getLong(1) == 2L)
    // avg-of-avgs is NOT the global avg: India regions = UP(avg 25000),
    // Awadh(20000), TN(avg 2832298.5) → country avg over region avgs
    val avgs = CityQueries.avgRegionalPopulation(cities)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val expectIndia = (25000.0 + 20000.0 + (4646732.0 + 1017865.0) / 2) / 3
    assert(math.abs(avgs("India") - expectIndia) < 1e-9)
    val globalIndia = CityQueries.avgCityPopForCountry(cities, "India")
      .collect()(0).getDouble(0)
    assert(math.abs(globalIndia - expectIndia) < 1e-9)
  }

  test("S7/S8/S9 HTML extraction (02/process.py:79-97 shape)") {
    val opts = Html.optionList(spark, res("flights"), "CarrierList")
      .collect().map(_.getString(0)).sorted.toSeq
    assert(opts == Seq("AS", "XE"))
    val hidden = Html.hiddenFields(spark, res("flights")).collect()(0)
    assert(hidden.getString(0) == "abcDEF123" && hidden.getString(1) == "xyz789")
    val flights = Html.flightTable(spark, res("flights")).cache()
    assert(flights.count() == 2) // TOTAL row dropped
    val first = flights.filter(col("month") === 1).collect()(0)
    assert(first.getString(0) == "XE" && first.getString(1) == "ATL")
    assert(first.getAs[Row]("flights").getAs[Long]("domestic") == 1234L)
  }

  test("F23 authors nested extraction (02/authors.py:18-49 goldens)") {
    // golden values from the reference's own asserts (authors.py:35-49):
    // 8 authors in document order, fnm/snm/email child texts, repeated
    // insr/@iid attributes collected per author
    val rows = ArticleXml.authors(spark, res("article.xml"))
      .orderBy("ord").collect()
    assert(rows.length == 8)
    def au(i: Int) = (rows(i).getAs[String]("fnm"), rows(i).getAs[String]("snm"),
      rows(i).getAs[String]("email"),
      rows(i).getAs[scala.collection.Seq[String]]("insr").toSeq)
    assert(au(0) == ("Omer", "Mei-Dan", "omer@extremegate.com", Seq("I1")))
    assert(au(1)._4 == Seq("I2"))
    assert(au(2) == ("Lior", "Laver", "laver17@gmail.com", Seq("I3", "I4")))
    assert(au(5) == ("Gideon", "Mann", "gideon.mann.md@gmail.com", Seq("I3", "I5")))
    assert(au(7) == ("Eugene", "Kots", "eukots@gmail.com", Seq("I7")))
  }

  test("S10 multi-document XML splitter (02/split_data.py)") {
    val docs = MultiDocXml.documents(spark, res("multidoc.xml")).cache()
    assert(docs.count() == 3)
    val texts = docs.orderBy("doc_id").collect().map(_.getString(1))
    assert(texts(0).contains("first patent") && texts(0).startsWith("<?xml"))
    assert(texts(2).contains("gamma"))
  }

  test("S11 NYT thumbnails reshape (01/nytimes.py:37-48)") {
    import spark.implicits._
    val articles = Seq(
      ("A story", Seq(("image", Seq(("Standard Thumbnail", "http://x/a.jpg"),
        ("Large", "http://x/b.jpg"))))),
      ("No media", Seq.empty[(String, Seq[(String, String)])]))
      .toDF("title", "raw")
      .select(col("title"), transform(col("raw"), m => struct(
        m.getField("_1").as("type"),
        transform(m.getField("_2"), mm => struct(
          mm.getField("_1").as("format"),
          mm.getField("_2").as("url"))).as("media-metadata"))).as("media"))
    val thumbs = Feeds.thumbnails(articles).collect()
    assert(thumbs.length == 1)
    assert(thumbs(0).getString(0) == "A story" &&
      thumbs(0).getString(1) == "http://x/a.jpg")
  }

  test("S5/A11 excel-serial load stats (01/ercot_coast_stats.py)") {
    import spark.implicits._
    // serial 40179.0 = 2010-01-01 00:00:00 UTC
    val long = Seq(
      ("COAST", 40179.0, 7606.0), ("COAST", 40179.5, 12345.5),
      ("COAST", 40180.0, 8000.0), ("NORTH", 40179.0, 1000.0))
      .toDF("region", "serial", "load")
    val stats = Feeds.loadStats(long).orderBy("region").collect()
    val coast = stats(0)
    assert(coast.getString(0) == "COAST")
    assert(coast.getDouble(1) == 12345.5)
    assert(coast.getAs[java.sql.Timestamp](2).toString == "2010-01-01 12:00:00.0")
    assert(coast.getDouble(3) == 7606.0)
    assert(math.abs(coast.getDouble(4) - (7606.0 + 12345.5 + 8000.0) / 3) < 1e-9)
  }

  test("K1/K2/K3 sinks write and round-trip") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("sinks").toString
    val df = Seq((1, "a", true), (2, "b", false)).toDF("id", "v", "ok")
    Sinks.ndjson(df, s"$tmp/nd")
    assert(spark.read.json(s"$tmp/nd").count() == 2)
    Sinks.pipeCsv(df, s"$tmp/csv")
    val csv = spark.read.option("header", "true").option("sep", "|")
      .csv(s"$tmp/csv")
    assert(csv.columns.toSeq == Seq("id", "v", "ok") && csv.count() == 2)
    Sinks.routeByValidity(df, "ok", s"$tmp/routed")
    // partition columns come back as strings (no bool inference)
    assert(spark.read.parquet(s"$tmp/routed")
      .filter(col("ok") === "true").count() == 1)
    val view = Sinks.saveCollection(df, s"$tmp/coll", "test_coll")
    assert(view.count() == 2)
    assert(spark.sql("SELECT COUNT(*) FROM test_coll").collect()(0).getLong(0) == 2)
  }

  test("K4/K5 literal mongo sink: availability-gated with a clear error") {
    import spark.implicits._
    val df = Seq((1, "a")).toDF("id", "v")
    if (Sinks.mongoAvailable(spark)) {
      cancel("mongo connector present but no server in sandbox — covered by integration env")
    } else {
      val e = intercept[IllegalArgumentException] {
        Sinks.saveToMongo(df, "mongodb://localhost", "db", "coll")
      }
      assert(e.getMessage.contains("mongo-spark connector"))
    }
  }
}
