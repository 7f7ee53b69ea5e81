package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Graft.table
import graft.functions.Clean

/** One declared query: a Spark implementation plus (optionally) the
  * equivalent ANSI SQL the driver runs in DuckDB as the correctness
  * oracle. Column names must match exactly (driver sorts columns by name
  * then hashes values).
  *
  * Cross-engine determinism rules used throughout this suite:
  *   - every query ends in a total ORDER BY (unique tiebreak columns);
  *   - double aggregation goes through exact DECIMAL sums (associative,
  *     order-independent) with a single final cast to double — bit-equal
  *     in Spark and DuckDB;
  *   - untouched doubles pass through raw (bit-equal by construction).
  */
final case class Q(
    fn: (SparkSession, String) => DataFrame,
    sql: Option[String],
    doc: String = "")

object Q {
  /** Stable identity for per-session memos (DedupShared/PqShared): the
    * classic session's UUID when available — identityHashCode can in
    * principle collide across sessions after GC and hand a memo bound
    * to a stopped SparkContext to a fresh session.
    */
  def sessionKey(s: SparkSession): String =
    org.apache.spark.sql.GraftColumnBridge.sessionKey(s)
}

/** Core relational surface: SURVEY.md §2.3 (find predicates), §2.4
  * (joins), §2.5 (aggregations), §2.6 (windows), §2.7 (sort/top-k),
  * §2.8 (set ops), §2.9 (restructuring) expressed over the driver
  * testdata star schema.
  */
object Core {

  /** Exact sum of a double column via DECIMAL(18,2) units, surfaced as
    * double. Order-independent → identical in Spark and DuckDB.
    */
  private def dsum(c: Column): Column =
    sum(c.cast("decimal(18,2)")).cast("double")
  private def dsumSql(c: String): String =
    s"CAST(SUM(CAST($c AS DECIMAL(18,2))) AS DOUBLE)"

  val queries: Map[String, Q] = Map(

    // --- §2.5 A1/A2 + §2.10 decimal-exact sums: pricing summary -------
    "a1_pricing_summary" -> Q(
      (s, dir) => {
        val li = table(s, dir, "lineitem")
          .filter(col("l_shipdate") <= lit("2001-09-02").cast("timestamp"))
        li.groupBy("l_returnflag", "l_linestatus")
          .agg(
            dsum(col("l_quantity")).as("sum_qty"),
            dsum(col("l_extendedprice")).as("sum_base_price"),
            sum(col("l_extendedprice").cast("decimal(18,2)") *
              (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
              .cast("double").as("sum_disc_price"),
            count(lit(1)).as("count_order"))
          .orderBy("l_returnflag", "l_linestatus")
      },
      Some("""SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        |  COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '2001-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),
      "A1/A2 count-and-sum per group (README.md:896-897 shape) on lineitem"),

    // --- §2.7 T3 top-k with deterministic tiebreak --------------------
    "t3_top_customers" -> Q(
      (s, dir) =>
        table(s, dir, "orders")
          .groupBy("o_custkey").agg(count(lit(1)).as("order_count"))
          .orderBy(col("order_count").desc, col("o_custkey").asc)
          .limit(10),
      Some("""SELECT o_custkey, COUNT(*) AS order_count
        |FROM orders GROUP BY o_custkey
        |ORDER BY order_count DESC, o_custkey ASC LIMIT 10""".stripMargin),
      "T3 sort+limit top-k (README.md:913-914); TakeOrderedAndProject plan"),

    // --- §2.3 P1/P2/P8 equality + conjunction + projection ------------
    "p1_filter_eq_project" -> Q(
      (s, dir) =>
        table(s, dir, "customer")
          .filter(col("c_mktsegment") === "BUILDING" && col("c_acctbal") > 1000.0)
          .select("c_custkey", "c_name", "c_acctbal")
          .orderBy("c_custkey"),
      Some("""SELECT c_custkey, c_name, c_acctbal FROM customer
        |WHERE c_mktsegment = 'BUILDING' AND c_acctbal > 1000.0
        |ORDER BY c_custkey""".stripMargin),
      "P1 equality + P2 conjunction + P8 projection (04/find_porsche.py:17)"),

    // --- §2.3 P3 datetime range ---------------------------------------
    "p3_range_datetime" -> Q(
      (s, dir) =>
        table(s, dir, "orders")
          .filter(col("o_orderdate").between(
            lit("1996-01-01").cast("timestamp"), lit("1996-12-31").cast("timestamp")))
          .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
          .orderBy("o_orderpriority"),
      Some("""SELECT o_orderpriority, COUNT(*) AS n FROM orders
        |WHERE o_orderdate BETWEEN TIMESTAMP '1996-01-01 00:00:00' AND TIMESTAMP '1996-12-31 00:00:00'
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
      "P3 $gte/$lte datetime range (04/find_cities.py:18)"),

    // --- §2.3 P4 numeric range + P6 membership ------------------------
    "p4_p6_range_in" -> Q(
      (s, dir) =>
        table(s, dir, "part")
          .filter(col("p_size").between(5, 15) &&
            col("p_type").isin("ECONOMY", "PROMO"))
          .select("p_partkey", "p_name", "p_type", "p_size")
          .orderBy("p_partkey"),
      Some("""SELECT p_partkey, p_name, p_type, p_size FROM part
        |WHERE p_size BETWEEN 5 AND 15 AND p_type IN ('ECONOMY','PROMO')
        |ORDER BY p_partkey""".stripMargin),
      "P4 numeric range (05/region_cities.py:30-31) + P6 $in membership"),

    // --- §2.3 P7 presence + P10 count: global agg ---------------------
    "p7_p10_exists_count" -> Q(
      (s, dir) =>
        table(s, dir, "customer")
          .agg(
            count(lit(1)).as("n_total"),
            count(col("c_acctbal")).as("n_with_acctbal"),
            sum(when(col("c_mktsegment").isNotNull, 1L).otherwise(0L)).as("n_with_segment")),
      Some("""SELECT COUNT(*) AS n_total, COUNT(c_acctbal) AS n_with_acctbal,
        |  CAST(SUM(CASE WHEN c_mktsegment IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_with_segment
        |FROM customer""".stripMargin),
      "P7 $exists → IS NOT NULL (README.md:1042) + P10 cursor count"),

    // --- §2.3 P12 substring filter + §2.10 F7 trim/lower --------------
    "p12_substring_filter" -> Q(
      (s, dir) =>
        table(s, dir, "part")
          .filter(col("p_name").contains("widget"))
          .select(col("p_partkey"), lower(trim(col("p_name"))).as("lname"),
            upper(col("p_brand")).as("ubrand"))
          .orderBy("p_partkey"),
      Some("""SELECT p_partkey, lower(trim(p_name)) AS lname, upper(p_brand) AS ubrand
        |FROM part WHERE p_name LIKE '%widget%' ORDER BY p_partkey""".stripMargin),
      "P12 URI-substring filter (validity.py:36) + F7 trim/lower"),

    // --- §2.4 J1 broadcast lookup join --------------------------------
    "j1_broadcast_join" -> Q(
      (s, dir) => {
        val li = table(s, dir, "lineitem")
        val p = table(s, dir, "part")
        li.join(broadcast(p), li("l_partkey") === p("p_partkey"))
          .groupBy("p_brand")
          .agg(count(lit(1)).as("n_items"), dsum(col("l_quantity")).as("sum_qty"))
          .orderBy("p_brand")
      },
      Some(s"""SELECT p_brand, COUNT(*) AS n_items, ${dsumSql("l_quantity")} AS sum_qty
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin),
      "J1 broadcast dimension lookup (04/update.py:56-76); explicit broadcast()"),

    // --- §2.4 J2 top-k then fetch detail rows (self-lookup) -----------
    "j2_topk_detail_join" -> Q(
      (s, dir) => {
        val o = table(s, dir, "orders")
        val c = table(s, dir, "customer")
        val topk = o.groupBy("o_custkey").agg(count(lit(1)).as("order_count"))
          .orderBy(col("order_count").desc, col("o_custkey").asc).limit(5)
        topk.join(broadcast(c), topk("o_custkey") === c("c_custkey"))
          .select(col("o_custkey").as("custkey"), col("order_count"),
            col("c_name"), col("c_mktsegment"))
          .orderBy(col("order_count").desc, col("custkey").asc)
      },
      Some("""WITH topk AS (
        |  SELECT o_custkey, COUNT(*) AS order_count FROM orders
        |  GROUP BY o_custkey ORDER BY order_count DESC, o_custkey ASC LIMIT 5)
        |SELECT topk.o_custkey AS custkey, order_count, c_name, c_mktsegment
        |FROM topk JOIN customer ON topk.o_custkey = c_custkey
        |ORDER BY order_count DESC, custkey ASC""".stripMargin),
      "J2 top-k then per-key detail fetch (README.md:919-920)"),

    // --- multi-way join + agg (region⋈nation⋈customer⋈orders) ---------
    "j3_multiway_revenue" -> Q(
      (s, dir) => {
        val r = table(s, dir, "region")
        val n = table(s, dir, "nation")
        val c = table(s, dir, "customer")
        val o = table(s, dir, "orders")
        o.join(c, o("o_custkey") === c("c_custkey"))
          .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
          .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
          .groupBy("r_name", "n_name")
          .agg(dsum(col("o_totalprice")).as("revenue"), count(lit(1)).as("n_orders"))
          .orderBy("r_name", "n_name")
      },
      Some(s"""SELECT r_name, n_name, ${dsumSql("o_totalprice")} AS revenue, COUNT(*) AS n_orders
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin),
      "Multi-way star join; dims broadcast, fact shuffles once on o_custkey"),

    // --- §2.4 semi/anti joins (capability beyond reference) -----------
    "j4_semi_anti" -> Q(
      (s, dir) => {
        val c = table(s, dir, "customer")
        val o = table(s, dir, "orders").select("o_custkey")
        val withOrders = c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
          .groupBy("c_nationkey").agg(count(lit(1)).as("n_active"))
        val noOrders = c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
          .groupBy("c_nationkey").agg(count(lit(1)).as("n_inactive"))
        withOrders.join(noOrders, Seq("c_nationkey"), "full_outer")
          .select(col("c_nationkey"),
            coalesce(col("n_active"), lit(0L)).as("n_active"),
            coalesce(col("n_inactive"), lit(0L)).as("n_inactive"))
          .orderBy("c_nationkey")
      },
      Some("""WITH act AS (
        |  SELECT c_nationkey, COUNT(*) AS n_active FROM customer
        |  WHERE c_custkey IN (SELECT o_custkey FROM orders) GROUP BY c_nationkey),
        |inact AS (
        |  SELECT c_nationkey, COUNT(*) AS n_inactive FROM customer
        |  WHERE c_custkey NOT IN (SELECT o_custkey FROM orders) GROUP BY c_nationkey)
        |SELECT COALESCE(act.c_nationkey, inact.c_nationkey) AS c_nationkey,
        |  COALESCE(n_active, 0) AS n_active, COALESCE(n_inactive, 0) AS n_inactive
        |FROM act FULL OUTER JOIN inact ON act.c_nationkey = inact.c_nationkey
        |ORDER BY c_nationkey""".stripMargin),
      "left_semi/left_anti (EXISTS / NOT EXISTS) — §2.4 capability note"),

    // --- §2.5 A3 average via exact decimal ----------------------------
    "a3_avg_acctbal" -> Q(
      (s, dir) =>
        table(s, dir, "customer")
          .groupBy("c_mktsegment")
          .agg(
            (sum(col("c_acctbal").cast("decimal(18,2)")).cast("double") /
              count(lit(1)).cast("double")).as("avg_bal"),
            count(lit(1)).as("n"))
          .orderBy("c_mktsegment"),
      Some("""SELECT c_mktsegment,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_bal,
        |  COUNT(*) AS n
        |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),
      "A3 $avg accumulator (05/avg_population.py:38-39), exact-decimal form"),

    // --- §2.5 A4 two-level avg-of-avgs (NOT a one-pass global avg) ----
    "a4_avg_of_avgs" -> Q(
      (s, dir) => {
        val c = table(s, dir, "customer")
        val n = table(s, dir, "nation")
        val perNation = c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
          .groupBy("n_regionkey", "n_nationkey")
          .agg((sum(col("c_acctbal").cast("decimal(18,2)")).cast("double") /
            count(lit(1)).cast("double")).as("nation_avg"))
        perNation.groupBy("n_regionkey")
          .agg(
            (sum(col("nation_avg").cast("decimal(25,10)")).cast("double") /
              count(lit(1)).cast("double")).as("region_avg_of_avgs"),
            count(lit(1)).as("n_nations"))
          .orderBy("n_regionkey")
      },
      Some("""WITH per_nation AS (
        |  SELECT n_regionkey, n_nationkey,
        |    CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS nation_avg
        |  FROM customer JOIN nation ON c_nationkey = n_nationkey
        |  GROUP BY n_regionkey, n_nationkey)
        |SELECT n_regionkey,
        |  CAST(SUM(CAST(nation_avg AS DECIMAL(25,10))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS region_avg_of_avgs,
        |  COUNT(*) AS n_nations
        |FROM per_nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin),
      "A4 avg-of-per-group-avgs (05/avg_population.py:35-42) — semantics preserved, not collapsed to one pass"),

    // --- §2.5 A5 $push (collect_list) ---------------------------------
    "a5_push_collect_list" -> Q(
      (s, dir) =>
        table(s, dir, "lineitem")
          .filter(col("l_orderkey") < 200)
          .groupBy("l_orderkey")
          .agg(array_join(transform(sort_array(collect_list(col("l_linenumber"))),
            x => x.cast("string")), ",").as("linenumbers"))
          .orderBy("l_orderkey"),
      Some("""SELECT l_orderkey,
        |  string_agg(CAST(l_linenumber AS VARCHAR), ',' ORDER BY l_linenumber) AS linenumbers
        |FROM lineitem WHERE l_orderkey < 200
        |GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin),
      "A5 $push accumulator (05/frequent_tweeters.py:36-38); sorted for determinism"),

    // --- §2.5 A6 $addToSet (collect_set) ------------------------------
    "a6_addtoset_collect_set" -> Q(
      (s, dir) =>
        table(s, dir, "customer")
          .groupBy("c_nationkey")
          .agg(array_join(sort_array(collect_set(col("c_mktsegment"))), ",").as("segments"))
          .orderBy("c_nationkey"),
      Some("""WITH d AS (SELECT DISTINCT c_nationkey, c_mktsegment FROM customer)
        |SELECT c_nationkey, string_agg(c_mktsegment, ',' ORDER BY c_mktsegment) AS segments
        |FROM d GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin),
      "A6 $addToSet accumulator (users.py:14-19); sorted join for determinism"),

    // --- §2.5 A7 distinct count ---------------------------------------
    "a7_distinct_count" -> Q(
      (s, dir) =>
        table(s, dir, "orders")
          .agg(countDistinct(col("o_custkey")).as("n_customers"),
            count(lit(1)).as("n_orders")),
      Some("SELECT COUNT(DISTINCT o_custkey) AS n_customers, COUNT(*) AS n_orders FROM orders"),
      "A7 distinct(field) count (README.md:882-888)"),

    // --- §2.6 window: rank / top-1 per group --------------------------
    "w1_top1_per_nation" -> Q(
      (s, dir) => {
        val w = Window.partitionBy(col("c_nationkey"))
          .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
        table(s, dir, "customer")
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select("c_nationkey", "c_custkey", "c_acctbal")
          .orderBy("c_nationkey")
      },
      Some("""SELECT c_nationkey, c_custkey, c_acctbal FROM (
        |  SELECT c_nationkey, c_custkey, c_acctbal,
        |    row_number() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey ASC) AS rn
        |  FROM customer) t WHERE rn = 1 ORDER BY c_nationkey""".stripMargin),
      "§2.6 ranking window — idiomatic J2 per-key top-1"),

    // --- §2.6 window: lag + running sum (exact decimal frame agg) -----
    "w2_lag_running_sum" -> Q(
      (s, dir) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
        table(s, dir, "orders")
          .filter(col("o_custkey") < 50)
          .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
            datediff(col("o_orderdate"),
              lag(col("o_orderdate"), 1).over(w)).cast("long").as("days_since_prev"),
            sum(col("o_totalprice").cast("decimal(18,2)"))
              .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
              .cast("double").as("running_spend"))
          .orderBy("o_custkey", "o_orderkey")
      },
      Some("""SELECT o_custkey, o_orderkey, o_orderdate,
        |  date_diff('day',
        |    lag(o_orderdate, 1) OVER (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC),
        |    o_orderdate) AS days_since_prev,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend
        |FROM orders WHERE o_custkey < 50
        |ORDER BY o_custkey, o_orderkey""".stripMargin),
      "§2.6 lag + frame aggregation; decimal running sum is association-order-proof"),

    // --- §2.7 T1/T2 sorts ---------------------------------------------
    "t1_sort_desc" -> Q(
      (s, dir) =>
        table(s, dir, "supplier")
          .select("s_suppkey", "s_name", "s_acctbal")
          .orderBy(col("s_acctbal").desc, col("s_suppkey").asc)
          .limit(20),
      Some("""SELECT s_suppkey, s_name, s_acctbal FROM supplier
        |ORDER BY s_acctbal DESC, s_suppkey ASC LIMIT 20""".stripMargin),
      "T1 $sort desc with T4 deterministic tiebreak"),

    // --- §2.8 set ops --------------------------------------------------
    "u1_union_except" -> Q(
      (s, dir) => {
        val o = table(s, dir, "orders")
        val hi = o.filter(col("o_totalprice") > 400000.0).select("o_custkey")
        val urgent = o.filter(col("o_orderpriority") === "1-URGENT").select("o_custkey")
        hi.union(urgent).distinct()
          .except(o.filter(col("o_orderstatus") === "F").select("o_custkey"))
          .orderBy("o_custkey")
      },
      Some("""SELECT o_custkey FROM (
        |  SELECT o_custkey FROM orders WHERE o_totalprice > 400000.0
        |  UNION
        |  SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
        |EXCEPT
        |SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |ORDER BY o_custkey""".stripMargin),
      "§2.8 union/except capability"),

    // --- §2.9 R1 $unwind (explode) ------------------------------------
    "r1_unwind_words" -> Q(
      (s, dir) =>
        table(s, dir, "part")
          .select(explode(split(col("p_name"), " ")).as("word"))
          .groupBy("word").agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("word").asc),
      Some("""SELECT word, COUNT(*) AS n FROM (
        |  SELECT unnest(string_split(p_name, ' ')) AS word FROM part) t
        |GROUP BY word ORDER BY n DESC, word ASC""".stripMargin),
      "R1 $unwind → explode (README.md:976-977)"),

    // --- §2.9 R3 struct reshape round-trip ----------------------------
    "r3_struct_reshape" -> Q(
      (s, dir) =>
        table(s, dir, "orders")
          .select(struct(col("o_orderkey").as("k"), col("o_orderstatus").as("st"),
            col("o_totalprice").as("price")).as("doc"))
          .select(col("doc.k").as("o_orderkey"), col("doc.st").as("status"),
            col("doc.price").as("price"))
          .filter(col("price") > 450000.0)
          .orderBy("o_orderkey"),
      Some("""SELECT o_orderkey, o_orderstatus AS status, o_totalprice AS price
        |FROM orders WHERE o_totalprice > 450000.0 ORDER BY o_orderkey""".stripMargin),
      "R3 nested-struct assembly + dotted-path projection (data.py:96-135)"),

    // --- §2.10 F13 year + F19 dayofweek -------------------------------
    "f19_dayofweek_histogram" -> Q(
      (s, dir) =>
        table(s, dir, "orders")
          .filter(year(col("o_orderdate")) === 1997)
          .groupBy(dayofweek(col("o_orderdate")).cast("long").as("dow"))
          .agg(count(lit(1)).as("n"))
          .orderBy("dow"),
      Some("""SELECT dayofweek(o_orderdate) + 1 AS dow, COUNT(*) AS n
        |FROM orders WHERE year(o_orderdate) = 1997
        |GROUP BY 1 ORDER BY dow""".stripMargin),
      "F19 $dayOfWeek histogram, 1=Sunday (README.md:1208-1223); F13 year filter"),

    // --- §2.10 F20 age-in-days with pinned now ------------------------
    "f20_age_in_days" -> Q(
      (s, dir) =>
        table(s, dir, "orders")
          .filter(col("o_orderkey") < 500)
          .select(col("o_orderkey"),
            Clean.ageInDays(col("o_orderdate"),
              lit("2026-01-01").cast("timestamp")).as("age_days"))
          .orderBy("o_orderkey"),
      Some("""SELECT o_orderkey,
        |  (epoch_ms(TIMESTAMP '2026-01-01 00:00:00') - epoch_ms(o_orderdate)) / 86400000.0 AS age_days
        |FROM orders WHERE o_orderkey < 500 ORDER BY o_orderkey""".stripMargin),
      "F20 $subtract/$divide age in days (README.md:1236-1238), pinned now"),

    // --- §2.10 F1 street-type extraction / P13 key classification -----
    "f1_last_token" -> Q(
      (s, dir) =>
        table(s, dir, "part")
          .select(Clean.streetType(col("p_name")).as("last_token"))
          .groupBy("last_token").agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("last_token").asc),
      Some("""SELECT regexp_extract(p_name, '(\S+\.?)$', 1) AS last_token, COUNT(*) AS n
        |FROM part GROUP BY 1 ORDER BY n DESC, last_token ASC""".stripMargin),
      "F1 trailing-token audit regex (audit.py:18) over p_name"),

    "p13_key_classification" -> Q(
      (s, dir) =>
        table(s, dir, "part")
          .select(Clean.keyClass(col("p_type")).as("cls"))
          .groupBy("cls").agg(count(lit(1)).as("n"))
          .orderBy("cls"),
      Some("""SELECT CASE
        |    WHEN regexp_matches(p_type, '^([a-z]|_)*$') THEN 'lower'
        |    WHEN regexp_matches(p_type, '^([a-z]|_)*:([a-z]|_)*$') THEN 'lower_colon'
        |    WHEN regexp_matches(p_type, '[=\+/&<>;''"\?%#$@,\. \t\r\n]') THEN 'problemchars'
        |    ELSE 'other' END AS cls,
        |  COUNT(*) AS n
        |FROM part GROUP BY 1 ORDER BY cls""".stripMargin),
      "P13 tag-key regex census (tags.py:21-38) applied to p_type"),

    // --- §2.10 F9 encoded-array decode + R1 ---------------------------
    "f9_encoded_array_decode" -> Q(
      (s, dir) =>
        table(s, dir, "part")
          .select(Clean.decodeEncodedArray(
            concat(lit("{"), col("p_type"), lit("|"), col("p_brand"), lit("}"))).as("arr"))
          .select(explode(col("arr")).as("item"))
          .groupBy("item").agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("item").asc),
      Some("""SELECT item, COUNT(*) AS n FROM (
        |  SELECT trim(unnest(string_split(p_type || '|' || p_brand, '|'))) AS item FROM part) t
        |GROUP BY item ORDER BY n DESC, item ASC""".stripMargin),
      "F9 '{a|b}' encoded-array decode (name.py:22-25) then unwind"),

    // --- §2.10 F15 conditional unit normalization ---------------------
    "f15_unit_normalize" -> Q(
      (s, dir) =>
        table(s, dir, "lineitem")
          .filter(col("l_orderkey") < 300)
          .select(col("l_orderkey"), col("l_linenumber"),
            Clean.normalizeDimension(col("l_discount")).as("norm_discount"))
          .orderBy("l_orderkey", "l_linenumber"),
      Some("""SELECT l_orderkey, l_linenumber,
        |  CASE WHEN l_discount < 0.01 THEN l_discount * 1000 ELSE l_discount END AS norm_discount
        |FROM lineitem WHERE l_orderkey < 300
        |ORDER BY l_orderkey, l_linenumber""".stripMargin),
      "F15 mm→m heuristic (autos.py:59-62) replicated exactly"),

    // --- §2.10 F14 sequence expansion ---------------------------------
    "f14_sequence_expand" -> Q(
      (s, dir) =>
        table(s, dir, "nation")
          .select(col("n_nationkey"),
            explode(sequence(col("n_nationkey").cast("long"),
              col("n_nationkey").cast("long") + lit(3L))).as("y"))
          .orderBy("n_nationkey", "y"),
      Some("""SELECT n_nationkey, unnest(generate_series(n_nationkey, n_nationkey + 3)) AS y
        |FROM nation ORDER BY n_nationkey, y""".stripMargin),
      "F14 inclusive range expansion (autos.py:118-138) via sequence()"),

    // --- §2.5 A11 min/max/argmax --------------------------------------
    "a11_minmax_argmax" -> Q(
      (s, dir) => {
        val o = table(s, dir, "orders")
        val mx = o.agg(max(col("o_totalprice")).as("max_price"),
          min(col("o_totalprice")).as("min_price"))
        val arg = o.join(broadcast(mx), o("o_totalprice") === mx("max_price"))
          .agg(min(col("o_orderkey")).as("argmax_orderkey"))
        mx.crossJoin(arg)
      },
      Some("""SELECT max_price, min_price,
        |  (SELECT MIN(o_orderkey) FROM orders
        |   WHERE o_totalprice = (SELECT MAX(o_totalprice) FROM orders)) AS argmax_orderkey
        |FROM (SELECT MAX(o_totalprice) AS max_price, MIN(o_totalprice) AS min_price FROM orders) t""".stripMargin),
      "A11 max/min + deterministic argmax (excel_csv.py:33-41); tie → min key"),

    // --- data layout at rest: row-group skipping as a DECLARED query ---
    // The narrow range scan runs against the session's RANGE-SORTED
    // lineitem copy (LayoutShared — the writer-side half of predicate
    // pushdown: disjoint row-group min/max stats on the sort key, so a
    // pushed BETWEEN prunes whole groups/files). Identical rows to the
    // original table, so the oracle runs on `lineitem` directly; the
    // measured rows-read vs rows-total lands in the bench artifact's
    // layout_skip section. At 100 TB this layout choice is the
    // difference between scanning the partition pruned-to and scanning
    // everything in it (LayoutSpec proves the mechanism; this query
    // DECLARES it).
    "p14_layout_range_skip" -> Q(
      (s, dir) =>
        graft.Graft.read(s, LayoutShared.sortedPath(s, dir))
          .filter(col("l_orderkey").between(1000L, 2000L))
          .groupBy("l_orderkey")
          .agg(count(lit(1)).as("n_lines"),
            dsum(col("l_quantity")).as("sum_qty"),
            dsum(col("l_extendedprice")).as("sum_price"))
          .orderBy("l_orderkey"),
      Some("""SELECT l_orderkey, COUNT(*) AS n_lines,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM lineitem WHERE l_orderkey BETWEEN 1000 AND 2000
        |GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin),
      "Narrow range scan over the range-sorted layout: row-group " +
        "skipping declared and measured (rows-read/rows-total in the " +
        "bench layout_skip section); results identical to the unsorted " +
        "table, which is what the oracle checks"),

    // --- multi-column skipping: the Z-ORDER claim as a declared query --
    // The filter is on l_partkey — the NON-leading column a linear sort
    // cannot prune (ZOrderSpec measures linear reading ~all rows for
    // it) — over the session's Morton-curve lineitem copy. Same
    // contract as p14: identical rows to the original table (the oracle
    // runs on `lineitem`), measured rows-read vs rows-total recorded
    // under the dir's "zorder" key in layout_skip.
    "p15_zorder_two_col_skip" -> Q(
      (s, dir) =>
        graft.Graft.read(s, ZLayoutShared.zPath(s, dir))
          .filter(col("l_partkey").between(100L, 300L))
          .groupBy("l_partkey")
          .agg(count(lit(1)).as("n_lines"),
            dsum(col("l_quantity")).as("sum_qty"))
          .orderBy("l_partkey"),
      Some("""SELECT l_partkey, COUNT(*) AS n_lines,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem WHERE l_partkey BETWEEN 100 AND 300
        |GROUP BY l_partkey ORDER BY l_partkey""".stripMargin),
      "Narrow scan on the SECOND z-order dimension: multi-column " +
        "row-group skipping declared and measured; a linear sort on " +
        "l_orderkey reads ~everything for this predicate (ZOrderSpec)"),

    // --- point-lookup skipping via parquet COLUMN BLOOM FILTERS --------
    // The third data-skipping lever, for the predicate the other two
    // can't serve: point equality on a hash-distributed high-cardinality
    // key, where every row group's min/max spans the whole domain and
    // no sort order helps. The layout writes a bloom filter on the
    // surrogate key k = xxhash64(l_orderkey, l_linenumber); the lookup
    // filters on a k LITERAL (pushdown needs a literal — the one
    // driver-side scalar is the needle itself), and the reader consults
    // the bloom to skip groups that cannot contain it (measured 8k of
    // 60k rows read at sf0.01 — the needle's own group only). The
    // trailing exact predicate pins correctness independently of hash
    // collisions, so the oracle is hash-free SQL on `lineitem`.
    "p16_bloom_point_lookup" -> Q(
      (s, dir) => {
        val (path, mk, ml) = BloomLayoutShared.layout(s, dir)
        graft.Graft.read(s, path)
          .filter(col("k") === xxhash64(lit(mk), lit(ml).cast("int")))
          .filter(col("l_orderkey") === mk && col("l_linenumber") === ml)
          .select(col("l_orderkey"), col("l_linenumber").cast("long")
            .as("l_linenumber"), col("l_quantity"))
          .orderBy("l_orderkey", "l_linenumber")
      },
      Some("""SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
        |  l_quantity
        |FROM lineitem
        |WHERE l_orderkey = (SELECT MIN(l_orderkey) FROM lineitem)
        |  AND l_linenumber = (SELECT MIN(l_linenumber) FROM lineitem
        |    WHERE l_orderkey = (SELECT MIN(l_orderkey) FROM lineitem))
        |ORDER BY l_orderkey, l_linenumber""".stripMargin),
      "Needle-in-100TB point lookup: parquet column bloom filter skips " +
        "row groups a hash key's min/max stats never could; skip ratio " +
        "recorded under the dir's bloom key in layout_skip"),

    // --- storage-partitioned join: bucketing as a DECLARED query ------
    // The fourth at-rest layout lever, for JOINS (p14-p16 serve scans):
    // lineitem and orders copies written bucketBy(8, orderkey) — already
    // hash-partitioned on disk — so the equi-join on the bucket key
    // needs NO shuffle exchange on either side. At 100 TB this is THE
    // join lever: the fact table shuffles once at ingest and every
    // orderkey join after that reads co-located buckets instead of
    // re-shuffling the corpus per query. The merge hint pins SMJ (a
    // small-SF broadcast would hide the claim); BucketingSpec asserts
    // zero ShuffleExchange below the join on the DECLARED plan, and the
    // build records (exchanges below join, joined rows) into the bench
    // artifact's bucket_join section. Identical rows to the originals,
    // so the oracle joins `lineitem`⋈`orders` directly.
    "p17_bucketed_join_zero_shuffle" -> Q(
      (s, dir) => {
        val (lt, ot) = BucketLayoutShared.tables(s, dir)
        bucketedJoinFrame(s, lt, ot)
      },
      Some("""SELECT o_orderpriority, COUNT(*) AS n_lines,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
      "Storage-partitioned join over pre-bucketed copies: zero shuffle " +
        "exchange below the join (plan-guarded; recorded in the bench " +
        "bucket_join section); results identical to the unbucketed join, " +
        "which is what the oracle checks")
  )

  /** The p17 join shape, shared by the declared query, the memo's
    * evidence run, and BucketingSpec's plan guard.
    */
  private[graft] def bucketedJoinFrame(s: SparkSession, lineitemTable: String,
      ordersTable: String): DataFrame =
    s.table(lineitemTable).hint("merge")
      .join(s.table(ordersTable), col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_lines"),
        dsum(col("l_extendedprice")).as("sum_price"))
      .orderBy("o_orderpriority")

  /** Measured skip for the LAST LayoutShared build per dir:
    * (rows the narrow scan decoded, rows in the table) — read by Bench
    * into the artifact's layout_skip section so the skipping ratio is a
    * recorded number, not archaeology.
    */
  private[graft] val layoutSkip =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Long)]()

  /** Per-(session, dir) memo of the range-sorted lineitem copy — the
    * ingest-time half of data skipping (write once sorted, every narrow
    * scan after that prunes). 1 MiB row groups so the skip granularity
    * is visible at every test SF; the sort key is the BIGINT surrogate
    * deliberately (on this Spark build parquet prunes INT/string stats
    * but never timestamp stats — see the verify skill's gotcha).
    */
  private object LayoutShared {
    import graft.{RestMemo, SessionMemo}
    def sortedPath(s: SparkSession, dir: String): String =
      SessionMemo.getOrCompute(s, s"$dir/lineitem.parquet",
          "layout-sorted-v1") {
        val src = s"$dir/lineitem.parquet"
        val path = RestMemo.layoutDir() + "/" +
          dir.replaceAll("[^A-Za-z0-9.]", "_")
        // the copy is an AT-REST artifact: a fresh marker (fingerprint
        // of the source table) means a previous session already wrote
        // this exact layout — skip the write, keep the evidence query
        if (RestMemo.freshCopy(src, path, "layout-sorted-v1"))
          RestMemo.recordOutcome("layout-sorted-v1", "reloaded")
        else {
          // block size rides the WRITE's own options (per-job hadoop
          // conf), never the session-shared configuration — a concurrent
          // parquet write in the same session must not inherit 1 MiB
          // row groups
          graft.sinks.Sinks.writeRangeSorted(
            table(s, dir, "lineitem").select("l_orderkey", "l_linenumber",
              "l_quantity", "l_extendedprice"),
            path, Seq("l_orderkey"), numFiles = 8,
            options = Map("parquet.block.size" -> (1 << 20).toString))
          RestMemo.stampCopy(src, path, "layout-sorted-v1")
          RestMemo.recordOutcome("layout-sorted-v1", "built")
        }
        // measure the skip once per session (cheap — the narrow pruned
        // scan itself): rows the pushed BETWEEN actually decodes
        // (scan-node output) vs the table total. Bare read: the
        // measurement wants a fresh scan of the just-written copy.
        val narrow = s.read.parquet(path)
          .filter(col("l_orderkey").between(1000L, 2000L))
        narrow.queryExecution.toRdd.count()
        val read = scanOutputRows(narrow)
        val total = table(s, dir, "lineitem").count()
        layoutSkip.put(dir, (read, total))
        path
      }(_ => ())
  }

  /** Flatten an executed physical plan with AQE/stage wrappers
    * unwrapped (AdaptiveSparkPlanExec and QueryStageExec are collect()
    * leaves — a plain traversal never sees inside them).
    */
  private[graft] def flatPlan(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    p match {
      case a: AdaptiveSparkPlanExec => p +: flatPlan(a.executedPlan)
      case q: QueryStageExec => p +: flatPlan(q.plan)
      case _ => p +: p.children.flatMap(flatPlan)
    }
  }

  /** Sum of FileSourceScanExec numOutputRows over an EXECUTED frame's
    * plan (AQE/stage wrappers unwrapped) — rows that survived row-group
    * pruning and reached the decoder.
    */
  private def scanOutputRows(df: DataFrame): Long =
    flatPlan(df.queryExecution.executedPlan).collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    }.sum

  /** Per-(session, dir) memo of the Z-ORDERED lineitem copy (p15) —
    * Morton curve over 12-bit quantized (l_orderkey, l_partkey), the
    * multi-column variant of LayoutShared: row-group min/max stats
    * prune filters on EITHER column. The z-value lives only in the
    * shuffle/sort keys (schema untouched), so the reader needs no curve
    * arithmetic at all.
    */
  private object ZLayoutShared {
    import graft.{RestMemo, SessionMemo}
    import graft.sinks.Sinks
    def zPath(s: SparkSession, dir: String): String =
      SessionMemo.getOrCompute(s, s"$dir/lineitem.parquet",
          "layout-zorder-v1") {
        val src = s"$dir/lineitem.parquet"
        val path = RestMemo.layoutDir() + "/" +
          dir.replaceAll("[^A-Za-z0-9.]", "_") + "_z"
        val li = table(s, dir, "lineitem")
          .select("l_orderkey", "l_partkey", "l_quantity")
        if (RestMemo.freshCopy(src, path, "layout-zorder-v1"))
          RestMemo.recordOutcome("layout-zorder-v1", "reloaded")
        else {
          val mx = li.agg(max("l_orderkey"), max("l_partkey")).head()
          val z = Sinks.zValue(
            Sinks.quantize(col("l_orderkey"), 0, mx.getLong(0).toDouble, 12),
            Sinks.quantize(col("l_partkey"), 0, mx.getLong(1).toDouble, 12), 12)
          Sinks.writeZOrdered(li, path, z, numFiles = 8,
            options = Map("parquet.block.size" -> (1 << 20).toString))
          RestMemo.stampCopy(src, path, "layout-zorder-v1")
          RestMemo.recordOutcome("layout-zorder-v1", "built")
        }
        // bare read: a fresh scan of the just-written copy, measured once
        val narrow = s.read.parquet(path)
          .filter(col("l_partkey").between(100L, 300L))
        narrow.queryExecution.toRdd.count()
        layoutSkip.put(s"$dir zorder",
          (scanOutputRows(narrow), li.count()))
        path
      }(_ => ())
  }

  /** Per-(session, dir) memo of the BLOOM-FILTERED lineitem copy (p16):
    * hash-repartitioned (deliberately NOT sorted — the layout where
    * min/max stats are useless for point lookups) with a parquet bloom
    * filter on the xxhash64 surrogate key. The memo value carries the
    * needle — the MIN (l_orderkey, l_linenumber) PAIR, one bounded
    * driver scalar row (parquet predicate pushdown needs a literal;
    * the synthetic lineitem does NOT follow TPC-H's 1..n linenumber
    * convention, so the linenumber is derived, never assumed) —
    * alongside the path.
    */
  private object BloomLayoutShared {
    import graft.{RestMemo, SessionMemo}
    def layout(s: SparkSession, dir: String): (String, Long, Int) =
      SessionMemo.getOrCompute(s, s"$dir/lineitem.parquet",
          "layout-bloom-v2") {
        val src = s"$dir/lineitem.parquet"
        val path = RestMemo.layoutDir() + "/" +
          dir.replaceAll("[^A-Za-z0-9.]", "_") + "_bloom"
        val li = table(s, dir, "lineitem")
          .select(xxhash64(col("l_orderkey"),
              col("l_linenumber").cast("int")).as("k"),
            col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
        val total = li.count()
        if (RestMemo.freshCopy(src, path, "layout-bloom-v2"))
          RestMemo.recordOutcome("layout-bloom-v2", "reloaded")
        else {
          li.repartition(8).write.mode("overwrite")
            .option("parquet.block.size", (1 << 20).toString)
            .option("parquet.bloom.filter.enabled#k", "true")
            .option("parquet.bloom.filter.expected.ndv#k",
              math.max(1024L, total).toString)
            .parquet(path)
          RestMemo.stampCopy(src, path, "layout-bloom-v2")
          RestMemo.recordOutcome("layout-bloom-v2", "built")
        }
        // CAVEAT (driver scalar): this full-table MIN exists only to
        // derive a literal the bloom pushdown requires — in production
        // the needle is user input; here the agg is charged to the
        // builds phase, never to the declared query's timer
        val needle = table(s, dir, "lineitem")
          .agg(min(struct(col("l_orderkey"), col("l_linenumber")))
            .as("n"))
          .select(col("n.l_orderkey"), col("n.l_linenumber")).head()
        val mk = needle.getLong(0)
        val ml = needle.getInt(1)
        // bare read: a fresh scan of the just-written copy, measured once
        val narrow = s.read.parquet(path)
          .filter(col("k") === xxhash64(lit(mk), lit(ml).cast("int")))
        narrow.queryExecution.toRdd.count()
        layoutSkip.put(s"$dir bloom", (scanOutputRows(narrow), total))
        (path, mk, ml)
      }(_ => ())
  }

  /** Measured p17 evidence for the LAST BucketLayoutShared build per
    * dir: (shuffle exchanges below the executed join — 0 is the claim —
    * and rows the join produced). Read by Bench into the artifact's
    * bucket_join section.
    */
  private[graft] val bucketJoin =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Long)]()

  /** Per-(session, dir) memo of the BUCKETED lineitem/orders copies
    * (p17): both written `bucketBy(8, <orderkey>)` + sortBy, external
    * tables under /dev/shm — hash-partitioned ON DISK on the join key,
    * so an orderkey equi-join reads co-located buckets with no exchange
    * on either side (the p14-p16 at-rest pattern applied to joins). The
    * pre-write `repartition(8, key)` uses the same murmur3 hash as the
    * bucket spec, so each task holds exactly one bucket → ONE file per
    * bucket → Spark also trusts the sortBy order and drops the
    * read-side sort. The build executes the declared join once and
    * records (exchanges below join, joined rows) into [[bucketJoin]].
    * Columns are pruned to the query's needs — at 100 TB the bucketed
    * copy is an ingest-time projection, not a second corpus.
    *
    * AT REST since round 14 (VERDICT r13 #3, closing the documented
    * per-session-rebuild gap): the bucketed FILES were always
    * reusable, only the `bucketBy` registration is session-catalog
    * state — and the bucket spec is fully reconstructible from the
    * frozen write, so a fresh session whose RestMemo copy markers
    * match simply RE-REGISTERS the existing file sets as external
    * bucketed tables (`CREATE TABLE … CLUSTERED BY … INTO 8 BUCKETS
    * LOCATION …` — the bucket ids live in the file names the bucketed
    * writer produced, which is all the reader needs) instead of
    * rewriting them. With a persistent metastore (the production
    * deployment) even the registration survives; here it is one DDL
    * statement per table at session start. The cheap evidence join
    * runs either way so the bench `bucket_join` section stays
    * populated in reloading runs (the layout_skip rule).
    */
  private object BucketLayoutShared {
    import graft.{RestMemo, SessionMemo}
    def tables(s: SparkSession, dir: String): (String, String) =
      SessionMemo.getOrCompute(s, s"$dir/lineitem.parquet",
          "layout-bucketed-v1") {
        // table names can't hold the dots LayoutShared's tag keeps, so
        // the lossy strip+lowercase is suffixed with a hash of the FULL
        // dir: distinct dirs differing only in stripped/cased chars
        // (sf0.1 vs sf0_1) must not collide on one /dev/shm path and
        // silently overwrite each other's bucketed copies (ADVICE r12)
        val tag = dir.replaceAll("[^A-Za-z0-9]", "_").toLowerCase +
          "_" + java.lang.Integer.toHexString(
            scala.util.hashing.MurmurHash3.stringHash(dir))
        val base = RestMemo.layoutDir() + "/" + tag
        val lt = s"graft_b_lineitem_$tag"
        val ot = s"graft_b_orders_$tag"
        val liSrc = s"$dir/lineitem.parquet"
        val orSrc = s"$dir/orders.parquet"
        val liPath = base + "_bkt_li"
        val orPath = base + "_bkt_or"
        def register(name: String, path: String, key: String): Unit = {
          s.sql(s"DROP TABLE IF EXISTS $name")
          // bare read: schema only, once per registration (the query
          // itself reads the catalog table)
          val ddl = s.read.parquet(path).schema.toDDL
          s.sql(s"CREATE TABLE $name ($ddl) USING parquet " +
            s"CLUSTERED BY ($key) SORTED BY ($key) INTO 8 BUCKETS " +
            s"LOCATION '$path'")
        }
        if (RestMemo.freshCopy(liSrc, liPath, "layout-bucketed-v1") &&
            RestMemo.freshCopy(orSrc, orPath, "layout-bucketed-v1")) {
          register(lt, liPath, "l_orderkey")
          register(ot, orPath, "o_orderkey")
          RestMemo.recordOutcome("layout-bucketed-v1", "reloaded")
        } else {
          table(s, dir, "lineitem").select("l_orderkey", "l_extendedprice")
            .repartition(8, col("l_orderkey"))
            .write.mode("overwrite").option("path", liPath)
            .bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable(lt)
          table(s, dir, "orders").select("o_orderkey", "o_orderpriority")
            .repartition(8, col("o_orderkey"))
            .write.mode("overwrite").option("path", orPath)
            .bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable(ot)
          RestMemo.stampCopy(liSrc, liPath, "layout-bucketed-v1")
          RestMemo.stampCopy(orSrc, orPath, "layout-bucketed-v1")
          RestMemo.recordOutcome("layout-bucketed-v1", "built")
        }
        // evidence run (built AND reloaded paths): execute the declared
        // join once, then count shuffle exchanges below the join in the
        // EXECUTED plan — a re-registered table must prove the
        // zero-shuffle claim, not inherit it
        val j = bucketedJoinFrame(s, lt, ot)
        j.queryExecution.toRdd.count()
        val smj = flatPlan(j.queryExecution.executedPlan).collectFirst {
          case m: org.apache.spark.sql.execution.joins.SortMergeJoinExec => m
        }
        val exchanges = smj.toSeq.flatMap(flatPlan).count {
          case _: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => true
          case _ => false
        }
        val rows = smj.flatMap(_.metrics.get("numOutputRows").map(_.value))
          .getOrElse(-1L)
        bucketJoin.put(dir, (exchanges.toLong, rows))
        (lt, ot)
      }(_ => ())
  }

  /** Force the layout memos for `dir`, timed — Bench's builds section
    * (see VectorSuite.prebuild).
    */
  private[graft] def prebuild(s: SparkSession, dir: String,
      go: () => Boolean): Seq[(String, Double)] =
    graft.Prebuild.timed(Seq(
      "layout_sorted" -> (() => { LayoutShared.sortedPath(s, dir); () }),
      "layout_zorder" -> (() => { ZLayoutShared.zPath(s, dir); () }),
      "layout_bloom" -> (() => { BloomLayoutShared.layout(s, dir); () }),
      "layout_bucketed" -> (() => { BucketLayoutShared.tables(s, dir); () })),
      go)
}
