package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ops.Ops._

/** The flagship derived-table query: the exact pipeline shape of
  * `tests/sql/wow_2021_create_bldgs_table.sql` (reference lines 4-125)
  * replayed on the test star schema (FIXTURES.md role mapping):
  *
  *   customer = hpd_registrations (the DISTINCT ON'd spine, :67)
  *   orders per-cust counts = hpd_violations counts (:90-96)
  *   orders recent-window counts = complaints 3-year filter (:58)
  *   latest lineitem per order -> per cust = ACRIS firstdeeds (:6-26)
  *   two-level priority breakdown = complaint-type rollup (:38-65)
  *
  * Physical shape at scale: the spine join keys on c_custkey; every
  * dimension side is PRE-AGGREGATED to <= 1 row per key before joining
  * (reference SURVEY §4 "dimension pre-aggregation"), which keeps each
  * join's build side small and lets AQE broadcast them; the only wide
  * shuffles are the per-key aggregations themselves.
  */
object Flagship extends QueryModule {

  def bldgs(s: SparkSession, d: String): DataFrame = {
    val orders = Tables.orders(s, d)
    val lineitem = Tables.lineitem(s, d)
    val customer = Tables.customer(s, d)

    // CTE "deeds" -> "firstdeeds" (wow_2021…sql:6-26): filter + ordered
    // first()-per-group, here: latest shipped line per order, rolled up
    // to the latest sale per customer through the orders key.
    val deeds = lineitem
      .filter(col("l_extendedprice") > 1 && col("l_returnflag").isin("A", "R"))
    // NOTE: l_linenumber is NOT unique within an order in this data, so
    // the ordering must include l_extendedprice to be total — otherwise
    // engines break the (shipdate, linenumber) tie differently
    // (observed at sf0.1; the SURVEY §7.4 tie-breaking trap).
    val lastLinePerOrder = deeds.firstOrderedBy(
      groupKeys = Seq(col("l_orderkey")),
      orderKeys = Seq(col("l_shipdate"), col("l_linenumber"),
        col("l_extendedprice")),
      payload = Seq(
        "lastsaledate" -> col("l_shipdate"),
        "lastsaleprice" -> col("l_extendedprice")))
    val firstdeeds = orders
      .join(lastLinePerOrder, col("o_orderkey") === col("l_orderkey"), "inner")
      .firstOrderedBy(
        groupKeys = Seq(col("o_custkey")),
        orderKeys = Seq(col("lastsaledate"), col("o_orderkey")),
        payload = Seq(
          "lastsaledate" -> col("lastsaledate"),
          "lastsaleprice" -> col("lastsaleprice")))
      .withColumnRenamed("o_custkey", "fd_custkey")

    // "violations" side (wow_2021…sql:90-96): conditional counts per key.
    val violations = orders
      .groupBy(col("o_custkey"))
      .agg(
        countWhere(col("o_orderstatus") === "O").as("openviolations"),
        count(lit(1)).as("totalviolations"))
      .withColumnRenamed("o_custkey", "v_custkey")

    // "complaints" recent-window side (wow_2021…sql:58): fixed anchor
    // date for determinism (reference uses CURRENT_DATE).
    val recent = orders
      .filter(col("o_orderdate") >
        expr("TIMESTAMP '2001-01-01 00:00:00' - INTERVAL '3' YEAR"))
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("recentcomplaints"))
      .withColumnRenamed("o_custkey", "r_custkey")

    // 7-way left-join spine (wow_2021…sql:89-125) + DISTINCT ON (:67)
    // + coalesce/cast projection (:31-33,84-85).
    customer
      .join(violations, col("c_custkey") === col("v_custkey"), "left")
      .join(recent, col("c_custkey") === col("r_custkey"), "left")
      .join(firstdeeds, col("c_custkey") === col("fd_custkey"), "left")
      .distinctOn(
        keys = Seq(col("c_custkey")),
        tiebreak = Seq(col("c_name").asc))
      .select(
        col("c_custkey"),
        col("c_name"),
        col("c_mktsegment"),
        coalesce(col("openviolations"), lit(0L)).cast("int").as("openviolations"),
        coalesce(col("totalviolations"), lit(0L)).cast("int").as("totalviolations"),
        coalesce(col("recentcomplaints"), lit(0L)).cast("int").as("recentcomplaints"),
        col("lastsaledate"),
        col("lastsaleprice"))
  }

  val oracle: String =
    """WITH deeds AS (
         SELECT * FROM lineitem
         WHERE l_extendedprice > 1 AND l_returnflag IN ('A', 'R')
       ),
       last_line AS (
         SELECT l_orderkey, l_shipdate AS lastsaledate,
                l_extendedprice AS lastsaleprice
         FROM (SELECT *, row_number() OVER (PARTITION BY l_orderkey
               ORDER BY l_shipdate DESC, l_linenumber DESC,
                        l_extendedprice DESC) AS rn FROM deeds)
         WHERE rn = 1
       ),
       firstdeeds AS (
         SELECT o_custkey AS fd_custkey, lastsaledate, lastsaleprice
         FROM (SELECT o.o_custkey, ll.lastsaledate, ll.lastsaleprice,
                      row_number() OVER (PARTITION BY o.o_custkey
                        ORDER BY ll.lastsaledate DESC, o.o_orderkey DESC) AS rn
               FROM orders o JOIN last_line ll ON o.o_orderkey = ll.l_orderkey)
         WHERE rn = 1
       ),
       violations AS (
         SELECT o_custkey AS v_custkey,
                count(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS openviolations,
                count(*) AS totalviolations
         FROM orders GROUP BY o_custkey
       ),
       recent AS (
         SELECT o_custkey AS r_custkey, count(*) AS recentcomplaints
         FROM orders
         WHERE o_orderdate > TIMESTAMP '2001-01-01 00:00:00' - INTERVAL 3 YEAR
         GROUP BY o_custkey
       )
       SELECT c_custkey, c_name, c_mktsegment,
              CAST(COALESCE(openviolations, 0) AS INT) AS openviolations,
              CAST(COALESCE(totalviolations, 0) AS INT) AS totalviolations,
              CAST(COALESCE(recentcomplaints, 0) AS INT) AS recentcomplaints,
              lastsaledate, lastsaleprice
       FROM customer
       LEFT JOIN violations ON c_custkey = v_custkey
       LEFT JOIN recent ON c_custkey = r_custkey
       LEFT JOIN firstdeeds ON c_custkey = fd_custkey"""

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    Map("q0_flagship_bldgs" -> (bldgs _))

  val oracles: Map[String, String] = Map("q0_flagship_bldgs" -> oracle)
}
