package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Round-11 batch four: the series/retail SQL classics — gaps-and-
  * islands, cumulative-unique growth curves, ABC (Pareto) inventory
  * classification, rolling 7-day distinct actives via bounded
  * fan-out, a seasonal-naive forecast backtest, and an order-
  * independent table checksum for migration audits.
  *
  * Exactness: money stays DECIMAL until one final cast; every
  * windowed scan runs on a bounded AGGREGATE (days, parts), never the
  * event stream; the rolling-distinct fan-out is the standard
  * scalable rewrite of COUNT(DISTINCT) OVER RANGE (which neither
  * engine supports) — expand the user-day AGGREGATE by the 7 window
  * offsets, dedupe, count.
  */
object Series extends QueryModule {

  // ---- isl1: gaps and islands -----------------------------------------

  /** Islands of consecutive order days per customer: the classic
    * day − row_number() anchor trick — consecutive days share an
    * anchor, one group-by recovers [start, end, length]. Windows
    * partition by customer (parallel across the key); input is the
    * DISTINCT (customer, day) aggregate.
    */
  def isl1GapsIslands(s: SparkSession, d: String): DataFrame = {
    val cd = Tables.orders(s, d)
      .select(col("o_custkey").as("custkey"),
        to_date(col("o_orderdate")).as("day")).distinct()
    val w = Window.partitionBy(col("custkey")).orderBy(col("day"))
    cd.withColumn("anchor", date_sub(col("day"), row_number().over(w)))
      .groupBy(col("custkey"), col("anchor"))
      .agg(min(col("day")).as("start_day"), max(col("day")).as("end_day"),
        count(lit(1)).as("len"))
      .select(col("custkey"), col("start_day"), col("end_day"), col("len"))
  }

  // ---- cum1: cumulative unique users ----------------------------------

  /** Daily new-user and cumulative-unique curve: per-user first-seen
    * day (one aggregate over the stream), a ~31-row day rollup, and a
    * running sum over that day AGGREGATE. The growth chart every
    * product dashboard opens with — integer-exact end to end.
    */
  def cum1CumulativeUniques(s: SparkSession, d: String): DataFrame = {
    val firstDay = Tables.events(s, d)
      .groupBy(col("user_id")).agg(min(to_date(col("ts"))).as("day"))
    val byDay = firstDay.groupBy(col("day"))
      .agg(count(lit(1)).as("new_users"))
    byDay.withColumn("cum_users",
      sum(col("new_users")).over(Window.orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, 0)))
  }

  // ---- abc1: ABC / Pareto classification ------------------------------

  /** ABC inventory classification: parts ranked by exact-DECIMAL
    * revenue, cumulative share over the part AGGREGATE, class A ≤
    * 80%, B ≤ 95%, else C. The part catalog SCALES with the data, so
    * the cumulative sum runs the distributed two-level prefix kernel
    * ([[graft.ops.GlobalRank.prefixScan]]) in exact integer cents —
    * not a global window (single-task sort at 100x parts). cents/100
    * in double equals the DECIMAL-sum-cast-double it replaced (the
    * long is exact below 2^53, and x/100.0 is correctly rounded), so
    * the shares and class cuts are bit-identical.
    */
  def abc1ParetoClass(s: SparkSession, d: String): DataFrame = {
    val rev = Tables.lineitem(s, d)
      .groupBy(col("l_partkey").as("partkey"))
      .agg(sum(col("l_extendedprice").cast("decimal(18,2)")).as("rev"))
    val tot = rev.agg(sum(col("rev")).as("total"))
    graft.ops.GlobalRank.prefixScan(rev,
        Seq(col("rev").desc, col("partkey")),
        Seq(graft.ops.GlobalRank.Scan("cumcents",
          (col("rev") * 100).cast("long"))))
      .crossJoin(broadcast(tot))
      .withColumn("share", (col("cumcents").cast("double") / 100.0) /
        col("total").cast("double"))
      .select(col("partkey"),
        round(col("rev").cast("double"), 2).as("rev2"),
        round(col("share"), 6).as("cum_share6"),
        when(col("share") <= 0.8, lit("A"))
          .when(col("share") <= 0.95, lit("B"))
          .otherwise(lit("C")).as("abc_class"))
  }

  // ---- rol1: rolling 7-day distinct actives ---------------------------

  /** Rolling 7-day distinct active users per day. COUNT(DISTINCT)
    * over a RANGE window exists in no scalable engine; the rewrite
    * is: collapse to the DISTINCT (user, day) aggregate, fan each row
    * out to the ≤7 window days it serves, dedupe (user, window-day),
    * count. Shuffle volume = 7× the user-day AGGREGATE (not the
    * stream), all equi-keyed.
    */
  def rol1RollingDistinct(s: SparkSession, d: String): DataFrame = {
    val ud = Tables.events(s, d)
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    val span = ud.agg(min(col("day")).as("mn"), max(col("day")).as("mx"))
    ud.select(col("user_id"), col("day"),
        explode(sequence(lit(0), lit(6))).as("off"))
      .select(col("user_id"), expr("date_add(day, off)").as("wday"))
      .distinct()
      .crossJoin(broadcast(span))
      .filter(col("wday") >= col("mn") && col("wday") <= col("mx"))
      .groupBy(col("wday").as("day"))
      .agg(count(lit(1)).as("users_7d"))
  }

  // ---- fc1: seasonal-naive forecast backtest --------------------------

  /** Seasonal-naive backtest: forecast each of the last 7 days'
    * purchase revenue as the same-weekday mean of the training days
    * (everything before 2024-01-25), and score per-day absolute
    * percentage error. The baseline every forecasting system must
    * beat, as one day-aggregate + a broadcast 7-row seasonal table.
    */
  def fc1SeasonalBacktest(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.events(s, d)
      .filter(col("event_type") === "purchase")
      .groupBy(to_date(col("ts")).as("day"))
      .agg(sum(col("value").cast("decimal(18,2)")).as("rev"))
      .select(col("day"),
        pmod(datediff(col("day"), lit("2023-12-31").cast("date")), lit(7))
          .cast("int").as("dow"),
        col("rev"))
    val cut = lit("2024-01-25").cast("date")
    val seasonal = daily.filter(col("day") < cut)
      .groupBy(col("dow"))
      .agg((sum(col("rev")).cast("double") / count(lit(1)))
        .as("forecast"))
    daily.filter(col("day") >= cut)
      .join(broadcast(seasonal), "dow")
      .select(col("day"), col("dow"),
        round(col("rev").cast("double"), 2).as("actual2"),
        round(col("forecast"), 6).as("forecast6"),
        round(abs(col("rev").cast("double") - col("forecast")) /
          col("rev").cast("double"), 6).as("ape6"))
  }

  // ---- chk1: order-independent table checksum -------------------------

  /** Migration-audit checksum: per table, row count + the SUM of a
    * 32-bit slice of each row's md5 over a canonical rendering
    * (integer cents, yyyy-MM-dd dates — the renderings both engines
    * print identically). Sum is commutative, so the checksum is
    * partition- and order-independent; one map-side-combinable
    * aggregate per table. At 100 TB the same shape runs per
    * partition for incremental diff (sums compose).
    */
  def chk1RowChecksum(s: SparkSession, d: String): DataFrame = {
    def cents(c: org.apache.spark.sql.Column) =
      round(c * 100, 0).cast("long")
    def sig(df: DataFrame, name: String, key: org.apache.spark.sql.Column) =
      df.select(conv(substring(md5(key), 1, 8), 16, 10).cast("long")
          .as("h"))
        .agg(count(lit(1)).as("n_rows"), sum(col("h")).as("checksum"))
        .select(lit(name).as("table_name"), col("n_rows"), col("checksum"))
    val o = Tables.orders(s, d)
    val c = Tables.customer(s, d)
    val li = Tables.lineitem(s, d)
    sig(o, "orders", concat_ws("|", col("o_orderkey"), col("o_custkey"),
        col("o_orderstatus"), cents(col("o_totalprice")),
        date_format(col("o_orderdate"), "yyyy-MM-dd"),
        col("o_orderpriority")))
      .unionAll(sig(c, "customer", concat_ws("|", col("c_custkey"),
        col("c_name"), col("c_nationkey"), cents(col("c_acctbal")),
        col("c_mktsegment"))))
      .unionAll(sig(li, "lineitem", concat_ws("|", col("l_orderkey"),
        col("l_partkey"), col("l_suppkey"), col("l_linenumber"),
        cents(col("l_quantity")), cents(col("l_extendedprice")),
        cents(col("l_discount")), cents(col("l_tax")),
        col("l_returnflag"), col("l_linestatus"),
        date_format(col("l_shipdate"), "yyyy-MM-dd"))))
  }

  // ---- registry ------------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "isl1_gaps_islands" -> (isl1GapsIslands _),
    "cum1_cumulative_uniques" -> (cum1CumulativeUniques _),
    "abc1_pareto_class" -> (abc1ParetoClass _),
    "rol1_rolling_distinct" -> (rol1RollingDistinct _),
    "fc1_seasonal_backtest" -> (fc1SeasonalBacktest _),
    "chk1_row_checksum" -> (chk1RowChecksum _))

  val oracles: Map[String, String] = Map(
    "isl1_gaps_islands" ->
      """WITH cd AS (
           SELECT DISTINCT o_custkey AS custkey,
                  CAST(o_orderdate AS DATE) AS day
           FROM orders),
         anch AS (SELECT custkey, day,
                  day - CAST(row_number() OVER (PARTITION BY custkey
                    ORDER BY day) AS INT) AS anchor
                  FROM cd)
         SELECT custkey, min(day) AS start_day, max(day) AS end_day,
                count(*) AS len
         FROM anch GROUP BY custkey, anchor""",
    "cum1_cumulative_uniques" ->
      """WITH fd AS (SELECT user_id, min(CAST(ts AS DATE)) AS day
                     FROM events GROUP BY 1),
         byday AS (SELECT day, count(*) AS new_users FROM fd GROUP BY 1)
         SELECT day, new_users,
                CAST(sum(new_users) OVER (ORDER BY day
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum_users
         FROM byday""",
    "abc1_pareto_class" ->
      """WITH rev AS MATERIALIZED (
           SELECT l_partkey AS partkey,
                  sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS rev
           FROM lineitem GROUP BY 1),
         tot AS (SELECT sum(rev) AS total FROM rev),
         shared AS (SELECT partkey, rev,
                  CAST(sum(rev) OVER (ORDER BY rev DESC, partkey
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS DOUBLE) / CAST(total AS DOUBLE) AS share
                  FROM rev, tot)
         SELECT partkey, round(CAST(rev AS DOUBLE), 2) AS rev2,
                round(share, 6) AS cum_share6,
                CASE WHEN share <= 0.8 THEN 'A'
                     WHEN share <= 0.95 THEN 'B'
                     ELSE 'C' END AS abc_class
         FROM shared""",
    "rol1_rolling_distinct" ->
      """WITH ud AS MATERIALIZED (
           SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
         span AS (SELECT min(day) AS mn, max(day) AS mx FROM ud),
         fan AS (
           SELECT DISTINCT user_id, day + CAST(off AS INT) AS wday
           FROM ud CROSS JOIN
                (SELECT unnest([0, 1, 2, 3, 4, 5, 6]) AS off) o)
         SELECT wday AS day, count(*) AS users_7d
         FROM fan, span WHERE wday BETWEEN mn AND mx
         GROUP BY 1""",
    "fc1_seasonal_backtest" ->
      """WITH daily AS MATERIALIZED (
           SELECT CAST(ts AS DATE) AS day,
                  CAST(datediff('day', DATE '2023-12-31',
                    CAST(ts AS DATE)) % 7 AS INT) AS dow,
                  sum(CAST(value AS DECIMAL(18,2))) AS rev
           FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
         seasonal AS (
           SELECT dow, CAST(sum(rev) AS DOUBLE) / count(*) AS forecast
           FROM daily WHERE day < DATE '2024-01-25' GROUP BY 1)
         SELECT day, daily.dow,
                round(CAST(rev AS DOUBLE), 2) AS actual2,
                round(forecast, 6) AS forecast6,
                round(abs(CAST(rev AS DOUBLE) - forecast) /
                      CAST(rev AS DOUBLE), 6) AS ape6
         FROM daily JOIN seasonal ON daily.dow = seasonal.dow
         WHERE day >= DATE '2024-01-25'""",
    "chk1_row_checksum" ->
      """WITH o AS (
           SELECT 'orders' AS table_name, count(*) AS n_rows,
                  CAST(sum(CAST(('0x' || substr(md5(concat_ws('|',
                    o_orderkey, o_custkey, o_orderstatus,
                    CAST(round(o_totalprice * 100, 0) AS BIGINT),
                    strftime(o_orderdate, '%Y-%m-%d'),
                    o_orderpriority)), 1, 8)) AS BIGINT)) AS BIGINT)
                    AS checksum
           FROM orders),
         c AS (
           SELECT 'customer', count(*),
                  CAST(sum(CAST(('0x' || substr(md5(concat_ws('|',
                    c_custkey, c_name, c_nationkey,
                    CAST(round(c_acctbal * 100, 0) AS BIGINT),
                    c_mktsegment)), 1, 8)) AS BIGINT)) AS BIGINT)
           FROM customer),
         li AS (
           SELECT 'lineitem', count(*),
                  CAST(sum(CAST(('0x' || substr(md5(concat_ws('|',
                    l_orderkey, l_partkey, l_suppkey, l_linenumber,
                    CAST(round(l_quantity * 100, 0) AS BIGINT),
                    CAST(round(l_extendedprice * 100, 0) AS BIGINT),
                    CAST(round(l_discount * 100, 0) AS BIGINT),
                    CAST(round(l_tax * 100, 0) AS BIGINT),
                    l_returnflag, l_linestatus,
                    strftime(l_shipdate, '%Y-%m-%d'))), 1, 8))
                    AS BIGINT)) AS BIGINT)
           FROM lineitem)
         SELECT * FROM o UNION ALL SELECT * FROM c
         UNION ALL SELECT * FROM li""")
}
