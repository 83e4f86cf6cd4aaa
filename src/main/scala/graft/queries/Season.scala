package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Round-12 batch two: seasonal time-series models over the daily
  * purchase-revenue series — additive Holt–Winters (the seasonal
  * upgrade of hol1's double smoothing) and an STL-style
  * trend/seasonal/residual decomposition (the decomposition dual of
  * sea1's anomaly flags).
  *
  * Exactness discipline: the only cross-engine risk in sequential
  * smoothers is floating summation ORDER, so every multi-term sum
  * comes from an exact DECIMAL aggregate (order-free) and every
  * smoothing step is requantized to 9 dp; the per-step arithmetic is
  * then an identical IEEE expression on identical inputs in both
  * engines, so the recursion cannot drift.
  *
  * Scale notes: both queries collapse the raw stream to a day-bounded
  * aggregate first (one shuffle); hw1's recursion is a single in-plan
  * fold over the day array (no iterative jobs, no driver loop), and
  * stl1 is windows + a broadcast 7-row weekday table over the day
  * aggregate.
  */
object Season extends QueryModule {

  // Holt–Winters step, inlined (SQL lambdas cannot bind intermediate
  // level): l' = a(x - s1) + (1-a)(l+b); b' = c*b + (1-c)(l'-l);
  // s' = g(x - l') + (1-g)s1, all with a=c=g=0.5 and 9-dp requantize.
  private val hwLv =
    "round(0.5D * (x - element_at(acc.s, 1)) + 0.5D * (acc.l + acc.b), 9)"
  private val hwFold =
    s"""aggregate(
          slice(ys, 8, greatest(size(ys) - 7, 0)),
          named_struct('l', m1, 'b', b0, 's', s0),
          (acc, x) -> named_struct(
            'l', $hwLv,
            'b', round(0.5D * acc.b + 0.5D * ($hwLv - acc.l), 9),
            's', concat(slice(acc.s, 2, 6),
                   array(round(0.5D * (x - $hwLv)
                     + 0.5D * element_at(acc.s, 1), 9)))),
          acc -> acc)"""

  /** hw1: additive Holt–Winters (period 7, all smoothing constants
    * 0.5) on daily purchase revenue. Init: level = week-1 mean, trend
    * = (week-2 mean - week-1 mean)/7, seasonals = week-1 deviations;
    * then one fold over days 8..n. Forecast for day n+1 is
    * level + trend + the matching seasonal.
    */
  def hw1HoltWinters(s: SparkSession, d: String): DataFrame =
    holtWinters(Tables.events(s, d)
      .filter(col("event_type") === "purchase")
      .groupBy(to_date(col("ts")).as("day"))
      .agg(sum(col("value").cast("decimal(18,2)")).as("rev")))

  /** Core fold over a (day, rev DECIMAL(18,2)) daily series — split
    * from hw1 so the degenerate short-series contract (NULL outputs
    * below 8 days, matching the oracle's NULL scalar-subquery sum)
    * is unit-testable on synthetic frames.
    */
  private[graft] def holtWinters(daily: DataFrame): DataFrame = {
    val arr = daily
      .agg(sort_array(collect_list(struct(col("day"), col("rev"))))
        .as("sd"))
      .select(expr("transform(sd, x -> CAST(x.rev AS DOUBLE))").as("ys"),
        // week means from exact DECIMAL sums (order-free), then one
        // rounded division — the only place summation order could bite
        expr("""round(CAST(aggregate(slice(sd, 1, 7),
                 CAST(0 AS DECIMAL(28,2)),
                 (a, x) -> CAST(a + x.rev AS DECIMAL(28,2)))
               AS DOUBLE) / 7, 9)""").as("m1"),
        // degenerate-series dual: the oracle's scalar-subquery sum
        // over days 8..14 is NULL when NO such day exists, while an
        // empty-slice fold would give 0 (m2=0, b0=-m1/7) — guard so
        // both engines agree on series shorter than 8 days (NULL m2
        // -> NULL b0 -> NULL fold state -> NULL outputs)
        expr("""CASE WHEN size(sd) >= 8 THEN
                 round(CAST(aggregate(slice(sd, 8, 7),
                   CAST(0 AS DECIMAL(28,2)),
                   (a, x) -> CAST(a + x.rev AS DECIMAL(28,2)))
                 AS DOUBLE) / 7, 9) END""").as("m2"))
      .withColumn("b0", expr("round((m2 - m1) / 7, 9)"))
      .withColumn("s0",
        expr("transform(slice(ys, 1, 7), v -> round(v - m1, 9))"))
    arr.select(size(col("ys")).as("ndays"), expr(hwFold).as("st"))
      // the oracle's recursive CTE starts at t = 7, so a series
      // shorter than 7 days never reaches t = c and yields ZERO rows
      // — mirror that here (at 7 days both emit one row with defined
      // level, NULL trend/forecast via the m2 guard above)
      .where(col("ndays") >= 7)
      .select(col("ndays").as("n_days"),
        round(col("st.l"), 6).as("level6"),
        round(col("st.b"), 6).as("trend6"),
        round(expr("element_at(st.s, 1)"), 6).as("season6"),
        round(col("st.l") + col("st.b")
          + expr("element_at(st.s, 1)"), 6).as("forecast6"))
  }

  /** stl1: classical additive decomposition of daily revenue — trend
    * = centered 7-day moving mean (full windows only), seasonal = the
    * weekday mean of the detrended series recentred to sum 0, residual
    * = y - trend - seasonal. Weekday means come from exact DECIMAL
    * sums (sea1's moment discipline); edge days carry NULL
    * trend/seasonal/residual.
    */
  def stl1Decompose(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.events(s, d)
      .filter(col("event_type") === "purchase")
      .groupBy(to_date(col("ts")).as("day"))
      .agg(sum(col("value").cast("decimal(18,2)")).as("rev"))
      .withColumn("dow",
        pmod(datediff(col("day"), lit("2023-12-31").cast("date")),
          lit(7)).cast("int"))
    val wc = Window.orderBy(col("day")).rowsBetween(-3, 3)
    val trended = daily
      .withColumn("wn", count(lit(1)).over(wc))
      .withColumn("trend",
        when(col("wn") === 7,
          round(sum(col("rev")).over(wc).cast("double") / 7, 6))
          .cast("decimal(18,6)"))
      .withColumn("detr",
        round(col("rev").cast("double") - col("trend"), 6)
          .cast("decimal(18,6)"))
    val dowSea = trended.filter(col("trend").isNotNull)
      .groupBy(col("dow"))
      .agg(round(sum(col("detr")).cast("double") / count(lit(1)), 6)
        .cast("decimal(18,6)").as("sea_raw"))
    val grand = dowSea
      .agg(round(sum(col("sea_raw")).cast("double") / 7, 6).as("grand"))
    val sea = dowSea.crossJoin(broadcast(grand))
      .select(col("dow"),
        round(col("sea_raw").cast("double") - col("grand"), 6)
          .cast("decimal(18,6)").as("seasonal"))
    trended.join(broadcast(sea), Seq("dow"))
      .select(col("day"), col("dow"),
        round(col("rev").cast("double"), 2).as("rev2"),
        col("trend").cast("double").as("trend6"),
        when(col("trend").isNotNull, col("seasonal").cast("double"))
          .as("seasonal6"),
        when(col("trend").isNotNull,
          round(col("rev").cast("double") - col("trend")
            - col("seasonal"), 6)).as("resid6"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "hw1_holt_winters" -> (hw1HoltWinters _),
    "stl1_decompose" -> (stl1Decompose _))

  private val hwLvSql =
    "round(0.5 * (d.y - s1) + 0.5 * (l + b), 9)"

  val oracles: Map[String, String] = Map(
    "hw1_holt_winters" ->
      s"""WITH RECURSIVE daily AS MATERIALIZED (
           SELECT CAST(ts AS DATE) AS day,
                  sum(CAST(value AS DECIMAL(18,2))) AS rev
           FROM events WHERE event_type = 'purchase' GROUP BY 1),
         idx AS MATERIALIZED (
           SELECT row_number() OVER (ORDER BY day) AS i,
                  CAST(rev AS DOUBLE) AS y, rev FROM daily),
         n AS (SELECT count(*) AS c FROM idx),
         m AS MATERIALIZED (
           SELECT round(CAST((SELECT sum(rev) FROM idx WHERE i <= 7)
                    AS DOUBLE) / 7, 9) AS m1,
                  round(CAST((SELECT sum(rev) FROM idx
                              WHERE i BETWEEN 8 AND 14)
                    AS DOUBLE) / 7, 9) AS m2),
         init AS (
           SELECT 7 AS t, m1 AS l, round((m2 - m1) / 7, 9) AS b,
                  round((SELECT y FROM idx WHERE i = 1) - m1, 9) AS s1,
                  round((SELECT y FROM idx WHERE i = 2) - m1, 9) AS s2,
                  round((SELECT y FROM idx WHERE i = 3) - m1, 9) AS s3,
                  round((SELECT y FROM idx WHERE i = 4) - m1, 9) AS s4,
                  round((SELECT y FROM idx WHERE i = 5) - m1, 9) AS s5,
                  round((SELECT y FROM idx WHERE i = 6) - m1, 9) AS s6,
                  round((SELECT y FROM idx WHERE i = 7) - m1, 9) AS s7
           FROM m),
         rec AS (
           SELECT * FROM init
           UNION ALL
           SELECT t + 1,
                  $hwLvSql,
                  round(0.5 * b + 0.5 * ($hwLvSql - l), 9),
                  s2, s3, s4, s5, s6, s7,
                  round(0.5 * (d.y - $hwLvSql) + 0.5 * s1, 9)
           FROM rec JOIN idx d ON d.i = t + 1
           WHERE t < (SELECT c FROM n))
         SELECT CAST((SELECT c FROM n) AS INT) AS n_days,
                round(l, 6) AS level6, round(b, 6) AS trend6,
                round(s1, 6) AS season6,
                round(l + b + s1, 6) AS forecast6
         FROM rec WHERE t = (SELECT c FROM n)""",
    "stl1_decompose" ->
      """WITH daily AS MATERIALIZED (
           SELECT CAST(ts AS DATE) AS day,
                  sum(CAST(value AS DECIMAL(18,2))) AS rev,
                  CAST((CAST(ts AS DATE) - DATE '2023-12-31') % 7
                    AS INT) AS dow
           FROM events WHERE event_type = 'purchase' GROUP BY 1, 3),
         trended AS MATERIALIZED (
           SELECT day, dow, rev,
                  CASE WHEN count(*) OVER wc = 7
                       THEN CAST(round(CAST(sum(rev) OVER wc AS DOUBLE)
                              / 7, 6) AS DECIMAL(18,6)) END AS trend
           FROM daily
           WINDOW wc AS (ORDER BY day
                         ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
         detrended AS MATERIALIZED (
           SELECT *, CAST(round(CAST(rev AS DOUBLE) - trend, 6)
                       AS DECIMAL(18,6)) AS detr
           FROM trended),
         dowsea AS MATERIALIZED (
           SELECT dow, CAST(round(CAST(sum(detr) AS DOUBLE) / count(*),
                         6) AS DECIMAL(18,6)) AS sea_raw
           FROM detrended WHERE trend IS NOT NULL GROUP BY 1),
         grand AS (SELECT round(CAST(sum(sea_raw) AS DOUBLE) / 7, 6)
                     AS grand FROM dowsea),
         sea AS (SELECT dow, CAST(round(CAST(sea_raw AS DOUBLE) - grand,
                           6) AS DECIMAL(18,6)) AS seasonal
                 FROM dowsea, grand)
         SELECT day, t.dow, round(CAST(rev AS DOUBLE), 2) AS rev2,
                CAST(trend AS DOUBLE) AS trend6,
                CASE WHEN trend IS NOT NULL
                     THEN CAST(seasonal AS DOUBLE) END AS seasonal6,
                CASE WHEN trend IS NOT NULL
                     THEN round(CAST(rev AS DOUBLE) - trend - seasonal,
                            6) END AS resid6
         FROM detrended t JOIN sea ON t.dow = sea.dow""")
}
