package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Round-11 batch eight: sequence comparison and order statistics —
  * full Dynamic Time Warping between two daily series AS AN IN-PLAN
  * NESTED FOLD (no driver loop, no UDF), the Wald–Wolfowitz runs
  * test for randomness of daily moves, and the quantity-weighted
  * median price.
  *
  * Exactness: DTW is |diff| sums and mins over identical doubles in
  * an identical fold order on both engines (Spark nested `aggregate`
  * HOFs ≡ DuckDB recursive CTE + nested list_reduce) — bit-exact, no
  * rounding framework; the runs test is integers up to one sqrt;
  * the weighted median is an integer rank pick over exact cents and
  * integral weights.
  */
object Warp extends QueryModule {

  // ---- dtw1: dynamic time warping -------------------------------------

  /** DTW distance between the treatment (odd user ids) and control
    * daily purchase-revenue curves. The O(n·m) DP runs INSIDE the
    * plan: the outer `aggregate` folds series A carrying the DP row,
    * the inner `aggregate` builds each row (the left-neighbor
    * dependency is the inner fold's accumulator). Inputs are ~30-row
    * day AGGREGATES — DTW at scale is always per-entity bounded
    * series, and this shape runs once per entity group with zero
    * shuffles beyond the day rollup.
    */
  def dtw1SeriesWarp(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.events(s, d)
      .filter(col("event_type") === "purchase")
      .groupBy(to_date(col("ts")).as("day"),
        pmod(col("user_id"), lit(2)).cast("int").as("g"))
      .agg(sum(col("value").cast("decimal(18,2)")).cast("double").as("y"))
    val series = daily.groupBy(col("g"))
      .agg(sort_array(collect_list(struct(col("day"), col("y"))))
        .as("sd"))
      .select(col("g"), expr("transform(sd, x -> x.y)").as("ys"))
    val two = series.groupBy()
      .agg(first(when(col("g") === 1, col("ys")), ignoreNulls = true)
        .as("ya"),
        first(when(col("g") === 0, col("ys")), ignoreNulls = true)
        .as("yb"))
    two.select(size(col("ya")).as("n_a"), size(col("yb")).as("n_b"),
      expr("""
        round(aggregate(
          ya,
          concat(array(0.0D), transform(yb, x -> 1e308D)),
          (prev, a) -> aggregate(
            transform(yb, b -> array(b)),
            array(1e308D),
            (acc, x) -> concat(acc, array(
              abs(a - x[0]) + least(element_at(prev, size(acc)),
                                    element_at(prev, size(acc) + 1),
                                    element_at(acc, size(acc)))))),
          row -> element_at(row, -1)), 6)""").as("dtw6"))
      .withColumn("dtw_per_step6",
        round(col("dtw6") / (col("n_a") + col("n_b")), 6))
  }

  // ---- run1: Wald–Wolfowitz runs test ---------------------------------

  /** Runs test for randomness of daily revenue direction: sign of
    * each day-over-day change (zeros dropped), R = sign runs,
    * z = (R − μ_R)/σ_R with the textbook moments. The lag window
    * runs on the ~31-row day AGGREGATE; everything is integer until
    * the final z assembly.
    */
  def run1RunsTest(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.events(s, d)
      .filter(col("event_type") === "purchase")
      .groupBy(to_date(col("ts")).as("day"))
      .agg(sum(col("value").cast("decimal(18,2)")).as("rev"))
    val w = Window.orderBy(col("day"))
    val signs = daily
      .withColumn("chg", col("rev") - lag(col("rev"), 1).over(w))
      .filter(col("chg").isNotNull && col("chg") =!= 0)
      .select(col("day"), signum(col("chg").cast("double")).cast("int")
        .as("s"))
    val runsFlag = signs
      .withColumn("brk",
        (col("s") =!= lag(col("s"), 1).over(Window.orderBy(col("day"))))
          .cast("int"))
    val m = runsFlag.agg(
      (sum(coalesce(col("brk"), lit(1))).cast("long")).as("runs"),
      sum((col("s") === 1).cast("long")).as("n_up"),
      sum((col("s") === -1).cast("long")).as("n_down"))
    val n1 = col("n_up").cast("double")
    val n2 = col("n_down").cast("double")
    val mu = lit(2.0) * n1 * n2 / (n1 + n2) + 1
    val sig2 = lit(2.0) * n1 * n2 * (lit(2.0) * n1 * n2 - n1 - n2) /
      ((n1 + n2) * (n1 + n2) * (n1 + n2 - 1))
    m.select(col("runs"), col("n_up"), col("n_down"),
      round(mu, 6).as("expected_runs6"),
      round((col("runs") - mu) / sqrt(sig2), 6).as("z6"))
  }

  // ---- wmed1: weighted median -----------------------------------------

  /** Quantity-weighted LOWER-median extended price: cumulative
    * integral weights over the distinct-cents AGGREGATE (ks1 ordered-
    * scan discipline), first cents where 2·cumw ≥ total. Engines'
    * interpolating weighted percentiles never enter — the pick is an
    * integer comparison.
    */
  def wmed1WeightedMedian(s: SparkSession, d: String): DataFrame = {
    val cents = Tables.lineitem(s, d)
      .select(round(col("l_extendedprice") * 100, 0).cast("long")
        .as("cents"),
        round(col("l_quantity"), 0).cast("long").as("wt"))
      .groupBy(col("cents")).agg(sum(col("wt")).as("w"))
    val tot = cents.agg(sum(col("w")).as("totw"))
    // distinct cents scale with the lineitem table: the cumulative
    // weight runs the distributed prefix kernel, and the median pick
    // is a TakeOrdered limit(1), not a second global window
    graft.ops.GlobalRank.prefixScan(cents, Seq(col("cents")),
        Seq(graft.ops.GlobalRank.Scan("cumw", col("w"))))
      .crossJoin(broadcast(tot))
      .filter(col("cumw") * 2 >= col("totw"))
      .orderBy(col("cents")).limit(1)
      .select(round(col("cents").cast("double") / 100, 2)
        .as("weighted_median2"), col("totw"))
  }

  // ---- registry ------------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dtw1_series_warp" -> (dtw1SeriesWarp _),
    "run1_runs_test" -> (run1RunsTest _),
    "wmed1_weighted_median" -> (wmed1WeightedMedian _))

  val oracles: Map[String, String] = Map(
    "dtw1_series_warp" ->
      """WITH RECURSIVE daily AS MATERIALIZED (
           SELECT CAST(ts AS DATE) AS day,
                  CAST(user_id % 2 AS INT) AS g,
                  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS y
           FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
         ser AS (SELECT g, list(y ORDER BY day) AS ys
                 FROM daily GROUP BY 1),
         ab AS MATERIALIZED (
           SELECT (SELECT ys FROM ser WHERE g = 1) AS ya,
                  (SELECT ys FROM ser WHERE g = 0) AS yb),
         rec AS (
           -- ya/yb ride the recursion as columns: DuckDB lambdas may
           -- capture columns but not subqueries
           SELECT 0 AS i, ya, yb,
                  list_concat([0.0], [1e308 FOR x IN yb]) AS dp
           FROM ab
           UNION ALL
           SELECT i + 1, ya, yb,
                  list_reduce(
                    list_concat([[1e308]], [[x] FOR x IN yb]),
                    (acc, x) -> list_append(acc,
                      abs(ya[i + 1] - x[1]) +
                      least(dp[len(acc)], dp[len(acc) + 1],
                            acc[len(acc)])))
           FROM rec WHERE i < len(ya))
         SELECT CAST(len(ya) AS INT) AS n_a, CAST(len(yb) AS INT) AS n_b,
                round(dp[len(dp)], 6) AS dtw6,
                round(round(dp[len(dp)], 6) / (len(ya) + len(yb)), 6)
                  AS dtw_per_step6
         FROM rec WHERE i = len(ya)""",
    "run1_runs_test" ->
      """WITH daily AS MATERIALIZED (
           SELECT CAST(ts AS DATE) AS day,
                  sum(CAST(value AS DECIMAL(18,2))) AS rev
           FROM events WHERE event_type = 'purchase' GROUP BY 1),
         chg AS (SELECT day, rev - lag(rev, 1) OVER (ORDER BY day) AS c
                 FROM daily),
         signs AS MATERIALIZED (
           SELECT day, CAST(sign(CAST(c AS DOUBLE)) AS INT) AS s
           FROM chg WHERE c IS NOT NULL AND c <> 0),
         flags AS (SELECT s,
                  CAST(s <> lag(s, 1) OVER (ORDER BY day) AS INT) AS brk
                  FROM signs),
         m AS (SELECT CAST(sum(coalesce(brk, 1)) AS BIGINT) AS runs,
                  CAST(sum(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT)
                    AS n_up,
                  CAST(sum(CASE WHEN s = -1 THEN 1 ELSE 0 END) AS BIGINT)
                    AS n_down
               FROM flags)
         SELECT runs, n_up, n_down,
                round(2.0 * n_up * n_down / (n_up + n_down) + 1, 6)
                  AS expected_runs6,
                round((runs - (2.0 * n_up * n_down / (n_up + n_down) + 1))
                  / sqrt(2.0 * n_up * n_down *
                         (2.0 * n_up * n_down - n_up - n_down) /
                         ((n_up + n_down) * (n_up + n_down) *
                          (n_up + n_down - 1))), 6) AS z6
         FROM m""",
    "wmed1_weighted_median" ->
      """WITH cents AS MATERIALIZED (
           SELECT CAST(round(l_extendedprice * 100, 0) AS BIGINT)
                    AS cents,
                  CAST(sum(CAST(round(l_quantity, 0) AS BIGINT))
                    AS BIGINT) AS w
           FROM lineitem GROUP BY 1),
         tot AS (SELECT CAST(sum(w) AS BIGINT) AS totw FROM cents),
         cum AS (SELECT cents,
                  CAST(sum(w) OVER (ORDER BY cents ROWS BETWEEN UNBOUNDED
                    PRECEDING AND CURRENT ROW) AS BIGINT) AS cumw, totw
                 FROM cents, tot)
         SELECT round(CAST(cents AS DOUBLE) / 100, 2)
                  AS weighted_median2, totw
         FROM (SELECT *, row_number() OVER (ORDER BY cents) AS rk
               FROM cum WHERE cumw * 2 >= totw)
         WHERE rk = 1""")
}
