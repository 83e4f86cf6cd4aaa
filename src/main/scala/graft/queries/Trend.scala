package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ops.Ops

/** Round-11 batch three: robust trend + seasonality + community
  * structure — the Theil-Sen median-of-slopes estimator (the robust
  * regression line outliers can't drag), day-of-week seasonal
  * decomposition with 2σ residual anomaly flags, and synchronous
  * label-propagation communities over the co-purchase graph.
  *
  * Exactness: daily series come off exact-DECIMAL day aggregates;
  * pairwise slopes and residuals are rounded to fixed dp and ranked /
  * summed as DECIMAL, so the median picks and the σ gate are integer-
  * exact decisions; LPA's per-round mode uses (count DESC, label ASC)
  * — a total order, so every round is deterministic on both engines.
  */
object Trend extends QueryModule {

  private def dailyRevenue(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .filter(col("event_type") === "purchase")
      .groupBy(to_date(col("ts")).as("day"))
      .agg(sum(col("value").cast("decimal(18,2)")).as("rev"))

  // ---- theil1: Theil-Sen median slope ---------------------------------

  /** Theil-Sen trend of daily purchase revenue: the LOWER median of
    * all pairwise slopes (y_j−y_i)/(t_j−t_i), picked by integer rank
    * over 9-dp DECIMAL slopes — engines' interpolating medians never
    * enter. The stream collapses to the ~31-row day aggregate first,
    * so the quadratic pair join is over days, not events (bounded by
    * the calendar, the ks1/sax1 ordered-scan discipline).
    */
  def theil1TheilSen(s: SparkSession, d: String): DataFrame = {
    val days = dailyRevenue(s, d)
      .select(col("day"), col("rev").cast("double").as("y"))
    val a = days.select(col("day").as("d1"), col("y").as("y1"))
    val b = days.select(col("day").as("d2"), col("y").as("y2"))
    val slopes = a.join(b, col("d1") < col("d2"))
      .select(col("d1"), col("d2"),
        round((col("y2") - col("y1")) /
          datediff(col("d2"), col("d1")).cast("double"), 9)
          .cast("decimal(18,9)").as("slope"))
    val nP = slopes.agg(count(lit(1)).as("n_pairs"))
    val ranked = slopes.crossJoin(broadcast(nP))
      .withColumn("rk", row_number().over(
        Window.orderBy(col("slope"), col("d1"), col("d2"))).cast("long"))
      // Column./ is double division — floor+cast is the (n+1)//2
      // integer rank pick the oracle uses
      .filter(col("rk") === floor((col("n_pairs") + 1) / 2).cast("long"))
    val nD = days.agg(count(lit(1)).as("n_days"))
    ranked.crossJoin(broadcast(nD))
      .select(col("n_days"), col("n_pairs"),
        round(col("slope").cast("double"), 6).as("slope_med6"))
  }

  // ---- sea1: day-of-week seasonal decomposition -----------------------

  /** Seasonal decomposition of daily revenue by day-of-week: each
    * day's residual against its weekday mean, flagged when |r| exceeds
    * 2σ of all residuals. dow is computed as days-since-a-fixed-Sunday
    * mod 7 (engine-neutral — no calendar-function disagreement);
    * weekday means come from exact event-level DECIMAL sums, residuals
    * are 6-dp DECIMAL, and σ assembles from DECIMAL moments in fixed
    * IEEE order. Shape: one day aggregate, a broadcast 7-row weekday
    * table, a broadcast 1-row σ — the flagging scan never shuffles.
    */
  def sea1SeasonalAnomaly(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.events(s, d)
      .filter(col("event_type") === "purchase")
      .groupBy(to_date(col("ts")).as("day"))
      .agg(sum(col("value").cast("decimal(18,2)")).as("rev"))
      .select(col("day"),
        pmod(datediff(col("day"), lit("2023-12-31").cast("date")), lit(7))
          .cast("int").as("dow"),
        col("rev"))
    val dowMean = daily.groupBy(col("dow"))
      .agg((sum(col("rev")).cast("double") / count(lit(1))).as("dow_mean"))
    val withR = daily.join(broadcast(dowMean), "dow")
      .withColumn("r",
        round(col("rev").cast("double") - col("dow_mean"), 6)
          .cast("decimal(18,6)"))
    val mom = withR.agg(count(lit(1)).as("n"), sum(col("r")).as("sr"),
      sum(col("r") * col("r")).as("srr"))
      .select(col("n"), sqrt((col("srr").cast("double") -
        col("sr").cast("double") * col("sr").cast("double") / col("n")) /
        (col("n") - lit(1))).as("sd"))
    withR.crossJoin(broadcast(mom))
      .select(col("day"), col("dow"),
        round(col("rev").cast("double"), 2).as("rev2"),
        round(col("dow_mean"), 6).as("dow_mean6"),
        col("r").cast("double").as("resid6"),
        (abs(col("r").cast("double")) > col("sd") * 2).cast("int")
          .as("anomaly"))
  }

  // ---- lp1: label-propagation communities -----------------------------

  /** Synchronous label propagation over the co-purchase graph (same
    * canonical a<b edge list as kcore1/rec1): labels start as node
    * ids; each of 3 rounds every node adopts the MODE of its
    * neighbors' labels, ties to the smaller label — (count DESC,
    * label ASC) is a total order, so rounds are deterministic and the
    * unrolled oracle replays them exactly. Per-round cost: one
    * co-partitioned join + one aggregate; rounds run through
    * [[Ops.iterate]] (the PageRank plan-growth lesson).
    */
  def lp1LabelProp(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
    val baskets = li.groupBy("ok")
      .agg(sort_array(collect_set(col("pk"))).as("items"))
      .filter(size(col("items")).between(2, 50))
    val edges = baskets
      .select(col("items"), explode(col("items")).as("a"))
      .select(col("a"),
        explode(filter(col("items"), x => x > col("a"))).as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= 2)
      .select(col("a"), col("b"))
    val dir = edges.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(edges.select(col("b").as("src"), col("a").as("dst")))
      .localCheckpoint(true)
    val init = dir.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("label"))
    Ops.iterate(init, 3) { labels =>
      val votes = dir
        .join(labels.withColumnRenamed("node", "src"), "src")
        .groupBy(col("dst"), col("label"))
        .agg(count(lit(1)).as("votes"))
      votes.withColumn("rk", row_number().over(
          Window.partitionBy(col("dst"))
            .orderBy(col("votes").desc, col("label"))))
        .filter(col("rk") === 1)
        .select(col("dst").as("node"), col("label"))
    }.withColumnRenamed("label", "community")
  }

  // ---- registry ------------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "theil1_theilsen_slope" -> (theil1TheilSen _),
    "sea1_seasonal_anomaly" -> (sea1SeasonalAnomaly _),
    "lp1_label_prop" -> (lp1LabelProp _))

  val oracles: Map[String, String] = Map(
    "theil1_theilsen_slope" ->
      """WITH days AS MATERIALIZED (
           SELECT CAST(ts AS DATE) AS day,
                  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS y
           FROM events WHERE event_type = 'purchase' GROUP BY 1),
         slopes AS MATERIALIZED (
           SELECT a.day AS d1, b.day AS d2,
                  CAST(round((b.y - a.y) /
                    CAST(datediff('day', a.day, b.day) AS DOUBLE), 9)
                    AS DECIMAL(18,9)) AS slope
           FROM days a JOIN days b ON a.day < b.day),
         np AS (SELECT count(*) AS n_pairs FROM slopes),
         ranked AS (
           SELECT slope, row_number() OVER (ORDER BY slope, d1, d2) AS rk
           FROM slopes)
         SELECT (SELECT CAST(count(*) AS BIGINT) FROM days) AS n_days,
                CAST(np.n_pairs AS BIGINT) AS n_pairs,
                round(CAST(slope AS DOUBLE), 6) AS slope_med6
         FROM ranked, np WHERE rk = (np.n_pairs + 1) // 2""",
    "sea1_seasonal_anomaly" ->
      """WITH daily AS MATERIALIZED (
           SELECT CAST(ts AS DATE) AS day,
                  CAST(datediff('day', DATE '2023-12-31',
                    CAST(ts AS DATE)) % 7 AS INT) AS dow,
                  sum(CAST(value AS DECIMAL(18,2))) AS rev
           FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
         dm AS (SELECT dow,
                  CAST(sum(rev) AS DOUBLE) / count(*) AS dow_mean
                FROM daily GROUP BY 1),
         withr AS MATERIALIZED (
           SELECT day, daily.dow, rev, dow_mean,
                  CAST(round(CAST(rev AS DOUBLE) - dow_mean, 6)
                    AS DECIMAL(18,6)) AS r
           FROM daily JOIN dm ON daily.dow = dm.dow),
         mom AS (SELECT count(*) AS n,
                  -- DECIMAL(19) forces DuckDB's int128 multiply kernel;
                  -- (18,6)x(18,6) overflows its int64 fast path
                  sqrt((CAST(sum(CAST(r AS DECIMAL(19,6)) *
                             CAST(r AS DECIMAL(19,6))) AS DOUBLE) -
                        CAST(sum(r) AS DOUBLE) * CAST(sum(r) AS DOUBLE)
                        / count(*)) / (count(*) - 1)) AS sd
                 FROM withr)
         SELECT day, dow,
                round(CAST(rev AS DOUBLE), 2) AS rev2,
                round(dow_mean, 6) AS dow_mean6,
                CAST(r AS DOUBLE) AS resid6,
                CAST(abs(CAST(r AS DOUBLE)) > sd * 2 AS INT) AS anomaly
         FROM withr, mom""",
    "lp1_label_prop" ->
      """WITH d AS MATERIALIZED (
           SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
         sz AS (SELECT ok FROM d GROUP BY ok
                HAVING count(*) BETWEEN 2 AND 50),
         dd AS MATERIALIZED (SELECT d.* FROM d JOIN sz USING (ok)),
         e0 AS MATERIALIZED (
           SELECT x.pk AS a, y.pk AS b
           FROM dd x JOIN dd y ON x.ok = y.ok AND x.pk < y.pk
           GROUP BY 1, 2 HAVING count(*) >= 2),
         dir AS MATERIALIZED (
           SELECT a AS src, b AS dst FROM e0
           UNION ALL SELECT b, a FROM e0),
         l0 AS MATERIALIZED (
           SELECT DISTINCT src AS node, src AS label FROM dir),
         v1 AS (SELECT dst, label, count(*) AS votes
                FROM dir JOIN l0 ON dir.src = l0.node GROUP BY 1, 2),
         l1 AS MATERIALIZED (
           SELECT dst AS node, label FROM (
             SELECT dst, label, row_number() OVER (PARTITION BY dst
               ORDER BY votes DESC, label) AS rk FROM v1)
           WHERE rk = 1),
         v2 AS (SELECT dst, label, count(*) AS votes
                FROM dir JOIN l1 ON dir.src = l1.node GROUP BY 1, 2),
         l2 AS MATERIALIZED (
           SELECT dst AS node, label FROM (
             SELECT dst, label, row_number() OVER (PARTITION BY dst
               ORDER BY votes DESC, label) AS rk FROM v2)
           WHERE rk = 1),
         v3 AS (SELECT dst, label, count(*) AS votes
                FROM dir JOIN l2 ON dir.src = l2.node GROUP BY 1, 2)
         SELECT dst AS node, label AS community FROM (
           SELECT dst, label, row_number() OVER (PARTITION BY dst
             ORDER BY votes DESC, label) AS rk FROM v3)
         WHERE rk = 1""")
}
