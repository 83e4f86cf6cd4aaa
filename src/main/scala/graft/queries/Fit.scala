package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Round-12 batch six: robust fitting and rank statistics — Huber
  * IRLS regression (the outlier-resistant upgrade of reg1's OLS),
  * average-rank Spearman correlation via the distinct-value
  * aggregate (ks1's compression discipline), and the exact-Jaccard
  * similarity histogram (the dedup threshold-sensitivity report).
  */
object Fit extends QueryModule {

  /** Huber tuning constant for hub1 (residual scale of the daily
    * revenue series).
    */
  private val huberK = 500.0

  /** hub1: robust trend of daily purchase revenue — OLS init, then 3
    * IRLS rounds with Huber weights w = min(1, k/|r|). Every weighted
    * sum goes through 6-dp DECIMAL terms (order-free exactness); the
    * per-round parameters are 9-dp requantized, so the fixed-depth
    * recursion is drift-free cross-engine. All iterations run on the
    * day-bounded aggregate (one full-data shuffle total).
    */
  def hub1HuberTrend(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.events(s, d)
      .filter(col("event_type") === "purchase")
      .groupBy(to_date(col("ts")).as("day"))
      .agg(sum(col("value").cast("decimal(18,2)")).as("rev"))
      .select(datediff(col("day"), lit("2024-01-01").cast("date"))
        .cast("long").as("x"),
        col("rev").cast("double").as("y"), col("rev"))
      .localCheckpoint(true) // bounded: one row per day
    val ols = daily.agg(count(lit(1)).as("n"),
      sum(col("x").cast("decimal(18,0)")).cast("double").as("sx"),
      sum(col("rev")).cast("double").as("sy"),
      sum((col("x") * col("x")).cast("decimal(27,0)")).cast("double")
        .as("sxx"),
      sum((col("x").cast("decimal(9,0)") * col("rev"))
        .cast("decimal(27,2)")).cast("double").as("sxy"))
      .select(col("n"), col("sx"), col("sy"),
        round((col("n") * col("sxy") - col("sx") * col("sy")) /
          (col("n") * col("sxx") - col("sx") * col("sx")), 9).as("b"))
      .select(col("n"), col("b"),
        round((col("sy") - col("b") * col("sx")) / col("n"), 9).as("a"))
    var params = ols.select(col("n"), col("a"), col("b"),
      col("a").as("a0"), col("b").as("b0"))
    for (_ <- 1 to 3) {
      val weighted = daily.crossJoin(broadcast(params))
        .withColumn("r", col("y") - (col("a") + col("b") * col("x")))
        .withColumn("w", when(abs(col("r")) <= huberK, 1.0)
          .otherwise(round(lit(huberK) / abs(col("r")), 9)))
        .groupBy(col("n"), col("a0"), col("b0"))
        .agg(
          sum(round(col("w"), 6).cast("decimal(28,6)")).cast("double")
            .as("sw"),
          sum(round(col("w") * col("x"), 6).cast("decimal(28,6)"))
            .cast("double").as("swx"),
          sum(round(col("w") * col("y"), 6).cast("decimal(28,6)"))
            .cast("double").as("swy"),
          sum(round(col("w") * col("x") * col("x"), 6)
            .cast("decimal(28,6)")).cast("double").as("swxx"),
          sum(round(col("w") * col("x") * col("y"), 6)
            .cast("decimal(28,6)")).cast("double").as("swxy"),
          count(lit(1)).as("n_"))
      params = weighted
        .select(col("n_").as("n"), col("a0"), col("b0"), col("sw"),
          col("swx"), col("swy"),
          round((col("sw") * col("swxy") - col("swx") * col("swy")) /
            (col("sw") * col("swxx") - col("swx") * col("swx")), 9)
            .as("b"))
        .select(col("n"), col("a0"), col("b0"), col("b"),
          round((col("swy") - col("b") * col("swx")) / col("sw"), 9)
            .as("a"))
        .select(col("n"), col("a"), col("b"), col("a0"), col("b0"))
    }
    params.select(col("n").as("n_days"),
      round(col("b0"), 6).as("ols_slope6"),
      round(col("a0"), 6).as("ols_icept6"),
      round(col("b"), 6).as("hub_slope6"),
      round(col("a"), 6).as("hub_icept6"))
  }

  /** srk1: Spearman rank correlation between order value and the
    * customer's account balance, with proper AVERAGE ranks for ties —
    * computed on the DISTINCT-VALUE aggregate (cumulative count ->
    * avg rank = cum - (cnt-1)/2), then joined back: the window input
    * is |distinct values|, never |rows| (ks1's compression rule).
    * Doubled ranks are integers, so every moment is an exact DECIMAL
    * sum and rho is one rational of identical doubles.
    */
  def srk1SpearmanRank(s: SparkSession, d: String): DataFrame = {
    val pairs = Tables.orders(s, d)
      .join(broadcast(Tables.customer(s, d)
        .select(col("c_custkey"), col("c_acctbal"))),
        col("o_custkey") === col("c_custkey"))
      .select(col("o_totalprice").as("v1"), col("c_acctbal").as("v2"))
    def avgRanks(vcol: String): DataFrame = {
      // distinct raw values scale ~ rows: the tie-midrank cumulative
      // count runs the distributed prefix kernel, not a global window
      graft.ops.GlobalRank.prefixScan(
          pairs.groupBy(col(vcol)).agg(count(lit(1)).as("cnt")),
          Seq(col(vcol)),
          Seq(graft.ops.GlobalRank.Scan("cum", col("cnt"))))
        // doubled average rank: 2*(cum - (cnt-1)/2) = 2*cum - cnt + 1
        .select(col(vcol), (col("cum") * 2 - col("cnt") + 1).as(s"ir_$vcol"))
    }
    val ranked = pairs
      .join(avgRanks("v1"), Seq("v1"))
      .join(avgRanks("v2"), Seq("v2"))
    val m = ranked.agg(count(lit(1)).as("n"),
      sum(col("ir_v1").cast("decimal(28,0)")).cast("double").as("s1"),
      sum(col("ir_v2").cast("decimal(28,0)")).cast("double").as("s2"),
      sum((col("ir_v1") * col("ir_v1")).cast("decimal(28,0)"))
        .cast("double").as("s11"),
      sum((col("ir_v2") * col("ir_v2")).cast("decimal(28,0)"))
        .cast("double").as("s22"),
      sum((col("ir_v1") * col("ir_v2")).cast("decimal(28,0)"))
        .cast("double").as("s12"))
    m.select(col("n"),
      round((col("n") * col("s12") - col("s1") * col("s2")) /
        sqrt((col("n") * col("s11") - col("s1") * col("s1")) *
          (col("n") * col("s22") - col("s2") * col("s2"))), 6)
        .as("rho6"))
  }

  /** dd15: similarity histogram of the exact near-dup pairs at the
    * dd7 operating point — pairs per 0.05-wide Jaccard bucket in
    * [0.8, 1.0]. The threshold-sensitivity report a curator reads
    * before moving the dedup knob; consumes the shared [[TruthSets]]
    * pair set, so it costs ~nothing after any dd7-family query ran.
    */
  def dd15ThresholdSweep(s: SparkSession, d: String): DataFrame =
    TruthSets.exactJaccardPairs(s, d, threshold = 0.8)
      .groupBy(floor(col("jaccard") * 20).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("lo", col("bucket").cast("double") / 20)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "hub1_huber_trend" -> (hub1HuberTrend _),
    "srk1_spearman_rank" -> (srk1SpearmanRank _),
    "dd15_threshold_sweep" -> (dd15ThresholdSweep _))

  private def irlsRound(prev: String, i: Int): String =
    s"""w$i AS MATERIALIZED (
         SELECT n, a0, b0,
                CAST(sum(CAST(round(w, 6) AS DECIMAL(28,6))) AS DOUBLE)
                  AS sw,
                CAST(sum(CAST(round(w * x, 6) AS DECIMAL(28,6)))
                  AS DOUBLE) AS swx,
                CAST(sum(CAST(round(w * y, 6) AS DECIMAL(28,6)))
                  AS DOUBLE) AS swy,
                CAST(sum(CAST(round(w * x * x, 6) AS DECIMAL(28,6)))
                  AS DOUBLE) AS swxx,
                CAST(sum(CAST(round(w * x * y, 6) AS DECIMAL(28,6)))
                  AS DOUBLE) AS swxy
         FROM (
           SELECT p.*, daily.x, daily.y,
                  CASE WHEN abs(y - (a + b * x)) <= 500.0 THEN 1.0
                       ELSE round(500.0 / abs(y - (a + b * x)), 9)
                  END AS w
           FROM daily CROSS JOIN $prev p)
         GROUP BY 1, 2, 3),
       p$i AS MATERIALIZED (
         SELECT n, a0, b0,
                round((swy - round((sw * swxy - swx * swy) /
                    (sw * swxx - swx * swx), 9) * swx) / sw, 9) AS a,
                round((sw * swxy - swx * swy) /
                  (sw * swxx - swx * swx), 9) AS b
         FROM w$i)"""

  val oracles: Map[String, String] = Map(
    "hub1_huber_trend" ->
      s"""WITH daily AS MATERIALIZED (
           SELECT CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT)
                    AS x,
                  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                    AS y,
                  sum(CAST(value AS DECIMAL(18,2))) AS rev
           FROM events WHERE event_type = 'purchase'
           GROUP BY CAST(ts AS DATE)),
         sums AS (
           SELECT CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(CAST(x AS DECIMAL(18,0))) AS DOUBLE) AS sx,
                  CAST(sum(rev) AS DOUBLE) AS sy,
                  CAST(sum(CAST(x * x AS DECIMAL(27,0))) AS DOUBLE)
                    AS sxx,
                  CAST(sum(CAST(CAST(x AS DECIMAL(9,0)) * rev
                    AS DECIMAL(27,2))) AS DOUBLE) AS sxy
           FROM daily),
         p0 AS MATERIALIZED (
           SELECT n,
                  round((sy - round((n * sxy - sx * sy) /
                      (n * sxx - sx * sx), 9) * sx) / n, 9) AS a,
                  round((n * sxy - sx * sy) / (n * sxx - sx * sx), 9)
                    AS b,
                  round((sy - round((n * sxy - sx * sy) /
                      (n * sxx - sx * sx), 9) * sx) / n, 9) AS a0,
                  round((n * sxy - sx * sy) / (n * sxx - sx * sx), 9)
                    AS b0
           FROM sums),
         ${irlsRound("p0", 1)},
         ${irlsRound("p1", 2)},
         ${irlsRound("p2", 3)}
         SELECT n AS n_days,
                round(b0, 6) AS ols_slope6, round(a0, 6) AS ols_icept6,
                round(b, 6) AS hub_slope6, round(a, 6) AS hub_icept6
         FROM p3""",
    "srk1_spearman_rank" ->
      """WITH pairs AS MATERIALIZED (
           SELECT o_totalprice AS v1, c_acctbal AS v2
           FROM orders JOIN customer ON o_custkey = c_custkey),
         r1 AS MATERIALIZED (
           SELECT v1, CAST(sum(count(*)) OVER (ORDER BY v1
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    * 2 - count(*) + 1 AS BIGINT) AS ir_v1
           FROM pairs GROUP BY v1),
         r2 AS MATERIALIZED (
           SELECT v2, CAST(sum(count(*)) OVER (ORDER BY v2
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    * 2 - count(*) + 1 AS BIGINT) AS ir_v2
           FROM pairs GROUP BY v2),
         ranked AS (
           SELECT ir_v1, ir_v2
           FROM pairs JOIN r1 USING (v1) JOIN r2 USING (v2)),
         m AS (
           SELECT CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(CAST(ir_v1 AS DECIMAL(28,0))) AS DOUBLE)
                    AS s1,
                  CAST(sum(CAST(ir_v2 AS DECIMAL(28,0))) AS DOUBLE)
                    AS s2,
                  CAST(sum(CAST(ir_v1 * ir_v1 AS DECIMAL(28,0)))
                    AS DOUBLE) AS s11,
                  CAST(sum(CAST(ir_v2 * ir_v2 AS DECIMAL(28,0)))
                    AS DOUBLE) AS s22,
                  CAST(sum(CAST(ir_v1 * ir_v2 AS DECIMAL(28,0)))
                    AS DOUBLE) AS s12
           FROM ranked)
         SELECT n, round((n * s12 - s1 * s2) /
                  sqrt((n * s11 - s1 * s1) * (n * s22 - s2 * s2)), 6)
                  AS rho6
         FROM m""",
    "dd15_threshold_sweep" ->
      """WITH t AS (SELECT doc_id, lower(trim(text)) AS s FROM documents),
         g AS (SELECT DISTINCT doc_id, unnest(
                 CASE WHEN length(s) >= 3
                      THEN list_transform(range(1, length(s) - 1),
                                          i -> substr(s, CAST(i AS INT), 3))
                      ELSE [s] END) AS gram
               FROM t),
         gs AS (SELECT doc_id, count(*) AS sz FROM g GROUP BY doc_id),
         ix AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS o
                FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
                GROUP BY 1, 2),
         pj AS (SELECT CAST(o AS DOUBLE) / (sa.sz + sb.sz - o) AS jaccard
                FROM ix JOIN gs sa ON sa.doc_id = ix.id_a
                        JOIN gs sb ON sb.doc_id = ix.id_b
                WHERE CAST(o AS DOUBLE) / (sa.sz + sb.sz - o) >= 0.8)
         SELECT CAST(floor(jaccard * 20) AS BIGINT) AS bucket,
                CAST(count(*) AS BIGINT) AS n_pairs,
                CAST(floor(jaccard * 20) AS BIGINT) / 20.0 AS lo
         FROM pj GROUP BY floor(jaccard * 20)""")
}
