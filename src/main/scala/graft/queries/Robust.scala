package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Round-12 batch five: observational-causal and uncertainty
  * operators — nearest-neighbor propensity matching (banded, never
  * quadratic), stratified ATE over propensity bins, and split
  * conformal prediction intervals. Complements the experimental
  * estimators in [[Causal]] (did1/surv1/ucb1): these are the
  * no-randomization counterparts.
  */
object Robust extends QueryModule {

  /** Nearest-control-within-caliper matching (with replacement): for
    * each treated row, the control with minimal |score diff| <=
    * caliper, ties by control id. The banded equi-join (floor(score /
    * caliper), probe bands -1..1) provably contains every
    * within-caliper candidate — the 1-D analogue of Geo's grid — so
    * no cross join exists at any scale; the per-treated argmin is a
    * partial-aggregable struct-min, not a window.
    */
  private[graft] def nearestWithinCaliper(treated: DataFrame,
      controls: DataFrame, caliper: Double): DataFrame = {
    val probes = treated
      .select(col("id").as("id_t"), col("score").as("score_t"),
        col("y").as("y_t"),
        explode(array(Seq(-1, 0, 1).map(db =>
          floor(col("score") / caliper) + db): _*)).as("band"))
    probes
      .join(controls.select(col("id").as("id_c"),
        col("score").as("score_c"), col("y").as("y_c"),
        floor(col("score") / caliper).as("band")), Seq("band"))
      .withColumn("adiff", abs(col("score_t") - col("score_c")))
      .filter(col("adiff") <= caliper)
      .groupBy(col("id_t"), col("score_t"), col("y_t"))
      .agg(min(struct(col("adiff"), col("id_c"), col("y_c")))
        .as("best"))
      .select(col("id_t"), col("score_t"), col("y_t"),
        col("best.adiff").as("adiff"), col("best.id_c").as("id_c"),
        col("best.y_c").as("y_c"))
  }

  private def customersWithOutcome(s: SparkSession,
      d: String): DataFrame =
    Tables.customer(s, d)
      .join(Tables.orders(s, d).groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders")),
        col("c_custkey") === col("o_custkey"), "left")
      .select(col("c_custkey").as("id"), col("c_mktsegment"),
        col("c_acctbal").as("score"),
        coalesce(col("n_orders"), lit(0L)).as("y"))

  /** psm1: ATT of the BUILDING segment on order count, matching each
    * BUILDING customer to its nearest non-BUILDING customer by
    * account balance (caliper 100). One summary row: counts, ATT,
    * mean match distance.
    */
  def psm1PropensityMatch(s: SparkSession, d: String): DataFrame = {
    val base = customersWithOutcome(s, d)
    val treated = base.filter(col("c_mktsegment") === "BUILDING")
    val controls = base.filter(col("c_mktsegment") =!= "BUILDING")
    val matched = nearestWithinCaliper(treated, controls, 100.0)
    treated.agg(count(lit(1)).as("n_treated")).crossJoin(
      matched.agg(count(lit(1)).as("n_matched"),
        round(avg(col("y_t") - col("y_c")), 6).as("att6"),
        round(avg(col("adiff")), 6).as("avg_match_dist6")))
      .select(col("n_treated"), col("n_matched"), col("att6"),
        col("avg_match_dist6"))
  }

  /** ate1: stratified ATE — balance-decile bins as the (binned)
    * propensity strata; per stratum the treated/control mean outcome
    * gap. IPW with a binned propensity IS stratification, so this is
    * the estimator's exact per-stratum decomposition.
    *
    * Scale note: exact NTILE semantics are kept for oracle
    * bit-equality, but the assignment runs the distributed rank
    * kernel (no single-task sort); an approx-quantile sketch
    * (`a15_percentiles`/kll1 machinery) with broadcast edges remains
    * the cheaper alternative when exactness isn't contractual.
    */
  def ate1StratifiedAte(s: SparkSession, d: String): DataFrame = {
    val base = customersWithOutcome(s, d)
      .withColumn("t",
        (col("c_mktsegment") === "BUILDING").cast("int"))
    // exact-NTILE deciles via the distributed rank kernel: the score
    // domain is per-CUSTOMER (row-scaling), so a global ntile window
    // would single-task-sort it at 100x — bucket assignment is
    // bit-identical to ntile(10) (GlobalRankSpec)
    val binned = graft.ops.GlobalRank.prefixScan(base,
        Seq(col("score"), col("id")), Nil, rankCol = Some("__i"))
      .crossJoin(broadcast(base.agg(count(lit(1)).as("__n"))))
      .withColumn("bin",
        graft.ops.GlobalRank.ntileFromRank(col("__i"), col("__n"), 10))
    binned.groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        sum(col("t")).cast("long").as("n_treated"),
        round(sum(col("t")).cast("double") / count(lit(1)), 6)
          .as("p6"),
        round(avg(when(col("t") === 1, col("y").cast("double"))), 6)
          .as("yt_mean6"),
        round(avg(when(col("t") === 0, col("y").cast("double"))), 6)
          .as("yc_mean6"))
      .withColumn("gap6",
        round(col("yt_mean6") - col("yc_mean6"), 6))
  }

  /** conf1: split conformal prediction per market segment — orders
    * split by key parity into calibration/test, the per-segment
    * calibration-mean predictor, the ceil(0.9(n+1))-th absolute
    * residual as the interval half-width (integer-arithmetic rank, no
    * float ceil), and the measured test coverage (>= 90% by the
    * conformal guarantee, up to finite-sample noise). Broadcast
    * per-segment stats; the only wide ops are the segment aggregate
    * and the rank window inside each segment's calibration slice.
    */
  def conf1SplitConformal(s: SparkSession, d: String): DataFrame = {
    val ords = Tables.orders(s, d)
      .join(broadcast(Tables.customer(s, d)
        .select(col("c_custkey"), col("c_mktsegment").as("segment"))),
        col("o_custkey") === col("c_custkey"))
      .select(col("segment"), col("o_orderkey"),
        col("o_totalprice").cast("decimal(18,2)").as("v"),
        (pmod(col("o_orderkey"), lit(2L)) === 0).as("cal"))
    val stats = ords.filter(col("cal"))
      .groupBy(col("segment"))
      .agg(count(lit(1)).as("n_cal"),
        round(sum(col("v")).cast("double") / count(lit(1)), 6)
          .as("yhat"))
    val withR = ords.join(broadcast(stats), Seq("segment"))
      .withColumn("r",
        round(abs(col("v").cast("double") - col("yhat")), 6))
    val wRank = Window.partitionBy(col("segment"))
      .orderBy(col("r"), col("o_orderkey"))
    val qhat = withR.filter(col("cal"))
      .withColumn("rn", row_number().over(wRank))
      .filter(col("rn") === expr("(n_cal * 9 + 18) div 10"))
      .select(col("segment"), col("r").as("qhat"))
    withR.filter(!col("cal"))
      .join(broadcast(qhat), Seq("segment"))
      .groupBy(col("segment"))
      .agg(count(lit(1)).as("n_test"),
        first(col("n_cal")).as("n_cal"),
        round(first(col("yhat")), 6).as("yhat6"),
        round(first(col("qhat")), 6).as("qhat6"),
        round(avg(when(col("r") <= col("qhat"), 1.0).otherwise(0.0)),
          6).as("cov6"))
      .select(col("segment"), col("n_cal"), col("n_test"),
        col("yhat6"), col("qhat6"), col("cov6"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "psm1_propensity_match" -> (psm1PropensityMatch _),
    "ate1_stratified" -> (ate1StratifiedAte _),
    "conf1_split_conformal" -> (conf1SplitConformal _))

  private val custCte =
    """base AS MATERIALIZED (
         SELECT c_custkey AS id, c_mktsegment, c_acctbal AS score,
                coalesce(o.n_orders, 0) AS y
         FROM customer
         LEFT JOIN (SELECT o_custkey, CAST(count(*) AS BIGINT)
                      AS n_orders
                    FROM orders GROUP BY 1) o
           ON c_custkey = o.o_custkey)"""

  val oracles: Map[String, String] = Map(
    // oracle: NAIVE quadratic nearest-within-caliper (no bands) —
    // verifies the banded candidate join loses nothing
    "psm1_propensity_match" ->
      s"""WITH $custCte,
         t AS (SELECT * FROM base WHERE c_mktsegment = 'BUILDING'),
         c AS (SELECT * FROM base WHERE c_mktsegment <> 'BUILDING'),
         cand AS (
           SELECT t.id AS id_t, t.y AS y_t, c.id AS id_c, c.y AS y_c,
                  abs(t.score - c.score) AS adiff,
                  row_number() OVER (PARTITION BY t.id
                    ORDER BY abs(t.score - c.score), c.id) AS rn
           FROM t JOIN c ON abs(t.score - c.score) <= 100.0),
         m AS (SELECT * FROM cand WHERE rn = 1)
         SELECT (SELECT CAST(count(*) AS BIGINT) FROM t) AS n_treated,
                CAST(count(*) AS BIGINT) AS n_matched,
                round(avg(y_t - y_c), 6) AS att6,
                round(avg(adiff), 6) AS avg_match_dist6
         FROM m""",
    "ate1_stratified" ->
      s"""WITH $custCte,
         binned AS MATERIALIZED (
           SELECT *, CASE WHEN c_mktsegment = 'BUILDING'
                          THEN 1 ELSE 0 END AS t,
                  ntile(10) OVER (ORDER BY score, id) AS bin
           FROM base)
         SELECT bin, CAST(count(*) AS BIGINT) AS n,
                CAST(sum(t) AS BIGINT) AS n_treated,
                round(CAST(sum(t) AS DOUBLE) / count(*), 6) AS p6,
                round(avg(CASE WHEN t = 1
                  THEN CAST(y AS DOUBLE) END), 6) AS yt_mean6,
                round(avg(CASE WHEN t = 0
                  THEN CAST(y AS DOUBLE) END), 6) AS yc_mean6,
                round(round(avg(CASE WHEN t = 1
                    THEN CAST(y AS DOUBLE) END), 6) -
                  round(avg(CASE WHEN t = 0
                    THEN CAST(y AS DOUBLE) END), 6), 6) AS gap6
         FROM binned GROUP BY 1""",
    "conf1_split_conformal" ->
      """WITH ords AS MATERIALIZED (
           SELECT c_mktsegment AS segment, o_orderkey,
                  CAST(o_totalprice AS DECIMAL(18,2)) AS v,
                  o_orderkey % 2 = 0 AS cal
           FROM orders JOIN customer ON o_custkey = c_custkey),
         stats AS MATERIALIZED (
           SELECT segment, CAST(count(*) AS BIGINT) AS n_cal,
                  round(CAST(sum(v) AS DOUBLE) / count(*), 6) AS yhat
           FROM ords WHERE cal GROUP BY 1),
         withr AS MATERIALIZED (
           SELECT o.*, s.n_cal, s.yhat,
                  round(abs(CAST(v AS DOUBLE) - yhat), 6) AS r
           FROM ords o JOIN stats s USING (segment)),
         qhat AS (
           SELECT segment, r AS qhat FROM (
             SELECT segment, r, n_cal,
                    row_number() OVER (PARTITION BY segment
                      ORDER BY r, o_orderkey) AS rn
             FROM withr WHERE cal)
           WHERE rn = (n_cal * 9 + 18) // 10)
         SELECT segment, max(n_cal) AS n_cal,
                CAST(count(*) AS BIGINT) AS n_test,
                round(max(yhat), 6) AS yhat6,
                round(max(qhat), 6) AS qhat6,
                round(avg(CASE WHEN r <= qhat
                  THEN 1.0 ELSE 0.0 END), 6) AS cov6
         FROM withr JOIN qhat USING (segment)
         WHERE NOT cal
         GROUP BY 1""")
}
