package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Round-10 batch six: causal-inference and decision primitives —
  * difference-in-differences (the workhorse quasi-experimental
  * estimator), the Kaplan-Meier survival curve with right-censoring
  * (time-to-conversion analysis), and offline UCB1 arm scores (the
  * exploration bonus computed over logged data).
  *
  * Exactness: did1 is four exact-DECIMAL cell means and three
  * subtractions in fixed order; surv1 follows the t10 ln discipline
  * (each log term rounded to 9 dp, DECIMAL-cumulated along the
  * deterministic event-time order, one exp at the end); ucb1's only
  * irrational is ln(N) of an integer (<= 1 ulp in both engines,
  * absorbed by round 6).
  */
object Causal extends QueryModule {

  // ---- did1: difference-in-differences --------------------------------

  /** DiD estimate of the "treatment" effect on event value: treatment
    * group = odd user ids, post period = from 2024-01-16. The
    * estimator is (postT − preT) − (postC − preC) over cell means —
    * ONE four-cell aggregate pass; each mean is an exact DECIMAL sum
    * over an integer count, and the three subtractions run in a fixed
    * single-IEEE-op order. Output: the four cell means + the DiD.
    */
  def did1DiffInDiff(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("value"),
        pmod(col("user_id"), lit(2)).cast("int").as("treat"),
        (col("ts") >= expr("TIMESTAMP '2024-01-16 00:00:00'"))
          .cast("int").as("post"))
    def cell(t: Int, p: Int) =
      sum(when(col("treat") === t && col("post") === p, col("value"))
        .otherwise(lit(0.0)).cast("decimal(18,2)")).cast("double") /
        sum(when(col("treat") === t && col("post") === p, 1L)
          .otherwise(0L))
    val agg = ev.agg(
      cell(1, 0).as("pre_t"), cell(1, 1).as("post_t"),
      cell(0, 0).as("pre_c"), cell(0, 1).as("post_c"))
    agg.select(
      round(col("pre_t"), 6).as("pre_treat6"),
      round(col("post_t"), 6).as("post_treat6"),
      round(col("pre_c"), 6).as("pre_ctrl6"),
      round(col("post_c"), 6).as("post_ctrl6"),
      round((col("post_t") - col("pre_t")) -
        (col("post_c") - col("pre_c")), 6).as("did6"))
  }

  // ---- surv1: Kaplan-Meier time-to-purchase ---------------------------

  /** Kaplan-Meier survival curve for time-to-first-purchase: each
    * user's duration is days from their first event to their first
    * purchase; users who never purchase are right-CENSORED at
    * 2024-01-31. S(t) = Π_{t_i <= t} (1 − d_i/n_i) over distinct
    * death days. Shape: two per-user aggregates collapse the stream,
    * the risk-set scan runs on the ~30-row day aggregate (ks1
    * discipline), and the cumulative product follows the t10 ln rule:
    * ln(1 − d/n) rounded to 9 dp, summed as DECIMAL along the ordered
    * scan, exponentiated once — so combine order cannot move a digit.
    */
  def surv1KaplanMeier(s: SparkSession, d: String): DataFrame = {
    val perUser = Tables.events(s, d)
      .groupBy(col("user_id"))
      .agg(min(to_date(col("ts"))).as("t0"),
        min(when(col("event_type") === "purchase", to_date(col("ts"))))
          .as("tp"))
      .select(col("user_id"),
        when(col("tp").isNotNull, datediff(col("tp"), col("t0")))
          .otherwise(datediff(lit("2024-01-31").cast("date"), col("t0")))
          .cast("long").as("t"),
        col("tp").isNotNull.cast("int").as("death"))
    val byDay = perUser.groupBy("t")
      .agg(sum(col("death").cast("long")).as("d"),
        count(lit(1)).as("leaving"))
    val n = perUser.agg(count(lit(1)).as("n_users"))
    val w = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wCum = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, 0)
    byDay.crossJoin(broadcast(n))
      .withColumn("n_risk",
        col("n_users") - coalesce(sum(col("leaving")).over(w), lit(0L)))
      .filter(col("d") > 0)
      // d == n_risk (every remaining subject converts) sends S to an
      // exact 0 — special-cased, since ln(0) is an error/-inf; it can
      // only occur at the final death time (no one remains at risk)
      .withColumn("lnterm",
        when(col("d") < col("n_risk"),
          round(log(lit(1.0) - col("d").cast("double") /
            col("n_risk").cast("double")), 9).cast("decimal(18,9)")))
      .withColumn("s6",
        when(col("d") === col("n_risk"), lit(0.0))
          .otherwise(round(exp(sum(col("lnterm")).over(wCum)
            .cast("double")), 6)))
      .select(col("t"), col("n_risk"), col("d"), col("s6"))
  }

  // ---- ucb1: offline UCB1 arm scores ----------------------------------

  /** UCB1 scores for the five event-type "arms" over logged data:
    * reward = 1 when value >= 20; ucb = mean + sqrt(2·ln N / n). The
    * score every bandit implementation computes per step, here as one
    * arm-keyed aggregate + a 1-row total broadcast back. best = the
    * argmax arm, ties to the lexicographically smaller name.
    */
  def ucb1BanditScores(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("event_type").as("arm"),
        (col("value") >= 20.0).cast("long").as("r"))
    val arms = ev.groupBy("arm")
      .agg(count(lit(1)).as("n"), sum(col("r")).as("wins"))
    val tot = arms.agg(sum(col("n")).as("big_n"))
    arms.crossJoin(broadcast(tot))
      .withColumn("mean6",
        round(col("wins").cast("double") / col("n").cast("double"), 6))
      .withColumn("ucb6", round(
        col("wins").cast("double") / col("n").cast("double") +
          sqrt(log(col("big_n").cast("double")) * 2 /
            col("n").cast("double")), 6))
      .select(col("arm"), col("n"), col("mean6"), col("ucb6"))
      .withColumn("best", (row_number().over(
        Window.orderBy(col("ucb6").desc, col("arm"))) === 1).cast("int"))
  }

  // ---- registry ------------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "did1_diff_in_diff" -> (did1DiffInDiff _),
    "surv1_kaplan_meier" -> (surv1KaplanMeier _),
    "ucb1_bandit_scores" -> (ucb1BanditScores _))

  val oracles: Map[String, String] = Map(
    "did1_diff_in_diff" ->
      """WITH ev AS (SELECT value,
                  CAST(user_id % 2 AS INT) AS treat,
                  CAST(ts >= TIMESTAMP '2024-01-16 00:00:00' AS INT)
                    AS post
           FROM events),
         agg AS (SELECT
           CAST(sum(CASE WHEN treat = 1 AND post = 0 THEN
             CAST(value AS DECIMAL(18,2)) ELSE 0 END) AS DOUBLE) /
           CAST(sum(CASE WHEN treat = 1 AND post = 0 THEN 1 ELSE 0 END)
             AS BIGINT) AS pre_t,
           CAST(sum(CASE WHEN treat = 1 AND post = 1 THEN
             CAST(value AS DECIMAL(18,2)) ELSE 0 END) AS DOUBLE) /
           CAST(sum(CASE WHEN treat = 1 AND post = 1 THEN 1 ELSE 0 END)
             AS BIGINT) AS post_t,
           CAST(sum(CASE WHEN treat = 0 AND post = 0 THEN
             CAST(value AS DECIMAL(18,2)) ELSE 0 END) AS DOUBLE) /
           CAST(sum(CASE WHEN treat = 0 AND post = 0 THEN 1 ELSE 0 END)
             AS BIGINT) AS pre_c,
           CAST(sum(CASE WHEN treat = 0 AND post = 1 THEN
             CAST(value AS DECIMAL(18,2)) ELSE 0 END) AS DOUBLE) /
           CAST(sum(CASE WHEN treat = 0 AND post = 1 THEN 1 ELSE 0 END)
             AS BIGINT) AS post_c
           FROM ev)
         SELECT round(pre_t, 6) AS pre_treat6,
                round(post_t, 6) AS post_treat6,
                round(pre_c, 6) AS pre_ctrl6,
                round(post_c, 6) AS post_ctrl6,
                round((post_t - pre_t) - (post_c - pre_c), 6) AS did6
         FROM agg""",
    "surv1_kaplan_meier" ->
      """WITH pu AS MATERIALIZED (
           SELECT user_id,
                  CAST(CASE WHEN min(CASE WHEN event_type = 'purchase'
                         THEN CAST(ts AS DATE) END) IS NOT NULL
                    THEN datediff('day', min(CAST(ts AS DATE)),
                         min(CASE WHEN event_type = 'purchase'
                             THEN CAST(ts AS DATE) END))
                    ELSE datediff('day', min(CAST(ts AS DATE)),
                         DATE '2024-01-31') END AS BIGINT) AS t,
                  CAST(min(CASE WHEN event_type = 'purchase'
                       THEN CAST(ts AS DATE) END) IS NOT NULL AS INT)
                    AS death
           FROM events GROUP BY 1),
         byday AS (SELECT t, CAST(sum(death) AS BIGINT) AS d,
                  count(*) AS leaving
                   FROM pu GROUP BY 1),
         n AS (SELECT count(*) AS n_users FROM pu),
         risk AS (SELECT t, d, leaving,
                  n_users - coalesce(sum(leaving) OVER (ORDER BY t
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS n_risk
                  FROM byday, n),
         terms AS (SELECT t, CAST(n_risk AS BIGINT) AS n_risk, d,
                  CASE WHEN d < n_risk THEN
                    CAST(round(ln(1.0 - CAST(d AS DOUBLE) / n_risk), 9)
                         AS DECIMAL(18,9)) END AS lnterm
                   FROM risk WHERE d > 0)
         SELECT t, n_risk, d,
                CASE WHEN d = n_risk THEN 0.0
                     ELSE round(exp(CAST(sum(lnterm) OVER (ORDER BY t
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS DOUBLE)), 6) END AS s6
         FROM terms""",
    "ucb1_bandit_scores" ->
      """WITH arms AS (SELECT event_type AS arm, count(*) AS n,
                  CAST(sum(CASE WHEN value >= 20 THEN 1 ELSE 0 END)
                       AS BIGINT) AS wins
           FROM events GROUP BY 1),
         tot AS (SELECT CAST(sum(n) AS BIGINT) AS big_n FROM arms),
         scored AS (SELECT arm, CAST(n AS BIGINT) AS n,
                  round(CAST(wins AS DOUBLE) / n, 6) AS mean6,
                  round(CAST(wins AS DOUBLE) / n +
                        sqrt(ln(CAST(big_n AS DOUBLE)) * 2 / n), 6)
                    AS ucb6
                  FROM arms, tot)
         SELECT *, CAST(row_number() OVER (ORDER BY ucb6 DESC, arm) = 1
                        AS INT) AS best
         FROM scored""")
}
