package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Round-12 batch eight: experimentation operators — the A/B-test
  * toolkit around the existing ab1/tt1/perm1 estimators: sequential
  * probability-ratio monitoring (peek-safe early stopping), CUPED
  * variance reduction (pre-period covariate adjustment), and the
  * sample-ratio-mismatch health check every experiment must pass
  * before its metrics mean anything.
  */
object Exp extends QueryModule {

  /** Deterministic arm assignment: knuth hash of the user id, mod 2
    * (the spl1 portable-split idiom).
    */
  private def arm(user: org.apache.spark.sql.Column) =
    pmod(user * lit(2654435761L) + lit(23L), lit(4294967296L))
      .mod(2).cast("int")

  /** sprt1: Wald SPRT trace over the daily revenue series — daily
    * Bernoulli "revenue above 3000" scored against H1 p=0.55 vs H0
    * p=0.5; cumulative log-likelihood ratio with the (ln 19, -ln 19)
    * boundaries (alpha=beta=0.05). Per-day LLR terms are 6-dp
    * DECIMAL (ln is the only transcendental; both engines agree to
    * <= 1 ulp, crushed by the rounding), so the cumulative trace and
    * crossing days are exact. Day-bounded windows only.
    */
  def sprt1SequentialLlr(s: SparkSession, d: String): DataFrame = {
    val lnWin = math.log(0.55 / 0.5)
    val lnLoss = math.log(0.45 / 0.5)
    val bound = math.log(19.0)
    val daily = Tables.events(s, d)
      .filter(col("event_type") === "purchase")
      .groupBy(to_date(col("ts")).as("day"))
      .agg((sum(col("value").cast("decimal(18,2)")) > 3000.0)
        .cast("int").as("x"))
      .withColumn("term",
        when(col("x") === 1, round(lit(lnWin), 6))
          .otherwise(round(lit(lnLoss), 6)).cast("decimal(18,6)"))
    val wCum = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, 0)
    daily
      .withColumn("llr", sum(col("term")).over(wCum))
      .select(col("day"), col("x"),
        col("llr").cast("double").as("llr6"),
        when(col("llr") >= bound, "accept_h1")
          .when(col("llr") <= -bound, "accept_h0")
          .otherwise("continue").as("decision"))
  }

  /** cuped1: CUPED-adjusted experiment readout — per-user pre-period
    * (days 1-15) spend is the covariate for the post-period metric;
    * theta = cov(post, pre)/var(pre) from exact DECIMAL moments over
    * ALL users (arm-blind, as CUPED requires), adjusted metric
    * y - theta (x - xbar). Per arm: the raw and adjusted means and
    * variances — the read is the variance shrink at an unmoved mean.
    */
  def cuped1VarianceReduction(s: SparkSession, d: String): DataFrame = {
    val users = Tables.events(s, d)
      .filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(
        sum(when(dayofmonth(col("ts")) <= 15,
          col("value").cast("decimal(18,2)"))
          .otherwise(lit(0).cast("decimal(18,2)"))).as("pre"),
        sum(when(dayofmonth(col("ts")) > 15,
          col("value").cast("decimal(18,2)"))
          .otherwise(lit(0).cast("decimal(18,2)"))).as("post"))
      // recast the sums: keeps every later product inside DECIMAL(38,_)
      .select(col("user_id"), col("pre").cast("decimal(18,2)").as("pre"),
        col("post").cast("decimal(18,2)").as("post"))
      .withColumn("arm", arm(col("user_id")))
      .localCheckpoint(true) // bounded: one row per user
    val m = users.agg(count(lit(1)).as("n"),
      sum(col("pre")).cast("double").as("sp"),
      sum(col("post")).cast("double").as("sy"),
      sum((col("pre") * col("pre")).cast("decimal(28,4)"))
        .cast("double").as("spp"),
      sum((col("pre") * col("post")).cast("decimal(28,4)"))
        .cast("double").as("spy"))
      .select(col("n"),
        round(col("sp") / col("n"), 9).as("xbar"),
        round((col("n") * col("spy") - col("sp") * col("sy")) /
          (col("n") * col("spp") - col("sp") * col("sp")), 9)
          .as("theta"))
    users.crossJoin(broadcast(m))
      .withColumn("adj", round(col("post").cast("double") -
        col("theta") * (col("pre").cast("double") - col("xbar")), 6))
      .groupBy(col("arm"))
      .agg(count(lit(1)).as("n_users"),
        round(sum(col("post")).cast("double") / count(lit(1)), 6)
          .as("mean_post6"),
        round(sum(col("adj").cast("decimal(18,6)")).cast("double") /
          count(lit(1)), 6).as("mean_adj6"),
        round(
          (sum((col("post") * col("post")).cast("decimal(28,4)"))
            .cast("double") -
            sum(col("post")).cast("double") *
            sum(col("post")).cast("double") / count(lit(1))) /
          (count(lit(1)) - 1), 4).as("var_post4"),
        round(
          (sum((col("adj") * col("adj")).cast("decimal(28,6)"))
            .cast("double") -
            sum(col("adj").cast("decimal(18,6)")).cast("double") *
            sum(col("adj").cast("decimal(18,6)")).cast("double") /
            count(lit(1))) / (count(lit(1)) - 1), 4).as("var_adj4"))
  }

  /** srm1: sample-ratio-mismatch check — distinct users per arm vs
    * the designed 50/50 split, one-df chi-square with the 3.841
    * critical value. One distinct-user aggregate.
    */
  def srm1SampleRatio(s: SparkSession, d: String): DataFrame = {
    val counts = Tables.events(s, d)
      .select(col("user_id")).distinct()
      .groupBy(arm(col("user_id")).as("arm"))
      .agg(count(lit(1)).as("n"))
    val tot = counts.agg(sum(col("n")).as("tot"))
    counts.crossJoin(broadcast(tot))
      .groupBy()
      .agg(max(when(col("arm") === 0, col("n"))).as("n_a"),
        max(when(col("arm") === 1, col("n"))).as("n_b"),
        max(col("tot")).as("n"))
      .select(col("n_a"), col("n_b"),
        round(
          pow(col("n_a") - col("n").cast("double") / 2, 2) /
            (col("n").cast("double") / 2) +
          pow(col("n_b") - col("n").cast("double") / 2, 2) /
            (col("n").cast("double") / 2), 6).as("chi2_6"))
      .withColumn("srm_flag", (col("chi2_6") > 3.841).cast("int"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sprt1_sequential_llr" -> (sprt1SequentialLlr _),
    "cuped1_variance_reduction" -> (cuped1VarianceReduction _),
    "srm1_sample_ratio" -> (srm1SampleRatio _))

  val oracles: Map[String, String] = Map(
    "sprt1_sequential_llr" ->
      """WITH daily AS MATERIALIZED (
           SELECT CAST(ts AS DATE) AS day,
                  CASE WHEN sum(CAST(value AS DECIMAL(18,2))) > 3000.0
                       THEN 1 ELSE 0 END AS x
           FROM events WHERE event_type = 'purchase' GROUP BY 1),
         terms AS (
           SELECT day, x,
                  CAST(CASE WHEN x = 1 THEN round(ln(0.55 / 0.5), 6)
                       ELSE round(ln(0.45 / 0.5), 6) END
                    AS DECIMAL(18,6)) AS term
           FROM daily),
         cum AS (
           SELECT day, x, sum(term) OVER (ORDER BY day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS llr
           FROM terms)
         SELECT day, x, CAST(llr AS DOUBLE) AS llr6,
                CASE WHEN llr >= ln(19.0) THEN 'accept_h1'
                     WHEN llr <= -ln(19.0) THEN 'accept_h0'
                     ELSE 'continue' END AS decision
         FROM cum""",
    "cuped1_variance_reduction" ->
      """WITH users AS MATERIALIZED (
           SELECT user_id,
                  CAST(sum(CASE WHEN CAST(day(ts) AS INT) <= 15
                      THEN CAST(value AS DECIMAL(18,2))
                      ELSE CAST(0 AS DECIMAL(18,2)) END)
                    AS DECIMAL(18,2)) AS pre,
                  CAST(sum(CASE WHEN CAST(day(ts) AS INT) > 15
                      THEN CAST(value AS DECIMAL(18,2))
                      ELSE CAST(0 AS DECIMAL(18,2)) END)
                    AS DECIMAL(18,2)) AS post,
                  CAST((user_id * 2654435761 + 23) % 4294967296 % 2
                    AS INT) AS arm
           FROM events WHERE event_type = 'purchase' GROUP BY 1),
         m AS MATERIALIZED (
           SELECT CAST(count(*) AS BIGINT) AS n,
                  round(CAST(sum(pre) AS DOUBLE) / count(*), 9)
                    AS xbar,
                  round((count(*) * CAST(sum(CAST(pre * post
                      AS DECIMAL(28,4))) AS DOUBLE) -
                      CAST(sum(pre) AS DOUBLE) *
                      CAST(sum(post) AS DOUBLE)) /
                    (count(*) * CAST(sum(CAST(pre * pre
                      AS DECIMAL(28,4))) AS DOUBLE) -
                      CAST(sum(pre) AS DOUBLE) *
                      CAST(sum(pre) AS DOUBLE)), 9) AS theta
           FROM users),
         adj AS (
           SELECT arm, pre, post,
                  round(CAST(post AS DOUBLE) -
                    theta * (CAST(pre AS DOUBLE) - xbar), 6) AS adj
           FROM users, m)
         SELECT arm, CAST(count(*) AS BIGINT) AS n_users,
                round(CAST(sum(post) AS DOUBLE) / count(*), 6)
                  AS mean_post6,
                round(CAST(sum(CAST(adj AS DECIMAL(18,6))) AS DOUBLE)
                  / count(*), 6) AS mean_adj6,
                round((CAST(sum(CAST(post * post AS DECIMAL(28,4)))
                    AS DOUBLE) -
                    CAST(sum(post) AS DOUBLE) *
                    CAST(sum(post) AS DOUBLE) / count(*)) /
                  (count(*) - 1), 4) AS var_post4,
                round((CAST(sum(CAST(adj * adj AS DECIMAL(28,6)))
                    AS DOUBLE) -
                    CAST(sum(CAST(adj AS DECIMAL(18,6))) AS DOUBLE) *
                    CAST(sum(CAST(adj AS DECIMAL(18,6))) AS DOUBLE) /
                    count(*)) / (count(*) - 1), 4) AS var_adj4
         FROM adj GROUP BY 1""",
    "srm1_sample_ratio" ->
      """WITH u AS (SELECT DISTINCT user_id FROM events),
         counts AS (
           SELECT CAST((user_id * 2654435761 + 23) % 4294967296 % 2
                    AS INT) AS arm,
                  CAST(count(*) AS BIGINT) AS n
           FROM u GROUP BY 1),
         agg AS (
           SELECT max(CASE WHEN arm = 0 THEN n END) AS n_a,
                  max(CASE WHEN arm = 1 THEN n END) AS n_b,
                  CAST(sum(n) AS BIGINT) AS n
           FROM counts)
         SELECT n_a, n_b,
                round((n_a - CAST(n AS DOUBLE) / 2) ^ 2 /
                    (CAST(n AS DOUBLE) / 2) +
                  (n_b - CAST(n AS DOUBLE) / 2) ^ 2 /
                    (CAST(n AS DOUBLE) / 2), 6) AS chi2_6,
                CASE WHEN round((n_a - CAST(n AS DOUBLE) / 2) ^ 2 /
                    (CAST(n AS DOUBLE) / 2) +
                  (n_b - CAST(n AS DOUBLE) / 2) ^ 2 /
                    (CAST(n AS DOUBLE) / 2), 6) > 3.841
                  THEN 1 ELSE 0 END AS srm_flag
         FROM agg""")
}
