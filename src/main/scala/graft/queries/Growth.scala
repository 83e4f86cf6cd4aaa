package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Round-11 batch six: growth and ranking-quality metrics — nDCG@10 +
  * MRR (the retrieval-eval pair missing from the AUC/PR family),
  * cohort LTV curves, week-over-week growth, and Holt double-
  * exponential smoothing computed as a single in-plan fold.
  *
  * Exactness: per-position DCG terms round to 9 dp and sum as
  * DECIMAL (t10 discipline); LTV/growth keep money DECIMAL to the
  * last cast; Holt uses α=β=1/2 so every smoothing product is an
  * IEEE exponent shift and the sequential fold (Spark `aggregate`
  * HOF ≡ DuckDB recursive CTE, identical expression trees) is
  * engine-exact with no rounding framework at all.
  */
object Growth extends QueryModule {

  // ---- ndcg1: nDCG@10 + MRR -------------------------------------------

  /** Ranking quality of the per-user value-ordered event list against
    * purchase relevance: corpus-mean nDCG@10 and MRR. Ranks come from
    * per-user windows (parallel across the key); DCG/IDCG/RR terms
    * are 9-dp DECIMAL summands, the per-user division happens on
    * identical doubles, per-user scores re-round to 9 dp, and the
    * corpus mean divides one exact DECIMAL sum — no float
    * accumulation anywhere. Users with no purchase are excluded
    * (IDCG undefined), their count reported.
    */
  def ndcg1RankingMetrics(s: SparkSession, d: String): DataFrame = {
    val ranked = Tables.events(s, d)
      .select(col("user_id"), col("event_id"),
        (col("event_type") === "purchase").cast("int").as("rel"),
        col("value"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("user_id"))
          .orderBy(col("value").desc, col("event_id"))))
    val l2 = log(lit(2.0))
    val perUser = ranked.groupBy(col("user_id"))
      .agg(
        sum(when(col("rank") <= 10 && col("rel") === 1,
          round(lit(1.0) / (log(col("rank") + 1) / l2), 9)
            .cast("decimal(18,9)")).otherwise(lit(0).cast("decimal(18,9)")))
          .as("dcg"),
        sum(col("rel").cast("long")).as("n_rel"),
        min(when(col("rel") === 1, col("rank"))).as("first_rel"))
      .filter(col("n_rel") > 0)
    // IDCG@10 depends only on min(n_rel, 10): a 10-row broadcast table
    val ideal = s.range(1, 11).toDF("k")
      .withColumn("idcg", sum(round(lit(1.0) /
        (log(col("k") + 1) / l2), 9).cast("decimal(18,9)"))
        .over(Window.orderBy(col("k"))
          .rowsBetween(Window.unboundedPreceding, 0)))
    val scored = perUser
      .join(broadcast(ideal),
        least(col("n_rel"), lit(10L)) === col("k"))
      .select(
        round(col("dcg").cast("double") / col("idcg").cast("double"), 9)
          .cast("decimal(18,9)").as("ndcg"),
        round(lit(1.0) / col("first_rel"), 9).cast("decimal(18,9)")
          .as("rr"))
    scored.agg(count(lit(1)).as("n_users"),
      round(sum(col("ndcg")).cast("double") / count(lit(1)), 6)
        .as("ndcg10_6"),
      round(sum(col("rr")).cast("double") / count(lit(1)), 6)
        .as("mrr6"))
  }

  // ---- ltv1: cohort LTV curve -----------------------------------------

  /** Cohort lifetime-value curve: users cohorted by first-seen week,
    * purchase revenue accumulated by week-age, divided by cohort
    * size — cumulative revenue per user, the retention economics
    * chart. Two aggregates collapse the stream; the cumulative
    * window runs per cohort on the cohort×age AGGREGATE.
    */
  def ltv1CohortLtv(s: SparkSession, d: String): DataFrame = {
    val weekOf = (c: org.apache.spark.sql.Column) =>
      floor(datediff(to_date(c), lit("2023-12-31").cast("date")) / 7)
        .cast("int")
    val ev = Tables.events(s, d).select(col("user_id"), col("ts"),
      col("event_type"), col("value"))
    val cohort = ev.groupBy(col("user_id"))
      .agg(min(weekOf(col("ts"))).as("cohort_week"))
    val sizes = cohort.groupBy(col("cohort_week"))
      .agg(count(lit(1)).as("cohort_users"))
    val rev = ev.filter(col("event_type") === "purchase")
      .join(cohort, "user_id")
      .groupBy(col("cohort_week"),
        (weekOf(col("ts")) - col("cohort_week")).as("age_week"))
      .agg(sum(col("value").cast("decimal(18,2)")).as("rev"))
    val w = Window.partitionBy(col("cohort_week")).orderBy(col("age_week"))
      .rowsBetween(Window.unboundedPreceding, 0)
    rev.withColumn("cum", sum(col("rev")).over(w))
      .join(broadcast(sizes), "cohort_week")
      .select(col("cohort_week"), col("age_week"), col("cohort_users"),
        round(col("cum").cast("double") / col("cohort_users"), 6)
          .as("ltv_per_user6"))
  }

  // ---- wow1: week-over-week growth ------------------------------------

  /** Week-over-week purchase revenue growth: weekly DECIMAL rollup,
    * lag window on the ~5-row week AGGREGATE, (cur − prev)/prev.
    */
  def wow1WeeklyGrowth(s: SparkSession, d: String): DataFrame = {
    val weekly = Tables.events(s, d)
      .filter(col("event_type") === "purchase")
      .groupBy(floor(datediff(to_date(col("ts")),
        lit("2023-12-31").cast("date")) / 7).cast("int").as("week"))
      .agg(sum(col("value").cast("decimal(18,2)")).as("rev"))
    val prev = lag(col("rev"), 1).over(Window.orderBy(col("week")))
    weekly.select(col("week"),
      round(col("rev").cast("double"), 2).as("rev2"),
      round((col("rev") - prev).cast("double") /
        prev.cast("double"), 6).as("growth6"))
  }

  // ---- hol1: Holt double-exponential smoothing ------------------------

  /** Holt's linear-trend smoothing of daily revenue with α=β=1/2:
    * l ← (y + (l+b))/2, b ← (b + (l'−l))/2, folded over the ordered
    * day array IN-PLAN via the `aggregate` HOF with a struct
    * accumulator (the oracle replays the identical expression tree
    * through a recursive CTE). Dyadic α makes every product an IEEE
    * exponent shift — the fold is bit-exact across engines with NO
    * rounding discipline. Output: final level/trend + the one-step
    * forecast. The stream collapses to ~30 day rows first; the fold
    * is O(days) on one row.
    */
  def hol1HoltSmoothing(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.events(s, d)
      .filter(col("event_type") === "purchase")
      .groupBy(to_date(col("ts")).as("day"))
      .agg(sum(col("value").cast("decimal(18,2)")).cast("double").as("y"))
    val arr = daily.agg(sort_array(collect_list(struct(col("day"),
      col("y")))).as("sd"))
      .select(expr("transform(sd, x -> x.y)").as("ys"))
    arr.select(size(col("ys")).as("n_days"), expr(
      """aggregate(
           slice(ys, 3, greatest(size(ys) - 2, 0)),
           named_struct('l', ys[0], 'b', ys[1] - ys[0]),
           (acc, x) -> named_struct(
             'l', 0.5D * x + 0.5D * (acc.l + acc.b),
             'b', 0.5D * acc.b +
                  0.5D * ((0.5D * x + 0.5D * (acc.l + acc.b)) - acc.l)),
           acc -> acc)""").as("st"))
      .select(col("n_days"),
        round(col("st.l"), 6).as("level6"),
        round(col("st.b"), 6).as("trend6"),
        round(col("st.l") + col("st.b"), 6).as("forecast6"))
  }

  // ---- registry ------------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ndcg1_ranking_metrics" -> (ndcg1RankingMetrics _),
    "ltv1_cohort_ltv" -> (ltv1CohortLtv _),
    "wow1_weekly_growth" -> (wow1WeeklyGrowth _),
    "hol1_holt_smoothing" -> (hol1HoltSmoothing _))

  val oracles: Map[String, String] = Map(
    "ndcg1_ranking_metrics" ->
      """WITH ranked AS (
           SELECT user_id,
                  CAST(event_type = 'purchase' AS INT) AS rel,
                  row_number() OVER (PARTITION BY user_id
                    ORDER BY value DESC, event_id) AS rank
           FROM events),
         pu AS (SELECT user_id,
                  sum(CASE WHEN rank <= 10 AND rel = 1 THEN
                    CAST(round(1.0 / (ln(rank + 1) / ln(2.0)), 9)
                      AS DECIMAL(18,9))
                    ELSE CAST(0 AS DECIMAL(18,9)) END) AS dcg,
                  CAST(sum(rel) AS BIGINT) AS n_rel,
                  min(CASE WHEN rel = 1 THEN rank END) AS first_rel
                FROM ranked GROUP BY 1 HAVING sum(rel) > 0),
         ideal AS (
           SELECT k, sum(CAST(round(1.0 / (ln(k + 1) / ln(2.0)), 9)
                    AS DECIMAL(18,9)))
                  OVER (ORDER BY k ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) AS idcg
           FROM (SELECT unnest(generate_series(1, 10)) AS k)),
         scored AS (
           SELECT CAST(round(CAST(dcg AS DOUBLE) /
                    CAST(idcg AS DOUBLE), 9) AS DECIMAL(18,9)) AS ndcg,
                  CAST(round(1.0 / CAST(first_rel AS DOUBLE), 9)
                    AS DECIMAL(18,9)) AS rr
           FROM pu JOIN ideal
             ON least(n_rel, 10) = ideal.k)
         SELECT count(*) AS n_users,
                round(CAST(sum(ndcg) AS DOUBLE) / count(*), 6)
                  AS ndcg10_6,
                round(CAST(sum(rr) AS DOUBLE) / count(*), 6) AS mrr6
         FROM scored""",
    "ltv1_cohort_ltv" ->
      """WITH ev AS (
           SELECT user_id, value, event_type,
                  CAST(FLOOR(datediff('day', DATE '2023-12-31',
                    CAST(ts AS DATE)) / 7.0) AS INT) AS wk
           FROM events),
         cohort AS MATERIALIZED (
           SELECT user_id, min(wk) AS cohort_week FROM ev GROUP BY 1),
         sizes AS (SELECT cohort_week, count(*) AS cohort_users
                   FROM cohort GROUP BY 1),
         rev AS (SELECT cohort_week, wk - cohort_week AS age_week,
                  sum(CAST(value AS DECIMAL(18,2))) AS rev
                 FROM ev JOIN cohort USING (user_id)
                 WHERE event_type = 'purchase' GROUP BY 1, 2),
         cum AS (SELECT cohort_week, age_week,
                  sum(rev) OVER (PARTITION BY cohort_week ORDER BY age_week
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS cum
                 FROM rev)
         SELECT cohort_week, age_week, cohort_users,
                round(CAST(cum AS DOUBLE) / cohort_users, 6)
                  AS ltv_per_user6
         FROM cum JOIN sizes USING (cohort_week)""",
    "wow1_weekly_growth" ->
      """WITH weekly AS (
           SELECT CAST(FLOOR(datediff('day', DATE '2023-12-31',
                    CAST(ts AS DATE)) / 7.0) AS INT) AS week,
                  sum(CAST(value AS DECIMAL(18,2))) AS rev
           FROM events WHERE event_type = 'purchase' GROUP BY 1)
         SELECT week, round(CAST(rev AS DOUBLE), 2) AS rev2,
                round(CAST(rev - lag(rev, 1) OVER (ORDER BY week)
                        AS DOUBLE) /
                      CAST(lag(rev, 1) OVER (ORDER BY week) AS DOUBLE), 6)
                  AS growth6
         FROM weekly""",
    "hol1_holt_smoothing" ->
      """WITH RECURSIVE daily AS MATERIALIZED (
           SELECT CAST(ts AS DATE) AS day,
                  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS y
           FROM events WHERE event_type = 'purchase' GROUP BY 1),
         idx AS MATERIALIZED (
           SELECT row_number() OVER (ORDER BY day) AS i, y FROM daily),
         n AS (SELECT count(*) AS c FROM idx),
         rec AS (
           SELECT 2 AS t,
                  (SELECT y FROM idx WHERE i = 1) AS l,
                  (SELECT y FROM idx WHERE i = 2) -
                  (SELECT y FROM idx WHERE i = 1) AS b
           UNION ALL
           SELECT t + 1,
                  0.5 * d.y + 0.5 * (l + b),
                  0.5 * b + 0.5 * ((0.5 * d.y + 0.5 * (l + b)) - l)
           FROM rec JOIN idx d ON d.i = t + 1
           WHERE t < (SELECT c FROM n))
         SELECT CAST((SELECT c FROM n) AS INT) AS n_days,
                round(l, 6) AS level6, round(b, 6) AS trend6,
                round(l + b, 6) AS forecast6
         FROM rec WHERE t = (SELECT c FROM n)""")
}
