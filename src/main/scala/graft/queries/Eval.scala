package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Model-evaluation suite extensions: per-slice ROC AUC (the sliced
  * dual of auc1 — rank-sum machinery under a slice-partitioned
  * window) and the PR/lift curve at decile thresholds (precision,
  * recall, lift, and the F1-optimal flag from one ordered scan).
  * With auc1 (global AUC), cal1 (reliability diagram), and mad1/ks*
  * (drift), this closes the standard offline-eval toolkit.
  *
  * Exactness: both queries are INTEGER until the final rounded
  * divisions — counts, midranks, and thresholds all come from
  * rank-picks on distinct-value aggregates (the auc1/ks1/mad1
  * discipline), never from interpolating percentiles.
  */
object Eval extends QueryModule {

  // ---- auc2: ROC AUC per slice ---------------------------------------

  /** Mann-Whitney AUC of `value` for the purchase label, per
    * day-of-week slice — the "is the model equally good on every
    * segment" audit. Identical integer rank-sum identity as auc1
    * (2·avg_rank = 2·below + cnt + 1 per distinct score), but every
    * window partitions by the slice key, so slices evaluate in
    * parallel with no global ordering anywhere.
    */
  def auc2SlicedAuc(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(dayofweek(col("ts")).cast("long").as("slice"),
        col("value").as("score"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("pos"))
    val byScore = ev.groupBy("slice", "score")
      .agg(count(lit(1)).as("cnt"), sum(col("pos")).as("pos"))
    val w = Window.partitionBy(col("slice")).orderBy(col("score"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = byScore
      .withColumn("below", coalesce(sum(col("cnt")).over(w), lit(0L)))
    ranked.groupBy("slice")
      .agg(sum(col("pos") * (col("below") * 2 + col("cnt") + 1)).as("s2"),
        sum(col("pos")).as("np"),
        sum(col("cnt") - col("pos")).as("nn"))
      .select(col("slice"), col("np").as("n_pos"), col("nn").as("n_neg"),
        round((col("s2") - col("np") * (col("np") + 1)).cast("double") /
          (col("np") * col("nn") * 2).cast("double"), 6).as("auc6"))
  }

  // ---- prc1: PR / lift curve at decile thresholds --------------------

  /** Precision, recall, lift, and the F1-optimal flag at the nine
    * score-decile thresholds, for the rule "predict positive when
    * value >= threshold". Thresholds are rank-picked from the TOP of
    * the distinct-cents aggregate (tie-inclusive: every row at the
    * threshold value is selected); TP / selected counts fall out of
    * the same cumulative scan. lift = precision / base-rate. The
    * F1-optimal row maximizes 2·TP/(selected + n_pos) — compared on
    * the rounded quotient, ties to the smaller decile.
    */
  def prc1PrLiftCurve(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(round(col("value") * 100, 0).cast("long").as("cents"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("pos"))
    val byVal = ev.groupBy("cents")
      .agg(count(lit(1)).as("cnt"), sum(col("pos")).as("posc"))
    // both exclusive cumulatives in ONE distributed prefix pass over
    // the distinct-cents aggregate (cardinality tracks the value
    // domain, which a global window would single-task-sort)
    val ranked = graft.ops.GlobalRank.prefixScan(byVal,
      Seq(col("cents")), Seq(
        graft.ops.GlobalRank.Scan("below", col("cnt"),
          inclusive = false),
        graft.ops.GlobalRank.Scan("pos_below", col("posc"),
          inclusive = false)))
    val tot = ev.agg(count(lit(1)).as("n"), sum(col("pos")).as("n_pos"))
    val qs = s.range(1, 10).select(col("id").as("q"))
    // threshold for decile q = smallest cents with at most ceil(q*n/10)
    // rows at-or-above it: above(c) = n - below(c); pick min cents with
    // n - below <= ceil(q*n/10)  <=>  below >= n - ceil(q*n/10)
    ranked.crossJoin(broadcast(tot)).crossJoin(broadcast(qs))
      .filter(col("below") >= col("n") - expr("(q * n + 9) div 10"))
      .groupBy("q")
      .agg(min_by(struct(col("cents"), col("below"), col("pos_below"),
        col("n"), col("n_pos")), col("cents")).as("t"))
      .select(col("q"),
        col("t.cents").as("thresh_cents"),
        (col("t.n") - col("t.below")).as("n_selected"),
        (col("t.n_pos") - col("t.pos_below")).as("tp"),
        col("t.n"), col("t.n_pos"))
      .select(col("q"), col("thresh_cents"), col("n_selected"), col("tp"),
        round(col("tp").cast("double") / col("n_selected"), 6)
          .as("precision6"),
        round(col("tp").cast("double") / col("n_pos"), 6).as("recall6"),
        round((col("tp") * col("n")).cast("double") /
          (col("n_selected") * col("n_pos")).cast("double"), 6).as("lift6"),
        round((col("tp") * 2).cast("double") /
          (col("n_selected") + col("n_pos")).cast("double"), 6).as("f16"))
      .withColumn("best_f1", (row_number().over(
        Window.orderBy(col("f16").desc, col("q"))) === 1).cast("int"))
  }

  // ---- registry ------------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "auc2_sliced_auc" -> (auc2SlicedAuc _),
    "prc1_pr_lift_curve" -> (prc1PrLiftCurve _))

  val oracles: Map[String, String] = Map(
    "auc2_sliced_auc" ->
      """WITH ev AS (SELECT CAST(dayofweek(ts) AS BIGINT) + 1 AS slice,
                  value AS score,
                  CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
           FROM events),
         bs AS (SELECT slice, score, count(*) AS cnt,
                  CAST(sum(pos) AS BIGINT) AS pos
                FROM ev GROUP BY 1, 2),
         rk AS (SELECT slice, cnt, pos,
                  coalesce(sum(cnt) OVER (PARTITION BY slice ORDER BY score
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS below
                FROM bs)
         SELECT slice, CAST(sum(pos) AS BIGINT) AS n_pos,
                CAST(sum(cnt - pos) AS BIGINT) AS n_neg,
                round(CAST(sum(pos * (below * 2 + cnt + 1))
                           - sum(pos) * (sum(pos) + 1) AS DOUBLE) /
                      CAST(sum(pos) * sum(cnt - pos) * 2 AS DOUBLE), 6)
                  AS auc6
         FROM rk GROUP BY 1""",
    "prc1_pr_lift_curve" ->
      """WITH ev AS MATERIALIZED (
           SELECT CAST(round(value * 100, 0) AS BIGINT) AS cents,
                  CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
           FROM events),
         bv AS (SELECT cents, count(*) AS cnt,
                  CAST(sum(pos) AS BIGINT) AS posc
                FROM ev GROUP BY 1),
         rk AS (SELECT cents, cnt, posc,
                  coalesce(sum(cnt) OVER (ORDER BY cents
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS below,
                  coalesce(sum(posc) OVER (ORDER BY cents
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS pos_below
                FROM bv),
         tot AS (SELECT count(*) AS n, CAST(sum(pos) AS BIGINT) AS n_pos
                 FROM ev),
         qs AS (SELECT unnest(generate_series(1, 9)) AS q),
         pick AS (
           SELECT q, min(cents) AS thresh_cents FROM rk, tot, qs
           WHERE below >= n - (q * n + 9) // 10
           GROUP BY q),
         curve AS (
           SELECT q, thresh_cents,
                  CAST(n - below AS BIGINT) AS n_selected,
                  CAST(n_pos - pos_below AS BIGINT) AS tp,
                  n, n_pos
           FROM pick, rk, tot WHERE pick.thresh_cents = rk.cents),
         scored AS (
           SELECT q, thresh_cents, n_selected, tp,
                  round(CAST(tp AS DOUBLE) / n_selected, 6) AS precision6,
                  round(CAST(tp AS DOUBLE) / n_pos, 6) AS recall6,
                  round(CAST(tp * n AS DOUBLE) /
                        CAST(n_selected * n_pos AS DOUBLE), 6) AS lift6,
                  round(CAST(tp * 2 AS DOUBLE) /
                        CAST(n_selected + n_pos AS DOUBLE), 6) AS f16
           FROM curve)
         SELECT *, CAST(row_number() OVER (ORDER BY f16 DESC, q) = 1
                        AS INT) AS best_f1
         FROM scored""")
}
