package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Round-12 batch fourteen: uplift-model evaluation — the Qini curve
  * by targeting-score decile: per decile, treated-vs-control response
  * gap and the cumulative Qini value Q(d) = cumYt - cumYc *
  * cumNt/cumNc. The report that decides whether a targeting score
  * ranks persuadable users ahead of sure things. All rates are
  * exact-count rationals over the decile-bounded table.
  */
object Uplift extends QueryModule {

  /** lift1: arms by knuth hash, outcome = purchased in days 16-30,
    * targeting score = pre-period (days 1-15) spend; deciles over the
    * score with deterministic (score DESC, user) tiebreak.
    *
    * Scale note (same contract as ate1): the exact global ntile(10)
    * window — a single-task sort — is kept for oracle bit-equality
    * only. At production scale the decile EDGES come from an
    * approx-quantile sketch (`a15_percentiles`/kll1 machinery) and
    * decile assignment becomes a broadcast range lookup over 9 edges;
    * the per-decile aggregate and cumulative-Qini shape after binning
    * is identical (10-row domain).
    */
  def lift1QiniDeciles(s: SparkSession, d: String): DataFrame = {
    val users = Tables.events(s, d)
      .groupBy(col("user_id"))
      .agg(sum(when(dayofmonth(col("ts")) <= 15 &&
          col("event_type") === "purchase",
          col("value").cast("decimal(18,2)"))
          .otherwise(lit(0).cast("decimal(18,2)"))).as("score"),
        max(when(dayofmonth(col("ts")) > 15 &&
          col("event_type") === "purchase", 1).otherwise(0)).as("y"))
      .withColumn("arm",
        pmod(col("user_id") * lit(2654435761L) + lit(23L),
          lit(4294967296L)).mod(2).cast("int"))
    // exact-NTILE deciles via the distributed rank kernel (users are
    // a row-scaling domain; a global ntile window single-task-sorts)
    val byDec = graft.ops.GlobalRank.prefixScan(users,
        Seq(col("score").desc, col("user_id")), Nil,
        rankCol = Some("__i"))
      .crossJoin(broadcast(users.agg(count(lit(1)).as("__n"))))
      .withColumn("decile",
        graft.ops.GlobalRank.ntileFromRank(col("__i"), col("__n"), 10))
      .groupBy(col("decile"))
      .agg(sum(when(col("arm") === 1, 1L).otherwise(0L)).as("nt"),
        sum(when(col("arm") === 0, 1L).otherwise(0L)).as("nc"),
        sum(when(col("arm") === 1, col("y").cast("long"))
          .otherwise(0L)).as("yt"),
        sum(when(col("arm") === 0, col("y").cast("long"))
          .otherwise(0L)).as("yc"))
    val wCum = Window.orderBy(col("decile"))
      .rowsBetween(Window.unboundedPreceding, 0)
    byDec
      .withColumn("cyt", sum(col("yt")).over(wCum))
      .withColumn("cyc", sum(col("yc")).over(wCum))
      .withColumn("cnt", sum(col("nt")).over(wCum))
      .withColumn("cnc", sum(col("nc")).over(wCum))
      .select(col("decile"), col("nt"), col("nc"),
        round(col("yt").cast("double") / nullif(col("nt"), lit(0L)) -
          col("yc").cast("double") / nullif(col("nc"), lit(0L)), 6)
          .as("uplift6"),
        round(col("cyt").cast("double") - col("cyc").cast("double") *
          col("cnt") / nullif(col("cnc"), lit(0L)), 6).as("qini6"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "lift1_qini_deciles" -> (lift1QiniDeciles _))

  val oracles: Map[String, String] = Map(
    "lift1_qini_deciles" ->
      """WITH users AS MATERIALIZED (
           SELECT user_id,
                  sum(CASE WHEN CAST(day(ts) AS INT) <= 15
                      AND event_type = 'purchase'
                      THEN CAST(value AS DECIMAL(18,2))
                      ELSE CAST(0 AS DECIMAL(18,2)) END) AS score,
                  max(CASE WHEN CAST(day(ts) AS INT) > 15
                      AND event_type = 'purchase'
                      THEN 1 ELSE 0 END) AS y,
                  CAST((user_id * 2654435761 + 23) % 4294967296 % 2
                    AS INT) AS arm
           FROM events GROUP BY 1),
         dec AS MATERIALIZED (
           SELECT *, ntile(10) OVER (ORDER BY score DESC, user_id)
                    AS decile
           FROM users),
         byDec AS MATERIALIZED (
           SELECT decile,
                  CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS nt,
                  CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS nc,
                  CAST(sum(CASE WHEN arm = 1 THEN y ELSE 0 END)
                    AS BIGINT) AS yt,
                  CAST(sum(CASE WHEN arm = 0 THEN y ELSE 0 END)
                    AS BIGINT) AS yc
           FROM dec GROUP BY 1)
         SELECT decile, nt, nc,
                round(CAST(yt AS DOUBLE) / nullif(nt, 0) -
                  CAST(yc AS DOUBLE) / nullif(nc, 0), 6) AS uplift6,
                round(CAST(sum(yt) OVER w AS DOUBLE) -
                  CAST(sum(yc) OVER w AS DOUBLE) *
                  sum(nt) OVER w / nullif(sum(nc) OVER w, 0), 6)
                  AS qini6
         FROM byDec
         WINDOW w AS (ORDER BY decile
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""")
}
