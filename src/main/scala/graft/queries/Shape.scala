package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Round-12 batch four: distribution-shaping operators — isotonic
  * (monotone) calibration of a binned outcome rate, and cross-group
  * quantile normalization. Both collapse the raw table to a
  * domain-bounded aggregate first, so the "quadratic" isotonic
  * identity and the per-group rank windows run on fixed-size
  * aggregates regardless of input scale.
  */
object Shape extends QueryModule {

  /** iso1: isotonic calibration of P(status = 'O') against binned
    * order value (50 fixed-width bins). Fit uses the minimax identity
    * fitted_b = max_{j<=b} min_{k>=b} avg(y over bins j..k) — the
    * closed form of pool-adjacent-violators — evaluated on the
    * B-bounded bin aggregate: prefix sums (exact integers), the
    * B^2 (j,k) segment-average table, a suffix-min window per j, and
    * a max per b. Two bounded windows + one bounded self-join; the
    * only full-data pass is the first bin aggregate. ShapeSpec
    * asserts the fit is monotone and matches a sequential PAV
    * reference implementation.
    */
  def iso1IsotonicRate(s: SparkSession, d: String): DataFrame = {
    val bins = Tables.orders(s, d)
      .select(least(floor(col("o_totalprice") / 12000), lit(49L))
        .as("bin"),
        when(col("o_orderstatus") === "O", 1L).otherwise(0L).as("y"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("sy"))
    val wPre = Window.orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val pre = bins
      .withColumn("cum_n", sum(col("n")).over(wPre))
      .withColumn("cum_s", sum(col("sy")).over(wPre))
      .localCheckpoint(true) // bounded: <= 50 rows
    val j = pre.select(col("bin").as("jb"),
      (col("cum_s") - col("sy")).as("s0"),
      (col("cum_n") - col("n")).as("n0"))
    val k = pre.select(col("bin").as("kb"), col("cum_s").as("sk"),
      col("cum_n").as("nk"))
    val segs = j.crossJoin(k).filter(col("jb") <= col("kb"))
      .select(col("jb"), col("kb"),
        round((col("sk") - col("s0")).cast("double") /
          (col("nk") - col("n0")).cast("double"), 9).as("avg_jk"))
    val wSuf = Window.partitionBy(col("jb")).orderBy(col("kb").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val fitted = segs
      .withColumn("sufmin", min(col("avg_jk")).over(wSuf))
      .groupBy(col("kb").as("bin"))
      .agg(max(col("sufmin")).as("fit"))
    bins.join(fitted, Seq("bin"))
      .select(col("bin"), col("n"),
        round(col("sy").cast("double") / col("n").cast("double"), 6)
          .as("rate6"),
        round(col("fit"), 6).as("iso6"))
  }

  /** qn1: quantile normalization of order value across the five
    * order-priority groups — each group's rows rank into 20 quantile
    * bins (deterministic tiebreak by order key), and each bin maps to
    * the cross-group reference (the mean of the five per-group bin
    * means). Per-group windows + two bounded aggregates; bin means
    * assemble from exact DECIMAL sums.
    */
  def qn1QuantileNormalize(s: SparkSession, d: String): DataFrame = {
    val wRank = Window.partitionBy(col("priority"))
      .orderBy(col("v"), col("o_orderkey"))
    val binned = Tables.orders(s, d)
      .select(col("o_orderpriority").as("priority"),
        col("o_totalprice").cast("decimal(18,2)").as("v"),
        col("o_orderkey"))
      .withColumn("qbin", ntile(20).over(wRank))
    val gb = binned.groupBy(col("priority"), col("qbin"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("v")).cast("double") / count(lit(1)), 6)
          .cast("decimal(18,6)").as("mean"))
    val ref = gb.groupBy(col("qbin"))
      .agg(round(sum(col("mean")).cast("double") / count(lit(1)), 6)
        .as("ref"))
    gb.join(broadcast(ref), Seq("qbin"))
      .select(col("priority"), col("qbin"), col("n"),
        col("mean").cast("double").as("mean6"), col("ref").as("ref6"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "iso1_isotonic_rate" -> (iso1IsotonicRate _),
    "qn1_quantile_normalize" -> (qn1QuantileNormalize _))

  val oracles: Map[String, String] = Map(
    "iso1_isotonic_rate" ->
      """WITH bins AS MATERIALIZED (
           SELECT least(CAST(floor(o_totalprice / 12000) AS BIGINT),
                    49) AS bin,
                  CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(CASE WHEN o_orderstatus = 'O'
                    THEN 1 ELSE 0 END) AS BIGINT) AS sy
           FROM orders GROUP BY 1),
         pre AS MATERIALIZED (
           SELECT bin, n, sy,
                  CAST(sum(n) OVER wp AS BIGINT) AS cum_n,
                  CAST(sum(sy) OVER wp AS BIGINT) AS cum_s
           FROM bins
           WINDOW wp AS (ORDER BY bin
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         segs AS MATERIALIZED (
           SELECT j.bin AS jb, k.bin AS kb,
                  round(CAST(k.cum_s - (j.cum_s - j.sy) AS DOUBLE) /
                    CAST(k.cum_n - (j.cum_n - j.n) AS DOUBLE), 9)
                    AS avg_jk
           FROM pre j JOIN pre k ON j.bin <= k.bin),
         suf AS (
           SELECT jb, kb,
                  min(avg_jk) OVER (PARTITION BY jb ORDER BY kb DESC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS sufmin
           FROM segs),
         fitted AS (
           SELECT kb AS bin, max(sufmin) AS fit FROM suf GROUP BY 1)
         SELECT bins.bin, n,
                round(CAST(sy AS DOUBLE) / CAST(n AS DOUBLE), 6)
                  AS rate6,
                round(fit, 6) AS iso6
         FROM bins JOIN fitted ON bins.bin = fitted.bin""",
    "qn1_quantile_normalize" ->
      """WITH binned AS MATERIALIZED (
           SELECT o_orderpriority AS priority,
                  CAST(o_totalprice AS DECIMAL(18,2)) AS v,
                  ntile(20) OVER (PARTITION BY o_orderpriority
                    ORDER BY o_totalprice, o_orderkey) AS qbin
           FROM orders),
         gb AS MATERIALIZED (
           SELECT priority, qbin, CAST(count(*) AS BIGINT) AS n,
                  CAST(round(CAST(sum(v) AS DOUBLE) / count(*), 6)
                    AS DECIMAL(18,6)) AS mean
           FROM binned GROUP BY 1, 2),
         ref AS (
           SELECT qbin,
                  round(CAST(sum(mean) AS DOUBLE) / count(*), 6) AS ref
           FROM gb GROUP BY 1)
         SELECT priority, gb.qbin, n, CAST(mean AS DOUBLE) AS mean6,
                ref AS ref6
         FROM gb JOIN ref ON gb.qbin = ref.qbin""")
}
