package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Round-12 batch twelve: meta-analysis operators — Benjamini–
  * Hochberg FDR control over a battery of segment tests (the
  * peeking-across-segments correction every metrics platform needs)
  * and empirical-Bayes (James–Stein-style) shrinkage of per-group
  * means (the small-group stabilizer for rates/averages).
  *
  * The normal CDF comes from the Abramowitz–Stegun 7.1.26 erf
  * polynomial — pure arithmetic + exp, written as the IDENTICAL
  * expression in both engines, then 6-dp rounded, so ranks and BH
  * decisions agree exactly.
  */
object Meta extends QueryModule {

  /** Phi(|z|)'s upper tail, two-sided: p = 2(1 - Phi(|z|)) with the
    * A-S 7.1.26 erf approximation (|error| < 1.5e-7, crushed by the
    * 6-dp rounding).
    */
  private def pTwoSided(z: Column): Column = {
    val x = abs(z) / math.sqrt(2.0)
    val t = lit(1.0) / (lit(1.0) + x * 0.3275911)
    val poly = t * 0.254829592 + t * t * (-0.284496736) +
      t * t * t * 1.421413741 + t * t * t * t * (-1.453152027) +
      t * t * t * t * t * 1.061405429
    val erf = lit(1.0) - poly * exp(-x * x)
    round(lit(2.0) * (lit(1.0) - (lit(0.5) * (lit(1.0) + erf))), 6)
  }

  /** bh1: per-(event type, weekday) one-sample z-tests of the cell's
    * mean value against its event type's overall mean (overall sd),
    * then Benjamini–Hochberg at q = 0.05 across the whole ~35-test
    * battery. Moments are exact DECIMAL sums; the BH scan runs on the
    * battery-bounded table with deterministic (p, type, dow) order.
    */
  def bh1FdrBattery(s: SparkSession, d: String): DataFrame = {
    val base = Tables.events(s, d)
      .select(col("event_type"),
        pmod(datediff(to_date(col("ts")),
          lit("2023-12-31").cast("date")), lit(7)).cast("int")
          .as("dow"),
        col("value").cast("decimal(18,2)").as("v"))
    val cells = base.groupBy(col("event_type"), col("dow"))
      .agg(count(lit(1)).as("n"),
        sum(col("v")).cast("double").as("sv"))
    val types = base.groupBy(col("event_type"))
      .agg(count(lit(1)).as("tn"),
        sum(col("v")).cast("double").as("tsv"),
        sum((col("v") * col("v")).cast("decimal(28,4)")).cast("double")
          .as("tsvv"))
      .select(col("event_type"),
        (col("tsv") / col("tn")).as("tmean"),
        sqrt((col("tsvv") - col("tsv") * col("tsv") / col("tn")) /
          (col("tn") - 1)).as("tsd"))
    val tests = cells.join(broadcast(types), Seq("event_type"))
      .select(col("event_type"), col("dow"), col("n"),
        round((col("sv") / col("n") - col("tmean")) /
          (col("tsd") / sqrt(col("n"))), 6).as("z6"))
      .withColumn("p6", pTwoSided(col("z6")))
    val m = tests.agg(count(lit(1)).as("m"))
    val wRank = Window.orderBy(col("p6"), col("event_type"), col("dow"))
    val ranked = tests.crossJoin(broadcast(m))
      .withColumn("rk", row_number().over(wRank))
      .withColumn("bh_ok",
        (col("p6") <= col("rk").cast("double") * 0.05 / col("m"))
          .cast("int"))
      .localCheckpoint(true) // bounded: one row per battery test
    val kRow = ranked.agg(max(when(col("bh_ok") === 1, col("rk")))
      .as("k"))
    ranked.crossJoin(broadcast(kRow))
      .select(col("event_type"), col("dow"), col("n"), col("z6"),
        col("p6"),
        when(col("k").isNotNull && col("rk") <= col("k"), 1)
          .otherwise(0).as("rejected"))
  }

  /** eb1: empirical-Bayes shrinkage of per-brand mean extended price
    * — one-way random-effects method of moments (MSW/MSB, n0) gives
    * tau^2; each brand's mean shrinks toward the grand mean with
    * weight tau^2/(tau^2 + MSW/n). All moments exact DECIMAL; the
    * group table is brand-bounded.
    */
  def eb1ShrunkMeans(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
      .join(broadcast(Tables.part(s, d)
        .select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .select(col("p_brand"),
        col("l_extendedprice").cast("decimal(18,2)").as("v"))
    val g = li.groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n"),
        sum(col("v")).cast("decimal(28,2)").as("svd"),
        sum((col("v") * col("v")).cast("decimal(38,4)"))
          .cast("decimal(38,4)").as("svvd"))
      .select(col("p_brand"), col("n"), col("svd"), col("svvd"),
        col("svd").cast("double").as("sv"),
        col("svvd").cast("double").as("svv"))
      .localCheckpoint(true) // bounded: one row per brand
    // cross-group totals stay DECIMAL (order-free) before the one
    // double conversion
    val glob = g.agg(count(lit(1)).as("k"),
      sum(col("n")).as("nn"),
      sum(col("svd")).cast("double").as("ssv"),
      sum(col("svvd")).cast("double").as("ssvv"),
      sum(round(col("sv") * col("sv") / col("n"), 6)
        .cast("decimal(28,6)")).cast("double").as("sgrp"),
      sum((col("n") * col("n")).cast("decimal(28,0)")).cast("double")
        .as("snn"))
      .select(col("k"), col("nn"),
        (col("ssv") / col("nn")).as("grand"),
        // SSW = total SS - sum_g n_g mean_g^2 ; MSW = SSW/(N-k)
        ((col("ssvv") - col("sgrp")) / (col("nn") - col("k")))
          .as("msw"),
        // MSB = (sum_g n_g mean_g^2 - N grand^2)/(k-1)
        ((col("sgrp") - col("ssv") * col("ssv") / col("nn")) /
          (col("k") - 1)).as("msb"),
        ((col("nn") - col("snn") / col("nn")) / (col("k") - 1))
          .as("n0"))
      .withColumn("tau2",
        greatest(lit(0.0), (col("msb") - col("msw")) / col("n0")))
    g.crossJoin(broadcast(glob))
      .select(col("p_brand").as("brand"), col("n"),
        round(col("sv") / col("n"), 6).as("raw_mean6"),
        round(col("tau2") / (col("tau2") + col("msw") / col("n")), 6)
          .as("weight6"),
        round(col("grand") +
          (col("tau2") / (col("tau2") + col("msw") / col("n"))) *
          (col("sv") / col("n") - col("grand")), 6).as("shrunk6"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "bh1_fdr_battery" -> (bh1FdrBattery _),
    "eb1_shrunk_means" -> (eb1ShrunkMeans _))

  // composed so the paren structure is correct BY CONSTRUCTION and
  // the expression tree matches pTwoSided's exactly
  private val tSql = "(1.0 / (1.0 + abs(z6) / sqrt(2.0) * 0.3275911))"
  private val xSql = "(abs(z6) / sqrt(2.0))"
  private val polySql =
    s"$tSql * 0.254829592 + $tSql * $tSql * (-0.284496736) + " +
      s"$tSql * $tSql * $tSql * 1.421413741 + " +
      s"$tSql * $tSql * $tSql * $tSql * (-1.453152027) + " +
      s"$tSql * $tSql * $tSql * $tSql * $tSql * 1.061405429"
  private val pSql =
    s"round(2.0 * (1.0 - (0.5 * (1.0 + (1.0 - ($polySql) * " +
      s"exp(-$xSql * $xSql))))), 6)"

  val oracles: Map[String, String] = Map(
    "bh1_fdr_battery" ->
      s"""WITH base AS MATERIALIZED (
           SELECT event_type,
                  CAST((CAST(ts AS DATE) - DATE '2023-12-31') % 7
                    AS INT) AS dow,
                  CAST(value AS DECIMAL(18,2)) AS v
           FROM events),
         cells AS (
           SELECT event_type, dow, CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(v) AS DOUBLE) AS sv
           FROM base GROUP BY 1, 2),
         types AS (
           SELECT event_type,
                  CAST(sum(v) AS DOUBLE) / count(*) AS tmean,
                  sqrt((CAST(sum(CAST(v * v AS DECIMAL(28,4)))
                      AS DOUBLE) -
                    CAST(sum(v) AS DOUBLE) * CAST(sum(v) AS DOUBLE) /
                    count(*)) / (count(*) - 1)) AS tsd
           FROM base GROUP BY 1),
         tests AS MATERIALIZED (
           SELECT cells.event_type, dow, n,
                  round((sv / n - tmean) / (tsd / sqrt(n)), 6) AS z6
           FROM cells JOIN types ON cells.event_type = types.event_type),
         withp AS MATERIALIZED (
           SELECT *, $pSql AS p6 FROM tests),
         m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM withp),
         ranked AS MATERIALIZED (
           SELECT withp.*, m.m,
                  CAST(row_number() OVER (ORDER BY p6, event_type, dow)
                    AS BIGINT) AS rk
           FROM withp, m),
         kk AS (SELECT max(CASE WHEN p6 <= CAST(rk AS DOUBLE) * 0.05 / m
                  THEN rk END) AS k
                FROM ranked)
         SELECT event_type, dow, n, z6, p6,
                CASE WHEN k IS NOT NULL AND rk <= k THEN 1 ELSE 0 END
                  AS rejected
         FROM ranked, kk""",
    "eb1_shrunk_means" ->
      """WITH li AS (
           SELECT p_brand,
                  CAST(l_extendedprice AS DECIMAL(18,2)) AS v
           FROM lineitem JOIN part ON l_partkey = p_partkey),
         g0 AS MATERIALIZED (
           SELECT p_brand, CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(v) AS DECIMAL(28,2)) AS svd,
                  CAST(sum(CAST(v * v AS DECIMAL(38,4)))
                    AS DECIMAL(38,4)) AS svvd
           FROM li GROUP BY 1),
         g AS MATERIALIZED (
           SELECT p_brand, n, svd, svvd,
                  CAST(svd AS DOUBLE) AS sv,
                  CAST(svvd AS DOUBLE) AS svv
           FROM g0),
         gtot AS MATERIALIZED (
           SELECT CAST(count(*) AS BIGINT) AS k,
                  CAST(sum(n) AS BIGINT) AS nn,
                  CAST(sum(svd) AS DOUBLE) AS ssv,
                  CAST(sum(svvd) AS DOUBLE) AS ssvv,
                  CAST(sum(CAST(round(sv * sv / n, 6)
                    AS DECIMAL(28,6))) AS DOUBLE) AS sgrp,
                  CAST(sum(CAST(n * n AS DECIMAL(28,0))) AS DOUBLE)
                    AS snn
           FROM g),
         prm AS (
           SELECT k, nn, ssv / nn AS grand,
                  (ssvv - sgrp) / (nn - k) AS msw,
                  (sgrp - ssv * ssv / nn) / (k - 1) AS msb,
                  (nn - snn / nn) / (k - 1) AS n0
           FROM gtot),
         prm2 AS (
           SELECT *, greatest(0.0, (msb - msw) / n0) AS tau2
           FROM prm)
         SELECT p_brand AS brand, n,
                round(sv / n, 6) AS raw_mean6,
                round(tau2 / (tau2 + msw / n), 6) AS weight6,
                round(grand + (tau2 / (tau2 + msw / n)) *
                  (sv / n - grand), 6) AS shrunk6
         FROM g, prm2""")
}
