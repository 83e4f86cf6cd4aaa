package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Round-12 batch thirteen: stratified comparison tests — the
  * log-rank test between two survival curves (the inferential
  * companion of surv1's Kaplan–Meier estimate) and the Cochran–
  * Mantel–Haenszel stratified 2x2 association with the MH common
  * odds ratio (the confounder-adjusted chi1). Both reduce the stream
  * to bounded tables (event days / strata) before any sequential
  * arithmetic; per-time terms are 9-dp DECIMAL summands.
  */
object Strat extends QueryModule {

  /** lr1: log-rank test of time-to-first-purchase between the two
    * knuth-hash arms (surv1's cohort construction: first event =
    * entry, first purchase = death, censor at 2024-01-31).
    * Per event day: observed arm-0 deaths vs the hypergeometric
    * expectation and variance; z = sum(O-E)/sqrt(sum V).
    */
  def lr1LogRank(s: SparkSession, d: String): DataFrame = {
    val perUser = Tables.events(s, d)
      .groupBy(col("user_id"))
      .agg(min(to_date(col("ts"))).as("t0"),
        min(when(col("event_type") === "purchase", to_date(col("ts"))))
          .as("tp"))
      .select(col("user_id"),
        when(col("tp").isNotNull, datediff(col("tp"), col("t0")))
          .otherwise(datediff(lit("2024-01-31").cast("date"),
            col("t0"))).cast("long").as("t"),
        col("tp").isNotNull.cast("int").as("death"),
        pmod(col("user_id") * lit(2654435761L) + lit(23L),
          lit(4294967296L)).mod(2).cast("int").as("arm"))
    val byDayArm = perUser.groupBy(col("t"), col("arm"))
      .agg(sum(col("death").cast("long")).as("d"),
        count(lit(1)).as("leaving"))
    // complete (t x arm) grid so each arm's risk set is defined at
    // every event time (day-bounded domain)
    val grid = byDayArm.select(col("t")).distinct()
      .crossJoin(s.range(2).select(col("id").cast("int").as("arm")))
    val filled = grid.join(byDayArm, Seq("t", "arm"), "left")
      .select(col("t"), col("arm"),
        coalesce(col("d"), lit(0L)).as("d"),
        coalesce(col("leaving"), lit(0L)).as("leaving"))
    val armN = perUser.groupBy(col("arm"))
      .agg(count(lit(1)).as("n_arm"))
    val wPrev = Window.partitionBy(col("arm")).orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val risk = filled.join(broadcast(armN), Seq("arm"))
      .withColumn("n_risk", col("n_arm") -
        coalesce(sum(col("leaving")).over(wPrev), lit(0L)))
    val byT = risk.groupBy(col("t"))
      .agg(sum(col("d")).as("dt"),
        sum(col("n_risk")).as("nt"),
        sum(when(col("arm") === 0, col("d")).otherwise(0L)).as("da"),
        sum(when(col("arm") === 0, col("n_risk")).otherwise(0L))
          .as("na"))
      .filter(col("dt") > 0 && col("nt") > 1)
      .withColumn("oe", round(col("da").cast("double") -
        col("dt").cast("double") * col("na") / col("nt"), 9)
        .cast("decimal(18,9)"))
      .withColumn("v", round(col("dt").cast("double") *
        (col("na").cast("double") / col("nt")) *
        (lit(1.0) - col("na").cast("double") / col("nt")) *
        (col("nt") - col("dt")).cast("double") / (col("nt") - 1), 9)
        .cast("decimal(18,9)"))
    byT.agg(count(lit(1)).as("n_times"),
      sum(col("da")).as("oa"),
      round(sum(col("oe")).cast("double"), 6).as("oe_sum6"),
      round(sum(col("v")).cast("double"), 6).as("v_sum6"))
      .select(col("n_times"), col("oa"),
        col("oe_sum6"), col("v_sum6"),
        round(col("oe_sum6") / sqrt(col("v_sum6")), 6).as("z6"))
  }

  /** cmh1: Cochran–Mantel–Haenszel test of the BUILDING-segment
    * exposure against the "has an open order" outcome, stratified by
    * nation — the confounder-adjusted association plus the MH common
    * odds ratio. Exact integer cell counts per stratum; 9-dp DECIMAL
    * term sums; no continuity correction (documented).
    */
  def cmh1MantelHaenszel(s: SparkSession, d: String): DataFrame = {
    val cust = Tables.customer(s, d)
      .join(Tables.orders(s, d)
        .filter(col("o_orderstatus") === "O")
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_open")),
        col("c_custkey") === col("o_custkey"), "left")
      .select(col("c_nationkey").as("stratum"),
        (col("c_mktsegment") === "BUILDING").cast("int").as("e"),
        (coalesce(col("n_open"), lit(0L)) > 0).cast("int").as("y"))
    val cells = cust.groupBy(col("stratum"))
      .agg(sum(when(col("e") === 1 && col("y") === 1, 1L)
        .otherwise(0L)).as("a"),
        sum(when(col("e") === 1 && col("y") === 0, 1L).otherwise(0L))
          .as("b"),
        sum(when(col("e") === 0 && col("y") === 1, 1L).otherwise(0L))
          .as("c"),
        sum(when(col("e") === 0 && col("y") === 0, 1L).otherwise(0L))
          .as("dd"))
      .withColumn("n", col("a") + col("b") + col("c") + col("dd"))
      .filter(col("n") > 1)
      .withColumn("oe", round(col("a").cast("double") -
        (col("a") + col("b")).cast("double") * (col("a") + col("c")) /
          col("n"), 9).cast("decimal(18,9)"))
      .withColumn("v", round(
        (col("a") + col("b")).cast("double") * (col("c") + col("dd")) *
          (col("a") + col("c")) * (col("b") + col("dd")) /
          (col("n").cast("double") * col("n") * (col("n") - 1)), 9)
        .cast("decimal(18,9)"))
      .withColumn("adn", round(col("a").cast("double") * col("dd") /
        col("n"), 9).cast("decimal(18,9)"))
      .withColumn("bcn", round(col("b").cast("double") * col("c") /
        col("n"), 9).cast("decimal(18,9)"))
    cells.agg(count(lit(1)).as("n_strata"),
      round(sum(col("oe")).cast("double"), 6).as("oe_sum6"),
      round(sum(col("v")).cast("double"), 6).as("v_sum6"),
      round(sum(col("adn")).cast("double"), 6).as("adn6"),
      round(sum(col("bcn")).cast("double"), 6).as("bcn6"))
      .select(col("n_strata"),
        round(col("oe_sum6") * col("oe_sum6") / col("v_sum6"), 6)
          .as("cmh_chi2_6"),
        round(col("adn6") / nullif(col("bcn6"), lit(0.0)), 6)
          .as("or_mh6"))
  }

  /** yuen1: Yuen's 20%-trimmed robust two-sample test between the
    * knuth arms' purchase values — trimmed means compare, winsorized
    * variances scale (outliers can neither drag the location nor
    * inflate the denominator). Ranks are deterministic (value,
    * event id); trimmed/winsorized moments are exact DECIMAL sums;
    * t assembles in fixed IEEE order. The rank window partitions by
    * arm.
    *
    * Scale note (same contract as ate1/lift1): the per-arm rank
    * window has only 2 partitions — two single-task sorts — kept for
    * oracle bit-equality only. At production scale the 20%/80% trim
    * CUTS come from a per-arm approx-quantile sketch
    * (`a15_percentiles`/kll1 machinery); trimming/winsorizing then
    * becomes a broadcast 2-row cut lookup plus one conditional
    * aggregate pass — no global sort, and the moment assembly after
    * the cuts is identical.
    */
  def yuen1TrimmedTtest(s: SparkSession, d: String): DataFrame = {
    val rows = Tables.events(s, d)
      .filter(col("event_type") === "purchase")
      .select(col("event_id"),
        col("value").cast("decimal(18,2)").as("v"),
        pmod(col("user_id") * lit(2654435761L) + lit(23L),
          lit(4294967296L)).mod(2).cast("int").as("arm"))
    val wRank = Window.partitionBy(col("arm"))
      .orderBy(col("v"), col("event_id"))
    val ranked = rows
      .withColumn("rn", row_number().over(wRank))
      .withColumn("n", count(lit(1)).over(
        Window.partitionBy(col("arm"))))
      .withColumn("k", floor(col("n") * 0.2).cast("long"))
    val kept = ranked.filter(col("rn") > col("k") &&
      col("rn") <= col("n") - col("k"))
    val bounds = kept.groupBy(col("arm"))
      .agg(min(col("v")).as("lo"), max(col("v")).as("hi"),
        count(lit(1)).as("h"),
        sum(col("v")).cast("double").as("sv"))
    val wins = ranked.join(broadcast(bounds), Seq("arm"))
      .withColumn("w", when(col("v") < col("lo"), col("lo"))
        .when(col("v") > col("hi"), col("hi")).otherwise(col("v")))
      .groupBy(col("arm"))
      .agg(first(col("h")).as("h"), first(col("sv")).as("sv"),
        count(lit(1)).as("n"),
        sum(col("w")).cast("double").as("sw"),
        sum((col("w") * col("w")).cast("decimal(28,4)")).cast("double")
          .as("sww"))
      .select(col("arm"), col("n"), col("h"),
        round(col("sv") / col("h"), 9).as("tm"),
        // winsorized sample variance
        ((col("sww") - col("sw") * col("sw") / col("n")) /
          (col("n") - 1)).as("swvar"))
      .withColumn("dterm", col("swvar") * (col("n") - 1) /
        (col("h") * (col("h") - lit(1.0))))
    wins.groupBy()
      .agg(max(when(col("arm") === 0, col("n"))).as("n_a"),
        max(when(col("arm") === 1, col("n"))).as("n_b"),
        max(when(col("arm") === 0, col("tm"))).as("tma"),
        max(when(col("arm") === 1, col("tm"))).as("tmb"),
        max(when(col("arm") === 0, col("dterm"))).as("da"),
        max(when(col("arm") === 1, col("dterm"))).as("db"))
      .select(col("n_a"), col("n_b"),
        round(col("tma"), 6).as("tm_a6"),
        round(col("tmb"), 6).as("tm_b6"),
        round((col("tma") - col("tmb")) /
          nullif(sqrt(col("da") + col("db")), lit(0.0)), 6)
          .as("yuen_t6"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "lr1_logrank" -> (lr1LogRank _),
    "cmh1_mantel_haenszel" -> (cmh1MantelHaenszel _),
    "yuen1_trimmed_ttest" -> (yuen1TrimmedTtest _))

  val oracles: Map[String, String] = Map(
    "yuen1_trimmed_ttest" ->
      """WITH rows_ AS MATERIALIZED (
           SELECT event_id, CAST(value AS DECIMAL(18,2)) AS v,
                  CAST((user_id * 2654435761 + 23) % 4294967296 % 2
                    AS INT) AS arm
           FROM events WHERE event_type = 'purchase'),
         ranked AS MATERIALIZED (
           SELECT *, row_number() OVER (PARTITION BY arm
                       ORDER BY v, event_id) AS rn,
                  count(*) OVER (PARTITION BY arm) AS n,
                  CAST(floor(count(*) OVER (PARTITION BY arm) * 0.2)
                    AS BIGINT) AS k
           FROM rows_),
         bounds AS MATERIALIZED (
           SELECT arm, min(v) AS lo, max(v) AS hi,
                  CAST(count(*) AS BIGINT) AS h,
                  CAST(sum(v) AS DOUBLE) AS sv
           FROM ranked WHERE rn > k AND rn <= n - k GROUP BY 1),
         wins AS MATERIALIZED (
           SELECT r.arm, CAST(count(*) AS BIGINT) AS n,
                  max(h) AS h, max(sv) AS sv,
                  CAST(sum(CASE WHEN v < lo THEN lo
                           WHEN v > hi THEN hi ELSE v END)
                    AS DOUBLE) AS sw,
                  CAST(sum(CAST(
                    (CASE WHEN v < lo THEN lo
                          WHEN v > hi THEN hi ELSE v END) *
                    (CASE WHEN v < lo THEN lo
                          WHEN v > hi THEN hi ELSE v END)
                    AS DECIMAL(28,4))) AS DOUBLE) AS sww
           FROM ranked r JOIN bounds USING (arm) GROUP BY 1),
         terms AS (
           SELECT arm, n, h, round(sv / h, 9) AS tm,
                  ((sww - sw * sw / n) / (n - 1)) * (n - 1) /
                    (h * (h - 1.0)) AS dterm
           FROM wins)
         SELECT max(CASE WHEN arm = 0 THEN n END) AS n_a,
                max(CASE WHEN arm = 1 THEN n END) AS n_b,
                round(max(CASE WHEN arm = 0 THEN tm END), 6) AS tm_a6,
                round(max(CASE WHEN arm = 1 THEN tm END), 6) AS tm_b6,
                round((max(CASE WHEN arm = 0 THEN tm END) -
                       max(CASE WHEN arm = 1 THEN tm END)) /
                  nullif(sqrt(max(CASE WHEN arm = 0 THEN dterm END) +
                       max(CASE WHEN arm = 1 THEN dterm END)), 0.0), 6)
                  AS yuen_t6
         FROM terms""",
    "lr1_logrank" ->
      """WITH perUser AS MATERIALIZED (
           SELECT user_id,
                  CASE WHEN tp IS NOT NULL THEN tp - t0
                       ELSE DATE '2024-01-31' - t0 END AS t,
                  CASE WHEN tp IS NOT NULL THEN 1 ELSE 0 END AS death,
                  CAST((user_id * 2654435761 + 23) % 4294967296 % 2
                    AS INT) AS arm
           FROM (SELECT user_id, min(CAST(ts AS DATE)) AS t0,
                        min(CASE WHEN event_type = 'purchase'
                            THEN CAST(ts AS DATE) END) AS tp
                 FROM events GROUP BY 1)),
         byDayArm AS MATERIALIZED (
           SELECT t, arm, CAST(sum(death) AS BIGINT) AS d,
                  CAST(count(*) AS BIGINT) AS leaving
           FROM perUser GROUP BY 1, 2),
         grid AS (
           SELECT t, arm FROM (SELECT DISTINCT t FROM byDayArm)
           CROSS JOIN (SELECT unnest([0, 1]) AS arm)),
         filled AS (
           SELECT grid.t, grid.arm, coalesce(d, 0) AS d,
                  coalesce(leaving, 0) AS leaving
           FROM grid LEFT JOIN byDayArm
             ON grid.t = byDayArm.t AND grid.arm = byDayArm.arm),
         armN AS (SELECT arm, CAST(count(*) AS BIGINT) AS n_arm
                  FROM perUser GROUP BY 1),
         risk AS MATERIALIZED (
           SELECT f.t, f.arm, f.d,
                  n_arm - coalesce(sum(leaving) OVER (PARTITION BY f.arm
                    ORDER BY f.t ROWS BETWEEN UNBOUNDED PRECEDING
                    AND 1 PRECEDING), 0) AS n_risk
           FROM filled f JOIN armN USING (arm)),
         byT AS (
           SELECT t, CAST(sum(d) AS BIGINT) AS dt,
                  CAST(sum(n_risk) AS BIGINT) AS nt,
                  CAST(sum(CASE WHEN arm = 0 THEN d ELSE 0 END)
                    AS BIGINT) AS da,
                  CAST(sum(CASE WHEN arm = 0 THEN n_risk ELSE 0 END)
                    AS BIGINT) AS na
           FROM risk GROUP BY 1),
         terms AS (
           SELECT CAST(round(CAST(da AS DOUBLE) -
                    CAST(dt AS DOUBLE) * na / nt, 9)
                    AS DECIMAL(18,9)) AS oe,
                  CAST(round(CAST(dt AS DOUBLE) *
                    (CAST(na AS DOUBLE) / nt) *
                    (1.0 - CAST(na AS DOUBLE) / nt) *
                    CAST(nt - dt AS DOUBLE) / (nt - 1), 9)
                    AS DECIMAL(18,9)) AS v,
                  da
           FROM byT WHERE dt > 0 AND nt > 1)
         SELECT CAST(count(*) AS BIGINT) AS n_times,
                CAST(sum(da) AS BIGINT) AS oa,
                round(CAST(sum(oe) AS DOUBLE), 6) AS oe_sum6,
                round(CAST(sum(v) AS DOUBLE), 6) AS v_sum6,
                round(round(CAST(sum(oe) AS DOUBLE), 6) /
                  sqrt(round(CAST(sum(v) AS DOUBLE), 6)), 6) AS z6
         FROM terms""",
    "cmh1_mantel_haenszel" ->
      """WITH cust AS MATERIALIZED (
           SELECT c_nationkey AS stratum,
                  CASE WHEN c_mktsegment = 'BUILDING'
                       THEN 1 ELSE 0 END AS e,
                  CASE WHEN coalesce(o.n_open, 0) > 0
                       THEN 1 ELSE 0 END AS y
           FROM customer
           LEFT JOIN (SELECT o_custkey,
                        CAST(count(*) AS BIGINT) AS n_open
                      FROM orders WHERE o_orderstatus = 'O'
                      GROUP BY 1) o
             ON c_custkey = o.o_custkey),
         cells AS MATERIALIZED (
           SELECT stratum,
                  CAST(sum(CASE WHEN e = 1 AND y = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS a,
                  CAST(sum(CASE WHEN e = 1 AND y = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS b,
                  CAST(sum(CASE WHEN e = 0 AND y = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS c,
                  CAST(sum(CASE WHEN e = 0 AND y = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS dd
           FROM cust GROUP BY 1),
         terms AS (
           SELECT CAST(round(CAST(a AS DOUBLE) -
                    CAST(a + b AS DOUBLE) * (a + c) / n, 9)
                    AS DECIMAL(18,9)) AS oe,
                  CAST(round(CAST(a + b AS DOUBLE) * (c + dd) *
                    (a + c) * (b + dd) /
                    (CAST(n AS DOUBLE) * n * (n - 1)), 9)
                    AS DECIMAL(18,9)) AS v,
                  CAST(round(CAST(a AS DOUBLE) * dd / n, 9)
                    AS DECIMAL(18,9)) AS adn,
                  CAST(round(CAST(b AS DOUBLE) * c / n, 9)
                    AS DECIMAL(18,9)) AS bcn
           FROM (SELECT *, a + b + c + dd AS n FROM cells)
           WHERE n > 1)
         SELECT CAST(count(*) AS BIGINT) AS n_strata,
                round(round(CAST(sum(oe) AS DOUBLE), 6) *
                  round(CAST(sum(oe) AS DOUBLE), 6) /
                  round(CAST(sum(v) AS DOUBLE), 6), 6) AS cmh_chi2_6,
                round(round(CAST(sum(adn) AS DOUBLE), 6) /
                  nullif(round(CAST(sum(bcn) AS DOUBLE), 6), 0.0), 6)
                  AS or_mh6
         FROM terms""")
}
