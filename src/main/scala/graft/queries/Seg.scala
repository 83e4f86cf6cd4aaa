package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Round-12 batch eleven: ratio-metric inference and multi-changepoint
  * detection — the delta-method CI for ratio metrics (revenue per
  * session: the mean-of-sums metric whose naive variance is wrong)
  * and top-down binary segmentation (the multi-changepoint upgrade of
  * cpt1's single CUSUM shift).
  */
object Seg extends QueryModule {

  /** rm1: per-arm revenue-per-active-day ratio metric with the
    * delta-method standard error:
    * var(R/S) ~ (1/s̄²)(var(r) - 2R̄/S̄ cov(r,s) + R̄²/S̄² var(s))/n.
    * Per-user (revenue, active days) pairs aggregate once; all
    * moments are exact DECIMAL/integer sums; the CI assembles in
    * fixed IEEE order.
    */
  def rm1RatioDeltaCi(s: SparkSession, d: String): DataFrame = {
    val users = Tables.events(s, d)
      .filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(sum(col("value").cast("decimal(18,2)"))
        .cast("decimal(18,2)").as("r"),
        countDistinct(to_date(col("ts"))).as("sdays"))
      .withColumn("arm",
        pmod(col("user_id") * lit(2654435761L) + lit(23L),
          lit(4294967296L)).mod(2).cast("int"))
    users.groupBy(col("arm"))
      .agg(count(lit(1)).as("n"),
        sum(col("r")).cast("double").as("sr"),
        sum(col("sdays")).cast("double").as("ss"),
        sum((col("r") * col("r")).cast("decimal(28,4)")).cast("double")
          .as("srr"),
        sum((col("sdays") * col("sdays")).cast("decimal(28,0)"))
          .cast("double").as("sss"),
        sum((col("r") * col("sdays")).cast("decimal(28,2)"))
          .cast("double").as("srs"))
      .select(col("arm"), col("n"),
        round(col("sr") / col("ss"), 6).as("ratio6"),
        round(
          sqrt(greatest(lit(0.0),
            ((col("srr") - col("sr") * col("sr") / col("n")) -
              lit(2.0) * (col("sr") / col("ss")) *
              (col("srs") - col("sr") * col("ss") / col("n")) +
              (col("sr") / col("ss")) * (col("sr") / col("ss")) *
              (col("sss") - col("ss") * col("ss") / col("n"))) /
            (col("n") - 1) / col("n"))) /
          (col("ss") / col("n")), 6).as("se6"))
      .withColumn("ci_lo6", round(col("ratio6") - col("se6") * 1.96, 6))
      .withColumn("ci_hi6", round(col("ratio6") + col("se6") * 1.96, 6))
  }

  /** seg1: top-down binary segmentation of the daily revenue series —
    * the best split minimizes total within-segment SSE; each side then
    * splits once more (depth 2, up to 3 changepoints, segments >= 4
    * days). All candidate splits evaluate from prefix sums on the
    * day-bounded aggregate (the iso1 segment-average table, reused
    * for SSE); ties break toward the earliest day. Output: the
    * segment table (start day, n, mean).
    */
  def seg1BinarySegmentation(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.events(s, d)
      .filter(col("event_type") === "purchase")
      .groupBy(to_date(col("ts")).as("day"))
      .agg(sum(col("value").cast("decimal(18,2)")).as("rev"))
    val wPre = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val pre = daily
      .withColumn("i", count(lit(1)).over(wPre))
      .withColumn("cs", sum(col("rev")).over(wPre))
      .withColumn("css", sum((col("rev") * col("rev"))
        .cast("decimal(28,4)")).over(wPre))
      .select(col("i"), col("day"), col("rev").cast("double").as("y"),
        col("cs").cast("double").as("cs"),
        col("css").cast("double").as("css"))
      .localCheckpoint(true) // bounded: one row per day
    val n1 = pre.agg(max(col("i")).as("n"), max(col("cs")).as("ts"),
      max(col("css")).as("tss"))
    // sse of [a+1..b] given prefix rows at a and b (a=0 -> zeros)
    def sse(csA: org.apache.spark.sql.Column,
        cssA: org.apache.spark.sql.Column,
        nA: org.apache.spark.sql.Column,
        csB: org.apache.spark.sql.Column,
        cssB: org.apache.spark.sql.Column,
        nB: org.apache.spark.sql.Column) =
      round((cssB - cssA) -
        (csB - csA) * (csB - csA) / (nB - nA), 9)
    // depth-1 split: k in [4, n-4]; cost = sse(1..k) + sse(k+1..n)
    val cands1 = pre.crossJoin(broadcast(n1))
      .filter(col("i") >= 4 && col("i") <= col("n") - 4)
      .select(col("i").as("k1"),
        (sse(lit(0.0), lit(0.0), lit(0L), col("cs"), col("css"),
          col("i")) +
          sse(col("cs"), col("css"), col("i"), col("ts"), col("tss"),
            col("n"))).as("cost"))
    val k1 = cands1
      .withColumn("r", row_number().over(
        Window.orderBy(col("cost"), col("k1"))))
      .filter(col("r") === 1).select(col("k1"))
    // depth-2: best split of each side (if any legal candidate)
    val sides = pre.crossJoin(broadcast(n1)).crossJoin(broadcast(k1))
      .select(col("*"),
        when(col("i") <= col("k1"), lit(0)).otherwise(lit(1))
          .as("side"))
    val bounds = sides.groupBy(col("side"))
      .agg(min(col("i")).as("lo"), max(col("i")).as("hi"))
    // prefix rows at each side's edges: left edge lo-1 (zeros for
    // side 0, hence the left join + coalesce) and right edge hi
    val prefAt = pre.select(col("i").as("pi"), col("cs").as("pcs"),
      col("css").as("pcss"))
    val endPref = pre.select(col("i").as("ei"), col("cs").as("ecs"),
      col("css").as("ecss"))
    val cands2b = sides
      .join(broadcast(bounds), Seq("side"))
      .filter(col("i") >= col("lo") + 3 && col("i") <= col("hi") - 4)
      .join(broadcast(prefAt), col("pi") === col("lo") - 1, "left")
      .join(broadcast(endPref), col("ei") === col("hi"))
      .select(col("side"), col("i").as("k2"),
        (sse(coalesce(col("pcs"), lit(0.0)),
          coalesce(col("pcss"), lit(0.0)),
          col("lo") - 1, col("cs"), col("css"), col("i")) +
          sse(col("cs"), col("css"), col("i"), col("ecs"),
            col("ecss"), col("hi"))).as("cost"))
    val k2 = cands2b
      .withColumn("r", row_number().over(
        Window.partitionBy(col("side"))
          .orderBy(col("cost"), col("k2"))))
      .filter(col("r") === 1).select(col("k2"))
    // segment assembly: boundaries = {k1} U k2s
    val cuts = k1.select(col("k1").as("cut"))
      .unionAll(k2.select(col("k2").as("cut")))
    val seg = pre.crossJoin(broadcast(cuts))
      .groupBy(col("i"), col("day"), col("y"))
      .agg(sum(when(col("cut") < col("i"), 1).otherwise(0)).as("segid"))
    seg.groupBy(col("segid"))
      .agg(min(col("day")).as("start_day"), count(lit(1)).as("n_days"),
        round(sum(col("y").cast("decimal(18,2)")).cast("double") /
          count(lit(1)), 6).as("mean6"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "rm1_ratio_delta_ci" -> (rm1RatioDeltaCi _),
    "seg1_binary_segmentation" -> (seg1BinarySegmentation _))

  val oracles: Map[String, String] = Map(
    "rm1_ratio_delta_ci" ->
      """WITH users AS MATERIALIZED (
           SELECT user_id,
                  CAST(sum(CAST(value AS DECIMAL(18,2)))
                    AS DECIMAL(18,2)) AS r,
                  CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT)
                    AS sdays,
                  CAST((user_id * 2654435761 + 23) % 4294967296 % 2
                    AS INT) AS arm
           FROM events WHERE event_type = 'purchase' GROUP BY 1),
         m AS (
           SELECT arm, CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(r) AS DOUBLE) AS sr,
                  CAST(sum(sdays) AS DOUBLE) AS ss,
                  CAST(sum(CAST(r * r AS DECIMAL(28,4))) AS DOUBLE)
                    AS srr,
                  CAST(sum(CAST(sdays * sdays AS DECIMAL(28,0)))
                    AS DOUBLE) AS sss,
                  CAST(sum(CAST(r * sdays AS DECIMAL(28,2)))
                    AS DOUBLE) AS srs
           FROM users GROUP BY 1),
         est AS (
           SELECT arm, n, round(sr / ss, 6) AS ratio6,
                  round(sqrt(greatest(0.0,
                    ((srr - sr * sr / n) -
                     2.0 * (sr / ss) * (srs - sr * ss / n) +
                     (sr / ss) * (sr / ss) * (sss - ss * ss / n)) /
                    (n - 1) / n)) / (ss / n), 6) AS se6
           FROM m)
         SELECT arm, n, ratio6, se6,
                round(ratio6 - 1.96 * se6, 6) AS ci_lo6,
                round(ratio6 + 1.96 * se6, 6) AS ci_hi6
         FROM est""",
    "seg1_binary_segmentation" ->
      """WITH daily AS MATERIALIZED (
           SELECT CAST(ts AS DATE) AS day,
                  sum(CAST(value AS DECIMAL(18,2))) AS rev
           FROM events WHERE event_type = 'purchase' GROUP BY 1),
         pre AS MATERIALIZED (
           SELECT CAST(row_number() OVER (ORDER BY day) AS BIGINT)
                    AS i,
                  day, CAST(rev AS DOUBLE) AS y,
                  CAST(sum(rev) OVER w AS DOUBLE) AS cs,
                  CAST(sum(CAST(rev * rev AS DECIMAL(28,4))) OVER w
                    AS DOUBLE) AS css
           FROM daily
           WINDOW w AS (ORDER BY day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         nn AS (SELECT max(i) AS n, max(cs) AS ts, max(css) AS tss
                FROM pre),
         c1 AS (
           SELECT i AS k1,
                  round(css - cs * cs / i, 9) +
                  round((tss - css) - (ts - cs) * (ts - cs) / (n - i),
                    9) AS cost
           FROM pre, nn WHERE i >= 4 AND i <= n - 4),
         k1 AS MATERIALIZED (
           SELECT k1 FROM (SELECT k1, row_number()
             OVER (ORDER BY cost, k1) AS r FROM c1) WHERE r = 1),
         sides AS MATERIALIZED (
           SELECT pre.*, CASE WHEN i <= k1.k1 THEN 0 ELSE 1 END
                    AS side
           FROM pre, k1),
         bounds AS MATERIALIZED (
           SELECT side, min(i) AS lo, max(i) AS hi
           FROM sides GROUP BY 1),
         c2 AS (
           SELECT side, s.i AS k2,
                  round((s.css - coalesce(p.css, 0.0)) -
                    (s.cs - coalesce(p.cs, 0.0)) *
                    (s.cs - coalesce(p.cs, 0.0)) /
                    (s.i - (b.lo - 1)), 9) +
                  round((e.css - s.css) - (e.cs - s.cs) *
                    (e.cs - s.cs) / (b.hi - s.i), 9) AS cost
           FROM sides s
           JOIN bounds b USING (side)
           LEFT JOIN pre p ON p.i = b.lo - 1
           JOIN pre e ON e.i = b.hi
           WHERE s.i >= b.lo + 3 AND s.i <= b.hi - 4),
         k2 AS MATERIALIZED (
           SELECT k2 FROM (SELECT side, k2, row_number()
             OVER (PARTITION BY side ORDER BY cost, k2) AS r FROM c2)
           WHERE r = 1),
         cuts AS (SELECT k1 AS cut FROM k1
                  UNION ALL SELECT k2 FROM k2),
         seg AS (
           SELECT i, day, y,
                  CAST(sum(CASE WHEN cut < i THEN 1 ELSE 0 END)
                    AS BIGINT) AS segid
           FROM pre, cuts GROUP BY 1, 2, 3)
         SELECT segid, min(day) AS start_day,
                CAST(count(*) AS BIGINT) AS n_days,
                round(CAST(sum(CAST(y AS DECIMAL(18,2))) AS DOUBLE)
                  / count(*), 6) AS mean6
         FROM seg GROUP BY 1""")
}
