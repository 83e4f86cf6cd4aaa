package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Round-12 batch seven: panel econometrics and model validation —
  * two-way fixed-effects regression (the within estimator: both
  * entity and time confounding demeaned away) and k-fold
  * cross-validation of an OLS model trained from SUFFICIENT
  * STATISTICS (train-on-complement = total sums minus fold sums — no
  * per-fold re-scan of the data, the distributed CV trick).
  */
object Panel extends QueryModule {

  /** pid1: two-way fixed-effects slope of monthly customer spend on
    * monthly order count. Cells aggregate once; customer means join
    * back co-partitioned on the cell key, month means and the grand
    * mean broadcast; the within moments are 6-dp DECIMAL term sums
    * (order-free), means 9-dp requantized.
    */
  def pid1PanelFixedEffects(s: SparkSession, d: String): DataFrame = {
    val cells = Tables.orders(s, d)
      .groupBy(col("o_custkey").as("ck"),
        date_trunc("month", col("o_orderdate")).as("mon"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("yd"),
        count(lit(1)).as("x"))
      .select(col("ck"), col("mon"), col("yd").cast("double").as("y"),
        col("x").cast("double").as("x"), col("yd"), col("x").as("xl"))
    val cMean = cells.groupBy(col("ck"))
      .agg(round(sum(col("yd")).cast("double") / count(lit(1)), 9)
        .as("ym_i"),
        round(sum(col("xl")).cast("double") / count(lit(1)), 9)
          .as("xm_i"))
    val tMean = cells.groupBy(col("mon"))
      .agg(round(sum(col("yd")).cast("double") / count(lit(1)), 9)
        .as("ym_t"),
        round(sum(col("xl")).cast("double") / count(lit(1)), 9)
          .as("xm_t"))
    val grand = cells
      .agg(round(sum(col("yd")).cast("double") / count(lit(1)), 9)
        .as("ym_g"),
        round(sum(col("xl")).cast("double") / count(lit(1)), 9)
          .as("xm_g"))
    val demeaned = cells
      .join(cMean, Seq("ck"))
      .join(broadcast(tMean), Seq("mon"))
      .crossJoin(broadcast(grand))
      .select(
        (col("y") - col("ym_i") - col("ym_t") + col("ym_g")).as("yt"),
        (col("x") - col("xm_i") - col("xm_t") + col("xm_g")).as("xt"))
    demeaned.agg(count(lit(1)).as("n_cells"),
      sum(round(col("xt") * col("yt"), 6).cast("decimal(28,6)"))
        .cast("double").as("sxy"),
      sum(round(col("xt") * col("xt"), 6).cast("decimal(28,6)"))
        .cast("double").as("sxx"))
      .select(col("n_cells"),
        round(col("sxy") / col("sxx"), 6).as("fe_slope6"))
  }

  /** cv1: 5-fold cross-validated OLS of event value on time. Folds by
    * portable knuth hash of the event id; each fold's TRAIN model
    * assembles from (total - fold) sufficient statistics — one
    * aggregate builds all five models, no per-fold re-scan — and the
    * second (and only other) pass scores every row against its own
    * fold's complement model.
    */
  def cv1KfoldOls(s: SparkSession, d: String): DataFrame = {
    val base = Tables.events(s, d)
      .select((floor(col("ts").cast("long") / 3600) - lit(473352L))
        .as("x"),
        col("value").as("y"),
        pmod(col("event_id") * lit(2654435761L) + lit(11L),
          lit(4294967296L)).mod(5).cast("int").as("fold"))
    val foldSums = base.groupBy(col("fold"))
      .agg(count(lit(1)).as("n"),
        sum(col("x").cast("decimal(18,0)")).cast("double").as("sx"),
        sum(col("y").cast("decimal(18,2)")).cast("double").as("sy"),
        sum((col("x") * col("x")).cast("decimal(27,0)")).cast("double")
          .as("sxx"),
        sum((col("x").cast("decimal(9,0)") *
          col("y").cast("decimal(18,2)")).cast("decimal(27,2)"))
          .cast("double").as("sxy"))
      .localCheckpoint(true) // bounded: 5 rows
    val tot = foldSums.agg(sum(col("n")).as("tn"),
      sum(col("sx")).as("tsx"), sum(col("sy")).as("tsy"),
      sum(col("sxx")).as("tsxx"), sum(col("sxy")).as("tsxy"))
    val params = foldSums.crossJoin(broadcast(tot))
      .select(col("fold"), col("n").as("n_test"),
        (col("tn") - col("n")).cast("double").as("cn"),
        (col("tsx") - col("sx")).as("csx"),
        (col("tsy") - col("sy")).as("csy"),
        (col("tsxx") - col("sxx")).as("csxx"),
        (col("tsxy") - col("sxy")).as("csxy"))
      .select(col("fold"), col("n_test"),
        round((col("cn") * col("csxy") - col("csx") * col("csy")) /
          (col("cn") * col("csxx") - col("csx") * col("csx")), 9)
          .as("slope"),
        col("cn"), col("csy"), col("csx"))
      .select(col("fold"), col("n_test"), col("slope"),
        round((col("csy") - col("slope") * col("csx")) / col("cn"), 9)
          .as("icept"))
    base.join(broadcast(params), Seq("fold"))
      .withColumn("r", col("y") - (col("icept") + col("slope") * col("x")))
      .groupBy(col("fold"))
      .agg(first(col("n_test")).as("n_test"),
        round(first(col("slope")), 6).as("slope6"),
        round(first(col("icept")), 6).as("icept6"),
        round(sum(round(col("r") * col("r"), 4).cast("decimal(28,4)"))
          .cast("double") / count(lit(1)), 6).as("mse6"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "pid1_panel_fe" -> (pid1PanelFixedEffects _),
    "cv1_kfold_ols" -> (cv1KfoldOls _))

  val oracles: Map[String, String] = Map(
    "pid1_panel_fe" ->
      """WITH cells AS MATERIALIZED (
           SELECT o_custkey AS ck,
                  date_trunc('month', o_orderdate) AS mon,
                  sum(CAST(o_totalprice AS DECIMAL(18,2))) AS yd,
                  CAST(count(*) AS BIGINT) AS xl
           FROM orders GROUP BY 1, 2),
         cm AS MATERIALIZED (
           SELECT ck, round(CAST(sum(yd) AS DOUBLE) / count(*), 9)
                    AS ym_i,
                  round(CAST(sum(xl) AS DOUBLE) / count(*), 9) AS xm_i
           FROM cells GROUP BY 1),
         tm AS MATERIALIZED (
           SELECT mon, round(CAST(sum(yd) AS DOUBLE) / count(*), 9)
                    AS ym_t,
                  round(CAST(sum(xl) AS DOUBLE) / count(*), 9) AS xm_t
           FROM cells GROUP BY 1),
         g AS (SELECT round(CAST(sum(yd) AS DOUBLE) / count(*), 9)
                 AS ym_g,
                round(CAST(sum(xl) AS DOUBLE) / count(*), 9) AS xm_g
               FROM cells),
         dm AS (
           SELECT CAST(yd AS DOUBLE) - ym_i - ym_t + ym_g AS yt,
                  CAST(xl AS DOUBLE) - xm_i - xm_t + xm_g AS xt
           FROM cells JOIN cm USING (ck) JOIN tm USING (mon), g)
         SELECT CAST(count(*) AS BIGINT) AS n_cells,
                round(CAST(sum(CAST(round(xt * yt, 6)
                    AS DECIMAL(28,6))) AS DOUBLE) /
                  CAST(sum(CAST(round(xt * xt, 6) AS DECIMAL(28,6)))
                    AS DOUBLE), 6) AS fe_slope6
         FROM dm""",
    "cv1_kfold_ols" ->
      """WITH base AS MATERIALIZED (
           SELECT CAST(floor(epoch(ts) / 3600) - 473352 AS BIGINT)
                    AS x,
                  value AS y,
                  CAST((event_id * 2654435761 + 11) % 4294967296 % 5
                    AS INT) AS fold
           FROM events),
         fs AS MATERIALIZED (
           SELECT fold, CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(CAST(x AS DECIMAL(18,0))) AS DOUBLE) AS sx,
                  CAST(sum(CAST(y AS DECIMAL(18,2))) AS DOUBLE) AS sy,
                  CAST(sum(CAST(x * x AS DECIMAL(27,0))) AS DOUBLE)
                    AS sxx,
                  CAST(sum(CAST(CAST(x AS DECIMAL(9,0)) *
                    CAST(y AS DECIMAL(18,2)) AS DECIMAL(27,2)))
                    AS DOUBLE) AS sxy
           FROM base GROUP BY 1),
         tot AS (SELECT CAST(sum(n) AS BIGINT) AS tn,
                   sum(sx) AS tsx, sum(sy) AS tsy,
                   sum(sxx) AS tsxx, sum(sxy) AS tsxy FROM fs),
         params AS MATERIALIZED (
           SELECT fold, n AS n_test,
                  round((CAST(tn - n AS DOUBLE) * (tsxy - sxy) -
                      (tsx - sx) * (tsy - sy)) /
                    (CAST(tn - n AS DOUBLE) * (tsxx - sxx) -
                      (tsx - sx) * (tsx - sx)), 9) AS slope,
                  CAST(tn - n AS DOUBLE) AS cn,
                  tsy - sy AS csy, tsx - sx AS csx
           FROM fs, tot),
         p2 AS (SELECT fold, n_test, slope,
                  round((csy - slope * csx) / cn, 9) AS icept
                FROM params)
         SELECT fold, n_test, round(slope, 6) AS slope6,
                round(icept, 6) AS icept6,
                round(CAST(sum(CAST(round(
                    (y - (icept + slope * x)) *
                    (y - (icept + slope * x)), 4) AS DECIMAL(28,4)))
                  AS DOUBLE) / count(*), 6) AS mse6
         FROM base JOIN p2 USING (fold)
         GROUP BY 1, 2, 3, 4""")
}
