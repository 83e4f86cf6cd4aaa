package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Round-12 batch ten: governance operators — the fairness audit of a
  * selection rule across protected groups (disparate impact +
  * equalized-odds components) and the population-stability index
  * (the industry-standard binned drift score, complementing the
  * exact-KS ks1 and KL kld1 detectors). Sits with anon1/dp1 in the
  * stewardship family.
  */
object Guard extends QueryModule {

  /** fair1: audit of the length-based quality gate (n_chars > 300)
    * across language groups, with the word-count rule (>= 58 spaces)
    * as the outcome proxy: per group, selection rate, disparate-
    * impact ratio vs the LARGEST group (deterministic reference:
    * max n, ties by lang), and the equalized-odds components
    * (TPR/FPR). Rates are exact-count rationals; one aggregate + one
    * broadcast reference row.
    */
  def fair1BiasAudit(s: SparkSession, d: String): DataFrame = {
    val scored = Tables.documents(s, d)
      .select(col("lang"),
        (col("n_chars") > 300).cast("int").as("sel"),
        ((length(col("text")) -
          length(regexp_replace(col("text"), " ", ""))) >= 58)
          .cast("int").as("y"))
    val groups = scored.groupBy(col("lang"))
      .agg(count(lit(1)).as("n"),
        sum(col("sel")).as("n_sel"),
        sum(when(col("y") === 1 && col("sel") === 1, 1L).otherwise(0L))
          .as("tp"),
        sum(col("y")).as("n_pos"),
        sum(when(col("y") === 0 && col("sel") === 1, 1L).otherwise(0L))
          .as("fp"))
    val wRef = Window.orderBy(col("n").desc, col("lang"))
    val ref = groups.withColumn("r", row_number().over(wRef))
      .filter(col("r") === 1)
      .select((col("n_sel").cast("double") / col("n")).as("ref_rate"))
    groups.crossJoin(broadcast(ref))
      .select(col("lang"), col("n"),
        round(col("n_sel").cast("double") / col("n"), 6)
          .as("sel_rate6"),
        round(col("n_sel").cast("double") / col("n") /
          col("ref_rate"), 6).as("di_ratio6"),
        round(col("tp").cast("double") /
          nullif(col("n_pos"), lit(0L)), 6).as("tpr6"),
        round(col("fp").cast("double") /
          nullif(col("n") - col("n_pos"), lit(0L)), 6).as("fpr6"))
  }

  /** psi1: population stability index per event type — days 1-15 are
    * the reference, 16-30 the current window; bins are the
    * reference's deciles (edges = max value of ntile 1..9, ties fall
    * into the lower bin), shares are add-one smoothed so an empty
    * current bin stays finite; PSI terms are 6-dp DECIMAL summands.
    * Flag at the conventional 0.2 threshold. Edges are a broadcast
    * (type x 9)-bounded table; everything else is aggregates.
    */
  def psi1Stability(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("event_type"), col("value"),
        (dayofmonth(col("ts")) <= 15).as("is_ref"))
    // deterministic decile edges from the reference half: max(value)
    // per ntile bucket depends only on the sorted multiset, so no
    // tiebreak is needed
    val edges = ev.filter(col("is_ref"))
      .withColumn("nt", ntile(10).over(
        Window.partitionBy(col("event_type"))
          .orderBy(col("value"))))
      .groupBy(col("event_type"), col("nt"))
      .agg(max(col("value")).as("edge"))
      .filter(col("nt") <= 9)
    // collapse to value-level counts FIRST, then count edges below
    // each distinct value (ties fall into the lower bin)
    val vals = ev.groupBy(col("event_type"), col("is_ref"),
        col("value"))
      .agg(count(lit(1)).as("m"))
    val binned = vals
      .join(broadcast(edges), Seq("event_type"), "left")
      .groupBy(col("event_type"), col("is_ref"), col("value"))
      .agg(max(col("m")).as("m"),
        (sum(when(col("edge") < col("value"), 1L).otherwise(0L)) + 1)
          .as("bin"))
    val shares = binned.groupBy(col("event_type"), col("bin"))
      .agg(sum(when(col("is_ref"), col("m")).otherwise(0L)).as("nr"),
        sum(when(!col("is_ref"), col("m")).otherwise(0L)).as("nc"))
    val tot = shares.groupBy(col("event_type"))
      .agg(sum(col("nr")).as("tr"), sum(col("nc")).as("tc"))
    shares.join(broadcast(tot), Seq("event_type"))
      .select(col("event_type"), col("nr"), col("nc"),
        ((col("nr") + 1).cast("double") / (col("tr") + 10)).as("pr"),
        ((col("nc") + 1).cast("double") / (col("tc") + 10)).as("pc"))
      .withColumn("term",
        round((col("pc") - col("pr")) * log(col("pc") / col("pr")), 6)
          .cast("decimal(18,6)"))
      .groupBy(col("event_type"))
      .agg(sum(col("nr")).cast("long").as("n_ref"),
        sum(col("nc")).cast("long").as("n_cur"),
        round(sum(col("term")).cast("double"), 6).as("psi6"))
      .withColumn("drift_flag", (col("psi6") > 0.2).cast("int"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "fair1_bias_audit" -> (fair1BiasAudit _),
    "psi1_stability" -> (psi1Stability _))

  val oracles: Map[String, String] = Map(
    "fair1_bias_audit" ->
      """WITH scored AS (
           SELECT lang,
                  CASE WHEN n_chars > 300 THEN 1 ELSE 0 END AS sel,
                  CASE WHEN length(text) -
                       length(replace(text, ' ', '')) >= 58
                       THEN 1 ELSE 0 END AS y
           FROM documents),
         groups AS MATERIALIZED (
           SELECT lang, CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(sel) AS BIGINT) AS n_sel,
                  CAST(sum(CASE WHEN y = 1 AND sel = 1
                    THEN 1 ELSE 0 END) AS BIGINT) AS tp,
                  CAST(sum(y) AS BIGINT) AS n_pos,
                  CAST(sum(CASE WHEN y = 0 AND sel = 1
                    THEN 1 ELSE 0 END) AS BIGINT) AS fp
           FROM scored GROUP BY 1),
         ref AS (
           SELECT CAST(n_sel AS DOUBLE) / n AS ref_rate FROM (
             SELECT *, row_number() OVER (ORDER BY n DESC, lang) AS r
             FROM groups) WHERE r = 1)
         SELECT lang, n,
                round(CAST(n_sel AS DOUBLE) / n, 6) AS sel_rate6,
                round(CAST(n_sel AS DOUBLE) / n / ref_rate, 6)
                  AS di_ratio6,
                round(CAST(tp AS DOUBLE) / nullif(n_pos, 0), 6)
                  AS tpr6,
                round(CAST(fp AS DOUBLE) / nullif(n - n_pos, 0), 6)
                  AS fpr6
         FROM groups, ref""",
    "psi1_stability" ->
      """WITH ev AS MATERIALIZED (
           SELECT event_type, value,
                  CAST(day(ts) AS INT) <= 15 AS is_ref
           FROM events),
         edges AS MATERIALIZED (
           SELECT event_type, nt, max(value) AS edge FROM (
             SELECT event_type, value,
                    ntile(10) OVER (PARTITION BY event_type
                      ORDER BY value) AS nt
             FROM ev WHERE is_ref)
           GROUP BY 1, 2 HAVING nt <= 9),
         vals AS MATERIALIZED (
           SELECT event_type, is_ref, value,
                  CAST(count(*) AS BIGINT) AS m
           FROM ev GROUP BY 1, 2, 3),
         binned AS (
           SELECT vals.event_type, is_ref, value,
                  max(m) AS m,
                  CAST(sum(CASE WHEN edge < value THEN 1 ELSE 0 END)
                    + 1 AS BIGINT) AS bin
           FROM vals LEFT JOIN edges
             ON vals.event_type = edges.event_type
           GROUP BY 1, 2, 3),
         shares AS (
           SELECT event_type, bin,
                  CAST(sum(CASE WHEN is_ref THEN m ELSE 0 END)
                    AS BIGINT) AS nr,
                  CAST(sum(CASE WHEN NOT is_ref THEN m ELSE 0 END)
                    AS BIGINT) AS nc
           FROM binned GROUP BY 1, 2),
         tot AS (
           SELECT event_type, CAST(sum(nr) AS BIGINT) AS tr,
                  CAST(sum(nc) AS BIGINT) AS tc
           FROM shares GROUP BY 1),
         terms AS (
           SELECT shares.event_type, nr, nc,
                  CAST(round(
                    (CAST(nc + 1 AS DOUBLE) / (tc + 10) -
                     CAST(nr + 1 AS DOUBLE) / (tr + 10)) *
                    ln((CAST(nc + 1 AS DOUBLE) / (tc + 10)) /
                       (CAST(nr + 1 AS DOUBLE) / (tr + 10))), 6)
                    AS DECIMAL(18,6)) AS term
           FROM shares JOIN tot ON shares.event_type = tot.event_type)
         SELECT event_type, CAST(sum(nr) AS BIGINT) AS n_ref,
                CAST(sum(nc) AS BIGINT) AS n_cur,
                round(CAST(sum(term) AS DOUBLE), 6) AS psi6,
                CASE WHEN round(CAST(sum(term) AS DOUBLE), 6) > 0.2
                  THEN 1 ELSE 0 END AS drift_flag
         FROM terms GROUP BY 1""")
}
