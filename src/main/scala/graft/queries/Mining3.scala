package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ops.Ops.dsum
import graft.sampling.Sampling.knuthPriority

/** Round-10 batch three: missing-data repair (deterministic
  * missingness + group-median imputation), offline changepoint
  * detection (CUSUM over the daily series), temperature-rebalanced
  * source sampling (the multinomial corpus-mixing rule LLM data
  * recipes use, at alpha = 1/2), and QQ quantile pairs between two
  * slices (the magnitude complement of ks1's sup-distance drift
  * score).
  *
  * Exactness: imp1/qq1 keep everything INTEGER cents with rank-picked
  * lower medians/quantiles (the mad1 discipline — interpolating
  * percentile implementations disagree in the last ULP across
  * engines); cpt1 derives each cumulative deviation from an exact
  * DECIMAL prefix sum and one multiply+subtract; mix3's only
  * irrational step is sqrt (correctly rounded IEEE), and per-source
  * terms are rounded to 6 dp then DECIMAL-summed before the ratio, so
  * the keep thresholds are bit-identical integers in both engines.
  */
object Mining3 extends QueryModule {

  // ---- imp1: deterministic missingness + group-median imputation -----

  /** Repair pipeline for missing values: rows whose
    * knuth(event_id) % 10 == 0 are DEFINED missing (deterministic
    * missingness so the whole pipeline replays bit-identically), and
    * each missing value imputes to the LOWER MEDIAN of its
    * event_type's present values, computed in integer cents by rank
    * pick — no interpolation, no floats until the final /100. Shape:
    * the median derives from a distinct-cents aggregate with
    * cumulative counts (the ks1/auc1 ordered-scan-on-the-aggregate
    * rule), broadcast back over the stream; one scan of the events.
    */
  def imp1MedianImpute(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .withColumn("cents", round(col("value") * 100, 0).cast("long"))
      .withColumn("miss",
        (pmod(knuthPriority(col("event_id"), 0L), lit(10L)) === 0).cast("int"))
    val present = ev.filter(col("miss") === 0)
    val byVal = present.groupBy(col("event_type"), col("cents"))
      .agg(count(lit(1)).as("cnt"))
    val wOrd = Window.partitionBy(col("event_type")).orderBy(col("cents"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = byVal
      .withColumn("below", coalesce(sum(col("cnt")).over(wOrd), lit(0L)))
    val n = present.groupBy("event_type").agg(count(lit(1)).as("n"))
    // lower median = smallest cents whose cumulative count reaches
    // ceil(n/2); integer arithmetic only
    val med = ranked.join(n, "event_type")
      // ceil(n/2) via integer division — Column./ is FLOAT division,
      // which would shift the even-n median up one rank vs the oracle
      .filter(col("below") + col("cnt") >= expr("(n + 1) div 2"))
      .groupBy("event_type").agg(min(col("cents")).as("med_cents"))
    ev.join(broadcast(med), "event_type")
      .select(col("event_id"), col("event_type"), col("miss"),
        (when(col("miss") === 1, col("med_cents")).otherwise(col("cents"))
          .cast("double") / 100).as("value_imputed"))
  }

  // ---- cpt1: CUSUM changepoint over the daily revenue series ---------

  /** Offline CUSUM changepoint scan: S_i = sum_{j<=i}(rev_j - mu) over
    * the day-ordered series; the changepoint estimate is the day
    * maximizing |S_i| (ties break to the earlier day). S_i is computed
    * as exact_prefix_sum_i - i*mu — the prefix sum stays exact DECIMAL
    * cents, and the float tail is one multiply and one subtract from
    * identical inputs, so every S_i matches the oracle bitwise. The
    * stream collapses to per-day sums FIRST; the ordered scan runs on
    * the #days aggregate (ks1 discipline).
    */
  def cpt1CusumChangepoint(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.events(s, d)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(dsum(col("value")).as("rev"))
    val w = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val pref = daily
      .withColumn("i", row_number().over(Window.orderBy(col("day"))).cast("long"))
      .withColumn("psum",
        sum(col("rev").cast("decimal(18,2)")).over(w).cast("double"))
    val stats = daily.agg(count(lit(1)).as("n_days"),
      dsum(col("rev")).as("sx"))
    val scored = pref.crossJoin(broadcast(stats))
      .withColumn("cusum",
        col("psum") - col("i").cast("double") * (col("sx") / col("n_days")))
    scored
      .withColumn("rk", row_number().over(
        Window.orderBy(abs(col("cusum")).desc, col("day"))))
      .select(col("day"), round(col("cusum"), 6).as("cusum6"),
        (col("rk") === 1).cast("int").as("is_changepoint"))
  }

  // ---- mix3: temperature-rebalanced source sampling ------------------

  /** Corpus-mixing at temperature alpha = 1/2: each source's target
    * weight is sqrt(its token share), normalized — the standard
    * flattening that up-samples small sources without letting any
    * source dominate (alpha=1 is proportional, alpha=0 uniform; 1/2 is
    * the only alpha whose power is a correctly-rounded single IEEE op,
    * which is what makes the rule engine-exact). Every doc keeps with
    * probability 0.9 * rate_s / max_rate via the knuth hash of its id,
    * so the draw is deterministic and the kept set reproduces exactly
    * anywhere. Per-source sqrt terms round to 6 dp and sum as DECIMAL
    * (sum order cannot move the normalizer); thresholds become plain
    * integer compares.
    */
  def mix3TemperatureSample(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("toks"))
    val bySrc = docs.groupBy("source").agg(sum(col("toks")).as("tok_s"))
    val tot = bySrc.agg(sum(col("tok_s")).as("tok_tot"))
    val rates = bySrc.crossJoin(broadcast(tot))
      .withColumn("sq6",
        round(sqrt(col("tok_s").cast("double") / col("tok_tot")), 6)
          .cast("decimal(18,6)"))
    val denom = rates.agg(max(col("sq6")).as("sq_max"))
    val keyed = rates.crossJoin(broadcast(denom))
      .withColumn("keep_ppm",
        floor(lit(900000.0) * (col("sq6").cast("double") /
          col("sq_max").cast("double"))).cast("long"))
      .select(col("source"), col("keep_ppm"))
    docs.join(broadcast(keyed), "source")
      .withColumn("keep",
        (pmod(knuthPriority(col("doc_id"), 7L), lit(1000000L)) <
          col("keep_ppm")).cast("int"))
      .select(col("doc_id"), col("source"), col("keep_ppm"), col("keep"))
  }

  // ---- qq1: QQ quantile pairs between two slices ---------------------

  /** Decile-by-decile QQ comparison of the purchase and click value
    * distributions: for q = 1..9 the lower q-th decile of each slice
    * in integer cents, plus the per-decile shift. Where ks1 reports
    * only the sup-distance, the QQ table shows WHERE and BY HOW MUCH
    * the distributions differ. Rank-picked lower quantiles on the
    * distinct-cents aggregate — all integers, mad1 discipline.
    */
  def qq1QuantilePairs(s: SparkSession, d: String): DataFrame = {
    def deciles(ev: DataFrame, label: String): DataFrame = {
      val byVal = ev.groupBy(col("cents")).agg(count(lit(1)).as("cnt"))
      // distinct cents track the value domain: the below-count runs
      // the distributed prefix kernel, not a global window
      val ranked = graft.ops.GlobalRank.prefixScan(byVal,
        Seq(col("cents")),
        Seq(graft.ops.GlobalRank.Scan("below", col("cnt"),
          inclusive = false)))
      val n = ev.agg(count(lit(1)).as("n"))
      val qs = s.range(1, 10).select(col("id").as("q"))
      ranked.crossJoin(broadcast(n)).crossJoin(broadcast(qs))
        // lower q-th decile = smallest cents with cum count >=
        // ceil(q*n/10); integer div (see imp1 note)
        .filter(col("below") + col("cnt") >= expr("(q * n + 9) div 10"))
        .groupBy("q").agg(min(col("cents")).as(label))
    }
    val ev = Tables.events(s, d)
      .withColumn("cents", round(col("value") * 100, 0).cast("long"))
    val a = deciles(ev.filter(col("event_type") === "purchase"), "purchase_cents")
    val b = deciles(ev.filter(col("event_type") === "click"), "click_cents")
    a.join(b, "q")
      .select(col("q"), col("purchase_cents"), col("click_cents"),
        (col("purchase_cents") - col("click_cents")).as("shift_cents"))
  }

  // ---- registry ------------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "imp1_median_impute" -> (imp1MedianImpute _),
    "cpt1_cusum_changepoint" -> (cpt1CusumChangepoint _),
    "mix3_temperature_sample" -> (mix3TemperatureSample _),
    "qq1_quantile_pairs" -> (qq1QuantilePairs _))

  val oracles: Map[String, String] = Map(
    "imp1_median_impute" ->
      """WITH ev AS MATERIALIZED (
           SELECT event_id, event_type,
                  CAST(round(value * 100, 0) AS BIGINT) AS cents,
                  CAST((event_id * 2654435761 % 4294967296) % 10 = 0
                       AS INT) AS miss
           FROM events),
         present AS (SELECT * FROM ev WHERE miss = 0),
         byval AS (SELECT event_type, cents, count(*) AS cnt
                   FROM present GROUP BY 1, 2),
         rk AS (SELECT event_type, cents, cnt,
                  coalesce(sum(cnt) OVER (PARTITION BY event_type
                    ORDER BY cents
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS below
                FROM byval),
         n AS (SELECT event_type, count(*) AS n FROM present GROUP BY 1),
         med AS (SELECT event_type, min(cents) AS med_cents
                 FROM rk JOIN n USING (event_type)
                 WHERE below + cnt >= (n + 1) // 2
                 GROUP BY event_type)
         SELECT event_id, ev.event_type, miss,
                CAST(CASE WHEN miss = 1 THEN med_cents ELSE cents END
                     AS DOUBLE) / 100 AS value_imputed
         FROM ev JOIN med ON ev.event_type = med.event_type""",
    "cpt1_cusum_changepoint" ->
      """WITH daily AS MATERIALIZED (
           SELECT CAST(ts AS DATE) AS day,
                  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS rev
           FROM events GROUP BY 1),
         pref AS (SELECT day,
                  CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS i,
                  CAST(sum(CAST(rev AS DECIMAL(18,2))) OVER (ORDER BY day
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS DOUBLE) AS psum
                  FROM daily),
         st AS (SELECT count(*) AS n_days,
                  CAST(sum(CAST(rev AS DECIMAL(18,2))) AS DOUBLE) AS sx
                FROM daily),
         scored AS (SELECT day,
                  psum - CAST(i AS DOUBLE) * (sx / n_days) AS cusum
                  FROM pref, st),
         rk AS (SELECT day, cusum, row_number() OVER (
                  ORDER BY abs(cusum) DESC, day) AS rk FROM scored)
         SELECT day, round(cusum, 6) AS cusum6,
                CAST(rk = 1 AS INT) AS is_changepoint
         FROM rk""",
    "mix3_temperature_sample" ->
      """WITH docs AS MATERIALIZED (
           SELECT doc_id, source,
                  CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
           FROM documents),
         bysrc AS (SELECT source, sum(toks) AS tok_s FROM docs GROUP BY 1),
         tot AS (SELECT sum(tok_s) AS tok_tot FROM bysrc),
         rates AS (SELECT source,
                  CAST(round(sqrt(CAST(tok_s AS DOUBLE) / tok_tot), 6)
                       AS DECIMAL(18,6)) AS sq6
                   FROM bysrc, tot),
         mx AS (SELECT max(sq6) AS sq_max FROM rates),
         keyed AS (SELECT source,
                  CAST(FLOOR(900000.0 * (CAST(sq6 AS DOUBLE) /
                       CAST(sq_max AS DOUBLE))) AS BIGINT) AS keep_ppm
                   FROM rates, mx)
         SELECT doc_id, docs.source, keep_ppm,
                CAST(((doc_id * 2654435761 + 7) % 4294967296) % 1000000
                     < keep_ppm AS INT) AS keep
         FROM docs JOIN keyed ON docs.source = keyed.source""",
    "qq1_quantile_pairs" ->
      """WITH ev AS MATERIALIZED (
           SELECT event_type,
                  CAST(round(value * 100, 0) AS BIGINT) AS cents
           FROM events WHERE event_type IN ('purchase', 'click')),
         qs AS (SELECT unnest(generate_series(1, 9)) AS q),
         ds AS (
           SELECT et, q, min(cents) AS dec_cents FROM (
             SELECT et, cents, cnt,
                    coalesce(sum(cnt) OVER (PARTITION BY et ORDER BY cents
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                      AS below,
                    sum(cnt) OVER (PARTITION BY et) AS n
             FROM (SELECT event_type AS et, cents, count(*) AS cnt
                   FROM ev GROUP BY 1, 2)) r, qs
           WHERE below + cnt >= (q * n + 9) // 10
           GROUP BY 1, 2)
         SELECT a.q, a.dec_cents AS purchase_cents,
                b.dec_cents AS click_cents,
                a.dec_cents - b.dec_cents AS shift_cents
         FROM ds a JOIN ds b ON a.q = b.q
         WHERE a.et = 'purchase' AND b.et = 'click'""")
}
