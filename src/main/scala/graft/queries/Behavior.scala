package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Round-11 batch one: behavioral / feature-engineering primitives —
  * marketing-style last-touch attribution, Welch's unequal-variance
  * t-test, a Benford first-digit audit, weight-of-evidence (WOE/IV)
  * categorical encoding, and leave-one-out target encoding (the
  * standard leakage-free mean encoder for tree/GBM features).
  *
  * Exactness: every mean/variance starts from an exact DECIMAL sum
  * (value and price carry 2 dp; squares carry 4 dp and stay inside
  * DECIMAL(38,4)), and every irrational (ln, sqrt) is applied once to
  * an identical double on both engines, in a fixed single-IEEE-op
  * assembly order, then rounded to 6 dp — the established reg2/tw1
  * discipline.
  */
object Behavior extends QueryModule {

  // ---- att1: last-touch attribution -----------------------------------

  /** Last-touch revenue attribution: each purchase is credited to the
    * user's most recent PRECEDING click/view ("direct" when none).
    * One per-user window (ordered ts, event_id — deterministic under
    * timestamp ties) computes the running last touch with
    * `last(..., ignoreNulls)` over UNBOUNDED PRECEDING..1 PRECEDING,
    * then a channel aggregate rolls up count + exact-DECIMAL revenue.
    * Scale: the window partitions by user_id — parallel across the
    * user key, no global ordering anywhere.
    */
  def att1LastTouch(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.events(s, d)
      .withColumn("touch",
        last(when(col("event_type").isin("click", "view"),
          col("event_type")), ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .select(coalesce(col("touch"), lit("direct")).as("channel"),
        col("value"))
      .groupBy(col("channel"))
      .agg(count(lit(1)).as("n_purchases"),
        round(sum(col("value").cast("decimal(18,2)")).cast("double"), 2)
          .as("revenue2"))
  }

  // ---- tt1: Welch's t-test --------------------------------------------

  /** Welch's unequal-variance t-test for mean event value, treatment
    * (odd user ids) vs control. ONE conditional-aggregate scan yields
    * n / Σx (DECIMAL 2dp) / Σx² (DECIMAL 4dp) per group; mean,
    * sample variance, t, and the Welch–Satterthwaite df assemble in a
    * fixed IEEE order from those exact sums. No resampling, no second
    * scan — the textbook two-pass variance collapses to one pass
    * because the sums are exact.
    */
  def tt1WelchTtest(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select(
      pmod(col("user_id"), lit(2)).cast("int").as("g"),
      col("value").cast("decimal(18,2)").as("x"))
    def grp(g: Int) = Seq(
      sum(when(col("g") === g, 1L).otherwise(0L)).as(s"n$g"),
      sum(when(col("g") === g, col("x")).otherwise(lit(0).cast("decimal(18,2)")))
        .as(s"s$g"),
      sum(when(col("g") === g, col("x") * col("x"))
        .otherwise(lit(0).cast("decimal(38,4)"))).as(s"q$g"))
    val aggd = ev.agg(grp(0).head, (grp(0).tail ++ grp(1)): _*)
    // fixed assembly: m = Σx/n; v = (Σx² − m·Σx) / (n−1); each step one
    // IEEE op on identical doubles -> identical on every engine
    def m(g: Int) = col(s"s$g").cast("double") / col(s"n$g")
    def v(g: Int) =
      (col(s"q$g").cast("double") - m(g) * col(s"s$g").cast("double")) /
        (col(s"n$g") - lit(1))
    val se2 = v(0) / col("n0") + v(1) / col("n1")
    aggd.select(
      col("n0"), col("n1"),
      round(m(0), 6).as("mean_ctrl6"),
      round(m(1), 6).as("mean_treat6"),
      round((m(1) - m(0)) / sqrt(se2), 6).as("t6"),
      round(se2 * se2 /
        ((v(0) / col("n0")) * (v(0) / col("n0")) / (col("n0") - lit(1)) +
          (v(1) / col("n1")) * (v(1) / col("n1")) / (col("n1") - lit(1))),
        6).as("df6"))
  }

  // ---- ben1: Benford first-digit audit --------------------------------

  /** Benford's-law audit of order totals: observed first-significant-
    * digit frequencies vs log10(1+1/d), with the per-digit chi-square
    * contribution. The first digit comes from the INTEGER cents string
    * (no float log10 edge cases); one map-side-combinable 9-group
    * aggregate + a broadcast 1-row total. The standard fraud/quality
    * screen over any monetary column.
    */
  def ben1Benford(s: SparkSession, d: String): DataFrame = {
    val digits = Tables.orders(s, d)
      .filter(col("o_totalprice") > 0)
      .select(substring(round(col("o_totalprice") * 100, 0)
        .cast("long").cast("string"), 1, 1).cast("int").as("digit"))
    val counts = digits.groupBy(col("digit")).agg(count(lit(1)).as("n"))
    val tot = counts.agg(sum(col("n")).as("total"))
    val p = log(lit(1.0) + lit(1.0) / col("digit")) / log(lit(10.0))
    counts.crossJoin(broadcast(tot))
      .select(col("digit"), col("n"),
        round(col("n").cast("double") / col("total"), 6).as("freq6"),
        round(p, 6).as("benford6"),
        round((col("n").cast("double") - col("total") * p) *
          (col("n").cast("double") - col("total") * p) /
          (col("total") * p), 6).as("chi6"))
  }

  // ---- woe1: weight-of-evidence encoding ------------------------------

  /** WOE / information-value encoding of event_type against the
    * conversion label (value >= 20): woe = ln((good_i/G)/(bad_i/B)),
    * iv_i = (good_i/G − bad_i/B)·woe. The credit-scoring categorical
    * encoder; here one category aggregate + a broadcast 1-row total,
    * every rate a rational of exact counts and the single ln applied
    * to an identical double.
    */
  def woe1WeightOfEvidence(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select(col("event_type").as("category"),
      (col("value") >= 20.0).cast("long").as("good"))
    val cat = ev.groupBy(col("category"))
      .agg(sum(col("good")).as("n_good"),
        sum(lit(1L) - col("good")).as("n_bad"))
    val tot = cat.agg(sum(col("n_good")).as("g_tot"),
      sum(col("n_bad")).as("b_tot"))
    val gr = col("n_good").cast("double") / col("g_tot")
    val br = col("n_bad").cast("double") / col("b_tot")
    cat.crossJoin(broadcast(tot))
      .select(col("category"), col("n_good"), col("n_bad"),
        round(log(gr / br), 6).as("woe6"),
        round((gr - br) * log(gr / br), 6).as("iv6"))
  }

  // ---- te1: leave-one-out target encoding -----------------------------

  /** Leave-one-out target encoding of the customer market segment
    * against order total: each order's feature is the mean total of
    * all OTHER orders in its segment — (Σseg − x)/(nseg − 1) from an
    * exact DECIMAL segment sum, the standard leakage-free mean
    * encoder. Shape: fact→dim equi-join for the segment, then the
    * 5-row segment aggregate broadcasts back over one fact scan — the
    * encode itself adds ZERO shuffles at any scale.
    */
  def te1TargetEncode(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
      col("o_totalprice").cast("decimal(18,2)").as("x"))
    val seg = Tables.customer(s, d)
      .select(col("c_custkey"), col("c_mktsegment").as("segment"))
    val fact = o.join(seg, o("o_custkey") === seg("c_custkey"))
    val stats = fact.groupBy(col("segment"))
      .agg(sum(col("x")).as("seg_sum"), count(lit(1)).as("seg_n"))
    fact.join(broadcast(stats), "segment")
      .select(col("o_orderkey"), col("segment"),
        round((col("seg_sum") - col("x")).cast("double") /
          (col("seg_n") - lit(1)), 6).as("loo6"))
  }

  // ---- registry ------------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "att1_last_touch" -> (att1LastTouch _),
    "tt1_welch_ttest" -> (tt1WelchTtest _),
    "ben1_benford" -> (ben1Benford _),
    "woe1_weight_of_evidence" -> (woe1WeightOfEvidence _),
    "te1_target_encode" -> (te1TargetEncode _))

  val oracles: Map[String, String] = Map(
    "att1_last_touch" ->
      """WITH touched AS (
           SELECT event_type, value,
                  last_value(CASE WHEN event_type IN ('click','view')
                       THEN event_type END IGNORE NULLS)
                    OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING) AS touch
           FROM events)
         SELECT coalesce(touch, 'direct') AS channel,
                count(*) AS n_purchases,
                round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE),
                      2) AS revenue2
         FROM touched WHERE event_type = 'purchase'
         GROUP BY 1""",
    "tt1_welch_ttest" ->
      """WITH ev AS (SELECT CAST(user_id % 2 AS INT) AS g,
                  CAST(value AS DECIMAL(18,2)) AS x FROM events),
         a AS (SELECT
           sum(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS n0,
           sum(CASE WHEN g = 0 THEN x ELSE CAST(0 AS DECIMAL(18,2)) END) AS s0,
           sum(CASE WHEN g = 0 THEN x * x ELSE CAST(0 AS DECIMAL(38,4)) END) AS q0,
           sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS n1,
           sum(CASE WHEN g = 1 THEN x ELSE CAST(0 AS DECIMAL(18,2)) END) AS s1,
           sum(CASE WHEN g = 1 THEN x * x ELSE CAST(0 AS DECIMAL(38,4)) END) AS q1
           FROM ev),
         m AS (SELECT CAST(n0 AS BIGINT) AS n0, CAST(n1 AS BIGINT) AS n1,
           CAST(s0 AS DOUBLE) / n0 AS m0, CAST(s1 AS DOUBLE) / n1 AS m1,
           (CAST(q0 AS DOUBLE) - (CAST(s0 AS DOUBLE) / n0) * CAST(s0 AS DOUBLE)) / (n0 - 1) AS v0,
           (CAST(q1 AS DOUBLE) - (CAST(s1 AS DOUBLE) / n1) * CAST(s1 AS DOUBLE)) / (n1 - 1) AS v1
           FROM a)
         SELECT n0, n1,
                round(m0, 6) AS mean_ctrl6,
                round(m1, 6) AS mean_treat6,
                round((m1 - m0) / sqrt(v0 / n0 + v1 / n1), 6) AS t6,
                round((v0 / n0 + v1 / n1) * (v0 / n0 + v1 / n1) /
                      ((v0 / n0) * (v0 / n0) / (n0 - 1) +
                       (v1 / n1) * (v1 / n1) / (n1 - 1)), 6) AS df6
         FROM m""",
    "ben1_benford" ->
      """WITH digits AS (
           SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100, 0)
                  AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit
           FROM orders WHERE o_totalprice > 0),
         counts AS (SELECT digit, count(*) AS n FROM digits GROUP BY 1),
         tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM counts)
         SELECT digit, n,
                round(CAST(n AS DOUBLE) / total, 6) AS freq6,
                round(ln(1.0 + 1.0 / digit) / ln(10.0), 6) AS benford6,
                round((CAST(n AS DOUBLE) - total * (ln(1.0 + 1.0 / digit) / ln(10.0))) *
                      (CAST(n AS DOUBLE) - total * (ln(1.0 + 1.0 / digit) / ln(10.0))) /
                      (total * (ln(1.0 + 1.0 / digit) / ln(10.0))), 6) AS chi6
         FROM counts, tot""",
    "woe1_weight_of_evidence" ->
      """WITH ev AS (SELECT event_type AS category,
                  CAST(value >= 20 AS BIGINT) AS good FROM events),
         cat AS (SELECT category, CAST(sum(good) AS BIGINT) AS n_good,
                  CAST(sum(1 - good) AS BIGINT) AS n_bad
                 FROM ev GROUP BY 1),
         tot AS (SELECT CAST(sum(n_good) AS BIGINT) AS g_tot,
                  CAST(sum(n_bad) AS BIGINT) AS b_tot FROM cat)
         SELECT category, n_good, n_bad,
                round(ln((CAST(n_good AS DOUBLE) / g_tot) /
                         (CAST(n_bad AS DOUBLE) / b_tot)), 6) AS woe6,
                round((CAST(n_good AS DOUBLE) / g_tot -
                       CAST(n_bad AS DOUBLE) / b_tot) *
                      ln((CAST(n_good AS DOUBLE) / g_tot) /
                         (CAST(n_bad AS DOUBLE) / b_tot)), 6) AS iv6
         FROM cat, tot""",
    "te1_target_encode" ->
      """WITH fact AS (
           SELECT o_orderkey, c_mktsegment AS segment,
                  CAST(o_totalprice AS DECIMAL(18,2)) AS x
           FROM orders JOIN customer ON o_custkey = c_custkey),
         stats AS (SELECT segment, sum(x) AS seg_sum,
                  count(*) AS seg_n FROM fact GROUP BY 1)
         SELECT o_orderkey, fact.segment,
                round(CAST(seg_sum - x AS DOUBLE) / (seg_n - 1), 6)
                  AS loo6
         FROM fact JOIN stats ON fact.segment = stats.segment""")
}
