package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Round-11 batch seven: data-stewardship operators — a k-anonymity /
  * l-diversity audit over quasi-identifier groups, differentially-
  * private noisy counts (deterministic inverse-CDF Laplace so the
  * cross-engine gate can hash-match; production swaps the hash for a
  * CSPRNG, the aggregate shape is identical), and MDM golden-record
  * survivorship (mode/median/max field rules over duplicate groups).
  *
  * Exactness: group sizes and diversity counts are integers; the
  * Laplace inverse CDF applies one ln to an identical rational-
  * derived double; survivorship picks are rank-based with total-order
  * tie-breaks — no interpolation anywhere.
  */
object Steward extends QueryModule {

  // ---- anon1: k-anonymity / l-diversity audit -------------------------

  /** Privacy audit of the customer table under the quasi-identifier
    * (nation, market segment): group size k, l-diversity of the
    * sensitive attribute (account-balance century bucket), and the
    * k<5 risk flag. One aggregate over the QI key — the re-
    * identification report a release pipeline gates on.
    */
  def anon1KAnonymity(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .select(col("c_nationkey").as("nationkey"),
        col("c_mktsegment").as("segment"),
        floor(col("c_acctbal") / 100).cast("int").as("sens"))
      .groupBy(col("nationkey"), col("segment"))
      .agg(count(lit(1)).as("k"),
        countDistinct(col("sens")).as("l_div"))
      .withColumn("risky", (col("k") < 5).cast("int"))

  // ---- dp1: differentially-private noisy counts -----------------------

  /** ε=1 Laplace-noised event-type counts via the inverse CDF:
    * u ∈ (0,1) derives from an md5 slice of the group key (so both
    * engines — and reruns — sample the same noise; swap in a CSPRNG
    * for production ε-DP, the plan is unchanged), and
    * noise = −sgn(u−½)·ln(1−2|u−½|). The shape: one aggregate, one
    * scalar expression — per-partition noise at 100 TB composes the
    * same way the checksum does.
    */
  def dp1NoisyCounts(s: SparkSession, d: String): DataFrame = {
    val counts = Tables.events(s, d)
      .groupBy(col("event_type")).agg(count(lit(1)).as("n_true"))
    val u = (conv(substring(md5(col("event_type")), 1, 6), 16, 10)
      .cast("double") + 0.5) / 16777216.0
    val cu = u - 0.5
    val noise = round(-signum(cu) * log(lit(1.0) - abs(cu) * 2.0), 6)
    counts.select(col("event_type"), col("n_true"),
      noise.as("noise6"),
      round(col("n_true") + noise, 6).as("n_noisy6"))
  }

  // ---- gld1: golden-record survivorship -------------------------------

  /** MDM survivorship over duplicate part records grouped by name:
    * canonical id = min key, brand = mode with (count DESC, brand)
    * tie-break, size = LOWER median by cumulative rank pick, price =
    * max exact cents. Every rule is a rank/extreme over the per-name
    * AGGREGATE (windows partition by the name key — parallel across
    * groups); the merged master record a dedup pipeline publishes.
    */
  def gld1GoldenRecord(s: SparkSession, d: String): DataFrame = {
    val p = Tables.part(s, d)
    val base = p.groupBy(col("p_name").as("name"))
      .agg(min(col("p_partkey")).as("golden_id"),
        count(lit(1)).as("n_records"),
        max(round(col("p_retailprice") * 100, 0).cast("long"))
          .as("max_cents"))
    val brandVotes = p.groupBy(col("p_name").as("name"), col("p_brand"))
      .agg(count(lit(1)).as("v"))
    val brand = brandVotes.withColumn("rk", row_number().over(
        Window.partitionBy(col("name"))
          .orderBy(col("v").desc, col("p_brand"))))
      .filter(col("rk") === 1)
      .select(col("name"), col("p_brand").as("brand"))
    val sizeCounts = p.groupBy(col("p_name").as("name"), col("p_size"))
      .agg(count(lit(1)).as("c"))
    val wCum = Window.partitionBy(col("name")).orderBy(col("p_size"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val sizeMed = sizeCounts
      .withColumn("cum", sum(col("c")).over(wCum))
      .join(base.select(col("name"), col("n_records")), "name")
      .filter(col("cum") * 2 >= col("n_records"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("name")).orderBy(col("p_size"))))
      .filter(col("rk") === 1)
      .select(col("name"), col("p_size").as("size_med"))
    base.join(brand, "name").join(sizeMed, "name")
      .select(col("name"), col("golden_id"), col("n_records"),
        col("brand"), col("size_med"),
        round(col("max_cents").cast("double") / 100, 2).as("max_price2"))
  }

  // ---- registry ------------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "anon1_k_anonymity" -> (anon1KAnonymity _),
    "dp1_noisy_counts" -> (dp1NoisyCounts _),
    "gld1_golden_record" -> (gld1GoldenRecord _))

  val oracles: Map[String, String] = Map(
    "anon1_k_anonymity" ->
      """SELECT c_nationkey AS nationkey, c_mktsegment AS segment,
                count(*) AS k,
                CAST(count(DISTINCT CAST(FLOOR(c_acctbal / 100) AS INT))
                  AS BIGINT) AS l_div,
                CAST(count(*) < 5 AS INT) AS risky
         FROM customer GROUP BY 1, 2""",
    "dp1_noisy_counts" ->
      """WITH counts AS (
           SELECT event_type, count(*) AS n_true FROM events GROUP BY 1),
         noised AS (SELECT event_type, n_true,
           (CAST(CAST(('0x' || substr(md5(event_type), 1, 6)) AS BIGINT)
             AS DOUBLE) + 0.5) / 16777216.0 - 0.5 AS cu
           FROM counts)
         SELECT event_type, n_true,
                round(-sign(cu) * ln(1.0 - abs(cu) * 2.0), 6) AS noise6,
                round(n_true +
                  (-sign(cu) * ln(1.0 - abs(cu) * 2.0)), 6) AS n_noisy6
         FROM noised""",
    "gld1_golden_record" ->
      """WITH base AS MATERIALIZED (
           SELECT p_name AS name, min(p_partkey) AS golden_id,
                  count(*) AS n_records,
                  max(CAST(round(p_retailprice * 100, 0) AS BIGINT))
                    AS max_cents
           FROM part GROUP BY 1),
         bv AS (SELECT p_name AS name, p_brand, count(*) AS v
                FROM part GROUP BY 1, 2),
         brand AS (
           SELECT name, p_brand AS brand FROM (
             SELECT name, p_brand, row_number() OVER (PARTITION BY name
               ORDER BY v DESC, p_brand) AS rk FROM bv)
           WHERE rk = 1),
         sc AS (SELECT p_name AS name, p_size, count(*) AS c
                FROM part GROUP BY 1, 2),
         cum AS (SELECT sc.name, p_size,
                  sum(c) OVER (PARTITION BY sc.name ORDER BY p_size
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS cum, n_records
                 FROM sc JOIN base ON sc.name = base.name),
         med AS (
           SELECT name, p_size AS size_med FROM (
             SELECT name, p_size, row_number() OVER (PARTITION BY name
               ORDER BY p_size) AS rk
             FROM cum WHERE cum * 2 >= n_records)
           WHERE rk = 1)
         SELECT base.name, golden_id, n_records, brand, size_med,
                round(CAST(max_cents AS DOUBLE) / 100, 2) AS max_price2
         FROM base JOIN brand ON base.name = brand.name
                   JOIN med ON base.name = med.name""")
}
