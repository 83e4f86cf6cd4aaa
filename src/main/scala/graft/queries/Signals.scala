package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ops.Ops

/** Round-11 batch five: propagation / featurization / threshold
  * signals — personalized PageRank from a seed node (random walk with
  * restart: the classic graph-recommendation score), the feature-
  * hashing trick (bounded-width sparse featurizer), the graph degree
  * distribution with a power-law fit, and Otsu's threshold over the
  * value histogram (the optimal two-class cut, learned in-plan).
  *
  * Exactness: ppr follows the hits1 iterative discipline — per-edge
  * contributions rounded to 12 dp and summed as DECIMAL, per-round
  * scores re-rounded to 9 dp, so the float fold is engine-exact;
  * feature hashing derives bucket AND sign from md5 (the one hash
  * both engines share); Otsu's objective assembles from integer
  * cumulative moments in fixed IEEE order, argmax by (score DESC, t)
  * rank pick.
  */
object Signals extends QueryModule {

  private def coPurchaseEdges(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
    val baskets = li.groupBy("ok")
      .agg(sort_array(collect_set(col("pk"))).as("items"))
      .filter(size(col("items")).between(2, 50))
    baskets
      .select(col("items"), explode(col("items")).as("a"))
      .select(col("a"),
        explode(filter(col("items"), x => x > col("a"))).as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= 2)
      .select(col("a"), col("b"))
  }

  // ---- ppr1: personalized PageRank ------------------------------------

  /** Personalized PageRank from the smallest graph node: 3 rounds of
    * p' = 0.85·Σ_in p/deg + 0.15·[v = seed] over the co-purchase
    * graph. Per-edge terms are 12-dp DECIMAL summands and per-round
    * scores re-quantize to 9 dp (the hits1 iterative-float rule), so
    * the oracle replays the rounds bit-for-bit. Per round: one
    * co-partitioned join + one aggregate; mass concentrates in the
    * seed's neighborhood — the similarity score graph recommenders
    * rank by.
    */
  def ppr1PersonalizedPagerank(s: SparkSession, d: String): DataFrame = {
    val e = coPurchaseEdges(s, d)
    val dir = e.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(e.select(col("b").as("src"), col("a").as("dst")))
      .localCheckpoint(true)
    val deg = dir.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val seedDf = deg.agg(min(col("src")).as("seed"))
    val init = deg.crossJoin(broadcast(seedDf))
      .select(col("src").as("node"),
        when(col("src") === col("seed"), lit(1).cast("decimal(18,9)"))
          .otherwise(lit(0).cast("decimal(18,9)")).as("p"))
    Ops.iterate(init, 3) { p =>
      val contrib = dir.join(deg, "src")
        .join(p.withColumnRenamed("node", "src"), "src")
        .select(col("dst"),
          round(col("p").cast("double") / col("deg"), 12)
            .cast("decimal(18,12)").as("t12"))
        .groupBy(col("dst")).agg(sum(col("t12")).as("mass"))
      deg.select(col("src").as("node"))
        .join(contrib.withColumnRenamed("dst", "node"), Seq("node"), "left")
        .crossJoin(broadcast(seedDf))
        .select(col("node"),
          round(coalesce(col("mass").cast("double"), lit(0.0)) * 0.85 +
            when(col("node") === col("seed"), lit(0.15)).otherwise(lit(0.0)),
            9).cast("decimal(18,9)").as("p"))
    }.select(col("node"), round(col("p").cast("double"), 6).as("score6"))
      .filter(col("score6") > 0)
  }

  // ---- fh1: feature hashing -------------------------------------------

  /** The hashing trick: every word maps to one of 64 buckets with a
    * ±1 sign, both read off md5 nibbles — no vocab table, fixed
    * width, collisions absorbed by the sign (Weinberger et al.).
    * Output is each document's sparse feature vector as (doc_id,
    * bucket, weight) rows — ≤64 per doc regardless of corpus size;
    * one projection + one aggregate, no joins at all.
    */
  def fh1FeatureHash(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(s, d).select(col("doc_id"),
      explode(split(lower(trim(col("text"))), "\\s+")).as("word"))
    val h = md5(col("word"))
    toks.select(col("doc_id"),
        (conv(substring(h, 1, 4), 16, 10).cast("long") % 64).as("bucket"),
        (conv(substring(h, 5, 1), 16, 10).cast("long") % 2 * 2 - 1)
          .as("sign"))
      .groupBy(col("doc_id"), col("bucket"))
      .agg(sum(col("sign")).as("weight"))
      .filter(col("weight") =!= 0)
  }

  // ---- deg1: degree distribution + power-law fit ----------------------

  /** Co-purchase degree distribution with a log-log OLS slope (the
    * power-law exponent — the first thing to check before sizing
    * skew handling for a graph workload). Histogram = two small
    * aggregates; the fit runs on the ≤max-degree-row histogram with
    * the zipf1 DECIMAL-moment discipline; the slope rides every row.
    */
  def deg1DegreeDistribution(s: SparkSession, d: String): DataFrame = {
    val e = coPurchaseEdges(s, d)
    val deg = e.select(col("a").as("node"))
      .unionAll(e.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("degree"))
    val hist = deg.groupBy(col("degree")).agg(count(lit(1)).as("n_nodes"))
    val terms = hist.select(
      round(log(col("degree").cast("double")), 9).cast("decimal(18,9)")
        .as("x"),
      round(log(col("n_nodes").cast("double")), 9).cast("decimal(18,9)")
        .as("y"))
    val m = terms.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
      sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sxx"))
    val slope = (col("n") * col("sxy").cast("double") -
      col("sx").cast("double") * col("sy").cast("double")) /
      (col("n") * col("sxx").cast("double") -
        col("sx").cast("double") * col("sx").cast("double"))
    hist.crossJoin(broadcast(m.select(round(slope, 6).as("slope6"))))
  }

  // ---- ots1: Otsu's threshold -----------------------------------------

  /** Otsu's optimal threshold over the whole-dollar histogram of
    * event values: maximize the between-class variance
    * w0·w1·(μ0−μ1)², all moments integer cumulative sums over the
    * ~560-row bucket AGGREGATE (ks1 ordered-scan discipline); argmax
    * by (score DESC, t) rank pick. The unsupervised two-class cut —
    * anomaly gates and binarization thresholds fall out of the same
    * scan.
    */
  def ots1OtsuThreshold(s: SparkSession, d: String): DataFrame = {
    val hist = Tables.events(s, d)
      .select(floor(col("value")).cast("int").as("b"))
      .groupBy(col("b")).agg(count(lit(1)).as("n"))
    val tot = hist.agg(sum(col("n")).as("n_tot"),
      sum(col("b") * col("n")).as("m_tot"))
    val w = Window.orderBy(col("b"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val cum = hist.crossJoin(broadcast(tot))
      .withColumn("w0", sum(col("n")).over(w))
      .withColumn("m0", sum(col("b") * col("n")).over(w))
      .filter(col("w0") < col("n_tot"))
    def mu(mass: Column, cnt: Column) = mass.cast("double") / cnt
    val mu0 = mu(col("m0"), col("w0"))
    val mu1 = mu(col("m_tot") - col("m0"), col("n_tot") - col("w0"))
    val score = col("w0").cast("double") *
      (col("n_tot") - col("w0")).cast("double") * (mu0 - mu1) * (mu0 - mu1)
    cum.select(col("b").as("threshold"), col("w0"),
        (col("n_tot") - col("w0")).as("w1"),
        round(score, 6).as("score6"))
      .withColumn("rk", row_number().over(
        Window.orderBy(col("score6").desc, col("threshold"))))
      .filter(col("rk") === 1).drop("rk")
  }

  // ---- registry ------------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ppr1_personalized_pagerank" -> (ppr1PersonalizedPagerank _),
    "fh1_feature_hash" -> (fh1FeatureHash _),
    "deg1_degree_distribution" -> (deg1DegreeDistribution _),
    "ots1_otsu_threshold" -> (ots1OtsuThreshold _))

  private val edgeCte =
    """WITH d AS MATERIALIZED (
         SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
       sz AS (SELECT ok FROM d GROUP BY ok
              HAVING count(*) BETWEEN 2 AND 50),
       dd AS MATERIALIZED (SELECT d.* FROM d JOIN sz USING (ok)),
       e0 AS MATERIALIZED (
         SELECT x.pk AS a, y.pk AS b
         FROM dd x JOIN dd y ON x.ok = y.ok AND x.pk < y.pk
         GROUP BY 1, 2 HAVING count(*) >= 2),
       dir AS MATERIALIZED (
         SELECT a AS src, b AS dst FROM e0
         UNION ALL SELECT b, a FROM e0),
       deg AS MATERIALIZED (
         SELECT src, count(*) AS deg FROM dir GROUP BY 1)"""

  val oracles: Map[String, String] = Map(
    "ppr1_personalized_pagerank" -> (edgeCte + """,
         seed AS (SELECT min(src) AS seed FROM deg),
         p0 AS MATERIALIZED (
           SELECT src AS node,
                  CAST(CASE WHEN src = seed THEN 1 ELSE 0 END
                    AS DECIMAL(18,9)) AS p
           FROM deg, seed),
         c1 AS (SELECT dst, sum(CAST(round(CAST(p AS DOUBLE) / deg, 12)
                  AS DECIMAL(18,12))) AS mass
                FROM dir JOIN deg USING (src)
                JOIN p0 ON p0.node = dir.src GROUP BY 1),
         p1 AS MATERIALIZED (
           SELECT deg.src AS node,
                  CAST(round(coalesce(CAST(mass AS DOUBLE), 0.0) * 0.85 +
                    CASE WHEN deg.src = seed THEN 0.15 ELSE 0.0 END, 9)
                    AS DECIMAL(18,9)) AS p
           FROM deg LEFT JOIN c1 ON c1.dst = deg.src CROSS JOIN seed),
         c2 AS (SELECT dst, sum(CAST(round(CAST(p AS DOUBLE) / deg, 12)
                  AS DECIMAL(18,12))) AS mass
                FROM dir JOIN deg USING (src)
                JOIN p1 ON p1.node = dir.src GROUP BY 1),
         p2 AS MATERIALIZED (
           SELECT deg.src AS node,
                  CAST(round(coalesce(CAST(mass AS DOUBLE), 0.0) * 0.85 +
                    CASE WHEN deg.src = seed THEN 0.15 ELSE 0.0 END, 9)
                    AS DECIMAL(18,9)) AS p
           FROM deg LEFT JOIN c2 ON c2.dst = deg.src CROSS JOIN seed),
         c3 AS (SELECT dst, sum(CAST(round(CAST(p AS DOUBLE) / deg, 12)
                  AS DECIMAL(18,12))) AS mass
                FROM dir JOIN deg USING (src)
                JOIN p2 ON p2.node = dir.src GROUP BY 1),
         p3 AS (
           SELECT deg.src AS node,
                  CAST(round(coalesce(CAST(mass AS DOUBLE), 0.0) * 0.85 +
                    CASE WHEN deg.src = seed THEN 0.15 ELSE 0.0 END, 9)
                    AS DECIMAL(18,9)) AS p
           FROM deg LEFT JOIN c3 ON c3.dst = deg.src CROSS JOIN seed)
         SELECT node, round(CAST(p AS DOUBLE), 6) AS score6
         FROM p3 WHERE round(CAST(p AS DOUBLE), 6) > 0"""),
    "fh1_feature_hash" ->
      """WITH toks AS (
           SELECT doc_id,
                  unnest(regexp_split_to_array(lower(trim(text)), '\s+'))
                    AS word
           FROM documents),
         hashed AS (
           SELECT doc_id,
                  CAST(('0x' || substr(md5(word), 1, 4)) AS BIGINT) % 64
                    AS bucket,
                  CAST(('0x' || substr(md5(word), 5, 1)) AS BIGINT) % 2
                    * 2 - 1 AS sign
           FROM toks)
         SELECT doc_id, bucket, CAST(sum(sign) AS BIGINT) AS weight
         FROM hashed GROUP BY 1, 2
         HAVING sum(sign) <> 0""",
    "deg1_degree_distribution" -> (edgeCte + """,
         nd AS (SELECT node, count(*) AS degree FROM (
                  SELECT a AS node FROM e0
                  UNION ALL SELECT b FROM e0) GROUP BY 1),
         hist AS MATERIALIZED (
           SELECT degree, count(*) AS n_nodes FROM nd GROUP BY 1),
         terms AS (SELECT
           CAST(round(ln(CAST(degree AS DOUBLE)), 9) AS DECIMAL(18,9)) AS x,
           CAST(round(ln(CAST(n_nodes AS DOUBLE)), 9) AS DECIMAL(18,9)) AS y
           FROM hist),
         m AS (SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
                  sum(x * y) AS sxy, sum(x * x) AS sxx FROM terms)
         SELECT degree, n_nodes,
                round((n * CAST(sxy AS DOUBLE) -
                       CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
                      (n * CAST(sxx AS DOUBLE) -
                       CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6)
                  AS slope6
         FROM hist, m"""),
    "ots1_otsu_threshold" ->
      """WITH hist AS MATERIALIZED (
           SELECT CAST(FLOOR(value) AS INT) AS b, count(*) AS n
           FROM events GROUP BY 1),
         tot AS (SELECT CAST(sum(n) AS BIGINT) AS n_tot,
                  CAST(sum(b * n) AS BIGINT) AS m_tot FROM hist),
         cum AS (SELECT b,
                  CAST(sum(n) OVER (ORDER BY b ROWS BETWEEN UNBOUNDED
                    PRECEDING AND CURRENT ROW) AS BIGINT) AS w0,
                  CAST(sum(b * n) OVER (ORDER BY b ROWS BETWEEN UNBOUNDED
                    PRECEDING AND CURRENT ROW) AS BIGINT) AS m0,
                  n_tot, m_tot
                 FROM hist, tot),
         scored AS (
           SELECT b AS threshold, w0, n_tot - w0 AS w1,
                  round(CAST(w0 AS DOUBLE) * CAST(n_tot - w0 AS DOUBLE) *
                    (CAST(m0 AS DOUBLE) / w0 -
                     CAST(m_tot - m0 AS DOUBLE) / (n_tot - w0)) *
                    (CAST(m0 AS DOUBLE) / w0 -
                     CAST(m_tot - m0 AS DOUBLE) / (n_tot - w0)), 6)
                    AS score6
           FROM cum WHERE w0 < n_tot)
         SELECT threshold, w0, w1, score6 FROM (
           SELECT *, row_number() OVER (ORDER BY score6 DESC, threshold)
             AS rk FROM scored)
         WHERE rk = 1""")
}
