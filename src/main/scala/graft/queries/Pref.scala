package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ops.Agreement

/** Round-12 batch one: preference & label-quality operators — the
  * RLHF-adjacent curation surface (pairwise-preference ratings,
  * inter-annotator agreement, annotator-quality audit) over the test
  * star schema. Core operators live in [[graft.ops.Agreement]]; this
  * module derives deterministic duel/label streams from the shared
  * tables so the DuckDB oracle can replay them bit-for-bit.
  */
object Pref extends QueryModule {

  /** bt1: Bradley–Terry brand ratings. Duels: for every order where
    * two brands both appear (via lineitem->part), the brand with the
    * larger in-order quantity beats the other (quantity ties are
    * undecided and dropped). 3 MM rounds, DECIMAL(18,9) requantized.
    */
  def bt1BradleyTerry(s: SparkSession, d: String): DataFrame = {
    val ob = Tables.lineitem(s, d)
      .join(broadcast(Tables.part(s, d)
        .select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_orderkey"), col("p_brand"))
      .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("qty"))
    val a = ob.select(col("l_orderkey"), col("p_brand").as("ba"),
      col("qty").as("qa"))
    val b = ob.select(col("l_orderkey"), col("p_brand").as("bb"),
      col("qty").as("qb"))
    val duels = a.join(b, Seq("l_orderkey"))
      .filter(col("ba") < col("bb") && col("qa") =!= col("qb"))
      .select(
        when(col("qa") > col("qb"), col("ba")).otherwise(col("bb"))
          .as("winner"),
        when(col("qa") > col("qb"), col("bb")).otherwise(col("ba"))
          .as("loser"))
    Agreement.bradleyTerry(duels, iters = 3)
      .select(col("item").as("brand"), col("wins"), col("games"),
        // internal fixed-point iterates stay DECIMAL(18,9) for exact
        // cross-engine replay; the EDGE is DOUBLE per repo convention
        // (decimal->double is the same nearest-double in both engines)
        col("rating").cast("double").as("rating"))
  }

  /** kap1: Cohen's kappa per document source between two rule-based
    * raters (rater A: n_chars > 300; rater B: >= 58 spaces — a word-
    * count proxy whose cut sits off rater A's, so the raters agree
    * strongly but not perfectly: corpus-wide raw agreement ~0.96).
    * The chance-corrected agreement of two quality heuristics, per
    * corpus slice.
    */
  def kap1CohenKappa(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    Agreement.cohenKappa(docs,
      raterA = col("n_chars") > 300,
      raterB = (length(col("text")) -
        length(regexp_replace(col("text"), " ", ""))) >= 58,
      groups = Seq(col("source")))
  }

  /** ds1: annotator accuracy vs majority vote. Three synthetic
    * annotators each report the base rule (n_chars > 300) with a
    * deterministic flip — annotator k flips doc_id iff
    * knuth(doc_id*131 + k, seed 7) mod 100 < 10k (10/20/30% noise;
    * the Mining msk1 portable-hash idiom, doc_id*131+3 stays far
    * below knuth's 2^31 input bound at any test SF).
    */
  def ds1AnnotatorAccuracy(s: SparkSession, d: String): DataFrame = {
    val labels = Tables.documents(s, d)
      .select(col("doc_id"), (col("n_chars") > 300).as("base"))
      .select(col("doc_id"), col("base"),
        explode(array(lit(1), lit(2), lit(3))).as("annotator"))
      .withColumn("prio", pmod(
        (col("doc_id") * 131 + col("annotator")) * lit(2654435761L)
          + lit(7L), lit(4294967296L)))
      .select(col("doc_id").as("item"), col("annotator"),
        when(pmod(col("prio"), lit(100L)) < col("annotator") * 10,
          !col("base")).otherwise(col("base")).as("label"))
    Agreement.annotatorAccuracy(labels)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "bt1_bradley_terry" -> (bt1BradleyTerry _),
    "kap1_cohen_kappa" -> (kap1CohenKappa _),
    "ds1_annotator_accuracy" -> (ds1AnnotatorAccuracy _))

  val oracles: Map[String, String] = Map(
    "bt1_bradley_terry" ->
      """WITH ob AS MATERIALIZED (
           SELECT l_orderkey, p_brand,
                  sum(CAST(l_quantity AS DECIMAL(18,2))) AS qty
           FROM lineitem JOIN part ON l_partkey = p_partkey
           GROUP BY 1, 2),
         duels AS (
           SELECT CASE WHEN a.qty > b.qty THEN a.p_brand
                       ELSE b.p_brand END AS winner,
                  CASE WHEN a.qty > b.qty THEN b.p_brand
                       ELSE a.p_brand END AS loser
           FROM ob a JOIN ob b ON a.l_orderkey = b.l_orderkey
            AND a.p_brand < b.p_brand AND a.qty <> b.qty),
         wl AS MATERIALIZED (
           SELECT winner, loser, count(*) AS w FROM duels GROUP BY 1, 2),
         pairs AS MATERIALIZED (
           SELECT i, j, CAST(sum(n) AS BIGINT) AS n FROM (
             SELECT winner AS i, loser AS j, w AS n FROM wl
             UNION ALL SELECT loser, winner, w FROM wl)
           GROUP BY 1, 2),
         wins AS (SELECT winner AS i, CAST(sum(w) AS BIGINT) AS wins
                  FROM wl GROUP BY 1),
         items AS MATERIALIZED (
           SELECT g.i, g.games, coalesce(w.wins, 0) AS wins
           FROM (SELECT i, CAST(sum(n) AS BIGINT) AS games
                 FROM pairs GROUP BY 1) g
           LEFT JOIN wins w ON g.i = w.i),
         p0 AS (SELECT i, CAST(1 AS DECIMAL(18,9)) AS p FROM items),
         d1 AS (
           SELECT pairs.i,
                  sum(CAST(round(CAST(n AS DOUBLE) /
                    CAST(pi.p + pj.p AS DOUBLE), 9)
                    AS DECIMAL(18,9))) AS denom
           FROM pairs JOIN p0 pi ON pairs.i = pi.i
                      JOIN p0 pj ON pairs.j = pj.i
           GROUP BY 1),
         p1 AS MATERIALIZED (
           SELECT items.i, CAST(round(CAST(wins AS DOUBLE) /
             CAST(denom AS DOUBLE), 9) AS DECIMAL(18,9)) AS p
           FROM items JOIN d1 ON items.i = d1.i),
         d2 AS (
           SELECT pairs.i,
                  sum(CAST(round(CAST(n AS DOUBLE) /
                    CAST(pi.p + pj.p AS DOUBLE), 9)
                    AS DECIMAL(18,9))) AS denom
           FROM pairs JOIN p1 pi ON pairs.i = pi.i
                      JOIN p1 pj ON pairs.j = pj.i
           GROUP BY 1),
         p2 AS MATERIALIZED (
           SELECT items.i, CAST(round(CAST(wins AS DOUBLE) /
             CAST(denom AS DOUBLE), 9) AS DECIMAL(18,9)) AS p
           FROM items JOIN d2 ON items.i = d2.i),
         d3 AS (
           SELECT pairs.i,
                  sum(CAST(round(CAST(n AS DOUBLE) /
                    CAST(pi.p + pj.p AS DOUBLE), 9)
                    AS DECIMAL(18,9))) AS denom
           FROM pairs JOIN p2 pi ON pairs.i = pi.i
                      JOIN p2 pj ON pairs.j = pj.i
           GROUP BY 1),
         p3 AS MATERIALIZED (
           SELECT items.i, CAST(round(CAST(wins AS DOUBLE) /
             CAST(denom AS DOUBLE), 9) AS DECIMAL(18,9)) AS p
           FROM items JOIN d3 ON items.i = d3.i),
         tot AS (SELECT sum(p) AS tot FROM p3)
         SELECT items.i AS brand, wins, games,
                CAST(CAST(round(CAST(p AS DOUBLE) / CAST(tot AS DOUBLE), 9)
                  AS DECIMAL(18,9)) AS DOUBLE) AS rating
         FROM items JOIN p3 ON items.i = p3.i, tot""",
    "kap1_cohen_kappa" ->
      """WITH lab AS (
           SELECT source,
                  CASE WHEN n_chars > 300 THEN 1 ELSE 0 END AS la,
                  CASE WHEN length(text) -
                       length(replace(text, ' ', '')) >= 58
                       THEN 1 ELSE 0 END AS lb
           FROM documents),
         agg AS (
           SELECT source, CAST(count(*) AS BIGINT) AS n,
                  avg(CASE WHEN la = lb THEN 1.0 ELSE 0.0 END) AS po,
                  avg(CAST(la AS DOUBLE)) AS pa,
                  avg(CAST(lb AS DOUBLE)) AS pb
           FROM lab GROUP BY 1)
         SELECT source, n, round(po, 6) AS po6,
                round(pa * pb + (1 - pa) * (1 - pb), 6) AS pe6,
                round((po - (pa * pb + (1 - pa) * (1 - pb))) /
                  nullif(1.0 - (pa * pb + (1 - pa) * (1 - pb)), 0.0), 6)
                  AS kappa6
         FROM agg""",
    "ds1_annotator_accuracy" ->
      """WITH lab AS MATERIALIZED (
           SELECT doc_id AS item, k.annotator,
                  CASE WHEN ((doc_id * 131 + k.annotator) * 2654435761
                             + 7) % 4294967296 % 100
                       < k.annotator * 10
                       THEN NOT (n_chars > 300)
                       ELSE (n_chars > 300) END AS label
           FROM documents
           CROSS JOIN (SELECT unnest([1, 2, 3]) AS annotator) k),
         maj AS (
           SELECT item,
                  CAST(sum(CASE WHEN label THEN 1 ELSE 0 END) AS BIGINT)
                    * 2 > count(*) AS maj
           FROM lab GROUP BY 1)
         SELECT annotator, CAST(count(*) AS BIGINT) AS n,
                round(avg(CASE WHEN label = maj THEN 1.0 ELSE 0.0 END),
                  6) AS acc6,
                CAST(sum(CASE WHEN label AND maj THEN 1 ELSE 0 END)
                  AS BIGINT) AS tp,
                CAST(sum(CASE WHEN label AND NOT maj THEN 1 ELSE 0 END)
                  AS BIGINT) AS fp,
                CAST(sum(CASE WHEN NOT label AND maj THEN 1 ELSE 0 END)
                  AS BIGINT) AS fn,
                CAST(sum(CASE WHEN NOT label AND NOT maj
                  THEN 1 ELSE 0 END) AS BIGINT) AS tn
         FROM lab JOIN maj USING (item)
         GROUP BY 1""")
}
