package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.similarity.Similarity

/** Round-12 batch nine: label-quality audits over the embeddings
  * table — kNN label-noise detection (Confident-Learning-lite: a
  * vector whose neighborhood votes against its own label is a
  * suspect annotation) and per-class silhouette separability. These
  * are the "is this labeled set trainable" reports a curation
  * pipeline runs before fine-tuning on it.
  *
  * Scale notes: knn2's neighbor generator is the ann4 batch-top-k
  * kernel (bounded-heap per query, broadcast queries) — at corpus
  * scale the candidate generator swaps to the LSH/IVF family
  * (ann2/ann3) with the identical audit downstream; cent1 reduces to
  * a (label x dim)-bounded centroid aggregate plus one broadcast-join
  * scoring pass.
  */
object Audit extends QueryModule {

  /** knn2: each vector's 5 nearest non-self neighbors (exact cosine,
    * ann4 tie-break) vote; the plurality label (count DESC, label ASC
    * — the lp1 mode order) is compared to the vector's own. Output
    * per label: size, suspects, purity.
    */
  def knn2LabelAudit(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val nb = Similarity.batchTopK(
      emb.select(col("vec_id").as("qid"), col("embedding").as("qvec")),
      emb, "qid", "qvec", "vec_id", "embedding", k = 6)
      .filter(col("vec_id") =!= col("qid"))
    val wTop = Window.partitionBy(col("qid")).orderBy(col("rank"))
    val top5 = nb.withColumn("rk", row_number().over(wTop))
      .filter(col("rk") <= 5)
    val votes = top5
      .join(broadcast(emb.select(col("vec_id"), col("label"))),
        Seq("vec_id"))
      .groupBy(col("qid"), col("label")).agg(count(lit(1)).as("c"))
    val wVote = Window.partitionBy(col("qid"))
      .orderBy(col("c").desc, col("label"))
    val plural = votes.withColumn("r", row_number().over(wVote))
      .filter(col("r") === 1)
      .select(col("qid"), col("label").as("knn_label"))
    emb.select(col("vec_id").as("qid"), col("label"))
      .join(plural, Seq("qid"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("label") =!= col("knn_label"), 1L).otherwise(0L))
          .as("n_suspect"))
      .withColumn("purity6",
        round(lit(1.0) - col("n_suspect").cast("double") / col("n"), 6))
  }

  /** cent1: per-class silhouette-lite — for each vector, euclidean
    * distance to its OWN class centroid (a) vs the nearest OTHER
    * centroid (b); s = (b-a)/max(a,b). Centroid coordinates are 6-dp
    * requantized (the only cross-engine summation-order surface);
    * distances then assemble from the fixed-order native dot kernel.
    * Per class: n and mean silhouette.
    */
  def cent1ClassSilhouette(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val cent = emb
      .select(col("label"), posexplode(col("embedding")))
      .groupBy(col("label"), col("pos"))
      .agg(round(avg(col("col").cast("double")), 6).as("cv"))
      .groupBy(col("label"))
      .agg(expr("transform(sort_array(collect_list(struct(pos, cv))),"
        + " x -> x.cv)").as("cvec"))
      .select(col("label").as("clabel"), col("cvec"))
    val scored = emb.crossJoin(broadcast(cent))
      .select(col("vec_id"), col("label"), col("clabel"),
        sqrt(greatest(lit(0.0),
          Similarity.dot(col("embedding"), col("embedding"))
            - lit(2.0) * Similarity.dot(col("embedding"), col("cvec"))
            + Similarity.dot(col("cvec"), col("cvec")))).as("dist"))
    val ab = scored.groupBy(col("vec_id"), col("label"))
      .agg(min(when(col("label") === col("clabel"), col("dist")))
        .as("a"),
        min(when(col("label") =!= col("clabel"), col("dist"))).as("b"))
      .withColumn("sil", round((col("b") - col("a")) /
        greatest(col("a"), col("b")), 6))
    ab.groupBy(col("label"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("sil").cast("decimal(18,6)")).cast("double") /
          count(lit(1)), 6).as("mean_sil6"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "knn2_label_audit" -> (knn2LabelAudit _),
    "cent1_class_silhouette" -> (cent1ClassSilhouette _))

  val oracles: Map[String, String] = Map(
    "knn2_label_audit" ->
      """WITH e AS (SELECT vec_id, embedding, label FROM embeddings),
         scored AS (
           SELECT a.vec_id AS qid, b.vec_id AS nid,
                  list_cosine_similarity(b.embedding, a.embedding)
                    AS sim
           FROM e a, e b),
         ranked AS (
           SELECT qid, nid,
                  row_number() OVER (PARTITION BY qid
                    ORDER BY sim DESC, nid) AS rk
           FROM scored),
         top5 AS (
           SELECT qid, nid FROM (
             SELECT qid, nid,
                    row_number() OVER (PARTITION BY qid ORDER BY rk)
                      AS rk2
             FROM ranked WHERE rk <= 6 AND nid <> qid)
           WHERE rk2 <= 5),
         votes AS (
           SELECT qid, e.label, count(*) AS c
           FROM top5 JOIN e ON nid = e.vec_id
           GROUP BY 1, 2),
         plural AS (
           SELECT qid, label AS knn_label FROM (
             SELECT qid, label,
                    row_number() OVER (PARTITION BY qid
                      ORDER BY c DESC, label) AS r
             FROM votes)
           WHERE r = 1)
         SELECT e.label, CAST(count(*) AS BIGINT) AS n,
                CAST(sum(CASE WHEN e.label <> knn_label
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_suspect,
                round(1.0 - CAST(sum(CASE WHEN e.label <> knn_label
                    THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6)
                  AS purity6
         FROM e JOIN plural ON e.vec_id = plural.qid
         GROUP BY 1""",
    "cent1_class_silhouette" ->
      """WITH e AS (SELECT vec_id, embedding, label FROM embeddings),
         expl AS (
           SELECT vec_id, label, r.i AS pos,
                  CAST(embedding[r.i + 1] AS DOUBLE) AS val
           FROM e, unnest(range(0, len(embedding))) AS r(i)),
         cm AS MATERIALIZED (
           SELECT label AS clabel, pos, round(avg(val), 6) AS cv
           FROM expl GROUP BY 1, 2),
         cvecs AS MATERIALIZED (
           SELECT clabel, list(cv ORDER BY pos) AS cvec
           FROM cm GROUP BY 1),
         scored AS (
           SELECT vec_id, label, clabel,
                  sqrt(greatest(0.0,
                    list_inner_product(CAST(embedding AS DOUBLE[]),
                      CAST(embedding AS DOUBLE[])) -
                    2.0 * list_inner_product(
                      CAST(embedding AS DOUBLE[]), cvec) +
                    list_inner_product(cvec, cvec))) AS dist
           FROM e, cvecs),
         ab AS (
           SELECT vec_id, label,
                  min(CASE WHEN label = clabel THEN dist END) AS a,
                  min(CASE WHEN label <> clabel THEN dist END) AS b
           FROM scored GROUP BY 1, 2),
         sil AS (
           SELECT label, round((b - a) / greatest(a, b), 6) AS sil
           FROM ab)
         SELECT label, CAST(count(*) AS BIGINT) AS n,
                round(CAST(sum(CAST(sil AS DECIMAL(18,6))) AS DOUBLE)
                  / count(*), 6) AS mean_sil6
         FROM sil GROUP BY 1""")
}
