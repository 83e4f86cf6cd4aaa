package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Round-11 batch two: corpus-distribution diagnostics and an
  * in-plan classifier — per-source KL/Jensen-Shannon divergence (the
  * data-mixture drift report every pretraining pipeline keeps),
  * a Zipf rank-frequency fit, multinomial Naive Bayes trained and
  * scored entirely inside the plan, and edit-distance near-name
  * counts on the DISTINCT-name domain.
  *
  * Exactness: every probability is a rational of exact counts; each
  * ln is applied once to an identical double and the resulting term
  * is rounded to 9 dp and summed as DECIMAL (the t10 discipline), so
  * combine order cannot move a digit. NB scores stay DECIMAL all the
  * way to the argmax — the class comparison is exact, not float.
  */
object Diverge extends QueryModule {

  private def toks(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(col("source"), col("lang"),
      explode(split(lower(trim(col("text"))), "\\s+")).as("word"))

  // ---- kld1: per-source KL / JSD vs the corpus distribution -----------

  /** For each source: KL(P_src ‖ P_corpus) and the bounded
    * Jensen-Shannon divergence of its word distribution against the
    * whole corpus. Shape: one token aggregate per (source, word), a
    * vocab-row aggregate, then a source×vocab expansion (LINEAR in
    * vocab — never in tokens) left-joined with the source counts; all
    * per-word terms are 9-dp DECIMAL summands. The mixture-drift
    * report a 100 TB corpus runs per ingest batch.
    */
  def kld1SourceDivergence(s: SparkSession, d: String): DataFrame = {
    val t = toks(s, d)
    val sw = t.groupBy(col("source"), col("word"))
      .agg(count(lit(1)).as("c_sw"))
    val w = t.groupBy(col("word")).agg(count(lit(1)).as("c_w"))
    val srcN = sw.groupBy(col("source")).agg(sum(col("c_sw")).as("n_s"))
    val totN = w.agg(sum(col("c_w")).as("n"))
    val grid = srcN.crossJoin(broadcast(w)).crossJoin(broadcast(totN))
      .join(sw, Seq("source", "word"), "left")
    val ps = coalesce(col("c_sw").cast("double"), lit(0.0)) / col("n_s")
    val pc = col("c_w").cast("double") / col("n")
    val mid = (ps + pc) / lit(2.0)
    val klTerm = when(col("c_sw").isNotNull,
      round(ps * log(ps / pc), 9).cast("decimal(18,9)"))
      .otherwise(lit(0).cast("decimal(18,9)"))
    val jsTerm = round(
      when(col("c_sw").isNotNull, ps * log(ps / mid) / lit(2.0))
        .otherwise(lit(0.0)) + pc * log(pc / mid) / lit(2.0), 9)
      .cast("decimal(18,9)")
    grid.groupBy(col("source"))
      .agg(max(col("n_s")).as("n_tokens"),
        round(sum(klTerm).cast("double"), 6).as("kl6"),
        round(sum(jsTerm).cast("double"), 6).as("jsd6"))
  }

  // ---- zipf1: rank-frequency power-law fit ----------------------------

  /** Zipf fit over the top-100 terms: OLS slope/intercept of ln(freq)
    * on ln(rank). The heavy stream collapses to the vocab aggregate,
    * a TakeOrdered(100) bounds the scan, and the OLS moments are
    * exact DECIMAL sums of 9-dp terms — the final slope assembles in
    * a fixed IEEE order. A corpus whose slope drifts from ≈−1 has a
    * duplication or boilerplate problem.
    */
  def zipf1RankFrequency(s: SparkSession, d: String): DataFrame = {
    val freq = toks(s, d).groupBy(col("word"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("word")).limit(100)
    val ranked = freq.withColumn("rank",
      row_number().over(Window.orderBy(col("cnt").desc, col("word")))
        .cast("long"))
    val terms = ranked.select(
      round(log(col("rank").cast("double")), 9).cast("decimal(18,9)")
        .as("x"),
      round(log(col("cnt").cast("double")), 9).cast("decimal(18,9)")
        .as("y"))
    val m = terms.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
      sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sxx"))
    val slope = (col("n") * col("sxy").cast("double") -
      col("sx").cast("double") * col("sy").cast("double")) /
      (col("n") * col("sxx").cast("double") -
        col("sx").cast("double") * col("sx").cast("double"))
    m.select(col("n").as("n_terms"),
      round(slope, 6).as("slope6"),
      round((col("sy").cast("double") - slope *
        col("sx").cast("double")) / col("n"), 6).as("intercept6"))
  }

  // ---- nb1: multinomial Naive Bayes, trained and scored in-plan -------

  /** Multinomial Naive Bayes over the documents table: train
    * add-one-smoothed P(word|lang) + priors, score every document,
    * emit the confusion matrix. The model IS a dataframe (vocab ×
    * classes log-prob table, built by one aggregate + a linear
    * expansion); scoring is one join on the word key with DECIMAL
    * score sums, so the argmax is an exact comparison. Resubstitution
    * here; at scale the model table persists and scores any corpus.
    */
  def nb1NaiveBayes(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val dw = docs.select(col("doc_id"), col("lang"),
        explode(split(lower(trim(col("text"))), "\\s+")).as("word"))
      .groupBy(col("doc_id"), col("lang"), col("word"))
      .agg(count(lit(1)).cast("decimal(10,0)").as("k"))
    val wc = dw.groupBy(col("lang"), col("word"))
      .agg(sum(col("k")).cast("long").as("c_wc"))
    val classN = wc.groupBy(col("lang"))
      .agg(sum(col("c_wc")).as("n_c"))
    val vocab = wc.select(col("word")).distinct()
    val vsize = vocab.agg(count(lit(1)).as("v"))
    val priors = docs.groupBy(col("lang")).agg(count(lit(1)).as("d_c"))
      .crossJoin(broadcast(docs.agg(count(lit(1)).as("d_tot"))))
      .select(col("lang").as("cls"),
        round(log(col("d_c").cast("double") / col("d_tot")), 9)
          .cast("decimal(18,9)").as("prior9"))
    // vocab × classes, zero-count words included via the left join
    val lp = classN.select(col("lang").as("cls"), col("n_c"))
      .crossJoin(broadcast(vocab)).crossJoin(broadcast(vsize))
      .join(wc.withColumnRenamed("lang", "cls"), Seq("cls", "word"), "left")
      .select(col("cls"), col("word"),
        round(log((coalesce(col("c_wc"), lit(0L)) + lit(1)).cast("double") /
          (col("n_c") + col("v")).cast("double")), 9)
          .cast("decimal(18,9)").as("lp9"))
    val scores = dw.join(lp, "word")
      .groupBy(col("doc_id"), col("lang"), col("cls"))
      .agg(sum(col("k") * col("lp9")).as("ll"))
      .join(broadcast(priors), "cls")
      .withColumn("score", col("prior9") + col("ll"))
    val pred = scores.withColumn("rk", row_number().over(
        Window.partitionBy(col("doc_id"))
          .orderBy(col("score").desc, col("cls"))))
      .filter(col("rk") === 1)
    pred.groupBy(col("lang"), col("cls").as("predicted"))
      .agg(count(lit(1)).as("n_docs"))
  }

  // ---- lev1: edit-distance near-name counts ---------------------------

  /** Per-part count of DISTINCT other part names within Levenshtein
    * distance 3, plus the nearest distance. The quadratic metric runs
    * on the distinct-name domain (64 names — bounded by the catalog,
    * not the row count) and broadcasts back over one fact scan. The
    * distance is Spark's thresholded `levenshtein(a, b, k)`: exact when
    * ≤ k, −1 above, and banded, so a far pair costs O(k·min) rather
    * than the full O(n·m) DP — the difference that matters when the
    * blocked candidate set is billions of mostly-far pairs. DuckDB's
    * plain `levenshtein` stays a valid oracle (values ≤ k agree).
    */
  def lev1EditDistance(s: SparkSession, d: String): DataFrame = {
    val names = Tables.part(s, d).select(col("p_name")).distinct()
    val pairs = names.as("a").crossJoin(broadcast(names.as("b")))
      .filter(col("a.p_name") =!= col("b.p_name"))
      .select(col("a.p_name").as("p_name"),
        levenshtein(col("a.p_name"), col("b.p_name"), 3).as("dist"))
      .filter(col("dist") >= 0)
    val near = pairs.groupBy(col("p_name"))
      .agg(count(lit(1)).as("n_near"), min(col("dist")).as("min_dist"))
    Tables.part(s, d).select(col("p_partkey"), col("p_name"))
      .join(broadcast(near), Seq("p_name"), "left")
      .select(col("p_partkey"), col("p_name"),
        coalesce(col("n_near"), lit(0L)).as("n_near"),
        coalesce(col("min_dist"), lit(-1)).as("min_dist"))
  }

  // ---- registry ------------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "kld1_source_divergence" -> (kld1SourceDivergence _),
    "zipf1_rank_frequency" -> (zipf1RankFrequency _),
    "nb1_naive_bayes" -> (nb1NaiveBayes _),
    "lev1_edit_distance" -> (lev1EditDistance _))

  val oracles: Map[String, String] = Map(
    "kld1_source_divergence" ->
      """WITH t AS MATERIALIZED (
           SELECT source,
                  unnest(regexp_split_to_array(lower(trim(text)), '\s+'))
                    AS word
           FROM documents),
         sw AS (SELECT source, word, count(*) AS c_sw FROM t GROUP BY 1, 2),
         w AS (SELECT word, count(*) AS c_w FROM t GROUP BY 1),
         srcn AS (SELECT source, CAST(sum(c_sw) AS BIGINT) AS n_s
                  FROM sw GROUP BY 1),
         totn AS (SELECT CAST(sum(c_w) AS BIGINT) AS n FROM w),
         grid AS (
           SELECT srcn.source, srcn.n_s, w.word, w.c_w, totn.n, sw.c_sw
           FROM srcn CROSS JOIN w CROSS JOIN totn
           LEFT JOIN sw ON sw.source = srcn.source AND sw.word = w.word),
         terms AS (SELECT source, n_s,
           CASE WHEN c_sw IS NOT NULL THEN
             CAST(round((CAST(c_sw AS DOUBLE) / n_s) *
               ln((CAST(c_sw AS DOUBLE) / n_s) /
                  (CAST(c_w AS DOUBLE) / n)), 9) AS DECIMAL(18,9))
             ELSE CAST(0 AS DECIMAL(18,9)) END AS kl_term,
           CAST(round(
             (CASE WHEN c_sw IS NOT NULL THEN
               (CAST(c_sw AS DOUBLE) / n_s) *
               ln((CAST(c_sw AS DOUBLE) / n_s) /
                  ((CAST(c_sw AS DOUBLE) / n_s + CAST(c_w AS DOUBLE) / n)
                   / 2.0)) / 2.0
              ELSE 0.0 END) +
             (CAST(c_w AS DOUBLE) / n) *
               ln((CAST(c_w AS DOUBLE) / n) /
                  ((coalesce(CAST(c_sw AS DOUBLE), 0.0) / n_s +
                    CAST(c_w AS DOUBLE) / n) / 2.0)) / 2.0,
             9) AS DECIMAL(18,9)) AS js_term
           FROM grid)
         SELECT source, max(n_s) AS n_tokens,
                round(CAST(sum(kl_term) AS DOUBLE), 6) AS kl6,
                round(CAST(sum(js_term) AS DOUBLE), 6) AS jsd6
         FROM terms GROUP BY 1""",
    "zipf1_rank_frequency" ->
      """WITH t AS (
           SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+'))
                    AS word
           FROM documents),
         freq AS MATERIALIZED (
           SELECT word, count(*) AS cnt FROM t GROUP BY 1
           ORDER BY cnt DESC, word LIMIT 100),
         ranked AS (SELECT cnt,
           row_number() OVER (ORDER BY cnt DESC, word) AS rank FROM freq),
         terms AS (SELECT
           CAST(round(ln(CAST(rank AS DOUBLE)), 9) AS DECIMAL(18,9)) AS x,
           CAST(round(ln(CAST(cnt AS DOUBLE)), 9) AS DECIMAL(18,9)) AS y
           FROM ranked),
         m AS (SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
                  sum(x * y) AS sxy, sum(x * x) AS sxx FROM terms)
         SELECT CAST(n AS BIGINT) AS n_terms,
                round((n * CAST(sxy AS DOUBLE) -
                       CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
                      (n * CAST(sxx AS DOUBLE) -
                       CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6)
                  AS slope6,
                round((CAST(sy AS DOUBLE) -
                       ((n * CAST(sxy AS DOUBLE) -
                         CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
                        (n * CAST(sxx AS DOUBLE) -
                         CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))) *
                       CAST(sx AS DOUBLE)) / n, 6) AS intercept6
         FROM m""",
    "nb1_naive_bayes" ->
      """WITH dw AS MATERIALIZED (
           SELECT doc_id, lang, word, CAST(count(*) AS DECIMAL(10,0)) AS k
           FROM (SELECT doc_id, lang,
                   unnest(regexp_split_to_array(lower(trim(text)), '\s+'))
                     AS word
                 FROM documents)
           GROUP BY 1, 2, 3),
         wc AS MATERIALIZED (
           SELECT lang AS cls, word, CAST(sum(k) AS BIGINT) AS c_wc
           FROM dw GROUP BY 1, 2),
         classn AS (SELECT cls, CAST(sum(c_wc) AS BIGINT) AS n_c
                    FROM wc GROUP BY 1),
         vocab AS (SELECT DISTINCT word FROM wc),
         vsize AS (SELECT count(*) AS v FROM vocab),
         priors AS (
           SELECT lang AS cls,
                  CAST(round(ln(CAST(count(*) AS DOUBLE) /
                    (SELECT count(*) FROM documents)), 9)
                    AS DECIMAL(18,9)) AS prior9
           FROM documents GROUP BY 1),
         lp AS MATERIALIZED (
           SELECT classn.cls, vocab.word,
                  CAST(round(ln(CAST(coalesce(wc.c_wc, 0) + 1 AS DOUBLE) /
                    CAST(classn.n_c + vsize.v AS DOUBLE)), 9)
                    AS DECIMAL(18,9)) AS lp9
           FROM classn CROSS JOIN vocab CROSS JOIN vsize
           LEFT JOIN wc ON wc.cls = classn.cls AND wc.word = vocab.word),
         scores AS (
           SELECT dw.doc_id, dw.lang, lp.cls,
                  priors.prior9 + sum(dw.k * lp.lp9) AS score
           FROM dw JOIN lp ON dw.word = lp.word
           JOIN priors ON priors.cls = lp.cls
           GROUP BY 1, 2, 3, priors.prior9),
         pred AS (
           SELECT lang, cls AS predicted,
                  row_number() OVER (PARTITION BY doc_id
                    ORDER BY score DESC, cls) AS rk
           FROM scores)
         SELECT lang, predicted, count(*) AS n_docs
         FROM pred WHERE rk = 1 GROUP BY 1, 2""",
    "lev1_edit_distance" ->
      """WITH names AS MATERIALIZED (SELECT DISTINCT p_name FROM part),
         pairs AS (
           SELECT a.p_name,
                  levenshtein(a.p_name, b.p_name) AS dist
           FROM names a CROSS JOIN names b
           WHERE a.p_name <> b.p_name
             AND levenshtein(a.p_name, b.p_name) <= 3),
         near AS (SELECT p_name, count(*) AS n_near,
                  CAST(min(dist) AS INT) AS min_dist
                  FROM pairs GROUP BY 1)
         SELECT p_partkey, part.p_name,
                coalesce(n_near, 0) AS n_near,
                coalesce(min_dist, -1) AS min_dist
         FROM part LEFT JOIN near ON part.p_name = near.p_name""")
}
