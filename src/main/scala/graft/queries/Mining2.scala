package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ops.Ops

/** Round-10 batch two: frequent-itemset mining beyond pairs (apriori
  * triples), link-analysis scoring on a bipartite graph (HITS hubs/
  * authorities — the directed dual of g2's PageRank), crawl-fragment
  * stitching via tail/head overlap grams (a dedup-family member no
  * similarity score catches), rank-based probability calibration with
  * ECE (model-eval family, completing auc1), grid-density outlier
  * detection over the embedding space (the DBSCAN noise-point
  * definition at grid granularity), and contiguous event-sequence
  * mining (the order-sensitive extension of mk1's Markov bigrams).
  *
  * Exactness: apr1/seq1/dd14 are pure integer counting; cal1 keeps
  * probabilities as integer midrank rationals until one final
  * division; hits1 quantizes scores to 6 dp DECIMAL at every
  * iteration boundary so float error cannot accumulate across
  * iterations (the oracle replays the identical quantized fold);
  * dbs1's cell ids come from float->double widening (exact) and one
  * exact *4 scaling, so floor() agrees bit-for-bit.
  */
object Mining2 extends QueryModule {

  // ---- apr1: frequent triples (apriori level 3) ----------------------

  /** Frequent 3-itemsets with support >= 2 over lineitem baskets,
    * mined at the product-FAMILY granularity (partkey mod 2000 — the
    * standard category-level rollup; at raw-SKU granularity triple
    * support is a vanishing function of catalog size, so the itemset
    * density would be an artifact of the SF, not of behavior). Same
    * scale contract as rec1: baskets collapse in ONE map-side
    * combinable shuffle, triples generate WITHIN the row under the
    * mega-basket cap (fan-out a hard O(cap^3/6) — the apriori
    * candidate explosion lives inside a bounded row, never in a
    * join), and the only other shuffle is the triple-count aggregate.
    */
  def apr1FrequentTriples(s: SparkSession, d: String): DataFrame = {
    // fan-out below the basket collapse (guide §2): the map-side
    // collect_set partials otherwise run single-core over the scan
    val baskets = graft.ops.Ops.fanOutForCompute(
        Tables.lineitem(s, d)
          .select(col("l_orderkey").as("ok"),
            pmod(col("l_partkey"), lit(2000L)).as("pk")), col("ok"))
      .groupBy("ok").agg(sort_array(collect_set(col("pk"))).as("items"))
      .filter(size(col("items")).between(3, 50))
    baskets
      .select(col("items"), explode(col("items")).as("a"))
      .select(col("items"), col("a"),
        explode(filter(col("items"), x => x > col("a"))).as("b"))
      .select(col("a"), col("b"),
        explode(filter(col("items"), x => x > col("b"))).as("c"))
      .groupBy("a", "b", "c").agg(count(lit(1)).as("supp"))
      .filter(col("supp") >= 2)
  }

  // ---- hits1: bipartite HITS hub/authority scores --------------------

  /** Three HITS iterations over the customer->part purchase graph:
    * hub(customer) = sum of its parts' authorities, authority(part) =
    * sum of its customers' hubs, each normalized by the max and
    * QUANTIZED to 6 dp at every step — the quantization is what makes
    * an iterative float computation engine-exact (sums run over
    * DECIMAL(27,6), so combine order cannot move a digit, and the
    * max-normalization is one correctly-rounded division). Per
    * iteration: two equi-shuffles on the edge keys + two 1-row max
    * aggregates broadcast back — the edge list itself never moves
    * twice (same co-partitioned shape PageRank documents); fixed
    * 3 rounds of [[Ops.iterate]], one checkpoint each, fixpoint loop =
    * same kernel.
    */
  def hits1BipartiteHits(s: SparkSession, d: String): DataFrame = {
    val edges = Tables.lineitem(s, d)
      .join(Tables.orders(s, d),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("c"), col("l_partkey").as("p"))
      .distinct()
      .localCheckpoint(true)
    // authority starts at 1.0 for every part; a round's state is the
    // tagged hub/authority frame the query returns
    val init = edges.select(lit("authority").as("kind"), col("p").as("node"))
      .distinct()
      .withColumn("s", lit(1.0).cast("decimal(27,6)"))
    Ops.iterate(init, 3) { st =>
      val auth = st.filter(col("kind") === "authority")
        .select(col("node").as("p"), col("s").as("a"))
      val hRaw = edges.join(auth, "p").groupBy("c")
        .agg(sum(col("a")).as("hraw"))
      val hMax = hRaw.agg(max(col("hraw")).as("hmax"))
      val hub = hRaw.crossJoin(broadcast(hMax))
        .select(col("c"), round(col("hraw").cast("double") /
          col("hmax").cast("double"), 6).cast("decimal(27,6)").as("h"))
      // the null-safe form of the equi-join on c infers no isnotnull(c)
      // filter into hub's subtree, so the hub rows the round returns and
      // the hub this join reads stay one computation (exchange reuse)
      val aRaw = edges.join(hub.withColumnRenamed("c", "hc"),
          col("c").isNotNull && col("c") <=> col("hc"))
        .groupBy("p").agg(sum(col("h")).as("araw"))
      val aMax = aRaw.agg(max(col("araw")).as("amax"))
      hub.select(lit("hub").as("kind"), col("c").as("node"), col("h").as("s"))
        .unionAll(aRaw.crossJoin(broadcast(aMax))
          .select(lit("authority").as("kind"), col("p").as("node"),
            round(col("araw").cast("double") /
              col("amax").cast("double"), 6).cast("decimal(27,6)").as("s")))
    }.select(col("kind"), col("node"), col("s").cast("double").as("score6"))
  }

  // ---- dd14: tail/head overlap stitching -----------------------------

  /** Crawl-fragment stitch detection: unit a's LAST 4 tokens equal
    * unit b's FIRST 4 tokens — the signature of one source document
    * split across fetches, which no whole-unit similarity score
    * catches (Jaccard of a long unit and its short continuation is
    * ~0). Run over the pk2 CHUNK STREAM (16-token windows, overlap
    * 4), whose adjacent chunks overlap by construction: the detector
    * must rediscover every chunk adjacency from CONTENT ALONE —
    * (n_chunks - 1) stitches per multi-chunk doc, plus any genuine
    * cross-doc boundary collisions — so the check is exercised on
    * thousands of known-true positives instead of the empty result
    * the raw synthetic corpus gives (r8: 0 rows at both scales, a
    * vacuous hash-match). One equi-join on the boundary gram; each
    * chunk contributes at most one head row and one tail row, so the
    * shuffle is two slim rows per unit regardless of unit size. Unit
    * ids pack (doc_id, chunk_id) exactly as pipe2 does.
    */
  def dd14OverlapStitch(s: SparkSession, d: String): DataFrame = {
    val chunks = graft.export.Packing.chunkDocuments(
        Tables.documents(s, d), "doc_id", "text",
        maxTokens = 16, overlap = 4)
      .select(col("doc_id"), col("chunk_id"),
        split(col("chunk_text"), " ").as("ts"))
    val unitId = col("doc_id") * lit(1048576L) + col("chunk_id")
    // only FULL chunks can be stitch left-sides (a short tail chunk's
    // last 4 tokens are not a successor's prefix)
    val tails = chunks.filter(size(col("ts")) === 16)
      .select(unitId.as("id_a"),
        concat_ws(" ", slice(col("ts"), -4, 4)).as("gram"))
    val heads = chunks.filter(size(col("ts")) >= 4)
      .select(unitId.as("id_b"),
        concat_ws(" ", slice(col("ts"), 1, 4)).as("gram"))
    tails.join(heads, "gram")
      .filter(col("id_a") =!= col("id_b"))
      .select(col("id_a"), col("id_b"), col("gram").as("overlap"))
  }

  // ---- cal1: rank-based calibration / reliability diagram ------------

  /** Reliability diagram + expected calibration error for the
    * probabilistic reading of "higher event value => purchase": the
    * predicted probability of row r is its value's midrank percentile
    * (2*below + cnt over 2n — an INTEGER rational), binned into
    * deciles by integer floor division, and compared per bin against
    * the empirical purchase rate. Every probability stays an integer
    * ratio until the final rounded division, so bins and gaps are
    * engine-exact. Shape: the ordered scan runs on the DISTINCT-value
    * aggregate (auc1/ks1 discipline), then one decile aggregate.
    */
  def cal1Calibration(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val byScore = ev.groupBy(col("value").as("score"))
      .agg(count(lit(1)).as("cnt"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("pos"))
    // distinct raw scores scale ~ rows (continuous domain): midrank
    // "below" counts run the distributed prefix kernel, not a global
    // window (exclusive sum: 0 at the smallest score)
    val ranked = graft.ops.GlobalRank.prefixScan(byScore,
      Seq(col("score")),
      Seq(graft.ops.GlobalRank.Scan("below", col("cnt"),
        inclusive = false)))
    val n = byScore.agg(sum(col("cnt")).as("n"))
    ranked.crossJoin(broadcast(n))
      // midrank numerator 2*below+cnt over denominator 2n; decile =
      // floor(10 * num / den) by integer division (phat = 1.0 lands in
      // bin 9 because below+cnt/2 < n always)
      .withColumn("bin",
        expr("(10 * (2 * below + cnt)) div (2 * n)"))
      .groupBy("bin")
      .agg(sum(col("cnt")).as("n_bin"),
        sum(col("pos")).as("n_pos"),
        sum((col("below") * 2 + col("cnt")) * col("cnt")).as("phat_num"),
        first(col("n")).as("n_tot"))
      .select(col("bin"), col("n_bin"), col("n_pos"),
        round(col("phat_num").cast("double") /
          (col("n_tot") * 2 * col("n_bin")).cast("double"), 6)
          .as("mean_phat6"),
        round(col("n_pos").cast("double") / col("n_bin").cast("double"), 6)
          .as("frac_pos6"))
  }

  // ---- dbs1: grid-density outliers over the embedding plane ----------

  /** DBSCAN noise points at grid granularity: project embeddings onto
    * their first two coordinates, quantize to a 0.25-wide grid, and
    * flag every vector whose cell holds < 3 points. The cell id is
    * floor(x*4) — float->double widening is exact and *4 only shifts
    * the exponent, so both engines compute the identical cell. ONE
    * count-by-cell shuffle (map-side combinable) + a broadcast join
    * back; the full DBSCAN cluster merge is the kcore/CC kernel over
    * the 8-neighborhood cell graph, which the cell AGGREGATE (not the
    * point stream) would feed at 100 TB.
    */
  def dbs1GridDensity(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d).select(col("vec_id"),
      floor(col("embedding").getItem(0).cast("double") * 4)
        .cast("long").as("cx"),
      floor(col("embedding").getItem(1).cast("double") * 4)
        .cast("long").as("cy"))
    val cells = e.groupBy("cx", "cy").agg(count(lit(1)).as("cell_n"))
    e.join(broadcast(cells), Seq("cx", "cy"))
      .select(col("vec_id"), col("cx"), col("cy"), col("cell_n"),
        (col("cell_n") < 3).cast("int").as("is_noise"))
  }

  // ---- seq1: contiguous event-sequence mining ------------------------

  /** Frequent contiguous 3-step event-type sequences: for each user's
    * time-ordered stream (ties broken by event_id for determinism),
    * every window of three consecutive events is a candidate pattern;
    * output patterns with occurrence and distinct-user support. The
    * lead windows partition per user — parallel across the user key
    * with no global ordering anywhere — and the pattern aggregate is
    * map-side combinable integer counting.
    */
  def seq1EventTrigrams(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    Tables.events(s, d)
      .select(col("user_id"), col("event_type").as("e1"),
        lead(col("event_type"), 1).over(w).as("e2"),
        lead(col("event_type"), 2).over(w).as("e3"))
      .filter(col("e3").isNotNull)
      .groupBy("e1", "e2", "e3")
      .agg(count(lit(1)).as("n_occ"),
        count_distinct(col("user_id")).as("n_users"))
  }

  // ---- registry ------------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "apr1_frequent_triples" -> (apr1FrequentTriples _),
    "hits1_bipartite_hits" -> (hits1BipartiteHits _),
    "dd14_overlap_stitch" -> (dd14OverlapStitch _),
    "cal1_calibration" -> (cal1Calibration _),
    "dbs1_grid_density" -> (dbs1GridDensity _),
    "seq1_event_trigrams" -> (seq1EventTrigrams _))

  val oracles: Map[String, String] = Map(
    "apr1_frequent_triples" ->
      """WITH d AS MATERIALIZED (
           SELECT DISTINCT l_orderkey AS ok, l_partkey % 2000 AS pk
           FROM lineitem),
         sz AS (SELECT ok FROM d GROUP BY ok
                HAVING count(*) BETWEEN 3 AND 50),
         dd AS MATERIALIZED (SELECT d.* FROM d JOIN sz USING (ok))
         SELECT x.pk AS a, y.pk AS b, z.pk AS c,
                CAST(count(*) AS BIGINT) AS supp
         FROM dd x JOIN dd y ON x.ok = y.ok AND x.pk < y.pk
                   JOIN dd z ON y.ok = z.ok AND y.pk < z.pk
         GROUP BY 1, 2, 3 HAVING count(*) >= 2""",
    "hits1_bipartite_hits" ->
      """WITH e AS MATERIALIZED (
           SELECT DISTINCT o_custkey AS c, l_partkey AS p
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         a0 AS (SELECT DISTINCT p, CAST(1.0 AS DECIMAL(27,6)) AS a FROM e),
         h1r AS MATERIALIZED (
           SELECT c, sum(a) AS hraw FROM e JOIN a0 USING (p) GROUP BY c),
         h1 AS MATERIALIZED (
           SELECT c, CAST(round(CAST(hraw AS DOUBLE) /
             (SELECT CAST(max(hraw) AS DOUBLE) FROM h1r), 6)
             AS DECIMAL(27,6)) AS h FROM h1r),
         a1r AS MATERIALIZED (
           SELECT p, sum(h) AS araw FROM e JOIN h1 USING (c) GROUP BY p),
         a1 AS MATERIALIZED (
           SELECT p, CAST(round(CAST(araw AS DOUBLE) /
             (SELECT CAST(max(araw) AS DOUBLE) FROM a1r), 6)
             AS DECIMAL(27,6)) AS a FROM a1r),
         h2r AS MATERIALIZED (
           SELECT c, sum(a) AS hraw FROM e JOIN a1 USING (p) GROUP BY c),
         h2 AS MATERIALIZED (
           SELECT c, CAST(round(CAST(hraw AS DOUBLE) /
             (SELECT CAST(max(hraw) AS DOUBLE) FROM h2r), 6)
             AS DECIMAL(27,6)) AS h FROM h2r),
         a2r AS MATERIALIZED (
           SELECT p, sum(h) AS araw FROM e JOIN h2 USING (c) GROUP BY p),
         a2 AS MATERIALIZED (
           SELECT p, CAST(round(CAST(araw AS DOUBLE) /
             (SELECT CAST(max(araw) AS DOUBLE) FROM a2r), 6)
             AS DECIMAL(27,6)) AS a FROM a2r),
         h3r AS MATERIALIZED (
           SELECT c, sum(a) AS hraw FROM e JOIN a2 USING (p) GROUP BY c),
         h3 AS MATERIALIZED (
           SELECT c, CAST(round(CAST(hraw AS DOUBLE) /
             (SELECT CAST(max(hraw) AS DOUBLE) FROM h3r), 6)
             AS DECIMAL(27,6)) AS h FROM h3r),
         a3r AS MATERIALIZED (
           SELECT p, sum(h) AS araw FROM e JOIN h3 USING (c) GROUP BY p),
         a3 AS MATERIALIZED (
           SELECT p, CAST(round(CAST(araw AS DOUBLE) /
             (SELECT CAST(max(araw) AS DOUBLE) FROM a3r), 6)
             AS DECIMAL(27,6)) AS a FROM a3r)
         SELECT 'hub' AS kind, c AS node, CAST(h AS DOUBLE) AS score6
         FROM h3
         UNION ALL
         SELECT 'authority', p, CAST(a AS DOUBLE) FROM a3""",
    // over the pk2 chunk stream (same chunk CTEs as pk2's dual) so
    // adjacencies exist by construction — the detector must find them
    // from content alone
    "dd14_overlap_stitch" ->
      """WITH tok AS (SELECT doc_id,
             regexp_split_to_array(trim(text), '\s+') AS ts
           FROM documents),
         meta AS (SELECT doc_id, ts,
             CAST(CASE WHEN len(ts) <= 16 THEN 1
                  ELSE 1 + (len(ts) - 5) // 12 END AS BIGINT)
               AS n_chunks
           FROM tok),
         ch AS MATERIALIZED (
           SELECT doc_id,
             unnest(range(0, n_chunks)) AS chunk_id,
             unnest(list_transform(range(0, n_chunks),
               i -> ts[CAST(i * 12 + 1 AS INT):
                       CAST(i * 12 + 16 AS INT)])) AS cts
           FROM meta),
         tails AS (SELECT doc_id * 1048576 + chunk_id AS id_a,
             array_to_string(cts[13:16], ' ') AS gram
           FROM ch WHERE len(cts) = 16),
         heads AS (SELECT doc_id * 1048576 + chunk_id AS id_b,
             array_to_string(cts[1:4], ' ') AS gram
           FROM ch WHERE len(cts) >= 4)
         SELECT id_a, id_b, gram AS overlap
         FROM tails JOIN heads USING (gram)
         WHERE id_a <> id_b""",
    "cal1_calibration" ->
      """WITH bs AS MATERIALIZED (
           SELECT value AS score, count(*) AS cnt,
                  count(*) FILTER (event_type = 'purchase') AS pos
           FROM events GROUP BY 1),
         rk AS (SELECT score, cnt, pos,
                  coalesce(sum(cnt) OVER (ORDER BY score
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS below
                FROM bs),
         n AS (SELECT sum(cnt) AS n FROM bs)
         SELECT CAST((10 * (2 * below + cnt)) // (2 * n) AS BIGINT) AS bin,
                CAST(sum(cnt) AS BIGINT) AS n_bin,
                CAST(sum(pos) AS BIGINT) AS n_pos,
                round(CAST(sum((2 * below + cnt) * cnt) AS DOUBLE) /
                      CAST(n * 2 * sum(cnt) AS DOUBLE), 6) AS mean_phat6,
                round(CAST(sum(pos) AS DOUBLE) / sum(cnt), 6) AS frac_pos6
         FROM rk, n GROUP BY 1, n""",
    "dbs1_grid_density" ->
      """WITH e AS MATERIALIZED (
           SELECT vec_id,
                  CAST(FLOOR(CAST(embedding[1] AS DOUBLE) * 4) AS BIGINT)
                    AS cx,
                  CAST(FLOOR(CAST(embedding[2] AS DOUBLE) * 4) AS BIGINT)
                    AS cy
           FROM embeddings),
         cells AS (SELECT cx, cy, count(*) AS n FROM e GROUP BY 1, 2)
         SELECT vec_id, e.cx, e.cy, CAST(n AS BIGINT) AS cell_n,
                CAST(n < 3 AS INT) AS is_noise
         FROM e JOIN cells USING (cx, cy)""",
    "seq1_event_trigrams" ->
      """WITH t AS (SELECT user_id, event_type AS e1,
                  lead(event_type, 1) OVER w AS e2,
                  lead(event_type, 2) OVER w AS e3
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
         SELECT e1, e2, e3, CAST(count(*) AS BIGINT) AS n_occ,
                CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
         FROM t WHERE e3 IS NOT NULL GROUP BY 1, 2, 3""")
}
