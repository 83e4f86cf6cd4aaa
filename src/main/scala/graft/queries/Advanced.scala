package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.StringSimilarity

/** Round-9 operator families: graph structure mining (triangles /
  * clustering coefficients), model-evaluation statistics (exact ROC
  * AUC), robust outlier detection (integer-exact median/MAD), classic
  * time-series statistics (autocorrelation, EWMA smoothing), snapshot
  * change-data-capture (full-outer diff), sparse-vector TF-IDF
  * similarity search (df-capped posting self-join), and fuzzy string
  * matching on a native Jaro-Winkler codegen expression.
  *
  * Cross-engine exactness strategy per query is documented inline; the
  * family-wide defaults are the proven ones: keep everything integer
  * as long as possible (auc1, mad1 never touch a float until the final
  * division), and where float terms must be summed, round each term to
  * 6 dp and sum as DECIMAL so combine order can't move a digit (acf1,
  * sim1 — the t10/t13 discipline).
  */
object Advanced extends QueryModule {

  // ---- tri1: triangle counting / clustering coefficients ------------

  /** Per-node triangle counts + local clustering coefficient over a
    * deterministic synthetic graph: inside each
    * (nation, mktsegment, custkey%10) group the customers form a
    * squared path (edges to the next and next-next customer), so every
    * consecutive triple is a triangle and coefficients vary at the
    * path ends. The Spark side discovers triangles generically from
    * the edge list via [[graft.graph.Triangles]] (degree-ordered
    * orientation — the O(sqrt(m)) fan-out bound is what survives
    * 100 TB, see the Scaladoc there); the oracle brute-forces the
    * 3-way self-join on the canonical a<b edge table.
    */
  def tri1Triangles(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
    val w = Window.partitionBy(col("c_nationkey"), col("c_mktsegment"),
        pmod(col("c_custkey"), lit(10)))
      .orderBy(col("c_custkey"))
    val chained = c.select(col("c_custkey").as("cur"),
      lag(col("c_custkey"), 1).over(w).as("p1"),
      lag(col("c_custkey"), 2).over(w).as("p2"))
    val edges = chained.filter(col("p1").isNotNull)
      .select(col("p1").as("src"), col("cur").as("dst"))
      .unionAll(chained.filter(col("p2").isNotNull)
        .select(col("p2").as("src"), col("cur").as("dst")))
    graft.graph.Triangles.clusteringCoefficients(edges, "src", "dst")
  }

  // ---- auc1: exact ROC AUC via the rank-sum identity -----------------

  /** ROC AUC of `value` as a score for the purchase/non-purchase
    * label, by the Mann-Whitney rank-sum identity with average ranks
    * for ties. Everything stays INTEGER until the final division:
    * 2·avg_rank = 2·(#strictly-below) + cnt + 1 is an integer per
    * distinct score, so sum(pos · 2·avg_rank) is exact, and
    * AUC = (Σ − n⁺(n⁺+1)) / (2·n⁺·n⁻) is one deterministic double
    * division — bit-identical cross-engine with no rounding framework.
    *
    * Scale shape: the ordered scan runs on the DISTINCT-SCORE
    * aggregate (the ks1 pattern), not the event stream — fine for any
    * bounded score domain (2-dp currency here); an unbounded domain
    * takes the binned variant exactly as ks2 does for drift.
    */
  def auc1RocAuc(s: SparkSession, d: String): DataFrame =
    aucOn(Tables.events(s, d), col("event_type") === "purchase", col("value"))

  /** Frame-parameterized core: AUC of `score` for the `isPos` label. */
  private[graft] def aucOn(ev: DataFrame,
      isPos: org.apache.spark.sql.Column,
      score: org.apache.spark.sql.Column): DataFrame = {
    val byScore = ev
      .groupBy(score.as("score"))
      .agg(count(lit(1)).as("cnt"),
        sum(when(isPos, 1L).otherwise(0L)).as("pos"))
    // distinct raw scores scale ~ rows for continuous domains, so the
    // "strictly below" count runs the distributed prefix kernel, not
    // a global window (exclusive sum: 0 on the first score)
    val ranked = graft.ops.GlobalRank.prefixScan(byScore,
        Seq(col("score")),
        Seq(graft.ops.GlobalRank.Scan("cum", col("cnt"),
          inclusive = false)))
      .withColumn("r2", lit(2) * col("cum") + col("cnt") + lit(1))
    ranked
      .agg(sum(col("pos") * col("r2")).as("sr2"),
        sum(col("pos")).as("npos"), sum(col("cnt")).as("ntot"))
      .select(col("npos").as("n_pos"),
        (col("ntot") - col("npos")).as("n_neg"),
        round((col("sr2") - col("npos") * (col("npos") + 1)).cast("double") /
          (lit(2.0) * col("npos") * (col("ntot") - col("npos"))), 6).as("auc"))
  }

  // ---- mad1: robust outliers by integer-exact median/MAD -------------

  /** Per-segment robust outliers: |x − median| > 3 · 1.4826 · MAD,
    * demonstrated on planted anomalies (custkey ≡ 0 mod 251 carries a
    * 25× balance — ~0.4% contamination, which the median/MAD are
    * robust to by construction, so the detector flags exactly the
    * plants while a mean/stddev z-score would have its scale dragged
    * by them). Both medians are computed in INTEGER CENTS by explicit
    * rank-picking (row_number + the middle one or two rows), never by
    * an engine's interpolating percentile — Spark's `percentile` and
    * DuckDB's `quantile_cont` disagree in the last ULP because they
    * associate the interpolation differently. With m2 = cents[k]+cents[k2]
    * (= 2·median) and A = |2·cents − m2| (= 4·|x−med| in half-cents),
    * the robust z-score 2·A / (1.4826 · M2A) is a single double
    * expression over integers: deterministic.
    *
    * Scale: two window passes partitioned by segment (sort within
    * group). For heavy groups the rank-pick generalizes to the
    * distributed prefix-count shuf1 uses; the approximate path at
    * unbounded scale is the KLL sketch family (kll1).
    */
  def mad1RobustOutliers(s: SparkSession, d: String): DataFrame =
    madOutliersOn(Tables.customer(s, d)
      .select(col("c_custkey"), col("c_mktsegment"),
        round(col("c_acctbal") *
          when(pmod(col("c_custkey"), lit(251)) === 0, lit(25)).otherwise(lit(1)),
          2).as("bal")))

  /** Frame-parameterized core (expects c_custkey/c_mktsegment/bal). */
  private[graft] def madOutliersOn(rows: DataFrame): DataFrame = {
    val c = rows.withColumn("cents", round(col("bal") * 100, 0).cast("long"))
    val wOrd = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("cents"), col("c_custkey"))
    val wAll = Window.partitionBy(col("c_mktsegment"))
    def m2Over(valCol: String, ordW: org.apache.spark.sql.expressions.WindowSpec) = {
      val rn = row_number().over(ordW).cast("long")
      val n = count(lit(1)).over(wAll)
      val k1 = floor((n + lit(1)) / lit(2)).cast("long")
      val k2 = floor((n + lit(2)) / lit(2)).cast("long")
      val pick = when(rn === k1 || rn === k2, col(valCol)).otherwise(lit(0L))
      (sum(pick).over(wAll) * when(pmod(n, lit(2)) === 1, lit(2)).otherwise(lit(1)))
    }
    val withMed = c.withColumn("m2", m2Over("cents", wOrd))
      .withColumn("a", abs(lit(2) * col("cents") - col("m2")))
    val wOrdA = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("a"), col("c_custkey"))
    withMed.withColumn("m2a", m2Over("a", wOrdA))
      .filter(col("m2a") > 0)
      .withColumn("robust_z",
        round(lit(2.0) * col("a") / (lit(1.4826) * col("m2a")), 6))
      .filter(col("robust_z") > 3.0)
      .select(col("c_custkey"), col("c_mktsegment"), col("bal"),
        col("robust_z"))
  }

  // ---- acf1: autocorrelation of the daily event-count series ---------

  /** Autocorrelation of daily event counts at lags 1–3 — the
    * seasonality probe. The raw stream collapses to one row per day
    * FIRST (map-side combinable count), so the windowed part runs on a
    * #days-row series; deviations from the mean are doubles but each
    * lag product is rounded to 6 dp and summed as DECIMAL (the acf sum
    * must not depend on combine order).
    */
  def acf1Autocorr(s: SparkSession, d: String): DataFrame =
    autocorrOn(Tables.events(s, d))

  /** Frame-parameterized core over any frame with a `ts` column. */
  private[graft] def autocorrOn(ev: DataFrame): DataFrame = {
    val daily = ev
      .groupBy(col("ts").cast("date").as("day"))
      .agg(count(lit(1)).as("n"))
    val tot = daily.agg(sum(col("n")).as("sn"), count(lit(1)).as("nd"))
    val w = Window.orderBy(col("day"))
    val dev = daily.crossJoin(broadcast(tot))
      .withColumn("m", col("sn").cast("double") / col("nd"))
      .withColumn("dev", col("n") - col("m"))
      .withColumn("d1", lead(col("dev"), 1).over(w))
      .withColumn("d2", lead(col("dev"), 2).over(w))
      .withColumn("d3", lead(col("dev"), 3).over(w))
    def dsum(c: org.apache.spark.sql.Column) =
      sum(round(c, 6).cast("decimal(18,6)")).cast("double")
    val sums = dev.agg(
      dsum(col("dev") * col("dev")).as("den"),
      dsum(col("dev") * col("d1")).as("n1"),
      dsum(col("dev") * col("d2")).as("n2"),
      dsum(col("dev") * col("d3")).as("n3"),
      max(col("nd")).as("n_days"))
    sums.selectExpr("n_days",
      "stack(3, 1, round(n1/den, 6), 2, round(n2/den, 6), 3, round(n3/den, 6)) as (lag, autocorr)")
      .select(col("lag"), col("n_days"), col("autocorr"))
  }

  // ---- ewma1: finite-window EWMA with dyadic decay -------------------

  /** Per-user EWMA of event values (α = 1/2, window = last 8 events):
    * y = Σⱼ 2⁻ʲ·x₋ⱼ / Σⱼ 2⁻ʲ over the events present. Dyadic weights
    * are exponent shifts, so every product is EXACT in IEEE double and
    * the 8-term left-associated sum is written identically in both
    * engines — deterministic without the decimal detour. The window is
    * deliberately finite: bounded state makes the same definition
    * streaming-legal (flatMapGroupsWithState carries 8 floats/user).
    */
  def ewma1Smoothed(s: SparkSession, d: String): DataFrame =
    ewmaOn(Tables.events(s, d))

  /** Frame-parameterized core (expects event_id/user_id/ts/value). */
  private[graft] def ewmaOn(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val weights = Array(1.0, 0.5, 0.25, 0.125, 0.0625, 0.03125, 0.015625, 0.0078125)
    val lags = weights.indices.map(j =>
      (if (j == 0) col("value") else lag(col("value"), j).over(w)).as(s"l$j"))
    val base = ev
      .select(Seq(col("event_id"), col("user_id")) ++ lags: _*)
    val num = weights.indices
      .map(j => coalesce(col(s"l$j"), lit(0.0)) * lit(weights(j)))
      .reduceLeft(_ + _)
    val den = weights.indices
      .map(j => when(col(s"l$j").isNotNull, lit(weights(j))).otherwise(lit(0.0)))
      .reduceLeft(_ + _)
    base.select(col("event_id"), col("user_id"),
      round(num / den, 6).as("ewma"))
  }

  // ---- u4: snapshot diff (CDC between two table versions) ------------

  /** Change-data-capture diff of two order-table snapshots (derived
    * deterministically: keys ≡0 mod 97 arrive only in the new
    * snapshot, keys ≡0 mod 101 were deleted from it, keys ≡0 mod 89
    * got repriced). One co-partitioned full-outer join on the key, row
    * classification added/deleted/changed by null-side and value
    * compare on DECIMAL(18,2) — the scalable snapshot-reconciliation
    * shape (both sides shuffle once on the same key; at warehouse
    * scale both snapshots would be bucketed on it and the shuffle
    * disappears).
    */
  def u4SnapshotDiff(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d).select(col("o_orderkey"),
      round(col("o_totalprice"), 2).cast("decimal(18,2)").as("price"))
    val old = o.filter(pmod(col("o_orderkey"), lit(97)) =!= 0)
      .select(col("o_orderkey"), col("price"))
    val neu = o.filter(pmod(col("o_orderkey"), lit(101)) =!= 0)
      .select(col("o_orderkey"),
        when(pmod(col("o_orderkey"), lit(89)) === 0,
          (col("price") + lit(10)).cast("decimal(18,2)"))
          .otherwise(col("price")).as("price"))
    // value-compare runs on exact DECIMAL(18,2); the EDGE is DOUBLE
    // per repo convention (decimal->double identical in both engines)
    snapshotDiff(old, neu, "o_orderkey", "price")
      .withColumn("old_price", col("old_price").cast("double"))
      .withColumn("new_price", col("new_price").cast("double"))
  }

  /** Generic snapshot-reconciliation core: classify every key as
    * added / deleted / changed between two versions of a table (rows
    * whose value is identical are dropped). Single co-partitioned
    * full-outer join on the key.
    */
  private[graft] def snapshotDiff(old: DataFrame, neu: DataFrame,
      keyCol: String, valCol: String): DataFrame = {
    val o = old.select(col(keyCol), col(valCol).as("old_price"))
    val n = neu.select(col(keyCol), col(valCol).as("new_price"))
    o.join(n, Seq(keyCol), "full_outer")
      .withColumn("change_type",
        when(col("old_price").isNull, lit("added"))
          .when(col("new_price").isNull, lit("deleted"))
          .when(col("old_price") =!= col("new_price"), lit("changed")))
      .filter(col("change_type").isNotNull)
      .select(col(keyCol), col("change_type"),
        col("old_price"), col("new_price"))
  }

  // ---- sim1: sparse TF-IDF all-pairs similarity ----------------------

  /** Document-document cosine similarity over SPARSE TF-IDF vectors —
    * the lexical counterpart of dd5's dense-embedding near-dup. Terms
    * are word bigrams; the posting self-join is DF-CAPPED at 5% of the
    * corpus (rarer-than-cap terms only), which is the standard
    * all-pairs-similarity bound (Σ df² ≤ cap·Σ df — join cost linear
    * in postings at fixed cap fraction) and simultaneously the stop-
    * term prune: high-df terms carry no discriminating weight.
    * Weights/norms live in the pruned space on BOTH engines, each
    * float product rounded to 6 dp and DECIMAL-summed.
    */
  def sim1TfidfCosine(s: SparkSession, d: String): DataFrame =
    tfidfCosineOn(Tables.documents(s, d), minCosine = 0.4)

  /** Frame-parameterized core (expects doc_id/text). */
  private[graft] def tfidfCosineOn(docs: DataFrame, minCosine: Double): DataFrame = {
    // fan-out below the bigram explode (guide §2): per-doc tokenize +
    // bigram build otherwise single-core inside a few-row-group scan
    val bigrams = graft.ops.Ops.fanOutForCompute(
        docs.select(col("doc_id"), col("text")), col("doc_id"))
      .select(col("doc_id"),
        split(lower(trim(col("text"))), "\\s+").as("ws"))
      .filter(size(col("ws")) >= 2) // sequence(1,0) would DESCEND in Spark
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(ws)-1), i -> concat(element_at(ws, i), ' ', element_at(ws, i+1)))"))
        .as("term"))
    val tf = bigrams.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val nDocs = docs.agg(count(lit(1)).as("nd"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nDocs))
      .filter(col("df") <= greatest(lit(5L),
        floor(lit(0.05) * col("nd")).cast("long")))
    val p = tf.join(df, "term")
      .select(col("doc_id"), col("term"),
        round(col("tf") * log(col("nd").cast("double") / col("df")), 6).as("w"))
    def dsum(c: org.apache.spark.sql.Column) =
      sum(round(c, 6).cast("decimal(18,6)")).cast("double")
    val nrm = p.groupBy(col("doc_id"))
      .agg(sqrt(dsum(col("w") * col("w"))).as("nrm"))
    val a = p.select(col("doc_id").as("doc_a"), col("term"), col("w").as("wa"))
    val b = p.select(col("doc_id").as("doc_b"), col("term"), col("w").as("wb"))
    val pairs = a.join(b, "term").filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(dsum(col("wa") * col("wb")).as("dot"),
        count(lit(1)).as("n_shared"))
    pairs
      .join(nrm.select(col("doc_id").as("doc_a"), col("nrm").as("na")), "doc_a")
      .join(nrm.select(col("doc_id").as("doc_b"), col("nrm").as("nb")), "doc_b")
      .withColumn("cosine", round(col("dot") / (col("na") * col("nb")), 6))
      .filter(col("cosine") >= minCosine)
      .select(col("doc_a"), col("doc_b"), col("n_shared"), col("cosine"))
  }

  // ---- jw1: fuzzy name matching on the Jaro-Winkler expression -------

  /** Entity-resolution scoring pass: customers blocked by
    * floor(custkey/100), every in-block pair scored with the native
    * [[graft.functions.JaroWinkler]] codegen expression (semantics
    * pinned value-for-value to DuckDB's `jaro_winkler_similarity`, see
    * its Scaladoc), near-matches (≥ 0.97) kept. Blocking keeps the
    * candidate set linear in rows at fixed block size — the join is
    * an equi-join on the block key, so it shuffles once; the scoring
    * is a pure projection inside WholeStageCodegen.
    */
  def jw1FuzzyNames(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d).select(col("c_custkey"), col("c_name"),
      floor(col("c_custkey") / lit(100)).cast("long").as("blk"))
    val a = c.select(col("blk"), col("c_custkey").as("custkey_a"),
      col("c_name").as("name_a"))
    val b = c.select(col("blk"), col("c_custkey").as("custkey_b"),
      col("c_name").as("name_b"))
    a.join(b, "blk").filter(col("custkey_a") < col("custkey_b"))
      .withColumn("jw",
        round(StringSimilarity.jaro_winkler(col("name_a"), col("name_b")), 6))
      .filter(col("jw") >= 0.97)
      .select(col("custkey_a"), col("custkey_b"), col("jw"))
  }

  // ---- hop1: bounded k-hop neighborhood size -------------------------

  /** 3-hop reach per node (count of distinct nodes within ≤3 hops,
    * self excluded) on tri1's squared-path graph. Bounded-depth
    * traversal is the scalable alternative to full BFS: exactly three
    * co-partitioned self-joins of the symmetrized adjacency — round
    * count is a CONSTANT, not a function of graph diameter, so the
    * plan shape survives any scale-up (frontier fan-out is bounded by
    * deg³; for hub-heavy graphs the degree cap/sampling guard goes in
    * front, exactly as the wedge bound does for triangles).
    */
  def hop1KhopReach(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
    val w = Window.partitionBy(col("c_nationkey"), col("c_mktsegment"),
        pmod(col("c_custkey"), lit(10)))
      .orderBy(col("c_custkey"))
    val chained = c.select(col("c_custkey").as("cur"),
      lag(col("c_custkey"), 1).over(w).as("p1"),
      lag(col("c_custkey"), 2).over(w).as("p2"))
    val raw = chained.filter(col("p1").isNotNull)
      .select(col("p1").as("a"), col("cur").as("b"))
      .unionAll(chained.filter(col("p2").isNotNull)
        .select(col("p2").as("a"), col("cur").as("b")))
    val adj = raw.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(raw.select(col("b").as("src"), col("a").as("dst")))
      .distinct()
    val h1 = adj
    val h2 = h1.select(col("src"), col("dst").as("mid"))
      .join(adj.select(col("src").as("mid"), col("dst")), "mid")
      .select("src", "dst")
    val h3 = h2.select(col("src"), col("dst").as("mid"))
      .join(adj.select(col("src").as("mid"), col("dst")), "mid")
      .select("src", "dst")
    h1.unionAll(h2).unionAll(h3)
      .filter(col("src") =!= col("dst"))
      .distinct()
      .groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("n_reach3"))
  }

  // ---- cms1: Count-Min sketch with portable hashing ------------------

  /** Count-Min sketch point queries with the measured overcount —
    * d=4 rows × w=256 buckets over the event user stream, probed for
    * every 11th user. The sketch content itself is cross-engine exact:
    * bucket = first two hex digits of md5(user#row) (md5 is the one
    * hash both engines share bit-for-bit), counters are a plain
    * (row, bucket) aggregation — the sketch IS a 1024-row table, built
    * in one map-side-combinable shuffle regardless of stream size.
    * Estimates join the probe keys against the tiny counter table
    * (broadcast) and take the min across rows; output includes the
    * true count so the CMS overcount guarantee (est ≥ true) is itself
    * oracle-checked.
    */
  def cms1CountMin(s: SparkSession, d: String): DataFrame = {
    val hexpos = (ch: String) => s"(instr('0123456789abcdef', $ch) - 1)"
    def bucketExpr(keyCol: String, j: String) = expr(
      s"""${hexpos(s"substr(md5(concat(cast($keyCol as string), '#', $j)), 1, 1)")} * 16 +
          ${hexpos(s"substr(md5(concat(cast($keyCol as string), '#', $j)), 2, 1)")}""")
    val ev = Tables.events(s, d)
    val rows = ev.select(col("user_id"))
      .crossJoin(spark_range0to3(s))
      .select(col("j"), bucketExpr("user_id", "j").as("bucket"))
    val counters = rows.groupBy(col("j"), col("bucket"))
      .agg(count(lit(1)).as("cnt"))
    val probes = ev.filter(pmod(col("user_id"), lit(11)) === 0)
      .groupBy(col("user_id")).agg(count(lit(1)).as("true_cnt"))
    val est = probes.crossJoin(spark_range0to3(s))
      .select(col("user_id"), col("true_cnt"), col("j"),
        bucketExpr("user_id", "j").as("bucket"))
      .join(broadcast(counters), Seq("j", "bucket"))
      .groupBy(col("user_id"), col("true_cnt"))
      .agg(min(col("cnt")).as("est_cnt"))
    est.select(col("user_id"), col("true_cnt"), col("est_cnt"),
      (col("est_cnt") - col("true_cnt")).as("overcount"))
  }

  private def spark_range0to3(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq(0, 1, 2, 3).toDF("j")
  }

  // ---- sky1: 2-D skyline (pareto frontier) ---------------------------

  /** Pareto frontier of orders maximizing (totalprice, orderdate): an
    * order is dominated iff some other order is ≥ in both dimensions
    * and strictly greater in one. The 2-D skyline needs NO pairwise
    * join: collapse to the per-price aggregate (max date per distinct
    * price — map-side combinable), then one running max over the
    * price order gives "best date at any strictly higher price", and
    * each row compares against that plus its own price group's max.
    * The ordered scan runs on the distinct-price aggregate (ks1
    * discipline); at unbounded price cardinality it becomes the
    * two-level prefix-max (per-range maxima broadcast, then local
    * scans) — same association, same result.
    */
  def sky1Pareto2d(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderdate"))
    val perPrice = o.groupBy(col("o_totalprice").as("p"))
      .agg(max(col("o_orderdate")).as("md"))
    // the promised two-level prefix-max: distinct prices scale with
    // the order table, so "best date at any strictly higher price" is
    // an exclusive running max via the distributed kernel (NULL cm on
    // the highest price, exactly like the window frame it replaces)
    val frontier = graft.ops.GlobalRank.prefixScan(perPrice,
      Seq(col("p").desc),
      Seq(graft.ops.GlobalRank.Scan("cm", col("md"),
        op = "max", inclusive = false)))
    o.join(frontier, col("o_totalprice") === col("p"))
      .filter((col("cm").isNull || col("cm") < col("o_orderdate")) &&
        col("o_orderdate") === col("md")) // not beaten above, best in group
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderdate"))
  }

  // ---- registries ----------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "hop1_khop_reach" -> (hop1KhopReach _),
    "cms1_countmin" -> (cms1CountMin _),
    "sky1_pareto_2d" -> (sky1Pareto2d _),
    "tri1_triangles" -> (tri1Triangles _),
    "auc1_roc_auc" -> (auc1RocAuc _),
    "mad1_robust_outliers" -> (mad1RobustOutliers _),
    "acf1_autocorr" -> (acf1Autocorr _),
    "ewma1_smoothed" -> (ewma1Smoothed _),
    "u4_snapshot_diff" -> (u4SnapshotDiff _),
    "sim1_tfidf_cosine" -> (sim1TfidfCosine _),
    "jw1_fuzzy_names" -> (jw1FuzzyNames _))

  val oracles: Map[String, String] = Map(
    "hop1_khop_reach" ->
      """WITH chained AS (
           SELECT c_custkey AS cur,
                  lag(c_custkey, 1) OVER w AS p1,
                  lag(c_custkey, 2) OVER w AS p2
           FROM customer
           WINDOW w AS (PARTITION BY c_nationkey, c_mktsegment, c_custkey % 10
                        ORDER BY c_custkey)),
         raw AS (
           SELECT p1 AS a, cur AS b FROM chained WHERE p1 IS NOT NULL
           UNION ALL
           SELECT p2, cur FROM chained WHERE p2 IS NOT NULL),
         adj AS (
           SELECT DISTINCT src, dst FROM (
             SELECT a AS src, b AS dst FROM raw
             UNION ALL SELECT b, a FROM raw)),
         h2 AS (
           SELECT DISTINCT x.src, y.dst
           FROM adj x JOIN adj y ON x.dst = y.src),
         h3 AS (
           SELECT DISTINCT x.src, y.dst
           FROM h2 x JOIN adj y ON x.dst = y.src),
         reach AS (
           SELECT DISTINCT src, dst FROM (
             SELECT * FROM adj UNION ALL SELECT * FROM h2
             UNION ALL SELECT * FROM h3)
           WHERE src <> dst)
         SELECT src AS node, CAST(count(*) AS BIGINT) AS n_reach3
         FROM reach GROUP BY 1""",
    "cms1_countmin" ->
      """WITH j AS (SELECT unnest([0, 1, 2, 3]) AS j),
         rows_ AS (
           SELECT j.j,
                  (strpos('0123456789abcdef',
                     substr(md5(concat(CAST(user_id AS VARCHAR), '#', j.j)), 1, 1)) - 1) * 16
                  + (strpos('0123456789abcdef',
                     substr(md5(concat(CAST(user_id AS VARCHAR), '#', j.j)), 2, 1)) - 1)
                    AS bucket
           FROM events, j),
         counters AS (
           SELECT j, bucket, count(*) AS cnt FROM rows_ GROUP BY 1, 2),
         probes AS (
           SELECT user_id, count(*) AS true_cnt FROM events
           WHERE user_id % 11 = 0 GROUP BY 1),
         pj AS (
           SELECT p.user_id, p.true_cnt, j.j,
                  (strpos('0123456789abcdef',
                     substr(md5(concat(CAST(p.user_id AS VARCHAR), '#', j.j)), 1, 1)) - 1) * 16
                  + (strpos('0123456789abcdef',
                     substr(md5(concat(CAST(p.user_id AS VARCHAR), '#', j.j)), 2, 1)) - 1)
                    AS bucket
           FROM probes p CROSS JOIN j),
         est AS (
           SELECT pj.user_id, pj.true_cnt, min(c.cnt) AS est_cnt
           FROM pj JOIN counters c ON c.j = pj.j AND c.bucket = pj.bucket
           GROUP BY 1, 2)
         SELECT user_id, CAST(true_cnt AS BIGINT) AS true_cnt,
                CAST(est_cnt AS BIGINT) AS est_cnt,
                CAST(est_cnt - true_cnt AS BIGINT) AS overcount
         FROM est""",
    "sky1_pareto_2d" ->
      """WITH per_price AS (
           SELECT o_totalprice AS p, max(o_orderdate) AS md
           FROM orders GROUP BY 1),
         frontier AS (
           SELECT p, md,
                  max(md) OVER (ORDER BY p DESC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS cm
           FROM per_price)
         SELECT o.o_orderkey, o.o_totalprice, o.o_orderdate
         FROM orders o JOIN frontier f ON o.o_totalprice = f.p
         WHERE (f.cm IS NULL OR f.cm < o.o_orderdate)
           AND o.o_orderdate = f.md""",
    "tri1_triangles" ->
      """WITH chained AS (
           SELECT c_custkey AS cur,
                  lag(c_custkey, 1) OVER w AS p1,
                  lag(c_custkey, 2) OVER w AS p2
           FROM customer
           WINDOW w AS (PARTITION BY c_nationkey, c_mktsegment, c_custkey % 10
                        ORDER BY c_custkey)),
         raw AS (
           SELECT p1 AS src, cur AS dst FROM chained WHERE p1 IS NOT NULL
           UNION ALL
           SELECT p2, cur FROM chained WHERE p2 IS NOT NULL),
         edges AS (
           SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
           FROM raw WHERE src <> dst),
         deg AS (
           SELECT node, count(*) AS deg FROM (
             SELECT a AS node FROM edges UNION ALL SELECT b FROM edges)
           GROUP BY 1),
         tri AS (
           SELECT e1.a AS u, e1.b AS v, e2.b AS w
           FROM edges e1
           JOIN edges e2 ON e2.a = e1.b
           JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b),
         pernode AS (
           SELECT node, count(*) AS n_triangles FROM (
             SELECT u AS node FROM tri
             UNION ALL SELECT v FROM tri
             UNION ALL SELECT w FROM tri)
           GROUP BY 1)
         SELECT p.node, CAST(p.n_triangles AS BIGINT) AS n_triangles,
                CAST(d.deg AS BIGINT) AS deg,
                round(2.0 * p.n_triangles / (d.deg * (d.deg - 1)), 6)
                  AS clustering_coef
         FROM pernode p JOIN deg d USING (node)""",
    "auc1_roc_auc" ->
      """WITH by_score AS (
           SELECT value AS score, count(*) AS cnt,
                  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS BIGINT) AS pos
           FROM events GROUP BY 1),
         ranked AS (
           SELECT score, cnt, pos,
                  COALESCE(CAST(sum(cnt) OVER (ORDER BY score
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    AS BIGINT), 0) AS cum
           FROM by_score),
         agg AS (
           SELECT CAST(sum(pos * (2 * cum + cnt + 1)) AS BIGINT) AS sr2,
                  CAST(sum(pos) AS BIGINT) AS npos,
                  CAST(sum(cnt) AS BIGINT) AS ntot
           FROM ranked)
         SELECT npos AS n_pos, ntot - npos AS n_neg,
                round(CAST(sr2 - npos * (npos + 1) AS DOUBLE) /
                      (2.0 * npos * (ntot - npos)), 6) AS auc
         FROM agg""",
    "mad1_robust_outliers" ->
      """WITH c0 AS (
           SELECT c_custkey, c_mktsegment,
                  round(c_acctbal *
                    (CASE WHEN c_custkey % 251 = 0 THEN 25 ELSE 1 END), 2) AS bal
           FROM customer),
         c AS (
           SELECT *, CAST(round(bal * 100, 0) AS BIGINT) AS cents FROM c0),
         r1 AS (
           SELECT *,
                  row_number() OVER (PARTITION BY c_mktsegment
                                     ORDER BY cents, c_custkey) AS rn,
                  count(*) OVER (PARTITION BY c_mktsegment) AS n
           FROM c),
         med AS (
           SELECT *,
                  CAST(sum(CASE WHEN rn = CAST(floor((n+1)/2) AS BIGINT)
                                  OR rn = CAST(floor((n+2)/2) AS BIGINT)
                                THEN cents ELSE 0 END)
                    OVER (PARTITION BY c_mktsegment) AS BIGINT)
                  * (CASE WHEN n % 2 = 1 THEN 2 ELSE 1 END) AS m2
           FROM r1),
         aa AS (
           SELECT c_custkey, c_mktsegment, bal,
                  abs(2 * cents - m2) AS a
           FROM med),
         r2 AS (
           SELECT *,
                  row_number() OVER (PARTITION BY c_mktsegment
                                     ORDER BY a, c_custkey) AS rn,
                  count(*) OVER (PARTITION BY c_mktsegment) AS n
           FROM aa),
         mad AS (
           SELECT *,
                  CAST(sum(CASE WHEN rn = CAST(floor((n+1)/2) AS BIGINT)
                                  OR rn = CAST(floor((n+2)/2) AS BIGINT)
                                THEN a ELSE 0 END)
                    OVER (PARTITION BY c_mktsegment) AS BIGINT)
                  * (CASE WHEN n % 2 = 1 THEN 2 ELSE 1 END) AS m2a
           FROM r2)
         SELECT c_custkey, c_mktsegment, bal,
                round(2.0 * a / (1.4826 * m2a), 6) AS robust_z
         FROM mad
         WHERE m2a > 0 AND round(2.0 * a / (1.4826 * m2a), 6) > 3.0""",
    "acf1_autocorr" ->
      """WITH daily AS (
           SELECT CAST(ts AS DATE) AS day, count(*) AS n
           FROM events GROUP BY 1),
         tot AS (SELECT CAST(sum(n) AS BIGINT) AS sn, count(*) AS nd FROM daily),
         dev AS (
           SELECT day, n - CAST(sn AS DOUBLE) / nd AS dev, nd
           FROM daily, tot),
         led AS (
           SELECT dev, nd,
                  lead(dev, 1) OVER (ORDER BY day) AS d1,
                  lead(dev, 2) OVER (ORDER BY day) AS d2,
                  lead(dev, 3) OVER (ORDER BY day) AS d3
           FROM dev),
         sums AS (
           SELECT CAST(sum(CAST(round(dev*dev, 6) AS DECIMAL(18,6))) AS DOUBLE) AS den,
                  CAST(sum(CAST(round(dev*d1, 6) AS DECIMAL(18,6))) AS DOUBLE) AS n1,
                  CAST(sum(CAST(round(dev*d2, 6) AS DECIMAL(18,6))) AS DOUBLE) AS n2,
                  CAST(sum(CAST(round(dev*d3, 6) AS DECIMAL(18,6))) AS DOUBLE) AS n3,
                  max(nd) AS n_days
           FROM led)
         SELECT lag, CAST(n_days AS BIGINT) AS n_days, autocorr FROM (
           SELECT 1 AS lag, n_days, round(n1/den, 6) AS autocorr FROM sums
           UNION ALL
           SELECT 2, n_days, round(n2/den, 6) FROM sums
           UNION ALL
           SELECT 3, n_days, round(n3/den, 6) FROM sums)""",
    "ewma1_smoothed" ->
      """WITH lagged AS (
           SELECT event_id, user_id, value AS l0,
                  lag(value, 1) OVER w AS l1, lag(value, 2) OVER w AS l2,
                  lag(value, 3) OVER w AS l3, lag(value, 4) OVER w AS l4,
                  lag(value, 5) OVER w AS l5, lag(value, 6) OVER w AS l6,
                  lag(value, 7) OVER w AS l7
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
         SELECT event_id, user_id,
           round((COALESCE(l0,0)*1.0 + COALESCE(l1,0)*0.5 + COALESCE(l2,0)*0.25
                + COALESCE(l3,0)*0.125 + COALESCE(l4,0)*0.0625
                + COALESCE(l5,0)*0.03125 + COALESCE(l6,0)*0.015625
                + COALESCE(l7,0)*0.0078125) /
               ((CASE WHEN l0 IS NOT NULL THEN 1.0 ELSE 0.0 END)
                + (CASE WHEN l1 IS NOT NULL THEN 0.5 ELSE 0.0 END)
                + (CASE WHEN l2 IS NOT NULL THEN 0.25 ELSE 0.0 END)
                + (CASE WHEN l3 IS NOT NULL THEN 0.125 ELSE 0.0 END)
                + (CASE WHEN l4 IS NOT NULL THEN 0.0625 ELSE 0.0 END)
                + (CASE WHEN l5 IS NOT NULL THEN 0.03125 ELSE 0.0 END)
                + (CASE WHEN l6 IS NOT NULL THEN 0.015625 ELSE 0.0 END)
                + (CASE WHEN l7 IS NOT NULL THEN 0.0078125 ELSE 0.0 END)),
             6) AS ewma
         FROM lagged""",
    "u4_snapshot_diff" ->
      """WITH o AS (
           SELECT o_orderkey,
                  CAST(round(o_totalprice, 2) AS DECIMAL(18,2)) AS price
           FROM orders),
         old AS (
           SELECT o_orderkey, price AS old_price FROM o
           WHERE o_orderkey % 97 <> 0),
         neu AS (
           SELECT o_orderkey,
                  CASE WHEN o_orderkey % 89 = 0
                       THEN CAST(price + 10 AS DECIMAL(18,2))
                       ELSE price END AS new_price
           FROM o WHERE o_orderkey % 101 <> 0)
         SELECT COALESCE(old.o_orderkey, neu.o_orderkey) AS o_orderkey,
                CASE WHEN old_price IS NULL THEN 'added'
                     WHEN new_price IS NULL THEN 'deleted'
                     WHEN old_price <> new_price THEN 'changed' END
                  AS change_type,
                CAST(old_price AS DOUBLE) AS old_price,
                CAST(new_price AS DOUBLE) AS new_price
         FROM old FULL JOIN neu ON old.o_orderkey = neu.o_orderkey
         WHERE (CASE WHEN old_price IS NULL THEN 'added'
                     WHEN new_price IS NULL THEN 'deleted'
                     WHEN old_price <> new_price THEN 'changed' END)
               IS NOT NULL""",
    "sim1_tfidf_cosine" ->
      """WITH toks AS (
           SELECT doc_id,
                  regexp_split_to_array(lower(trim(text)), '\s+') AS ws
           FROM documents),
         bg AS (
           SELECT doc_id, ws[i] || ' ' || ws[i+1] AS term
           FROM toks, unnest(range(1, len(ws))) AS t(i)),
         tf AS (SELECT doc_id, term, count(*) AS tf FROM bg GROUP BY 1, 2),
         n AS (SELECT count(*) AS nd FROM documents),
         df AS (
           SELECT term, count(*) AS df FROM tf
           GROUP BY term
           HAVING count(*) <= greatest(5,
             CAST(floor(0.05 * (SELECT nd FROM n)) AS BIGINT))),
         p AS (
           SELECT t.doc_id, t.term,
                  round(t.tf * ln(CAST(nd AS DOUBLE) / df.df), 6) AS w
           FROM tf t JOIN df USING (term), n),
         nrm AS (
           SELECT doc_id,
                  sqrt(CAST(sum(CAST(round(w*w, 6) AS DECIMAL(18,6)))
                    AS DOUBLE)) AS nrm
           FROM p GROUP BY 1),
         pr AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                  CAST(sum(CAST(round(a.w*b.w, 6) AS DECIMAL(18,6)))
                    AS DOUBLE) AS dot,
                  count(*) AS n_shared
           FROM p a JOIN p b ON a.term = b.term AND a.doc_id < b.doc_id
           GROUP BY 1, 2)
         SELECT doc_a, doc_b, CAST(n_shared AS BIGINT) AS n_shared,
                round(dot / (x.nrm * y.nrm), 6) AS cosine
         FROM pr
         JOIN nrm x ON x.doc_id = doc_a
         JOIN nrm y ON y.doc_id = doc_b
         WHERE round(dot / (x.nrm * y.nrm), 6) >= 0.4""",
    "jw1_fuzzy_names" ->
      """WITH c AS (
           SELECT c_custkey, c_name,
                  CAST(floor(c_custkey / 100) AS BIGINT) AS blk
           FROM customer)
         SELECT a.c_custkey AS custkey_a, b.c_custkey AS custkey_b,
                round(jaro_winkler_similarity(a.c_name, b.c_name), 6) AS jw
         FROM c a JOIN c b ON a.blk = b.blk AND a.c_custkey < b.c_custkey
         WHERE round(jaro_winkler_similarity(a.c_name, b.c_name), 6) >= 0.97""")
}
