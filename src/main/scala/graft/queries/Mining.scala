package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.dedup.Dedup
import graft.functions.StringSimilarity
import graft.ops.Ops
import graft.ops.Ops.dsum
import graft.sampling.Sampling.knuthPriority

/** Round-10 operator families: market-basket co-occurrence mining and
  * the k-core peel over the co-purchase graph it induces, asymmetric
  * n-gram containment (the quote/subset dual of dd7's symmetric
  * Jaccard), per-document first-occurrence token dedup and
  * deterministic MLM-style token masking (both pure projections — the
  * shuffle-free end of the corpus-hygiene family), Poisson-bootstrap
  * confidence intervals (resampling by reweighting, one aggregate
  * keyed by replicate), a Deequ-style data-quality constraint suite,
  * blocked fuzzy record linkage with a best-vs-second-margin accept rule on
  * top of jw1's native Jaro-Winkler, and SAX symbolization of a time
  * series (the symbolic-indexing substrate for series similarity
  * search).
  *
  * Cross-engine exactness uses the established house rules: integers
  * until the last division (rec1, bs1, t15, msk1), the
  * round-6dp-then-compare discipline for float scores (dd13, rl1),
  * exact DECIMAL partial sums for anything summed (bs1, sax1, dq1),
  * and [[knuthPriority]] integer hashing for every "random" draw so
  * DuckDB replays the identical randomness (bs1, msk1).
  */
object Mining extends QueryModule {

  // ---- rec1: item-item co-occurrence recommendations -----------------

  /** Max distinct items per basket before the basket is discarded as a
    * degenerate mega-basket. Co-occurrence pair fan-out is quadratic
    * in basket size, so ONE crawler cart with 10^5 items would emit
    * 10^10 pairs; the standard market-basket guard is to drop (or
    * sample) outlier baskets, and the cap makes the per-row work a
    * hard O(cap^2). TPC-H baskets top out at 7 lines, so nothing is
    * dropped on the test data — the guard is for the 100 TB shape.
    */
  private val maxBasket = 50

  /** Item-to-item "customers who bought X also bought Y" scores over
    * lineitem baskets (reference domain: co-occurring building
    * portfolios, `/root/reference/portfoliograph/` builds the same
    * pair graph from shared attributes).
    *
    * Scale shape: ONE shuffle groups each order into a sorted distinct
    * item array (map-side combinable); ordered pairs are generated
    * WITHIN the row (no self-join of the fact table, no second pass
    * over lineitem); the pair aggregate is the second shuffle; item
    * frequencies come from the same basket frame and join back
    * broadcast (the item-count table is |parts|-sized, a dimension).
    * Cosine score n_ab/sqrt(n_a*n_b) is one sqrt + one division —
    * both correctly-rounded IEEE ops, so round(·,6) is engine-exact.
    */
  def rec1ItemCooc(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
    val baskets = li.groupBy("ok")
      .agg(sort_array(collect_set(col("pk"))).as("items"))
      .filter(size(col("items")).between(2, maxBasket))
    val pairs = baskets
      .select(col("items"), explode(col("items")).as("a"))
      .select(col("a"),
        explode(filter(col("items"), x => x > col("a"))).as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= 2)
    val itemN = baskets.select(explode(col("items")).as("pk"))
      .groupBy("pk").agg(count(lit(1)).as("n"))
    pairs
      .join(broadcast(itemN.select(col("pk").as("a"), col("n").as("n_a"))), "a")
      .join(broadcast(itemN.select(col("pk").as("b"), col("n").as("n_b"))), "b")
      .select(col("a"), col("b"), col("n_ab"),
        round(col("n_ab").cast("double") /
          sqrt((col("n_a") * col("n_b")).cast("double")), 6).as("score6"))
  }

  // ---- kcore1: bounded k-core peel over the co-purchase graph --------

  /** Three peeling rounds of the k=2 core over the rec1 co-purchase
    * graph (edge = item pair co-bought in >= 2 baskets) — k=2 so the
    * core stays non-degenerate across the SF series (the sparser
    * sf0.1 graph has an empty 3-core). Each round:
    * one degree aggregate over the symmetrized edge list + two
    * semi-joins restricting edges to surviving endpoints — all
    * equi-shuffles on the node key. Round count is FIXED here (the
    * oracle unrolls the same three rounds); the production
    * decomposition loops the identical kernel to fixpoint with the
    * empty-delta convergence test, exactly as [[graft.graph.PageRank]]
    * does, and lineage is truncated per round (localCheckpoint) for
    * the same optimizer-blowup reason documented there. Output is the
    * surviving nodes with their residual degree after the third
    * restriction.
    */
  def kcore1KcorePeel(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
    val baskets = li.groupBy("ok")
      .agg(sort_array(collect_set(col("pk"))).as("items"))
      .filter(size(col("items")).between(2, maxBasket))
    val e0 = baskets
      .select(col("items"), explode(col("items")).as("a"))
      .select(col("a"),
        explode(filter(col("items"), x => x > col("a"))).as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= 2)
      .select(col("a"), col("b"))
    kcorePeel(e0, k = 2, rounds = 3)
  }

  /** The peel kernel: `rounds` rounds of degree-filter + edge
    * restriction over a canonical (a<b, distinct) edge list; returns
    * the surviving nodes with their residual degree. Rounds run
    * through [[Ops.iterate]] — the edge frame feeds both the degree
    * aggregate AND the next restriction, so an untruncated loop
    * recomputes the whole prefix 2^rounds times (the PageRank lesson).
    */
  private[graft] def kcorePeel(e0: DataFrame, k: Int, rounds: Int): DataFrame = {
    val core = Ops.iterate(e0, rounds) { e =>
      val deg = e.select(col("a").as("node"))
        .unionAll(e.select(col("b").as("node")))
        .groupBy("node").agg(count(lit(1)).as("deg"))
      val keep = deg.filter(col("deg") >= k).select("node")
      e.join(keep.withColumnRenamed("node", "a"), Seq("a"), "left_semi")
        .join(keep.withColumnRenamed("node", "b"), Seq("b"), "left_semi")
    }
    core.select(col("a").as("node"))
      .unionAll(core.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
  }

  // ---- dd13: asymmetric n-gram containment ---------------------------

  /** Directional containment pairs: |grams(a) ∩ grams(b)| / |grams(a)|
    * >= 0.8 — catches doc a quoted/embedded inside a larger b even
    * when symmetric Jaccard (dd7) is far below any dedup threshold.
    * Gram domain is the word-3-shingle set with document frequency
    * capped at 5% of the corpus: stop-shingles carry no containment
    * evidence and are exactly the keys that would make the posting
    * self-join quadratic at 100 TB (same stop-term prune, same
    * rationale, as sim1's df cap — the cap is PART OF the operator's
    * definition and the oracle applies the identical cap). Candidate
    * generation is a posting-list equi-join on the capped gram key;
    * sizes ride along from a shuffle-free projection.
    */
  def dd13Containment(s: SparkSession, d: String): DataFrame = {
    // stage tokens as their own column BEFORE shingling (the HOF
    // lambda re-evaluates captured subexpressions once per element —
    // the Dedup scaladoc trap), build the gram frame ONCE, and
    // truncate it: four consumers (sizes, corpus total, df cap,
    // posting join x2) would otherwise each re-run the shingle build.
    // Grams shuffle as 8-byte xxhash64 codes, never as strings — the
    // dd7/dd12 digest trick (a 64-bit collision over the gram
    // vocabulary is ~n²/2⁶⁵; the oracle joins on the gram text itself,
    // so a collision would FAIL the gate, not hide).
    val grams = graft.ops.Ops.fanOutForCompute(
        Tables.documents(s, d).select(col("doc_id"), col("text")),
        col("doc_id"))
      .select(col("doc_id"), Dedup.tokens(col("text")).as("ts"))
      .select(col("doc_id"),
        array_distinct(Dedup.wordShinglesFromTokens(col("ts"), 3)).as("shs"))
      .select(col("doc_id"), explode(col("shs")).as("gram"))
      .select(col("doc_id"), xxhash64(col("gram")).as("gh"))
      .localCheckpoint(true)
    val sizes = grams.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
    val total = sizes.agg(count(lit(1)).as("n_docs"))
    val kept = grams.groupBy("gh").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(total))
      .filter(col("df").cast("double") <= col("n_docs") * 0.05)
      .select("gh")
    val posted = grams.join(kept, Seq("gh"), "left_semi")
      .localCheckpoint(true)
    // intersections count once per UNORDERED pair (id_a < id_b halves
    // the join output and the aggregate); directions fan out after,
    // on the tiny pair table
    val inter = posted.select(col("gh"), col("doc_id").as("id_a"))
      .join(posted.select(col("gh"), col("doc_id").as("id_b")), "gh")
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_inter"))
    val both = inter.select(col("id_a"), col("id_b"), col("n_inter"))
      .unionAll(inter.select(col("id_b").as("id_a"),
        col("id_a").as("id_b"), col("n_inter")))
    // sizes joins stay plain equi-joins: at corpus scale the doc-size
    // frame is |docs|-sized — not a broadcastable dimension (AQE may
    // still elect to broadcast at test SFs)
    both
      .join(sizes.select(col("doc_id").as("id_a"),
        col("n_grams").as("n_a")), "id_a")
      .filter(col("n_a") >= 10)
      .withColumn("containment6",
        round(col("n_inter").cast("double") / col("n_a"), 6))
      .filter(col("containment6") >= 0.8)
      .select(col("id_a"), col("id_b"), col("n_inter"), col("n_a"),
        col("containment6"))
  }

  // ---- t15: per-document first-occurrence token dedup ----------------

  /** Remove repeated tokens within each document, keeping the FIRST
    * occurrence in order (the intra-doc dual of the cross-doc dedup
    * family; the kernel of boilerplate-token stripping). Pure
    * projection — zero shuffles, trivially row-parallel at any scale.
    * Pins Spark's `array_distinct` first-occurrence order semantics
    * against an explicit min-ordinality oracle, so an engine that
    * deduped in a different order would fail the gate.
    */
  def t15WordDedup(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"),
        size(col("toks")).as("n_tokens"),
        array_distinct(col("toks")).as("ded"))
      .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"),
        size(col("ded")).cast("long").as("n_distinct"),
        concat_ws(" ", col("ded")).as("cleaned"),
        round(lit(1.0) - size(col("ded")).cast("double") /
          col("n_tokens").cast("double"), 6).as("dup_ratio6"))

  // ---- msk1: deterministic MLM-style token masking -------------------

  /** BERT-style 15% token masking, deterministic: token i of doc j is
    * masked iff knuth(j*131 + i) mod 100 < 15 — a pure function of
    * (doc_id, position), so re-runs, retries, and other engines
    * produce the identical corpus (the same reproducibility contract
    * as the smp/shuf sampling family; a seed parameter folds into the
    * key exactly as there). Pure projection via a positional
    * `transform` — zero shuffles. The index key j*131+i stays far
    * below knuth's 2^31 input bound for any realistic doc count x
    * length product.
    */
  def msk1TokenMask(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), col("toks"),
        transform(col("toks"), (x, i) =>
          when(pmod(knuthPriority(col("doc_id") * 131 + i, 0L),
            lit(100L)) < 15, lit("<mask>")).otherwise(x)).as("masked"))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        size(filter(col("masked"), x => x === "<mask>"))
          .cast("long").as("n_masked"),
        concat_ws(" ", col("masked")).as("masked_text"))

  // ---- bs1: Poisson-bootstrap confidence interval --------------------

  /** Inverse-CDF thresholds for a Poisson(1) draw from a uniform
    * integer u in [0, 10^6): P(X<=k) quantized to 6 decimals. Integer
    * compares only — no float boundary can disagree across engines.
    */
  private val poisThresh = Seq(367879L, 735759L, 919699L, 981012L, 996340L)

  private def poisWeight(key: Column): Column = {
    val u = pmod(knuthPriority(key, 0L), lit(1000000L))
    poisThresh.zipWithIndex.foldRight(lit(5): Column) { case ((t, k), e) =>
      when(u < t, lit(k)).otherwise(e)
    }
  }

  /** 95%-ish bootstrap CI for mean(o_totalprice) via the POISSON
    * bootstrap (Chamandy et al.'s large-scale formulation): replicate
    * b reweights each row by an independent Poisson(1) count, so no
    * resample is drawn and nothing is shuffled but per-replicate
    * partial sums. The replicate index is data: each row explodes
    * into 33 copies keyed b = -1..31, where b = -1 is the sample
    * itself (weight 1) and b = 0..31 the B=32 replicates, and ONE
    * groupBy(b) aggregate over one scan sums them all, so the plan
    * does not grow with B. The per-replicate weight is the
    * deterministic [[poisWeight]] of knuth(orderkey*37 + b); weighted
    * sums go through exact DECIMAL(18,2) (prices have 2 dp and w<=5,
    * so every product is exact), making each replicate mean one
    * engine-exact division. CI = 2nd / 31st order statistic of the 32
    * replicate means.
    */
  def bs1BootstrapCi(s: SparkSession, d: String): DataFrame = {
    val b = col("b")
    val w = when(b < 0, lit(1))
      .otherwise(poisWeight(col("o_orderkey") * 37 + b))
    val mean = col("s").cast("double") / col("c").cast("double")
    Tables.orders(s, d)
      .withColumn("b", explode(sequence(lit(-1L), lit(31L))))
      .groupBy(b)
      .agg(
        sum((col("o_totalprice") * w).cast("decimal(18,2)")).as("s"),
        sum(w.cast("long")).as("c"))
      .agg(
        max(when(b < 0, col("c"))).as("n"),
        max(when(b < 0, mean)).as("mean"),
        array_sort(collect_list(when(b >= 0, mean))).as("means"))
      .select(col("n"),
        round(col("mean"), 6).as("mean6"),
        round(element_at(col("means"), 2), 6).as("ci_lo6"),
        round(element_at(col("means"), 31), 6).as("ci_hi6"))
  }

  // ---- dq1: data-quality constraint suite ----------------------------

  /** Deequ-style declarative data-quality checks evaluated in bulk:
    * each constraint row is (name, metric, passed). Single-table
    * constraints fold into ONE aggregate pass per table (the Deequ
    * "scan-sharing" design); the referential-integrity check is the
    * one genuine join — an equi-semi-join on the key it checks.
    * Metrics are exact count ratios (integer/integer, one division).
    */
  def dq1Constraints(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    val li = Tables.lineitem(s, d)
    def ratio(num: Column, den: Column): Column =
      round(num.cast("double") / den.cast("double"), 6)
    val oAgg = o.agg(
      count(lit(1)).as("n"),
      sum(when(col("o_custkey").isNull, 0L).otherwise(1L)).as("nn_cust"),
      count_distinct(col("o_orderkey")).as("nd_ok"),
      sum(when(col("o_orderstatus").isin("F", "O", "P"), 1L)
        .otherwise(0L)).as("dom_st"))
    val orderRows = oAgg.select(explode(array(
      struct(lit("completeness:o_custkey").as("constraint"),
        ratio(col("nn_cust"), col("n")).as("metric6"),
        (col("nn_cust") === col("n")).cast("int").as("passed")),
      struct(lit("uniqueness:o_orderkey").as("constraint"),
        ratio(col("nd_ok"), col("n")).as("metric6"),
        (col("nd_ok") === col("n")).cast("int").as("passed")),
      struct(lit("domain:o_orderstatus").as("constraint"),
        ratio(col("dom_st"), col("n")).as("metric6"),
        (col("dom_st") === col("n")).cast("int").as("passed")),
      struct(lit("size:orders").as("constraint"),
        col("n").cast("double").as("metric6"),
        (col("n") >= 1L).cast("int").as("passed")))).as("r"))
      .select("r.*")
    val liAgg = li.agg(
      count(lit(1)).as("n"),
      sum(when(col("l_quantity").between(1.0, 50.0), 1L)
        .otherwise(0L)).as("in_range"))
    val liRows = liAgg.select(
      lit("range:l_quantity[1,50]").as("constraint"),
      ratio(col("in_range"), col("n")).as("metric6"),
      (col("in_range") === col("n")).cast("int").as("passed"))
    val matched = li.join(o.select("o_orderkey"),
      col("l_orderkey") === col("o_orderkey"), "left_semi")
      .agg(count(lit(1)).as("m"))
    val riRows = matched.crossJoin(liAgg.select(col("n")))
      .select(lit("ri:l_orderkey->orders").as("constraint"),
        ratio(col("m"), col("n")).as("metric6"),
        (col("m") === col("n")).cast("int").as("passed"))
    orderRows.unionAll(liRows).unionAll(riRows)
  }

  // ---- rl1: blocked fuzzy record linkage -----------------------------

  /** Link odd-keyed parts ("file A") to their best fuzzy-name match
    * among even-keyed parts ("file B") — the classic two-file
    * record-linkage decision on top of jw1's native Jaro-Winkler
    * codegen expression. Blocking key = first word of the name
    * (candidates stay linear: |block_a| x |block_b| per key, the
    * standard blocking contract; a skewed block takes the salting
    * guard exactly as sk2 documents). Decision rule: accept when the
    * best score >= 0.95 AND it beats the runner-up by >= 0.01 (the
    * Fellegi-Sunter margin heuristic) — best and runner-up come from
    * ONE sorted-struct aggregate per left record, ties broken by the
    * smaller right key for determinism.
    */
  def rl1RecordLinkage(s: SparkSession, d: String): DataFrame = {
    val p = Tables.part(s, d).select(col("p_partkey"), col("p_name"),
      split(col("p_name"), " ").getItem(0).as("blk"))
    val left = p.filter(pmod(col("p_partkey"), lit(2)) === 1)
      .select(col("blk"), col("p_partkey").as("key_a"),
        col("p_name").as("name_a"))
    val right = p.filter(pmod(col("p_partkey"), lit(2)) === 0)
      .select(col("blk"), col("p_partkey").as("key_b"),
        col("p_name").as("name_b"))
    val cand = left.join(right, "blk")
      .withColumn("jw6", round(
        StringSimilarity.jaro_winkler(col("name_a"), col("name_b")), 6))
    val top2 = cand.groupBy("key_a")
      .agg(slice(reverse(array_sort(collect_list(
        struct(col("jw6"), (-col("key_b")).as("nk"))))), 1, 2).as("t2"))
      .select(col("key_a"),
        col("t2").getItem(0).getField("jw6").as("best6"),
        (-col("t2").getItem(0).getField("nk")).as("best_key"),
        when(size(col("t2")) > 1,
          col("t2").getItem(1).getField("jw6")).otherwise(lit(0.0))
          .as("second6"))
    top2.select(col("key_a"), col("best_key"), col("best6"),
      round(col("best6") - col("second6"), 6).as("margin6"),
      (col("best6") >= 0.95 && col("best6") - col("second6") >= 0.01)
        .cast("int").as("accepted"))
  }

  // ---- sax1: SAX symbolization of the daily revenue series -----------

  /** Piecewise Aggregate Approximation + SAX symbols (Lin/Keogh) of
    * the global daily event-revenue series: days rank into 16 equal
    * segments, each segment's mean value z-normalizes against the
    * whole series, and the z-score maps to one of 4 symbols at the
    * standard normal quartile breakpoints (±0.6745, 0). The symbolic
    * word is the indexable fingerprint for series similarity search
    * at scale. Shape discipline: the event stream collapses to
    * per-day sums FIRST (map-side combinable), the partition-less
    * rank window runs on the tiny day AGGREGATE (the ks1 rule), and
    * series moments ride one more 1-row aggregate that cross-joins
    * back broadcast. Every float step (div, mul, sub, sqrt) is a
    * single correctly-rounded IEEE op in an identical order in the
    * oracle, so even the symbol boundaries are engine-exact.
    */
  def sax1SaxSymbols(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.events(s, d)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(dsum(col("value")).as("rev"))
    val ranked = daily.withColumn("rn",
      row_number().over(Window.orderBy(col("day"))))
    val n = daily.agg(
      count(lit(1)).as("n_days"),
      dsum(col("rev")).as("sx"),
      sum((col("rev") * col("rev")).cast("decimal(27,4)"))
        .cast("double").as("sxx"))
    val seg = ranked.crossJoin(broadcast(n))
      .withColumn("seg", floor(((col("rn") - 1) * 16).cast("double") /
        col("n_days")).cast("long"))
      .groupBy("seg")
      .agg(count(lit(1)).as("n_in_seg"),
        sum(col("rev").cast("decimal(18,2)")).cast("double").as("ssum"))
    seg.crossJoin(broadcast(n))
      .withColumn("mu", col("sx") / col("n_days"))
      .withColumn("sig", sqrt(col("sxx") / col("n_days") -
        col("mu") * col("mu")))
      .withColumn("paa", col("ssum") / col("n_in_seg"))
      .withColumn("z", (col("paa") - col("mu")) / col("sig"))
      .select(col("seg"), col("n_in_seg"),
        round(col("paa"), 6).as("paa6"),
        round(col("z"), 6).as("z6"),
        when(col("z") < -0.6745, "a").when(col("z") < 0.0, "b")
          .when(col("z") < 0.6745, "c").otherwise("d").as("sym"))
  }

  // ---- registry ------------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "rec1_item_cooc" -> (rec1ItemCooc _),
    "kcore1_kcore_peel" -> (kcore1KcorePeel _),
    "dd13_containment" -> (dd13Containment _),
    "t15_word_dedup" -> (t15WordDedup _),
    "msk1_token_mask" -> (msk1TokenMask _),
    "bs1_bootstrap_ci" -> (bs1BootstrapCi _),
    "dq1_constraints" -> (dq1Constraints _),
    "rl1_record_linkage" -> (rl1RecordLinkage _),
    "sax1_sax_symbols" -> (sax1SaxSymbols _))

  val oracles: Map[String, String] = Map(
    "rec1_item_cooc" ->
      """WITH d AS MATERIALIZED (
           SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
         sz AS (SELECT ok FROM d GROUP BY ok
                HAVING count(*) BETWEEN 2 AND 50),
         dd AS MATERIALIZED (SELECT d.* FROM d JOIN sz USING (ok)),
         pc AS (SELECT x.pk AS a, y.pk AS b, count(*) AS n_ab
                FROM dd x JOIN dd y ON x.ok = y.ok AND x.pk < y.pk
                GROUP BY 1, 2 HAVING count(*) >= 2),
         ic AS MATERIALIZED (SELECT pk, count(*) AS n FROM dd GROUP BY 1)
         SELECT a, b, CAST(n_ab AS BIGINT) AS n_ab,
                round(CAST(n_ab AS DOUBLE) /
                      sqrt(CAST(ia.n * ib.n AS DOUBLE)), 6) AS score6
         FROM pc JOIN ic ia ON pc.a = ia.pk
                 JOIN ic ib ON pc.b = ib.pk""",
    "kcore1_kcore_peel" ->
      """WITH d AS MATERIALIZED (
           SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
         sz AS (SELECT ok FROM d GROUP BY ok
                HAVING count(*) BETWEEN 2 AND 50),
         dd AS MATERIALIZED (SELECT d.* FROM d JOIN sz USING (ok)),
         e0 AS MATERIALIZED (
           SELECT x.pk AS a, y.pk AS b
           FROM dd x JOIN dd y ON x.ok = y.ok AND x.pk < y.pk
           GROUP BY 1, 2 HAVING count(*) >= 2),
         k1 AS MATERIALIZED (
           SELECT node FROM (
             SELECT a AS node FROM e0 UNION ALL SELECT b FROM e0)
           GROUP BY 1 HAVING count(*) >= 2),
         e1 AS MATERIALIZED (
           SELECT e0.* FROM e0
           JOIN k1 x ON e0.a = x.node JOIN k1 y ON e0.b = y.node),
         k2 AS MATERIALIZED (
           SELECT node FROM (
             SELECT a AS node FROM e1 UNION ALL SELECT b FROM e1)
           GROUP BY 1 HAVING count(*) >= 2),
         e2 AS MATERIALIZED (
           SELECT e1.* FROM e1
           JOIN k2 x ON e1.a = x.node JOIN k2 y ON e1.b = y.node),
         k3 AS MATERIALIZED (
           SELECT node FROM (
             SELECT a AS node FROM e2 UNION ALL SELECT b FROM e2)
           GROUP BY 1 HAVING count(*) >= 2),
         e3 AS MATERIALIZED (
           SELECT e2.* FROM e2
           JOIN k3 x ON e2.a = x.node JOIN k3 y ON e2.b = y.node)
         SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
           SELECT a AS node FROM e3 UNION ALL SELECT b FROM e3)
         GROUP BY 1""",
    "dd13_containment" ->
      """WITH tok AS (SELECT doc_id,
             regexp_split_to_array(lower(trim(text)), '\s+') AS ts
           FROM documents),
         sh AS (SELECT doc_id, CASE WHEN len(ts) >= 3
             THEN list_transform(range(1, len(ts) - 1),
                    i -> array_to_string(
                           ts[CAST(i AS INT):CAST(i + 2 AS INT)], ' '))
             ELSE [array_to_string(ts, ' ')] END AS shs
           FROM tok),
         g AS MATERIALIZED (
           SELECT DISTINCT doc_id, unnest(shs) AS gram FROM sh),
         sizes AS (SELECT doc_id, count(*) AS n_grams FROM g GROUP BY 1),
         tot AS (SELECT count(*) AS n_docs FROM documents),
         kept AS MATERIALIZED (
           SELECT gram FROM g, tot GROUP BY gram, n_docs
           HAVING CAST(count(*) AS DOUBLE) <= n_docs * 0.05),
         p AS MATERIALIZED (SELECT g.* FROM g JOIN kept USING (gram)),
         inter AS (
           SELECT x.doc_id AS id_a, y.doc_id AS id_b, count(*) AS n_inter
           FROM p x JOIN p y ON x.gram = y.gram AND x.doc_id <> y.doc_id
           GROUP BY 1, 2)
         SELECT id_a, id_b, CAST(n_inter AS BIGINT) AS n_inter,
                CAST(n_grams AS BIGINT) AS n_a,
                round(CAST(n_inter AS DOUBLE) / n_grams, 6) AS containment6
         FROM inter JOIN sizes ON inter.id_a = sizes.doc_id
         WHERE n_grams >= 10
           AND round(CAST(n_inter AS DOUBLE) / n_grams, 6) >= 0.8""",
    "t15_word_dedup" ->
      """WITH s AS MATERIALIZED (
           SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         e AS (SELECT doc_id, toks[i] AS tok, i
               FROM s, LATERAL (SELECT unnest(
                 generate_series(1, len(toks))) AS i) g),
         f AS (SELECT doc_id, tok, min(i) AS mi FROM e GROUP BY 1, 2),
         agg AS (SELECT doc_id,
                        string_agg(tok, ' ' ORDER BY mi) AS cleaned,
                        count(*) AS nd
                 FROM f GROUP BY 1)
         SELECT s.doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
                CAST(nd AS BIGINT) AS n_distinct, cleaned,
                round(1.0 - CAST(nd AS DOUBLE) / len(toks), 6)
                  AS dup_ratio6
         FROM s JOIN agg USING (doc_id)""",
    "msk1_token_mask" ->
      """WITH s AS MATERIALIZED (
           SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         e AS (SELECT doc_id, i, len(toks) AS n,
                      CASE WHEN ((doc_id * 131 + (i - 1)) * 2654435761
                                 % 4294967296) % 100 < 15
                        THEN '<mask>' ELSE toks[i] END AS tok
               FROM s, LATERAL (SELECT unnest(
                 generate_series(1, len(toks))) AS i) g)
         SELECT doc_id, CAST(max(n) AS BIGINT) AS n_tokens,
                CAST(count(*) FILTER (tok = '<mask>') AS BIGINT)
                  AS n_masked,
                string_agg(tok, ' ' ORDER BY i) AS masked_text
         FROM e GROUP BY doc_id""",
    "bs1_bootstrap_ci" ->
      """WITH reps AS (SELECT unnest(generate_series(0, 31)) AS b),
         w AS (SELECT o_totalprice, b,
                      ((o_orderkey * 37 + b) * 2654435761
                       % 4294967296) % 1000000 AS u
               FROM orders, reps),
         wt AS (SELECT o_totalprice, b,
                       CASE WHEN u < 367879 THEN 0 WHEN u < 735759 THEN 1
                            WHEN u < 919699 THEN 2 WHEN u < 981012 THEN 3
                            WHEN u < 996340 THEN 4 ELSE 5 END AS w
                FROM w),
         rep AS (SELECT b,
                        CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)) * w)
                             AS DOUBLE) /
                        CAST(CAST(sum(w) AS BIGINT) AS DOUBLE) AS m
                 FROM wt GROUP BY b),
         lst AS (SELECT list_sort(list(m)) AS ms FROM rep),
         base AS (SELECT CAST(count(*) AS BIGINT) AS n,
                         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                              AS DOUBLE) / count(*) AS fm
                  FROM orders)
         SELECT n, round(fm, 6) AS mean6,
                round(ms[2], 6) AS ci_lo6, round(ms[31], 6) AS ci_hi6
         FROM base, lst""",
    "dq1_constraints" ->
      """WITH oagg AS (SELECT count(*) AS n,
                  count(o_custkey) AS nn_cust,
                  count(DISTINCT o_orderkey) AS nd_ok,
                  count(*) FILTER (o_orderstatus IN ('F','O','P')) AS dom_st
           FROM orders),
         liagg AS (SELECT count(*) AS n,
                  count(*) FILTER (l_quantity BETWEEN 1 AND 50) AS in_range
           FROM lineitem),
         ri AS (SELECT count(*) AS m FROM lineitem
                WHERE l_orderkey IN (SELECT o_orderkey FROM orders))
         SELECT 'completeness:o_custkey' AS constraint,
                round(CAST(nn_cust AS DOUBLE) / n, 6) AS metric6,
                CAST(nn_cust = n AS INT) AS passed FROM oagg
         UNION ALL
         SELECT 'uniqueness:o_orderkey',
                round(CAST(nd_ok AS DOUBLE) / n, 6),
                CAST(nd_ok = n AS INT) FROM oagg
         UNION ALL
         SELECT 'domain:o_orderstatus',
                round(CAST(dom_st AS DOUBLE) / n, 6),
                CAST(dom_st = n AS INT) FROM oagg
         UNION ALL
         SELECT 'size:orders', CAST(n AS DOUBLE),
                CAST(n >= 1 AS INT) FROM oagg
         UNION ALL
         SELECT 'range:l_quantity[1,50]',
                round(CAST(in_range AS DOUBLE) / n, 6),
                CAST(in_range = n AS INT) FROM liagg
         UNION ALL
         SELECT 'ri:l_orderkey->orders',
                round(CAST(m AS DOUBLE) / n, 6),
                CAST(m = n AS INT) FROM ri, liagg""",
    "rl1_record_linkage" ->
      """WITH p AS (SELECT p_partkey, p_name,
                  string_split(p_name, ' ')[1] AS blk FROM part),
         cand AS (
           SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
                  round(jaro_winkler_similarity(a.p_name, b.p_name), 6)
                    AS jw6
           FROM p a JOIN p b
             ON a.blk = b.blk
            AND a.p_partkey % 2 = 1 AND b.p_partkey % 2 = 0),
         rk AS (SELECT *, row_number() OVER (
                  PARTITION BY key_a ORDER BY jw6 DESC, key_b) AS rn
                FROM cand),
         best AS (SELECT key_a, key_b AS best_key, jw6 AS best6
                  FROM rk WHERE rn = 1),
         sec AS (SELECT key_a, jw6 AS second6 FROM rk WHERE rn = 2)
         SELECT best.key_a, best_key, best6,
                round(best6 - coalesce(second6, 0.0), 6) AS margin6,
                CAST(best6 >= 0.95
                     AND best6 - coalesce(second6, 0.0) >= 0.01
                     AS INT) AS accepted
         FROM best LEFT JOIN sec USING (key_a)""",
    "sax1_sax_symbols" ->
      """WITH daily AS MATERIALIZED (
           SELECT CAST(ts AS DATE) AS day,
                  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS rev
           FROM events GROUP BY 1),
         ranked AS (SELECT rev,
                  row_number() OVER (ORDER BY day) AS rn FROM daily),
         n AS (SELECT count(*) AS n_days,
                  CAST(sum(CAST(rev AS DECIMAL(18,2))) AS DOUBLE) AS sx,
                  CAST(sum(CAST(rev * rev AS DECIMAL(27,4))) AS DOUBLE)
                    AS sxx
               FROM daily),
         seg AS (SELECT CAST(FLOOR(CAST((rn - 1) * 16 AS DOUBLE) / n_days)
                    AS BIGINT) AS seg,
                  count(*) AS n_in_seg,
                  CAST(sum(CAST(rev AS DECIMAL(18,2))) AS DOUBLE) AS ssum
                 FROM ranked, n GROUP BY 1),
         st AS (SELECT seg, n_in_seg, ssum,
                       sx / n_days AS mu,
                       sqrt(sxx / n_days - (sx / n_days) * (sx / n_days))
                         AS sig,
                       ssum / n_in_seg AS paa
                FROM seg, n)
         SELECT seg, CAST(n_in_seg AS BIGINT) AS n_in_seg,
                round(paa, 6) AS paa6,
                round((paa - mu) / sig, 6) AS z6,
                CASE WHEN (paa - mu) / sig < -0.6745 THEN 'a'
                     WHEN (paa - mu) / sig < 0.0 THEN 'b'
                     WHEN (paa - mu) / sig < 0.6745 THEN 'c'
                     ELSE 'd' END AS sym
         FROM st""")
}
