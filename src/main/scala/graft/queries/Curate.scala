package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ops.GlobalRank

/** Corpus-curation batch: sorted-neighborhood dedup (the classic
  * blocking-window record-linkage method the dedup family was
  * missing), temperature-based data-mixture weighting (the mT5/Pile
  * recipe for balancing domains in a training corpus), and a
  * distributed logistic-regression document classifier trained
  * in-plan by Newton-IRLS over sufficient statistics (the trainable
  * quality-filter component of an LLM data pipeline).
  */
object Curate extends QueryModule {

  // ---- snm1: sorted-neighborhood near-dup pairs ----------------------

  /** Sorted-neighborhood pairs over `docs`: normalize, sort the corpus
    * by a `bkLen`-char blocking prefix (doc_id tiebreak), and compare
    * each doc against its next `w` neighbors in sorted order with
    * Spark's banded `levenshtein(a, b, k)` (exact when <= k, −1 above
    * — O(k·min) per pair).
    *
    * Scale shape: the global sort rank comes from
    * [[GlobalRank.prefixScan]] (range-repartition + per-partition
    * local sorts + a partition-count driver scan), NEVER a
    * single-task `Window.orderBy`. The window-of-w candidate join is
    * an EQUI-join — each row explodes into `w` slim (rank+off, id,
    * text) probes joined on the target rank — so the shuffle is w×
    * a slim projection; the naive `b.r BETWEEN a.r+1 AND a.r+w`
    * range predicate would fall off the equi-join path entirely
    * (BroadcastNestedLoop) at scale. Candidate count is exactly
    * w·(n - (w+1)/2): linear in the corpus BY CONSTRUCTION — the
    * property that makes sorted-neighborhood the fixed-budget
    * complement of dd7's threshold-driven prefix filter.
    */
  def snmPairs(docs: DataFrame, w: Int, k: Int, bkLen: Int): DataFrame = {
    val t = docs.select(col("doc_id"), lower(trim(col("text"))).as("s"))
      .withColumn("bk", substring(col("s"), 1, bkLen))
    val ranked = GlobalRank.prefixScan(t,
        Seq(col("bk"), col("doc_id")), Nil, Some("r"))
      .select(col("doc_id"), col("s"), col("r"))
    val probes = ranked.select(col("doc_id").as("id_a"),
        col("s").as("sa"), col("r"),
        explode(array((1 to w).map(lit): _*)).as("off"))
      .withColumn("tr", col("r") + col("off")).drop("r", "off")
    probes
      .join(ranked.select(col("doc_id").as("id_b"), col("s").as("sb"),
        col("r").as("tr")), Seq("tr"))
      .select(col("id_a"), col("id_b"),
        levenshtein(col("sa"), col("sb"), k).as("lev"))
      .filter(col("lev") >= 0)
  }

  /** snm1: sorted-neighborhood near-dup pairs on the documents table
    * (24-char blocking prefix, window 4, edit-distance cut 20).
    * DuckDB's plain `levenshtein` is a valid oracle for the banded
    * expression: values <= k agree exactly.
    */
  def snm1SortedNeighborhood(s: SparkSession, d: String): DataFrame =
    snmPairs(Tables.documents(s, d), w = 4, k = 20, bkLen = 24)

  // ---- mix1: temperature-sampled mixture weights ---------------------

  /** mix1: per-language token counts -> temperature-flattened
    * sampling weights (alpha = 1/2: weight ∝ sqrt(share), the mT5
    * domain-balancing recipe — sqrt is IEEE-correctly-rounded, so the
    * flattening is bit-identical cross-engine with no polynomial
    * discipline). Normalizer = DECIMAL sum of the 9-dp raw weights
    * (order-free); everything downstream is per-row arithmetic on
    * identical doubles. One aggregate over the corpus + two
    * broadcast-scalar joins — the group domain is bounded by the
    * language catalog.
    */
  def mix1MixtureWeights(s: SparkSession, d: String): DataFrame = {
    val la = Tables.documents(s, d)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(trim(col("text")), "\\s+")).cast("long"))
          .as("tokens"))
    val tot = la.agg(sum(col("tokens")).as("total"))
    val shared = la.crossJoin(broadcast(tot))
      .withColumn("share",
        col("tokens").cast("double") / col("total").cast("double"))
      .withColumn("wr9", round(sqrt(col("share")), 9))
    val norm = shared.agg(
      sum(col("wr9").cast("decimal(28,9)")).cast("double").as("sw"))
    shared.crossJoin(broadcast(norm))
      .withColumn("weight9", round(col("wr9") / col("sw"), 9))
      .select(col("lang"), col("n_docs"), col("tokens"),
        round(col("share"), 6).as("share6"), col("weight9"),
        round(col("weight9") / col("share"), 6).as("boost6"),
        round(col("weight9") * col("total").cast("double"), 0)
          .cast("long").as("expected_tokens"))
  }

  // ---- lrq1: logistic-regression classifier via Newton-IRLS ----------

  /** Distributed linear-classifier trainer: 3 IRLS rounds over
    * `feat` (columns y, f1, f2 — label and two 6-dp features), each
    * round ONE aggregate producing the 9 sufficient statistics
    * (X'WX upper triangle + X'(y-p)), solved 3×3 by Cramer on the
    * driver-free broadcast row. Returns one row: (n, b0, b1, b2)
    * with 9-dp betas.
    *
    * Bilinear terms run in the EXACT DECIMAL domain: the 9-dp link
    * outputs and 6-dp features cast losslessly to decimals (the
    * doubles sit ~1e-16 from their decimal grid points — no cast
    * ambiguity), products and sums are then exact integer
    * arithmetic, and the one rescale back to 9 dp is decimal
    * HALF_UP — deterministic in BOTH engines by definition. A
    * `round(double, 6)` term discipline is NOT enough here: round 1
    * starts at beta = 0, so wt = 0.25 and y-p = ±0.5 exactly, and
    * the term products land exactly on decimal halves, where
    * DuckDB's multiply-then-round and the JVM's exact-decimal
    * HALF_UP disagree on ~1% of values (measured) — hub1 never hits
    * this because its weights come from divisions that almost never
    * sit on the grid.
    *
    * Link function: the SOFT-SIGN squash p = 1/2 + eta/(2(1+|eta|)),
    * not exp-sigmoid — deliberately. Java's `Math.exp` and C libm's
    * `exp` disagree by 1 ulp on ~0.3% of inputs (measured), and an
    * iterated trainer amplifies those flips straight through the
    * 9-dp gate; the soft-sign link uses only IEEE
    * correctly-rounded ops (+, *, /, abs), so both engines compute
    * IDENTICAL doubles before every requantization. Same sign, same
    * 1/2-at-zero decision boundary, same monotonicity; a production
    * pipeline that doesn't need cross-engine bit-equality swaps
    * `exp` back in without touching the plan.
    *
    * Scale shape: per round the whole corpus reduces to ONE 13-number
    * row — the map-side-combined aggregate is the entire shuffle; no
    * per-row state, no driver collect of anything row-scaling. The
    * caller stages the feature frame once (here: eager
    * localCheckpoint).
    */
  def logisticTrain(feat: DataFrame, rounds: Int = 3): DataFrame = {
    val spark = feat.sparkSession
    import spark.implicits._
    var params = Seq((0.0, 0.0, 0.0)).toDF("b0", "b1", "b2")
      .select(round(col("b0"), 9).as("b0"), round(col("b1"), 9).as("b1"),
        round(col("b2"), 9).as("b2"))
    def dec9(c: org.apache.spark.sql.Column) =
      sum(c).cast("decimal(28,9)").cast("double")
    for (_ <- 1 to rounds) {
      val scored = feat.crossJoin(broadcast(params))
        .withColumn("eta",
          round(col("b0") + col("f1") * col("b1") + col("f2") * col("b2"), 9))
        .withColumn("p", round(lit(0.5) +
          lit(0.5) * col("eta") / (lit(1.0) + abs(col("eta"))), 9))
        .withColumn("wtD",
          round(col("p") * (lit(1.0) - col("p")), 9).cast("decimal(12,9)"))
        .withColumn("rD", col("y").cast("decimal(12,9)") -
          col("p").cast("decimal(12,9)"))
        .withColumn("f1D", col("f1").cast("decimal(9,6)"))
        .withColumn("f2D", col("f2").cast("decimal(9,6)"))
      val stats = scored.groupBy(col("b0"), col("b1"), col("b2"))
        .agg(count(lit(1)).as("n"),
          dec9(col("wtD")).as("h11"),
          dec9(col("wtD") * col("f1D")).as("h12"),
          dec9(col("wtD") * col("f2D")).as("h13"),
          dec9(col("wtD") * col("f1D") * col("f1D")).as("h22"),
          dec9(col("wtD") * col("f1D") * col("f2D")).as("h23"),
          dec9(col("wtD") * col("f2D") * col("f2D")).as("h33"),
          dec9(col("rD")).as("g1"),
          dec9(col("rD") * col("f1D")).as("g2"),
          dec9(col("rD") * col("f2D")).as("g3"))
      // Cramer's rule on the symmetric 3×3 normal system H·d = g;
      // the SQL dual composes the IDENTICAL expression trees.
      val det = col("h11") * (col("h22") * col("h33") - col("h23") * col("h23")) -
        col("h12") * (col("h12") * col("h33") - col("h23") * col("h13")) +
        col("h13") * (col("h12") * col("h23") - col("h22") * col("h13"))
      val d0 = col("g1") * (col("h22") * col("h33") - col("h23") * col("h23")) -
        col("h12") * (col("g2") * col("h33") - col("h23") * col("g3")) +
        col("h13") * (col("g2") * col("h23") - col("h22") * col("g3"))
      val d1 = col("h11") * (col("g2") * col("h33") - col("h23") * col("g3")) -
        col("g1") * (col("h12") * col("h33") - col("h23") * col("h13")) +
        col("h13") * (col("h12") * col("g3") - col("g2") * col("h13"))
      val d2 = col("h11") * (col("h22") * col("g3") - col("g2") * col("h23")) -
        col("h12") * (col("h12") * col("g3") - col("g2") * col("h13")) +
        col("g1") * (col("h12") * col("h23") - col("h22") * col("h13"))
      params = stats.select(col("n"),
        round(col("b0") + round(d0 / det, 9), 9).as("b0"),
        round(col("b1") + round(d1 / det, 9), 9).as("b1"),
        round(col("b2") + round(d2 / det, 9), 9).as("b2"))
        .select(col("n"), col("b0"), col("b1"), col("b2"))
    }
    params
  }

  /** Per-doc features for lrq1: y = (lang = 'en'), f1 = mean word
    * length, f2 = distinct-word ratio — both 6-dp rounded so every
    * downstream product starts from identical doubles.
    */
  def docFeatures(docs: DataFrame): DataFrame =
    docs.select(
      when(col("lang") === "en", 1.0).otherwise(0.0).as("y"),
      round(length(regexp_replace(trim(col("text")), "\\s", ""))
          .cast("double") /
        size(split(trim(col("text")), "\\s+")), 6).as("f1"),
      round(size(array_distinct(split(trim(col("text")), "\\s+")))
          .cast("double") /
        size(split(trim(col("text")), "\\s+")), 6).as("f2"))

  /** lrq1: train the English-document classifier on the corpus, then
    * score it in the same plan — output one row with the 6-dp betas
    * and training accuracy at the eta >= 0 decision boundary (no
    * sigmoid needed to threshold at 1/2, so scoring is exp-free).
    * On this synthetic corpus all languages share one vocabulary, so
    * accuracy ~ the majority share — the CONTRACT here is the
    * bit-exact distributed trainer (CurateSpec proves it separates a
    * separable plant); the features are the point where a real
    * pipeline swaps in richer signals.
    */
  def lrq1LogisticQuality(s: SparkSession, d: String): DataFrame = {
    val feat = docFeatures(Tables.documents(s, d)).localCheckpoint(true)
    val params = logisticTrain(feat, rounds = 3)
    feat.crossJoin(broadcast(params))
      .withColumn("pred",
        when(col("b0") + col("f1") * col("b1") + col("f2") * col("b2") >= 0,
          1.0).otherwise(0.0))
      .groupBy(col("n"), col("b0"), col("b1"), col("b2"))
      .agg(sum(when(col("pred") === col("y"), 1L).otherwise(0L))
        .as("n_correct"))
      .select(col("n"),
        round(col("b0"), 6).as("b0_6"), round(col("b1"), 6).as("b1_6"),
        round(col("b2"), 6).as("b2_6"), col("n_correct"),
        round(col("n_correct").cast("double") / col("n").cast("double"), 6)
          .as("acc6"))
  }

  // ---- mix4: UniMax epoch-capped waterfilling --------------------------

  /** mix4: UniMax budget allocation (the epoch-capped waterfilling
    * recipe for multilingual corpora): given a total token budget
    * B = 4/5 of the corpus and a repeat ceiling of E = 1 epoch, each
    * language contributes at most cap = E·tokens; the budget
    * waterfills — languages whose cap sits below the uniform share of
    * the remaining budget are capped at it, the rest split what is
    * left evenly. The point vs mix1/mix3's temperature flattening:
    * no language is ever upsampled past E epochs, so low-resource
    * languages cannot be memorization-repeated to meet a weight.
    *
    * Everything is INTEGER arithmetic (thresholds by integer
    * division), so the fixed point is exact in both engines; the
    * oracle unrolls the ≤|langs| waterfilling rounds as CTEs (the
    * IRLS/kc unroll pattern) and the Spark side runs the identical
    * loop on the collected language table — a BOUNDED collect
    * (language catalog), the kc1 "driver holds only k rows" shape;
    * the one row-scaling job is the token-count aggregate.
    */
  /** The pure waterfilling kernel, factored out of [[mix4Unimax]] for
    * direct testability: iterates to the FIXED POINT, not a fixed
    * round count — each productive round caps >= 1 language, so
    * convergence takes at most |langs| rounds. A fixed rounds=6 loop
    * silently left should-be-capped languages uncapped on catalogs
    * needing more binding rounds (a 10-round cascade exists with 11
    * languages — CurateSpec), violating the no-upsampling invariant
    * in a way the identically-unrolled oracle could not detect.
    * Returns (lang, tokens, cap, is_capped, allocated) rows in
    * catalog order.
    */
  private[graft] def unimaxAlloc(la: Seq[(String, Long)], epochs: Int,
      budgetNum: Int, budgetDen: Int): Seq[(String, Long, Long, Boolean, Long)] = {
    val budget = la.map(_._2).sum * budgetNum / budgetDen
    val cap = la.map { case (l, t) => l -> epochs * t }.toMap
    var capped = Set.empty[String]
    var converged = false
    var iter = 0
    while (!converged && iter <= la.length) {
      val remaining = budget - capped.toSeq.map(cap).sum
      val nu = la.length - capped.size
      val next =
        if (nu > 0) {
          val t = remaining / nu
          capped ++ la.iterator.map(_._1)
            .filterNot(capped).filter(l => cap(l) <= t)
        } else capped
      converged = next == capped
      capped = next
      iter += 1
    }
    // convergence is guaranteed within |langs|+1 rounds; assert it so
    // a logic change that breaks the bound fails loudly, never silently
    assert(converged,
      s"unimax waterfilling did not converge in $iter rounds " +
        s"(${la.length} languages)")
    val remaining = budget - capped.toSeq.map(cap).sum
    val nu = la.length - capped.size
    val share = if (nu == 0) 0L else remaining / nu
    la.map { case (l, t) =>
      val isCapped = capped(l)
      (l, t, cap(l), isCapped, if (isCapped) cap(l) else share)
    }
  }

  def mix4Unimax(s: SparkSession, d: String, epochs: Int = 1,
      budgetNum: Int = 4, budgetDen: Int = 5): DataFrame =
    mix4UnimaxOn(Tables.documents(s, d), epochs, budgetNum, budgetDen)

  private[graft] def mix4UnimaxOn(docs: DataFrame, epochs: Int = 1,
      budgetNum: Int = 4, budgetDen: Int = 5): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val la = docs
      .groupBy(col("lang"))
      .agg(sum(size(split(trim(col("text")), "\\s+")).cast("long"))
        .as("tokens"))
      .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
    // B = 4/5 of the corpus at E = 1: on this corpus's 40/15/15/15/15
    // language split the minority languages cap at their single epoch
    // and the majority takes the waterline — both waterfilling
    // branches exercised (a binding flip on a future vintage changes
    // VALUES identically in both engines, never the gate)
    unimaxAlloc(la.toSeq, epochs, budgetNum, budgetDen)
      .toDF("lang", "tokens", "cap", "is_capped", "allocated")
      .select(col("lang"), col("tokens"), col("cap"), col("is_capped"),
        col("allocated"),
        round(col("allocated").cast("double") /
          col("tokens").cast("double"), 6)
          .cast("decimal(18,6)").cast("double").as("epochs6"))
  }

  /** Oracle unroll depth for the mix4 dual. Rounds past the fixed
    * point are no-ops (once no language sits at or below the
    * threshold, the capped set is stable), so the dual is EXACT for
    * any catalog of <= this many languages; the Scala side iterates
    * to the true fixed point regardless. Testdata carries 5
    * languages; 12 leaves headroom without measurable oracle cost.
    */
  private val UnimaxOracleRounds = 12

  /** One waterfilling round of the mix4 SQL dual: threshold =
    * remaining integer-div uncapped-count; languages at or below it
    * join the capped set.
    */
  private def unimaxRound(prev: String, i: Int): String =
    s"""s$i AS (SELECT b.b - COALESCE(sum(cap) FILTER (capped), 0)
                  AS remaining,
                count(*) FILTER (NOT capped) AS nu
         FROM $prev CROSS JOIN b GROUP BY b.b),
       r$i AS (SELECT lang, tokens, cap,
                capped OR (nu > 0 AND cap <= remaining // nu) AS capped
              FROM $prev CROSS JOIN s$i)"""

  // ---- blk1: blocklist phrase filter (Aho–Corasick) -------------------

  /** The curation blocklist: fixed multi-word phrases over the corpus
    * vocabulary, chosen to exercise the automaton's structure —
    * nested phrases ("table scan" inside "big table scan",
    * "stream window" inside "customer stream window": matching the
    * long one must also report the short one via the merged output
    * chain), shared prefixes ("scan query"/"scan query big"), and one
    * phrase that never occurs. Mirrored literally in the DuckDB
    * oracle.
    */
  val BlocklistPhrases: Seq[String] = Seq(
    "table scan", "big table scan", "scan query", "scan query big",
    "slow query", "hash join", "sort merge", "stream window",
    "customer stream window", "slow scan", "fast key", "merge batch",
    "window spark", "data column agg", "value a table", "llama weights")

  /** blk1: per-document blocklist hits — the C4-style banned-phrase
    * corpus filter. One [[graft.functions.PhraseMatch]] Aho–Corasick
    * pass per document (O(len + matches) regardless of blocklist
    * size, vs O(P·len) for per-phrase `contains`), reporting the
    * distinct matched phrases in list order; documents with no hits
    * drop out (the keep-set is the complement).
    *
    * Scale shape: the automaton is compiled once on the driver and
    * rides inside the expression — a map-only corpus scan, no
    * shuffle, no join; the only post-scan work is the row filter.
    * The group-free plan survives any corpus size unchanged.
    */
  def blk1BlocklistHits(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        graft.functions.PhraseMatch
          .phrase_matches(col("text"), BlocklistPhrases).as("m"))
      .filter(size(col("m")) > 0)
      .select(col("doc_id"), size(col("m")).as("n_hits"),
        array_join(col("m"), ",").as("hits_csv"))

  // ---- pipe7: blocklist -> span-excise -> floor -> packing report ----

  /** pipe7: the curation slice that composes this round's cleanup
    * stages end-to-end — the blocklist GATE (drop any document
    * matching a [[BlocklistPhrases]] phrase, blk1's complement), then
    * duplicate-span EXCISION over the survivors
    * ([[graft.dedup.Dedup.spanExciseClean]] — note the dedup domain is
    * the FILTERED corpus, so span statistics differ from standalone
    * dd27: true composition, not a union of pieces), then a minimum
    * retained-length floor (>= 20 surviving words — excision can gut a
    * boilerplate doc), and finally the per-language packing report a
    * shard-writer consumes (docs/tokens out, 2048-token shard count by
    * exact integer ceiling).
    *
    * Scale shape: one map-only blocklist scan (zero Exchange), the
    * survivors checkpointed once (the excision chain references them
    * three times), dd27's two linear token
    * shuffles, then two bounded per-language aggregates joined on the
    * 5-row language domain. Nothing pairwise, nothing windowed.
    */
  def pipe7BlocklistCurate(s: SparkSession, d: String): DataFrame =
    pipe7BlocklistCurateOn(Tables.documents(s, d))

  private[graft] def pipe7BlocklistCurateOn(docs: DataFrame): DataFrame = {
    // checkpointed BEFORE it forks: inStats and the kept filter both
    // consume the blocked flag, and the AC scan is the cost this stage
    // exists to pay once — otherwise each branch would re-scan the
    // corpus
    val flagged = docs.select(col("doc_id"), col("lang"), col("text"),
        (size(graft.functions.PhraseMatch.phrase_matches(col("text"),
          BlocklistPhrases)) > 0).as("blocked"))
      .localCheckpoint(true)
    val inStats = flagged.groupBy(col("lang")).agg(
      count(lit(1)).as("n_docs_in"),
      count(when(col("blocked"), 1)).as("n_blocked"))
    val kept = flagged.filter(!col("blocked"))
      .select(col("doc_id"), col("lang"), col("text"),
        size(split(lower(trim(col("text"))), "\\s+")).as("nw"))
      .localCheckpoint(true)
    val cleaned = graft.dedup.Dedup
      .spanExciseClean(kept, "doc_id", "text", k = 8)
      .withColumnRenamed("id", "doc_id")
    val out = cleaned
      .join(kept.select(col("doc_id"), col("lang"), col("nw")),
        Seq("doc_id"))
      .withColumn("n_tok", col("nw") - col("n_removed"))
      .filter(col("n_tok") >= 20)
    val outStats = out.groupBy(col("lang")).agg(
      count(lit(1)).as("n_docs_out"),
      sum(col("n_tok").cast("long")).as("tokens_out"),
      sum(col("n_removed").cast("long")).as("words_removed"))
    inStats.join(outStats, Seq("lang"), "left")
      .na.fill(0L, Seq("n_docs_out", "tokens_out", "words_removed"))
      // exact integer ceiling — no float division to disagree on
      .withColumn("n_shards",
        expr("CAST((tokens_out + 2047) div 2048 AS INT)"))
  }

  // ---- registry ------------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "snm1_sorted_neighborhood" -> (snm1SortedNeighborhood _),
    "mix1_mixture_weights" -> (mix1MixtureWeights _),
    "mix4_unimax" -> ((s: SparkSession, d: String) => mix4Unimax(s, d)),
    "lrq1_logistic_quality" -> (lrq1LogisticQuality _),
    "blk1_blocklist_hits" -> (blk1BlocklistHits _),
    "pipe7_blocklist_curate" -> ((s: SparkSession, d: String) =>
      pipe7BlocklistCurate(s, d)))

  /** One Newton round of the lrq1 SQL dual: p$prev -> s$i -> p$i,
    * composing the exact expression trees of [[logisticTrain]].
    */
  private def newtonRound(prev: String, i: Int): String =
    s"""s$i AS MATERIALIZED (
         SELECT CAST(count(*) AS BIGINT) AS n,
                CAST(CAST(sum(wtD) AS DECIMAL(28,9)) AS DOUBLE) AS h11,
                CAST(CAST(sum(wtD * f1D) AS DECIMAL(28,9)) AS DOUBLE) AS h12,
                CAST(CAST(sum(wtD * f2D) AS DECIMAL(28,9)) AS DOUBLE) AS h13,
                CAST(CAST(sum(wtD * f1D * f1D) AS DECIMAL(28,9)) AS DOUBLE) AS h22,
                CAST(CAST(sum(wtD * f1D * f2D) AS DECIMAL(28,9)) AS DOUBLE) AS h23,
                CAST(CAST(sum(wtD * f2D * f2D) AS DECIMAL(28,9)) AS DOUBLE) AS h33,
                CAST(CAST(sum(rD) AS DECIMAL(28,9)) AS DOUBLE) AS g1,
                CAST(CAST(sum(rD * f1D) AS DECIMAL(28,9)) AS DOUBLE) AS g2,
                CAST(CAST(sum(rD * f2D) AS DECIMAL(28,9)) AS DOUBLE) AS g3,
                any_value(b0) AS b0, any_value(b1) AS b1, any_value(b2) AS b2
         FROM (
           SELECT *,
                  CAST(round(p * (1.0 - p), 9) AS DECIMAL(12,9)) AS wtD,
                  CAST(y AS DECIMAL(12,9)) - CAST(p AS DECIMAL(12,9)) AS rD,
                  CAST(f1 AS DECIMAL(9,6)) AS f1D,
                  CAST(f2 AS DECIMAL(9,6)) AS f2D
           FROM (SELECT *, round(0.5 + 0.5 * eta / (1.0 + abs(eta)), 9) AS p
                 FROM (SELECT f0.*, b0, b1, b2,
                              round(b0 + f1 * b1 + f2 * b2, 9) AS eta
                       FROM feat f0 CROSS JOIN $prev p0))) t),
       p$i AS (
         SELECT n,
                round(b0 + round((g1*(h22*h33-h23*h23) - h12*(g2*h33-h23*g3) + h13*(g2*h23-h22*g3))
                  / (h11*(h22*h33-h23*h23) - h12*(h12*h33-h23*h13) + h13*(h12*h23-h22*h13)), 9), 9) AS b0,
                round(b1 + round((h11*(g2*h33-h23*g3) - g1*(h12*h33-h23*h13) + h13*(h12*g3-g2*h13))
                  / (h11*(h22*h33-h23*h23) - h12*(h12*h33-h23*h13) + h13*(h12*h23-h22*h13)), 9), 9) AS b1,
                round(b2 + round((h11*(h22*g3-g2*h23) - h12*(h12*g3-g2*h13) + g1*(h12*h23-h22*h13))
                  / (h11*(h22*h33-h23*h23) - h12*(h12*h33-h23*h13) + h13*(h12*h23-h22*h13)), 9), 9) AS b2
         FROM s$i)"""

  /** blk1's dual: one `position()` probe per (doc, phrase) — the
    * naive O(P·len) form the automaton replaces; same matched set by
    * construction (exact substring semantics both sides), phrase-list
    * order via the idx sort key.
    */
  /** SQL-literal form of a phrase (single quotes doubled): the
    * blocklist is a public val real users extend, and "don't share"
    * must become a semantic diff, not a DuckDB parse error.
    */
  private def sqlQuote(p: String): String = "'" + p.replace("'", "''") + "'"

  private val blk1Oracle: String = {
    val values = BlocklistPhrases.zipWithIndex
      .map { case (p, i) => s"(${i + 1}, ${sqlQuote(p)})" }.mkString(", ")
    s"""WITH bl(idx, phrase) AS (
         SELECT * FROM (VALUES $values) t(idx, phrase)),
       h AS (SELECT d.doc_id, bl.idx, bl.phrase
             FROM documents d JOIN bl ON position(bl.phrase IN d.text) > 0)
       SELECT doc_id, CAST(count(*) AS INT) AS n_hits,
              string_agg(phrase, ',' ORDER BY idx) AS hits_csv
       FROM h GROUP BY doc_id"""
  }

  /** pipe7's dual: the blocklist gate as a correlated EXISTS over the
    * same phrase VALUES, dd27's excision chain re-rooted at the
    * SURVIVOR corpus (counts only — the report never needs the
    * reassembled text), the >= 20 floor, and the same exact-integer
    * shard ceiling.
    */
  private val pipe7Oracle: String = {
    val values = BlocklistPhrases.zipWithIndex
      .map { case (p, i) => s"(${i + 1}, ${sqlQuote(p)})" }.mkString(", ")
    s"""WITH bl(idx, phrase) AS (
         SELECT * FROM (VALUES $values) t(idx, phrase)),
       flag AS MATERIALIZED (
         SELECT doc_id, lang, text,
                EXISTS (SELECT 1 FROM bl
                        WHERE position(bl.phrase IN documents.text) > 0)
                  AS blocked
         FROM documents),
       ins AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs_in,
                      CAST(count(*) FILTER (blocked) AS BIGINT)
                        AS n_blocked
               FROM flag GROUP BY lang),
       n AS MATERIALIZED (
         SELECT doc_id, lang,
                regexp_split_to_array(lower(trim(text)), '\\s+') AS ts,
                len(regexp_split_to_array(lower(trim(text)), '\\s+')) AS nw
         FROM flag WHERE NOT blocked),
       sp AS MATERIALIZED (
         SELECT doc_id, unnest(range(0, nw - 7)) AS p, ts
         FROM n WHERE nw >= 8),
       sph AS MATERIALIZED (
         SELECT doc_id, p,
                sha256(array_to_string(
                  ts[CAST(p + 1 AS INT):CAST(p + 8 AS INT)], ' ')) AS h
         FROM sp),
       ex AS MATERIALIZED (
         SELECT doc_id, p FROM (
           SELECT doc_id, p,
                  count(*) OVER (PARTITION BY h) AS cnt,
                  row_number() OVER (PARTITION BY h
                    ORDER BY doc_id, p) AS rn
           FROM sph) WHERE cnt > 1 AND rn > 1),
       rm AS (SELECT doc_id, count(*) AS n_removed FROM (
                SELECT DISTINCT doc_id, pos FROM (
                  SELECT doc_id, unnest(range(p, p + 8)) AS pos FROM ex))
              GROUP BY doc_id),
       outdocs AS MATERIALIZED (
         SELECT n.lang, n.nw - COALESCE(rm.n_removed, 0) AS n_tok,
                COALESCE(rm.n_removed, 0) AS n_removed
         FROM n LEFT JOIN rm USING (doc_id)
         WHERE n.nw - COALESCE(rm.n_removed, 0) >= 20),
       outs AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs_out,
                       CAST(sum(n_tok) AS BIGINT) AS tokens_out,
                       CAST(sum(n_removed) AS BIGINT) AS words_removed
                FROM outdocs GROUP BY lang)
       SELECT ins.lang, n_docs_in, n_blocked,
              COALESCE(n_docs_out, 0) AS n_docs_out,
              COALESCE(tokens_out, 0) AS tokens_out,
              COALESCE(words_removed, 0) AS words_removed,
              CAST((COALESCE(tokens_out, 0) + 2047) // 2048 AS INT)
                AS n_shards
       FROM ins LEFT JOIN outs USING (lang)"""
  }

  val oracles: Map[String, String] = Map(
    "blk1_blocklist_hits" -> blk1Oracle,
    "pipe7_blocklist_curate" -> pipe7Oracle,
    "mix4_unimax" ->
      s"""WITH la AS MATERIALIZED (
           SELECT lang,
                  CAST(sum(length(regexp_split_to_array(trim(text), '\\s+')))
                    AS BIGINT) AS tokens
           FROM documents GROUP BY lang),
         b AS (SELECT CAST(sum(tokens) AS BIGINT) * 4 // 5 AS b FROM la),
         r0 AS (SELECT lang, tokens, 1 * tokens AS cap, FALSE AS capped
                FROM la),
         ${(1 to UnimaxOracleRounds)
             .map(i => unimaxRound(s"r${i - 1}", i)).mkString(",\n         ")},
         sf AS (SELECT b.b - COALESCE(sum(cap) FILTER (capped), 0)
                  AS remaining,
                count(*) FILTER (NOT capped) AS nu
              FROM r$UnimaxOracleRounds CROSS JOIN b GROUP BY b.b)
         SELECT lang, tokens, CAST(cap AS BIGINT) AS cap,
                capped AS is_capped,
                CAST(CASE WHEN capped THEN cap
                     WHEN nu = 0 THEN 0
                     ELSE remaining // nu END AS BIGINT) AS allocated,
                CAST(CAST(round(CAST(CASE WHEN capped THEN cap
                       WHEN nu = 0 THEN 0
                       ELSE remaining // nu END AS DOUBLE)
                     / CAST(tokens AS DOUBLE), 6)
                  AS DECIMAL(18,6)) AS DOUBLE) AS epochs6
         FROM r$UnimaxOracleRounds CROSS JOIN sf""",
    "snm1_sorted_neighborhood" ->
      """WITH t AS MATERIALIZED (
           SELECT doc_id, lower(trim(text)) AS s,
                  substr(lower(trim(text)), 1, 24) AS bk
           FROM documents),
         r AS MATERIALIZED (
           SELECT doc_id, s, row_number() OVER (ORDER BY bk, doc_id) AS r
           FROM t),
         pairs AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                  levenshtein(a.s, b.s) AS lev
           FROM r a JOIN r b ON b.r BETWEEN a.r + 1 AND a.r + 4)
         SELECT id_a, id_b, CAST(lev AS INT) AS lev
         FROM pairs WHERE lev <= 20""",
    "mix1_mixture_weights" ->
      """WITH la AS MATERIALIZED (
           SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
                  CAST(sum(length(regexp_split_to_array(trim(text), '\s+')))
                    AS BIGINT) AS tokens
           FROM documents GROUP BY lang),
         tot AS (SELECT CAST(sum(tokens) AS BIGINT) AS total FROM la),
         sh AS MATERIALIZED (
           SELECT la.*, total,
                  CAST(tokens AS DOUBLE) / CAST(total AS DOUBLE) AS share,
                  round(sqrt(CAST(tokens AS DOUBLE) / CAST(total AS DOUBLE)), 9)
                    AS wr9
           FROM la CROSS JOIN tot),
         norm AS (SELECT CAST(sum(CAST(wr9 AS DECIMAL(28,9))) AS DOUBLE)
                    AS sw FROM sh)
         SELECT lang, n_docs, tokens,
                round(share, 6) AS share6,
                round(wr9 / sw, 9) AS weight9,
                round(round(wr9 / sw, 9) / share, 6) AS boost6,
                CAST(round(round(wr9 / sw, 9) * CAST(total AS DOUBLE), 0)
                  AS BIGINT) AS expected_tokens
         FROM sh CROSS JOIN norm""",
    "lrq1_logistic_quality" ->
      s"""WITH feat AS MATERIALIZED (
           SELECT CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
                  round(CAST(length(regexp_replace(trim(text), '\\s', '', 'g')) AS DOUBLE)
                        / length(regexp_split_to_array(trim(text), '\\s+')), 6) AS f1,
                  round(CAST(length(list_distinct(regexp_split_to_array(trim(text), '\\s+'))) AS DOUBLE)
                        / length(regexp_split_to_array(trim(text), '\\s+')), 6) AS f2
           FROM documents),
         p0 AS (SELECT round(0.0, 9) AS b0, round(0.0, 9) AS b1,
                       round(0.0, 9) AS b2),
         ${newtonRound("p0", 1)},
         ${newtonRound("p1", 2)},
         ${newtonRound("p2", 3)}
         SELECT n,
                round(b0, 6) AS b0_6, round(b1, 6) AS b1_6,
                round(b2, 6) AS b2_6,
                CAST(sum(CASE WHEN (CASE WHEN b0 + f1 * b1 + f2 * b2 >= 0
                                         THEN 1.0 ELSE 0.0 END) = y
                              THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
                round(CAST(sum(CASE WHEN (CASE WHEN b0 + f1 * b1 + f2 * b2 >= 0
                                               THEN 1.0 ELSE 0.0 END) = y
                                    THEN 1 ELSE 0 END) AS DOUBLE)
                      / CAST(n AS DOUBLE), 6) AS acc6
         FROM feat CROSS JOIN p3
         GROUP BY n, b0, b1, b2""")
}
